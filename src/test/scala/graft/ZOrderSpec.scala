package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ZOrder, ZOrderLayout}

/** Proves the Z-order clustered layout does what it claims: after
  * [[ZOrderLayout.writeClustered]], each parquet file covers a compact
  * rectangle of the 2-D key space, so a range predicate on EITHER
  * dimension overlaps only a fraction of the files (file-level min/max
  * pruning — the same mechanism BusLayoutSpec proves for partition
  * columns, here for multi-dimensional clustering). */
class ZOrderSpec extends AnyFunSuite with SharedSession {

  test("interleave matches hand-computed Morton codes") {
    import spark.implicits._
    // x fills even z-bits, y odd: (3,5) -> x bits{0,1}->z{0,2}=5,
    // y bits{0,2}->z{1,5}=34 -> 39; (1023,1023) -> 2^20-1.
    val expected = Map(
      (0L, 0L) -> 0L, (1L, 0L) -> 1L, (0L, 1L) -> 2L, (1L, 1L) -> 3L,
      (3L, 5L) -> 39L, (1023L, 1023L) -> 1048575L)
    val got = expected.keys.toSeq.toDF("x", "y")
      .withColumn("z", ZOrder.interleave(col("x"), col("y")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("interleave expression agrees with a plain-Scala reference on random keys") {
    import spark.implicits._
    def ref(x: Long, y: Long): Long =
      (0 until ZOrder.Bits).foldLeft(0L) { (z, i) =>
        z | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(42)
    val keys = Seq.fill(500)((rnd.nextInt(1 << ZOrder.Bits).toLong,
                              rnd.nextInt(1 << ZOrder.Bits).toLong))
    val got = keys.toDF("x", "y")
      .withColumn("z", ZOrder.interleave(col("x"), col("y")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    keys.foreach { case (x, y) => assert(got((x, y)) === ref(x, y), s"($x,$y)") }
  }

  test("clustered write: every file is a bounded rectangle; range predicates prune") {
    val dir = Files.createTempDirectory("zorder").toFile
    dir.deleteOnExit()
    val path = dir.getAbsolutePath + "/events_z"

    // two UNIFORM 10-bit dims (md5-derived) — user_id cardinality at
    // this sf is too small to span the key space; the layout machinery
    // is what's under test, so give it a full grid
    val h = md5(col("event_id").cast("string").cast("binary"))
    val df = Tables.events(spark, "/root/testdata/sf0.01")
      .withColumn("a", conv(substring(h, 1, 4), 16, 10).cast("long") % 1024)
      .withColumn("b", conv(substring(h, 5, 4), 16, 10).cast("long") % 1024)
      .select("a", "b", "value")
    ZOrderLayout.writeClustered(df, path, "a", "b", files = 8)

    val rects = spark.read.parquet(path)
      .withColumn("f", input_file_name())
      .groupBy("f")
      .agg(min("a").as("min_a"), max("a").as("max_a"),
           min("b").as("min_b"), max("b").as("max_b"))
      .collect()
    assert(rects.length >= 4, s"expected several files, got ${rects.length}")

    // Pruning proof: a 64-wide predicate on either dimension must
    // overlap strictly fewer than all file rectangles.
    def overlapping(lo: Long, hi: Long, minC: String, maxC: String): Int =
      rects.count { r =>
        val (mn, mx) = (r.getAs[Long](minC), r.getAs[Long](maxC))
        mx >= lo && mn <= hi
      }
    val prunedA = overlapping(0L, 63L, "min_a", "max_a")
    val prunedB = overlapping(0L, 63L, "min_b", "max_b")
    assert(prunedA < rects.length, s"a-predicate pruned nothing ($prunedA/${rects.length})")
    assert(prunedB < rects.length, s"b-predicate pruned nothing ($prunedB/${rects.length})")

    // Locality: mean rectangle area is a small fraction of the key space
    // (a random row-to-file assignment puts every file near full area).
    val areas = rects.map(r =>
      (r.getAs[Long]("max_a") - r.getAs[Long]("min_a") + 1).toDouble *
      (r.getAs[Long]("max_b") - r.getAs[Long]("min_b") + 1))
    val meanArea = areas.sum / areas.length
    val fullArea = 1024.0 * 1024.0
    assert(meanArea <= fullArea / 2.0,
      s"files are not clustered: mean rect area $meanArea vs full $fullArea")
  }
}
