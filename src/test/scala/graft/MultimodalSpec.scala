package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Multimodal

/** pHash sizing behavior: the graded 16-bit/4-bit sizing vs the
  * production 64-bit/16-bit sizing, and the cap divergence point the
  * mirrored oracle guards (ADVICE r6). */
class MultimodalSpec extends AnyFunSuite with SharedSession {

  private val sf = "/root/testdata/sf0.01"

  test("wide sizing thins band buckets: 16-bit bands stay far under the cap the 4-bit bands approach") {
    def maxBucket(sigBits: Int, bandBits: Int): Long =
      Multimodal.phashBanded(spark, sf, sigBits, bandBits)
        .groupBy(col("band"), col("nib")).count()
        .agg(max(col("count"))).head().getLong(0)
    val narrow = maxBucket(16, 4)
    val wide = maxBucket(64, 16)
    assert(wide < narrow,
      s"64/16 sizing must thin occupancy: wide=$wide narrow=$narrow")
    // the production claim: at graded scale the cap exists purely as the
    // skew guard — no wide bucket comes near it
    assert(wide < graft.llm.HashDedup.DefaultMaxBucket / 4,
      s"wide max bucket $wide too close to the cap")
  }

  test("16-bit graded sizing == parameterized pipeline at (16, 4)") {
    val a = Multimodal.mmPhashPairs(spark, sf).collect().toSeq
    val b = Multimodal.mmPhashPairsSized(spark, sf, 16, 4).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty, "graded sizing must produce collision volume at sf0.01")
  }

  test("divergence point: an over-cap bucket drops its pairs on BOTH engines (cap mirrored in the oracle)") {
    // 1100 identical payloads: every band bucket holds all 1100 docs —
    // past the 1024 cap, so the capped pipeline must emit NOTHING (the
    // QUALIFY-capped oracle computes the same empty set), while an
    // uncapped run of the same corpus proves the pairs were really there
    val s = spark; import s.implicits._
    val text = "identical payload body shared by every document in this corpus"
    val docs = (1L to 1100L).map(i => (i, text, "en", "srcX", text.length.toLong))
    val tmp = Files.createTempDirectory("graft_phash_cap").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(Multimodal.mmPhashPairsSized(spark, tmp, 16, 4).collect().isEmpty,
      "over-cap buckets must contribute no pairs")
    val uncapped = Multimodal.mmPhashPairsSized(spark, tmp, 16, 4,
      maxBucket = Int.MaxValue).collect()
    assert(uncapped.length === 4, "all 4 bands collide when uncapped")
    val perBand = 1100L * 1099L / 2
    assert(uncapped.forall(_.getLong(1) === perBand),
      "uncapped candidate volume must be the full pair expansion")
  }

  test("PNG codec round trip is real and lossless: genuine PNG container, " +
      "decode(encode(px)) == px for every payload") {
    // arbitrary 16-byte rasters, including the extremes a signed-byte
    // bug would corrupt
    val seeds = Seq(
      Array.fill(16)(0.toByte),
      Array.fill(16)(255.toByte),
      (0 until 16).map(i => (i * 17).toByte).toArray,
      java.security.MessageDigest.getInstance("MD5")
        .digest("round trip me".getBytes("UTF-8")))
    seeds.foreach { px =>
      val png = Multimodal.pngEncode(px)
      // PNG signature: \x89 P N G \r \n \x1a \n
      assert(png.take(8).toSeq ===
        Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte),
        "encoder must emit a genuine PNG container")
      assert(png.length > 16, "container overhead proves a real format")
      assert(Multimodal.pngDecode(png).toSeq === px.toSeq,
        "grayscale PNG round trip must be lossless")
    }
  }

  test("extractFeatures runs the codec round trip per row: features come " +
      "from DECODED pixels and equal the payload-byte arithmetic") {
    val feats = Multimodal.extractFeatures(spark, "/root/testdata/sf0.001")
      .collect().map(f => f.doc_id -> f).toMap
    val raw = Multimodal.mediaTable(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("img")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(feats.keySet === raw.keySet)
    raw.foreach { case (id, bytes) =>
      val f = feats(id)
      assert(f.n_px === 16)
      val mean = bytes.map(b => (b & 0xff).toDouble).sum / bytes.length
      assert(math.abs(f.mean_px - mean) < 1e-12,
        s"doc $id: decoded-pixel mean must equal payload-byte mean")
      val expect = new Array[Float](8)
      bytes.indices.foreach(i => expect(i % 8) += (bytes(i) & 0xff) / 255.0f)
      assert(f.feature.toSeq === expect.toSeq,
        s"doc $id: features must derive from the decoded raster")
    }
  }

  test("the graded pHash signature IS the decoded-pixel signature: " +
      "relational sig == sig computed from PNG-decoded intensities") {
    val sigs = Multimodal.phashBanded(spark, "/root/testdata/sf0.001", 16, 4)
      .select(col("doc_id"), col("sig")).distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raw = Multimodal.mediaTable(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("img")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(sigs.keySet === raw.keySet)
    raw.foreach { case (id, bytes) =>
      val px = Multimodal.pngDecode(Multimodal.pngEncode(bytes))
      var sig = 0L
      (0 until 16).foreach { i =>
        if ((px(i % 16) & 0xff).toLong > Multimodal.PhashThresholds(i / 16))
          sig |= (1L << i)
      }
      assert(sigs(id) === sig,
        s"doc $id: graded signature must equal the decoded-pixel signature")
    }
  }
}
