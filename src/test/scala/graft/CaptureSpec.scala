package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Capture

/** CSV / JSON-lines capture round-trips: schema-explicit reads preserve
  * every row, every type, and microsecond event time. */
class CaptureSpec extends AnyFunSuite with SharedSession {

  private def fingerprint(df: org.apache.spark.sql.DataFrame) =
    df.agg(
      count(lit(1)).as("n"),
      sum(col("event_id")).as("sum_id"),
      sum(unix_micros(col("ts"))).as("sum_ts_us"),
      round(sum(col("value")), 6).as("sum_val"),
      count(col("props")).as("n_props")).collect().head

  test("bus round-trips through CSV and JSON-lines losslessly") {
    val bus = Tables.bus(spark, "/root/testdata/sf0.001")
    val want = fingerprint(bus)
    val schema = bus.schema

    // files read back nullable regardless of source nullability — names
    // and types are the contract
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq

    val csvDir = Files.createTempDirectory("graft_csv").toString
    Capture.writeCsv(bus, csvDir)
    val fromCsv = Capture.readCsv(spark, csvDir, schema)
    assert(shape(fromCsv.schema) === shape(schema))
    assert(fingerprint(fromCsv) === want)

    val jsonDir = Files.createTempDirectory("graft_jsonl").toString
    Capture.writeJsonl(bus, jsonDir)
    val fromJson = Capture.readJsonl(spark, jsonDir, schema)
    assert(shape(fromJson.schema) === shape(schema))
    assert(fingerprint(fromJson) === want)
  }
}
