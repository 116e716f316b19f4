package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.nats.CdcProto
import graft.nats.CdcProto.CdcMsg

/** The hand-rolled CDCMsg wire codec (reference lib/nats.js:88-90):
  * encode∘decode identity on randomized envelopes, proto3 default
  * omission, unknown-field skipping, and the Catalyst expression path. */
class CdcProtoSpec extends AnyFunSuite with SharedSession {

  private val rnd = new scala.util.Random(7)
  private def rndString(): String = {
    val n = rnd.nextInt(20)
    new String(Array.fill(n)(rnd.nextPrintableChar()))
  }
  private def rndMsg(): CdcMsg = CdcMsg(
    publisher = rndString(), channel = rndString(), contentType = rndString(),
    protocol = rndString(), reply = rndString(),
    qos = rnd.nextInt(3), retain = rnd.nextBoolean(),
    payload = Array.fill(rnd.nextInt(40))(rnd.nextInt().toByte))

  test("encode∘decode identity on 2000 random envelopes incl. unicode and empties") {
    (1 to 2000).foreach { _ =>
      val m = rndMsg()
      assert(CdcProto.decode(CdcProto.encode(m)) === m)
    }
    val uni = CdcMsg("发布者", "cdc/тип/7", "json", "http", "", 2, true,
      "φ".getBytes("UTF-8"))
    assert(CdcProto.decode(CdcProto.encode(uni)) === uni)
    val empty = CdcMsg("", "", "", "", "", 0, false, Array.emptyByteArray)
    assert(CdcProto.encode(empty).isEmpty, "all-default proto3 message is zero bytes")
    assert(CdcProto.decode(Array.emptyByteArray) === empty)
  }

  test("default-valued fields are omitted from the wire") {
    val m = CdcMsg("p", "c", "", "", "", 0, false, Array.emptyByteArray)
    val bytes = CdcProto.encode(m)
    // tag(1)+len+1 byte + tag(2)+len+1 byte = 6 bytes total
    assert(bytes.length === 6)
    assert(CdcProto.decode(bytes) === m)
  }

  test("unknown fields are skipped by wire type (forward compatibility)") {
    val m = rndMsg()
    val base = CdcProto.encode(m)
    // append field 9 varint, field 10 len-delimited, field 11 fixed32,
    // field 12 fixed64 (single-byte tags: field < 16)
    val extra = Array[Byte](
      ((9 << 3) | 0).toByte, 0x05, // field 9, wt 0, value 5
      ((10 << 3) | 2).toByte, 0x02, 0x7F, 0x00, // field 10, wt 2, 2 bytes
      ((11 << 3) | 5).toByte, 1, 2, 3, 4, // field 11, wt 5
      ((12 << 3) | 1).toByte, 1, 2, 3, 4, 5, 6, 7, 8) // field 12, wt 1
    assert(CdcProto.decode(base ++ extra) === m)
  }

  test("truncated input fails loudly, not silently") {
    val bytes = CdcProto.encode(CdcMsg("pub", "ch", "json", "", "", 1, true,
      Array[Byte](1, 2, 3)))
    intercept[IllegalArgumentException] {
      CdcProto.decode(bytes.dropRight(1))
    }
  }

  test("input truncated inside an unknown fixed32/fixed64 field fails loudly") {
    val m = rndMsg()
    val base = CdcProto.encode(m)
    // full fixed-width unknown fields still decode fine...
    val f32 = Array[Byte](((11 << 3) | 5).toByte, 1, 2, 3, 4)
    val f64 = Array[Byte](((12 << 3) | 1).toByte, 1, 2, 3, 4, 5, 6, 7, 8)
    assert(CdcProto.decode(base ++ f32) === m)
    assert(CdcProto.decode(base ++ f64) === m)
    // ...but a buffer ending INSIDE the fixed-width value must throw, not
    // "successfully" decode a short message
    (1 to 4).foreach { cut =>
      intercept[IllegalArgumentException] {
        CdcProto.decode(base ++ f32.dropRight(cut))
      }
    }
    (1 to 8).foreach { cut =>
      intercept[IllegalArgumentException] {
        CdcProto.decode(base ++ f64.dropRight(cut))
      }
    }
  }

  test("decode_cdc_msg expression decodes inside SQL (codegen path)") {
    val s = spark; import s.implicits._
    val msgs = (1L to 50L).map(i =>
      CdcMsg(s"pub$i", s"cdc/click/$i", "json", "http", "", (i % 3).toInt,
        i % 2 == 0, s"body$i".getBytes("UTF-8")))
    val df = msgs.map(CdcProto.encode).toDF("bytes")
    df.createOrReplaceTempView("wire")
    val out = spark.sql(
      """SELECT decode_cdc_msg(bytes).channel AS channel,
        |       decode_cdc_msg(bytes).qos AS qos,
        |       CAST(decode_cdc_msg(bytes).payload AS STRING) AS body
        |FROM wire""".stripMargin).collect()
    assert(out.length === 50)
    assert(out.map(_.getString(0)).toSet === msgs.map(_.channel).toSet)
    assert(out.map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet ===
      msgs.map(m => (m.channel, m.qos, new String(m.payload, "UTF-8"))).toSet)
  }
}
