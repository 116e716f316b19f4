package graft.nats

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hand-rolled protobuf wire codec for the reference's `CDCMsg` envelope
  * (decoded at reference `lib/nats.js:88-90` via `proto.CDCMsg.decode`,
  * encoded at `examples/cdc-pub.js:42`; field set per SURVEY §1.2 — the
  * `node-cdc-proto` dep is unvendored, so field NUMBERS follow the
  * declaration order observed at `examples/cdc-pub.js:31-40`:
  * publisher=1, channel=2, contentType=3, protocol=4, reply=5, QOS=6,
  * retain=7, payload=8).
  *
  * No spark-protobuf jar exists in this environment, so the proto3 wire
  * format is implemented directly: base-128 varints, length-delimited
  * strings/bytes (wire type 2), varint ints/bools (wire type 0),
  * default-valued fields omitted on encode, unknown fields skipped on
  * decode (forward compatibility — the skip covers all four proto wire
  * types). Round-trip and unknown-field-skip are property-tested in
  * CdcProtoSpec.
  */
object CdcProto {

  final case class CdcMsg(publisher: String, channel: String,
                          contentType: String, protocol: String, reply: String,
                          qos: Int, retain: Boolean, payload: Array[Byte]) {
    override def equals(o: Any): Boolean = o match {
      case m: CdcMsg => publisher == m.publisher && channel == m.channel &&
        contentType == m.contentType && protocol == m.protocol &&
        reply == m.reply && qos == m.qos && retain == m.retain &&
        java.util.Arrays.equals(payload, m.payload)
      case _ => false
    }
    override def hashCode(): Int =
      (publisher, channel, contentType, protocol, reply, qos, retain,
        java.util.Arrays.hashCode(payload)).hashCode()
  }

  /** The envelope as a Spark struct (order = field number order). */
  val MsgStructType: StructType = StructType(Seq(
    StructField("publisher", StringType),
    StructField("channel", StringType),
    StructField("contentType", StringType),
    StructField("protocol", StringType),
    StructField("reply", StringType),
    StructField("qos", IntegerType),
    StructField("retain", BooleanType),
    StructField("payload", BinaryType)))

  // ---- encode ----------------------------------------------------------

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  private def writeLenDelimited(out: ByteArrayOutputStream, field: Int,
                                b: Array[Byte]): Unit =
    if (b.nonEmpty) {
      writeVarint(out, (field.toLong << 3) | 2)
      writeVarint(out, b.length.toLong)
      out.write(b, 0, b.length)
    }

  /** proto3 encode; `qos` must be non-negative (the envelope's QOS domain
    * is 0..2, reference examples/cdc-pub.js:37). */
  def encode(m: CdcMsg): Array[Byte] = {
    require(m.qos >= 0, s"QOS must be non-negative, got ${m.qos}")
    val out = new ByteArrayOutputStream()
    writeLenDelimited(out, 1, m.publisher.getBytes(UTF_8))
    writeLenDelimited(out, 2, m.channel.getBytes(UTF_8))
    writeLenDelimited(out, 3, m.contentType.getBytes(UTF_8))
    writeLenDelimited(out, 4, m.protocol.getBytes(UTF_8))
    writeLenDelimited(out, 5, m.reply.getBytes(UTF_8))
    if (m.qos != 0) { writeVarint(out, (6L << 3) | 0); writeVarint(out, m.qos.toLong) }
    if (m.retain) { writeVarint(out, (7L << 3) | 0); writeVarint(out, 1L) }
    writeLenDelimited(out, 8, m.payload)
    out.toByteArray
  }

  // ---- decode ----------------------------------------------------------

  def decode(bytes: Array[Byte]): CdcMsg = {
    var pos = 0
    def varint(): Long = {
      var r = 0L; var s = 0; var b = 0
      do {
        if (pos >= bytes.length) throw new IllegalArgumentException("truncated varint")
        b = bytes(pos) & 0xFF; pos += 1
        r |= (b & 0x7FL) << s; s += 7
      } while ((b & 0x80) != 0)
      r
    }
    def lenDelimited(): Array[Byte] = {
      val n = varint().toInt
      if (pos + n > bytes.length) throw new IllegalArgumentException("truncated field")
      val r = java.util.Arrays.copyOfRange(bytes, pos, pos + n); pos += n; r
    }
    var publisher = ""; var channel = ""; var contentType = ""
    var protocol = ""; var reply = ""
    var qos = 0; var retain = false
    var payload = Array.emptyByteArray
    while (pos < bytes.length) {
      val tag = varint()
      val field = (tag >>> 3).toInt
      val wt = (tag & 7).toInt
      (field, wt) match {
        case (1, 2) => publisher = new String(lenDelimited(), UTF_8)
        case (2, 2) => channel = new String(lenDelimited(), UTF_8)
        case (3, 2) => contentType = new String(lenDelimited(), UTF_8)
        case (4, 2) => protocol = new String(lenDelimited(), UTF_8)
        case (5, 2) => reply = new String(lenDelimited(), UTF_8)
        case (6, 0) => qos = varint().toInt
        case (7, 0) => retain = varint() != 0L
        case (8, 2) => payload = lenDelimited()
        // unknown field: skip by wire type (fixed-width skips are
        // bounds-checked — a buffer truncated inside the field must fail
        // loudly, same contract as the varint/len-delimited paths)
        case (_, 0) => varint()
        case (_, 2) => lenDelimited()
        case (_, 5) =>
          if (pos + 4 > bytes.length) throw new IllegalArgumentException("truncated field")
          pos += 4
        case (_, 1) =>
          if (pos + 8 > bytes.length) throw new IllegalArgumentException("truncated field")
          pos += 8
        case _ => throw new IllegalArgumentException(
          s"unsupported wire type $wt for field $field at offset $pos")
      }
    }
    CdcMsg(publisher, channel, contentType, protocol, reply, qos, retain, payload)
  }

  /** Decode into `row`'s slots `at` until `at + 8`, in [[MsgStructType]]
    * order — shared by [[decodeToRow]] and the NATS partition reader, so
    * the wire-to-row contract exists exactly once. */
  def decodeInto(bytes: Array[Byte], row: InternalRow, at: Int): Unit = {
    val m = decode(bytes)
    row.update(at, UTF8String.fromString(m.publisher))
    row.update(at + 1, UTF8String.fromString(m.channel))
    row.update(at + 2, UTF8String.fromString(m.contentType))
    row.update(at + 3, UTF8String.fromString(m.protocol))
    row.update(at + 4, UTF8String.fromString(m.reply))
    row.setInt(at + 5, m.qos)
    row.setBoolean(at + 6, m.retain)
    row.update(at + 7, m.payload)
  }

  /** Decode straight to an InternalRow of [[MsgStructType]] — the
    * Catalyst expression's eval and codegen call this. */
  def decodeToRow(bytes: Array[Byte]): InternalRow = {
    val row = new GenericInternalRow(MsgStructType.length)
    decodeInto(bytes, row, 0)
    row
  }
}
