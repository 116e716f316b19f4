package graft.nats

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A raw broker frame: replayable sequence number, arrival time (micros),
  * and the protobuf-encoded CDCMsg envelope bytes. */
final case class NatsFrame(seq: Long, tsMicros: Long, bytes: Array[Byte])

/** The seam between the Spark connector machinery and broker I/O — the
  * ONLY part of the source that talks to the outside world. A deployment
  * implements this over a JetStream pull consumer (replayable sequence
  * offsets → exactly-once micro-batches; core NATS, which the reference
  * uses, is at-most-once and cannot replay); tests inject an in-memory
  * implementation, which drives the complete connector path — offsets,
  * sharding, decode — through a real readStream.
  *
  * Implementations are addressed by class name via the `broker` option
  * and instantiated per use site (driver for offsets, one per executor
  * task for fetches — never serialized across the boundary). An
  * implementation must therefore make `fetch(start, end]` independent
  * of WHICH instance serves it: [[TextProtocolBroker]] shares one
  * protocol session per (class, subject) within the JVM (correct in
  * local mode); a multi-JVM cluster needs server-side replay — a
  * JetStream-backed implementation — because core NATS is at-most-once
  * and an executor's fresh connection cannot see frames the driver's
  * offsets refer to. */
trait NatsBroker {
  /** Highest sequence number currently on the bus subject. */
  def latestSeq(): Long
  /** Frames with seq in (start, end] belonging to `shard`
    * (seq % shards == shard), in sequence order. */
  def fetch(start: Long, end: Long, shard: Int, shards: Int): Iterator[NatsFrame]
  /** Offset `upTo` is durably committed: frames with seq <= upTo will
    * never be fetched again and may be dropped from any replay buffer
    * (no-op for server-side-replay implementations like JetStream). */
  def commit(upTo: Long): Unit = ()
}

object NatsBroker {
  def instantiate(className: String): NatsBroker =
    Class.forName(className).getDeclaredConstructor()
      .newInstance().asInstanceOf[NatsBroker]
}

/** Explicit no-network broker: a [[TextProtocolBroker]] whose socket
  * dial always refuses. The live path is [[TcpBroker]] (the default —
  * real TCP dial to `graft.nats.server`, by default the canonical NATS
  * `127.0.0.1:4222`, exercised end-to-end against the embedded
  * [[NatsServer]] in NatsTcpSpec); this class remains for environments
  * that must never open a socket, and as the documented failure mode
  * when no transport is wanted. */
class UnavailableBroker extends TextProtocolBroker {
  override protected def dial(): NatsChannel = throw new UnsupportedOperationException(
    "NATS socket dial refused: UnavailableBroker is the explicit no-network broker; " +
      "use the default graft.nats.TcpBroker (dials the graft.nats.server system " +
      "property, default 127.0.0.1:4222), or supply a JetStream-backed NatsBroker " +
      "via .option(\"broker\", <class>)")
}

/** NATS micro-batch source (`DataSourceV2`) — the live-deployment ingress
  * for the CDC bus (reference `lib/nats.js:49-65`: one physical
  * subscription per client on the shared bus subject; envelopes decoded
  * once then fanned out — here the decode is [[CdcProto.decodeInto]],
  * run once per frame in the partition reader).
  *
  * Usage: `spark.readStream.format("graft.nats.NatsSource")
  * .option("broker", <NatsBroker class>).option("shards", 4).load()` —
  * then every graft operator (mqtt routing, take(n), counters, windows)
  * applies unchanged.
  */
class NatsSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  /** `.format("graft-nats")` — registered via the standard
    * META-INF/services DataSourceRegister mechanism. */
  override def shortName(): String = "graft-nats"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NatsSource.CdcMsgSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new NatsTable(schema)
}

object NatsSource {
  /** Stream metadata (sequence for offsets, arrival ts for event-time
    * ops) + the decoded CDCMsg envelope (SURVEY §1.2). */
  val CdcMsgSchema: StructType =
    StructType(
      StructField("seq", LongType, nullable = false) ::
      StructField("ts", TimestampType, nullable = false) ::
      CdcProto.MsgStructType.fields.toList)
}

private[nats] class NatsTable(schema: StructType) extends Table with SupportsRead {
  override def name(): String = "graft_nats_bus"
  override def schema(): StructType = schema0
  private def schema0 = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NatsScanBuilder(schema,
      options.getInt("shards", 4),
      options.getOrDefault("broker", classOf[TcpBroker].getName))
}

private[nats] class NatsScanBuilder(schema: StructType, shards: Int,
                                    broker: String) extends ScanBuilder {
  override def build(): Scan = new NatsScan(schema, shards, broker)
}

private[nats] class NatsScan(schema: StructType, shards: Int,
                             broker: String) extends Scan {
  override def readSchema(): StructType = schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new NatsMicroBatchStream(shards, broker)
}

/** Offset = highest sequence number seen, JSON `{"seq": n}`. */
private[nats] case class NatsOffset(seq: Long) extends Offset {
  override def json(): String = s"""{"seq": $seq}"""
}

private[nats] class NatsMicroBatchStream(shards: Int, brokerClass: String)
    extends MicroBatchStream {

  @transient private lazy val broker = NatsBroker.instantiate(brokerClass)

  override def initialOffset(): Offset = NatsOffset(0L)
  override def latestOffset(): Offset = NatsOffset(broker.latestSeq())
  override def deserializeOffset(json: String): Offset =
    NatsOffset("""\d+""".r.findFirstIn(json).map(_.toLong).getOrElse(0L))

  /** Shard the sequence range round-robin: shard i reads seqs with
    * seq % shards == i — each executor holds one pull-consumer slice. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[NatsOffset].seq, end.asInstanceOf[NatsOffset].seq)
    (0 until shards).map(i =>
      NatsRangePartition(s, e, i, shards, brokerClass): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new NatsReaderFactory
  // lets a buffering broker (TextProtocolBroker's shared session) trim
  // frames the committed offset makes unreachable; JetStream-style
  // brokers ack per fetch and default to a no-op
  override def commit(end: Offset): Unit =
    broker.commit(end.asInstanceOf[NatsOffset].seq)
  override def stop(): Unit = ()
}

private[nats] case class NatsRangePartition(startSeq: Long, endSeq: Long,
                                            shard: Int, shards: Int,
                                            brokerClass: String) extends InputPartition

private[nats] class NatsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new NatsPartitionReader(partition.asInstanceOf[NatsRangePartition])
}

/** Pulls this shard's frames for the batch's sequence range and decodes
  * each protobuf envelope ONCE (reference lib/nats.js:88-90) into an
  * InternalRow: (seq, ts) metadata, then the decoded struct's fields. */
private[nats] class NatsPartitionReader(p: NatsRangePartition)
    extends PartitionReader[InternalRow] {

  private val frames: Iterator[NatsFrame] =
    NatsBroker.instantiate(p.brokerClass).fetch(p.startSeq, p.endSeq, p.shard, p.shards)

  private var current: InternalRow = _

  override def next(): Boolean =
    if (frames.hasNext) {
      val f = frames.next()
      // fresh row per frame: no buffer reuse
      val row = new GenericInternalRow(NatsSource.CdcMsgSchema.length)
      row.setLong(0, f.seq)
      row.setLong(1, f.tsMicros)
      CdcProto.decodeInto(f.bytes, row, 2)
      current = row
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
