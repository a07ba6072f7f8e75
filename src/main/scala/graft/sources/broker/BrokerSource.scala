package graft.sources.broker

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{MqttEntry, Schemas}
import graft.functions.RecordStamp

/** In-memory message broker standing in for the reference's MQTT topic
  * (lambda-sample `sensors/power`, mqtt/Producer.scala:72-73): producers
  * `publish` MqttEntry messages; the DSv2 [[BrokerSourceProvider]]
  * consumes them as offset-tracked micro-batches.
  *
  * This is the real connector shape a production MQTT source uses
  * (SURVEY S1: "real MQTT would be a DSv2 MicroBatchStream"): offsets
  * are monotone positions in the topic, each micro-batch reads the
  * (start, end] slice exactly once, and the rows ship INSIDE the input
  * partition so the reader works wherever the task runs. Only the
  * broker itself is process-local — swap [[Broker]] for a client to a
  * real broker and nothing else changes.
  *
  * `publish` stamps each message once, as it enters the process, like
  * the reference's consumer (mqtt/Consumer.scala:64): wall-clock micros
  * through [[RecordStamp.next]], unique per JVM, kept as a primitive
  * `Long` beside the message and served as the `ts` column (the broker
  * timestamp of Spark's Kafka source). Every stream and replay sees it.
  */
object Broker {
  private val buf = ArrayBuffer[MqttEntry]()
  private var stamps = new Array[Long](1024)

  def publish(entries: MqttEntry*): Unit = synchronized {
    entries.foreach { e =>
      if (buf.size == stamps.length) stamps = util.Arrays.copyOf(stamps, stamps.length * 2)
      stamps(buf.size) = RecordStamp.next(System.currentTimeMillis() * 1000L)
      buf += e
    }
  }
  def slice(from: Int, until: Int): Seq[MqttEntry] = synchronized {
    buf.slice(from, until).toVector
  }
  /** Messages in [from, until) with their stamps, for one input partition. */
  def partition(from: Int, until: Int): BrokerPartition = synchronized {
    BrokerPartition(slice(from, until), util.Arrays.copyOfRange(stamps, from, until))
  }
  def size: Int = synchronized(buf.size)
  def clear(): Unit = synchronized { buf.clear(); stamps = new Array[Long](1024) }

  /** The typed view: the entry shape, `ts` being the broker's stamp. */
  val schema: StructType = Schemas.entry

  val rawSchema: StructType = StructType(Seq(
    StructField("payload", BinaryType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))
}

/** Typed view of the topic: the broker decodes for you (the round-1
  * path; Encoder-equivalent of pre-parsed records). */
class BrokerSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Broker.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BrokerTable("graft_broker", Broker.schema, (e, ts) => new GenericInternalRow(
      Array[Any](UTF8String.fromString(e.sensor), ts, e.value, e.anomaly)))
}

/** Raw view of the topic: rows are the wire bytes (`payload` binary)
  * and the broker's `ts`, exactly what a real MQTT client hands over —
  * decode happens in the pipeline ([[PayloadCodec]]), not in the
  * connector. This is the S2
  * path the reference exercises in mqtt/Consumer.scala:53-57 (bytes →
  * typed record via lib/BinarySerializer.scala:58-74). */
class RawBrokerSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Broker.rawSchema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BrokerTable("graft_broker_raw", Broker.rawSchema,
      (e, ts) => new GenericInternalRow(Array[Any](PayloadCodec.encode(e), ts)))
}

class BrokerTable(
    tableName: String,
    tableSchema: StructType,
    toRow: (MqttEntry, Long) => InternalRow) extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = tableSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new BrokerMicroBatchStream(toRow)
    }
}

case class BrokerOffset(pos: Int) extends Offset {
  override def json(): String = pos.toString
}

/** One partition per micro-batch, carrying its message slice and the
  * stamps (epoch microseconds) `publish` gave them. */
case class BrokerPartition(rows: Seq[MqttEntry], stamps: Array[Long]) extends InputPartition

class BrokerMicroBatchStream(toRow: (MqttEntry, Long) => InternalRow) extends MicroBatchStream {
  override def latestOffset(): Offset = BrokerOffset(Broker.size)
  override def initialOffset(): Offset = BrokerOffset(0)
  override def deserializeOffset(json: String): Offset = BrokerOffset(json.toInt)
  override def commit(end: Offset): Unit = () // broker retains; a real one would ack
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[BrokerOffset].pos, end.asInstanceOf[BrokerOffset].pos)
    Array(Broker.partition(s, e))
  }

  override def createReaderFactory(): PartitionReaderFactory = BrokerReaderFactory(toRow)
}

/** Serializable reader factory — ships to the task with only the row
  * mapper, never the (driver-side, offset-tracking) stream object. */
case class BrokerReaderFactory(toRow: (MqttEntry, Long) => InternalRow)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val p = partition.asInstanceOf[BrokerPartition]
      private var i = -1
      override def next(): Boolean = { i += 1; i < p.stamps.length }
      override def get(): InternalRow = toRow(p.rows(i), p.stamps(i))
      override def close(): Unit = ()
    }
}
