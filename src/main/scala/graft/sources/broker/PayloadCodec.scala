package graft.sources.broker

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.core.{Entry, MqttEntry}

/** Wire codec for the broker payload — the S2 seam the reference
  * implements with Smile binary (lib/BinarySerializer.scala:58-74,
  * consumed bytes→record in mqtt/Consumer.scala:53-57). The reference's
  * property is what matters, not its format: a DETERMINISTIC byte
  * layout both ends agree on, with encode∘decode = identity (their
  * mqtt/EntrySpec.scala:13-21 round-trip). Layout (big-endian):
  * `[sensorLen:int32][sensor:utf8][value:f64][anomaly:int32]`.
  *
  * Decode runs as a typed map over the binary column: a codec is
  * imperative byte twiddling, not Catalyst algebra — the same
  * justification as the multimodal featurizer. It stays fully
  * distributed (per-row, no state, no collect) and the Encoder keeps
  * rows in Tungsten format after the map.
  */
object PayloadCodec {

  def encode(e: MqttEntry): Array[Byte] = {
    val s = e.sensor.getBytes(StandardCharsets.UTF_8)
    val buf = ByteBuffer.allocate(4 + s.length + 8 + 4)
    buf.putInt(s.length).put(s).putDouble(e.value).putInt(e.anomaly)
    buf.array()
  }

  def decode(bytes: Array[Byte]): MqttEntry = {
    val buf = ByteBuffer.wrap(bytes)
    val s = new Array[Byte](buf.getInt())
    buf.get(s)
    MqttEntry(new String(s, StandardCharsets.UTF_8), buf.getDouble(), buf.getInt())
  }

  /** Decode stage: a (streaming or batch) DataFrame with a binary
    * `payload` column and the broker's `ts` → typed Entry rows that keep
    * that `ts`. */
  def decodeStage(raw: DataFrame): Dataset[Entry] = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select("payload", "ts").as[(Array[Byte], Timestamp)].map { case (bytes, ts) =>
      val e = decode(bytes)
      Entry(e.sensor, ts, e.value, e.anomaly)
    }
  }
}
