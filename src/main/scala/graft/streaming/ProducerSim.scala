package graft.streaming

import graft.core.MqttEntry
import graft.sources.broker.Broker

/** Episode-correlated producer — the reference's MQTT Producer state
  * machine (mqtt/Producer.scala:55-92): each sensor holds a
  * normal/anomalous state; readings draw ±rand[0,bound) in the normal
  * state or ±(bound + rand[0,bound/2)) while anomalous, with the label
  * set exactly when the state is on. The state flips via an external
  * control (`POST /update` in the reference; [[setAnomalous]] here,
  * wired to the same route by [[graft.serve.HttpShim]]), so anomalies
  * arrive in EPISODES — consecutive anomalous readings per sensor —
  * rather than i.i.d. draws.
  *
  * A producer is a single process in the reference too — driver-local
  * mutable state is the faithful shape, not a scale compromise; the
  * scale path is many independent producers, each publishing to the
  * broker.
  */
object ProducerSim {

  private val state = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The reference's `POST /update` flip (Producer.scala:85-92). */
  def setAnomalous(sensor: String, on: Boolean): Unit = state.put(sensor, on)
  def isAnomalous(sensor: String): Boolean = Option(state.get(sensor)).exists(_.booleanValue)
  def reset(): Unit = state.clear()

  /** One producer tick: a reading per sensor drawn under its current
    * state (Producer.scala:55-74's per-tick publish loop). */
  def tick(
      sensors: Seq[String],
      bound: Double = 100.0,
      rnd: java.util.Random = new java.util.Random()): Seq[MqttEntry] =
    sensors.map { s =>
      val anom = isAnomalous(s)
      val sign = if (rnd.nextBoolean()) 1.0 else -1.0
      val magnitude =
        if (anom) bound + rnd.nextDouble() * bound / 2
        else rnd.nextDouble() * bound
      MqttEntry(s, sign * magnitude, if (anom) 1 else 0)
    }

  /** Draw one tick and publish it to the broker topic. */
  def publishTick(
      sensors: Seq[String],
      bound: Double = 100.0,
      rnd: java.util.Random = new java.util.Random()): Unit =
    Broker.publish(tick(sensors, bound, rnd): _*)
}
