package graft.perfbench

import scala.jdk.CollectionConverters._

/** Expected (rows, hash) per catalog query, keyed by catalog directory
  * name (`sf0.01`), as `pins.json` records them. */
object Pins {
  val Path = "perfbench/pins.json"

  def load(catalog: String): Map[String, (Long, String)] =
    Json.mapper.readTree(new java.io.File(Path)).path(catalog).fields().asScala
      .map(e => e.getKey -> ((e.getValue.get(0).asLong, e.getValue.get(1).asText)))
      .toMap
}
