package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Exact counts pinned for the default seed (perfbench/pins.json), and the
  * per-query row counts and hashes of the fixed query tables.
  */
object Pins {
  private lazy val root: JsonNode =
    new ObjectMapper().readTree(new java.io.File("perfbench/pins.json"))

  private def longs(n: JsonNode): Map[String, Long] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  lazy val DefaultSeed: Long = root.get("default_seed").asLong
  lazy val dedupNear: Map[String, Long] = longs(root.get("dedup_near"))
  lazy val clipJobRows: Map[String, Long] = longs(root.get("clip_job").get("stage_rows"))
  lazy val clipJobBytes: Map[String, Long] = longs(root.get("clip_job").get("stage_bytes"))
  lazy val queries: Map[String, (Long, String)] =
    root.get("queries").fields().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
    }.toMap
}
