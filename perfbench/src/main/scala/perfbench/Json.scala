package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The benchmark's JSON records, through Jackson and its Scala module
  * (both shipped with Spark).
  */
object Json {

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .build()

  def write(path: String, v: Any): Unit = {
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(path), mapper.writeValueAsString(v) + "\n")
  }

  /** `{"fingerprints": {name: {"rows": n, "hash": "..."}}}` → name → value. */
  def readFingerprints(path: String): Map[String, Fingerprint.Value] = {
    val root = mapper.readTree(Files.readString(Paths.get(path)))
    root.get("fingerprints").fields().asScala.map { e =>
      e.getKey -> Fingerprint.Value(e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())
    }.toMap
  }
}
