package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Pinned result fingerprints (`pins.json`, a flat string map) and the
  * generator's seeded query order. */
object Pins {
  private val mapper = new ObjectMapper()

  def read(p: Path): Map[String, String] =
    mapper.readTree(p.toFile).fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  def render(kv: Seq[(String, String)]): String =
    kv.sortBy(_._1).map { case (k, v) => s"""  "$k": "$v"""" }.mkString("{\n", ",\n", "\n}\n")

  def orderPerm(p: Path): IndexedSeq[Int] =
    mapper.readTree(p.toFile).get("perm").elements().asScala.map(_.asInt()).toIndexedSeq

  def write(p: Option[Path], kv: Seq[(String, String)]): Unit =
    p.foreach(Files.writeString(_, render(kv)))
}
