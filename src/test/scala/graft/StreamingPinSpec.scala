package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The ingest loops cut a batch frame's lineage through
  * `DedupStream.pin` alone, so every batch frame gets the pin's size
  * rule (a frame AQE would coalesce into one partition anyway is
  * declared one partition, and its keyed aggregates stop shuffling). A
  * `localCheckpoint(` anywhere under `streaming/` outside the body of a
  * `def pin` is flagged.
  */
class StreamingPinSpec extends AnyFunSuite {

  private val checkpointCall = """\blocalCheckpoint\(""".r
  private val pinDef = """^(\s*)(?:private(?:\[\w+\])?\s+)?def pin\b""".r

  /** `file:line` of every `localCheckpoint(` outside a `def pin` body:
    * a body runs from the `def` line to the next non-blank line
    * indented no deeper than it.
    */
  def offenders(sources: Map[String, String]): Seq[String] =
    sources.toSeq.sortBy(_._1).flatMap { case (path, s) =>
      val lines = s.split("\n", -1).toIndexedSeq
      def indent(l: String) = l.takeWhile(_ == ' ').length
      val inPin = Array.fill(lines.size)(false)
      lines.indices.foreach { i =>
        pinDef.findPrefixMatchOf(lines(i)).foreach { m =>
          val depth = m.group(1).length
          val end = lines.indexWhere(l => l.trim.nonEmpty && indent(l) <= depth, i + 1)
          (i until (if (end < 0) lines.size else end)).foreach(inPin(_) = true)
        }
      }
      lines.indices.collect {
        case i if !inPin(i) && checkpointCall.findFirstIn(lines(i)).isDefined =>
          s"$path:${i + 1}"
      }
    }

  test("the scan flags localCheckpoint calls outside a pin") {
    val src = Map(
      "a.scala" -> """object A {
                     |  private def pin(df: DataFrame): DataFrame =
                     |    Shim.localCheckpoint(df)(small)
                     |
                     |  def other(df: DataFrame): DataFrame =
                     |    df.localCheckpoint(eager = true)
                     |}""".stripMargin,
      "b.scala" -> """object B {
                     |  def pinned(df: DataFrame) = df.localCheckpoint(true)
                     |  private[graft] def pin(df: DataFrame): DataFrame = {
                     |    val out = df.localCheckpoint()
                     |    out
                     |  }
                     |  val x = df.localCheckpoint()
                     |  def checkpointed(df: DataFrame) = df.checkpoint()
                     |}""".stripMargin)
    assert(offenders(src) === Seq("a.scala:6", "b.scala:2", "b.scala:7"))
  }

  test("streaming code checkpoints batch frames only through DedupStream.pin") {
    val root = Paths.get("src/main/scala/graft/streaming")
    assert(Files.isDirectory(root), s"no streaming sources at ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val sources =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.toString -> Files.readString(p)).toMap
      finally files.close()
    val dedup = sources.collectFirst {
      case (p, s) if p.endsWith("DedupStream.scala") => s
    }.getOrElse(fail("no DedupStream.scala"))
    assert(dedup.split("\n").exists(pinDef.findPrefixOf(_).isDefined),
      "DedupStream.pin moved: update the scan")
    assert(checkpointCall.findFirstIn(dedup).isDefined,
      "the scan found no checkpoint to check")
    val hits = offenders(sources)
    assert(hits.isEmpty, s"localCheckpoint outside DedupStream.pin: ${hits.mkString(", ")}")
  }
}
