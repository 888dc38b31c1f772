package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one-partition policy has one owner, `graft.plans.Partitioning`.
  * The ingest loops cut a batch frame's lineage through its `pin`
  * alone, so every batch frame gets the pin's size rule (a frame AQE
  * would coalesce into one partition anyway is declared one partition,
  * and its keyed aggregates stop shuffling). A `localCheckpoint(`
  * anywhere under `streaming/` or in the module outside the body of a
  * `def pin` is flagged, and so is a definition of a size rule or an
  * install of the join rule anywhere else under `src/main`.
  */
class StreamingPinSpec extends AnyFunSuite {

  private val owner = "graft/plans/Partitioning.scala"
  private val policy =
    """\bOnePartitionJoin\.install\(|\bdef (coalescesToOne|fitsOnePartition|onePartitionIfSmall|plannedPartitions)\b""".r

  private def scalaSources(root: String): Map[String, String] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"no sources at ${dir.toAbsolutePath}")
    val files = Files.walk(dir)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> Files.readString(p)).toMap
    finally files.close()
  }

  /** `file:line` of every policy definition or join-rule install
    * outside the module.
    */
  def policyOutsideOwner(sources: Map[String, String]): Seq[String] =
    sources.toSeq.sortBy(_._1).filterNot(_._1.endsWith(owner)).flatMap { case (path, s) =>
      s.split("\n", -1).toSeq.zipWithIndex.collect {
        case (l, i) if policy.findFirstIn(l).isDefined => s"$path:${i + 1}"
      }
    }

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

  test("streaming code checkpoints batch frames only through Partitioning.pin") {
    val sources = scalaSources("src/main/scala/graft/streaming") ++
      scalaSources("src/main/scala/graft/plans").filter(_._1.endsWith(owner))
    val module = sources.collectFirst { case (p, s) if p.endsWith(owner) => s }
      .getOrElse(fail(s"no $owner"))
    assert(module.split("\n").exists(pinDef.findPrefixOf(_).isDefined),
      "Partitioning.pin moved: update the scan")
    assert(checkpointCall.findFirstIn(module).isDefined,
      "the scan found no checkpoint to check")
    val hits = offenders(sources)
    assert(hits.isEmpty, s"localCheckpoint outside Partitioning.pin: ${hits.mkString(", ")}")
  }

  test("main sources define the one-partition policy and install its join rule only in Partitioning") {
    val src = Map(
      s"src/main/scala/$owner" -> """object Partitioning {
                                    |  def fitsOnePartition(df: DataFrame) = true
                                    |  def pin(df: DataFrame) = { OnePartitionJoin.install(df.sparkSession); df }
                                    |}""".stripMargin,
      "a.scala" -> """object A {
                     |  private def onePartitionIfSmall(df: DataFrame) = df.coalesce(1)
                     |  OnePartitionJoin.install(spark)
                     |  val x = Partitioning.onePartitionIfSmall(df)
                     |  private[graft] def coalescesToOne(s: SparkSession, b: Long) = true
                     |  def plannedPartitionsOf(p: SparkPlan) = None
                     |}""".stripMargin)
    assert(policyOutsideOwner(src) === Seq("a.scala:2", "a.scala:3", "a.scala:5"))
    val sources = scalaSources("src/main/scala")
    val module = sources.collectFirst { case (p, s) if p.endsWith(owner) => s }
      .getOrElse(fail(s"no $owner"))
    assert(policy.findAllIn(module).size >= 5, "the scan found no policy to check")
    val hits = policyOutsideOwner(sources)
    assert(hits.isEmpty, s"one-partition policy outside $owner: ${hits.mkString(", ")}")
  }
}
