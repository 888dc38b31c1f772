package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The reference IDF rule is written once, in
  * `ReferenceQueries.idfOf`: every IDF table (q11's, the per-language
  * dimension, x52's and `IdfStream`'s summed counts) runs through it,
  * so a fix to the rule cannot land in one copy only. A Column-side
  * `log10(col("n_posts") …` outside the body of a `def idfOf` is
  * flagged. The oracle SQL strings spell the rule in DuckDB
  * (`log10((SELECT n_posts …`, `log10(n.n_posts …`) and are not
  * Column-side.
  */
class IdfRuleSpec extends AnyFunSuite {

  private val idfLog = """\blog10\(\s*col\(\s*"n_posts"\s*\)""".r
  private val idfOfDef = """^(\s*)(?:private(?:\[\w+\])?\s+)?def idfOf\b""".r

  /** `file:line` of every Column-side `log10` over `n_posts` outside a
    * `def idfOf` body: a body runs from the `def` line to the next
    * non-blank line indented no deeper than it.
    */
  def offenders(sources: Map[String, String]): Seq[String] =
    sources.toSeq.sortBy(_._1).flatMap { case (path, s) =>
      val lines = s.split("\n", -1).toIndexedSeq
      def indent(l: String) = l.takeWhile(_ == ' ').length
      val inIdfOf = Array.fill(lines.size)(false)
      lines.indices.foreach { i =>
        idfOfDef.findPrefixMatchOf(lines(i)).foreach { m =>
          val depth = m.group(1).length
          val end = lines.indexWhere(l => l.trim.nonEmpty && indent(l) <= depth, i + 1)
          (i until (if (end < 0) lines.size else end)).foreach(inIdfOf(_) = true)
        }
      }
      lines.indices.collect {
        case i if !inIdfOf(i) && idfLog.findFirstIn(lines(i)).isDefined =>
          s"$path:${i + 1}"
      }
    }

  test("the scan flags the IDF log outside idfOf, not in oracle SQL") {
    val src = Map(
      "a.scala" -> """object A {
                     |  private[graft] def idfOf(c: DataFrame, keys: Seq[String]) = {
                     |    val m = when(col("max_occ") > 0,
                     |      log10(col("n_posts") / col("max_occ")))
                     |    c.withColumn("raw", log10( col("n_posts") / col("occurrences")))
                     |  }
                     |
                     |  def copy(c: DataFrame) =
                     |    c.withColumn("raw", log10(col("n_posts") / col("occurrences")))
                     |}""".stripMargin,
      "b.scala" -> """object B {
                     |  val sql = "CASE WHEN c > 0 THEN log10((SELECT n_posts FROM nn) / c) END"
                     |  val q32 = "log10(n.n_posts / coalesce(o.c, 0))"
                     |  // raw = log10(n_posts / occ)
                     |  def idfOfLang(c: DataFrame) = c.select(log10(col("n_posts") / col("c")))
                     |  def price(c: DataFrame) = c.select(log10(col("p_retailprice")))
                     |}""".stripMargin)
    assert(offenders(src) === Seq("a.scala:9", "b.scala:5"))
  }

  test("main sources write the IDF rule once, in ReferenceQueries.idfOf") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no main sources at ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val sources =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.toString -> Files.readString(p)).toMap
      finally files.close()
    val ref = sources.collectFirst {
      case (p, s) if p.endsWith("queries/ReferenceQueries.scala") => s
    }.getOrElse(fail("no ReferenceQueries.scala"))
    assert(idfLog.findFirstIn(ref).isDefined, "the scan found no IDF rule to check")
    val hits = offenders(sources)
    assert(hits.isEmpty, s"IDF rule outside ReferenceQueries.idfOf: ${hits.mkString(", ")}")
    assert(ref.split("\n").exists(idfOfDef.findPrefixOf(_).isDefined),
      "ReferenceQueries.idfOf moved: update the scan")
  }
}
