package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A typed `Aggregator` must not take its vector as `Seq[Double]`:
  * Spark deserializes a `Seq` input into a linked `List` of boxed
  * doubles, so indexed access walks the list (quadratic per row) —
  * the defect [[graft.agg.WeightedVecSum]] and `Whiten.MomentAgg`
  * had. The input type is scanned directly and through the fields of
  * a case class it names.
  */
class AggregatorInputSpec extends AnyFunSuite {

  private val seqOfDouble = """\b(?:Seq|List|Iterable)\[Double\]""".r
  private val aggInput = """extends\s+Aggregator\s*\[\s*(\w+(?:\[[^\]]*\])?)""".r
  private val caseClass = """case\s+class\s+(\w+)\s*(?:\[[^\]]*\])?\s*\(([^)]*)\)""".r

  /** `file:line input-type` for every Aggregator whose input is, or is
    * a case class with a field of, a `Seq`-like of `Double`.
    */
  def offenders(sources: Map[String, String]): Seq[String] = {
    val fields = sources.values.flatMap(s =>
      caseClass.findAllMatchIn(s).map(m => m.group(1) -> m.group(2))).toMap
    def bad(t: String) = seqOfDouble.findFirstIn(t).isDefined
    sources.toSeq.sortBy(_._1).flatMap { case (path, s) =>
      aggInput.findAllMatchIn(s).collect {
        case m if bad(m.group(1)) || fields.get(m.group(1)).exists(bad) =>
          s"$path:${s.substring(0, m.start).count(_ == '\n') + 1} ${m.group(1)}"
      }
    }
  }

  test("the scan flags Seq[Double] inputs, direct and through a case class") {
    val src = Map(
      "a.scala" -> "class A extends Aggregator[Seq[Double], Array[Double], Double]",
      "b.scala" -> """case class Row(w: Double, v: Seq[Double])
                     |class B(d: Int)
                     |    extends Aggregator[Row, Array[Double], Array[Double]]""".stripMargin,
      "c.scala" -> """case class Ok(w: Double, v: Array[Double])
                     |class C extends Aggregator[Ok, Array[Double], Seq[Double]]
                     |class D extends Aggregator[Array[Double], Seq[Double], Seq[Double]]
                     |class E[T] extends Aggregator[T, Seq[T], Seq[T]]""".stripMargin)
    assert(offenders(src) === Seq("a.scala:1 Seq[Double]", "b.scala:3 Row"))
  }

  test("no typed Aggregator under src/main/scala takes Seq[Double] input") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no main sources at ${root.toAbsolutePath}")
    val files = Files.walk(root)
    val sources =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.toString -> Files.readString(p)).toMap
      finally files.close()
    assert(sources.values.exists(_.contains("extends Aggregator[")),
      "the scan found no Aggregator at all")
    val hits = offenders(sources)
    assert(hits.isEmpty, s"Seq[Double] Aggregator input: ${hits.mkString(", ")}")
  }
}
