package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The ingest loops and the lexical index read their parquet artifacts
  * with declared schemas: `spark.read.parquet(path)` without a schema
  * infers one from a footer, which is a Spark job per call, on every
  * micro-batch. A `read` chain that reaches `.parquet(` without a
  * `.schema(` call in it is flagged, except where a schema is probed on
  * purpose (`EventStreams.eventStream` reads the events' timestamp
  * vintage off the files).
  */
class DeclaredReadSpec extends AnyFunSuite {

  /** `.read`, then any `.call(…)`s (two levels of nested parentheses),
    * then `.parquet(`; group 1 is the calls in between.
    */
  private val parquetRead = {
    val args = """(?:[^()]|\((?:[^()]|\([^()]*\))*\))*"""
    s"""\\.read\\b((?:\\s*\\.\\w+\\($args\\))*?)\\s*\\.parquet\\(""".r
  }

  private val allowed = Set("src/main/scala/graft/streaming/EventStreams.scala:37")

  /** `file:line` of every parquet read chain without `.schema(`. */
  def offenders(sources: Map[String, String]): Seq[String] =
    sources.toSeq.sortBy(_._1).flatMap { case (path, s) =>
      parquetRead.findAllMatchIn(s).collect {
        case m if !m.group(1).contains(".schema(") =>
          s"$path:${s.substring(0, m.start).count(_ == '\n') + 1}"
      }
    }

  test("the scan flags parquet reads without a declared schema") {
    val src = Map(
      "a.scala" -> "val d = spark.read.parquet(p)",
      "b.scala" -> """spark.read
                     |  .schema(s)
                     |  .parquet(p)
                     |spark.read.schema(s.add(StructField("b", LongType))).parquet(p)""".stripMargin,
      "c.scala" -> """val x = 1
                     |spark.read.option("k", f(1)).parquet(p)
                     |spark.read
                     |  .option("mergeSchema", "true")
                     |  .parquet(q)""".stripMargin,
      "d.scala" -> """spark.readStream.parquet(p)
                     |spark.read.text(p)
                     |df.write.parquet(p)""".stripMargin)
    assert(offenders(src) === Seq("a.scala:1", "c.scala:2", "c.scala:3"))
  }

  test("the streaming loops and the lexical index read parquet with declared schemas") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"no main sources at ${root.toAbsolutePath}")
    val files = Files.walk(root.resolve("streaming"))
    val paths =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    val sources = (root.resolve("ml/Bm25Index.scala") :: paths)
      .map(p => p.toString -> Files.readString(p)).toMap
    assert(sources.size > 1 && sources.values.exists(_.contains(".schema(")),
      "the scan found nothing to check")
    val hits = offenders(sources).filterNot(allowed)
    assert(hits.isEmpty, s"parquet read without a declared schema: ${hits.mkString(", ")}")
    assert(offenders(sources).toSet === allowed,
      "the allow-listed schema probe moved: update the allow-list")
  }
}
