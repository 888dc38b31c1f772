package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.VectorizeStream

/** Round-4 verdict #6: the stream and the live-RPC source composed —
  * the reference worker fetches text over HTTP inside its poll loop
  * (`worker.py:24-31`). The fake lang-detector serves the REAL corpus
  * text keyed by id, so the RPC-composed stream must land exactly the
  * batch q12 vectors; per-id request counting proves checkpoint resume
  * re-polls only new files.
  */
class VectorizeRpcStreamSpec extends AnyFunSuite with SparkSpec {

  /** Runs `body` against a fake lang-detector serving `textById` per
    * doc_id, JSON-escaped, at the base URI it is given; `hits` counts
    * every id the server is asked for.
    */
  private def withTextServer[T](textById: Map[Long, String],
      hits: ConcurrentHashMap[Long, Integer])(body: String => T): T = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val id = ex.getRequestURI.getPath.split("/").last.toLong
        hits.merge(id, 1, (a, b) => a + b)
        val body = s"""{"text": [${jsonString(textById(id))}]}"""
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("micro-batches fetch text via RPC; resume from checkpoint fetches only new docs") {
    // fake lang-detector serving the actual corpus text per doc_id
    val textById = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val hits = new ConcurrentHashMap[Long, Integer]()
    withTextServer(textById, hits) { base =>
      val work = Files.createTempDirectory("graft_vrpc")
      val docsDir = work.resolve("docs")
      Files.createDirectory(docsDir)
      val store = work.resolve("store").toString
      val ckpt = work.resolve("ckpt").toString
      val wordvecs = graft.queries.ReferenceQueries.wordvecs8(spark, sf)

      def stage(name: String, cond: org.apache.spark.sql.Column): Set[Long] = {
        val tmp = work.resolve(s"stage_$name")
        val half = Tables.documents(spark, sf).filter(cond)
        half.coalesce(1).write.parquet(tmp.toString)
        val part = Files.list(tmp).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        Files.copy(Paths.get(part), docsDir.resolve(s"$name.parquet"))
        half.filter(col("lang") === "en").select("doc_id")
          .collect().map(_.getLong(0)).toSet
      }

      val enA = stage("a", col("doc_id") < 250)
      val q1 = VectorizeStream.startWithRpc(spark, docsDir.toString, wordvecs,
        8, store, ckpt, base, lang = "en")
      q1.quiesce()
      assert(hits.keySet.asScala.map(_.toLong) === enA,
        "first run must fetch exactly file a's en docs over RPC")

      val enB = stage("b", col("doc_id") >= 250)
      val q2 = VectorizeStream.startWithRpc(spark, docsDir.toString, wordvecs,
        8, store, ckpt, base, lang = "en") // SAME checkpoint
      q2.quiesce()
      assert(hits.keySet.asScala.map(_.toLong) === (enA ++ enB),
        "resumed run must fetch only file b's docs (no re-poll of file a)")

      // the RPC-composed stream lands exactly the batch q12 vectors
      val batch = graft.queries.ReferenceQueries.q12_doc_vectors(spark, sf)
      val streamed = VectorizeStream.readStore(spark, store)
      assert(streamed.count() === batch.count())
      def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + lit(0.5)) / 1e6
      val s = streamed.select(col("doc_id"), r6(col("known_ratio")).as("kr"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val b = batch.select(col("doc_id"), r6(col("known_ratio")).as("kr"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(s === b)
    }
  }

  test("an RPC worker tokenizes by its own language: de equals the per-language batch core") {
    import spark.implicits._
    // diacritic words the ASCII rule would split ("über" -> "ber"),
    // one doc of known words only and one with none known
    val texts = Seq(
      1L -> "Über die Brücke läuft das Mädchen über",
      2L -> "Grüße aus München, schöne Grüße",
      3L -> "nichts bekannt hier")
    val dim = 3
    val dimByLang = Seq(("de", "über", 1.5, Seq(1.0, 0.0, 0.0)),
      ("de", "brücke", 0.5, Seq(0.0, 1.0, 0.0)),
      ("de", "mädchen", 2.0, Seq(0.0, 0.0, 1.0)),
      ("de", "grüße", 1.0, Seq(1.0, 1.0, 0.0)),
      ("de", "münchen", 3.0, Seq(0.0, 1.0, 1.0)))
      .toDF("lang", "token", "idf", "vec")
    val docs = texts.map { case (id, t) => (id, t, "de", "test", t.length.toLong) }
      .toDF(VectorizeStream.docSchema.fieldNames.toIndexedSeq: _*)
    val work = Files.createTempDirectory("graft_vrpc_de")
    docs.coalesce(1).write.parquet(work.resolve("docs").toString)
    val store = work.resolve("store").toString
    withTextServer(texts.toMap, new ConcurrentHashMap[Long, Integer]()) { base =>
      VectorizeStream.startWithRpc(spark, work.resolve("docs").toString,
        dimByLang.drop("lang"), dim, store, work.resolve("ckpt").toString,
        base, lang = "de").quiesce()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang", "known_ratio", "vec")
        .as[(Long, String, Double, Option[Seq[Double]])].collect().sortBy(_._1).toSeq
    val streamed = rows(VectorizeStream.readStore(spark, store))
    val batch = rows(graft.streaming.DedupStream.storeVectorRows(
      graft.queries.ReferenceQueries.docVectorsByLang(docs, dimByLang, dim)))
    assert(streamed === batch)
    // the per-language rule kept the diacritic words whole: known
    // counts distinct known tokens, total counts every token
    assert(streamed.map(r => r._1 -> r._3) ===
      Seq(1L -> 3.0 / 7, 2L -> 2.0 / 5, 3L -> 0.0))
    assert(streamed.last._4.isEmpty)
  }

  /** Minimal JSON string escaping for the fake server (corpus text is
    * ASCII but quotes/backslashes must not break the payload).
    */
  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
