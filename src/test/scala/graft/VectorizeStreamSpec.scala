package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.VectorizeStream

class VectorizeStreamSpec extends AnyFunSuite with SparkSpec {

  test("streaming vectorizer matches the batch multi-language pipeline (q32 core)") {
    val work = Files.createTempDirectory("graft_vstream")
    val docsDir = work.resolve("docs")
    Files.createDirectory(docsDir)
    Files.createSymbolicLink(docsDir.resolve("documents.parquet"),
      Paths.get(s"$sf/documents.parquet"))
    val store = work.resolve("store").toString
    val ckpt = work.resolve("ckpt").toString

    // the per-language dimension (one table per language, stacked) —
    // the stream vectorizes EVERY language, like the reference's
    // one-worker-per-language fleet in a single plan
    val wvl = graft.queries.ReferenceQueries.wordvecsByLang(spark, sf)

    val q = VectorizeStream.start(spark, docsDir.toString, wvl, 8,
      store, ckpt)
    q.quiesce()

    val streamed = VectorizeStream.readStore(spark, store)
    val batch = graft.queries.ReferenceQueries.docVectorsByLang(
      Tables.documents(spark, sf), wvl, 8)
    assert(streamed.count() === batch.count())

    // values match the oracle-checked batch core (q32 is its
    // hash-verified projection): per-doc lang, known_ratio and l2 norm
    // rounded with the same floor-formula the queries use; VecMath.dot
    // takes the stored vectors as read (widened to double) and
    // storeVectorRows' float32 output alike
    def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + lit(0.5)) / 1e6
    def keyed(df: org.apache.spark.sql.DataFrame) = {
      val v = col("vec")
      df.select(col("doc_id"), col("lang"), r6(col("known_ratio")).as("kr"),
        r6(sqrt(graft.functions.VecMath.dot(v, v))).as("nrm"))
        .collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), Option(r.get(3))))
        .toMap
    }
    val s = keyed(streamed)
    val b = keyed(graft.streaming.DedupStream.storeVectorRows(batch))
    assert(s === b)
    // the corpus is genuinely mixed: several languages flowed through
    assert(streamed.select("lang").distinct().count() >= 3)

    // re-running the same stream (fresh checkpoint) is idempotent
    val q2 = VectorizeStream.start(spark, docsDir.toString, wvl, 8,
      store, work.resolve("ckpt2").toString)
    q2.quiesce()
    assert(VectorizeStream.readStore(spark, store).count() === batch.count())
  }

  /** Stage `half` of the corpus as ONE arrival file `name.parquet`. */
  private def stage(work: java.nio.file.Path, name: String,
      half: DataFrame): Unit = {
    val tmp = work.resolve(s"stage_$name")
    half.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.copy(Paths.get(part), work.resolve("docs").resolve(s"$name.parquet"))
    ()
  }

  /** (doc_id, lang, known_ratio) -> vec of a vector store. */
  private def storeRows(store: String): Map[(Long, String, Double), Option[Seq[Double]]] =
    VectorizeStream.readStore(spark, store)
      .select("doc_id", "lang", "known_ratio", "vec").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)) ->
        Option(r.getSeq[Double](3)))
      .toMap

  test("a crash between a slice write and the stream's commit replays to the same store") {
    val work = Files.createTempDirectory("graft_vcrash")
    Files.createDirectory(work.resolve("docs"))
    val docsDir = work.resolve("docs").toString
    val store = work.resolve("store").toString
    val ckpt = work.resolve("ckpt").toString
    val wvl = graft.queries.ReferenceQueries.wordvecsByLang(spark, sf)
    val docs = Tables.documents(spark, sf)
    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = VectorizeStream.start(spark, docsDir, wvl, 8, store, ckpt)
      q.quiesce()
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
      q
    }

    stage(work, "a", docs.filter(col("doc_id") < 250))
    run()
    stage(work, "b", docs.filter(col("doc_id") >= 250))
    run()
    val uninterrupted = storeRows(store)
    assert(uninterrupted.size === docs.count())

    // the crash: batch 1's slice write had started but the stream never
    // committed the batch — its commit entry is gone, one of its part
    // files never landed, and the writer's _temporary/ is left behind
    Files.delete(Paths.get(ckpt, "commits", "1"))
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".1.crc"))
    val slice = Paths.get(store, "batch=1")
    val parts = Files.list(slice).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parts.nonEmpty, "batch 1 wrote no part file")
    Files.delete(parts.head)
    Files.deleteIfExists(slice.resolve("_SUCCESS"))
    Files.write(Files.createDirectories(slice.resolve("_temporary/0"))
      .resolve("part-stray.parquet"), Array[Byte](1, 2, 3))

    // restart from the SAME checkpoint: batch 1 replays and overwrites
    // its own slice; batch 0's slice is never touched
    val q = run()
    assert(q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq === Seq(1L),
      "the restart must replay exactly the uncommitted batch 1")
    assert(!Files.exists(slice.resolve("_temporary")))
    val replayed = storeRows(store)
    assert(replayed.keySet === uninterrupted.keySet)
    uninterrupted.foreach { case (k, v) =>
      assert(replayed(k).isDefined === v.isDefined &&
        replayed(k).toSeq.flatten.zip(v.toSeq.flatten)
          .forall { case (x, y) => math.abs(x - y) <= 1e-12 },
        s"doc ${k._1}: the replayed vector differs")
    }
  }

  test("a doc re-vectorized in a later batch reads back its new vector") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_vupsert")
    Files.createDirectory(work.resolve("docs"))
    val store = work.resolve("store").toString
    val dim = 4
    val wvl = Seq("tok0", "tok1", "tok2", "tok3").zipWithIndex.map { case (t, i) =>
      ("en", t, 1.0 + i, Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0))
    }.toDF("lang", "token", "idf", "vec")
    def docs(rows: (Long, String)*): DataFrame =
      rows.map { case (id, text) => (id, text, "en", "test", text.length.toLong) }
        .toDF(VectorizeStream.docSchema.fieldNames.toIndexedSeq: _*)
    def vecOf(store: String, id: Long): Seq[Double] =
      VectorizeStream.readStore(spark, store).filter(col("doc_id") === id)
        .select("vec").as[Seq[Double]].collect().toSeq match {
          case Seq(v) => v
          case vs => fail(s"doc $id has ${vs.size} rows in the store")
        }

    stage(work, "a", docs(1L -> "tok0 tok0", 2L -> "tok1"))
    VectorizeStream.start(spark, work.resolve("docs").toString, wvl, dim,
      store, work.resolve("ckpt").toString).quiesce()
    assert(vecOf(store, 1L) === Seq(1.0, 0.0, 0.0, 0.0))
    // doc 1 arrives again with new text; doc 2 is untouched
    stage(work, "b", docs(1L -> "tok2 tok3"))
    VectorizeStream.start(spark, work.resolve("docs").toString, wvl, dim,
      store, work.resolve("ckpt").toString).quiesce()
    assert(vecOf(store, 1L) === Seq(0.0, 0.0, 1.5, 2.0))
    assert(vecOf(store, 2L) === Seq(0.0, 2.0, 0.0, 0.0))
    // a later row wins whole, even when its vector is NULL ($set)
    Seq((1L, "en", 0.0, Option.empty[Seq[Double]]))
      .toDF("doc_id", "lang", "known_ratio", "vec")
      .write.parquet(s"$store/batch=2")
    assert(vecOf(store, 1L) === null)
    assert(VectorizeStream.readStore(spark, store).count() === 2)
  }

  test("a doc with no known token is stored with a NULL vector (F12)") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft_vnull")
    Files.createDirectory(work.resolve("docs"))
    // VectorizeStream's store at DedupStream's `vectors` path, so both
    // stores' readers see the same slices
    val store = work.resolve("vectors").toString
    val wvl = Seq(("en", "tok0", 1.0, Seq(1.0, 0.0)), ("en", "tok1", 2.0, Seq(0.0, 1.0)))
      .toDF("lang", "token", "idf", "vec")
    stage(work, "a", Seq((1L, "tok0 tok1 tok1"), (2L, "nothing here known"))
      .map { case (id, text) => (id, text, "en", "test", text.length.toLong) }
      .toDF(VectorizeStream.docSchema.fieldNames.toIndexedSeq: _*))
    VectorizeStream.start(spark, work.resolve("docs").toString, wvl, 2,
      store, work.resolve("ckpt").toString).quiesce()
    val rows = VectorizeStream.readStore(spark, store)
      .select("doc_id", "known_ratio", "vec")
      .as[(Long, Double, Option[Seq[Double]])].collect().sortBy(_._1).toSeq
    // the vector is stored as float32, the known ratio as computed
    assert(rows === Seq((1L, 2.0 / 3, Some(Seq((1.0 / 3).toFloat.toDouble,
      (4.0 / 3).toFloat.toDouble))), (2L, 0.0, None)))
    assert(graft.streaming.DedupStream.storeVectors(spark, work.toString)
      .select("vec_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("restart from the SAME checkpoint processes only newly-arrived files") {
    val work = Files.createTempDirectory("graft_vresume")
    val docsDir = work.resolve("docs")
    Files.createDirectory(docsDir)
    val store = work.resolve("store").toString
    val ckpt = work.resolve("ckpt").toString
    val wordvecs = graft.queries.ReferenceQueries.wordvecsByLang(spark, sf)

    // stage the corpus as two disjoint halves, arriving one at a time
    def stage(name: String, cond: org.apache.spark.sql.Column): Long = {
      val tmp = work.resolve(s"stage_$name")
      val half = Tables.documents(spark, sf).filter(cond)
      half.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), docsDir.resolve(s"$name.parquet"))
      half.count()
    }
    val n1 = stage("a", col("doc_id") < 250)

    val q1 = VectorizeStream.start(spark, docsDir.toString, wordvecs, 8,
      store, ckpt)
    q1.quiesce()
    val rows1 = q1.recentProgress.map(_.numInputRows).sum
    assert(rows1 === n1, s"first run should ingest exactly file a ($n1 rows)")

    val n2 = stage("b", col("doc_id") >= 250)
    val q2 = VectorizeStream.start(spark, docsDir.toString, wordvecs, 8,
      store, ckpt) // SAME checkpoint — offsets must resume
    q2.quiesce()
    val rows2 = q2.recentProgress.map(_.numInputRows).sum
    assert(rows2 === n2,
      s"resumed run must ingest only file b ($n2 rows), got $rows2 — file a reprocessed?")

    // final store equals the oracle-checked batch pipeline over the full corpus
    val batch = graft.queries.ReferenceQueries.docVectorsByLang(
      Tables.documents(spark, sf), wordvecs, 8)
    assert(VectorizeStream.readStore(spark, store).count() === batch.count())
  }
}
