package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.IdfStream

/** The streamed, state-folding idf table must equal the oracle-checked
  * full recompute (q11) after the corpus arrives file-by-file across
  * multiple micro-batches.
  */
class IdfStreamSpec extends AnyFunSuite with SparkSpec {

  test("multi-batch streamed idf state equals the batch full recompute") {
    val work = Files.createTempDirectory("graft_idfstream")
    val docsDir = work.resolve("docs").toString
    // 3 files -> 3 micro-batches (maxFilesPerTrigger = 1): the state
    // fold must be associative across batch boundaries
    Tables.documents(spark, sf).repartition(3)
      .write.parquet(docsDir)
    val stateDir = work.resolve("state").toString
    val ckpt = work.resolve("ckpt").toString

    val q = IdfStream.start(spark, docsDir, stateDir, ckpt)
    q.quiesce()

    val streamed = IdfStream.currentIdf(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val batch = graft.queries.ReferenceQueries.q11_idf(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("restart from the same checkpoint extends state without double-counting") {
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("graft_idfresume")
    val docsDir = work.resolve("docs").toString
    val stateDir = work.resolve("state").toString
    val ckpt = work.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)

    // first run: half the corpus
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write
      .mode("append").parquet(docsDir)
    IdfStream.start(spark, docsDir, stateDir, ckpt).quiesce()
    val half = IdfStream.currentIdf(spark, stateDir).count()
    assert(half > 0)

    // second run, SAME checkpoint: only the newly-arrived file may
    // contribute a delta — if the first file replayed into NEW state,
    // occurrence counts would double and the comparison below would fail
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write
      .mode("append").parquet(docsDir)
    IdfStream.start(spark, docsDir, stateDir, ckpt).quiesce()

    val streamed = IdfStream.currentIdf(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val full = graft.queries.ReferenceQueries.q11_idf(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.toSeq === full.toSeq)
  }

  test("a batch with no qualifying post, then the rest of the corpus, equals q11 over the union") {
    import org.apache.spark.sql.functions._
    val work = Files.createTempDirectory("graft_idfnoqual")
    val docsDir = work.resolve("docs").toString
    val stateDir = work.resolve("state").toString
    val ckpt = work.resolve("ckpt").toString
    val docs = Tables.documents(spark, sf)
    val qualifies = col("lang") === "en" && col("n_chars") >= 100

    docs.filter(!qualifies).coalesce(1).write.mode("append").parquet(docsDir)
    IdfStream.start(spark, docsDir, stateDir, ckpt).quiesce()
    // no qualifying post yet: every token has 0 occurrences and idf -1
    val first = IdfStream.currentIdf(spark, stateDir)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(first === Set((0L, -1.0)))

    docs.filter(qualifies).coalesce(1).write.mode("append").parquet(docsDir)
    IdfStream.start(spark, docsDir, stateDir, ckpt).quiesce()
    val streamed = IdfStream.currentIdf(spark, stateDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val full = graft.queries.ReferenceQueries.q11_idf(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.nonEmpty && streamed.toSeq === full.toSeq)
  }

  test("currentIdf starts no more jobs over three completed batches than over one") {
    val docs = Tables.documents(spark, sf)
    /** State of `files` completed batches (maxFilesPerTrigger = 1). */
    def stateOf(name: String, files: Int): String = {
      val work = Files.createTempDirectory(name)
      val docsDir = work.resolve("docs").toString
      docs.repartition(files).write.parquet(docsDir)
      val stateDir = work.resolve("state").toString
      IdfStream.start(spark, docsDir, stateDir, work.resolve("ckpt").toString)
        .quiesce()
      stateDir
    }
    val one = stateOf("graft_idfjobs1", 1)
    val three = stateOf("graft_idfjobs3", 3)
    val (_, j1) = jobsDuring(IdfStream.currentIdf(spark, one))
    val (_, j3) = jobsDuring(IdfStream.currentIdf(spark, three))
    info(s"jobs started by currentIdf: ${j1.size} over one batch, ${j3.size} over three")
    assert(j3.size <= j1.size,
      s"currentIdf started ${j3.size} jobs over three batches, ${j1.size} over one")
    // and the three-batch table is still the full recompute
    assert(IdfStream.currentIdf(spark, three).collect().toSeq ===
      IdfStream.currentIdf(spark, one).collect().toSeq)
  }
}
