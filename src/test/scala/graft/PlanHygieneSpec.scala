package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Tokenize
import graft.plans.Partitioning
import graft.queries.{AnalyticsQueries, ReferenceQueries}

/** Physical-plan assertions for the properties the 100 TB posture
  * depends on (SCALE.md): filters reach the parquet scan, dimension
  * joins broadcast, the bucketed range join never degenerates into a
  * nested-loop join. Plans are inspected pre-AQE (`sparkPlan`) so the
  * assertions are stable across runtime re-planning.
  */
class PlanHygieneSpec extends AnyFunSuite with SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.toString

  test("q03 point lookup pushes its IN-list into the parquet scan") {
    // q01's predicate is a synthesized CASE (not pushable by design);
    // q03's isin IS the pushdown case the scan layer must catch.
    val p = ReferenceQueries.q03_point_lookup(spark, sf).queryExecution
      .executedPlan.toString
    assert(p.contains("PushedFilters: [In(l_orderkey"),
      s"IN-list not pushed to parquet in:\n$p")
  }

  test("q06 dimension join is a broadcast hash join") {
    val p = plan(ReferenceQueries.q06_broadcast_join(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("x31 bucketed range join avoids the nested-loop plan") {
    val p = plan(AnalyticsQueries.x31_range_join(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degenerated to a quadratic plan:\n$p")
  }

  test("q16 aggregation runs inside whole-stage codegen") {
    // Codegen spans only appear in the FINAL adaptive plan — execute
    // first, then inspect.
    val df = ReferenceQueries.q16_tpch_q1(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators print with the "*(stageId)" prefix
    assert(p.contains("*("), s"no codegen span in:\n$p")
  }

  test("q15 vocab rank has no single-partition Exchange") {
    // the vocab rank is zipWithIndex-based (GlobalRank); an unpartitioned
    // row_number() window would show up as `Exchange SinglePartition`.
    // Execute first, then assert over the final adaptive plan's own
    // operators (see executedOps — sparkPlan never holds an Exchange).
    val df = ReferenceQueries.q15_doc_vectors_real(spark, sf)
    df.collect()
    val own = executedOps(df)
    assert(!own.exists(_.contains("Exchange SinglePartition")),
      s"single-partition shuffle in q15 plan:\n${own.mkString("\n")}")
  }

  test("q30 map-output pipeline broadcasts the wordvec dim, no single partition") {
    val df = ReferenceQueries.q30_doc_vector_map(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$p")
    // Execute, then assert over the FINAL adaptive plan's own operators
    // (executedOps): sparkPlan never holds an Exchange, so the previous
    // collect-over-sparkPlan form was vacuous (round-17 ADVICE). The
    // walk still skips the cached idf dimension's STORED definition,
    // whose 1-row scalar aggregates (corpus N, idf floor) legitimately
    // carry Exchange SinglePartition — the funnel this test exists to
    // catch (all DATA through one partition) can only live on q30's
    // execution operators.
    df.collect()
    val own = executedOps(df)
    assert(!own.exists(_.contains("Exchange SinglePartition")),
      s"single-partition shuffle in q30 plan:\n${own.mkString("\n")}")
    assert(!own.exists(_.contains("CartesianProduct")))
  }

  test("executedOps sees a single-partition Exchange (negative control)") {
    // Sensitivity pin for the helper the q15/q30 asserts stand on: a
    // deliberately global row_number window MUST surface Exchange
    // SinglePartition through the AQE wrappers, or those asserts are
    // vacuous again (the round-17 ADVICE failure mode).
    import org.apache.spark.sql.expressions.Window
    val df = spark.range(100).toDF("id")
      .withColumn("rk", row_number().over(Window.orderBy("id")))
    df.collect()
    val own = executedOps(df)
    assert(own.exists(_.contains("Exchange SinglePartition")),
      s"helper failed to surface the global-window funnel:\n${own.mkString("\n")}")
  }

  test("wordvecsByLang tokenizes the corpus once: one Generate in the executed plan") {
    // a small corpus is one partition: the per-language window reads the
    // (lang, token) aggregate in the task that counted it
    val df = ReferenceQueries.wordvecsByLang(spark, sf)
    df.collect()
    val ops = executedOps(df)
    assert(ops.count(_.startsWith("Generate")) === 1, ops.mkString("\n"))
    assert(!ops.exists(_.contains("Exchange")), ops.mkString("\n"))
    assert(ops.count(_.startsWith("Window")) === 1, ops.mkString("\n"))
  }

  test("wordvecsByLang above the coalescing floor broadcasts its floors and still tokenizes once") {
    import spark.implicits._
    // the several-partition form: the floors broadcast re-reads the
    // (lang, token) aggregate, whose exchange is reused, alone and under
    // an inner join (which infers a not-null filter on the join keys)
    val vecs = Seq(("en", "column", Seq(1.0, 0.0)), ("en", "window", Seq(0.0, 1.0)))
      .toDF("lang", "token", "vec")
    withConfs("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16b") {
      val alone = ReferenceQueries.wordvecsByLang(spark, sf)
      val joined = alone.drop("vec").join(vecs, Seq("lang", "token"))
      assert(joined.collect().length === 2)
      Seq(alone, joined).foreach { df =>
        df.collect()
        val ops = executedOps(df)
        assert(ops.count(_.startsWith("Generate")) === 1, ops.mkString("\n"))
        assert(!ops.exists(_.startsWith("Window")), ops.mkString("\n"))
        assert(ops.exists(o => o.startsWith("BroadcastExchange") || o.startsWith("ReusedExchange")),
          s"no floors broadcast:\n${ops.mkString("\n")}")
      }
    }
  }

  test("parallelized reads a shuffled frame's partitions off the plan: it starts no job") {
    // an aggregate puts a shuffle under the frame; counting partitions
    // by executing it would run that shuffle's stage as a job
    val docs = spark.range(0, 400).toDF("doc_id")
      .withColumn("text", concat(lit("w"), (col("doc_id") % 7).cast("string")))
      .groupBy("doc_id").agg(max(col("text")).as("text"))
    val (out, jobs) = jobsDuring(Partitioning.parallelized(docs))
    assert(jobs.isEmpty, "parallelized executed its input")
    // the shuffle plans spark.sql.shuffle.partitions (8) partitions,
    // at least half the cores: no redistribution
    assert(out eq docs)
  }

  test("parallelized passes a streaming frame through: docTokens runs inside a stream") {
    import spark.implicits._
    // a streaming frame has no physical plan to read partitions off;
    // asking it for one fails the query
    val in = java.nio.file.Files.createTempDirectory("graft_tok_stream")
      .resolve("in").toString
    Seq((1L, "Alpha beta", "en"), (2L, "beta gamma, gamma", "en"))
      .toDF("doc_id", "text", "lang").write.parquet(in)
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING").parquet(in)
    assert(Partitioning.parallelized(docs) eq docs)
    val q = ReferenceQueries.docTokens(docs, persist = false).writeStream
      .format("memory").queryName("graft_doc_tokens_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.quiesce()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    assert(spark.table("graft_doc_tokens_stream").as[(Long, String)]
      .collect().sorted.toSeq === Seq(1L -> "alpha", 1L -> "beta",
        2L -> "beta", 2L -> "gamma", 2L -> "gamma"))
  }

  /** Four docs in en/es/de as one parquet file (one partition), and a
    * (lang, token, idf, vec) dimension of dim 2 for them.
    */
  private def smallDocsAndDim(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dv_one")
      .resolve("docs").toString
    Seq((1L, "alpha beta alpha gamma", "en"), (2L, "beta gamma delta", "en"),
      (3L, "hola mundo hola", "es"), (4L, "nothing known here", "de"))
      .toDF("doc_id", "text", "lang").coalesce(1).write.parquet(dir)
    val docs = spark.read.parquet(dir)
    assert(docs.rdd.getNumPartitions === 1)
    val dim = Seq(("en", "alpha", 1.5, Seq(1.0, 0.0)),
      ("en", "gamma", 0.5, Seq(0.0, 1.0)), ("es", "hola", 2.0, Seq(1.0, 1.0)))
      .toDF("lang", "token", "idf", "vec")
    (docs, dim)
  }

  test("docVectorsByLang over a one-partition input: one doc_id exchange plus the dimension broadcast") {
    // a floor below the input's size: the input is redistributed by doc_id
    withConfs("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16b") {
      val (docs, dim) = smallDocsAndDim()
      val df = ReferenceQueries.docVectorsByLang(docs, dim, 2)
      df.collect()
      val ops = executedOps(df)
      val shuffles = ops.filter(_.startsWith("Exchange"))
      assert(shuffles.size === 1, s"expected one shuffle:\n${ops.mkString("\n")}")
      assert("""^Exchange hashpartitioning\(doc_id#\d+L, \d+\)""".r
        .findFirstIn(shuffles.head).isDefined,
        s"the one shuffle is not keyed on doc_id alone: ${shuffles.head}")
      assert(ops.count(_.startsWith("BroadcastExchange")) === 1,
        s"expected the dimension broadcast:\n${ops.mkString("\n")}")
    }
  }

  test("docVectorsByLang over a small input plans no exchange but the dimension broadcast") {
    // under the coalescing floor the input is one declared partition:
    // the token count, tf window and vector sum need no exchange
    val (docs, dim) = smallDocsAndDim()
    val df = ReferenceQueries.docVectorsByLang(docs, dim, 2)
    val rows = df.select("doc_id", "known").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    assert(rows === Seq(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
    val ops = executedOps(df)
    assert(ops.count(_.startsWith("Exchange")) === 0,
      s"expected no shuffle:\n${ops.mkString("\n")}")
    assert(ops.count(_.startsWith("BroadcastExchange")) === 1,
      s"expected the dimension broadcast:\n${ops.mkString("\n")}")
  }

  test("wordvecsByLang inner-joined on (lang, token) tokenizes the corpus once") {
    import spark.implicits._
    // an inner join infers a not-null filter on the join keys above the
    // IDF table; pushed below the floors window, it must leave one
    // tokenize pass (the case above the floor covers the shared exchange)
    val vecs = Seq(("en", "column", Seq(1.0, 0.0)), ("en", "window", Seq(0.0, 1.0)))
      .toDF("lang", "token", "vec")
    val df = ReferenceQueries.wordvecsByLang(spark, sf).drop("vec")
      .join(vecs, Seq("lang", "token"))
    // an empty join would let AQE drop the IDF plan altogether
    assert(df.collect().length === 2)
    val ops = executedOps(df)
    assert(ops.count(_.startsWith("Generate")) === 1, ops.mkString("\n"))
  }

  test("docVectorsByLang over wordvecsByLang tokenizes the dimension's corpus once") {
    // two tokenize passes in all: the docs' own, and the IDF table's
    // under the dimension broadcast (its left join infers the filter)
    val docs = Tables.documents(spark, sf)
    val df = ReferenceQueries.docVectorsByLang(docs,
      ReferenceQueries.wordvecsByLang(spark, sf), ReferenceQueries.VecDim)
    df.collect()
    val ops = executedOps(df)
    assert(ops.count(_.startsWith("Generate")) === 2, ops.mkString("\n"))
  }

  /** Two small frames checkpointed by `pin`, each from an adaptive
    * plan that shuffles (the Spark 4.1 case whose checkpoint loses its
    * partitioning), and the exchanges that a doc-keyed aggregate over
    * the first and a doc_id join of both plan. The join is kept off
    * broadcast, so it shows the exchanges a sort-merge join needs.
    */
  private def shufflesOverPins(
      pin: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): (Int, Int) = {
    val a = pin(spark.range(0, 300).toDF("doc_id")
      .withColumn("w", concat(lit("w"), (col("doc_id") % 11).cast("string")))
      .repartition(col("doc_id")))
    // a computed doc_id: a range's own ordering would spare the
    // aggregate its shuffle and leave the frame several partitions wide
    val b = pin(spark.range(0, 100).select((col("id") * 3).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n")))
    try {
      def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
        df.collect()
        executedOps(df).count(_.startsWith("Exchange"))
      }
      val agg = a.groupBy("doc_id").agg(max(col("w")).as("w"))
      val joined = withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = a.join(b, Seq("doc_id"))
        assert(j.count() === 100)
        shuffles(j)
      }
      (shuffles(agg), joined)
    } finally { Partitioning.unpin(a); Partitioning.unpin(b) }
  }

  private val batchPin = Partitioning.pin _
  private val plainCheckpoint =
    (df: org.apache.spark.sql.DataFrame) => df.localCheckpoint(eager = true)

  test("a doc-keyed aggregate and join over two small pins plan no shuffle") {
    val (agg, join) = shufflesOverPins(batchPin)
    assert(agg === 0, s"the aggregate over a small pin shuffled ($agg exchanges)")
    assert(join === 0, s"the join of two small pins shuffled ($join exchanges)")
    // what the pins save: a plain checkpoint of the same frames shuffles
    assert(shufflesOverPins(plainCheckpoint) === ((1, 2)))
  }

  test("pins above the coalescing floor, or with coalescing off, keep a plain checkpoint's exchanges") {
    Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16b",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false").foreach { kv =>
      withConfs(kv) {
        val pinned = shufflesOverPins(batchPin)
        assert(pinned === shufflesOverPins(plainCheckpoint), s"with $kv")
        assert(pinned._2 > 0, s"with $kv the join of two pins planned no exchange")
      }
    }
  }

  /** The shuffle exchanges of `df`'s executed plan, after running it. */
  private def shuffleOps(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    df.collect()
    executedOps(df).filter(_.startsWith("Exchange"))
  }

  private val docIdRedistribution =
    """Exchange hashpartitioning\(doc_id#\d+L, \d+\), REPARTITION_BY_COL""".r

  test("idfCounts over a small file scan plans no exchange and sizes it without a job") {
    val (docs, _) = smallDocsAndDim()
    val (small, jobs) = jobsDuring(Partitioning.fitsOnePartition(docs))
    assert(small, "a four-row scan was judged above the coalescing floor")
    assert(jobs.isEmpty, s"sizing the scan started ${jobs.size} jobs")
    val shuffles = shuffleOps(ReferenceQueries.idfCounts(docs, Seq("lang"),
      Tokenize.tokens(col("text")), lit(true)))
    assert(shuffles.isEmpty, shuffles.mkString("\n"))
  }

  test("idfCounts redistributes a small scan by doc_id above the floor or with coalescing off") {
    val (docs, _) = smallDocsAndDim()
    Seq("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16b",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false").foreach { kv =>
      withConfs(kv) {
        val (small, jobs) = jobsDuring(Partitioning.fitsOnePartition(docs))
        assert(!small && jobs.isEmpty, s"with $kv")
        val shuffles = shuffleOps(ReferenceQueries.idfCounts(docs, Seq("lang"),
          Tokenize.tokens(col("text")), lit(true)))
        assert(shuffles.exists(docIdRedistribution.findFirstIn(_).isDefined),
          s"with $kv the scan was not redistributed by doc_id:\n${shuffles.mkString("\n")}")
      }
    }
  }

  test("a posting over a small file scan keeps its doc_id distribution for doc-keyed consumers") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val (docs, _) = smallDocsAndDim()
    // q10's shape over docTokenCounts: a (doc_id, token) count and a
    // doc_id window over the posting, both satisfied by the one
    // redistribution under it
    val posting = ReferenceQueries.docTokens(docs, persist = false)
    val tf = posting.groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy("doc_id")))
    val shuffles = shuffleOps(tf)
    assert(shuffles.size === 1, shuffles.mkString("\n"))
    assert(docIdRedistribution.findFirstIn(shuffles.head).isDefined, shuffles.head)
    // a frame that already reports one partition is still returned as is
    val one = docs.coalesce(1)
    assert(one.queryExecution.executedPlan.outputPartitioning === SinglePartition)
    assert(Partitioning.parallelized(one) eq one)
  }

  test("parallelized returns a one-partition pin untouched and starts no job") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val docs = batchPin(spark.range(0, 50).toDF("doc_id")
      .withColumn("text", lit("alpha beta")).repartition(col("doc_id")))
    try {
      assert(docs.queryExecution.executedPlan.outputPartitioning === SinglePartition)
      val (out, jobs) = jobsDuring(Partitioning.parallelized(docs))
      assert(out eq docs, "parallelized re-spread a one-partition frame")
      assert(jobs.isEmpty, s"parallelized started ${jobs.size} jobs")
    } finally Partitioning.unpin(docs)
  }

  test("parallelized returns a coalesce(1) over an adaptive plan untouched") {
    // the adaptive wrapper reports no partitioning until it runs; the
    // plan it wraps ends in the one partition the frame declares
    val docs = spark.range(0, 400).toDF("doc_id")
      .withColumn("text", concat(lit("w"), (col("doc_id") % 7).cast("string")))
      .groupBy("doc_id").agg(max(col("text")).as("text"))
      .coalesce(1)
    val (out, jobs) = jobsDuring(Partitioning.parallelized(docs))
    assert(out eq docs, "parallelized re-spread a frame declared one partition")
    assert(jobs.isEmpty, s"parallelized started ${jobs.size} jobs")
  }

  /** Like [[executedOps]], but walking into each distinct session
    * cache's stored plan once, so the work a cached table did counts.
    */
  private def opsWithCaches(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val seen = scala.collection.mutable.Set.empty[SparkPlan]
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec =>
        val cached = m.relation.cachedPlan
        if (seen.add(cached)) m +: walk(cached) else Seq(m)
      case other => other +: other.children.flatMap(walk)
    }
    df.collect()
    walk(df.queryExecution.executedPlan).map(_.simpleString(200))
  }

  test("the single-language IDF table tokenizes the corpus once: one Generate, caches included") {
    val ops = opsWithCaches(ReferenceQueries.idfTableOf(Tables.documents(spark, sf)))
    assert(ops.count(_.startsWith("Generate")) === 1, ops.mkString("\n"))
  }

  test("the IDF tables and their consumers over a small corpus plan no shuffle, caches included") {
    // one declared partition from the scan up: the token count, the
    // floors window, the doc-vector sum and the final sort need no
    // exchange (3, 2, 2, 3 and 6 while the floors were a broadcast over
    // a token exchange)
    Seq("q11_idf", "q12_doc_vectors", "q30_doc_vector_map", "q32_multilang_vectors",
      "x52_incremental_idf").foreach { name =>
      val ops = opsWithCaches(SparkEntry.queries(name)(spark, sf))
      assert(!ops.exists(_.startsWith("Exchange")), s"$name:\n${ops.mkString("\n")}")
    }
  }

  test("wordvecsByLang joined to a cached vector frame starts a bounded number of jobs") {
    import spark.implicits._
    val vecs = Seq(("en", "column", Seq(1.0, 0.0)), ("es", "datos", Seq(0.0, 1.0)))
      .toDF("lang", "token", "vec").persist()
    try {
      vecs.count()
      def dimension() = ReferenceQueries.wordvecsByLang(spark, sf).drop("vec")
        .join(vecs, Seq("lang", "token")).count()
      dimension() // the first load of the table infers its schema
      val (_, jobs) = jobsDuring(dimension())
      // 2 measured on 8 cores; 7 while the floors were a broadcast over
      // a token exchange
      assert(jobs.size <= 4, s"${jobs.size} jobs: " +
        jobs.map(_.stageInfos.map(_.name).mkString(" | ")).mkString("; "))
    } finally vecs.unpersist(blocking = true)
  }

  test("q29 lang-dispatched tokenizer is a pure projection (no UDF, no shuffle before sort)") {
    val p = plan(ReferenceQueries.q29_lang_tokens(spark, sf))
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"UDF in q29 plan:\n$p")
    // exactly the one Exchange the final orderBy needs
    assert("Exchange".r.findAllIn(p).size <= 1, s"unexpected shuffles:\n$p")
  }

  test("x47 repetition signals never build a quadratic plan") {
    val p = plan(AnalyticsQueries.x47_repetition(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic plan in x47:\n$p")
  }

  test("x41 salted agg keeps both phases map-side combinable") {
    val p = plan(AnalyticsQueries.x41_salted_agg(spark, sf))
    // partial -> final HashAggregate pairs for both groupBys
    assert("HashAggregate".r.findAllIn(p).size >= 4, s"plan:\n$p")
  }

  test("q31 CJK tokenizer is a pure projection (no UDF)") {
    val p = plan(ReferenceQueries.q31_cjk_tokens(spark, sf))
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"UDF in q31 plan:\n$p")
  }

  test("x141/x142 rule batteries are pure map stages (no UDF, one sort Exchange)") {
    // the quality-rule batteries must stay shuffle-free scans: per-row
    // HOFs only, with exactly the one Exchange their final orderBy
    // needs — the 100 TB posture is "a pure map stage" (COVERAGE.md)
    for (df <- Seq(
        graft.queries.ExtensionQueries.x141_gopher_rules(spark, sf),
        graft.queries.ExtensionQueries.x142_c4_line_rules(spark, sf))) {
      val p = plan(df)
      assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
        s"UDF in rule-battery plan:\n$p")
      assert("Exchange".r.findAllIn(p).size <= 1, s"unexpected shuffles:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("Join"),
        s"rule battery grew a join:\n$p")
    }
  }

  test("x102 PRF feedback fetch is a pushed point read of the forward projection") {
    // round-13 verdict ask #2: candidate generation must read the
    // artifact's doc_id-clustered forward projection with the 10
    // feedback ids pushed into the parquet scan — not a linear pass
    // over the token-clustered posting. executedPlan (not sparkPlan):
    // PushedFilters render at the scan layer.
    // the artifact must actually SHIP the forward projection — the
    // pushed filter alone also matches a posting-fallback scan
    // (In(doc_id) pushes into whichever parquet byDoc resolves to,
    // it just can't prune the token-clustered layout)
    assert(graft.ml.Bm25Index.loadOrPublish(spark, sf).forward.nonEmpty,
      "published bm25 artifact is missing its forward table")
    val p = graft.queries.ExtensionQueries.x102_prf_expansion(spark, sf)
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*In\\(doc_id".r.findFirstIn(p).nonEmpty,
      s"feedback doc ids not pushed into the forward scan:\n$p")
  }

  test("x144/x146 bitext: en shard broadcast, text column never read, no scalar UDF") {
    // the shard-pair product is the DECLARED shape (one broadcast
    // nested-loop per shard pair, CCMatrix's sharding) — what must
    // never appear is an unbroadcast cartesian, a UDF, or a corpus
    // tokenize; and the documents scan supplies ONLY (doc_id, lang) —
    // mining never reads text, so the corpus-width column stays on
    // disk (the ReadSchema check the brief calls out)
    for (df <- Seq(
        graft.queries.ExtensionQueries.x144_bitext_mining(spark, sf),
        graft.queries.ExtensionQueries.x146_bitext_extract(spark, sf))) {
      val p = plan(df)
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"en shard is not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"unbroadcast product:\n$p")
      assert(!p.toLowerCase.contains("scalaudf") &&
        !p.contains("BatchEvalPython"), s"UDF in bitext plan:\n$p")
      val docScans = "ReadSchema: [^\\n]*".r.findAllIn(p)
        .filter(_.contains("lang")).toSeq
      assert(docScans.nonEmpty, s"no documents scan found:\n$p")
      docScans.foreach(s => assert(!s.contains("text"),
        s"bitext plan reads the text column it never uses: $s"))
    }
  }

  test("x147 ANN extraction: bounded probes only — no pair product, no UDF") {
    // the serving-shape contract: three bounded IVF probes plus
    // broadcast joins of bounded frames — the only nested-loop joins
    // allowed are the centroid probes (broadcast of the ≤64-row
    // centroid dimension), never an unbroadcast product, and the
    // corpus never meets itself pairwise
    val p = plan(graft.queries.ExtensionQueries
      .x147_bitext_extract_ann(spark, sf))
    assert(!p.contains("CartesianProduct"), s"unbroadcast product:\n$p")
    assert(!p.toLowerCase.contains("scalaudf") &&
      !p.contains("BatchEvalPython"), s"UDF in x147 plan:\n$p")
  }

  test("q34 ko/ar tokenizer dispatch is a pure projection (no UDF, no pre-sort shuffle)") {
    val p = plan(ReferenceQueries.q34_lang_tokens_koar(spark, sf))
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"UDF in q34 plan:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"unexpected shuffles before the orderBy:\n$p")
    assert(!p.contains("Join"), s"q34 grew a join:\n$p")
  }

  test("x60 incremental dedup joins candidates by hash, never all-pairs") {
    val p = plan(graft.queries.ExtensionQueries.x60_incremental_dedup(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic plan in x60:\n$p")
  }

  test("x77 dup spans: no self-join — pairwise structure stays in the gram dimension") {
    val p = plan(graft.queries.ExtensionQueries.x77_dup_spans(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic plan in x77:\n$p")
    // two equi-joins only: duplicated-gram dimension + span-text reassembly
    assert("SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r.findAllIn(p).size <= 2,
      s"unexpected extra joins in x77:\n$p")
  }

  test("x86 span removal: no self-join, no window — surgery is per-row array arithmetic") {
    val p = plan(graft.queries.ExtensionQueries.x86_span_removal(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic plan in x86:\n$p")
    // exactly x77's island window + the keeper's span_hash-partitioned
    // min (NOT a groupBy re-joined against spans, which would plan the
    // whole span subtree twice)
    assert("Window".r.findAllIn(p).size <= 2,
      s"unexpected extra window in x86:\n$p")
    // the gram explode appears exactly as often as in x77 itself (its
    // two consumers — dup dimension + hits — recompute the cheap
    // codegen'd explode rather than materialize a corpus-sized frame);
    // a keeper-by-join regression would double this
    assert("Generate".r.findAllIn(p).size <= 2,
      s"span subtree planned more than twice in x86:\n$p")
  }

  test("x89 z-order layout: extent agg broadcasts; interleave stays codegen, no UDF") {
    val p = plan(AnalyticsQueries.x89_zorder_layout(spark, sf))
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("BatchEvalPython"),
      s"UDF in x89 plan:\n$p")
    // the 1-row extent frame must ride a broadcast, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"extent frame not broadcast in x89:\n$p")
    // bucket assignment is a z-prefix, never a global-sort ntile
    assert(!p.contains("Window"), s"global-order window in x89 plan:\n$p")
  }

  test("x91 bm25: top-k is a TakeOrdered, constants broadcast, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x91_bm25(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 should be a TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row consts frame must ride a broadcast:\n$p")
  }

  test("x104 unimax: corpus agg map-side combines; windows only above the lang dimension") {
    val df = graft.queries.ExtensionQueries.x104_unimax(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"),
      s"the 1-row totals frame must ride a broadcast:\n$p")
    // the per-language aggregate must partial-aggregate before its
    // exchange — the corpus-side shuffle carries ≤ #langs rows per task
    assert(p.contains("HashAggregate"), s"expected hash agg:\n$p")
    // the unpartitioned windows are legal ONLY because they run above
    // the per-language aggregate (≤ 5 rows); the corpus never reaches
    // a window (exactly one window subtree, above the agg)
    assert(p.contains("Window"), s"expected the allocator windows:\n$p")
  }

  test("x105 dsir: top-k is a TakeOrdered, bucket dims broadcast, no global window") {
    val p = plan(graft.queries.ExtensionQueries.x105_dsir(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 should be a TakeOrdered, not a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the 64-row bucket dimensions must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in x105:\n$p")
    assert(!p.contains("Window"),
      s"ranking must be the TakeOrdered, never a corpus window:\n$p")
  }

  test("x106 phrase: candidate set broadcasts, tokenize above the join, no cartesian") {
    val df = graft.queries.ExtensionQueries.x106_phrase(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in x106:\n$p")
    // the bounded candidate set must ride a broadcast join so the
    // per-row bigram verify runs only on admitted docs
    assert(p.contains("BroadcastHashJoin"),
      s"candidate set should broadcast:\n$p")
    // regression pin: an n_occ filter expressed over array-HOF columns
    // is a pushable predicate, and Catalyst pushed it below the
    // candidate join — inlining the whole tokenize+bigram pipeline
    // into the corpus scan's Filter (measured 3.8 s vs 0.5 s). The
    // aggregate form must keep tokenization out of every Filter node.
    p.linesIterator.filter(_.contains("Filter")).foreach { l =>
      assert(!l.contains("split(lower"),
        s"tokenize leaked into a Filter (pushdown regression):\n$l")
    }
  }

  test("x107 knn graph: candidates via (band,bucket) equi-join, per-node window, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x107_knn_graph(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"candidate generation must never be all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in x107:\n$p")
  }

  test("x108 pmi: vocab dim broadcasts, pair join keys on doc_id, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x108_pmi(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"the pair space must stay per-doc (doc_id equi-join):\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the |V|-row vocabulary dimension must broadcast:\n$p")
  }

  test("x109 curriculum: cuts broadcast, no corpus window, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x109_curriculum(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x109:\n$p")
    assert(!p.contains("Window"),
      s"phase assignment must be a broadcast-cuts projection, not a window:\n$p")
  }

  test("x110 split leakage: id-keyed joins only, no cartesian, no corpus window") {
    val p = plan(graft.queries.ExtensionQueries.x110_split_leakage(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x110:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in x110:\n$p")
    assert(!p.contains("Window"),
      s"the audit is joins + aggregates, never a corpus window:\n$p")
  }

  test("x111 boolean: pure posting algebra — no cartesian, no window, no text read") {
    val df = graft.queries.ExtensionQueries.x111_boolean(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"cartesian in x111:\n$p")
    assert(!p.contains("Window"), s"boolean retrieval needs no window:\n$p")
    // the answer never leaves the index: no tokenizer anywhere in the
    // query-side plan (the posting build lives behind the cache)
    p.linesIterator.filter(l => l.contains("Filter") || l.contains("Project"))
      .foreach(l => assert(!l.contains("split(lower"),
        s"text tokenization leaked into the boolean query:\n$l"))
  }

  test("x112 repetition: per-doc HOFs + fine-keyed agg — no join, no window, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x112_repetition(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x112:\n$p")
    assert(!p.contains("Window"),
      s"the bigram mode is a two-level agg, never a corpus window:\n$p")
    // the scalars ride the exploded rows — no join back onto the corpus
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"x112 should be a single-pass agg, no join:\n$p")
  }

  test("x113 spellfix: deletion-key equi-join with the query side broadcast, never vocab×query") {
    val p = plan(graft.queries.ExtensionQueries.x113_spellfix(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x113:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in x113:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the literal query frame must broadcast against the variant keys:\n$p")
  }

  test("x114 proximity: conjunction candidates prune before tokenize, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x114_proximity(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x114:\n$p")
    // x106's pushdown pin: position extraction must never leak into a
    // corpus-scan Filter below the candidate join
    p.linesIterator.filter(_.contains("Filter")).foreach { l =>
      assert(!l.contains("split(lower"),
        s"tokenize leaked into a Filter (pushdown regression):\n$l")
    }
  }

  test("x115 covisit: session-keyed equi pair join, entity-partitioned window, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x115_covisit(spark, sf))
    assert(!p.contains("CartesianProduct"),
      s"the pair space must stay per-session (equi-join):\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in x115:\n$p")
  }

  test("x116 keywords: doc-partitioned window over the shared posting, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x116_keywords(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x116:\n$p")
    // the ranking window must partition by doc_id — never a global sort
    // of the scored posting (the single-partition WindowExec trap)
    assert(!p.linesIterator.exists(l =>
      l.contains("Window") && !l.contains("doc_id")),
      s"window must partition by doc_id:\n$p")
  }

  test("x117 snippet: conjunction candidates prune before the window scan, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x117_snippet(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x117:\n$p")
    p.linesIterator.filter(_.contains("Filter")).foreach { l =>
      assert(!l.contains("split(lower"),
        s"tokenize leaked into a Filter (pushdown regression):\n$l")
    }
  }

  test("x118 label propagation: id-keyed joins over the cached graph, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x118_label_prop(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x118:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in x118:\n$p")
  }

  test("x119 quality canonical: closure + cluster-partitioned window, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x119_quality_canonical(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x119:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in x119:\n$p")
  }

  test("x120 item similarity: dimension-keyed joins only, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x120_item_sim(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x120:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in x120:\n$p")
  }

  test("x121 hard negatives: bounded-leg anti-join, no cartesian beyond the 4-row query broadcast") {
    val p = plan(graft.queries.ExtensionQueries.x121_hard_negatives(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x121:\n$p")
  }

  test("x123 max-passage: TakeOrdered top-k, doc-partitioned argmax, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x123_passage_bm25(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x123:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the doc top-k should be a TakeOrdered, not a global sort:\n$p")
  }

  test("x126 KN bigram: model dims broadcast, no cartesian beyond the 1-row T scalar") {
    val p = plan(graft.queries.ExtensionQueries.x126_kn_bigram(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x126:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-sized cw1/cont dims must broadcast:\n$p")
  }

  test("x127 weighted cosine: posting self-join only — no cartesian pair blowup") {
    // the 1-row corpus-N scalar legitimately plans as a broadcast
    // nested-loop cross (the q30 precedent); only an unbroadcast
    // CartesianProduct would be a scale bug
    val p = plan(graft.queries.ExtensionQueries.x127_tfidf_cosine(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x127:\n$p")
  }

  test("x131 novelty: rides the 8-gram posting — one df agg + equi-join, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x131_novelty(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x131:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"BNLJ in x131:\n$p")
  }

  test("x132 z-fusion: bounded legs + 1-row stat broadcasts, no cartesian") {
    val p = plan(graft.queries.ExtensionQueries.x132_z_fusion(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x132:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"fused top-k should be a TakeOrdered:\n$p")
  }

  test("x134 QL retrieval: term-filtered posting, TakeOrdered, no cartesian") {
    // the ≤3-row query-term dimension legitimately crosses the
    // candidate frame (absent terms must contribute background mass);
    // only an unbroadcast CartesianProduct would be a scale bug
    val p = plan(graft.queries.ExtensionQueries.x134_ql_retrieval(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x134:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"QL top-k should be a TakeOrdered:\n$p")
  }

  test("x96 indexed bm25: TakeOrdered, no cartesian, df broadcast") {
    val p = plan(graft.queries.ExtensionQueries.x96_bm25_indexed(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 should be a TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in x96:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the terms-sized df dimension must broadcast:\n$p")
  }

  test("x97 indexed hybrid: no cartesian beyond the 1-row broadcasts, windows bounded") {
    val p = plan(graft.queries.ExtensionQueries.x97_hybrid_indexed(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x97:\n$p")
    // probe/fuse windows run over bounded frames (k-list centroids ×
    // queries; ≤40 fused rows) — corpus-sized data never enters a
    // single-partition window (the corpus-shaped reads are the coded
    // artifact scan and the shortlist re-rank join)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"x97's dimension frames must broadcast:\n$p")
  }

  test("x100 batch bm25: query-partitioned top-k, no corpus single-partition exchange") {
    val p = plan(graft.queries.ExtensionQueries.x100_bm25_batch(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x100:\n$p")
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"corpus-sized single-partition exchange in x100:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"query dimension and df must broadcast in x100:\n$p")
  }

  test("x98 batch mmr: candidate window partitions by query, greedy stays in flatMapGroups") {
    val p = plan(graft.queries.ExtensionQueries.x98_mmr_batch(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in x98:\n$p")
    // the top-20 window must partition by query_id, never a global
    // single-partition sort over the corpus × queries frame
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"corpus-sized single-partition exchange in x98:\n$p")
    assert(p.contains("MapGroups"),
      s"the greedy must run per group in executors:\n$p")
  }

  test("x78 fuzzy pairs: deletion-key equi-join, never the quadratic verify") {
    val p = plan(graft.queries.ExtensionQueries.x78_fuzzy_pairs(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"x78 must candidate-generate via the variant-key equi-join; the all-pairs " +
        s"levenshtein scan is the oracle's job, not the engine's:\n$p")
  }

  test("x81 shard export never sorts through a single partition") {
    val p = plan(graft.queries.ExtensionQueries.x81_shuffle_shards(spark, sf))
    assert(!p.contains("Exchange SinglePartition"),
      s"x81's per-shard window must partition by shard, not globally:\n$p")
  }

  test("x83 source overlap roots at the shared shingle posting cache") {
    val df = graft.queries.ExtensionQueries.x83_source_overlap(spark, sf)
    df.count() // force cache materialization through the shared entry
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"x83 must read the shared x02/x04 posting cache, not re-tokenize:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"quadratic plan in x83:\n$p")
  }

  test("x84 source card composes cached frames: posting root, broadcast joins only") {
    val df = graft.queries.ExtensionQueries.x84_card_sources(spark, sf)
    df.count() // materialize through the shared posting entry
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"x84's overlap leg must read the shared posting cache:\n$p")
    // BroadcastNestedLoopJoin IS expected once: x80's 1-row totals
    // frame rides a broadcast cross join. CartesianProduct (unbroadcast
    // quadratic) never is.
    assert(!p.contains("CartesianProduct"),
      s"quadratic plan in x84:\n$p")
    // the final composition join (mix ⋈ overlap summary, both
    // source-grain) must broadcast; x83's posting self-join inside the
    // overlap leg is the one legitimate shuffle merge
    assert(p.contains("BroadcastHashJoin [source"),
      s"x84's source-grain composition join must broadcast:\n$p")
  }

  test("x61 chunking is per-doc HOFs — no join, no quadratic plan") {
    val p = plan(graft.queries.ExtensionQueries.x61_chunks(spark, sf))
    assert(!p.contains("Join"), s"unexpected join in x61 plan:\n$p")
    // exactly the one Exchange the final orderBy needs
    assert("Exchange".r.findAllIn(p).size <= 1, s"unexpected shuffles:\n$p")
  }

  test("x63/x64/x65 sketch queries scan their source exactly once") {
    // the slice dimension is a GROUP KEY, not a per-slice filter — N
    // ingest slices must not mean N source scans
    Seq(graft.queries.AnalyticsQueries.x63_sketch_distinct(spark, sf),
      graft.queries.AnalyticsQueries.x64_sketch_quantiles(spark, sf),
      graft.queries.AnalyticsQueries.x65_sketch_topk(spark, sf))
      .foreach { df =>
        val p = plan(df)
        assert("FileScan".r.findAllIn(p).size === 1,
          s"expected exactly one source scan:\n$p")
        // TypedImperativeAggregates must plan as ObjectHashAggregate
        // with a partial phase — the map-side combine is what keeps a
        // sketch build to one narrow shuffle at 100 TB (SortAggregate
        // here would mean a sort per group build)
        assert(p.contains("ObjectHashAggregate"),
          s"sketch agg not object-hash aggregated:\n$p")
        assert(p.contains("partial_"),
          s"no map-side partial sketch phase:\n$p")
      }
  }

  test("x67 probes the bloom filter in-plan; the totals leg stays join-free") {
    val p = plan(graft.queries.ExtensionQueries.x67_contam_bloom(spark, sf))
    // the pre-filter is the point: the probe expression must sit in
    // the hits leg of the plan, upstream of the exact semi-join
    assert(p.contains("graft_bloom_might_contain"),
      s"bloom probe missing from x67 plan:\n$p")
    // exactly two joins total — the hits leg's exact semi-join and
    // the totals⋈hits assembly. A third join means totals stopped
    // being the join-free groupBy of the raw posting.
    val joins = "Join".r.findAllIn(p).size
    assert(joins === 2, s"expected exactly 2 joins in x67 plan, got $joins:\n$p")
  }

  test("x69 semantic dedup blocks on the cluster equi-join, never all-pairs") {
    val p = plan(graft.queries.ExtensionQueries.x69_semantic_dedup(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cluster blocking degenerated to a quadratic plan:\n$p")
  }

  test("x68 weighted sample plans as bounded agg, not a per-source window sort") {
    val p = plan(graft.queries.ExtensionQueries.x68_weighted_sample(spark, sf))
    assert(!p.contains("Window"),
      s"x68 degenerated to the window form:\n$p")
  }

  test("Pipeline dup edges scan ONLY the survivor frame, both measures off one pair frame") {
    // round-6 verdict #1: the pair core must take the run-private
    // survivor corpus as its scan root — a full-corpus parquet rescan
    // (the old x02 + semi-join shape) would show up here as a
    // FileSourceScan / parquet relation in the pair plan.
    import spark.implicits._
    val survivors = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    val (edges, sh) = Pipeline.dupEdgesOf(survivors)
    try {
      val p = edges.queryExecution.optimizedPlan.toString
      assert(!p.toLowerCase.contains("parquet") && !p.contains("FileScan"),
        s"pair input is not the survivor frame:\n$p")
      // round-8 verdict #1: the containment measure must be a FILTER
      // over the same pair frame as the Jaccard measure — a
      // per-measure union would re-run the posting SELF-join (the
      // quadratic-capacity step) and stitch a Union on top. Pin:
      // exactly ONE self-join (the d1<d2 shingle-equality join), no
      // Union. (The df-cap join legitimately repeats per consumer of
      // the uncached shr subtree — that's a linear scan of the
      // persisted posting, not pair blowup.)
      assert(!p.contains("Union"),
        s"cross-measure edges must not union two pair frames:\n$p")
      val selfJoins = "Join Inner, \\(\\(d1#\\d+L < d2#\\d+L\\)".r.findAllIn(p).size
      assert(selfJoins === 1,
        s"expected exactly ONE posting self-join, got $selfJoins:\n$p")
    } finally sh.unpersist()
  }
}
