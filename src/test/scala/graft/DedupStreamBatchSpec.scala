package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{ArrayType, FloatType}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Partitioning
import graft.streaming.{DedupStream, VectorizeStream}

/** The always-on ingest end to end inside the default suite: two tiny
  * `DedupStream.start` micro-batches over a hand-built dimension, with
  * the exact accepted and dropped ids pinned, and four bounds on what
  * the batches cost or leave behind:
  *
  *   - the size of every SQL plan description. It guards the
  *     lineage-cut rule in `DedupStream.processBatch`: persisted batch
  *     frames built on one another make each query's description
  *     repeat every earlier cached plan (AQE's final and initial plans
  *     each), so the description grows with every frame in the tower
  *     and Spark rebuilds it at every execution start and AQE re-plan;
  *   - the Spark jobs each micro-batch launches, which is what a small
  *     batch's cost is made of (per-job driver overhead), and that none
  *     of them runs outside a query;
  *   - the store's shape: which artifacts a batch writes, every
  *     artifact's declared schema (which the history reads and the
  *     lexical index and vector store readers use instead of inferring
  *     one from parquet footers), and the float32 vectors, old double
  *     slices included;
  *   - the storage the batches' pins hold, which `unpin` must release.
  */
class DedupStreamBatchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val Dim = 4

  /** About twice the measured maximum before small pins declared one
    * partition: 62,328 characters over both batches (the history
    * verify join, local[8], AQE on; 49,097 since). Persisting the
    * batch frames instead of pinning them measured about 9.4 million.
    */
  private val MaxPlanChars = 125000

  /** Jobs per micro-batch at local[8] (the suite's session): 14 for
    * the first batch (empty history) and 14 for the second (with
    * history); the bounds add about 10% for run-to-run AQE re-planning.
    * The batches launched 26 and 44 (bounds 29 and 48) while every
    * join between two pins, or between a pin and a small history read,
    * broadcast one side in a job of its own (`OnePartitionJoin` now
    * joins them in the one task they share); 29 and 46 while they
    * pinned the survivors' hashed shingles to write `docn` and `df`
    * slices beside `shpost`: counts the history reads now take over
    * `shpost` itself. The history batch launched 48 while it merged
    * the whole vector store into a rewritten copy instead of writing
    * its own slice.
    * Before a small pinned frame declared itself one partition, every
    * doc-keyed aggregate over a pin shuffled it again only for AQE to
    * coalesce the shuffle back into one partition, and the same
    * batches launched 46 and 63-64 jobs; before history reads declared
    * their schemas, an absent artifact became an empty local relation,
    * the survivors anti-join broadcast its drops and the posting
    * redistribution was read off the plan, 58 and 79.
    */
  private val MaxFirstBatchJobs = 16
  private val MaxHistoryBatchJobs = 16

  private def words(prefix: String, from: Int, until: Int): String =
    (from until until).map(i => s"$prefix$i").mkString(" ")

  // batch 1: doc 4 re-posts doc 3 inside the batch (higher id drops)
  private val batch1 = Seq(
    1L -> words("tok", 0, 30), 2L -> words("alpha", 0, 30),
    3L -> words("beta", 0, 20), 4L -> words("beta", 0, 20))
  // batch 2 against batch-1 survivors: doc 11 is an exact re-post of
  // doc 2 (the banding channel), doc 12 a 10-token excerpt of doc 1
  // (Jaccard ≈ 0.29, so only the containment probe finds it), doc 13
  // is new
  private val batch2 = Seq(
    11L -> words("alpha", 0, 30), 12L -> words("tok", 10, 20),
    13L -> words("gamma", 0, 25))

  /** Hand-built dimension: a few known tokens, so vectorize runs
    * against a real join without building an IDF table.
    */
  private def dimension: DataFrame = Seq("tok1", "tok12", "alpha3", "beta4", "gamma5")
    .zipWithIndex.map { case (t, i) =>
      ("en", t, 1.0 + i, Seq.tabulate(Dim)(j => if (j == i % Dim) 1.0 else 0.0))
    }.toDF("lang", "token", "idf", "vec")

  /** A fresh watched directory, store and checkpoint; the store is
    * named by a bare path, or by a `file:` URI when `uri` is set.
    */
  private final class Ingest(name: String, uri: Boolean = false) {
    val work: Path = Files.createTempDirectory(name)
    val docsDir: Path = Files.createDirectory(work.resolve("docs_in"))
    val store: String =
      if (uri) work.resolve("store").toUri.toString else work.resolve("store").toString
    val ckpt: String = work.resolve("ckpt").toString
    private val dim = dimension

    /** Stage `rows` as one parquet file in the watched directory. */
    def stage(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = work.resolve(s"stage_$name")
      rows.map { case (id, text) => (id, text, "en", "test", text.length.toLong) }
        .toDF(VectorizeStream.docSchema.fieldNames.toIndexedSeq: _*)
        .coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      Files.copy(Paths.get(part), docsDir.resolve(s"$name.parquet"))
      ()
    }

    /** One `DedupStream.start` run over whatever is staged and new. */
    def runBatch(softDedup: Boolean = false, lexIndex: Boolean = false): Unit = {
      val q = DedupStream.start(spark, docsDir.toString, dim, Dim, store, ckpt,
        softDedup = softDedup, lexIndex = lexIndex)
      q.quiesce()
      assert(q.exception.isEmpty, s"batch failed: ${q.exception}")
    }

    def accepted: Set[Long] = spark.read.parquet(s"$store/docs")
      .select("doc_id").as[Long].collect().toSet

    /** The artifact directories the store holds. */
    def artifacts: Set[String] = Files.list(Paths.get(store)).toArray
      .map(_.asInstanceOf[Path]).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet
  }

  /** What a batch stores with soft dedup and the lexical channel off. */
  private val HardStore =
    Set("postings", "docs", "shpost", "segown", "cleandocs", "stats", "vectors")

  test("two micro-batches: exact keep/drop ids, and every plan description stays bounded") {
    val in = new Ingest("graft_dstream_batch")
    import in.{accepted, artifacts, runBatch, stage, store}

    // every SQL execution from here to the drain below: the two
    // batches plus the spec's own small staging writes and reads
    val longest = new AtomicInteger(0)
    val executions = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          executions.incrementAndGet()
          longest.accumulateAndGet(s.physicalPlanDescription.length, math.max)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          longest.accumulateAndGet(u.physicalPlanDescription.length, math.max)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      stage("a", batch1)
      runBatch()
      assert(accepted === Set(1L, 2L, 3L), "batch 1 keep/drop")
      assert(artifacts === HardStore, "batch 1 store artifacts")

      stage("b", batch2)
      runBatch()
      assert(accepted === Set(1L, 2L, 3L, 13L), "batch 2 keep/drop")
      assert(artifacts === HardStore, "batch 2 store artifacts")
      val arrived = Set(1L, 2L, 3L, 4L, 11L, 12L, 13L)
      assert(arrived -- accepted === Set(4L, 11L, 12L))
      // vectorize ran on survivors only, and each stored vector is the
      // batch core's vector over the doc's stored text rounded to
      // float32, bit for bit
      val stored = spark.read.parquet(s"$store/vectors").select("doc_id", "vec")
        .as[(Long, Option[Seq[Float]])].collect().toMap
      assert(stored.keySet === accepted)
      val exact = graft.queries.ReferenceQueries.docVectorsByLang(
          spark.read.parquet(s"$store/docs"), dimension, Dim)
        .select(col("doc_id"), when(col("known") > 0, col("vec")))
        .as[(Long, Option[Seq[Double]])].collect().toMap
      assert(exact.values.forall(_.isDefined), "fixture: every survivor has a known token")
      def bits(v: Seq[Double]) = v.map(java.lang.Double.doubleToRawLongBits)
      assert(stored.map { case (id, v) => id -> v.map(f => bits(f.map(_.toDouble))) } ===
        exact.map { case (id, v) => id -> v.map(d => bits(d.map(_.toFloat.toDouble))) })

      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      info(s"${executions.get()} SQL executions, longest plan description " +
        s"${longest.get()} chars")
      assert(executions.get() > 0, "the listener saw no SQL execution")
      assert(longest.get() <= MaxPlanChars,
        s"a per-batch plan description reached ${longest.get()} chars " +
          s"(bound $MaxPlanChars): batch frames are nesting their plans again")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("each micro-batch launches no more Spark jobs than its measured budget") {
    val in = new Ingest("graft_dstream_jobs")
    import in.{accepted, runBatch, stage}
    /** Jobs started while `run` runs (the stream's start, its one
      * micro-batch and its shutdown, none of the staging around it),
      * and how many of them belong to no query. A query's jobs run in
      * its own SQL execution, nested under the micro-batch's; a job in
      * no nested execution is not a query's work — parquet footer
      * inference (`spark.read.parquet` without a schema) is one.
      */
    def jobsOf(run: => Unit): (Int, Int) = {
      val (_, started) = jobsDuring(run)
      val outsideQueries = started.count { e =>
        val props = Option(e.properties)
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        exec.isEmpty ||
          exec == props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id")))
      }
      (started.size, outsideQueries)
    }
    stage("a", batch1)
    val (first, firstOutside) = jobsOf(runBatch())
    assert(accepted === Set(1L, 2L, 3L), "batch 1 keep/drop")
    stage("b", batch2)
    val (second, secondOutside) = jobsOf(runBatch())
    assert(accepted === Set(1L, 2L, 3L, 13L), "batch 2 keep/drop")
    info(s"jobs per micro-batch: first $first ($firstOutside in no query), " +
      s"with history $second ($secondOutside in no query)")
    assert(firstOutside === 0 && secondOutside === 0,
      "a micro-batch ran jobs that belong to no query (footer inference?)")
    assert(first <= MaxFirstBatchJobs,
      s"the first micro-batch launched $first jobs (bound $MaxFirstBatchJobs)")
    assert(second <= MaxHistoryBatchJobs,
      s"the history micro-batch launched $second jobs (bound $MaxHistoryBatchJobs)")
  }

  /** Ids of the RDDs the session holds persisted. */
  private def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a small one-partition pin is one declared partition, and unpin frees it") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    val before = persistedRdds
    val rows = (0L until 100L).map(i => (i, s"w$i"))
    val p = Partitioning.pin(rows.toDF("doc_id", "text").coalesce(1))
    assert(p.queryExecution.executedPlan.outputPartitioning === SinglePartition)
    assert(p.as[(Long, String)].collect().sorted.toSeq === rows)
    // a pin of several partitions keeps them: its narrow work stays spread
    val wide = Partitioning.pin(rows.toDF("doc_id", "text").repartition(4))
    try {
      assert(wide.queryExecution.executedPlan.outputPartitioning !== SinglePartition)
      assert(wide.rdd.getNumPartitions === 4)
    } finally Partitioning.unpin(wide)
    val held = persistedRdds -- before
    assert(held.nonEmpty, "the pin persisted nothing")
    // an empty frame can plan no partition at all: it keeps the plain
    // checkpoint, which any join still plans against correctly
    val empty = Partitioning.pin(rows.take(0).toDF("doc_id", "text"))
    try withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(p.join(empty, Seq("doc_id")).count() === 0)
    } finally Partitioning.unpin(empty)
    Partitioning.unpin(p)
    assert(persistedRdds.intersect(held).isEmpty,
      s"unpin left the pin's RDDs ${held.mkString(", ")} persisted")
  }

  test("two micro-batches release every RDD their pins persisted") {
    // the batches persist nothing but their pins (no gate is given)
    val before = persistedRdds
    val in = new Ingest("graft_dstream_release")
    in.stage("a", batch1)
    in.runBatch()
    in.stage("b", batch2)
    in.runBatch()
    assert(in.accepted === Set(1L, 2L, 3L, 13L))
    val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.isEmpty, "persisted after the batches: " +
      left.values.map(r => s"${r.id} ${r.getStorageLevel.description}").mkString("; "))
  }

  test("the lexical index and vector store readers start no footer-inference job") {
    val in = new Ingest("graft_dstream_readers")
    in.stage("a", batch1)
    in.runBatch(lexIndex = true)
    val (index, indexJobs) = jobsDuring(graft.ml.Bm25Index.fromStore(spark, in.store))
    val (vecs, vecJobs) = jobsDuring(DedupStream.storeVectors(spark, in.store))
    assert(indexJobs.isEmpty && vecJobs.isEmpty,
      s"Bm25Index.fromStore started ${indexJobs.size} jobs, " +
        s"DedupStream.storeVectors ${vecJobs.size}")
    assert(index.posting.select("doc_id").distinct().as[Long].collect().toSet ===
      in.accepted)
    assert(index.consts.head().getDouble(0) === in.accepted.size.toDouble)
    assert(vecs.select("vec_id").as[Long].collect().toSet === in.accepted)
  }

  test("a store named by a file: URI ingests two batches") {
    val in = new Ingest("graft_dstream_uri", uri = true)
    assert(in.store.startsWith("file:"))
    in.stage("a", batch1)
    in.runBatch()
    in.stage("b", batch2)
    in.runBatch()
    assert(in.accepted === Set(1L, 2L, 3L, 13L))
    assert(DedupStream.storeVectors(spark, in.store).select("vec_id")
      .as[Long].collect().sorted.toSeq === in.accepted.toSeq.sorted)
  }

  test("the vector store reads the latest row per doc, before and after compaction") {
    // an old store's double slice under a new float slice
    val store = Files.createTempDirectory("graft_dstream_latest").resolve("store").toString
    def slice(batch: Long, rows: (Long, Seq[Double])*): Unit =
      rows.map { case (id, v) => (id, "en", 1.0, v) }
        .toDF("doc_id", "lang", "known_ratio", "vec")
        .write.parquet(s"$store/vectors/batch=$batch")
    def floatSlice(batch: Long, rows: (Long, Seq[Float])*): Unit =
      rows.map { case (id, v) => (id, "en", 0.5, v) }
        .toDF("doc_id", "lang", "known_ratio", "vec")
        .write.parquet(s"$store/vectors/batch=$batch")
    def latest: Map[Long, Seq[Double]] = DedupStream.storeVectors(spark, store)
      .as[(Long, Seq[Double])].collect().toMap
    def readStore: Map[Long, (Double, Seq[Double])] =
      VectorizeStream.readStore(spark, s"$store/vectors")
        .select("doc_id", "known_ratio", "vec")
        .as[(Long, Double, Seq[Double])].collect()
        .map { case (id, kr, v) => id -> (kr, v) }.toMap
    val third = 1.0 / 3
    slice(0L, 1L -> Seq(1.0, 0.0), 2L -> Seq(0.1, third))
    floatSlice(1L, 1L -> Seq(0.1f, 3.0f))
    // the float slice widens exactly, the double slice reads unrounded
    val before = Map(1L -> Seq(0.1f.toDouble, 3.0), 2L -> Seq(0.1, third))
    assert(latest === before)
    assert(readStore === Map(1L -> (0.5, before(1L)), 2L -> (1.0, before(2L))))
    DedupStream.compactStore(spark, store)
    assert(Files.list(Paths.get(store, "vectors")).toArray.map(_.toString)
      .filter(_.contains("batch=")).map(p => Paths.get(p).getFileName.toString)
      .toSeq === Seq("batch=-1"))
    // the consolidated slice is float32 like every new slice, so the old
    // double row now reads as its float32 rounding
    assert(spark.read.parquet(s"$store/vectors").schema("vec").dataType ===
      ArrayType(FloatType))
    val compacted = before.updated(2L, Seq(0.1f.toDouble, third.toFloat.toDouble))
    assert(latest === compacted)
    assert(readStore === Map(1L -> (0.5, compacted(1L)), 2L -> (1.0, compacted(2L))))
    // a batch after compaction still wins over the consolidated slice
    slice(2L, 2L -> Seq(5.0, 5.0))
    assert(latest === compacted.updated(2L, Seq(5.0, 5.0)))
  }

  test("a store that still holds the df and docn slices of older stores dedups as without them") {
    val in = new Ingest("graft_dstream_oldstore")
    in.stage("a", batch1)
    in.runBatch()
    // counts that would change the verdict if anything read them: each
    // shingle a stop-shingle, so the containment probe would find no
    // rare shingle and doc 12, the excerpt, would pass
    val shpost = spark.read.parquet(s"${in.store}/shpost")
    shpost.select(col("h"), lit(1000000L).as("cnt")).distinct()
      .write.parquet(s"${in.store}/df/batch=0")
    shpost.select(col("doc_id"), lit(1L).as("n_sh")).distinct()
      .write.parquet(s"${in.store}/docn/batch=0")
    in.stage("b", batch2)
    in.runBatch()
    assert(in.accepted === Set(1L, 2L, 3L, 13L))
    assert(in.artifacts === HardStore ++ Set("df", "docn"))
  }

  test("every store artifact reads the same rows with its declared schema as inferred") {
    // soft dedup and the lexical channel on, so every sliced artifact
    // exists (dupedges, lexpost, lexdf, lexconsts included)
    val in = new Ingest("graft_dstream_schemas")
    in.stage("a", batch1)
    in.runBatch(softDedup = true, lexIndex = true)
    in.stage("b", batch2)
    in.runBatch(softDedup = true, lexIndex = true)
    assert(in.accepted === Set(1L, 2L, 3L, 4L, 11L, 12L, 13L),
      "soft mode keeps every arrival")

    def check(when: String): Unit = {
      // every artifact a batch writes is declared: none escapes the
      // declared reads and compaction
      assert(in.artifacts === DedupStream.storeSchemas.map(_._1).toSet,
        s"$when: store artifacts differ from storeSchemas")
      DedupStream.storeSchemas.foreach { case (name, schema) =>
        val dir = s"${in.store}/$name"
        val inferred = spark.read.parquet(dir)
        val declared = DedupStream.readOrEmpty(spark, dir, schema)
        val data = schema.fields.filterNot(_.name == "batch").toSeq
        val dataCols = data.map(f => col(f.name))
        // every column is written as declared, except the vectors, which
        // are written as float32 and read widened to double
        val written = data.map(f => f.name ->
          (if (name == "vectors" && f.name == "vec") ArrayType(FloatType) else f.dataType))
        assert(inferred.schema.fields.filterNot(_.name == "batch")
          .map(f => f.name -> f.dataType).toSeq === written,
          s"$when: $name slices are written as ${inferred.schema.simpleString}, " +
            s"declared ${schema.simpleString}")
        val empty = DedupStream.readOrEmpty(spark, s"${in.work}/absent_$name", schema)
        assert(empty.columns.toSeq === declared.columns.toSeq,
          s"$when: $name reads different columns absent and present")
        val d = declared.select(dataCols: _*)
        val i = inferred.select(data.map(f => col(f.name).cast(f.dataType)): _*)
        assert(d.count() > 0, s"$when: $name is empty")
        assert(d.exceptAll(i).isEmpty && i.exceptAll(d).isEmpty,
          s"$when: $name rows differ between the declared and inferred reads")
        data.foreach { f =>
          assert(!d.filter(col(f.name).isNotNull).isEmpty,
            s"$when: $name.${f.name} reads as all nulls")
        }
      }
    }
    check("after two batches")
    DedupStream.compactStore(spark, in.store)
    check("after compaction")
  }
}
