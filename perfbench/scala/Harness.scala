package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.ReferenceQueries
import graft.sources.{FastTextVec, VersionedStore}
import graft.streaming.DedupStream

/** The JVM side of perfbench: owns one `local[cores]` session, runs one
  * workload's set-up and then a closed loop of operations with a single
  * client for `--seconds`, checks the outputs, and writes raw samples
  * (plus spans and per-job Spark counters when tracing) to `--out` as
  * JSON. `perfbench/run.py` turns that file into the reported metrics.
  *
  * Usage: Harness --workload W --input DIR --work DIR --seconds S
  *          --trace 0|1 --cores N --seed N --out FILE
  */
object Harness {

  final case class Args(workload: String, input: String, work: String,
      seconds: Double, trace: Boolean, cores: Int, seed: Long, out: String)

  /** One timed operation of the closed loop. */
  final case class Op(latencyS: Double, cpuS: Double, docs: Long, jobs: Long,
      traced: Boolean, ok: Boolean, extra: Map[String, Any] = Map.empty)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("input"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("seed").toLong, m("out"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // untruncated plan descriptions of the release pipeline exhausted a
      // 3 GiB driver heap; a bounded string keeps the heap small
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNow(): Double = osBean.getProcessCpuTime / 1e9

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** Files under `root` as relative path -> (bytes, mtime). */
  def listing(root: String): Map[String, (Long, Long)] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Map.empty
    else Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => r.relativize(p).toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
  }

  def treeBytes(root: String): Long = listing(root).values.map(_._1).sum

  /** Run `op` in a closed loop until `seconds` have passed and at least
    * `minOps` ran. In a traced run operations alternate between traced
    * and untraced, so the two can be compared for tracing overhead.
    */
  def loop(seconds: Double, minOps: Int, trace: Trace, tracing: Boolean)
      (op: (Int, Boolean) => Op): Seq[Op] = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    while (ops.length < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = tracing && ops.length % 2 == 0
      trace.enabled = traced
      ops += op(ops.length, traced)
    }
    trace.enabled = false
    ops.toSeq
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rt = new Runner(a)
    val result = try rt.run() finally rt.close()
    val json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
    Files.write(Paths.get(a.out), json.writeValueAsBytes(result))
  }

  def langsOf(vecDir: String): Seq[String] =
    new File(vecDir).listFiles().map(_.getName).filter(_.endsWith(".vec"))
      .map(_.stripSuffix(".vec")).sorted.toSeq
}

/** One harness run: session, set-up, timed loop, checks, layer probes. */
final class Runner(a: Harness.Args) {
  import Harness._

  val Dim = 300
  val in: String = a.input
  val work: String = a.work
  var spark: SparkSession = _
  var trace: Trace = _
  val checks = mutable.ArrayBuffer.empty[Check]
  val layer = mutable.LinkedHashMap.empty[String, Any]
  val setups = mutable.ArrayBuffer.empty[Double]
  // bytes under the output root at the end, and of the input text fed
  var storedBytes = 0L
  var inputTextBytes = 0L

  private def startSession(cores: Int): Unit = {
    spark = session(cores, work)
    trace = new Trace(spark.sparkContext)
    trace.run = "setup"
    spark.sparkContext.addSparkListener(trace)
  }

  def close(): Unit = if (spark != null) stopSession(spark)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Time `body` as one operation: wall and process CPU seconds, and
    * the Spark jobs it started (counted once the listener has caught up).
    */
  def timed(docs: Long, traced: Boolean)(body: => Boolean): Op = {
    drain() // jobs started before this operation must not count in it
    val j0 = trace.jobsStarted.get()
    val c0 = cpuNow(); val t0 = System.nanoTime()
    val ok = body
    val (t1, c1) = (System.nanoTime(), cpuNow())
    drain()
    Op((t1 - t0) / 1e9, c1 - c0, docs, trace.jobsStarted.get() - j0, traced, ok)
  }

  def run(): Map[String, Any] = {
    val ops = a.workload match {
      case "batch_vectorize" => new BatchVectorize().run()
      case "stream_ingest" => new StreamIngest().run()
      case "release_pipeline" => new ReleasePipeline().run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (a.trace) probes()
    drain()
    val spans = trace.spanList
    val jobs = trace.jobList
    val baseline =
      if (a.trace && a.workload == "batch_vectorize") Some(singleThreadBaseline()) else None
    Map(
      "workload" -> a.workload, "cores" -> a.cores, "trace" -> a.trace,
      "setup_s" -> setups.toSeq,
      "ops" -> ops.map(o => Map("latency_s" -> o.latencyS, "cpu_s" -> o.cpuS,
        "docs" -> o.docs, "jobs" -> o.jobs, "traced" -> o.traced, "ok" -> o.ok) ++
        o.extra),
      "peak_rss_mb" -> peakRssMb(),
      "stored_bytes" -> storedBytes, "input_text_bytes" -> inputTextBytes,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "layer" -> layer.toMap,
      "baseline_local1" -> baseline,
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "run" -> s.run, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs, "start_wall_ms" -> s.startWallMs)),
      "jobs" -> jobs.map(j => Map("job_id" -> j.jobId, "span" -> j.span,
        "callsite" -> j.callSite, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages, "tasks" -> j.tasks,
        "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
        "executor_cpu_s" -> j.executorCpuNs / 1e9, "gc_s" -> j.gcMs / 1e3,
        "scheduler_delay_s" -> j.schedulerDelayMs / 1e3,
        "stage_skew" -> j.stageSkew)))
  }

  /** Set-up: session start plus the workload's one-time `build`, timed
    * together, once per run (see README: repeating it within a run cost
    * more than the runs' time budget allows).
    */
  def setup(build: () => Unit): Unit = {
    val t0 = System.nanoTime()
    startSession(a.cores)
    trace.enabled = a.trace
    trace.span("setup")(build())
    trace.enabled = false
    setups += (System.nanoTime() - t0) / 1e9
  }

  /** UTF-8 bytes of the `text` column of a documents frame. */
  def textBytes(docs: DataFrame): Long =
    docs.agg(sum(octet_length(col("text")))).head().getLong(0)

  // ---- shared layer calls ------------------------------------------------

  /** All languages' `.vec` files as one (lang, token, vec) frame, persisted. */
  def readVecs(dir: String): DataFrame = trace.span("sources.FastTextVec.read") {
    val v = langsOf(dir).map { l =>
      FastTextVec.read(spark, s"$dir/$l.vec")
        .select(lit(l).as("lang"), col("word").as("token"), col("vec"))
    }.reduce(_ unionByName _).persist()
    layer("sources.FastTextVec.words") = v.count()
    v
  }

  /** The served dimension: the corpus IDF table joined to the loaded
    * vectors on (lang, token), persisted.
    */
  def dimension(corpusDir: String, vecs: DataFrame): DataFrame =
    trace.span("queries.wordvecsByLang") {
      val d = ReferenceQueries.wordvecsByLang(spark, corpusDir).drop("vec")
        .join(vecs, Seq("lang", "token")).persist()
      layer("queries.vocab_rows") = d.count()
      d
    }

  /** Isolated probes over the workload's corpus (traced runs only). */
  def probes(): Unit = {
    trace.enabled = true
    trace.run = "probe"
    val corpusDir = a.workload match {
      case "stream_ingest" => s"$in/idf"
      case _ => in
    }
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select("doc_id", "text", "lang")
    val vecs = readVecs(s"$in/vec")
    val dim = dimension(corpusDir, vecs)
    val dv = ReferenceQueries.docVectorsByLang(docs, dim, Dim)
    trace.span("queries.docVectorsByLang") {
      dv.write.format("noop").mode("overwrite").save()
    }
    val kr = dv.agg(sum("known"), sum("total")).head()
    layer("queries.known_token_ratio") = kr.getLong(0).toDouble / kr.getLong(1)
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(graft.functions.Tokenize.tokensByLang(col("text"), col("lang")))
        .as("token"))
    trace.span("functions.Tokenize.tokensByLang") {
      layer("functions.tokens") = toks.count()
    }
    // VecAgg alone: its (doc, weight, vector) input is materialized first
    val rows = toks.join(broadcast(dim), Seq("lang", "token"))
      .select(col("doc_id"), (col("idf") / 100.0).as("w"),
        col("vec").cast("array<double>").as("vec"))
      .persist()
    layer("agg.VecAgg.rows") = rows.count()
    trace.span("agg.VecAgg.weightedSum") {
      rows.groupBy("doc_id")
        .agg(graft.agg.VecAgg.weightedSum(Dim)(col("w"), col("vec")).as("v"))
        .write.format("noop").mode("overwrite").save()
    }
    Seq(rows, dim, vecs).foreach(_.unpersist(true))
    trace.enabled = false
  }

  /** batch_vectorize once at local[1]: informational, never gated. The
    * run's own session is stopped first; its trace has been read.
    */
  def singleThreadBaseline(): Map[String, Any] = {
    stopSession(spark)
    spark = session(1, work)
    val bv = new BatchVectorize()
    val op = bv.once(0, traced = false)
    bv.release()
    Map("latency_s" -> op.latencyS, "docs" -> op.docs, "ok" -> op.ok)
  }

  // ---- batch_vectorize ---------------------------------------------------

  final class BatchVectorize {
    val outDir = s"$work/vectors.parquet"
    var lastDim: DataFrame = _
    var lastVecs: DataFrame = _

    def release(): Unit = {
      Option(lastDim).foreach(_.unpersist(true))
      Option(lastVecs).foreach(_.unpersist(true))
      lastDim = null; lastVecs = null
    }

    /** One batch job: load vectors, IDF + dimension, doc vectors, write. */
    def once(i: Int, traced: Boolean): Op = {
      release()
      val docs = spark.read.parquet(s"$in/documents.parquet")
      val nDocs = docs.count()
      trace.run = s"op-$i"
      timed(nDocs, traced) {
        trace.span("op") {
          lastVecs = readVecs(s"$in/vec")
          lastDim = dimension(in, lastVecs)
          trace.span("queries.docVectorsByLang") {
            ReferenceQueries.docVectorsByLang(
              docs.select("doc_id", "text", "lang"), lastDim, Dim)
              .write.mode("overwrite").parquet(outDir)
          }
        }
        true
      }
    }

    def run(): Seq[Op] = {
      setup(() => { once(-1, traced = false); () })
      // three operations at least: the first after set-up still pays
      // JIT compilation, and the median then excludes it
      val ops = loop(a.seconds, 3, trace, a.trace)(once)
      val docs = spark.read.parquet(s"$in/documents.parquet")
      val out = spark.read.parquet(outDir)
      val cs = Checks.vectorize(spark, docs, out, lastDim, s"$in/vec", Dim, a.seed)
      checks ++= cs
      storedBytes = treeBytes(outDir)
      inputTextBytes = textBytes(docs)
      release()
      // a failed check fails the run's last operation
      if (cs.exists(!_.ok)) ops.init :+ ops.last.copy(ok = false) else ops
    }
  }

  // ---- stream_ingest -----------------------------------------------------

  final class StreamIngest {
    var dim: DataFrame = _
    var vecs: DataFrame = _
    val arrivals: Seq[File] = new File(s"$in/arrivals").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val truth = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(s"$in/truth.json"))
    def idsOf(k: String): Seq[Long] =
      truth.get(k).elements().asScala.map(_.get(0).asLong()).toSeq
    val reposts: Seq[Long] = idsOf("reposts")
    val nearDups: Seq[Long] = idsOf("near_dups")
    var arrivedIds: Seq[Set[Long]] = Nil
    // One micro-batch takes longer than a gated run's --seconds, so a
    // gated run feeds one; the budget of 48 gated runs has no room for
    // more. A traced run feeds three and traces the odd ones, which read
    // a non-empty history, comparing them with the untraced ones around.
    val minBatches: Int = if (a.trace) 3 else 1

    def build(): Unit = {
      vecs = readVecs(s"$in/vec")
      dim = dimension(s"$in/idf", vecs)
    }

    def run(): Seq[Op] = {
      setup(() => build())
      arrivedIds = arrivals.map(f => spark.read.parquet(f.getPath).select("doc_id")
        .collect().map(_.getLong(0)).toSet)
      val ops = mutable.ArrayBuffer.empty[Op]
      val t0 = System.nanoTime()
      var ep = 0
      // an episode starts from an empty store and checkpoint and feeds
      // the arrival files in order, one micro-batch each, until the run's
      // time is up (at least `minBatches`); a new episode starts only
      // when every file has been fed
      while (ops.length < minBatches || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        ops ++= episode(ep, ops.length,
          () => (System.nanoTime() - t0) / 1e9 >= a.seconds)
        ep += 1
      }
      trace.enabled = false
      dim.unpersist(true); vecs.unpersist(true)
      ops.toSeq
    }

    /** Feed arrival files until the time is up and the run holds at
      * least `minBatches`; check the store afterwards.
      */
    def episode(ep: Int, opsBefore: Int, timeUp: () => Boolean): Seq[Op] = {
      val root = s"$work/stream-$ep"
      deleteTree(Paths.get(root))
      val docsDir = s"$root/incoming"
      val store = s"$root/store"
      val ckpt = s"$root/checkpoint"
      Files.createDirectories(Paths.get(docsDir))
      val ops = mutable.ArrayBuffer.empty[Op]
      var b = 0
      while (b < arrivals.length && !(opsBefore + b >= minBatches && timeUp())) {
        val f = arrivals(b)
        val traced = a.trace && (opsBefore + b) % 2 == 1
        trace.enabled = traced
        trace.run = s"ep-$ep/batch-$b"
        val before = if (traced) listing(store) else Map.empty[String, (Long, Long)]
        // the file becomes visible by an atomic rename into the watched dir
        val tmp = Paths.get(s"$root/${f.getName}.tmp")
        Files.copy(f.toPath, tmp)
        val op = timed(arrivedIds(b).size, traced) {
          Files.move(tmp, Paths.get(s"$docsDir/${f.getName}"),
            StandardCopyOption.ATOMIC_MOVE)
          trace.span("op") {
            trace.span("streaming.DedupStream.batch") {
              val q = DedupStream.start(spark, docsDir, dim, Dim, store, ckpt)
              q.awaitTermination()
              q.exception.isEmpty
            }
          }
        }
        trace.enabled = false
        ops += (if (!traced) op else {
          val after = listing(store)
          val written = after.filter { case (p, v) => !before.get(p).contains(v) }
          val vecBytes = (m: Map[String, (Long, Long)]) =>
            m.filter(_._1.startsWith("vectors/")).values.map(_._1).sum
          op.copy(extra = Map(
            "store_bytes_written" -> written.values.map(_._1).sum,
            "vectors_bytes_written" -> vecBytes(written),
            "vectors_new_bytes" -> (vecBytes(after) - vecBytes(before)),
            "store_files" -> after.size))
        })
        b += 1
      }
      val arrived = arrivedIds.take(b).reduce(_ ++ _)
      inputTextBytes = arrivals.take(b)
        .map(f => textBytes(spark.read.parquet(f.getPath))).sum
      val (cs, accepted, dropped, nearDropped) =
        Checks.stream(spark, arrived, store, reposts, nearDups)
      checks ++= cs
      layer("streaming.accepted") = accepted
      layer("streaming.dup_dropped") = dropped
      val nearArrived = nearDups.count(arrived.contains)
      layer("streaming.planted_dup_recall") =
        if (nearArrived == 0) 1.0 else nearDropped.toDouble / nearArrived
      storedBytes = treeBytes(store)
      if (cs.exists(!_.ok)) (ops.init :+ ops.last.copy(ok = false)).toSeq else ops.toSeq
    }
  }

  // ---- release_pipeline --------------------------------------------------

  final class ReleasePipeline {
    val store = s"$work/release-store"

    def clearCaches(): Unit = {
      graft.Caches.clearAll()
      graft.ml.IvfIndex.clear()
      graft.ml.IvfPq.clear()
      graft.ml.PqIndex.clear()
      graft.ml.Bm25Index.clear()
    }

    def once(i: Int, traced: Boolean): (Op, Option[graft.Pipeline.Result]) = {
      clearCaches()
      val nDocs = spark.read.parquet(s"$in/documents.parquet").count()
      trace.run = s"op-$i"
      var res: Option[graft.Pipeline.Result] = None
      val sampler = if (traced) Some(new CacheSampler(spark)) else None
      val op = timed(nDocs, traced) {
        trace.span("op") {
          res = Some(trace.span("Pipeline.run") {
            graft.Pipeline.run(spark, in, store, semanticDedup = true,
              qualityGate = true)
          })
        }
        true
      }
      sampler.foreach { s => layer("Caches.cached_bytes_peak") = s.stop() }
      (op, res)
    }

    def run(): Seq[Op] = {
      deleteTree(Paths.get(store))
      setup(() => { once(-1, traced = false); () })
      val ops = loop(a.seconds, 1, trace, a.trace) { (i, traced) =>
        val (op, res) = once(i, traced)
        val r = res.get
        val (docs, vecs) = trace.span("sources.VersionedStore.readTable") {
          (VersionedStore.readTable(spark, store, r.version, "documents").count(),
            VersionedStore.readTable(spark, store, r.version, "vectors").count())
        }
        val cs = Checks.release(docs, vecs, r)
        checks ++= cs
        storedBytes = treeBytes(s"$store/v=${r.version}")
        inputTextBytes = textBytes(spark.read.parquet(s"$in/documents.parquet"))
        if (cs.exists(!_.ok)) op.copy(ok = false) else op
      }
      ops
    }
  }
}

/** Samples the bytes held by persisted RDDs/Datasets every 50 ms on a
  * background thread; `stop()` joins it and returns the peak.
  */
final class CacheSampler(spark: SparkSession) {
  @volatile private var running = true
  @volatile private var peak = 0L
  private val th = new Thread(() => {
    while (running) {
      val b = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      if (b > peak) peak = b
      Thread.sleep(50)
    }
  }, "perfbench-cache-sampler")
  th.setDaemon(true)
  th.start()

  def stop(): Long = { running = false; th.join(); peak }
}
