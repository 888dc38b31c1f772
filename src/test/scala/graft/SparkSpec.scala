package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for all suites (one JVM-wide session; suites
  * must not stop it).
  */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder().master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE builds each re-planned query's full plan string for its
      // update event; uncapped, Pipeline.run's strings exhaust a 4 GiB
      // heap (DedupStreamBatchSpec bounds plan strings far below this)
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session
  /** `awaitTermination(timeout)` returns FALSE when the budget expires
    * with the query still running. Every streaming test used to ignore
    * that boolean, so under full-suite parallel load a 3-minute
    * timeout let the harness proceed to read artifacts the stream
    * never published — surfacing two asserts later as a misleading
    * PATH_NOT_FOUND (round-16's one committed failure,
    * DedupStreamSpec's contamination-gate test). This guard fails
    * loudly at the true cause instead; the larger default budget
    * absorbs box load without masking a genuine hang (a healthy
    * test-mode stream quiesces in seconds).
    */
  implicit class StreamQuiesce(q: org.apache.spark.sql.streaming.StreamingQuery) {
    def quiesce(timeoutMs: Long = 420000): Unit = {
      val done = q.awaitTermination(timeoutMs)
      if (!done) {
        try q.stop() catch { case _: Exception => () }
        throw new AssertionError(
          s"stream did not quiesce within ${timeoutMs}ms " +
            "(timed out mid-run; artifacts below would be partial)")
      }
    }
  }
  /** `body`'s result and the Spark jobs started while it ran, in
    * start order. The listener bus is drained before and after, so no
    * earlier job leaks in and none of `body`'s is missed.
    */
  def jobsDuring[T](body: => T): (T, Seq[org.apache.spark.scheduler.SparkListenerJobStart]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { started.add(e); () }
    }
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain.drain(sc)
      (r, started.toArray(Array.empty[SparkListenerJobStart]).toSeq)
    } finally sc.removeSparkListener(listener)
  }
  /** Every operator of the FINAL executed plan, recursing through the
    * AQE wrappers. `sparkPlan` can never contain an Exchange —
    * EnsureRequirements only runs in executedPlan preparation — and
    * TreeNode.collect stops at the AQE leaves (AdaptiveSparkPlanExec
    * and QueryStageExec are LeafExecNodes wrapping their real subtree),
    * so a plain collect over either plan is vacuously Exchange-free
    * (round-17 ADVICE: the q30/q15 single-partition asserts passed even
    * against an unpartitioned global window). This walks into the
    * wrappers but NOT into InMemoryTableScan's stored definition, whose
    * 1-row scalar aggregates legitimately carry Exchange
    * SinglePartition — the funnel these tests exist to catch lives on
    * the query's own execution operators. Caller must have executed the
    * DataFrame first so the adaptive plan is final.
    */
  def executedOps(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).map(_.simpleString(200))
  }
  /** Runs `body` with the session confs `kv` set, restoring each after. */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  /** Fixture root, overridable per-host (round-12 advice: suites must
    * not hardcode this machine's layout when they widen to other SFs).
    */
  val testdataRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
  def sfDir(scale: String): String = s"$testdataRoot/sf$scale"
  val sf: String = sfDir("0.001")
}
