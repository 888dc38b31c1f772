package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a named call into a layer, made by the harness. */
final case class Span(id: Long, name: String, parent: Long, run: String,
    startNs: Long, endNs: Long, startWallMs: Long)

/** Spark work counted for one job, attributed to the span that was
  * current on the submitting thread when the job started.
  */
final class JobStat(val jobId: Int, val span: Long, val callSite: String,
    val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var schedulerDelayMs = 0L
  var stageSkew = 1.0
}

/** In-memory span recorder plus the listener that attributes Spark
  * jobs to spans. Spans are kept in memory and written when the run
  * ends. With `enabled = false`, `span` only runs its body.
  *
  * Attribution: before each traced call the harness sets the
  * `perfbench.span` local property; Spark copies local properties into
  * every job it submits (and into threads started from the caller,
  * such as a streaming query's execution thread), so the listener
  * reads the owning span id off `SparkListenerJobStart.properties`.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // SQL execution id -> its call site: adaptive execution submits stage
  // jobs from Spark's own threads, whose call sites name no program file
  private val sqlSite = new ConcurrentHashMap[Long, String]()
  // per-stage task run times, for the skew of each stage
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  @volatile var run = ""
  /** Jobs started since the session began, traced or not. */
  val jobsStarted = new AtomicLong(0)

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parents = stack.get()
    val prevProp = sc.getLocalProperty(Trace.Prop)
    stack.set(id :: parents)
    sc.setLocalProperty(Trace.Prop, id.toString)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(parents)
      sc.setLocalProperty(Trace.Prop, prevProp)
      spans.synchronized {
        spans += Span(id, name, parents.headOption.getOrElse(0L), run, t0, t1, w0)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlSite.put(s.executionId, s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val props = Option(e.properties)
    props.flatMap(ps => Option(ps.getProperty(Trace.Prop))).foreach { s =>
      val stageSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      // a streaming batch's SQL description is the query id, not a call site
      val site = props
        .flatMap(ps => Option(ps.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSite.get(id.toLong)))
        .filter(d => d.contains(".scala:") || d.contains(".java:"))
        .getOrElse(stageSite)
      jobs.put(e.jobId, new JobStat(e.jobId, s.toLong, site, e.time))
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.endMs = e.time })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    if (j.isEmpty || e.taskMetrics == null) return
    val m = e.taskMetrics
    val info = e.taskInfo
    val delay = math.max(0L, info.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime -
      (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
    j.get.synchronized {
      val s = j.get
      s.tasks += 1
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      s.executorCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.schedulerDelayMs += delay
    }
    stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      .synchronized { stageTaskMs.get(e.stageId) += m.executorRunTime }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val st = e.stageInfo.stageId
    Option(stageJob.get(st)).flatMap(id => Option(jobs.get(id))).foreach { j =>
      val times = Option(stageTaskMs.remove(st)).map(_.toArray).getOrElse(Array.empty[Long])
      j.synchronized {
        j.stages += 1
        j.stageSkew = math.max(j.stageSkew, Trace.skew(times))
      }
    }
  }

  def spanList: Seq[Span] = spans.synchronized(spans.toList)
  def jobList: Seq[JobStat] = jobs.values().asScala.toSeq.sortBy(_.jobId)
}

object Trace {
  val Prop = "perfbench.span"

  /** Max-to-median task run time of one stage (1.0 below two tasks or
    * when the median task ran under a millisecond).
    */
  def skew(taskMs: Array[Long]): Double =
    if (taskMs.length < 2) 1.0
    else {
      val s = taskMs.sorted
      val med = s(s.length / 2)
      if (med <= 0) 1.0 else s.last.toDouble / med
    }
}
