package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftshim.SessionShim
import org.apache.spark.storage.StorageLevel

/** Registry for everything a session keeps per dataset, with ONE
  * release path. Two kinds of entry:
  *
  *   - shared caches (docTokens, docShingles, the x04 verified-pair
  *     set, x51's 8-gram posting — see SCALE.md §caching): ordinary
  *     `DataFrame.persist` entries deduped by Spark's CacheManager,
  *     keyed here by canonicalized logical plan, mirroring
  *     CacheManager's own dedup — re-persisting an equivalent plan
  *     (every x04 call re-creates the frame) registers one entry, not
  *     one per call;
  *   - session memos ([[memo]]): built indexes, published-artifact
  *     handles, checkpointed closures — any value a module computes
  *     once per (session, dataset, kind, params) together with the
  *     rule that releases it.
  *
  * `clear(sfDir)` evicts one dataset — the caches whose plans read its
  * files and the memos keyed on it — without disturbing the others'
  * warm state; `clearAll()` evicts everything. In a long-lived server
  * that touches many datasets this is what keeps each dataset's
  * posting tables from staying pinned forever.
  */
object Caches {

  private val reg = new ConcurrentHashMap[LogicalPlan, DataFrame]()

  /** Persist `df` (MEMORY_AND_DISK — degrades to spill, not OOM) and
    * register it for targeted release. Returns the REGISTERED frame:
    * when an equivalent plan is already pinned (every x04 call
    * re-creates the frame), the caller gets the first frame back and
    * no second `persist()` runs — persisting before checking re-marked
    * the plan in CacheManager and spammed "Asked to cache already
    * cached data" on every warm call (round-5 verdict #6).
    */
  def persist(df: DataFrame): DataFrame =
    reg.computeIfAbsent(df.queryExecution.analyzed.canonicalized, _ => {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      df
    })

  /** Checkpoint an ITERATIVE, corpus-sized frame. `localCheckpoint`
    * (the default) truncates lineage into executor-local, UNREPLICATED
    * storage — free at local[32], but on a real cluster an executor
    * loss mid-iteration fails the job instead of recomputing (round-17
    * verdict #4). When `spark.graft.checkpointDir` (or the
    * SPARK_GRAFT_CHECKPOINT_DIR env) names a reliable store, the
    * iterative paths (closure propagation, PageRank, label
    * propagation) write real checkpoints there instead. Rows are
    * identical either way — only the storage/recovery contract moves.
    */
  def iterCheckpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val dir = spark.conf.getOption("spark.graft.checkpointDir")
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
    dir match {
      case Some(d) =>
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(d)
        df.checkpoint()
      case None => df.localCheckpoint(true)
    }
  }

  /** Scheme-less root paths of every file source in `df`'s plan. */
  private def sourceRoots(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath).toSeq
        case _ => Seq.empty[String]
      }
    }.flatten.distinct

  /** Scheme-less, trailing-slash-free form of a dataset path — the one
    * spelling every release and memo key matches on, so a relative or
    * trailing-slash variant of the same dataset can't leak past
    * `clear(sfDir)`.
    */
  private[graft] def normalizePath(dir: String): String =
    new org.apache.hadoop.fs.Path(dir).toUri.getPath.stripSuffix("/")

  private def readsFrom(df: DataFrame, dir: String): Boolean = {
    val d = normalizePath(dir)
    sourceRoots(df).exists(r => r == d || r.startsWith(d + "/"))
  }

  /** Whether an equivalent plan is already registered — lets a
    * call-scoped persist/unpersist pair (QualityModel.fitAndScore's
    * default path) avoid tearing down a session cache someone else
    * registered for the same plan (CacheManager keys by canonical
    * plan, so THEIR unpersist would drop OUR entry's data).
    */
  def isRegistered(df: DataFrame): Boolean =
    reg.containsKey(df.queryExecution.analyzed.canonicalized)

  /** Registered cache entries whose plans read files under `sfDir`. */
  def registered(sfDir: String): Seq[DataFrame] =
    reg.values().asScala.toSeq.filter(readsFrom(_, sfDir))

  private final case class MemoKey(session: String, dir: String,
      kind: String, params: Seq[Any])

  /** One memo slot. The value is built under the slot's own lock, not
    * the map's, so a build may itself memo its inputs (IvfPq's build
    * memoizes the IVF quantizer it encodes against) and concurrent
    * callers of one key wait for the single build.
    */
  private final class Memo(build: () => Any, release: Any => Unit) {
    private var value: Option[Any] = None
    def get(): Any = synchronized {
      if (value.isEmpty) value = Some(build())
      value.get
    }
    def drop(): Unit = synchronized { value.foreach(release); value = None }
  }

  private val memos = new ConcurrentHashMap[MemoKey, Memo]()

  /** The session's value of `kind` for dataset `sfDir` (and `params`),
    * built by `build` on first use and handed back on every later call
    * from the same session. Keyed on the session's UUID — a later
    * session in the same JVM builds its own, never a dead session's —
    * and on [[normalizePath]] of `sfDir`, so every spelling of one
    * dataset shares one entry. `clear(sfDir)` / `clearAll()` remove the
    * entry and run `release` on its value (unpersist, checkpoint
    * release; `_ => ()` when the value holds nothing the registry must
    * free). A build that throws leaves no entry behind.
    */
  def memo[T](spark: SparkSession, kind: String, sfDir: String,
      params: Any*)(build: => T)(release: T => Unit): T = {
    val key = MemoKey(SessionShim.uuid(spark), normalizePath(sfDir), kind,
      params)
    val m = memos.computeIfAbsent(key,
      _ => new Memo(() => build, v => release(v.asInstanceOf[T])))
    try m.get().asInstanceOf[T]
    catch { case e: Throwable => memos.remove(key, m); throw e }
  }

  /** How many memos of `kind` exist for a dataset, across sessions. */
  private[graft] def memoized(kind: String, sfDir: String): Int = {
    val dir = normalizePath(sfDir)
    memos.keySet().asScala.count(k => k.kind == kind && k.dir == dir)
  }

  /** Remove and release every memo whose key matches. */
  private def dropMemos(hit: MemoKey => Boolean): Unit =
    memos.keySet().asScala.toList.filter(hit)
      .foreach(k => Option(memos.remove(k)).foreach(_.drop()))

  /** Release every memo of the given kinds, for all datasets. */
  private[graft] def clearKinds(kinds: String*): Unit =
    dropMemos(k => kinds.contains(k.kind))

  /** Unpersist (blocking) every registered cache reading from `sfDir`
    * and release every memo keyed on it. Returns the number of cache
    * entries released. Safe to call while other datasets' caches are
    * live; safe to re-run the queries afterwards (they transparently
    * rebuild their caches and memos on next use).
    */
  def clear(sfDir: String): Int = {
    val hit = reg.entrySet().asScala.toSeq
      .filter(e => readsFrom(e.getValue, sfDir))
    hit.foreach { e =>
      e.getValue.unpersist(blocking = true)
      reg.remove(e.getKey)
    }
    val dir = normalizePath(sfDir)
    dropMemos(_.dir == dir)
    hit.size
  }

  /** Release everything: all registered caches and all memos. */
  def clearAll(): Int = {
    val n = reg.size()
    reg.values().asScala.foreach(_.unpersist(blocking = true))
    reg.clear()
    dropMemos(_ => true)
    n
  }
}
