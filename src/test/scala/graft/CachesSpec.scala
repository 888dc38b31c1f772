package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.ExtensionQueries

/** The session-lifetime shared caches must be releasable per dataset
  * (round-3 ADVICE / round-4 verdict #5): a long-lived multi-dataset
  * server evicts one dataset's postings without disturbing another's.
  */
class CachesSpec extends AnyFunSuite with SparkSpec {

  test("clear(sfDir) releases every registered cache for that dataset and queries still work") {
    // Populate the shared caches: docTokens (via q04-style vocab),
    // docShingles + the x04 pair set, and x51's 8-gram posting.
    val x04Before = ExtensionQueries.x04_ngram_jaccard(spark, sf).collect()
    ExtensionQueries.x51_contamination(spark, sf).count()
    graft.ml.IvfIndex.build(spark, sf)

    val live = Caches.registered(sf)
    assert(live.nonEmpty, "expected registered caches after running x04/x51")
    assert(live.forall(_.storageLevel != StorageLevel.NONE))

    val released = Caches.clear(sf)
    assert(released >= live.size && released > 0)
    assert(Caches.registered(sf).isEmpty, "registry must be empty for sfDir after clear")
    assert(live.forall(_.storageLevel == StorageLevel.NONE),
      "every previously-registered frame must be unpersisted")

    // Eviction is transparent: the query rebuilds its cache and returns
    // identical rows.
    val x04After = ExtensionQueries.x04_ngram_jaccard(spark, sf).collect()
    assert(x04After.toSeq == x04Before.toSeq)
    Caches.clear(sf)
  }

  test("clear(sfDir) leaves other datasets' caches alone") {
    val other = sfDir("0.01")
    ExtensionQueries.x04_ngram_jaccard(spark, sf).count()
    ExtensionQueries.x04_ngram_jaccard(spark, other).count()
    assert(Caches.registered(sf).nonEmpty && Caches.registered(other).nonEmpty)

    Caches.clear(sf)
    assert(Caches.registered(sf).isEmpty)
    val survivors = Caches.registered(other)
    assert(survivors.nonEmpty, "the other dataset's caches must survive")
    assert(survivors.forall(_.storageLevel != StorageLevel.NONE))
    Caches.clear(other)
  }

  test("persisting an equivalent plan twice registers once and skips the second persist()") {
    import spark.implicits._
    val mk = () => Seq((1L, "a"), (2L, "b")).toDF("id", "s").filter($"id" > 0)
    val before = Caches.registered(sf).size
    val first = Caches.persist(mk())
    val second = Caches.persist(mk()) // equivalent plan, fresh frame
    // the registry hands back the FIRST frame — the second frame was
    // never persisted, so CacheManager is never asked to re-cache an
    // already-cached plan (round-5 verdict #6: warning spam + a
    // redundant re-mark on every warm x04 call)
    assert(second eq first, "equivalent plan must return the registered frame")
    assert(first.storageLevel != StorageLevel.NONE)
    assert(Caches.registered(sf).size == before,
      "in-memory frames don't read sfDir; that registry slice is unchanged")
    Caches.clearAll()
  }

  test("Caches.clear(sfDir) also releases the dataset's BPE memo; queries rebuild") {
    import graft.queries.ExtensionQueries
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    ExtensionQueries.x79_bpe_train(spark, sf).collect()
    assert(Caches.memoized("bpe", sf) > 0, "x79 should populate the memo")
    // the memo's encoded frame is a localCheckpoint — its blocks show
    // up as persistent RDDs the CacheManager does NOT track
    val rddsWithMemo = spark.sparkContext.getPersistentRDDs.keySet
    assert((rddsWithMemo -- rddsBefore).nonEmpty,
      "the BPE memo should hold checkpoint storage")
    Caches.clear(sf)
    assert(Caches.memoized("bpe", sf) === 0, "clear must drop the BPE memo")
    // release is REAL, not GC-deferred: the checkpoint RDDs introduced
    // by the memo are gone from persistent storage (Dataset.unpersist
    // would be a silent no-op here — the CheckpointShim pin)
    val rddsAfter = spark.sparkContext.getPersistentRDDs.keySet
    assert((rddsWithMemo -- rddsBefore -- rddsAfter).nonEmpty,
      "the BPE memo's release must unpersist the checkpointed frame's storage")
    // transparent rebuild, identical answer (training is deterministic)
    val again = ExtensionQueries.x79_bpe_train(spark, sf).collect()
    assert(Caches.memoized("bpe", sf) > 0)
    assert(again.nonEmpty)
  }

  test("Caches.clear(sfDir) drops the dataset's Bm25/IvfPq memos so queries re-register caches") {
    import graft.queries.ExtensionQueries
    ExtensionQueries.x91_bm25(spark, sf).collect()
    val before = Caches.registered(sf).size
    assert(before > 0, "the BM25 build should register shared caches")
    Caches.clear(sf)
    // a cleared memo must NOT serve the old (now unpersisted) frames:
    // the next call rebuilds and re-registers through Caches
    ExtensionQueries.x91_bm25(spark, sf).collect()
    assert(Caches.registered(sf).nonEmpty,
      "post-clear BM25 must re-register its caches (stale memo served)")
    Caches.clearAll()
  }

  test("Caches.clear(sfDir) drops the dataset's memoized IVF index") {
    val ixA = graft.ml.IvfIndex.build(spark, sf)
    Caches.clear(sf)
    assert(ixA.assigned.storageLevel == StorageLevel.NONE)
    // a rebuild after clear is a fresh index, not the dropped memo
    val ixB = graft.ml.IvfIndex.build(spark, sf)
    assert(ixB ne ixA)
    Caches.clear(sf)
  }

  test("Caches.clear(sfDir) releases the PQ index's persisted codes") {
    val ix = graft.ml.PqIndex.build(spark, sf)
    assert(ix.codes.storageLevel != StorageLevel.NONE)
    Caches.clear(sf)
    assert(ix.codes.storageLevel == StorageLevel.NONE,
      "the PQ code frame stays cached after its dataset was cleared")
  }

  test("Caches.clear matches a trailing-slash spelling of the dataset path") {
    ExtensionQueries.x91_bm25(spark, sf).collect()
    Caches.clear(sf + "/")
    // the memo dropped under the other spelling must not serve the
    // frames that clear just unpersisted: the rebuild re-registers
    ExtensionQueries.x91_bm25(spark, sf).collect()
    assert(Caches.registered(sf).nonEmpty,
      "a stale BM25 memo survived clear(sfDir + \"/\")")
    Caches.clearAll()
  }

  test("a new session trains its own corpus BPE, never reusing another session's memo") {
    val first = ExtensionQueries.x79_bpe_train(spark, sf).collect()
    val other = spark.newSession()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val again = ExtensionQueries.x79_bpe_train(other, sf).collect()
    // training checkpoints the encoded word dimension: new checkpoint
    // storage means the second session built its own memo
    assert((spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore).nonEmpty,
      "the new session was served the first session's BPE memo")
    assert(Caches.memoized("bpe", sf) === 2)
    assert(again.toSeq === first.toSeq, "training is deterministic")
    Caches.clear(sf)
    assert(Caches.memoized("bpe", sf) === 0,
      "clear(sfDir) releases every session's memo for the dataset")
  }
}
