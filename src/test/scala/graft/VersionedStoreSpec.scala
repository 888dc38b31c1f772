package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedStore

class VersionedStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("publish/readVersion/readLatest: snapshots are immutable and pinnable") {
    val root = java.nio.file.Files.createTempDirectory("graft_vstore").toString
    assert(VersionedStore.latestVersion(root).isEmpty)

    val v0 = VersionedStore.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    val v1 = VersionedStore.publish(
      Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "v"), root)
    assert(v0 === 0L && v1 === 1L)
    assert(VersionedStore.latestVersion(root) === Some(1L))

    // pinned read sees the OLD snapshot unchanged after later publishes
    val pinned = VersionedStore.readVersion(spark, root, 0L)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(pinned === Seq((1L, "a"), (2L, "b")))
    val latest = VersionedStore.readLatest(spark, root)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(latest === Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("orphan recovery: a crashed publish does not wedge the store") {
    val root = java.nio.file.Files.createTempDirectory("graft_vstore3").toString
    VersionedStore.publish(Seq((1L, "a")).toDF("id", "v"), root) // v=0
    // simulate a crash AFTER the v=1 parquet write but BEFORE the
    // marker publish: the directory exists, the marker still says 0
    Seq((9L, "x")).toDF("id", "v").write.parquet(s"$root/v=1")
    assert(VersionedStore.latestVersion(root) === Some(0L))
    // the next publish must skip past the orphan instead of dying on
    // errorifexists, and the orphan stays unpublished
    val v = VersionedStore.publish(Seq((2L, "b")).toDF("id", "v"), root)
    assert(v === 2L)
    assert(VersionedStore.latestVersion(root) === Some(2L))
    assert(VersionedStore.readLatest(spark, root)
      .as[(Long, String)].collect().toSeq === Seq((2L, "b")))
  }

  test("vacuum keeps the last K published versions; pinned reader survives") {
    val root = java.nio.file.Files.createTempDirectory("graft_vstore4").toString
    for (i <- 0 to 3)
      VersionedStore.publish(Seq((i.toLong, s"v$i")).toDF("id", "v"), root)
    val deleted = VersionedStore.vacuum(root, keepLast = 2)
    assert(deleted === Seq(0L, 1L))
    // a reader pinned to a RETAINED version is unaffected by the vacuum
    assert(VersionedStore.readVersion(spark, root, 2L)
      .as[(Long, String)].collect().toSeq === Seq((2L, "v2")))
    assert(VersionedStore.readLatest(spark, root)
      .as[(Long, String)].collect().toSeq === Seq((3L, "v3")))
    // vacuumed versions are gone; vacuum is idempotent
    intercept[Exception](VersionedStore.readVersion(spark, root, 0L)
      .collect())
    assert(VersionedStore.vacuum(root, keepLast = 2) === Seq.empty)
  }

  test("publishOrAdopt: a lost publish race adopts the rival's version") {
    val root = java.nio.file.Files.createTempDirectory("graft_vstore5").toString
    VersionedStore.publish(Seq((1L, "a")).toDF("id", "v"), root) // v=0
    // simulate losing the race: our publish throws AFTER a rival
    // already advanced the marker past what we saw at entry
    val adopted = VersionedStore.publishOrAdopt(root) {
      VersionedStore.publish(Seq((2L, "rival")).toDF("id", "v"), root)
      throw new RuntimeException("errorifexists: v collision")
    }
    assert(adopted === 1L)
    assert(VersionedStore.readLatest(spark, root)
      .as[(Long, String)].collect().toSeq === Seq((2L, "rival")))
    // with NO rival publish, a genuine failure still surfaces
    val boom = intercept[RuntimeException](
      VersionedStore.publishOrAdopt(root)(
        throw new RuntimeException("genuine failure")))
    assert(boom.getMessage === "genuine failure")
  }

  test("publishOrAdopt: two real racing publishers both end up serving a version") {
    // the round-11 advice scenario live: two sessions hit an empty
    // root at once; both allocate v=0, one loses errorifexists — the
    // loser must adopt, and whatever each returns must be readable
    val root = java.nio.file.Files.createTempDirectory("graft_vstore6").toString
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def contender(tag: String): Future[Long] = Future {
      VersionedStore.publishOrAdopt(root) {
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
        VersionedStore.publish(Seq((1L, tag)).toDF("id", "v"), root)
      }
    }
    val (a, b) = (contender("a"), contender("b"))
    val va = Await.result(a, 120.seconds)
    val vb = Await.result(b, 120.seconds)
    // both contenders hold a live version; the marker names one of
    // them; every returned version is a complete readable snapshot
    val latest = VersionedStore.latestVersion(root)
    assert(latest.nonEmpty && Seq(va, vb).contains(latest.get))
    for (v <- Seq(va, vb).distinct)
      assert(VersionedStore.readVersion(spark, root, v).count() === 1)
  }

  test("conditional-create hook: a simulated CAS backend owns every claim") {
    // round-15 verdict ask #7: on object stores the default claim is
    // HEAD-then-PUT; a backend with compare-and-swap (If-None-Match
    // PUT) installed here makes the claim exclusive. The simulation:
    // an atomic set decides the winner (the CAS server), the hook
    // materializes the claim file only for winners and THROWS for
    // losers — the documented contract.
    val root = java.nio.file.Files.createTempDirectory("graft_vstore_cas")
      .toString
    val casStore = java.util.concurrent.ConcurrentHashMap
      .newKeySet[String]()
    val hookCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    VersionedStore.setConditionalCreate(Some { (fs, p) =>
      hookCalls.incrementAndGet()
      if (!casStore.add(p.getName))
        throw new java.io.IOException(s"412 precondition failed: $p exists")
      fs.create(p, true).close()
    })
    try {
      // every publish claims through the hook, on every scheme
      val v0 = VersionedStore.publish(Seq((1L, "a")).toDF("id", "v"), root)
      assert(v0 === 0L && hookCalls.get() === 1)
      assert(casStore.contains("_claim_v=0"))
      // a rival's CAS-claimed (but data-less) version is skipped by
      // allocation exactly like a built-in claim
      casStore.add("_claim_v=1")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(root, "_claim_v=1"), true)
        .close()
      val v2 = VersionedStore.publish(Seq((2L, "b")).toDF("id", "v"), root)
      assert(v2 === 2L)
      // two racing publishers: the CAS set serializes them — both end
      // up serving a readable version, and every claim that exists
      // went through the backend (no bypass path)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      def contender(tag: String): Future[Long] = Future {
        VersionedStore.publishOrAdopt(root) {
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          VersionedStore.publish(Seq((3L, tag)).toDF("id", "v"), root)
        }
      }
      val (a, b) = (contender("a"), contender("b"))
      val va = Await.result(a, 120.seconds)
      val vb = Await.result(b, 120.seconds)
      for (v <- Seq(va, vb).distinct)
        assert(VersionedStore.readVersion(spark, root, v).count() === 1)
      val claimFiles = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .map(_.getPath.getName).filter(_.startsWith("_claim_v=")).toSet
      assert(claimFiles.subsetOf(
        scala.jdk.CollectionConverters.SetHasAsScala(casStore).asScala.toSet),
        s"a claim bypassed the CAS backend: $claimFiles vs $casStore")
      assert(hookCalls.get() >= 3)
    } finally VersionedStore.setConditionalCreate(None)
  }

  test("the marker has no checksum sidecar, so racing publishes never tear it") {
    // ChecksumFileSystem renames a file and its .crc as two renames;
    // two racing publishers could pair one's marker with the other's
    // sidecar and every later read threw ChecksumException. The marker
    // now lives on the raw filesystem: racing writers and a reader
    // polling throughout must never see an error.
    val root = java.nio.file.Files.createTempDirectory("graft_vstore_marker")
      .toString
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = Future {
      var reads = 0
      while (!stop.get()) { VersionedStore.latestVersion(root); reads += 1 }
      reads
    }
    // a writer that loses a claim race retries above the rival's claim
    def publish(i: Int, tag: String): Long =
      try VersionedStore.publish(Seq((i.toLong, tag)).toDF("id", "v"), root)
      catch { case _: java.nio.file.FileAlreadyExistsException => publish(i, tag) }
    val writers = Seq("a", "b").map(tag => Future((1 to 4).map(publish(_, tag))))
    val published = try writers.flatMap(w => Await.result(w, 120.seconds))
      finally stop.set(true)
    assert(Await.result(reader, 60.seconds) > 0)
    assert(published.distinct.size === 8, s"versions reused: $published")
    assert(VersionedStore.latestVersion(root).exists(published.contains))
    val names = new java.io.File(root).list().toSeq
    assert(!names.exists(n => n.startsWith("._latest") || n.startsWith("_latest.tmp")),
      s"marker left a sidecar or temp file: $names")
  }

  test("fileFingerprint: nested-subdirectory changes alter the identity") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp").toString
    // a partitioned table shape: files inside nested subdirectories
    Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(s"$dir/t.parquet")
    val fp0 = Tables.fileFingerprint(spark, dir, "t")
    assert(fp0.matches("[0-9a-f]{32}"), s"not a digest: $fp0")
    assert(Tables.fileFingerprint(spark, dir, "t") === fp0, "not deterministic")
    // touch ONE nested leaf file's mtime (size unchanged): the old
    // sum-sizes + top-level-mtime scheme missed exactly this
    val leaf = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/t.parquet"))
      .filter(p => p.toString.endsWith(".parquet") && p.toFile.isFile)
      .findFirst().get()
    java.nio.file.Files.setLastModifiedTime(leaf,
      java.nio.file.attribute.FileTime.fromMillis(
        leaf.toFile.lastModified() + 60000))
    assert(Tables.fileFingerprint(spark, dir, "t") !== fp0,
      "nested mtime change not detected")
  }

  test("fileFingerprint digests the same tuples as a recursive listFiles walk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fp_walk").toString
    Seq((1L, "a", "x", 1), (2L, "b", "y", 2), (3L, "c", "y", 3)).toDF("id", "v", "p", "q")
      .write.partitionBy("p", "q").parquet(s"$dir/t.parquet")
    // the published digests were taken over this walk
    val p = new org.apache.hadoop.fs.Path(s"$dir/t.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(p).toString
    val tuples = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      tuples += s"${st.getPath.toString.stripPrefix(base)}:${st.getLen}:${st.getModificationTime}"
    }
    assert(tuples.exists(_.startsWith("/p=y/q=")), s"no nested file: $tuples")
    val md = java.security.MessageDigest.getInstance("MD5")
    tuples.sorted.foreach(t => md.update(t.getBytes("UTF-8")))
    assert(Tables.fileFingerprint(spark, dir, "t") ===
      md.digest().map("%02x".format(_)).mkString)
  }

  test("a merge publishes as a new version, never rewriting the old one") {
    val root = java.nio.file.Files.createTempDirectory("graft_vstore2").toString
    val base = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "score")
    VersionedStore.publish(base, root)
    val updates = Seq((2L, 99.0), (3L, 30.0)).toDF("id", "score")
    val merged = graft.sources.Upsert.mergeByKey(
      VersionedStore.readLatest(spark, root), updates, "id")
    val v = VersionedStore.publish(merged, root)
    assert(v === 1L)
    assert(VersionedStore.readVersion(spark, root, 0L).count() === 2)
    val got = VersionedStore.readLatest(spark, root)
      .orderBy("id").as[(Long, Double)].collect().toSeq
    assert(got === Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }
}
