package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot-versioned parquet store — reproducible dataset versions for
  * training pipelines (a run must be able to pin "documents as of
  * snapshot 3" forever, while ingest keeps appending new snapshots).
  *
  * Layout: one immutable directory per version (`<root>/v=N/`), plus a
  * tiny `_latest` marker file naming the current version and one
  * zero-byte `_claim_v=N` file per allocated version (the atomic
  * claim that serializes concurrent publishers onto distinct numbers —
  * see `claimVersion`). Readers of a pinned version touch exactly one
  * directory; nothing is ever rewritten (writers only add `v=N+1`), so
  * concurrent readers can't observe a half-replaced snapshot — the
  * publish is the atomic rename of the marker's temp file. At 100 TB each snapshot is just a partitioned
  * parquet dataset; the versioning cost is one directory level. Full
  * Delta/Iceberg-style row-level time travel is out of scope — this is
  * the dependency-free snapshot recipe.
  *
  * All metadata I/O goes through the Hadoop FileSystem of the root path
  * — the store works wherever the parquet does (HDFS, S3A, local),
  * not just on a local disk. Crash safety: a failure between the data
  * write and the marker publish leaves an unpublished orphan `v=N+1`
  * directory; the next publish allocates ABOVE all existing directories
  * (not just the published version), so the store never wedges on
  * `errorifexists`.
  */
object VersionedStore {

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def marker(root: String) = new Path(root, "_latest")

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** The filesystem the marker is written and read through: the RAW
    * filesystem under a checksummed one (Hadoop's local `file:`).
    * There a rename is TWO renames — the data file, then its `.crc`
    * sidecar — so two racing publishers could interleave them and
    * leave one writer's marker paired with the other's sidecar: a
    * `ChecksumException` on every read until the next publish
    * rewrote the marker, which no read retry can heal. A marker
    * without a sidecar is replaced by one atomic rename.
    */
  private def markerFs(root: String): FileSystem = fsOf(marker(root)) match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case fs => fs
  }

  /** Highest published version, or None for an empty store. */
  def latestVersion(root: String): Option[Long] = {
    val m = marker(root)
    val fs = markerFs(root)
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        Some(new String(out.toByteArray, "UTF-8").trim.toLong)
      } finally in.close()
    }
  }

  /** ONE shared parse for both version namespaces (round-15 review:
    * two near-copies meant a future change to version-name parsing
    * could split allocation from orphan recovery).
    */
  private def listVersionNumbers(root: String, prefix: String,
      wantDir: Boolean): Seq[Long] = {
    val p = new Path(root)
    val fs = fsOf(p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(s => if (wantDir) s.isDirectory else s.isFile)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) => n.stripPrefix(prefix) }
      .flatMap(n => scala.util.Try(n.toLong).toOption)
  }

  /** All `v=N` directories under the root, published or orphaned. */
  private def versionDirs(root: String): Seq[Long] =
    listVersionNumbers(root, "v=", wantDir = true)

  /** Versions some publisher has CLAIMED (`_claim_v=N` files at the
    * root) — including claims whose data directory never landed (a
    * crashed claimant). Allocation must skip them or a dead claim
    * wedges the store on that number forever.
    */
  private def claimedVersions(root: String): Seq[Long] =
    listVersionNumbers(root, "_claim_v=", wantDir = false)

  /** Atomically claim a version number: exactly ONE publisher can
    * create `<root>/_claim_v=N`, so two racers that both computed the
    * same `next` can no longer BOTH pass Spark's ErrorIfExists
    * existence check before either has created the directory and
    * interleave their part files into one mixed snapshot (the TOCTOU
    * VersionedStoreSpec's racing-publishers case caught live,
    * round-15). The loser throws before writing any data;
    * [[publishOrAdopt]] turns that into an adoption exactly like a
    * lost `errorifexists` race. Atomicity per scheme: local files go
    * through java.nio `createFile` (O_CREAT|O_EXCL — Hadoop's local
    * `create(overwrite=false)` is itself check-then-create); HDFS
    * `create(overwrite=false)` is a single atomic namenode op. On
    * object stores (S3A) the default `create` is HEAD-then-PUT, so
    * out of the box the claim only NARROWS the window there and
    * single-writer-per-root (or an external lock service) remains the
    * deployment contract, exactly as it already was for the marker
    * rename — but a backend with atomic conditional create CLOSES it:
    * install one via [[setConditionalCreate]] (round-15 verdict ask
    * #7) and every claim goes through it.
    */
  private def claimVersion(root: String, v: Long): Unit = {
    val p = new Path(root, s"_claim_v=$v")
    val fs = fsOf(p)
    conditionalCreate match {
      case Some(cc) => cc(fs, p)
      case None =>
        val q = fs.makeQualified(p)
        if (q.toUri.getScheme == "file") {
          val local = java.nio.file.Paths.get(q.toUri.getPath)
          java.nio.file.Files.createDirectories(local.getParent)
          java.nio.file.Files.createFile(local)
          ()
        } else fs.create(p, false).close()
    }
  }

  /** Pluggable atomic create-if-absent for the claim protocol
    * (round-15 verdict ask #7). Object stores with compare-and-swap —
    * S3 `If-None-Match: *` PUT, GCS `x-goog-if-generation-match: 0`,
    * ABFS ETag-conditional create — can make the claim EXCLUSIVE
    * where the default HEAD-then-PUT `create(overwrite=false)`
    * cannot; installing such a primitive closes the residual claim
    * race on that backend (the marker rename stays last-writer-wins,
    * which keep-max already tolerates). Contract: atomically create
    * the zero-byte path iff it does not exist, THROW (any exception)
    * if it does. When installed it handles EVERY scheme — the
    * local/HDFS defaults are already atomic, so deployments normally
    * install it only in object-store jobs; `None` restores the
    * built-in behavior. Process-wide — set once at job start, not per
    * publish.
    */
  @volatile private var conditionalCreate
      : Option[(FileSystem, Path) => Unit] = None

  def setConditionalCreate(f: Option[(FileSystem, Path) => Unit]): Unit =
    conditionalCreate = f

  /** Next version: above every published version, data directory, AND
    * claim — orphan recovery for crashed writers and crashed claimants
    * alike.
    */
  private def nextVersion(root: String): Long =
    ((latestVersion(root).getOrElse(-1L) +: versionDirs(root)) ++
      claimedVersions(root)).max + 1L

  /** Release OUR claim after a failed publish (best-effort): the claim
    * is exclusively this publisher's, and leaving it behind would make
    * every genuine failure read as a rival in flight — stalling
    * publishOrAdopt's quick-fail path the full maxWaitMs at this root
    * until some publish finally lands above it (round-15 review). A
    * crash between claim and this release still only costs the stall
    * plus vacuum debt, never correctness.
    */
  private def releaseClaim(root: String, v: Long): Unit =
    try {
      fsOf(new Path(root)).delete(new Path(root, s"_claim_v=$v"), false)
      ()
    } catch { case _: Exception => () }

  /** Write `df` as the next snapshot and publish it; returns the new
    * version number. The next version is allocated above ALL existing
    * `v=N` directories and claims (orphan recovery — see object doc)
    * and CLAIMED atomically before any data is written (see
    * [[claimVersion]]). The marker is written to a temp file then
    * renamed over the old one in one atomic step on HDFS and local
    * filesystems (see publishMarker): a concurrent reader sees either
    * the old or the new version, never a torn or missing marker.
    */
  def publish(df: DataFrame, root: String): Long = {
    val next = nextVersion(root)
    claimVersion(root, next)
    try {
      df.write.mode("errorifexists").parquet(s"$root/v=$next")
      publishMarker(root, next)
    } catch {
      case e: Throwable => releaseClaim(root, next); throw e
    }
    next
  }

  /** Multi-table snapshot: write several named frames under ONE version
    * directory (`v=N/<name>/`) and publish them with a single marker —
    * the publish-together a model ARTIFACT needs (an IVF index is
    * centroids + assignments; a reader must never pair version 5's
    * centroids with version 4's assignments). Same crash safety as
    * [[publish]]: a failure mid-write leaves an unpublished orphan
    * `v=N` that later publishes allocate past.
    */
  def publishAll(dfs: Map[String, DataFrame], root: String): Long = {
    require(dfs.nonEmpty, "publishAll needs at least one table")
    val next = nextVersion(root)
    claimVersion(root, next)
    try {
      dfs.foreach { case (name, df) =>
        df.write.mode("errorifexists").parquet(s"$root/v=$next/$name")
      }
      publishMarker(root, next)
    } catch {
      case e: Throwable => releaseClaim(root, next); throw e
    }
    next
  }

  /** Whether a pinned snapshot's `meta` table records exactly the
    * fingerprint the caller wants — the freshness predicate every
    * loadOrPublish-style caller already applies to the LATEST version,
    * factored out so [[publishOrAdopt]] adoption can re-apply it to the
    * version it is about to serve (round-12 advice: adopting ANY newer
    * version can hand the caller a rival artifact built from a
    * DIFFERENT source state). Any read failure is "doesn't match".
    */
  def metaMatches(spark: SparkSession, root: String, v: Long,
      want: String): Boolean =
    try readTable(spark, root, v, "meta")
      .collect().headOption.exists(_.getString(0) == want)
    catch { case _: Exception => false }

  /** Run a publish tolerating a concurrent publisher's `v=N` race
    * (round-11 advice: two JVM sessions on the same dataset share the
    * tmp-dir artifact root, and `errorifexists` makes the loser THROW
    * even though the winner's snapshot is exactly what it wanted to
    * serve). If `publish` fails but the store's latest version ADVANCED
    * past `before` — and the adopted snapshot passes the caller's
    * `verify` predicate (round-12 advice: an unverified adoption can
    * serve a rival artifact built from different source state; pass the
    * same freshness check the caller used to decide to publish, e.g.
    * [[metaMatches]] with its `want` fingerprint) — a concurrent
    * publisher won: adopt its version.
    *
    * The winner may still be mid-publish when the loser's write
    * collides, and a multi-table artifact (IVF coded frames) can take
    * far longer than any fixed grace to land, so the poll window is
    * EVIDENCE-BASED rather than hardcoded (round-12 advice: the old
    * flat 20x250 ms rethrew genuinely-won races): while a rival `v=N`
    * data directory above `before` is visible on disk, the poll keeps
    * waiting for its marker up to `maxWaitMs`; with no rival directory
    * ever appearing it gives up after the short `quickWaitMs` — a
    * genuine error, not a race, and the original failure rethrows
    * promptly. An adopted-but-unverifiable version keeps polling (an
    * even newer rival may land) and rethrows at the deadline rather
    * than serve wrong data.
    */
  def publishOrAdopt(root: String, verify: Long => Boolean = _ => true,
      quickWaitMs: Long = 5000, maxWaitMs: Long = 60000)
      (publish: => Long): Long = {
    val before = latestVersion(root)
    try publish
    catch {
      case e: Exception =>
        val t0 = System.nanoTime()
        def elapsedMs = (System.nanoTime() - t0) / 1000000L
        while (true) {
          latestVersion(root) match {
            case Some(v) if !before.contains(v) && verify(v) => return v
            case _ => ()
          }
          // our own failed multi-table publish can leave a partial
          // v=N orphan, which also reads as "rival in flight" — the
          // wait is then pointless but bounded by maxWaitMs, and
          // correctness never depends on telling the two apart. A
          // rival that has CLAIMED but not yet created its data
          // directory counts too (the claim is now the first visible
          // step of a publish).
          val rivalInFlight =
            (versionDirs(root) ++ claimedVersions(root))
              .exists(_ > before.getOrElse(-1L))
          if (elapsedMs >= (if (rivalInFlight) maxWaitMs else quickWaitMs))
            throw e
          Thread.sleep(250)
        }
        throw e // unreachable; while(true) above always returns/throws
    }
  }

  /** The session's served copy of a per-dataset artifact — the one
    * publish-or-load recipe every published index shares (BM25 and its
    * passage variant, IVF-PQ, the whitening transform, the whitened
    * IVF-PQ, the bitext pair). Memoized per (session, dataset, `kind`)
    * through [[graft.Caches.memo]]. On a miss the latest snapshot under
    * [[artifactRoot]] is served only when its `meta` table records
    * `fingerprint` (the source tables' filesystem identity — size +
    * mtime, metadata-only): a stale artifact over regenerated data
    * republishes instead of silently answering from the old corpus,
    * and any load/validate failure republishes too. `publish(root,
    * meta)` writes the snapshot with `meta` (the one-row fingerprint
    * table) among its tables, under [[publishOrAdopt]] — a racing
    * publisher's snapshot is adopted only if it matches the same
    * fingerprint. `load` reads the served snapshot.
    */
  def loadOrPublish[T](spark: SparkSession, kind: String, sfDir: String,
      fingerprint: => String)(publish: (String, DataFrame) => Long)(
      load: String => T): T =
    graft.Caches.memo(spark, s"$kind-artifact", sfDir) {
      val root = artifactRoot(kind, sfDir)
      val want = fingerprint
      val fresh =
        try latestVersion(root).exists(metaMatches(spark, root, _, want))
        catch { case _: Exception => false }
      if (!fresh) {
        import spark.implicits._
        publishOrAdopt(root, metaMatches(spark, root, _, want))(
          publish(root, Seq(want).toDF("fingerprint")))
      }
      load(root)
    }(_ => ())

  /** Every per-dataset artifact kind [[loadOrPublish]] serves. The
    * harnesses delete these roots for a deterministic cold probe;
    * Bench and ScaleBlowup share this ONE list, since a kind added to
    * only one harness would measure a warm artifact as cold in the
    * other.
    */
  private[graft] val artifactKinds: Seq[String] =
    Seq("bm25", "ivfpq", "bm25p", "whiten", "whivf", "bitext")

  /** Canonical per-dataset artifact root under the JVM temp dir. Keyed
    * on [[graft.Caches.normalizePath]] of the dataset path, so every
    * spelling of one dataset (`/d/x`, `/d/x/`) shares one root. The
    * flattened path keeps the root readable; a hash of the normalized
    * path keeps apart two datasets that flatten alike (`/d/a_b`,
    * `/d/a/b`).
    */
  private[graft] def artifactRoot(kind: String, sfDir: String): String = {
    val dir = graft.Caches.normalizePath(sfDir)
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(6).map(b => "%02x".format(b & 0xff))
      .mkString
    s"${sys.props("java.io.tmpdir")}/graft-artifacts/$kind/" +
      s"${dir.replaceAll("[^A-Za-z0-9._-]", "_")}-$hash"
  }

  /** Read one named table of a pinned multi-table snapshot. */
  def readTable(spark: SparkSession, root: String, version: Long,
      name: String): DataFrame =
    spark.read.parquet(s"$root/v=$version/$name")

  private def publishMarker(root: String, next: Long): Unit = {
    // keep-max: a slow publisher finishing an OLDER claimed version
    // must not regress the marker past a faster rival's newer publish
    // (the claim makes distinct-number overlap the common race shape —
    // round-15 review). The read/rename pair is not atomic, so after
    // OUR rename lands we re-read and re-rename while the marker reads
    // BELOW next (round-15 ADVICE): an older racer whose rename landed
    // after ours regresses the marker for at most one bounded heal
    // iteration — the older side's own loop never re-fires once a
    // larger value is visible, so the max stabilizes. Residual window:
    // an old rename landing after our final check still regresses
    // until the next publish; fully closed only where the backend
    // offers CAS (see setConditionalCreate — same contract note).
    if (latestVersion(root).exists(_ > next)) return
    val m = marker(root)
    val fs = markerFs(root)
    def rename(): Unit = {
      val tmp = new Path(root, s"_latest.tmp.$next")
      val out = fs.create(tmp, true)
      try out.write(next.toString.getBytes("UTF-8")) finally out.close()
      val (src, dst) = (fs.makeQualified(tmp), fs.makeQualified(m))
      // local files: one rename(2), atomic replace. FileContext's
      // OVERWRITE on the local scheme is delete-then-rename (a window
      // where the marker is missing); on HDFS it is one atomic op.
      if (dst.toUri.getScheme == "file")
        java.nio.file.Files.move(java.nio.file.Paths.get(src.toUri),
          java.nio.file.Paths.get(dst.toUri),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      else FileContext.getFileContext(fs.getUri, hadoopConf)
        .rename(src, dst, Options.Rename.OVERWRITE)
    }
    rename()
    var heals = 0
    while (heals < 5 && latestVersion(root).exists(_ < next)) {
      rename()
      heals += 1
    }
  }

  /** Read a pinned snapshot. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    spark.read.parquet(s"$root/v=$version")

  /** Read the latest published snapshot. */
  def readLatest(spark: SparkSession, root: String): DataFrame = {
    val v = latestVersion(root).getOrElse(
      throw new IllegalStateException(s"no published version under $root"))
    readVersion(spark, root, v)
  }

  /** Retention: delete version directories older than the `keepLast`
    * most recent published versions (i.e. keep
    * `[latest - keepLast + 1, latest]`); returns the deleted versions.
    * Orphan directories ABOVE the published version are never touched
    * (they may be a publish in flight). Readers pinned to a retained
    * version are unaffected; pinning older than the retention window is
    * a policy error by definition — choose keepLast to cover every
    * version a live consumer pins.
    */
  def vacuum(root: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    latestVersion(root) match {
      case None => Nil
      case Some(latest) =>
        val cutoff = latest - keepLast + 1
        val victims = versionDirs(root).filter(_ < cutoff).sorted
        val fs = fsOf(new Path(root))
        victims.foreach { v =>
          fs.delete(new Path(root, s"v=$v"), true)
          ()
        }
        // claims below the cutoff are garbage whether or not their
        // data directory ever landed (a crashed claimant's file would
        // otherwise survive every vacuum); allocation is monotone
        // above the marker, so releasing them can never enable reuse
        claimedVersions(root).filter(_ < cutoff).foreach { v =>
          fs.delete(new Path(root, s"_claim_v=$v"), false)
          ()
        }
        victims
    }
  }
}
