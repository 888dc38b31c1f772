package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One output check: its name, verdict and a human-readable detail. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Output checks that recompute the expected answer from the generated
  * inputs in plain Scala, without calling the program's tokenizer,
  * aggregator or dedup code. Spark is used only to read parquet files.
  */
object Checks {

  /** Absolute-plus-relative tolerance for recomputed doc vectors: the
    * program sums float-valued vectors in double precision in a
    * different order, so the only expected difference is rounding.
    */
  val VecTol = 1e-9

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= VecTol * (1.0 + math.abs(b))

  /** Words of the given languages' `.vec` files, parsed as float32 the
    * way a fastText reader does. Only `wanted` words are kept.
    */
  def readVec(file: File, wanted: Set[String]): Map[String, Array[Float]] = {
    val out = mutable.Map.empty[String, Array[Float]]
    val lines = Files.readAllLines(file.toPath, StandardCharsets.UTF_8).asScala
    lines.drop(1).foreach { line =>
      val sp = line.indexOf(' ')
      val w = line.substring(0, sp)
      if (wanted.contains(w))
        out(w) = line.substring(sp + 1).split(' ').map(_.toFloat)
    }
    out.toMap
  }

  /** batch_vectorize: the output has one row per input post, and for a
    * seeded sample of posts the vector equals Σ tf·idf·vec recomputed
    * from the post text (tokens are the space-separated words), the
    * emitted IDF table and the `.vec` files.
    */
  def vectorize(spark: SparkSession, docs: DataFrame, out: DataFrame,
      idf: DataFrame, vecDir: String, dim: Int, sampleSeed: Long,
      sampleSize: Int = 48): Seq[Check] = {
    val nIn = docs.count()
    val nOut = out.count()
    val rowCheck = Check("vectorize.row_count", nIn == nOut,
      s"output rows $nOut, input posts $nIn")
    val rnd = new java.util.Random(sampleSeed)
    val ids = Seq.fill(sampleSize)((rnd.nextDouble() * nIn).toLong).distinct
    val posts = docs.filter(col("doc_id").isin(ids: _*))
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val wanted = posts.flatMap { case (_, l, t) => t.split(' ').map(w => (l, w)) }.toSet
    val idfMap = {
      import spark.implicits._
      val keys = wanted.toSeq.toDF("lang", "token")
      idf.join(keys, Seq("lang", "token")).select("lang", "token", "idf")
        .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    }
    val vecs = wanted.groupBy(_._1).map { case (l, ws) =>
      l -> readVec(new File(s"$vecDir/$l.vec"), ws.map(_._2))
    }
    val got = out.filter(col("doc_id").isin(ids: _*))
      .select("doc_id", "known", "vec").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2).toArray)).toMap
    var bad = 0
    var firstBad = ""
    posts.foreach { case (id, l, t) =>
      val words = t.split(' ')
      val counts = words.groupBy(identity).map { case (w, xs) => w -> xs.length }
      val want = new Array[Double](dim)
      var known = 0L
      counts.foreach { case (w, c) =>
        (idfMap.get((l, w)), vecs.getOrElse(l, Map.empty).get(w)) match {
          case (Some(i), Some(v)) =>
            known += 1
            val wgt = c.toDouble / words.length * i
            var d = 0
            while (d < dim) { want(d) += wgt * v(d).toDouble; d += 1 }
          case _ =>
        }
      }
      val ok = got.get(id).exists { case (k, v) =>
        k == known && v.length == dim && v.indices.forall(d => close(v(d), want(d)))
      }
      if (!ok) { bad += 1; if (firstBad.isEmpty) firstBad = s" (first: doc $id)" }
    }
    Seq(rowCheck, Check("vectorize.sample_vectors", bad == 0 && posts.nonEmpty,
      s"${posts.length - bad}/${posts.length} sampled vectors within $VecTol$firstBad"))
  }

  /** stream_ingest, one episode: every arrival is accepted or dropped
    * exactly once, every planted exact re-post is dropped, and the
    * vector store holds exactly the accepted ids. Returns the checks
    * and (accepted, dropped, near-dup plants dropped).
    */
  def stream(spark: SparkSession, arrivedIds: Set[Long], storeRoot: String,
      reposts: Seq[Long], nearDups: Seq[Long]): (Seq[Check], Long, Long, Long) = {
    val acceptedRows = spark.read.parquet(s"$storeRoot/docs").select("doc_id")
      .collect().map(_.getLong(0))
    val accepted = acceptedRows.toSet
    val dropped = arrivedIds -- accepted
    val foreign = accepted -- arrivedIds
    val balance = Check("stream.accepted_plus_dropped",
      acceptedRows.length + dropped.size == arrivedIds.size && foreign.isEmpty,
      s"accepted ${acceptedRows.length} + dropped ${dropped.size} vs arrived " +
        s"${arrivedIds.size}, ${foreign.size} unknown ids")
    val rep = reposts.filter(arrivedIds.contains)
    val leaked = rep.filter(accepted.contains)
    val repCheck = Check("stream.reposts_dropped", leaked.isEmpty,
      s"${rep.length - leaked.length}/${rep.length} planted exact re-posts dropped")
    val stored = spark.read.parquet(s"$storeRoot/vectors").select("doc_id")
      .collect().map(_.getLong(0))
    val storeCheck = Check("stream.store_rows", stored.length == accepted.size &&
      stored.toSet == accepted,
      s"vector store rows ${stored.length}, accepted ids ${accepted.size}")
    val near = nearDups.filter(arrivedIds.contains)
    val nearDropped = near.count(id => !accepted.contains(id)).toLong
    (Seq(balance, repCheck, storeCheck), acceptedRows.length.toLong,
      dropped.size.toLong, nearDropped)
  }

  /** release_pipeline: the published snapshot's documents and vectors
    * row counts equal the run's funnel.
    */
  def release(documents: Long, vectors: Long, r: graft.Pipeline.Result): Seq[Check] = {
    val funnel = r.kept - r.heldOutEval - r.droppedC4Pages - r.droppedLowQuality -
      r.prunedNearDup - r.emptiedBySegClean - r.droppedContaminated - r.prunedSemantic
    Seq(
      Check("release.documents_rows", documents == funnel && documents > 0,
        s"snapshot documents $documents, funnel $funnel"),
      Check("release.vectors_rows", vectors == r.vectorized && vectors <= documents,
        s"snapshot vectors $vectors, funnel vectorized ${r.vectorized}"))
  }
}
