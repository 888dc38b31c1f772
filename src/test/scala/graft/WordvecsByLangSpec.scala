package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Tokenize
import graft.queries.ReferenceQueries

/** The per-language IDF dimension ([[ReferenceQueries.wordvecsByLang]])
  * takes vocabulary and occurrences from one (lang, token) aggregate
  * over one tokenize pass. It must equal, row for row and bit for bit,
  * the earlier form kept here as the reference: a distinct vocabulary,
  * a `left_semi` on the qualifying posts' `doc_id`s, a group-by and a
  * left join. `idfOf`'s one-partition (window) and several-partition
  * (broadcast) forms must equal each other the same way.
  */
class WordvecsByLangSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Jobs of a repeated dimension build over [[fixture]] at local[8]:
    * 1 measured, the scan, tokenize, count and floors window in one
    * task. While the floors were a per-key aggregate broadcast over a
    * token exchange, the build took 4; before `n_posts` folded into the
    * token aggregate and table schemas were memoized, 7.
    */
  private val MaxDimensionJobs = 2

  private def reference(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(Tokenize.tokensByLang(col("text"), col("lang"))).as("token"))
    val vocab = tok.select("lang", "token").distinct()
      .filter(length(col("token")) >= 4)
    val posts = docs.filter(col("n_chars") >= 100).select("doc_id", "lang")
    val nDf = posts.groupBy("lang").agg(count(lit(1)).cast("double").as("n_posts"))
    val occ = tok.join(posts.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("lang", "token").agg(count(lit(1)).as("c"))
    val raw = vocab.join(occ, Seq("lang", "token"), "left")
      .withColumn("occurrences", coalesce(col("c"), lit(0L)))
      .join(broadcast(nDf), Seq("lang"))
      .withColumn("raw",
        when(col("occurrences") > 0, log10(col("n_posts") / col("occurrences")))
          .otherwise(lit(-1.0)))
    val minDf = raw.groupBy("lang").agg(min(col("raw")).as("min_raw"))
    raw.join(broadcast(minDf), Seq("lang"))
      .withColumn("idf", when(col("raw") > 0, col("raw")).otherwise(col("min_raw")))
      .select("lang", "token", "idf")
  }

  /** The single-language IDF table ([[ReferenceQueries.idfTableOf]])
    * in its earlier form: the qualifying posts tokenized a second time
    * for their occurrences.
    */
  private def idfReference(docs: DataFrame): DataFrame = {
    def tokens(d: DataFrame) =
      d.select(col("doc_id"), explode(Tokenize.tokens(col("text"))).as("token"))
    val vocab = tokens(docs).select("token").distinct()
      .filter(length(col("token")) >= 4)
    val posts = docs.filter(col("lang") === "en" && col("n_chars") >= 100)
    val nDf = posts.agg(count(lit(1)).cast("double").as("n_posts"))
    val occ = tokens(posts).groupBy("token").agg(count(lit(1)).as("c"))
    val raw = vocab.join(occ, Seq("token"), "left")
      .withColumn("occurrences", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(nDf))
      .withColumn("raw",
        when(col("occurrences") > 0, log10(col("n_posts") / col("occurrences")))
          .otherwise(lit(-1.0)))
    val minDf = raw.agg(min(col("raw")).as("min_raw"))
    raw.crossJoin(broadcast(minDf))
      .withColumn("idf", when(col("raw") > 0, col("raw")).otherwise(col("min_raw")))
      .select("token", "occurrences", "idf")
  }

  /** A documents table with every edge the IDF rules have: a language
    * whose posts are all under 100 chars (de), a token seen only in
    * short posts (en "shortonly"), tokens under 4 chars, a long post
    * with a null `lang`, a per-language tokenizer rule (ru), qualifying
    * posts that contribute no vocabulary (it: no tokens at all; fr:
    * null text, and only tokens under 4 chars), and a language whose
    * every token has 0 occurrences (fr).
    */
  private lazy val fixture: String = {
    // padded with a 2-char token, which never enters the vocabulary
    def long(s: String) = (s + " zz" * 40).take(140)
    val posts = Seq(
      (1L, long("alpha alpha bravo the cat sat"), "en"),
      (2L, long("alpha charlie delta delta delta"), "en"),
      (3L, long("bravo echo foxtrot"), "en"),
      (4L, "shortonly alpha the cat", "en"),
      (5L, "shortonly too", "en"),
      (6L, long("hola amigo amigo casa casa casa"), "es"),
      (7L, long("amigo perro"), "es"),
      (8L, long("gato perro perro"), "es"),
      (9L, long("gato luna"), "es"),
      (10L, "hallo welt freunde", "de"),
      (11L, "guten morgen", "de"),
      (12L, long("привет мир привет друзья"), "ru"),
      (13L, long("nulltoken alpha"), null),
      (14L, "!" * 120, "it"),
      (15L, long("ciao ciao mondo"), "it"),
      (16L, null, "fr"),
      (17L, long("le la de un"), "fr"),
      (18L, "bonjour monde", "fr"))
    val dir = java.nio.file.Files.createTempDirectory("graft_wvl").toString
    // a post with null text still declares its length
    posts.map { case (id, t, l) => (id, t, l, Option(t).fold(150L)(_.length.toLong)) }
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("one-pass IDF table equals the distinct/semi-join form exactly") {
    val got = ReferenceQueries.wordvecsByLang(spark, fixture)
    assert(got.columns.toSeq === Seq("lang", "token", "idf", "vec"))
    val rows = got.select("lang", "token", "idf").as[(String, String, Double)]
      .collect().sorted
    val ref = reference(Tables.documents(spark, fixture))
      .as[(String, String, Double)].collect().sorted
    assert(rows.toSeq === ref.toSeq)

    assert(rows.map(_._1).toSet === Set("en", "es", "ru", "it", "fr"))
    assert(rows.forall(_._2.length >= 4))
    val idf = rows.map(r => (r._1, r._2) -> r._3).toMap
    // hand-computed values: Spark's log10 and this JVM's may differ in
    // the last bit, so these compare to 1e-12 (the equality above is exact)
    def near(k: (String, String), v: Double) =
      assert(math.abs(idf(k) - v) < 1e-12, s"$k ${idf(k)} vs $v")
    // seen only in short posts: 0 occurrences, raw -1, which is also
    // en's minimum raw; alpha's raw log10(3/3) = 0 falls back to it
    assert(idf(("en", "shortonly")) === -1.0)
    assert(idf(("en", "alpha")) === -1.0)
    near(("en", "bravo"), math.log10(3.0 / 2))
    near(("es", "hola"), math.log10(4.0 / 1))
    // es's most frequent tokens, 3 occurrences over 4 posts: raw > 0,
    // so no es token falls back to the min raw
    near(("es", "casa"), math.log10(4.0 / 3))
    near(("es", "perro"), math.log10(4.0 / 3))
    near(("ru", "привет"), math.log10(1.0 / 2))
    near(("ru", "друзья"), math.log10(1.0 / 2))
    // it: the punctuation-only post counts, so n_posts is 2; ciao's raw
    // log10(2/2) = 0 is also the language's minimum raw
    assert(idf(("it", "ciao")) === 0.0)
    near(("it", "mondo"), math.log10(2.0 / 1))
    // fr: two qualifying posts (null text, short tokens) and every
    // token seen only in a short post, so every raw and the min are -1
    assert(rows.filter(_._1 == "fr").map(r => r._2 -> r._3).toSeq.sorted ===
      Seq("bonjour" -> -1.0, "monde" -> -1.0))
  }

  test("the single-language IDF table equals its two-tokenize-pass form exactly") {
    Seq(fixture, sf).foreach { dir =>
      val docs = Tables.documents(spark, dir)
      // the table's precondition: doc_id is unique
      assert(docs.select("doc_id").distinct().count() === docs.count(), dir)
      val got = ReferenceQueries.idfTableOf(docs)
      assert(got.columns.toSeq === Seq("token", "occurrences", "idf"))
      val rows = got.as[(String, Long, Double)].collect().sorted
      val ref = idfReference(docs).as[(String, Long, Double)].collect().sorted
      assert(rows.nonEmpty && rows.toSeq === ref.toSeq, dir)
      if (dir == fixture) {
        // seen only in short posts, and an en token of a null-lang post
        assert(rows.find(_._1 == "shortonly").map(_._2) === Some(0L))
        assert(rows.find(_._1 == "nulltoken").map(_._2) === Some(0L))
        assert(rows.find(_._1 == "alpha").map(_._2) === Some(3L))
      }
    }
  }

  test("the single-language IDF table over a corpus with no qualifying post: every token at -1") {
    // en posts all under 100 chars; the long posts are not en
    val docs = Seq(
      (1L, "alpha bravo alpha", "en", 17L),
      (2L, "charlie delta", "en", 13L),
      (3L, ("alpha echo foxtrot " * 8).trim, "es", 151L),
      (4L, ("golf hotel " * 12).trim, null, 131L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = ReferenceQueries.idfTableOf(docs).as[(String, Long, Double)]
      .collect().sorted
    val ref = idfReference(docs).as[(String, Long, Double)].collect().sorted
    assert(got.toSeq === ref.toSeq)
    assert(got.map(_._1).toSeq === Seq("alpha", "bravo", "charlie", "delta",
      "echo", "foxtrot", "golf", "hotel"))
    assert(got.forall(r => r._2 == 0L && r._3 == -1.0))
  }

  /** [[ReferenceQueries.idfOf]] over the counts of `docs` keyed by
    * `keys` (`lang`: [[ReferenceQueries.wordvecsByLang]]'s; none:
    * [[ReferenceQueries.idfBatchState]]'s), in the one-partition form
    * and, under a 16-byte coalescing floor, in the several-partition
    * form: each as sorted (key, token, occurrences, idf's raw bits)
    * rows, after checking which form the executed plan took.
    */
  private def idfForms(docs: DataFrame, keys: Seq[String]) = {
    // a projection of its own, so that no session cache of the same
    // table (sf0.001's q11 table) stands in for either form
    val input = docs.select("doc_id", "text", "lang", "n_chars")
    def rows(window: Boolean) = {
      val counts =
        if (keys.isEmpty) ReferenceQueries.idfBatchState(input)
        else ReferenceQueries.idfCounts(input, keys,
          Tokenize.tokensByLang(col("text"), col("lang")), col("n_chars") >= 100)
      val idf = ReferenceQueries.idfOf(counts, keys)
      val got = idf.select(keys.headOption.fold(lit(""))(col).as("key"),
        col("token"), col("occurrences"), col("idf"))
        .as[(String, String, Long, Double)].collect()
        .map(r => (r._1, r._2, r._3, java.lang.Double.doubleToRawLongBits(r._4)))
        .sorted.toSeq
      val ops = executedOps(idf)
      if (window) {
        assert(ops.count(_.startsWith("Window")) === 1, ops.mkString("\n"))
        assert(!ops.exists(_.contains("Exchange")), ops.mkString("\n"))
      } else {
        assert(!ops.exists(_.startsWith("Window")), ops.mkString("\n"))
        assert(ops.exists(_.startsWith("BroadcastExchange")), ops.mkString("\n"))
      }
      got
    }
    val one = rows(window = true)
    val several = withConfs(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16b")(rows(window = false))
    assert(one === several, s"keys $keys")
    one
  }

  test("both idfOf forms give the same rows, bit for bit") {
    val bits = java.lang.Double.doubleToRawLongBits _
    // the session cache other suites leave behind must not stand in
    ReferenceQueries.q11_idf(spark, sf).collect()
    Seq(fixture, sf).foreach { dir =>
      val docs = Tables.documents(spark, dir)
      val byLang = idfForms(docs, Seq("lang"))
      val corpus = idfForms(docs, Nil)
      assert(byLang.nonEmpty && corpus.nonEmpty, dir)
      if (dir == fixture) {
        // no qualifying de post, and a null lang: no rows for either
        assert(byLang.map(_._1).distinct === Seq("en", "es", "fr", "it", "ru"))
        // a 0-occurrence token takes the floor, at most -1
        assert(byLang.filter(r => r._1 == "en" && r._2 == "shortonly") ===
          Seq(("en", "shortonly", 0L, bits(-1.0))))
        assert(corpus.filter(_._2 == "shortonly") === Seq(("", "shortonly", 0L, bits(-1.0))))
      }
    }
    // no qualifying post in the corpus: every token at -1, and per
    // language only es, whose one long post qualifies
    val none = Seq(
      (1L, "alpha bravo alpha", "en", 17L),
      (2L, "charlie delta", "en", 13L),
      (3L, ("alpha echo foxtrot " * 8).trim, "es", 151L),
      (4L, ("golf hotel " * 12).trim, null, 131L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val corpus = idfForms(none, Nil)
    assert(corpus.size === 8 && corpus.forall(r => r._3 == 0L && r._4 == bits(-1.0)))
    assert(idfForms(none, Seq("lang")).map(_._1).distinct === Seq("es"))
  }

  test("a highly compressible input is judged small and runs in one task") {
    // one text repeated: the parquet estimate is far under the floor,
    // while a shuffle of the rows would carry at least the text bytes,
    // over it (the size rule misjudges such input; see
    // Partitioning.fitsOnePartition)
    val text = ("lorem ipsum dolor sitam consectetur adipiscing elitus sedum " * 2).trim
    val dir = java.nio.file.Files.createTempDirectory("graft_compressible").toString
    spark.range(0, 12000).select(col("id").as("doc_id"), lit(text).as("text"),
        lit("en").as("lang"), lit(text.length.toLong).as("n_chars"))
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val docs = Tables.documents(spark, dir)
    val floor = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"))
    val textBytes = docs.agg(sum(octet_length(col("text")))).head().getLong(0)
    assert(textBytes > floor, s"$textBytes text bytes under the $floor-byte floor")
    assert(docs.queryExecution.optimizedPlan.stats.sizeInBytes < floor)
    assert(graft.plans.Partitioning.fitsOnePartition(docs))
    // the IDF table: one window in one task, equal to the spread form
    val idf = idfForms(docs, Seq("lang"))
    assert(idf.map(_._2) === text.split(" ").distinct.filter(_.length >= 4).sorted.toSeq)
    // the doc vectors: no doc_id exchange, only the dimension broadcast
    val dim = Seq(("en", "lorem", 1.5, Seq(1.0, 0.0))).toDF("lang", "token", "idf", "vec")
    val dv = ReferenceQueries.docVectorsByLang(docs, dim, 2)
    assert(dv.collect().count(_.getAs[Long]("known") == 1L) === 12000)
    val ops = executedOps(dv)
    assert(ops.count(_.startsWith("Exchange")) === 0, ops.mkString("\n"))
    assert(ops.count(_.startsWith("BroadcastExchange")) === 1, ops.mkString("\n"))
  }

  test("the dimension build starts a bounded number of jobs and no footer job") {
    val dir = fixture
    def build(): Unit = ReferenceQueries.wordvecsByLang(spark, dir)
      .write.format("noop").mode("overwrite").save()
    build() // the first load of a table infers its schema
    val (_, jobs) = jobsDuring(build())
    val names = jobs.map(_.stageInfos.map(_.name).mkString(" | "))
    info(s"${jobs.size} jobs: ${names.mkString("; ")}")
    assert(!names.exists(_.contains("Tables.scala")),
      s"a repeated table load inferred its schema again: ${names.mkString("; ")}")
    assert(jobs.size <= MaxDimensionJobs,
      s"the dimension build started ${jobs.size} jobs (bound $MaxDimensionJobs)")
  }
}
