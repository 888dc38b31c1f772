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
  * left join.
  */
class WordvecsByLangSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Jobs of a repeated dimension build over [[fixture]] at local[8]:
    * 4 measured. Before `n_posts` folded into the token aggregate and
    * table schemas were memoized, the same build took 7: a parquet
    * footer-inference job, and the `n_posts` aggregate and broadcast.
    */
  private val MaxDimensionJobs = 5

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
