package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.agg.VecAgg
import graft.functions.{Tokenize, VecCodec, VecMath}
import graft.plans.Partitioning.{onePartitionIfSmall, parallelized, plannedPartitions}

/** The reference's operator surface (SURVEY.md §2) re-expressed as
  * idiomatic Spark queries, each with a DuckDB oracle.
  *
  * Naming: q01..q20 follow SURVEY.md §2 operator ids (cited per query).
  * Every computed/aggregated column is aliased identically in the Spark
  * plan and the oracle SQL; every query ends in a deterministic ORDER BY;
  * every floating-point output is `round(x, 6)` (or 2 for money) so both
  * engines hash identically.
  */
object ReferenceQueries {

  /** Deterministic cross-engine rounding — shadows `functions.round`.
    *
    * Spark's `round` HALF_UPs the shortest decimal REPR of the double;
    * DuckDB rounds the binary value. A value whose repr is exactly
    * *.xxxxxx5 (common here: ratios of small ints, money sums at 4dp)
    * rounds DIFFERENTLY in the two engines (observed: quality 0.5186875
    * -> 0.518688 vs 0.518687). Both the Spark plans (this function) and
    * the oracle SQL (SparkEntry.rewriteRound) therefore use the SAME
    * formula, floor(x·10^d + 0.5)/10^d, which is bit-deterministic on
    * identical input doubles.
    */
  private[queries] def round(c: Column, d: Int): Column = {
    val p = math.pow(10, d)
    floor(c * p + lit(0.5)) / p
  }

  /** DuckDB fragment: tokenize `text` exactly like [[Tokenize.tokens]]. */
  val SqlTok = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** DuckDB fragment mirroring the shared script-bigram core
    * ([[Tokenize.cjkTokens]] / [[Tokenize.jaTokens]]) applied to
    * `expr`: extract alnum/script runs, slide a 2-char window over
    * script runs (range(1, L) = the same ascending 1..L-1 the Spark
    * side's guarded sequence produces), pass alnum runs through.
    */
  def sqlScriptTok(expr: String, r: String): String =
    s"flatten(list_transform(regexp_extract_all(lower($expr), '[a-z0-9]+|[$r]+'), " +
      s"s -> CASE WHEN regexp_matches(s, '^[$r]') AND length(s) >= 2 " +
      s"THEN list_transform(range(1, length(s)), i -> substring(s, i::INT, 2)) " +
      s"ELSE [s] END))"

  def sqlCjkTok(expr: String): String = sqlScriptTok(expr, Tokenize.CjkRange)
  def sqlJaTok(expr: String): String = sqlScriptTok(expr, Tokenize.JaRange)
  def sqlKoTok(expr: String): String = sqlScriptTok(expr, Tokenize.KoRange)

  /** DuckDB mirror of [[Tokenize.arTokens]]: strip tashkeel + tatweel
    * globally, then split on non-(Arabic letter | ASCII alnum).
    */
  def sqlArTok(expr: String): String =
    s"list_filter(string_split_regex(regexp_replace(lower($expr), " +
      s"'[${Tokenize.ArDiacritics}]', '', 'g'), " +
      s"'[^a-z0-9${Tokenize.ArLetters}]+'), t -> t <> '')"

  /** DuckDB fragment mirroring [[Tokenize.tokensByLang]]: the same
    * per-language rule table, as a CASE over `lang` (branch order is
    * the table's order — zh then ja first, then the letter classes —
    * so both engines build the identical chain). `textCol`/`langCol`
    * default to the documents columns; q33's remapped projection
    * passes its own.
    */
  def sqlTokByLangOf(textCol: String, langCol: String): String = {
    val branches = Tokenize.langLetters.map { case (l, cls) =>
      s"WHEN $langCol = '$l' THEN list_filter(string_split_regex(lower($textCol), '[^$cls]+'), t -> t <> '')"
    }.mkString(" ")
    s"(CASE WHEN $langCol = 'zh' THEN ${sqlCjkTok(textCol)} " +
      s"WHEN $langCol = 'ja' THEN ${sqlJaTok(textCol)} " +
      s"WHEN $langCol = 'ko' THEN ${sqlKoTok(textCol)} " +
      s"WHEN $langCol = 'ar' THEN ${sqlArTok(textCol)} " +
      s"$branches ELSE ${SqlTok.replace("lower(text)", s"lower($textCol)")} END)"
  }

  val SqlTokByLang: String = sqlTokByLangOf("text", "lang")

  /** The (doc_id, token) posting table — the shared working set of every
    * text query (tf, idf, vocab scan, simhash, lang-id, token stats…).
    * Persisted: tokenization is the single most expensive scalar
    * step, and Spark's CacheManager canonicalizes the plan so every query
    * building this exact projection — including ExtensionQueries — reads
    * one materialization instead of re-splitting the corpus. In a
    * long-lived 100 TB deployment this is the materialized inverted-ish
    * index a text engine would maintain anyway; MEMORY_AND_DISK degrades
    * to spill, not OOM.
    *
    * `persist = false` exists for per-micro-batch callers (the
    * lexical posting of a `DedupStream` batch, the quality gate's
    * token pairs): each micro-batch has a fresh
    * plan, so persisting would register a new never-unpersisted cache
    * entry per trigger — an unbounded leak over a long-running stream.
    * Batch queries still share the cache entries registered by the
    * persisting callers (CacheManager matches by canonical plan, not by
    * who called persist).
    */
  private[graft] def docTokens(docs: DataFrame, persist: Boolean = true): DataFrame = {
    val tok = parallelized(docs)
      .select(col("doc_id"), explode(Tokenize.tokens(col("text"))).as("token"))
    if (persist) graft.Caches.persist(tok)
    else tok
  }

  /** Shared persisted (doc_id, token, cnt) rollup over the session
    * posting — the corpus-wide groupBy that NINE declared queries
    * (q10, x03, x36, x55, x71, x85, x116, x125, x134) each re-ran per
    * call as their first step (guide §2.4: two operations keyed the
    * same way should share one exchange — here they share the whole
    * materialized aggregate). Every consumer must build the IDENTICAL
    * canonical plan (this one function), so CacheManager dedups them
    * into one cache entry; renames/filters happen ABOVE the cached
    * node. Counts are integers, so derived aggregates (sum(cnt) ==
    * count over the raw posting) are exact — no float association
    * drift against the oracles. Released by Caches.clear(sfDir) like
    * the posting it derives from; run-scoped corpora (Pipeline
    * survivors, stream batches) must NOT call this — they keep their
    * own unpersisted groupBy.
    */
  private[graft] def docTokenCounts(docs: DataFrame): DataFrame =
    graft.Caches.persist(
      docTokens(docs).groupBy("doc_id", "token").agg(count(lit(1)).as("cnt")))

  // === The derived word-vector dimension table (FIXTURES.md A) ===
  // The reference's `fasttext.word-vectors-<lang>` table (word -> 300-d
  // vector + idf; `worker.py:57`) has no testdata analogue, so the engine
  // derives one deterministically from the corpus itself: vocabulary =
  // distinct tokens of length >= 4 (P6-style length gate), idf = the E2
  // pipeline (occurrence-count quirk A2 + floor quirk F6,
  // `calculate_idf_scores.py:74-77`), vector = an 8-dim pseudo-vector
  // computed from the token's characters (deterministic in both engines).
  val VecDim = 8

  /** vec[d] = ((ascii(token[d % len]) * (d+1)) % 97) / 97.0 */
  private def pseudoVec(token: Column): Column =
    transform(sequence(lit(0), lit(VecDim - 1)), d =>
      pmod(ascii(token.substr(pmod(d, length(token)) + 1, lit(1))) * (d + 1),
        lit(97)).cast("double") / 97.0)

  /** (token, occurrences, idf) with the reference's exact idf semantics:
    * N = count of qualifying posts; occ = total occurrences (not doc
    * freq); raw = log10(N/occ) if occ>0 else -1; final = raw if raw>0
    * else min(raw over all vocab). `calculate_idf_scores.py:28-77`.
    */
  private def idfTable(spark: SparkSession, sfDir: String): DataFrame =
    // The idf table is the engine's stand-in for the reference's
    // PRECOMPUTED word-vector store (`fasttext.word-vectors-<lang>`,
    // written once by enter_wordvecs.py and only ever READ by the
    // workers), yet six declared queries (q11/q12/q15/q21/q30/q32) and
    // the streaming vectorizer each re-derived it per call (guide §2.4:
    // the vocab-sized dimension is exactly the thing to materialize
    // once per session). Caches.persist dedups the consumers'
    // identical canonical plans and Caches.clear(sfDir) releases it by
    // file lineage.
    graft.Caches.persist(idfTableOf(Tables.documents(spark, sfDir)))

  /** [[idfTable]] over a documents frame: [[idfOf]] over the counts
    * [[idfBatchState]] takes in one pass over `docs`. When no post
    * qualifies, every vocabulary token has 0 occurrences and idf -1.
    */
  private[graft] def idfTableOf(docs: DataFrame): DataFrame =
    idfOf(idfBatchState(docs), Nil)

  /** The IDF counts of `docs`, from one tokenize pass and one
    * aggregate: per (keys…, token) of length >= 4, `occurrences` (the
    * token's rows from posts where `qualifies` holds) and `token_rows`
    * (all its rows). Each post also emits one sentinel row with the
    * empty token `""`, even a post with no tokens or null text, so each
    * key's sentinel group holds that key's qualifying-post count in
    * `occurrences` and 0 in `token_rows`. `token` is non-nullable: a
    * null-rejecting filter that a join on `token` infers above the
    * table is then always true, and is never pushed below the
    * aggregate into one of [[idfOf]]'s two branches only. Counts are
    * sums of per-post rows, so the counts of two disjoint corpora
    * summed by (keys…, token) are the counts of their union
    * ([[summedCounts]]). A small `docs` is read as one partition
    * ([[graft.plans.Partitioning]]): the aggregate then plans no
    * exchange, and [[idfOf]] over it none either.
    */
  private[graft] def idfCounts(docs: DataFrame, keys: Seq[String],
      tokens: Column, qualifies: Column): DataFrame = {
    val vocab = filter(coalesce(tokens, array().cast("array<string>")),
      t => length(t) >= 4)
    parallelized(onePartitionIfSmall(docs))
      .select(keys.map(col) ++ Seq(qualifies.as("q"),
        explode(concat(array(lit("")), vocab)).as("token")): _*)
      // the exploded element type is nullable, though no element is null
      .groupBy((keys.map(col) :+ coalesce(col("token"), lit("")).as("token")): _*)
      .agg(count(when(col("q"), 1)).as("occurrences"),
        count(when(col("token") =!= "", 1)).as("token_rows"))
  }

  /** The reference IDF rule (quirks A2 + F6,
    * `calculate_idf_scores.py:28-77`) over [[idfCounts]]-shaped
    * `counts`, per key: (keys…, token, occurrences, idf) for every
    * vocabulary token (`token_rows > 0`). raw = log10(n_posts / occ),
    * or -1 when occ is 0; idf = raw when raw > 0, else the key's
    * smallest raw. Three per-key figures give `n_posts` (the sentinel
    * group, `token_rows` 0) and that smallest raw: raw falls as occ
    * grows (division and log10 are monotone), so it is the raw at the
    * largest occurrence count, or -1 when some token has 0 occurrences
    * — the same value, bit for bit, as a `min` over every token's raw.
    * A key with no qualifying post gets no rows, as the reference
    * deploys no worker for it, and neither does a null key; with no
    * keys the table covers the whole corpus and a corpus with no
    * qualifying post keeps every token at -1.
    *
    * Counts planned as one partition (read off the plan,
    * [[graft.plans.Partitioning]]: a small [[idfCounts]]) take the figures
    * from one window over the keys, in the task that counted them: no
    * exchange and no broadcast. Counts of several partitions (a large
    * corpus, [[summedCounts]] of several deltas) take them from a
    * per-key aggregate broadcast back to the tokens, and never run a
    * vocabulary-sized window in one task.
    */
  private[graft] def idfOf(counts: DataFrame, keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tells a token group from the sentinel group by an aggregate, not
    // by the grouping key: a filter on `token` would be pushed below the
    // aggregate into one branch only, and the two branches would no
    // longer share one exchange (the corpus would be tokenized twice)
    val vocab = col("token_rows") > 0
    def figures(per: Column => Column) = Seq(
      per(max(when(!vocab, col("occurrences")))).as("n_posts"),
      per(max(when(vocab, col("occurrences")))).as("max_occ"),
      per(min(when(vocab, col("occurrences")))).as("min_occ"))
    val spread = if (plannedPartitions(counts.queryExecution.executedPlan).contains(1)) {
      val w = Window.partitionBy(keys.map(col): _*)
      counts.select(col("*") +: figures(_.over(w)): _*).filter(vocab)
    } else {
      val f = figures(identity)
      val perKey = counts.groupBy(keys.map(col): _*).agg(f.head, f.tail: _*)
      val tokens = counts.filter(vocab)
      if (keys.isEmpty) tokens.crossJoin(broadcast(perKey))
      else tokens.join(broadcast(perKey), keys)
    }
    val maxRaw = when(col("max_occ") > 0,
      log10(col("n_posts") / col("max_occ")))
    val minRaw = when(col("min_occ") === 0, least(maxRaw, lit(-1.0)))
      .otherwise(maxRaw)
    // a null key has no table: the join drops it, the window keeps it
    (if (keys.isEmpty) spread
     else spread.filter(keys.map(col(_).isNotNull).foldLeft(col("n_posts") > 0)(_ && _)))
      .withColumn("raw",
        when(col("occurrences") > 0, log10(col("n_posts") / col("occurrences")))
          .otherwise(lit(-1.0)))
      .withColumn("idf", when(col("raw") > 0, col("raw")).otherwise(minRaw))
      .select(keys.map(col) ++ Seq(col("token"), col("occurrences"), col("idf")): _*)
  }

  /** The E1 core (`worker.py:69-94`) behind every doc-vector path: per
    * doc, tokenize `docs` with `tokens`, take tf, left-join the
    * broadcast word-vector dimension `wordvecs` on `joinKeys`
    * (`token`, or `lang, token` for a per-language dimension) and
    * axpy-sum Σ tf·idf·vec through the custom Aggregator. Returns
    * (doc_id, the join keys but `token`…, total, known, vec,
    * known_ratio); a doc with no known token has known = 0 and an
    * all-zero vec, which a store writes as NULL (F12,
    * [[graft.streaming.DedupStream.storeVectorRows]]). The token count,
    * tf window and vector sum share one `doc_id` exchange, and plan
    * none when `docs` is small: that input is read as one partition
    * ([[graft.plans.Partitioning]]). The scan, tokenize and all
    * three then run in one task; an input the estimate misjudges small
    * loses all its spread, not only the scan's.
    */
  private[graft] def docVectorsOf(docs: DataFrame, tokens: Column,
      wordvecs: DataFrame, joinKeys: Seq[String], dim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docKeys = "doc_id" +: joinKeys.filterNot(_ == "token")
    val counts = parallelized(onePartitionIfSmall(docs))
      .select(docKeys.map(col) :+ explode(tokens).as("token"): _*)
      .groupBy(("doc_id" +: joinKeys).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("doc_id")
    val tf = counts.withColumn("total", sum(col("cnt")).over(w))
      .withColumn("tf", col("cnt").cast("double") / col("total"))
    tf.join(broadcast(wordvecs), joinKeys, "left")
      .groupBy(docKeys.map(col): _*).agg(
        max(col("total")).as("total"),
        count(col("idf")).as("known"),
        VecAgg.weightedSum(dim)(
          coalesce(col("tf") * col("idf"), lit(0.0)),
          coalesce(col("vec"), VecMath.zeros(dim))).as("vec"))
      .withColumn("known_ratio",
        when(col("total") > 0, col("known").cast("double") / col("total"))
          .otherwise(lit(0.0)))
  }

  /** Scalar projections of [[docVectorsOf]] for oracle hashing. */
  private def docVectorScalars(dv: DataFrame): DataFrame =
    dv.select(
      col("doc_id"),
      round(col("known_ratio"), 6).as("known_ratio"),
      round(when(col("known") > 0, VecMath.vsum(col("vec"))), 6).as("vec_sum"),
      round(when(col("known") > 0, VecMath.l2norm(col("vec"))), 6).as("vec_norm"),
      round(when(col("known") > 0, element_at(col("vec"), 1)), 6).as("vec_d0"))
      .orderBy("doc_id")

  /** Shared oracle CTE prefix mirroring [[idfTable]]. */
  private val SqlIdfCtes =
    s"""tok AS (SELECT doc_id, unnest($SqlTok) AS token FROM documents),
       |vocab AS (SELECT DISTINCT token FROM tok WHERE length(token) >= 4),
       |posts AS (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 100),
       |nn AS (SELECT count(*)::DOUBLE AS n_posts FROM posts),
       |occ AS (SELECT t.token, count(*) AS c FROM tok t JOIN posts p USING (doc_id) GROUP BY t.token),
       |raw AS (SELECT v.token, coalesce(o.c, 0) AS occurrences,
       |        CASE WHEN coalesce(o.c, 0) > 0 THEN log10((SELECT n_posts FROM nn) / coalesce(o.c, 0)) ELSE -1.0 END AS raw
       |        FROM vocab v LEFT JOIN occ o USING (token)),
       |wv AS (SELECT token, occurrences,
       |       CASE WHEN raw > 0 THEN raw ELSE (SELECT min(raw) FROM raw) END AS idf FROM raw)""".stripMargin

  // ======================================================================
  // S1/P3: pending-posts scan with Mongo `$ne: true` trivalent semantics
  // (`worker.py:99`). flag IS DISTINCT FROM true must keep NULL rows.
  def q01_pending_scan(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("flag",
        when(col("doc_id") % 3 === 0, lit(true))
          .when(col("doc_id") % 3 === 1, lit(null).cast("boolean"))
          .otherwise(lit(false)))
      .filter(!coalesce(col("flag"), lit(false)))
      .select("doc_id").orderBy("doc_id")

  val q01Sql: String =
    """WITH p AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN true WHEN doc_id % 3 = 1 THEN NULL ELSE false END AS flag
      |  FROM documents)
      |SELECT doc_id FROM p WHERE flag IS DISTINCT FROM true ORDER BY doc_id""".stripMargin

  // S2/P4: `$elemMatch` over array-of-structs via the `exists` HOF
  // (`calculate_idf_scores.py:31`).
  def q02_elem_match(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("language",
        array(struct(col("lang").as("lang"),
          col("n_chars").cast("int").as("word_count"))))
      .filter(exists(col("language"),
        s => s.getField("lang") === "en" && s.getField("word_count") >= 200))
      .select("doc_id").orderBy("doc_id")

  val q02Sql: String =
    "SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200 ORDER BY doc_id"

  // S3/P5: point-batch `$in` lookup (`calculate_idf_scores.py:61`).
  def q03_point_lookup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey").isin(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 55L, 89L))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")

  val q03Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
      |WHERE l_orderkey IN (1,2,3,5,8,13,21,34,55,89) ORDER BY l_orderkey, l_linenumber""".stripMargin

  // S5/P1/P6/F13: vocab scan — distinct tokens, projection + length gate
  // (`calculate_idf_scores.py:28`, `enter_wordvecs.py:36`).
  def q04_vocab_scan(spark: SparkSession, sfDir: String): DataFrame =
    docTokens(Tables.documents(spark, sfDir))
      .select("token").distinct()
      .filter(length(col("token")) < 100)
      .orderBy("token")

  val q04Sql: String =
    s"""SELECT DISTINCT token FROM (SELECT unnest($SqlTok) AS token FROM documents)
       |WHERE length(token) < 100 ORDER BY token""".stripMargin

  // J3/J4: star-schema equi-join chain (the RPC-turned-join, SURVEY §2.3).
  def q05_star_join(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy("r_name")
  }

  val q05Sql: String =
    """SELECT r_name, count(*)::BIGINT AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // J1: broadcast hash join onto a dimension (`worker.py:57-67`).
  def q06_broadcast_join(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  val q06Sql: String =
    """SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*)::BIGINT AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // J2/P7: left-semi join (vocab membership, `calculate_idf_scores.py:49`).
  def q07_semi_join(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir).filter(col("l_quantity") > 45)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
  }

  val q07Sql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |ORDER BY o_orderkey""".stripMargin

  // Left-anti join (the complement; P8 unknown-token drop inverted).
  def q08_anti_join(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val li = Tables.lineitem(spark, sfDir).filter(col("l_discount") > 0.09)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
      .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")
  }

  val q08Sql: String =
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
      |ORDER BY o_orderkey""".stripMargin

  // U1: union of two "collections" (comments ∪ replies,
  // `calculate_idf_scores.py:52`), then aggregate.
  def q09_union(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val comments = d.filter(col("source").isin("src0", "src1", "src2"))
    val replies = d.filter(col("source").isin("src3", "src4"))
    comments.unionByName(replies)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .orderBy("lang")
  }

  val q09Sql: String =
    """WITH u AS (
      |  SELECT * FROM documents WHERE source IN ('src0','src1','src2')
      |  UNION ALL SELECT * FROM documents WHERE source IN ('src3','src4'))
      |SELECT lang, count(*)::BIGINT AS n_docs, round(avg(n_chars), 6) AS avg_chars
      |FROM u GROUP BY lang ORDER BY lang""".stripMargin

  // A1/A4: per-document term frequency: tf = count(token)/len(tokens)
  // (`worker.py:42-52`). One shuffle + a window for the denominator.
  def q10_tf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docTokenCounts(Tables.documents(spark, sfDir))
    val w = Window.partitionBy("doc_id")
    counts.withColumn("total", sum(col("cnt")).over(w))
      .select(col("doc_id"), col("token"),
        round(col("cnt").cast("double") / col("total"), 6).as("tf"))
      .orderBy("doc_id", "token")
  }

  val q10Sql: String =
    s"""WITH tok AS (SELECT doc_id, unnest($SqlTok) AS token FROM documents),
       |counts AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY doc_id, token)
       |SELECT doc_id, token,
       |  round(cnt::DOUBLE / sum(cnt) OVER (PARTITION BY doc_id), 6) AS tf
       |FROM counts ORDER BY doc_id, token""".stripMargin

  // E2/A2/A7/A8/F5/F6: the IDF pipeline with every reference quirk.
  def q11_idf(spark: SparkSession, sfDir: String): DataFrame =
    idfRows(idfTable(spark, sfDir))

  /** q11's output over an IDF table: idf rounded, token order. */
  private[graft] def idfRows(idf: DataFrame): DataFrame =
    idf.select(col("token"), col("occurrences"), round(col("idf"), 6).as("idf"))
      .orderBy("token")

  val q11Sql: String =
    s"""WITH $SqlIdfCtes
       |SELECT token, occurrences::BIGINT AS occurrences, round(idf, 6) AS idf
       |FROM wv ORDER BY token""".stripMargin

  // x52: incremental idf maintenance — the scale answer to the
  // reference's periodic full recompute (`calculate_idf_scores.py`
  // re-reads the whole corpus each run). At 100 TB the corpus arrives
  // in batches; each batch contributes summable counts and the idf
  // table is rebuilt from their sum without re-tokenizing history.
  // Here the corpus splits into two deterministic "batches" (doc_id %
  // 10), each batch's counts are computed independently, summed, and
  // run through the reference idf rule. The ORACLE is the DIRECT full
  // recompute (q11's SQL) — the hash match proves the sum is exact.
  /** One batch's q11 IDF counts ([[idfCounts]]: ASCII tokens; a post
    * qualifies when it is `en` with n_chars >= 100). Shared by x52,
    * [[idfTableOf]] and the streaming idf maintainer
    * (streaming/IdfStream).
    */
  private[graft] def idfBatchState(d: DataFrame): DataFrame =
    idfCounts(d, Nil, Tokenize.tokens(col("text")),
      col("lang") === "en" && col("n_chars") >= 100)

  /** Per-batch [[idfBatchState]] counts summed into their union's. */
  private[graft] def summedCounts(deltas: DataFrame): DataFrame =
    deltas.groupBy("token").agg(sum(col("occurrences")).as("occurrences"),
      sum(col("token_rows")).as("token_rows"))

  def x52_incremental_idf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val deltas = idfBatchState(docs.filter(col("doc_id") % 10 =!= 0))
      .union(idfBatchState(docs.filter(col("doc_id") % 10 === 0)))
    idfRows(idfOf(summedCounts(deltas), Nil))
  }

  // E1: the flagship doc-vector pipeline (`worker.py:69-94`): tf ->
  // broadcast-join wordvecs -> axpy-aggregate Σ tf·idf·vec via the custom
  // Aggregator (A3) -> known_tokens_ratio (A5/A6) -> null vector when no
  // known tokens (F12). Output = deterministic scalar projections of the
  // vector (sum / L2 norm / dim 0), rounded.
  /** The q12 word-vector dimension table (token, idf, 8-dim pseudo vec)
    * — shared with the streaming vectorizer.
    */
  def wordvecs8(spark: SparkSession, sfDir: String): DataFrame =
    idfTable(spark, sfDir)
      .withColumn("vec", pseudoVec(col("token")))
      .select("token", "idf", "vec")

  def q12_doc_vectors(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).filter(col("lang") === "en")
    docVectorScalars(docVectorsOf(docs, Tokenize.tokens(col("text")),
      wordvecs8(spark, sfDir), Seq("token"), VecDim))
  }

  val q12Sql: String =
    s"""WITH $SqlIdfCtes,
       |tdoc AS (SELECT doc_id FROM documents WHERE lang = 'en'),
       |dtok AS (SELECT t.doc_id, t.token FROM tok t JOIN tdoc USING (doc_id)),
       |counts AS (SELECT doc_id, token, count(*) AS cnt FROM dtok GROUP BY doc_id, token),
       |tf AS (SELECT doc_id, token, cnt::DOUBLE / sum(cnt) OVER (PARTITION BY doc_id) AS tf,
       |       sum(cnt) OVER (PARTITION BY doc_id) AS total FROM counts),
       |j AS (SELECT f.doc_id, f.token, f.tf, f.total, w.idf FROM tf f LEFT JOIN wv w USING (token)),
       |k AS (SELECT doc_id, max(total) AS total, count(idf) AS known FROM j GROUP BY doc_id),
       |vs AS (SELECT j.doc_id, d.range AS d,
       |       sum(j.tf * j.idf * (((ascii(substr(j.token, (d.range % length(j.token))::INT + 1, 1)) * (d.range + 1)) % 97) / 97.0)) AS s
       |       FROM j, range(0, ${VecDim}) d WHERE j.idf IS NOT NULL GROUP BY j.doc_id, d.range),
       |vagg AS (SELECT doc_id, sum(s) AS vec_sum, sqrt(sum(s * s)) AS vec_norm,
       |         sum(CASE WHEN d = 0 THEN s END) AS vec_d0 FROM vs GROUP BY doc_id)
       |SELECT k.doc_id,
       |  round(CASE WHEN k.total > 0 THEN k.known::DOUBLE / k.total ELSE 0.0 END, 6) AS known_ratio,
       |  round(CASE WHEN k.known > 0 THEN v.vec_sum END, 6) AS vec_sum,
       |  round(CASE WHEN k.known > 0 THEN v.vec_norm END, 6) AS vec_norm,
       |  round(CASE WHEN k.known > 0 THEN v.vec_d0 END, 6) AS vec_d0
       |FROM k LEFT JOIN vagg v USING (doc_id) ORDER BY k.doc_id""".stripMargin

  // E1 at reference fidelity: same pipeline as q12 but the word-vector
  // store carries REAL float32 vectors — vocabulary rank joins
  // `embeddings.vec_id` (the testdata analogue of
  // `fasttext.word-vectors-<lang>`, FIXTURES.md). Exercises the
  // float32->double cast parity and the 64-dim Aggregator path.
  def q15_doc_vectors_real(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).filter(col("lang") === "en")
    // vocabulary rank via zipWithIndex, not a single-partition window:
    // at the reference's real 2M-word vocab the unpartitioned
    // row_number() is a one-task sort (SCALE.md §vocab-rank).
    val ranked = graft.operators.GlobalRank
      .withRank(idfTable(spark, sfDir), "rank", col("token"))
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), VecMath.asDouble(col("embedding")).as("vec"))
    val wv = ranked.join(emb, ranked("rank") === emb("vec_id"))
      .select("token", "idf", "vec")
    docVectorScalars(
      docVectorsOf(docs, Tokenize.tokens(col("text")), wv, Seq("token"), 64))
  }

  val q15Sql: String =
    s"""WITH $SqlIdfCtes,
       |wvr AS (SELECT token, idf, row_number() OVER (ORDER BY token) - 1 AS rank FROM wv),
       |wve AS (SELECT w.token, w.idf, e.embedding::DOUBLE[] AS vec
       |        FROM wvr w JOIN embeddings e ON w.rank = e.vec_id),
       |tdoc AS (SELECT doc_id FROM documents WHERE lang = 'en'),
       |dtok AS (SELECT t.doc_id, t.token FROM tok t JOIN tdoc USING (doc_id)),
       |counts AS (SELECT doc_id, token, count(*) AS cnt FROM dtok GROUP BY doc_id, token),
       |tf AS (SELECT doc_id, token, cnt::DOUBLE / sum(cnt) OVER (PARTITION BY doc_id) AS tf,
       |       sum(cnt) OVER (PARTITION BY doc_id) AS total FROM counts),
       |j AS (SELECT f.doc_id, f.tf, f.total, w.idf, w.vec FROM tf f LEFT JOIN wve w USING (token)),
       |k AS (SELECT doc_id, max(total) AS total, count(idf) AS known FROM j GROUP BY doc_id),
       |vs AS (SELECT j.doc_id, d.range AS d, sum(j.tf * j.idf * j.vec[d.range + 1]) AS s
       |       FROM j, range(0, 64) d WHERE j.idf IS NOT NULL GROUP BY j.doc_id, d.range),
       |vagg AS (SELECT doc_id, sum(s) AS vec_sum, sqrt(sum(s * s)) AS vec_norm,
       |         sum(CASE WHEN d = 0 THEN s END) AS vec_d0 FROM vs GROUP BY doc_id)
       |SELECT k.doc_id,
       |  round(CASE WHEN k.total > 0 THEN k.known::DOUBLE / k.total ELSE 0.0 END, 6) AS known_ratio,
       |  round(CASE WHEN k.known > 0 THEN v.vec_sum END, 6) AS vec_sum,
       |  round(CASE WHEN k.known > 0 THEN v.vec_norm END, 6) AS vec_norm,
       |  round(CASE WHEN k.known > 0 THEN v.vec_d0 END, 6) AS vec_d0
       |FROM k LEFT JOIN vagg v USING (doc_id) ORDER BY k.doc_id""".stripMargin

  // F2 fidelity: per-language tokenizer rules. The reference loads a
  // language-specific spaCy model per worker (`worker.py:17-18`,
  // `calculate_idf_scores.py:21-23` — en/es/de); the engine encodes the
  // practical effect (diacritic letters are token characters, not
  // separators) as a per-language character class dispatched on the
  // `lang` column — a codegen'd CASE, one pass, no UDF
  // ([[Tokenize.tokensByLang]]). `zh` deliberately falls back to the
  // ASCII rule (spaCy's dictionary segmentation has no char-class
  // analogue; divergence documented). Output: per-doc token stats so
  // every language's rule contributes rows to the oracle hash.
  def q29_lang_tokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        Tokenize.tokensByLang(col("text"), col("lang")).as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        array_min(col("toks")).as("min_token"),
        array_max(col("toks")).as("max_token"))
      .orderBy("doc_id")

  val q29Sql: String =
    s"""WITH t AS (SELECT doc_id, lang, $SqlTokByLang AS toks FROM documents)
       |SELECT doc_id, lang, len(toks)::INT AS n_tokens,
       |  len(list_distinct(toks))::INT AS n_distinct,
       |  list_min(toks) AS min_token, list_max(toks) AS max_token
       |FROM t ORDER BY doc_id""".stripMargin

  // CJK segmentation (round-4 verdict #3): the per-language dispatch's
  // zh rule is character bigrams ([[Tokenize.cjkTokens]]) — the
  // dictionary-less twin of the reference's zh spaCy model
  // (`worker.py:17-18`). The testdata corpus is deliberately ASCII-only
  // (TESTDATA.md), so the rule is exercised by suffixing every
  // zh-labeled doc with a fixed mixed CJK/ASCII phrase — the identical
  // literal in both engines makes the full bigram stream
  // oracle-hashable, not just its counts.
  private val CjkPhrase = "大数据处理引擎 spark 分词测试 2026"

  def q31_cjk_tokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("lang") === "zh")
      .select(col("doc_id"),
        Tokenize.cjkTokens(
          concat(substring(col("text"), 1, 40), lit(" " + CjkPhrase))).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        concat_ws(" ", col("toks")).as("token_stream"))
      .orderBy("doc_id")

  val q31Sql: String =
    s"""WITH z AS (SELECT doc_id, substring(text, 1, 40) || ' $CjkPhrase' AS t
       |           FROM documents WHERE lang = 'zh'),
       |tok AS (SELECT doc_id, ${sqlCjkTok("t")} AS toks FROM z)
       |SELECT doc_id, len(toks)::INT AS n_tokens,
       |  len(list_distinct(toks))::INT AS n_distinct,
       |  array_to_string(toks, ' ') AS token_stream
       |FROM tok ORDER BY doc_id""".stripMargin

  // Extended-language dispatch (round-11 verdict ask #7): the rule
  // table now carries ru (Cyrillic char class, ё outside а-я included)
  // and ja (Han+kana script bigrams). The testdata corpus ships no
  // ru/ja rows, so — the q31 convention — the langs are exercised by
  // REMAPPING lang deterministically over the extended set and
  // suffixing a per-language literal phrase, identical in both
  // engines; the full token stream hashes, so every branch of the
  // extended CASE chain (including the unknown-lang ASCII fallback)
  // contributes oracle-checked rows. Phrase traps: Ё/ё casing, the
  // katakana prolonged mark ー inside データベース, kana dropped by the
  // zh rule, diacritics dropped by the ASCII fallback.
  private val ExtLangs = Seq("ru", "ja", "zh", "es", "xx")
  private val ExtPhrase: Map[String, String] = Map(
    "ru" -> "Привет МИР — обработка данных: Ёлка, ёж и яблоко 2026",
    "ja" -> "日本語の分かち書きテスト データベース処理 2026 spark",
    "zh" -> "大数据处理引擎 テスト混入 2026",
    "es" -> "Canción de AÑO jalapeño über 2026",
    "xx" -> "Fallback-Regel čšž ÄÖÜ no-match 123")

  def q33_lang_tokens_ext(spark: SparkSession, sfDir: String): DataFrame = {
    val lang2 = element_at(typedlit(ExtLangs),
      (col("doc_id") % ExtLangs.size).cast("int") + 1)
    val phrase = ExtLangs.foldRight(lit("")) { case (l, acc) =>
      when(col("lang") === lit(l), lit(" " + ExtPhrase(l))).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), lang2.as("lang"), col("text"))
      .select(col("doc_id"), col("lang"),
        Tokenize.tokensByLang(
          concat(substring(col("text"), 1, 40), phrase), col("lang")).as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        concat_ws(" ", col("toks")).as("token_stream"))
      .orderBy("doc_id")
  }

  val q33Sql: String = {
    val list = ExtLangs.map(l => s"'$l'").mkString(", ")
    val cases = ExtLangs
      .map(l => s"WHEN lang = '$l' THEN ' ${ExtPhrase(l)}'").mkString(" ")
    s"""WITH m0 AS (SELECT doc_id,
       |    ([$list])[(doc_id % ${ExtLangs.size})::INT + 1] AS lang, text
       |  FROM documents),
       |m AS (SELECT doc_id, lang,
       |    substring(text, 1, 40) || (CASE $cases ELSE '' END) AS text
       |  FROM m0),
       |t AS (SELECT doc_id, lang, ${sqlTokByLangOf("text", "lang")} AS toks
       |  FROM m)
       |SELECT doc_id, lang, len(toks)::INT AS n_tokens,
       |  len(list_distinct(toks))::INT AS n_distinct,
       |  array_to_string(toks, ' ') AS token_stream
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // q34 (round-12 verdict ask #6): ko/ar tokenizer dispatch, the q33
  // convention extended — the corpus has no Korean or Arabic text, so
  // lang is remapped per doc_id and a per-language phrase TRAP is
  // appended, exercising exactly the rules that distinguish these
  // scripts: Hangul eojeol bigrams + compatibility-jamo runs (ㅋㅋㅋ),
  // Arabic tashkeel stripping (مُعَالَجَة ≡ معالجة appears twice,
  // once diacritized — must collapse to ONE distinct token) and
  // tatweel elongation (بـــيانات ≡ بيانات), plus an en row proving
  // the ASCII rule untouched. Same scale shape as q33: a pure map
  // stage, no shuffle before the orderBy.
  private val KoArLangs = Seq("ko", "ar", "en")
  private val KoArPhrase: Map[String, String] = Map(
    "ko" -> "한국어 형태소 분석 테스트 데이터 처리 2026 spark ㅋㅋㅋ",
    "ar" -> "مُعَالَجَةُ معالجة البَيَانَاتِ الضخمة بـــيانات بيانات 2026",
    "en" -> "Plain ASCII fallback-words stay untouched 2026")

  def q34_lang_tokens_koar(spark: SparkSession, sfDir: String): DataFrame = {
    val lang2 = element_at(typedlit(KoArLangs),
      (col("doc_id") % KoArLangs.size).cast("int") + 1)
    val phrase = KoArLangs.foldRight(lit("")) { case (l, acc) =>
      when(col("lang") === lit(l), lit(" " + KoArPhrase(l))).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), lang2.as("lang"), col("text"))
      .select(col("doc_id"), col("lang"),
        Tokenize.tokensByLang(
          concat(substring(col("text"), 1, 40), phrase), col("lang")).as("toks"))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        concat_ws(" ", col("toks")).as("token_stream"))
      .orderBy("doc_id")
  }

  val q34Sql: String = {
    val list = KoArLangs.map(l => s"'$l'").mkString(", ")
    val cases = KoArLangs
      .map(l => s"WHEN lang = '$l' THEN ' ${KoArPhrase(l)}'").mkString(" ")
    s"""WITH m0 AS (SELECT doc_id,
       |    ([$list])[(doc_id % ${KoArLangs.size})::INT + 1] AS lang, text
       |  FROM documents),
       |m AS (SELECT doc_id, lang,
       |    substring(text, 1, 40) || (CASE $cases ELSE '' END) AS text
       |  FROM m0),
       |t AS (SELECT doc_id, lang, ${sqlTokByLangOf("text", "lang")} AS toks
       |  FROM m)
       |SELECT doc_id, lang, len(toks)::INT AS n_tokens,
       |  len(list_distinct(toks))::INT AS n_distinct,
       |  array_to_string(toks, ' ') AS token_stream
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // Reference-fidelity output shape (`worker.py:90`, SURVEY §1.2): the
  // flagship writes `doc_vectors: map<lang, binary>` — the worker for
  // language L upserts {L: doc_vector.tobytes()} with a NULL entry when
  // the doc has no known tokens (F12). This query runs the E1 pipeline
  // with the per-language tokenizer, builds the map with codec-encoded
  // float32 blobs, then projects SCALARS out of the map (key, null-ness,
  // blob byte length, float32 component sum) so the DuckDB oracle can
  // hash it — the map column itself is the user-facing output.
  def q30_doc_vector_map(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dv = docVectorsOf(docs, Tokenize.tokensByLang(col("text"), col("lang")),
      wordvecs8(spark, sfDir), Seq("token"), VecDim)
    val withMap = dv.join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"),
        map(col("lang"),
          when(col("known") > 0,
            VecCodec.floats_to_binary(col("vec").cast("array<float>"))))
          .as("doc_vectors"))
    withMap
      .select(col("doc_id"),
        map_keys(col("doc_vectors")).getItem(0).as("vec_lang"),
        element_at(col("doc_vectors"), col("lang")).as("blob"))
      .select(col("doc_id"), col("vec_lang"),
        col("blob").isNull.as("null_vec"),
        length(col("blob")).as("n_bytes"),
        round(when(col("blob").isNotNull,
          VecMath.vsum(VecCodec.binary_to_floats(col("blob")))), 6)
          .as("vec_sum32"))
      .orderBy("doc_id")
  }

  val q30Sql: String =
    s"""WITH $SqlIdfCtes,
       |ltok AS (SELECT doc_id, unnest($SqlTokByLang) AS token FROM documents),
       |counts AS (SELECT doc_id, token, count(*) AS cnt FROM ltok GROUP BY doc_id, token),
       |tf AS (SELECT doc_id, token, cnt::DOUBLE / sum(cnt) OVER (PARTITION BY doc_id) AS tf,
       |       sum(cnt) OVER (PARTITION BY doc_id) AS total FROM counts),
       |j AS (SELECT f.doc_id, f.token, f.tf, f.total, w.idf FROM tf f LEFT JOIN wv w USING (token)),
       |k AS (SELECT doc_id, max(total) AS total, count(idf) AS known FROM j GROUP BY doc_id),
       |vs AS (SELECT j.doc_id, d.range AS d,
       |       sum(j.tf * j.idf * (((ascii(substr(j.token, (d.range % length(j.token))::INT + 1, 1)) * (d.range + 1)) % 97) / 97.0)) AS s
       |       FROM j, range(0, ${VecDim}) d WHERE j.idf IS NOT NULL GROUP BY j.doc_id, d.range),
       |vagg AS (SELECT doc_id, sum(s::FLOAT::DOUBLE) AS v32 FROM vs GROUP BY doc_id)
       |SELECT k.doc_id, doc.lang AS vec_lang,
       |  (k.known = 0) AS null_vec,
       |  (CASE WHEN k.known > 0 THEN ${VecDim * 4} END)::INT AS n_bytes,
       |  round(CASE WHEN k.known > 0 THEN v.v32 END, 6) AS vec_sum32
       |FROM k JOIN documents doc USING (doc_id) LEFT JOIN vagg v USING (doc_id)
       |ORDER BY k.doc_id""".stripMargin

  // ======================================================================
  // The MULTI-LANGUAGE flagship. The reference deploys one worker per
  // language, each against its own `fasttext.word-vectors-<lang>` table
  // (`worker.py:17-20`, `enter_wordvecs.py:8`); the engine-native form
  // is ONE plan over the mixed corpus: tokenize each doc by its own
  // language's rule, join a (lang, token)-keyed dimension, axpy per
  // doc. q30 exercised the per-language tokenizer against the single
  // shared table; q32 completes the deployment shape with per-language
  // vocabularies and idf.

  /** Per-language word-vector dimension — every language's vocabulary,
    * occurrence counts, and idf (quirks A2 + F6) computed WITHIN that
    * language, exactly what the reference's per-collection idf job
    * produces (`calculate_idf_scores.py:28-77` runs per deployment),
    * stacked into one (lang, token, idf, vec) frame: [[idfOf]] keyed
    * by `lang` over [[idfCounts]] from one per-language tokenize pass
    * (a post qualifies when n_chars >= 100). A language with zero
    * qualifying posts has no dimension rows — the reference would not
    * deploy a worker for it.
    */
  def wordvecsByLang(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = idfCounts(Tables.documents(spark, sfDir), Seq("lang"),
      Tokenize.tokensByLang(col("text"), col("lang")), col("n_chars") >= 100)
    idfOf(counts, Seq("lang"))
      .withColumn("vec", pseudoVec(col("token")))
      .select("lang", "token", "idf", "vec")
  }

  /** [[docVectorsOf]] for a mixed-language corpus: per-language
    * tokenization, dimension join on (lang, token). `docs` needs
    * (doc_id, text, lang); the output carries `lang`. The dimension
    * stays a broadcast — per-lang vocabularies are each bounded the
    * same way the single table is (vocab bound, BASELINE.md) and the
    * stacked frame is their sum.
    */
  def docVectorsByLang(docs: DataFrame, wordvecsLang: DataFrame,
      dim: Int): DataFrame =
    docVectorsOf(docs, Tokenize.tokensByLang(col("text"), col("lang")),
      wordvecsLang, Seq("lang", "token"), dim)

  /** The mixed-corpus per-language vector query — q30's
    * `map<lang, binary>` output shape over [[docVectorsByLang]] with
    * the per-language dimension, projected to oracle-hashable scalars
    * exactly like q30.
    */
  def q32_multilang_vectors(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dv = docVectorsByLang(docs, wordvecsByLang(spark, sfDir), VecDim)
    val withMap = dv.select(col("doc_id"), col("lang"), col("known_ratio"),
      map(col("lang"),
        when(col("known") > 0,
          VecCodec.floats_to_binary(col("vec").cast("array<float>"))))
        .as("doc_vectors"))
    withMap
      .select(col("doc_id"),
        map_keys(col("doc_vectors")).getItem(0).as("vec_lang"),
        element_at(col("doc_vectors"), col("lang")).as("blob"),
        col("known_ratio"))
      .select(col("doc_id"), col("vec_lang"),
        col("blob").isNull.as("null_vec"),
        length(col("blob")).as("n_bytes"),
        round(when(col("blob").isNotNull,
          VecMath.vsum(VecCodec.binary_to_floats(col("blob")))), 6)
          .as("vec_sum32"),
        round(col("known_ratio"), 6).as("known_ratio"))
      .orderBy("doc_id")
  }

  val q32Sql: String =
    s"""WITH ltok AS (SELECT doc_id, lang, unnest($SqlTokByLang) AS token FROM documents),
       |vocab AS (SELECT DISTINCT lang, token FROM ltok WHERE length(token) >= 4),
       |posts AS (SELECT doc_id, lang FROM documents WHERE n_chars >= 100),
       |nn AS (SELECT lang, count(*)::DOUBLE AS n_posts FROM posts GROUP BY lang),
       |occ AS (SELECT t.lang, t.token, count(*) AS c FROM ltok t
       |        JOIN posts p USING (doc_id) GROUP BY t.lang, t.token),
       |raw AS (SELECT v.lang, v.token, coalesce(o.c, 0) AS occurrences,
       |        CASE WHEN coalesce(o.c, 0) > 0 THEN log10(n.n_posts / coalesce(o.c, 0)) ELSE -1.0 END AS raw
       |        FROM vocab v LEFT JOIN occ o ON o.lang = v.lang AND o.token = v.token
       |        JOIN nn n ON n.lang = v.lang),
       |mn AS (SELECT lang, min(raw) AS min_raw FROM raw GROUP BY lang),
       |wv AS (SELECT r.lang, r.token, CASE WHEN r.raw > 0 THEN r.raw ELSE m.min_raw END AS idf
       |       FROM raw r JOIN mn m ON m.lang = r.lang),
       |counts AS (SELECT doc_id, lang, token, count(*) AS cnt FROM ltok GROUP BY doc_id, lang, token),
       |tf AS (SELECT doc_id, lang, token, cnt::DOUBLE / sum(cnt) OVER (PARTITION BY doc_id) AS tf,
       |       sum(cnt) OVER (PARTITION BY doc_id) AS total FROM counts),
       |j AS (SELECT f.doc_id, f.lang, f.token, f.tf, f.total, w.idf FROM tf f
       |      LEFT JOIN wv w ON w.lang = f.lang AND w.token = f.token),
       |k AS (SELECT doc_id, lang, max(total) AS total, count(idf) AS known FROM j GROUP BY doc_id, lang),
       |vs AS (SELECT j.doc_id, d.range AS d,
       |       sum(j.tf * j.idf * (((ascii(substr(j.token, (d.range % length(j.token))::INT + 1, 1)) * (d.range + 1)) % 97) / 97.0)) AS s
       |       FROM j, range(0, ${VecDim}) d WHERE j.idf IS NOT NULL GROUP BY j.doc_id, d.range),
       |vagg AS (SELECT doc_id, sum(s::FLOAT::DOUBLE) AS v32 FROM vs GROUP BY doc_id)
       |SELECT k.doc_id, k.lang AS vec_lang,
       |  (k.known = 0) AS null_vec,
       |  (CASE WHEN k.known > 0 THEN ${VecDim * 4} END)::INT AS n_bytes,
       |  round(CASE WHEN k.known > 0 THEN v.v32 END, 6) AS vec_sum32,
       |  round(CASE WHEN k.total > 0 THEN k.known::DOUBLE / k.total ELSE 0.0 END, 6) AS known_ratio
       |FROM k LEFT JOIN vagg v USING (doc_id)
       |ORDER BY k.doc_id""".stripMargin

  // F1/F3/F4/F5/F7/F13: scalar function battery.
  def q13_scalar_funcs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir).select(
      col("p_partkey"),
      lower(col("p_name")).as("name_lower"),
      length(col("p_name")).as("name_len"),
      substring(col("p_name"), 1, 5).as("name_pfx"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      round(when(col("p_size") > 0, col("p_retailprice") / col("p_size"))
        .otherwise(lit(0.0)), 6).as("price_per_size"),
      round(log10(col("p_retailprice")), 6).as("log_price"))
      .orderBy("p_partkey")

  val q13Sql: String =
    """SELECT p_partkey, lower(p_name) AS name_lower, length(p_name) AS name_len,
      |  substr(p_name, 1, 5) AS name_pfx, concat_ws('|', p_brand, p_type) AS brand_type,
      |  round(CASE WHEN p_size > 0 THEN p_retailprice / p_size ELSE 0.0 END, 6) AS price_per_size,
      |  round(log10(p_retailprice), 6) AS log_price
      |FROM part ORDER BY p_partkey""".stripMargin

  // F14: JSON extraction over `events.props` (`worker.py:28` analogue).
  def q14_json(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("k_bucket", coalesce(col("k") % 10, lit(-1L)))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy("k_bucket")

  val q14Sql: String =
    """WITH e AS (SELECT coalesce(json_extract_string(props, '$.k')::BIGINT % 10, -1) AS k_bucket, value FROM events)
      |SELECT k_bucket, count(*)::BIGINT AS n, round(sum(value), 2) AS sum_value
      |FROM e GROUP BY k_bucket ORDER BY k_bucket""".stripMargin

  // A-family headline: TPC-H Q1-shaped scan-heavy aggregation.
  def q16_tpch_q1(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1999-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val q16Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  round(sum(l_quantity), 2) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      |  round(avg(l_quantity), 6) AS avg_qty,
      |  round(avg(l_extendedprice), 6) AS avg_price,
      |  round(avg(l_discount), 6) AS avg_disc,
      |  count(*)::BIGINT AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-09-02'
      |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin

  // §2.5 extension: ranking window — top-3 orders per customer.
  def q17_window_rank(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  val q17Sql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // L1 + ORDER BY: global top-k.
  def q18_topk(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .limit(50)

  val q18Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin

  // L2: sampling — deterministic systematic sample (the reference's
  // random skip `worker.py:103-106` was a scheduling hack; the engine
  // keeps a reproducible key-mod sample as the operator).
  def q19_sample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 20 === 7)
      .select("doc_id", "lang", "source").orderBy("doc_id")

  val q19Sql: String =
    "SELECT doc_id, lang, source FROM documents WHERE doc_id % 20 = 7 ORDER BY doc_id"

  // A7/A8/A9: grouped count/min/max/avg stats.
  def q20_group_stats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(avg(col("n_chars")), 6).as("avg_chars"))
      .orderBy("lang")

  val q20Sql: String =
    """SELECT lang, count(*)::BIGINT AS n_docs, min(n_chars) AS min_chars,
      |  max(n_chars) AS max_chars, round(avg(n_chars), 6) AS avg_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // E3: the vocab-load pipeline (`enter_wordvecs.py:28-53`): vocabulary
  // scan -> length gate (P6) -> project (word, float32-blob vector via
  // the F11 codec) -> upsert. The oracle asserts the observable byte
  // length (8 floats -> 32 LE bytes); the codec bit-exactness is
  // unit/property-tested in VecCodecSpec.
  def q21_vocab_load(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.VecCodec
    docTokens(Tables.documents(spark, sfDir))
      .select("token").distinct()
      .filter(length(col("token")) < 100)
      .withColumn("vector", VecCodec.floats_to_binary(
        transform(pseudoVec(col("token")), x => x.cast("float"))))
      .select(col("token"), length(col("vector")).as("n_bytes"))
      .orderBy("token")
  }

  val q21Sql: String =
    s"""SELECT token, ${VecDim * 4}::INT AS n_bytes
       |FROM (SELECT DISTINCT unnest($SqlTok) AS token FROM documents)
       |WHERE length(token) < 100 ORDER BY token""".stripMargin

  // Distributed multi-level aggregation (rollup) — free via Catalyst
  // once the surface grows beyond the reference (SURVEY §2.4 note).
  def q22_rollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .rollup("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("n_chars")), 2).as("sum_chars"))
      .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)

  val q22Sql: String =
    """SELECT lang, source, count(*)::BIGINT AS n_docs,
      |  round(sum(n_chars)::DOUBLE, 2) AS sum_chars
      |FROM documents GROUP BY ROLLUP (lang, source)
      |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin

  // TPC-H Q5-shaped star join: 6-table join with filters on both ends —
  // exercises Catalyst join planning (broadcast dims + shuffled facts).
  def q23_star_revenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val n = Tables.nation(spark, sfDir)
    val r = Tables.region(spark, sfDir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  val q23Sql: String =
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |  count(*)::BIGINT AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // Correlated scalar subquery (decorrelated by Catalyst into a join):
  // orders priced above 1.5x their customer's average order value.
  // Prices are compared in integer CENTS: integer sums are
  // order-independent, so the avg (and thus row membership) is
  // bit-identical across engines — a raw double avg would drift by
  // summation order and could flip rows sitting near the threshold.
  def q24_above_avg_orders(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders_v o
        |WHERE floor(o_totalprice * 100 + 0.5) > 1.5 * (
        |  SELECT avg(floor(o_totalprice * 100 + 0.5))
        |  FROM orders_v i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  val q24Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE floor(o_totalprice * 100 + 0.5) > 1.5 * (
      |  SELECT avg(floor(o_totalprice * 100 + 0.5))
      |  FROM orders i WHERE i.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  // §2.7 completion: intersect / except over key sets.
  def q25_setops(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val en = d.filter(col("lang") === "en").select("source").distinct()
    val de = d.filter(col("lang") === "de").select("source").distinct()
    val both = en.intersect(de).withColumn("op", lit("both"))
    val enOnly = en.except(de).withColumn("op", lit("en_only"))
    both.unionByName(enOnly).orderBy("op", "source")
  }

  val q25Sql: String =
    """WITH en AS (SELECT DISTINCT source FROM documents WHERE lang = 'en'),
      |de AS (SELECT DISTINCT source FROM documents WHERE lang = 'de'),
      |b AS (SELECT source, 'both' AS op FROM (SELECT source FROM en INTERSECT SELECT source FROM de)),
      |o AS (SELECT source, 'en_only' AS op FROM (SELECT source FROM en EXCEPT SELECT source FROM de))
      |SELECT source, op FROM b UNION ALL SELECT source, op FROM o
      |ORDER BY op, source""".stripMargin

  // Analytic window battery: running revenue, lag/lead, first/last in
  // frame — per customer over order date.
  def q26_running(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .filter(col("o_custkey") < 100)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(run), 2).as("running_total"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        round(first(col("o_totalprice")).over(run), 2).as("first_price"),
        row_number().over(w).as("seq"))
      .orderBy("o_custkey", "seq")
  }

  val q26Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  round(sum(o_totalprice) OVER w2, 2) AS running_total,
      |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
      |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
      |  round(first_value(o_totalprice) OVER w2, 2) AS first_price,
      |  row_number() OVER w AS seq
      |FROM orders WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
      |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, seq""".stripMargin

  // String-function battery incl. edit distance (dedup-adjacent).
  def q27_strings(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Tables.part(spark, sfDir).filter(col("p_partkey") <= 500)
    p.select(col("p_partkey"),
      reverse(col("p_brand")).as("brand_rev"),
      lpad(col("p_partkey").cast("string"), 8, "0").as("key_pad"),
      translate(col("p_type"), "aeiou", "AEIOU").as("type_tr"),
      levenshtein(col("p_brand"), col("p_type")).as("edit_dist"),
      repeat(substring(col("p_name"), 1, 3), 2).as("name_rep"))
      .orderBy("p_partkey")
  }

  val q27Sql: String =
    """SELECT p_partkey, reverse(p_brand) AS brand_rev,
      |  lpad(p_partkey::VARCHAR, 8, '0') AS key_pad,
      |  translate(p_type, 'aeiou', 'AEIOU') AS type_tr,
      |  levenshtein(p_brand, p_type)::INT AS edit_dist,
      |  repeat(substr(p_name, 1, 3), 2) AS name_rep
      |FROM part WHERE p_partkey <= 500 ORDER BY p_partkey""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_multilang_vectors" -> (q32_multilang_vectors _),
    "q25_setops" -> (q25_setops _),
    "q26_running" -> (q26_running _),
    "q27_strings" -> (q27_strings _),
    "q21_vocab_load" -> (q21_vocab_load _),
    "q22_rollup" -> (q22_rollup _),
    "q23_star_revenue" -> (q23_star_revenue _),
    "q24_above_avg_orders" -> (q24_above_avg_orders _),
    "q01_pending_scan" -> (q01_pending_scan _),
    "q02_elem_match" -> (q02_elem_match _),
    "q03_point_lookup" -> (q03_point_lookup _),
    "q04_vocab_scan" -> (q04_vocab_scan _),
    "q05_star_join" -> (q05_star_join _),
    "q06_broadcast_join" -> (q06_broadcast_join _),
    "q07_semi_join" -> (q07_semi_join _),
    "q08_anti_join" -> (q08_anti_join _),
    "q09_union" -> (q09_union _),
    "q10_tf" -> (q10_tf _),
    "q11_idf" -> (q11_idf _),
    "q12_doc_vectors" -> (q12_doc_vectors _),
    "q13_scalar_funcs" -> (q13_scalar_funcs _),
    "q14_json" -> (q14_json _),
    "q15_doc_vectors_real" -> (q15_doc_vectors_real _),
    "q16_tpch_q1" -> (q16_tpch_q1 _),
    "q17_window_rank" -> (q17_window_rank _),
    "q18_topk" -> (q18_topk _),
    "q19_sample" -> (q19_sample _),
    "q20_group_stats" -> (q20_group_stats _),
    "q29_lang_tokens" -> (q29_lang_tokens _),
    "q30_doc_vector_map" -> (q30_doc_vector_map _),
    "q31_cjk_tokens" -> (q31_cjk_tokens _),
    "q33_lang_tokens_ext" -> (q33_lang_tokens_ext _),
    "q34_lang_tokens_koar" -> (q34_lang_tokens_koar _),
    "x52_incremental_idf" -> (x52_incremental_idf _))

  val oracleSql: Map[String, String] = Map(
    "q32_multilang_vectors" -> q32Sql,
    "q25_setops" -> q25Sql,
    "q26_running" -> q26Sql,
    "q27_strings" -> q27Sql,
    "q21_vocab_load" -> q21Sql,
    "q22_rollup" -> q22Sql,
    "q23_star_revenue" -> q23Sql,
    "q24_above_avg_orders" -> q24Sql,
    "q01_pending_scan" -> q01Sql,
    "q02_elem_match" -> q02Sql,
    "q03_point_lookup" -> q03Sql,
    "q04_vocab_scan" -> q04Sql,
    "q05_star_join" -> q05Sql,
    "q06_broadcast_join" -> q06Sql,
    "q07_semi_join" -> q07Sql,
    "q08_anti_join" -> q08Sql,
    "q09_union" -> q09Sql,
    "q10_tf" -> q10Sql,
    "q11_idf" -> q11Sql,
    "q12_doc_vectors" -> q12Sql,
    "q13_scalar_funcs" -> q13Sql,
    "q14_json" -> q14Sql,
    "q15_doc_vectors_real" -> q15Sql,
    "q16_tpch_q1" -> q16Sql,
    "q17_window_rank" -> q17Sql,
    "q18_topk" -> q18Sql,
    "q19_sample" -> q19Sql,
    "q20_group_stats" -> q20Sql,
    "q29_lang_tokens" -> q29Sql,
    "q30_doc_vector_map" -> q30Sql,
    "q31_cjk_tokens" -> q31Sql,
    "q33_lang_tokens_ext" -> q33Sql,
    "q34_lang_tokens_koar" -> q34Sql,
    // deliberately q11's FULL-recompute SQL: incremental == direct
    "x52_incremental_idf" -> q11Sql)
}
