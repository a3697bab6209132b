package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}

/** SURVEY.md §2.11 — text analysis for training-data pipelines (north
  * star): corpus stats, TF-IDF, language-ID scoring, quality scoring,
  * document fingerprinting.
  *
  * 100 TB notes: everything token-level goes explode → groupBy — the
  * shuffle carries (key, count) after map-side partial aggregation, not
  * raw tokens. TF-IDF's document-frequency join broadcasts the term
  * table when the vocabulary is small (here: 31 tokens); with a web-
  * scale vocab it becomes a shuffle join on term — still O(tokens).
  * Fingerprinting is embarrassingly parallel (one pass per doc, no
  * shuffle at all).
  */
object Text {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
  // NOT spread (see [[graft.core.Spread]]): consumers branch on toks
  // two or three ways (tf/df/n), and a def re-evaluates per branch, so
  // each branch would pay its own exchange. Measured neutral at sf100
  // (tfidf ~72–79 s with and without) — the split is cheap per byte
  // and the cost lives in the downstream keyed shuffles, which already
  // run at full width — so the default stays scan-aligned.
  private def toks(s: SparkSession, d: String) =
    docs(s, d).select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("token"))

  /** Per-language corpus stats + the most document-frequent term. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(spark, dir)
    val stats = t.groupBy(col("lang")).agg(
      countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_tokens"))
      .withColumn("avg_tokens_per_doc",
        col("n_tokens").cast("double") / col("n_docs").cast("double"))
    val df = t.groupBy(col("lang"), col("token"))
      .agg(countDistinct(col("doc_id")).as("doc_freq"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("doc_freq").desc, col("token").asc)
    val top = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("lang"), col("token").as("top_term"),
        col("doc_freq").as("top_term_docs"))
    ordered(stats.join(top, Seq("lang")))
  }

  private val textStatsSql =
    s"""WITH t AS (
       |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
       |stats AS (
       |  SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_tokens,
       |    CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
       |      AS avg_tokens_per_doc
       |  FROM t GROUP BY lang),
       |df AS (
       |  SELECT lang, token, COUNT(DISTINCT doc_id) AS doc_freq
       |  FROM t GROUP BY lang, token),
       |top AS (
       |  SELECT lang, token AS top_term, doc_freq AS top_term_docs FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY doc_freq DESC, token ASC) AS rn FROM df)
       |  WHERE rn = 1)
       |SELECT s.lang, s.n_docs, s.n_tokens, s.avg_tokens_per_doc,
       |  top.top_term, top.top_term_docs
       |FROM stats s JOIN top ON s.lang = top.lang
       |${O.OrderAll}"""

  /** TF-IDF: top-scoring term per document.
    * idf = ln((N+1)/(df+1)); rank on the rounded score (+ term
    * tiebreak) so both engines agree. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(spark, dir)
    val tf = t.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = t.groupBy(col("token")).agg(countDistinct(col("doc_id")).as("df"))
    val n = docs(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round6(col("tf") *
        log((col("n_docs") + 1).cast("double") / (col("df") + 1).cast("double"))))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    ordered(
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("token").as("top_term"), col("tfidf")))
  }

  private val tfidfSql =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |scored AS (
       |  SELECT doc_id, token,
       |    round(tf * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6)
       |      AS tfidf
       |  FROM tf JOIN df USING (token) CROSS JOIN n)
       |SELECT doc_id, token AS top_term, tfidf FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY tfidf DESC, token ASC) AS rn FROM scored)
       |WHERE rn = 1
       |${O.OrderAll}"""

  private val EnStop = Seq("the", "a", "of", "and")
  private val EsStop = Seq("el", "la", "de", "y")
  private val DeStop = Seq("der", "die", "das", "und")

  /** Stopword-profile language-ID scoring. The synthetic corpus draws
    * from one shared vocabulary, so the *labels* are arbitrary — the
    * operator demonstrates deterministic profile scoring + argmax
    * (real profiles drop in unchanged). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    def hits(stop: Seq[String]) =
      size(array_intersect(array_distinct(t), array(stop.map(lit): _*)))
    ordered(
      docs(spark, dir).select(
        col("doc_id"), col("lang").as("labeled_lang"),
        hits(EnStop).as("en_hits"),
        hits(EsStop).as("es_hits"),
        hits(DeStop).as("de_hits"))
        .withColumn("guess",
          when(col("en_hits") >= greatest(col("es_hits"), col("de_hits")) &&
            col("en_hits") > 0, "en")
            .when(col("es_hits") >= col("de_hits") && col("es_hits") > 0, "es")
            .when(col("de_hits") > 0, "de")
            .otherwise("unknown")))
  }

  private def hitsSql(stop: Seq[String]) =
    s"len(list_intersect(list_distinct(string_split(text, ' ')), ${stop.mkString("['", "','", "']")}))"

  private val langIdSql =
    s"""SELECT doc_id, lang AS labeled_lang,
       |  ${hitsSql(EnStop)} AS en_hits,
       |  ${hitsSql(EsStop)} AS es_hits,
       |  ${hitsSql(DeStop)} AS de_hits,
       |  CASE
       |    WHEN ${hitsSql(EnStop)} >= greatest(${hitsSql(EsStop)}, ${hitsSql(DeStop)})
       |      AND ${hitsSql(EnStop)} > 0 THEN 'en'
       |    WHEN ${hitsSql(EsStop)} >= ${hitsSql(DeStop)}
       |      AND ${hitsSql(EsStop)} > 0 THEN 'es'
       |    WHEN ${hitsSql(DeStop)} > 0 THEN 'de'
       |    ELSE 'unknown' END AS guess
       |FROM documents
       |${O.OrderAll}"""

  /** Document quality scoring: token counts, lexical diversity, stopword
    * density, length prior — composed into one [0,1] score. Every value
    * is exact rational arithmetic mirrored term-for-term in the oracle,
    * so nothing is rounded: identical ints → bit-identical doubles on
    * both engines, whereas round(·,6) of an exact value ties at the 7th
    * digit and the engines disagree (found at sf0.1: 0.5146875). */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    val nTok = size(t).cast("double")
    val nDis = size(array_distinct(t)).cast("double")
    val nStop = size(filter(t, x => x === "the" || x === "a")).cast("double")
    val avgLen = (col("n_chars").cast("double") - (size(t) - 1).cast("double")) / size(t).cast("double")
    ordered(
      docs(spark, dir).select(
        col("doc_id"),
        size(t).as("n_tokens"),
        (nDis / nTok).as("distinct_ratio"),
        (nStop / nTok).as("stopword_ratio"),
        avgLen.as("avg_token_len"),
        (lit(0.4) * (nDis / nTok) +
          lit(0.3) * (lit(1.0) - nStop / nTok) +
          lit(0.3) * least(avgLen / 10.0, lit(1.0))).as("quality_score")))
  }

  private val qualitySql = {
    val nTok = "CAST(len(string_split(text, ' ')) AS DOUBLE)"
    val nDis = "CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
    val nStop = "CAST(len(list_filter(string_split(text, ' '), x -> x = 'the' OR x = 'a')) AS DOUBLE)"
    val avgLen = s"(CAST(n_chars AS DOUBLE) - (len(string_split(text, ' ')) - 1)) / $nTok"
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  $nDis / $nTok AS distinct_ratio,
       |  $nStop / $nTok AS stopword_ratio,
       |  $avgLen AS avg_token_len,
       |  0.4 * ($nDis / $nTok) + 0.3 * (1.0 - $nStop / $nTok)
       |    + 0.3 * least($avgLen / 10.0, 1.0) AS quality_score
       |FROM documents
       |${O.OrderAll}"""
  }

  /** Raw fingerprints: an order-sensitive rolling polynomial hash of
    * the token stream (content-identity) + the minimum 4-gram window
    * hash (winnowing-style locality fingerprint). Plain-Scala FNV.
    * Exposed for the ScalaTest that pins stability and
    * collision-freedom on the raw 64-bit values. */
  private[graft] def fingerprintRaw(d: DataFrame): DataFrame = {
    val fp = udf { (text: String) =>
      val toks = text.split(" ")
      var h = 0xcbf29ce484222325L
      toks.foreach { t => h = h * 31 + Dedup.fnv1a(t) }
      h
    }
    val minWin = udf { (text: String) =>
      val toks = text.split(" ")
      if (toks.length < 4) Dedup.fnv1a(text)
      else (0 to toks.length - 4)
        .map(i => Dedup.fnv1a(toks.slice(i, i + 4).mkString(" "))).min
    }
    d.select(col("doc_id"), col("text"),
      fp(col("text")).as("rolling_fp"),
      minWin(col("text")).as("min_window_fp"))
  }

  /** Keyed fingerprint query: the 64-bit values are
    * hash-family-specific, so the ORACLE-FACING columns are the two
    * properties a fingerprint must have, computed over the real
    * fingerprints and pinned to TRUE by the oracle:
    *  - determinism/consistency: every doc sharing the same raw text
    *    carries the same rolling AND window fingerprint (per-text-group
    *    distinct-count = 1);
    *  - discrimination: distinct texts get distinct rolling
    *    fingerprints on this corpus (global distinct(fp) =
    *    distinct(text) — a 64-bit FNV collision among ≤ 10⁴ docs
    *    would be a ~10⁻¹² fluke, so a FALSE here means a real hash
    *    regression, not bad luck).
    * A broken hash (constant output, dropped tokens, seed drift) flips
    * one of the booleans and turns the driver row red. ScalaTest pins
    * the raw values separately. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    // group/distinct on a 256-bit content hash, not the raw text: the
    // consistency shuffle carries 32 bytes per row instead of the
    // document body (the difference between a metadata-sized exchange
    // and re-shuffling the corpus at 100 TB); sha2-256 collisions are
    // beyond-astronomical, so group identity is text identity
    val raw = fingerprintRaw(docs(spark, dir))
      .withColumn("_tkey", sha2(col("text"), 256))
    val grp = raw.groupBy(col("_tkey")).agg(
      countDistinct(col("rolling_fp")).as("_nfp"),
      countDistinct(col("min_window_fp")).as("_nwin"))
    val global = raw.agg(
      (countDistinct(col("rolling_fp")) === countDistinct(col("_tkey")))
        .as("fp_collision_free"))
    ordered(
      raw.join(grp, Seq("_tkey"))
        .crossJoin(broadcast(global))
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens"),
          (col("_nfp") === 1 && col("_nwin") === 1).as("fp_group_consistent"),
          col("fp_collision_free")))
  }

  private val fingerprintSql =
    s"""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
       |  TRUE AS fp_group_consistent, TRUE AS fp_collision_free
       |FROM documents
       |${O.OrderAll}"""

  /** Shared per-doc bigram-LM scores (doc_id, avg_nll round6,
    * n_bigrams) — the keyed `llm_lm_score` output and the input to
    * [[pplBuckets]]' CCNet-style split. */
  private def lmScores(spark: SparkSession, dir: String): DataFrame = {
    val fn = graft.functions.WordShingles.register(spark, 2)
    // LM score is undefined for <2-token docs; exclude them so the
    // generator's whole-text fallback can't diverge from the oracle's
    // adjacent-pair join (which naturally emits nothing for them).
    val bigrams = docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2)
      .selectExpr("doc_id", s"$fn(text) AS bg")
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val c12 = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val c1 = toks(spark, dir).groupBy(col("token").as("w1"))
      .agg(count(lit(1)).as("c1"))
    bigrams
      .join(broadcast(c12), Seq("bg"))
      .join(broadcast(c1), Seq("w1"))
      .withColumn("nll",
        -log(col("c12").cast("double") / col("c1").cast("double")))
      .groupBy(col("doc_id"))
      .agg(round6(avg(col("nll"))).as("avg_nll"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Bigram-LM quality scoring: train corpus bigram/unigram counts,
    * score each doc by its average negative log bigram probability
    * −ln(c(w₁w₂)/c(w₁)) — the cheap perplexity-style signal real
    * pipelines use to flag low-likelihood (garbled/boilerplate) text.
    * 100 TB: the LM tables are two groupBys; scoring is a broadcast
    * join of the (small) LM against the token stream. */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    ordered(lmScores(spark, dir))

  private val lmScoreSql =
    s"""WITH ${O.tokensCte("documents")},
       |bg AS (
       |  SELECT a.doc_id, a.tok AS w1, a.tok || ' ' || b.tok AS bigram
       |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       |c12 AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY 1),
       |c1 AS (SELECT tok AS w1, COUNT(*) AS c1 FROM toks GROUP BY 1)
       |SELECT doc_id,
       |  round(avg(-ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))), 6) AS avg_nll,
       |  COUNT(*) AS n_bigrams
       |FROM bg JOIN c12 USING (bigram) JOIN c1 USING (w1)
       |GROUP BY doc_id
       |${O.OrderAll}"""

  /** Inverted index build — the search-engine/RAG-retrieval building
    * block: per term, document frequency, total term frequency, and a
    * CAPPED posting list (first 20 doc_ids). The cap is enforced
    * BEFORE any list materializes (row_number ≤ 20 per term on the
    * distinct pairs, then collect) — at 100 TB an uncapped
    * collect_list on a stopword-grade term is an executor OOM, and
    * capping after collecting wouldn't prevent it. Three
    * map-side-combinable aggregates joined on term. The posting list
    * is emitted as a comma-joined STRING (not array<bigint>): the
    * oracle harness sorts/hashes result columns with pandas, which
    * cannot hash an ndarray cell, so an array column would be
    * unverifiable — and a flat string is what a serving layer ships
    * anyway. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val td = toks(spark, dir).select(col("token"), col("doc_id")).distinct()
    val docFreq = td.groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"))
    val termFreq = toks(spark, dir).groupBy(col("token"))
      .agg(count(lit(1)).as("total_tf"))
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    val postings = td.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 20)
      .groupBy(col("token"))
      .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
        .as("postings"))
    ordered(
      docFreq.join(termFreq, Seq("token")).join(postings, Seq("token")))
  }

  private val invertedIndexSql =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |td AS (SELECT DISTINCT token, doc_id FROM t),
       |c AS (SELECT token, COUNT(*) AS doc_freq FROM td GROUP BY 1),
       |tf AS (SELECT token, COUNT(*) AS total_tf FROM t GROUP BY 1),
       |p AS (SELECT token,
       |        array_to_string(list(doc_id ORDER BY doc_id)[1:20], ',')
       |          AS postings
       |      FROM td GROUP BY 1)
       |SELECT c.token, c.doc_freq, tf.total_tf, p.postings
       |FROM c JOIN tf USING (token) JOIN p USING (token)
       |${O.OrderAll}"""

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169, the
    * hashed-n-gram variant re-expressed relationally): per doc, the
    * average bigram log-likelihood RATIO between a target-domain LM
    * (the benchmark set, doc_id % 50 = 0 — same stand-in eval set as
    * decontamination) and the raw-corpus LM, Laplace-smoothed over the
    * shared bigram vocabulary. Positive weight ⇒ the doc looks more
    * like the target than like the background — the ranking key DSIR
    * resamples by.
    *
    * 100 TB: both LMs are bigram COUNT tables (map-side-combined
    * groupBy, broadcast back — benchmarks are small and the corpus LM
    * table is vocabulary-sized, not corpus-sized); scoring is one
    * broadcast-join pass over the exploded bigrams, the same shape as
    * `llm_lm_score`. The three corpus scalars (bigram masses, vocab)
    * ride one crossJoin(broadcast(1-row agg)). Weights are
    * transcendental (ln) → round6 on the avg, the `lm_score` pattern
    * the oracle already hash-matches. */
  def dsir(spark: SparkSession, dir: String): DataFrame = {
    val fn = graft.functions.WordShingles.register(spark, 2)
    val bigrams = docs(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2)
      .selectExpr("doc_id", s"$fn(text) AS bg")
      .withColumn("_tgt", col("doc_id") % 50 === 0)
    val tgtLm = bigrams.filter(col("_tgt"))
      .groupBy(col("bg")).agg(count(lit(1)).as("_ct"))
    val rawLm = bigrams.filter(!col("_tgt"))
      .groupBy(col("bg")).agg(count(lit(1)).as("_cr"))
    val scalars = bigrams.agg(
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("_nt"),
      sum(when(!col("_tgt"), 1L).otherwise(0L)).as("_nr"),
      count_distinct(col("bg")).as("_v"))
    ordered(bigrams
      .join(broadcast(tgtLm), Seq("bg"), "left_outer")
      .join(broadcast(rawLm), Seq("bg"), "left_outer")
      .crossJoin(broadcast(scalars))
      // ln of a ratio of exact-long products — identical doubles on
      // both engines; only the avg needs round6 (partition-order sums)
      .withColumn("_llr", log(
        ((coalesce(col("_ct"), lit(0L)) + 1) * (col("_nr") + col("_v")))
          .cast("double") /
          ((coalesce(col("_cr"), lit(0L)) + 1) * (col("_nt") + col("_v")))
            .cast("double")))
      .groupBy(col("doc_id"))
      .agg(round6(avg(col("_llr"))).as("dsir_logweight"),
        count(lit(1)).as("n_bigrams")))
  }

  private val dsirSql =
    s"""WITH ${O.tokensCte("documents")},
       |bg AS (
       |  SELECT a.doc_id, a.doc_id % 50 = 0 AS tgt,
       |    a.tok || ' ' || b.tok AS bg
       |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       |tlm AS (SELECT bg, COUNT(*) AS ct FROM bg WHERE tgt GROUP BY 1),
       |rlm AS (SELECT bg, COUNT(*) AS cr FROM bg WHERE NOT tgt GROUP BY 1),
       |sc AS (SELECT COUNT(*) FILTER (WHERE tgt) AS nt,
       |  COUNT(*) FILTER (WHERE NOT tgt) AS nr,
       |  COUNT(DISTINCT bg) AS v FROM bg)
       |SELECT doc_id,
       |  round(avg(ln(
       |    CAST((COALESCE(ct, 0) + 1) * (nr + v) AS DOUBLE) /
       |    CAST((COALESCE(cr, 0) + 1) * (nt + v) AS DOUBLE))), 6)
       |    AS dsir_logweight,
       |  COUNT(*) AS n_bigrams
       |FROM bg
       |LEFT JOIN tlm USING (bg)
       |LEFT JOIN rlm USING (bg)
       |CROSS JOIN sc
       |GROUP BY doc_id
       |${O.OrderAll}"""

  /** BPE tokenizer-training inner loop: corpus-wide adjacent
    * character-pair frequencies, top 50. Training a byte-pair-encoding
    * vocabulary at 100 TB is exactly this query run per merge round —
    * the merge DECISION (argmax pair) is tiny; the COUNT is the
    * at-scale work, and it is one explode → one map-side-combined
    * count → one TakeOrderedAndProject (per-partition top-k heap +
    * driver merge of 50 rows, never a global sort). Pairs are emitted
    * by a zero-shuffle higher-order function over each word
    * (`transform(sequence(...))`) — no UDF, stays inside codegen.
    * (cnt, pair) is unique, so DESC cnt + ASC pair totals the order and
    * LIMIT 50 is deterministic on both engines. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    // two generate stages per row of text — the most CPU-per-byte key
    // in the inventory; floor the scan's parallelism (sf100: the 818 MB
    // table scans as ~7 splits, leaving 25 of 32 cores idle)
    val words = graft.core.Spread
      .cpuBound(spark, Tables.load(spark, dir, "documents"))
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
    words
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(50)
  }

  private val bpePairsSql =
    s"""WITH words AS (
       |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
       |  FROM documents),
       |pairs AS (
       |  SELECT unnest(list_transform(
       |    generate_series(1, length(w) - 1), i -> substr(w, i, 2))) AS pair
       |  FROM words WHERE length(w) >= 2)
       |SELECT pair, COUNT(*) AS cnt FROM pairs GROUP BY pair
       |ORDER BY cnt DESC, pair ASC LIMIT 50"""

  /** CCNet-style perplexity buckets (Wenzek et al. 1911.00359): per
    * language, rank docs by LM score and cut into head / middle / tail
    * terciles — the curation split that decides what joins the training
    * mix (head), gets a second look (middle), or is dropped (tail).
    * `ntile(3)` over (avg_nll, doc_id) — the round6-ed score plus the
    * id tiebreak total the order, so both engines assign identical
    * tiles. 100 TB: one window per lang partition over the (doc, score)
    * table — rows are doc-level (3 columns), never text; at a skewed
    * lang distribution the per-lang sort is the bottleneck — range
    * repartition within lang or approx-quantile cutpoints (the
    * `agg_approx_percentile` sketch) replace exact ntile when a single
    * language holds trillions of docs. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_nll"), col("doc_id"))
    ordered(
      lmScores(spark, dir)
        .join(docs(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("tile", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("avg_nll"),
          when(col("tile") === 1, "head")
            .when(col("tile") === 2, "middle")
            .otherwise("tail").as("bucket")))
  }

  private val pplBucketsSql =
    s"""WITH ${O.tokensCte("documents")},
       |bg AS (
       |  SELECT a.doc_id, a.tok AS w1, a.tok || ' ' || b.tok AS bigram
       |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       |c12 AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY 1),
       |c1 AS (SELECT tok AS w1, COUNT(*) AS c1 FROM toks GROUP BY 1),
       |scores AS (
       |  SELECT doc_id,
       |    round(avg(-ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))), 6) AS avg_nll
       |  FROM bg JOIN c12 USING (bigram) JOIN c1 USING (w1)
       |  GROUP BY doc_id),
       |tiled AS (
       |  SELECT s.doc_id, d.lang, s.avg_nll,
       |    ntile(3) OVER (PARTITION BY d.lang
       |      ORDER BY s.avg_nll, s.doc_id) AS tile
       |  FROM scores s JOIN documents d USING (doc_id))
       |SELECT doc_id, lang, avg_nll,
       |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |    ELSE 'tail' END AS bucket
       |FROM tiled
       |${O.OrderAll}"""

  /** BM25 ranked retrieval (Robertson/Spärck Jones, k1=1.2 b=0.75) —
    * the scoring half of a search engine over the corpus, completing
    * the text family (inverted index = the index half, TF-IDF = the
    * weighting ancestor). The "query" is derived deterministically
    * from the corpus itself — the tokens at df-ranks 10-12 (past the
    * stopword-ish head, total order by (df desc, token)) — so both
    * engines score the identical query with no literal vocabulary
    * baked in. Top-20 by (round6 score desc, doc_id): ln() and the
    * 3-term double sum are the usual engine-order divergences round6
    * absorbs (the `llm_lm_score` precedent).
    *
    * 100 TB: the postings side is (term, doc, tf) — the inverted-index
    * shape; the 3-row query broadcasts; doc lengths are one
    * map-side-combined agg; the final top-k is TakeOrderedAndProject.
    * Nothing touches raw text after the one tokenize pass. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val tf = toks(spark, dir).groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // top-12 by TakeOrderedAndProject (per-partition heaps, 12-row
    // driver merge), THEN rank within the 12 survivors — never a
    // global row_number over the full vocabulary (a single-task sort
    // at web-corpus vocab sizes)
    val query = df
      .orderBy(col("df").desc, col("token").asc).limit(12)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("df").desc, col("token").asc)))
      .filter(col("rk").between(10, 12))
      .select(col("token"), col("df"))
    val dl = toks(spark, dir).groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"))
    val stats = docs(spark, dir).agg(
      count(lit(1)).as("n_docs")).crossJoin(
      dl.agg(sum(col("dl")).as("n_toks")))
      .select(col("n_docs"),
        (col("n_toks").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    val idf = // ln((N - df + .5)/(df + .5) + 1), exact-long ratio args
      log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
        + lit(1.0))
    val termScore = idf * (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(query), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round6(sum(termScore)).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)
  }

  private val bm25Sql =
    s"""WITH t AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |tf AS (SELECT token, doc_id, COUNT(*) AS tf FROM t GROUP BY 1, 2),
       |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |top12 AS (
       |  SELECT token, df FROM df ORDER BY df DESC, token ASC LIMIT 12),
       |query AS (
       |  SELECT token, df FROM (
       |    SELECT token, df, row_number() OVER (ORDER BY df DESC, token ASC) AS rk
       |    FROM top12)
       |  WHERE rk BETWEEN 10 AND 12),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
       |stats AS (
       |  SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
       |    CAST((SELECT COUNT(*) FROM t) AS DOUBLE)
       |      / (SELECT COUNT(*) FROM documents) AS avgdl)
       |SELECT doc_id,
       |  round(SUM(
       |    ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |    * (tf * 2.2)
       |    / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score,
       |  COUNT(*) AS n_terms_hit
       |FROM tf JOIN query USING (token) JOIN dl USING (doc_id)
       |CROSS JOIN stats
       |GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC LIMIT 20"""

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the
    * MOSS algorithm): from each window of w=5 consecutive k-gram (k=4)
    * hashes, select the window's minimum — the fingerprint set with
    * the GUARANTEE the rolling-hash `llm_fingerprint` lacks: any match
    * of ≥ w+k−1 tokens between two documents shares a fingerprint
    * (every window contributes its min, so no length-8 overlap can
    * slip between selections). Relational trick: the selection IS
    * `DISTINCT(min over the w-frame)` — the tie-break (rightmost min)
    * is embedded in the ordering key (`hash ∥ reversed-position`), so
    * no argmin machinery is needed and both engines replay the EXACT
    * fingerprint set (hashes are md5 prefixes — engine-portable,
    * unlike xxhash). Density is emitted as an exact rational
    * (n_fp / n_windows — never rounded; theory says E ≈ 2/(w+1)).
    *
    * 100 TB: tokenize once, one HOF gram pass, one w-row frame window
    * per doc partition, one distinct — O(tokens) with doc_id-keyed
    * shuffles only; the fingerprint table (doc, 16-hex) is what joins
    * against an index for plagiarism/overlap detection at corpus
    * scale. Position reversal assumes < 10^7 grams per doc (lpad
    * width) — generous even for book-length documents. */
  private[graft] val WinnowW = 5

  /** Per-window selections over any (doc_id, text) frame: one row per
    * complete window (pos ≥ w), `fmin` = the window's selected
    * fingerprint key (hash ∥ reversed-pos) — the DISTINCT fmins per doc
    * are the winnowing fingerprint set. Also drives the guarantee law
    * in LlmSpec on synthetic overlapping docs. */
  private[graft] def winnowSelections(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = d
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 4)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(tk) - 3), i -> concat_ws(' ', slice(tk, i, 4)))")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        substring(md5(col("col")), 1, 16).as("h"))
    val ok = concat(col("h"),
      lpad((lit(10000000) - col("pos")).cast("string"), 8, "0"))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(WinnowW - 1), Window.currentRow)
    grams
      .withColumn("fmin", min(ok).over(frame))
      .withColumn("n_grams", count(lit(1)).over(
        Window.partitionBy(col("doc_id"))))
      .filter(col("pos") >= WinnowW)
  }

  def winnow(spark: SparkSession, dir: String): DataFrame = {
    val sel = winnowSelections(docs(spark, dir))
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count_distinct(col("fmin")).as("n_fp"),
        min(substring(col("fmin"), 1, 16)).as("min_fp"))
    ordered(
      sel.select(col("doc_id"), col("n_grams"), col("n_fp"), col("min_fp"),
        (col("n_fp").cast("double") /
          (col("n_grams") - (WinnowW - 1)).cast("double")).as("density")))
  }

  private val winnowSql =
    s"""WITH tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS l FROM documents
       |  WHERE len(string_split(text, ' ')) >= 4),
       |pos AS (
       |  SELECT doc_id, unnest(generate_series(1, len(l) - 3)) AS pos, l
       |  FROM tk),
       |grams AS (
       |  SELECT doc_id, pos,
       |    substr(md5(array_to_string(l[pos:pos+3], ' ')), 1, 16) AS h
       |  FROM pos),
       |framed AS (
       |  SELECT doc_id, pos,
       |    MIN(h || lpad(CAST(10000000 - pos AS VARCHAR), 8, '0')) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS fmin,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
       |  FROM grams)
       |SELECT doc_id, n_grams,
       |  COUNT(DISTINCT fmin) AS n_fp,
       |  MIN(substr(fmin, 1, 16)) AS min_fp,
       |  CAST(COUNT(DISTINCT fmin) AS DOUBLE)
       |    / CAST(n_grams - 4 AS DOUBLE) AS density
       |FROM framed WHERE pos >= 5
       |GROUP BY doc_id, n_grams
       |${O.OrderAll}"""

  /** Token-level Shannon entropy per document — the information-density
    * score of the text-quality family (low-entropy docs are boilerplate,
    * keyword stuffing, or template spam; entropy filters sit beside
    * repetition/quality gates in every pretraining curation stack, e.g.
    * the C4/Gopher rule families). H = −Σ p·log₂p over the doc's token
    * frequency distribution, plus the normalized H / log₂(distinct)
    * (1.0 = uniform usage, → 0 = one token dominates).
    *
    * Determinism: p = c/n is an exact-rational double (both engines
    * divide the same two BIGINTs, correctly rounded); log₂ is the one
    * transcendental — per-term last-ulp libm divergence is absorbed by
    * round6 of the summed score (the `llm_simsearch` convention).
    * Per-doc term sums run in Spark partition order vs DuckDB hash
    * order, but each term's p·log₂p is identical bits and a ≤100-term
    * sum's order error is ≪ 1e-9, far inside round6.
    *
    * 100 TB: explode → ONE shuffle on (doc_id, token) for term counts,
    * then the per-doc totals and the entropy sum both ride doc_id —
    * Spark reuses the (doc_id, token) hash partitioning for the doc_id
    * re-aggregation (every (doc_id,·) key already lives in one
    * partition), so no second exchange of the big side. Token counts,
    * not raw tokens, cross the wire: map-side combine collapses
    * repeated tokens before the shuffle. */
  def entropy(spark: SparkSession, dir: String): DataFrame = {
    val tc = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    val perDoc = tc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log2(col("c").cast("double"))).as("clog"))
    // H = log2(n) − (Σ c·log2 c)/n  (algebraically = −Σ p·log2 p, but
    // needs only per-term c — no second pass to attach n to each term)
    // H ≥ 0 mathematically; greatest(·, 0) clamps the ≤1-ulp negative
    // the cancellation can leave AND normalizes −0.0 → 0.0 (the two
    // engines may disagree on which side of zero the ulp lands, and a
    // −0.0 vs 0.0 bit difference poisons the hash)
    val h = greatest(log2(col("n").cast("double")) -
      col("clog") / col("n").cast("double"), lit(0.0))
    ordered(perDoc.select(
      col("doc_id"), col("n").as("n_tokens"), col("n_distinct"),
      round6(h).as("entropy_bits"),
      when(col("n_distinct") > 1,
        round6(h / log2(col("n_distinct").cast("double"))))
        .as("entropy_norm")))
  }

  private val entropySql =
    s"""WITH tc AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |cnt AS (
       |  SELECT doc_id, token, COUNT(*) AS c FROM tc GROUP BY 1, 2),
       |per_doc AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_distinct,
       |    SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clog
       |  FROM cnt GROUP BY 1)
       |SELECT doc_id, n AS n_tokens, n_distinct,
       |  round(greatest(log2(CAST(n AS DOUBLE)) - clog / CAST(n AS DOUBLE),
       |                 0.0), 6) AS entropy_bits,
       |  CASE WHEN n_distinct > 1 THEN
       |    round(greatest(log2(CAST(n AS DOUBLE)) - clog / CAST(n AS DOUBLE),
       |                   0.0) / log2(CAST(n_distinct AS DOUBLE)), 6)
       |  END AS entropy_norm
       |FROM per_doc
       |${O.OrderAll}"""

  /** Hashed-linear quality-classifier INFERENCE (the fastText-shaped
    * scoring pass of CCNet/DCLM-style curation): each token hashes
    * into one of 64 feature buckets, each bucket carries an integer
    * weight in [−1000, 1000] (milli-units), a document's decision
    * score is Σweights / (1000·n_tokens), and a three-way quality
    * label falls out of fixed thresholds. In production the weights
    * arrive as a trained model broadcast to every executor; here they
    * are a deterministic mix of the bucket id (Knuth multiplicative
    * constant) so the DuckDB oracle can recompute them exactly — the
    * INFERENCE plumbing (tokenize → hash → weight lookup → per-doc
    * reduce) is the operator under test, and it is the identical plan
    * either way. The bucket hash uses only length/first/last-char
    * arithmetic — the portable subset both engines evaluate
    * identically (xxhash64 exists only on one side).
    *
    * Determinism: the per-doc sum is a BIGINT (exact, order-free);
    * the single final division is correctly rounded identically on
    * both engines; the label thresholds compare those identical bits.
    *
    * 100 TB: pure map (explode + arithmetic, whole-stage codegen) +
    * one per-doc partial/final aggregate — no join, no weight table
    * shuffle (the "model" rides the expression; a real 10⁶-bucket
    * model rides a broadcast map_from_arrays lookup, same plan). */
  def classifierScore(spark: SparkSession, dir: String): DataFrame = {
    val tok = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val bucket = (lit(37L) * length(col("tok"))
      + lit(17L) * ascii(substring(col("tok"), 1, 1))
      + ascii(substring(col("tok"), -1, 1))) % 64
    val weight = (bucket * lit(2654435761L)) % 2001L - 1000L
    ordered(
      tok.select(col("doc_id"), weight.as("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("w")).as("score_units"))
        .withColumn("score",
          col("score_units").cast("double") /
            (lit(1000.0) * col("n_tok").cast("double")))
        .withColumn("quality_label",
          when(col("score") >= 0.05, "high")
            .when(col("score") >= -0.05, "mid")
            .otherwise("low")))
  }

  private val classifierScoreSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |w AS (
       |  SELECT doc_id,
       |    ((37 * len(tok) + 17 * ascii(substr(tok, 1, 1))
       |      + ascii(substr(tok, -1, 1))) % 64) * 2654435761 % 2001 - 1000 AS w
       |  FROM tok WHERE len(tok) > 0),
       |s AS (
       |  SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(w) AS BIGINT) AS score_units
       |  FROM w GROUP BY doc_id)
       |SELECT doc_id, n_tok, score_units,
       |  CAST(score_units AS DOUBLE) / (1000.0 * CAST(n_tok AS DOUBLE)) AS score,
       |  CASE
       |    WHEN CAST(score_units AS DOUBLE) / (1000.0 * CAST(n_tok AS DOUBLE)) >= 0.05
       |      THEN 'high'
       |    WHEN CAST(score_units AS DOUBLE) / (1000.0 * CAST(n_tok AS DOUBLE)) >= -0.05
       |      THEN 'mid'
       |    ELSE 'low' END AS quality_label
       |FROM s
       |${O.OrderAll}"""

  /** PMI collocation mining — the association layer over raw bigram
    * counts (`llm_bpe_pairs` counts; PMI asks which pairs co-occur
    * MORE than their unigram frequencies predict — the classic
    * phrase/collocation detector of corpus linguistics and the
    * phrase-merging signal in tokenizer construction):
    * pmi(a,b) = ln( (c_ab · N_uni²) / (N_bi · c_a · c_b) ), support
    * ≥ 5, top-30 by (rounded pmi desc, pair). All counts are exact
    * integers; the single ln is the one transcendental (round6, the
    * same contract as `llm_lm_score`), and the product/quotient
    * spelling is mirrored verbatim so both engines round identically
    * on the way in.
    *
    * 100 TB: two map-side-combinable counts (unigrams, bigrams), the
    * corpus scalars ride a broadcast 1-row cross join, top-30 is a
    * TakeOrdered heap — no joins between the count tables beyond the
    * two tiny key-lookups (unigram counts re-joined by token, each a
    * shuffle of count rows, not token occurrences). */
  def pmi(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
    val uni = toks
      .select(explode(col("tk")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // single-token docs first: Spark's sequence(1, 0) is the DESCENDING
    // [1, 0], so the unguarded transform would evaluate tk[1]/tk[-1]
    // and throw INVALID_ARRAY_INDEX under ANSI mode (DuckDB's
    // generate_series(1, 0) is empty — the engines diverge exactly
    // there). Ops must be total over arbitrary corpora (same guard
    // discipline as Curation.repetition); a 1-token doc simply has no
    // bigrams, which the filter states directly.
    val bi = toks.filter(size(col("tk")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS a, tk[i] AS b))"))
        .as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 5)
    val nUni = uni.agg(sum(col("c")).as("n_uni"))
    val nBi = toks.select((size(col("tk")) - 1).as("m"))
      .agg(sum(col("m")).as("n_bi"))
    ordered(
      bi
        .join(uni.select(col("w").as("a"), col("c").as("c_a")), Seq("a"))
        .join(uni.select(col("w").as("b"), col("c").as("c_b")), Seq("b"))
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
        .select(col("a"), col("b"), col("c_ab"),
          round6(log(
            (col("c_ab").cast("double") * col("n_uni").cast("double")
              * col("n_uni").cast("double"))
              / (col("n_bi").cast("double") * col("c_a").cast("double")
                * col("c_b").cast("double")))).as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(30))
  }

  private val pmiSql =
    s"""SELECT * FROM (
       |WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       |uni AS (
       |  SELECT w, COUNT(*) AS c FROM (SELECT unnest(tk) AS w FROM t) GROUP BY 1),
       |bi AS (
       |  SELECT p['a'] AS a, p['b'] AS b, COUNT(*) AS c_ab FROM (
       |    SELECT unnest(list_transform(
       |      generate_series(1, len(tk) - 1),
       |      i -> {'a': tk[i], 'b': tk[i + 1]})) AS p
       |    FROM t) GROUP BY 1, 2 HAVING COUNT(*) >= 5),
       |n1 AS (SELECT CAST(SUM(c) AS BIGINT) AS n_uni FROM uni),
       |n2 AS (SELECT CAST(SUM(len(tk) - 1) AS BIGINT) AS n_bi FROM t)
       |SELECT a, b, c_ab,
       |  round(ln((CAST(c_ab AS DOUBLE) * CAST(n_uni AS DOUBLE)
       |      * CAST(n_uni AS DOUBLE))
       |    / (CAST(n_bi AS DOUBLE) * CAST(ca.c AS DOUBLE)
       |      * CAST(cb.c AS DOUBLE))), 6) AS pmi
       |FROM bi
       |JOIN uni ca ON ca.w = a
       |JOIN uni cb ON cb.w = b
       |CROSS JOIN n1 CROSS JOIN n2
       |ORDER BY pmi DESC, a, b LIMIT 30)
       |${O.OrderAll}"""

  val queries: Map[String, Q] = Map(
    "llm_pmi" -> Q(pmi _, pmiSql),
    "llm_classifier_score" -> Q(classifierScore _, classifierScoreSql),
    "llm_entropy" -> Q(entropy _, entropySql),
    "llm_winnow" -> Q(winnow _, winnowSql),
    "llm_bm25" -> Q(bm25 _, bm25Sql),
    "llm_ppl_buckets" -> Q(pplBuckets _, pplBucketsSql),
    "llm_bpe_pairs" -> Q(bpePairs _, bpePairsSql),
    "llm_dsir" -> Q(dsir _, dsirSql),
    "llm_inverted_index" -> Q(invertedIndex _, invertedIndexSql),
    "llm_lm_score" -> Q(lmScore _, lmScoreSql),
    "llm_text_stats" -> Q(textStats _, textStatsSql),
    "llm_tfidf" -> Q(tfidf _, tfidfSql),
    "llm_lang_id" -> Q(langId _, langIdSql),
    "llm_quality" -> Q(quality _, qualitySql),
    "llm_fingerprint" -> Q(fingerprint _, fingerprintSql)
  )
}
