package graft.llm

import graft.core.Lineage.LineageCutOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}

/** SURVEY.md §2.11b — corpus-curation operators a production
  * training-data pipeline runs between raw crawl and tokenizer:
  * PII redaction, benchmark decontamination, tokenizer-cost estimation.
  * (Beyond the reference's scope — /root/reference/README.md:2-14 is
  * ETL-only — but first-class for the 100 TB LLM-pipeline goal.)
  *
  * 100 TB notes: all three are embarrassingly parallel per-document
  * passes (regex/columnar) except decontamination, whose benchmark
  * shingle set is small by construction (benchmarks are ~10⁵ docs, not
  * 10¹⁰) — broadcast semi-join, so the corpus is never shuffled.
  */
object Curation {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // Patterns restricted to syntax Java regex and DuckDB's RE2 parse
  // identically (char classes, bounded repeats, \b word boundary —
  // no lookaround, no backrefs).
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** PII redaction: scrub emails, phone numbers, and IPv4 addresses,
    * reporting per-doc match counts (the audit signal real pipelines
    * log per shard). The synthetic corpus carries no PII, so the query
    * first derives a deterministic contact string from the row itself —
    * the redaction then does real work and the oracle replays the same
    * construction. Redaction order is fixed (email → phone → ip) so
    * overlapping matches resolve identically on both engines. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(raw, EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>")
    ordered(
      docs(spark, dir).select(
        col("doc_id"),
        redacted.as("redacted"),
        size(regexp_extract_all(raw, lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(raw, lit(PhoneRe), lit(0))).as("n_phones"),
        // ip count AFTER phone redaction: the phone pattern would
        // otherwise claim part of a dotted quad on neither engine —
        // counting post-redaction keeps count and effect consistent
        size(regexp_extract_all(
          regexp_replace(regexp_replace(raw, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"),
          lit(Ipv4Re), lit(0))).as("n_ips")))
  }

  private val piiRedactSql = {
    val raw = "text || ' contact user' || doc_id || '@mail.example.com or +1-555-' || " +
      "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
    val afterPhone =
      s"regexp_replace(regexp_replace($raw, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g')"
    s"""SELECT doc_id,
       |  regexp_replace($afterPhone, '$Ipv4Re', '<IP>', 'g') AS redacted,
       |  len(regexp_extract_all($raw, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all($raw, '$PhoneRe')) AS n_phones,
       |  len(regexp_extract_all($afterPhone, '$Ipv4Re')) AS n_ips
       |FROM documents
       |${O.OrderAll}"""
  }

  /** Benchmark decontamination: per corpus doc, the fraction of its
    * 3-gram shingles that appear in ANY benchmark doc (benchmark set =
    * doc_id % 50 == 0 — stands in for held-out eval sets). Docs with
    * ratio ≥ 0.5 are flagged for exclusion: training on them would leak
    * eval data. The shingle machinery is shared with `llm_near_dedup`.
    *
    * 100 TB: the benchmark shingle set is tiny relative to the corpus —
    * broadcast left-semi join, corpus shingles stream past it with no
    * corpus-side shuffle; per-doc counts are one map-side-combined
    * groupBy. */
  def contamination(spark: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingles(spark, dir)
    val bench = sh.filter(col("doc_id") % 50 === 0)
      .select(col("shingle")).distinct()
    val corpus = sh.filter(col("doc_id") % 50 =!= 0)
    val tot = corpus.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val hit = corpus.join(broadcast(bench), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    val ratio = col("n_contaminated").cast("double") / col("n_shingles").cast("double")
    ordered(
      tot.join(hit, Seq("doc_id"), "left_outer")
        .na.fill(0L, Seq("n_contaminated"))
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          ratio.as("contamination_ratio"),
          (ratio >= 0.5).as("flagged")))
  }

  private val contaminationSql =
    s"""WITH ${Dedup.shingleSetCte("documents")},
       |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
       |corpus AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
       |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY 1),
       |hit AS (
       |  SELECT c.doc_id, COUNT(*) AS n_contaminated
       |  FROM corpus c JOIN bench b ON c.s = b.s GROUP BY 1)
       |SELECT t.doc_id, t.n_shingles, COALESCE(h.n_contaminated, 0) AS n_contaminated,
       |  CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
       |    AS contamination_ratio,
       |  CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE) >= 0.5
       |    AS flagged
       |FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
       |${O.OrderAll}"""

  /** GPT-2-style pre-tokenizer pattern, restricted to RE2∩Java syntax:
    * a token is an optionally-space-prefixed letter run, digit run, or
    * punctuation run. The real BPE merge table is model-specific; the
    * PRE-tokenizer is what determines cost estimates (token counts for
    * budget/pricing), and that is regex-expressible. */
  private val BpeRe = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** Tokenizer-cost estimation: whitespace tokens vs BPE-ish
    * pre-tokens per doc + compression ratio (chars per pre-token) —
    * the numbers a pipeline needs to budget tokenization and price a
    * training mix. Pure columnar regex: embarrassingly parallel. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    ordered(
      docs(spark, dir).select(
        col("doc_id"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpeRe), lit(0))).as("n_bpe_tokens"),
        round6(col("n_chars").cast("double") /
          size(regexp_extract_all(col("text"), lit(BpeRe), lit(0))).cast("double"))
          .as("chars_per_token")))

  private val tokenCountSql =
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_ws_tokens,
       |  len(regexp_extract_all(text, '$BpeRe')) AS n_bpe_tokens,
       |  round(CAST(n_chars AS DOUBLE)
       |    / CAST(len(regexp_extract_all(text, '$BpeRe')) AS DOUBLE), 6)
       |    AS chars_per_token
       |FROM documents
       |${O.OrderAll}"""

  /** Knuth multiplicative constant for the deterministic bucket hashes
    * below. Chosen over xxhash64 ONLY because the oracle must reproduce
    * the bucket in ANSI SQL (DuckDB has no xxhash64 and no hex→int
    * parse); products stay far below 2^63 for any realistic key space.
    * At 100 TB swap in `xxhash64(key)` — same shape, still one map-side
    * expression, zero shuffles. */
  private val MixK = 2654435761L

  /** The deterministic 80/10/10 assignment — one definition (column +
    * SQL spelling), shared by `llm_split` and `llm_curation_e2e`. */
  private[llm] def bucketCol = (col("doc_id") * lit(MixK)) % 1000
  private[llm] def splitCol =
    when(bucketCol < 800, "train")
      .when(bucketCol < 900, "validation")
      .otherwise("test")
  private val splitSql =
    s"""CASE WHEN (doc_id * $MixK) % 1000 < 800 THEN 'train'
       |       WHEN (doc_id * $MixK) % 1000 < 900 THEN 'validation'
       |       ELSE 'test' END""".stripMargin

  /** Deterministic train/validation/test assignment (80/10/10): split
    * membership is a pure function of the business key — stable across
    * re-runs, engines, repartitioning, and corpus growth (a doc never
    * changes split when new docs arrive), which is exactly why
    * production pipelines hash-split rather than sample-split. No
    * sampling state, no shuffle: one map-side expression per row. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    ordered(
      docs(spark, dir).select(
        col("doc_id"), col("lang"),
        bucketCol.as("bucket"),
        splitCol.as("split")))

  private val trainSplitSql =
    s"""SELECT doc_id, lang, (doc_id * $MixK) % 1000 AS bucket,
       |  $splitSql AS split
       |FROM documents
       |${O.OrderAll}"""

  /** Domain-mixture rebalancing: deterministically downsample each
    * language to the size of the rarest one (the balanced-mix special
    * case of "sample source s at rate r_s"). The keep decision
    * `bucket(doc_id) * n_lang < min_n * 10^6` is pure integer
    * arithmetic — no float thresholds to disagree across engines, and
    * like [[trainSplit]] it is membership-stable under corpus
    * repartitioning.
    *
    * 100 TB: per-domain counts are one map-side-combined groupBy over
    * the corpus (or come free from table statistics); the keep filter
    * is map-side against a broadcast rate table — the corpus itself is
    * never shuffled. */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
    val minN = counts.agg(min(col("n_before")).as("_min_n"))
    val kept = d
      .join(broadcast(counts.crossJoin(broadcast(minN))), Seq("lang"))
      .filter(((col("doc_id") * lit(MixK)) % 1000000) * col("n_before") <
        col("_min_n") * 1000000)
    val after = kept.groupBy(col("lang")).agg(count(lit(1)).as("n_after"))
    val total = after.agg(sum(col("n_after")).as("_total_after"))
    ordered(
      counts.join(after, Seq("lang"), "left_outer")
        .na.fill(0L, Seq("n_after"))
        .crossJoin(broadcast(total))
        .select(col("lang"), col("n_before"), col("n_after"),
          (col("n_after").cast("double") / col("_total_after").cast("double"))
            .as("share_after")))
  }

  private val domainMixSql =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n_before FROM documents GROUP BY 1),
       |m AS (SELECT MIN(n_before) AS mn FROM c),
       |kept AS (
       |  SELECT d.lang FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN m
       |  WHERE ((d.doc_id * $MixK) % 1000000) * c.n_before < m.mn * 1000000),
       |a AS (SELECT lang, COUNT(*) AS n_after FROM kept GROUP BY 1),
       |t AS (SELECT CAST(SUM(n_after) AS BIGINT) AS tot FROM a)
       |SELECT c.lang, c.n_before, COALESCE(a.n_after, 0) AS n_after,
       |  CAST(COALESCE(a.n_after, 0) AS DOUBLE) / CAST(t.tot AS DOUBLE)
       |    AS share_after
       |FROM c LEFT JOIN a ON c.lang = a.lang CROSS JOIN t
       |${O.OrderAll}"""

  // Combined stopword list of Text.scala's three language profiles —
  // the heuristic rule only needs "contains ANY common function word".
  private val StopList = Seq(
    "the", "a", "of", "and", "el", "la", "de", "y",
    "der", "die", "das", "und")

  /** The Gopher metric/flag derivation over any documents-shaped input
    * — the ONE definition of the keep rule, shared by the keyed query
    * and the end-to-end cascade (`llm_curation_e2e`) so the two can
    * never apply different quality gates. Appends metric + flag +
    * `keep` columns, preserving the input's columns. */
  private[graft] def gopherFlagsOf(d: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nWords = size(toks)
    val meanLen = (col("n_chars") - (nWords - 1)).cast("double") /
      nWords.cast("double")
    val symRatio =
      (col("n_chars") - length(regexp_replace(col("text"), "[^A-Za-z0-9 ]", "")))
        .cast("double") / col("n_chars").cast("double")
    val alphaFrac = size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("double") /
      nWords.cast("double")
    val nStop = size(filter(toks, x => x.isin(StopList: _*)))
    val rWords = nWords >= 15 && nWords <= 90
    val rMean = meanLen >= 3.0 && meanLen <= 6.0
    val rSym = symRatio <= 0.1
    val rAlpha = alphaFrac >= 0.9
    val rStop = nStop >= 1
    d.withColumn("n_words", nWords)
      .withColumn("mean_word_len", meanLen)
      .withColumn("symbol_ratio", symRatio)
      .withColumn("alpha_frac", alphaFrac)
      .withColumn("n_stopwords", nStop)
      .withColumn("r_word_count", rWords)
      .withColumn("r_mean_len", rMean)
      .withColumn("r_symbol", rSym)
      .withColumn("r_alpha", rAlpha)
      .withColumn("r_stopword", rStop)
      .withColumn("keep", rWords && rMean && rSym && rAlpha && rStop)
  }

  /** Gopher-style heuristic quality rules (Rae et al. 2021, table A1 —
    * public paper), each surfaced as its own flag so a pipeline can
    * tune/ablate rules independently; `keep` is their conjunction:
    * word count in [15, 90], mean word length in [3, 6], symbol
    * ratio ≤ 0.1, ≥ 90% alphabetic words, ≥ 1 stopword. Complements
    * `llm_quality` (a composed [0,1] score) with hard accept/reject
    * gates. All exact rational arithmetic — no rounding (Determinism
    * rules). Embarrassingly parallel: one columnar pass, no shuffle
    * except the presentation sort. */
  def heuristicFilter(spark: SparkSession, dir: String): DataFrame =
    ordered(
      gopherFlagsOf(docs(spark, dir)).select(
        col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("alpha_frac"), col("n_stopwords"),
        col("r_word_count"), col("r_mean_len"), col("r_symbol"),
        col("r_alpha"), col("r_stopword"), col("keep")))

  /** The t/v metric CTEs of the Gopher derivation — one SQL spelling
    * shared by `llm_heuristic_filter` and `llm_curation_e2e`. */
  private val gopherCtesSql = {
    val stopIn = StopList.map(s => s"'$s'").mkString(", ")
    s"""t AS (
       |  SELECT doc_id, n_chars, text, string_split(text, ' ') AS l
       |  FROM documents),
       |v AS (
       |  SELECT doc_id,
       |    len(l) AS n_words,
       |    CAST(n_chars - (len(l) - 1) AS DOUBLE) / CAST(len(l) AS DOUBLE)
       |      AS mean_word_len,
       |    CAST(n_chars - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
       |      AS DOUBLE) / CAST(n_chars AS DOUBLE) AS symbol_ratio,
       |    CAST(len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]')))
       |      AS DOUBLE) / CAST(len(l) AS DOUBLE) AS alpha_frac,
       |    len(list_filter(l, x -> x IN ($stopIn))) AS n_stopwords
       |  FROM t)"""
  }

  /** The conjunction `keep` rule, same sharing rationale. */
  private val gopherKeepSql =
    """(n_words >= 15 AND n_words <= 90)
      |    AND (mean_word_len >= 3.0 AND mean_word_len <= 6.0)
      |    AND symbol_ratio <= 0.1 AND alpha_frac >= 0.9
      |    AND n_stopwords >= 1""".stripMargin

  private val heuristicFilterSql =
    s"""WITH $gopherCtesSql
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
       |  n_stopwords,
       |  n_words >= 15 AND n_words <= 90 AS r_word_count,
       |  mean_word_len >= 3.0 AND mean_word_len <= 6.0 AS r_mean_len,
       |  symbol_ratio <= 0.1 AS r_symbol,
       |  alpha_frac >= 0.9 AS r_alpha,
       |  n_stopwords >= 1 AS r_stopword,
       |  $gopherKeepSql AS keep
       |FROM v
       |${O.OrderAll}"""

  /** Repetition signals (the other Gopher rule family): per-doc top
    * 2-gram concentration and distinct-2-gram fraction — high top_frac
    * or low distinct_frac marks boilerplate/spam for exclusion.
    *
    * 100 TB: bigrams come from a zero-shuffle higher-order function
    * over the token array (NOT a positional self-join — that would
    * shuffle every token twice); per-doc concentration is one
    * map-side-combined groupBy keyed by (doc_id, bigram), then a
    * doc-partitioned window. Deterministic tiebreak: lexicographic min
    * among equal-count top bigrams. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    // tokenize ONCE per row into a column first: a split() inside the
    // lambda would be re-evaluated per element (no hoisting out of
    // lambda scope) — measured 2.6× slower on the full corpus
    val big = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(
        col("doc_id"),
        // Guard size(t) >= 2: sequence(0, -1) on a 1-token doc is the
        // DESCENDING [0, -1], so element_at(t, i + 1) would hit index 0
        // and throw — the op must be total over arbitrary corpora, not
        // just multi-token fixtures. explode() drops the empty array,
        // which matches the oracle's self-join producing no rows.
        explode(expr(
          """CASE WHEN size(t) >= 2 THEN
            |  transform(sequence(0, size(t) - 2),
            |    i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))
            |ELSE cast(array() AS array<string>) END"""
            .stripMargin))
          .as("bigram"))
    val counts = big.groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("c").desc, col("bigram").asc)
    ordered(
      counts.withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_bigrams"),
          count(lit(1)).as("n_distinct"),
          max(when(col("rn") === 1, col("bigram"))).as("top_bigram"),
          max(when(col("rn") === 1, col("c"))).as("top_count"))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
          col("top_bigram"), col("top_count"),
          (col("top_count").cast("double") / col("n_bigrams").cast("double"))
            .as("top_frac"),
          (col("n_distinct").cast("double") / col("n_bigrams").cast("double"))
            .as("distinct_frac")))
  }

  private val repetitionSql =
    s"""WITH ${O.tokensCte("documents")},
       |big AS (SELECT a.doc_id, a.tok || ' ' || b.tok AS bigram
       |        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       |c AS (SELECT doc_id, bigram, COUNT(*) AS c FROM big GROUP BY 1, 2),
       |r AS (SELECT *, ROW_NUMBER() OVER (
       |        PARTITION BY doc_id ORDER BY c DESC, bigram ASC) AS rn FROM c)
       |SELECT doc_id,
       |  CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |  COUNT(*) AS n_distinct,
       |  MAX(CASE WHEN rn = 1 THEN bigram END) AS top_bigram,
       |  MAX(CASE WHEN rn = 1 THEN c END) AS top_count,
       |  CAST(MAX(CASE WHEN rn = 1 THEN c END) AS DOUBLE)
       |    / CAST(SUM(c) AS DOUBLE) AS top_frac,
       |  CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS distinct_frac
       |FROM r GROUP BY doc_id
       |${O.OrderAll}"""

  /** Sequence packing (concat-then-chunk, the GPT-style pretraining
    * layout): documents concatenated in doc_id order and cut into
    * fixed 512-token context windows; each doc reports its global
    * token offset and the chunk span it lands in. The global offset is
    * a PREFIX SUM — computed distributed, the way a 100 TB pipeline
    * must: range-partition by the order key, per-partition running
    * sums (window inside each partition), then per-partition totals —
    * a handful of rows — cumulated and broadcast back as bases. No
    * single-partition global window anywhere; the result is invariant
    * to the partition boundaries, which is also what the single-window
    * oracle checks. */
  def packing(spark: SparkSession, dir: String): DataFrame = {
    val chunk = 512L
    val d = docs(spark, dir).select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // localCheckpoint MATERIALIZES the range partitioning before both
    // downstream branches (local offsets and bases) read it:
    // RangePartitioner samples with an RDD-id-derived seed, so two
    // independent evaluations of this frame could pick different range
    // boundaries / partition ids and silently misalign _pid between the
    // branches. Pinning the blocks makes the shared partition
    // assignment provable rather than dependent on exchange reuse.
    val parted = d.repartitionByRange(16, col("doc_id"))
      .withColumn("_pid", spark_partition_id())
      .lineageCut()
    // exclusive running sum within each range partition
    val localW = Window.partitionBy(col("_pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = parted.withColumn("_local_off",
      coalesce(sum(col("n_tokens")).over(localW), lit(0L)))
    // per-partition totals (16 rows) → exclusive cumulative bases; the
    // tiny window over 16 rows is driver-scale by construction
    val baseW = Window.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = parted.groupBy(col("_pid"))
      .agg(sum(col("n_tokens")).as("_ptot"))
      .withColumn("_base", coalesce(sum(col("_ptot")).over(baseW), lit(0L)))
      .select(col("_pid"), col("_base"))
    val off = col("_base") + col("_local_off")
    ordered(
      local.join(broadcast(bases), Seq("_pid"))
        .select(col("doc_id"), col("n_tokens"),
          off.as("tok_offset"),
          (off / chunk).cast("long").as("first_chunk"),
          ((off + col("n_tokens") - 1) / chunk).cast("long").as("last_chunk"),
          (((off + col("n_tokens") - 1) / chunk).cast("long") -
            (off / chunk).cast("long") + 1).as("n_chunks")))
  }

  private val packingSql =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |    COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
       |      AS tok_offset
       |  FROM d)
       |SELECT doc_id, n_tokens, tok_offset,
       |  tok_offset // 512 AS first_chunk,
       |  (tok_offset + n_tokens - 1) // 512 AS last_chunk,
       |  (tok_offset + n_tokens - 1) // 512 - tok_offset // 512 + 1 AS n_chunks
       |FROM o
       |${O.OrderAll}"""

  /** URL-level dedup — the FIRST dedup pass of a crawl pipeline (far
    * cheaper than any content hash: no text is read at all). Each doc
    * carries a synthetic URL whose `v=` tracking parameter and host
    * case vary per crawl snapshot; canonicalization (lowercase host,
    * drop tracking params) collapses the variants and min-doc_id wins.
    * doc_id % 100 in the path makes distinct docs genuinely collide,
    * so the op does real deduplication work the oracle replays.
    *
    * 100 TB: canonicalization is map-side string work; the dedup is
    * one groupBy on the canonical key carrying (key, min_id, count) —
    * the same shuffle profile as `llm_exact_dedup` but on short URLs
    * instead of content hashes. */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    val host = concat(upper(col("source")), lit(".Example.com"))
    val raw = concat(lit("https://"), host, lit("/docs/"),
      col("doc_id") % 100, lit("?v="), col("doc_id"), lit("&lang="), col("lang"))
    val canonical = concat(
      lower(parse_url(raw, lit("HOST"))),
      parse_url(raw, lit("PATH")),
      lit("?lang="), parse_url(raw, lit("QUERY"), lit("lang")))
    ordered(
      docs(spark, dir)
        .select(col("doc_id"), canonical.as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("kept_doc"), count(lit(1)).as("n_dups")))
  }

  private val urlDedupSql =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    lower(upper(source) || '.example.com') || '/docs/'
       |      || CAST(doc_id % 100 AS VARCHAR) || '?lang=' || lang
       |      AS canonical_url
       |  FROM documents)
       |SELECT canonical_url, MIN(doc_id) AS kept_doc, COUNT(*) AS n_dups
       |FROM u GROUP BY canonical_url
       |${O.OrderAll}"""

  private val ChunkK = 32 // tokens per chunk
  private val ChunkS = 24 // stride (8-token overlap)

  /** Sliding-window chunking — the RAG/embedding preprocessing step
    * (split each doc into K-token windows with K−S overlap), the
    * per-document complement of [[packing]]'s cross-document
    * concatenation. Standard window rule: starts at 0, S, 2S, …;
    * n_chunks = 1 if n ≤ K else ceil((n−K)/S)+1, so the tail is
    * always covered and no chunk is a suffix of its predecessor.
    * Embarrassingly parallel: tokenize once per row (lambda-hoisting
    * rule), explode the chunk index, slice — no shuffle. */
  def chunking(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")))
    val nChunks = when(col("n") <= ChunkK, lit(1))
      .otherwise(ceil((col("n") - ChunkK).cast("double") / ChunkS)
        .cast("int") + 1)
    ordered(
      d.select(col("doc_id"), col("t"), col("n"),
          explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
        .select(col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          array_join(slice(col("t"), col("chunk_idx") * ChunkS + 1, lit(ChunkK)), " ")
            .as("chunk_text"),
          least(lit(ChunkK), col("n") - col("chunk_idx") * ChunkS)
            .cast("long").as("chunk_n_tokens")))
  }

  private val chunkingSql =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS l,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, l, n,
       |    unnest(generate_series(0,
       |      CAST(CASE WHEN n <= $ChunkK THEN 1
       |        ELSE ceil((n - $ChunkK) / $ChunkS.0) + 1 END AS BIGINT) - 1))
       |      AS chunk_idx
       |  FROM d)
       |SELECT doc_id, chunk_idx,
       |  array_to_string(
       |    l[chunk_idx * $ChunkS + 1 : chunk_idx * $ChunkS + $ChunkK], ' ')
       |    AS chunk_text,
       |  CAST(least($ChunkK, n - chunk_idx * $ChunkS) AS BIGINT)
       |    AS chunk_n_tokens
       |FROM c
       |${O.OrderAll}"""

  private val BloomFpp = 0.01
  private val BloomExpected = 100000L

  /** Bloom-filter pre-join membership — the cheapest decontamination /
    * blocklist pass at 100 TB: instead of shuffling the corpus into a
    * semi join against the benchmark set, build a ~100 KiB Bloom filter
    * over the (small) benchmark side once and probe every corpus doc
    * map-side. False positives then (and only then) pay the exact
    * check; false negatives are IMPOSSIBLE — that one-sided error is
    * the entire contract, and it's what Spark itself exploits for
    * runtime row-level filtering. Here the filter is built over the
    * benchmark docs' normalized texts (`doc_id % 50 = 0`, the same
    * stand-in eval set as `llm_contamination`) with
    * `DataFrameStatFunctions.bloomFilter` (distributed treeAggregate
    * build, order-independent bit-OR ⇒ deterministic under
    * repartitioning — verified), then probed in one columnar pass.
    *
    * Oracle-facing output follows the sketch-key pattern: per-probe
    * EXACT membership (DuckDB replays it as a semi join) plus the two
    * invariant booleans — `no_false_negative` (member ⇒ bloom hit,
    * hard guarantee) and `fp_in_bound` (corpus-wide observed FP rate ≤
    * 3×fpp, deterministic on fixed corpus + fixed hash family). The
    * raw bloom bits stay out of the compared columns. */
  def bloomFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"),
        lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("_norm"))
    val bench = d.filter(col("doc_id") % 50 === 0)
    val bloom = bench.stat.bloomFilter("_norm", BloomExpected, BloomFpp)
    val hit = udf { (s: String) => bloom.mightContainString(s) }
    // membership is CONTENT-level (normalized-text equality with the
    // benchmark set), so `no_false_negative` is a strict guarantee even
    // if a non-benchmark doc duplicates a benchmark text
    val benchNorms = bench.select(col("_norm")).distinct()
      .withColumn("_bm", lit(1))
    val probed = d
      .join(broadcast(benchNorms), Seq("_norm"), "left_outer")
      .withColumn("is_member", col("_bm").isNotNull)
      .withColumn("_bloom_hit", hit(col("_norm")))
      .lineageCut() // one probe pass feeds both the rows and the audit agg
    val audit = probed.agg(
      max(when(col("is_member") && !col("_bloom_hit"), 1).otherwise(0)).as("_fn"),
      (sum(when(!col("is_member") && col("_bloom_hit"), 1L).otherwise(0L)) /
        greatest(sum(when(!col("is_member"), 1L).otherwise(0L)), lit(1L)))
        .as("_fp_rate"))
    ordered(probed.crossJoin(broadcast(audit))
      .select(col("doc_id"), col("is_member"),
        (col("_fn") === 0).as("no_false_negative"),
        (col("_fp_rate") <= BloomFpp * 3).as("fp_in_bound")))
  }

  private val bloomFilterSql =
    s"""SELECT doc_id,
       |  lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) IN (
       |    SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))
       |    FROM documents WHERE doc_id % 50 = 0) AS is_member,
       |  TRUE AS no_false_negative,
       |  TRUE AS fp_in_bound
       |FROM documents
       |${O.OrderAll}"""

  /** Reproducible global training-order shuffle: position =
    * rank under `md5(seed ∥ doc_id)` — a pseudo-random permutation any
    * engine, partitioning, or rerun reproduces bit-for-bit, keyed by an
    * explicit seed (change the seed string → an independent epoch
    * permutation). The RNG-state alternative (`orderBy(rand(42))`)
    * is partitioning-dependent in general and irreproducible outside
    * Spark; content-keyed hashing is the 100 TB answer — and because
    * it's a SORT by a uniform key, it range-partitions evenly by
    * construction (no shuffle skew), which is exactly what the
    * training loader needs for balanced shards.
    *
    * 100 TB: one range-partitioned sort; at petabyte scale you keep
    * only (hash, doc_id) in the sort and join the payload back by id —
    * the shuffle never carries document text. */
  def shuffle(spark: SparkSession, dir: String): DataFrame = {
    // distributed global rank — llm_packing's prefix-sum shape, never an
    // empty-partitionBy window: range-partition by the hash key, count
    // exclusive predecessors locally, add broadcast per-partition bases
    val keyed = docs(spark, dir)
      .withColumn("_k",
        md5(concat(lit("epoch0:"), col("doc_id").cast("string"))))
      .repartitionByRange(16, col("_k"), col("doc_id"))
      .withColumn("_pid", spark_partition_id())
      .lineageCut() // pin partition ids across the two branches
    val localW = Window.partitionBy(col("_pid"))
      .orderBy(col("_k"), col("doc_id"))
    val bases = keyed.groupBy(col("_pid")).agg(count(lit(1)).as("_ptot"))
      .withColumn("_base",
        coalesce(sum(col("_ptot")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_base"))
    ordered(
      keyed.withColumn("_local", row_number().over(localW))
        .join(broadcast(bases), Seq("_pid"))
        .select((col("_base") + col("_local")).as("pos"),
          col("doc_id"), col("lang")))
  }

  private val shuffleSql =
    s"""SELECT row_number() OVER (
       |    ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos,
       |  doc_id, lang
       |FROM documents
       |${O.OrderAll}"""

  /** END-TO-END curation cascade — the composition none of the
    * individual keys exercises: Gopher quality gate → exact content
    * dedup among the SURVIVORS (keep min doc_id per normalized-text
    * hash) → deterministic 80/10/10 split → per-(split, lang) corpus
    * summary. Each stage is the SAME definition its standalone key
    * runs ([[gopherFlagsOf]], [[Dedup.normText]], [[splitCol]]) — the
    * key verifies the stages compose: schemas flow through, the dedup
    * operates on the filtered population (a doc removed by quality
    * cannot suppress a surviving duplicate), and the split is applied
    * after dedup so no near-identical pair straddles train/test by
    * way of a duplicate.
    *
    * 100 TB: the cascade ordering is the cheapest-first rule from the
    * dedup family applied pipeline-wide — the columnar quality gate
    * (no shuffle) runs before the hash-partitioned dedup, which runs
    * before anything per-split; each stage strictly shrinks the next
    * stage's input. One shuffle on content_hash, one on the final
    * 2-column group — nothing else moves. */
  def curationE2e(spark: SparkSession, dir: String): DataFrame = {
    val kept = gopherFlagsOf(docs(spark, dir)).filter(col("keep"))
    val hashed = kept.withColumn("content_hash", sha2(Dedup.normText, 256))
    val deduped = hashed
      .withColumn("keep_doc",
        min(col("doc_id")).over(Window.partitionBy(col("content_hash"))))
      .filter(col("doc_id") === col("keep_doc"))
    ordered(deduped
      .select(splitCol.as("split"), col("lang"), col("n_words"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("long")).as("n_tokens")))
  }

  private val curationE2eSql =
    s"""WITH $gopherCtesSql,
       |kept AS (
       |  SELECT d.doc_id, d.lang, d.text, v.n_words
       |  FROM documents d JOIN v USING (doc_id)
       |  WHERE $gopherKeepSql),
       |ded AS (
       |  SELECT *, min(doc_id) OVER (PARTITION BY
       |    sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))) AS keep_doc
       |  FROM kept)
       |SELECT $splitSql AS split, lang,
       |  COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS n_tokens
       |FROM ded WHERE doc_id = keep_doc
       |GROUP BY 1, 2
       |${O.OrderAll}"""

  val queries: Map[String, Q] = Map(
    "llm_curation_e2e" -> Q(curationE2e _, curationE2eSql),
    "llm_shuffle" -> Q(shuffle _, shuffleSql),
    "llm_bloom_filter" -> Q(bloomFilter _, bloomFilterSql),
    "llm_chunking" -> Q(chunking _, chunkingSql),
    "llm_dedup_url" -> Q(urlDedup _, urlDedupSql),
    "llm_packing" -> Q(packing _, packingSql),
    "llm_pii_redact" -> Q(piiRedact _, piiRedactSql),
    "llm_contamination" -> Q(contamination _, contaminationSql),
    "llm_token_count" -> Q(tokenCount _, tokenCountSql),
    "llm_split" -> Q(trainSplit _, trainSplitSql),
    "llm_domain_mix" -> Q(domainMix _, domainMixSql),
    "llm_heuristic_filter" -> Q(heuristicFilter _, heuristicFilterSql),
    "llm_repetition" -> Q(repetition _, repetitionSql)
  )
}
