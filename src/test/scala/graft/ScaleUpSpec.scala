package graft

import graft.core.Lineage.LineageCutOps
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The sf1 scale proof rests on [[ScaleUp]] producing a *statistically
  * faithful* amplification — these asserts pin the invariants the
  * BASELINE.md sf1 section quotes: exact per-shard gate invariance,
  * referential integrity, isomorphic duplicate structure, decorrelated
  * cross-shard similarity. Each would fail under naive row copying.
  * The same rungs then carry the dedup and ANN families' scale claim:
  * each candidate set grows sub-quadratically with its input. */
class ScaleUpSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark.spark

  private val factor = 3

  /** The suite's temp dirs, deleted with their fixture roots after the
    * suite: a temp rung's name is new on every run, so its fixtures
    * would otherwise pile up under the fixture dir. */
  private val temps = scala.collection.mutable.ListBuffer.empty[String]
  private def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    temps += dir
    dir
  }
  private def rung(prefix: String)(compose: String => Unit): String = {
    val dir = tempDir(prefix)
    compose(dir)
    dir
  }

  override def afterAll(): Unit = try temps.foreach { dir =>
    core.Fixtures.rmTree(new java.io.File(core.Fixtures.path(dir, "")))
    core.Fixtures.rmTree(new java.io.File(dir))
  } finally super.afterAll()

  private lazy val out: String =
    rung("graft_scaleup")(ScaleUp.run(spark, TestSpark.Sf, _, factor))
  private def src(t: String) = core.Tables.load(spark, TestSpark.Sf, t)
  private def dst(t: String) = core.Tables.load(spark, out, t)

  test("row counts scale by the factor; fixed dims copy through") {
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
                  "events", "documents", "embeddings"))
      assert(dst(t).count() === src(t).count() * factor, t)
    for (t <- Seq("region", "nation"))
      assert(dst(t).count() === src(t).count(), t)
  }

  test("keys stay unique and referential integrity holds per shard") {
    assert(dst("orders").select("o_orderkey").distinct.count() ===
      dst("orders").count())
    assert(dst("documents").select("doc_id").distinct.count() ===
      dst("documents").count())
    // every lineitem FK resolves (inner join loses no rows)
    val li = dst("lineitem")
    assert(li.join(dst("orders"), li("l_orderkey") === col("o_orderkey"))
      .count() === li.count())
    assert(li.join(dst("part"), li("l_partkey") === col("p_partkey"))
      .count() === li.count())
    assert(li.join(dst("supplier"), li("l_suppkey") === col("s_suppkey"))
      .count() === li.count())
    assert(dst("orders").join(dst("customer"),
      col("o_custkey") === col("c_custkey")).count() === dst("orders").count())
  }

  test("documents–embeddings id alignment survives sharding") {
    assert(
      dst("documents").join(dst("embeddings"),
        col("doc_id") === col("vec_id")).count() ===
        src("documents").join(src("embeddings"),
          col("doc_id") === col("vec_id")).count() * factor)
  }

  test("every Gopher gate feature is EXACTLY invariant per shard") {
    // the word map is length-preserving and stopword-transparent, so
    // each shard's gate metric multiset equals the source's exactly
    val srcM = llm.Curation.gopherFlagsOf(src("documents"))
      .groupBy("n_words", "mean_word_len", "symbol_ratio", "alpha_frac",
        "n_stopwords", "keep").count()
    val dstM = llm.Curation.gopherFlagsOf(dst("documents"))
      .groupBy("n_words", "mean_word_len", "symbol_ratio", "alpha_frac",
        "n_stopwords", "keep").count()
      .withColumn("count", (col("count") / factor).cast("long"))
    assert(srcM.exceptAll(dstM).isEmpty && dstM.exceptAll(srcM).isEmpty,
      "gate metric distribution drifted under amplification")
    // n_chars stays consistent with the rewritten text
    assert(dst("documents").filter(col("n_chars") =!= length(col("text")))
      .count() === 0)
  }

  test("duplicate structure is isomorphic: exact-dup count scales linearly") {
    def dups(df: org.apache.spark.sql.DataFrame) =
      df.count() - df.select("text").distinct.count()
    assert(dups(dst("documents")) === dups(src("documents")) * factor,
      "cross-shard text collisions (or lost intra-shard dups)")
  }

  test("embedding sign-flip preserves norms exactly, decorrelates shards") {
    val nDoc = src("documents").agg(max("doc_id")).head.getLong(0) + 1
    val nrm = aggregate(transform(col("embedding"),
      x => x.cast("double") * x.cast("double")), lit(0.0), _ + _)
    val srcNorms = src("embeddings").select(col("vec_id"), nrm.as("n2"))
    val dstNorms = dst("embeddings")
      .select(pmod(col("vec_id"), lit(nDoc)).as("vec_id"), nrm.as("n2"))
    // per-source-vector: every shard copy has the identical norm
    assert(dstNorms.distinct().count() === srcNorms.distinct().count())
    // cross-shard cosine of the SAME source vector ~ random, not ~1:
    // shard 1's copy of vector v against shard 0's original
    val v0 = src("embeddings").orderBy("vec_id").limit(8)
      .collect().map(r => r.getSeq[Float](1).toArray)
    val v1 = dst("embeddings")
      .filter(col("vec_id") >= nDoc && col("vec_id") < nDoc + 8)
      .orderBy("vec_id").limit(8)
      .collect().map(r => r.getSeq[Float](1).toArray)
    for ((a, b) <- v0.zip(v1)) {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      val cos = dot / (na * nb)
      assert(math.abs(cos) < 0.7,
        f"shard copy still correlated with its source (cos=$cos%.3f)")
      assert(math.abs(na - nb) < 1e-6, "norm not preserved")
    }
  }

  test("wrong-level composition fails fast; markers chain 0 -> 1 -> 2") {
    // the r8 foot-gun: a level-1 re-composition of level-1 data
    // collapses shards into exact duplicates (observed as a silent
    // 107x near-dup candidate jump). The marker law refuses it before
    // reading a row.
    val dir = tempDir("graft_scaleup_wl")
    val e = intercept[IllegalArgumentException](
      ScaleUp.run(spark, out, dir, factor, level = 1))
    assert(e.getMessage.contains("level mismatch"))
    assert(ScaleUp.recordedLevel(TestSpark.Sf) == 0, "driver testdata = level 0")
    assert(ScaleUp.recordedLevel(out) == 1)
    assert(ScaleUp.recordedLevel(out2) == 2)
  }

  test("marker-less ScaleUp-shaped dir refuses a default level (r10 advisor)") {
    // pre-r9 ScaleUp output has no marker but IS Spark-written
    // (documents.parquet is a directory with _SUCCESS) — reading it as
    // level 0 would compose level 1 over level-1 data, the exact shard
    // collapse the marker prevents. Simulate by stripping the marker.
    val stripped = new java.io.File(tempDir("graft_scaleup_nm"))
    val docs = new java.io.File(stripped, "documents.parquet"); docs.mkdirs()
    new java.io.File(docs, "_SUCCESS").createNewFile()
    val e = intercept[IllegalArgumentException](
      ScaleUp.recordedLevel(stripped.getPath))
    assert(e.getMessage.contains("_scaleup_level"),
      "refusal must name the marker to stamp")
    // stamping the true level restores normal derivation
    java.nio.file.Files.write(
      new java.io.File(stripped, "_scaleup_level").toPath, "2".getBytes)
    assert(ScaleUp.recordedLevel(stripped.getPath) == 2)
  }

  // ——— level-2 composition (sf10 = ScaleUp(sf1, level = 2) — r8):
  // the level-1 map cannot compose with itself (re-mapping the last
  // char collapses shards into exact duplicates), so level 2 maps the
  // SECOND-TO-LAST char with a disjoint alphabet. These pins verify
  // the composed corpus keeps every property the single level had. ———

  private lazy val out2: String =
    rung("graft_scaleup2")(ScaleUp.run(spark, out, _, factor, level = 2))
  private def dst2(t: String) = core.Tables.load(spark, out2, t)

  test("level-2: duplicate structure stays isomorphic through BOTH levels") {
    def dups(df: org.apache.spark.sql.DataFrame) =
      df.count() - df.select("text").distinct.count()
    // exact-dup count ×factor² — any cross-shard text collision at
    // either level (fixed points, colliding images, a re-mapped last
    // char) breaks this equality
    assert(dups(dst2("documents")) === dups(src("documents")) * factor * factor,
      "level-2 cross-shard text collisions (or lost intra-shard dups)")
  }

  test("level-2: token map is injective with zero fixed points on the real vocab") {
    val stop = Seq("the", "a", "of", "and", "el", "la", "de", "y",
      "der", "die", "das", "und")
    def vocabNs(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(!col("w").isin(stop: _*)).distinct().count()
    // per-letter injectivity + image-disjointness (from each other AND
    // from the level-1 vocab) + zero fixed points ⇔ every level-1
    // non-stopword token has exactly `factor` distinct images
    assert(vocabNs(dst2("documents")) === vocabNs(dst("documents")) * factor,
      "level-2 images collide (non-injective, fixed point, or vocab overlap)")
    // gate invariance carries through the composition: the level-2 map
    // is also length-preserving and stopword-transparent
    assert(dst2("documents").filter(col("n_chars") =!= length(col("text")))
      .count() === 0)
  }

  test("level-2: embeddings decorrelate from their level-1 source, norms exact") {
    val nDoc1 = dst("documents").agg(max("doc_id")).head.getLong(0) + 1
    val v1 = dst("embeddings").orderBy("vec_id").limit(8)
      .collect().map(r => r.getSeq[Float](1).toArray)
    val v2 = dst2("embeddings")
      .filter(col("vec_id") >= nDoc1 && col("vec_id") < nDoc1 + 8)
      .orderBy("vec_id").collect().map(r => r.getSeq[Float](1).toArray)
    for ((a, b) <- v1.zip(v2)) {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      assert(math.abs(dot / (na * nb)) < 0.7,
        "level-2 shard copy still correlated with its level-1 source — " +
          "the sign seed must be level-tagged")
      assert(math.abs(na - nb) < 1e-6, "norm not preserved at level 2")
    }
  }

  // ——— level-3 composition (sf100 = ScaleUp(sf10, level = 3) — r8):
  // no third character position can carry a level (conflict pairs
  // need 18 > 26 disjoint image letters), so level 3 is a whole-token
  // codebook bijection. Same pins as level 2, one level deeper. ———

  private lazy val out3: String =
    rung("graft_scaleup3")(ScaleUp.run(spark, out2, _, factor, level = 3))
  private def dst3(t: String) = core.Tables.load(spark, out3, t)

  test("level-3: duplicate structure stays isomorphic through ALL THREE levels") {
    def dups(df: org.apache.spark.sql.DataFrame) =
      df.count() - df.select("text").distinct.count()
    // ×factor³ — a codebook image colliding with the vocab, another
    // replica's image, or another token's image would break this
    assert(dups(dst3("documents")) ===
      dups(src("documents")) * factor * factor * factor,
      "level-3 cross-shard text collisions (or lost intra-shard dups)")
  }

  test("level-3: codebook is a bijection on the real vocab; gates exactly invariant") {
    val stop = Seq("the", "a", "of", "and", "el", "la", "de", "y",
      "der", "die", "das", "und")
    def vocabNs(df: org.apache.spark.sql.DataFrame) = df
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(!col("w").isin(stop: _*)).distinct().count()
    // every level-2 non-stop token gets exactly `factor` distinct
    // images (identity + factor−1 codebook draws, all disjoint)
    assert(vocabNs(dst3("documents")) === vocabNs(dst2("documents")) * factor,
      "level-3 codebook images collide (with vocab, a replica, or each other)")
    // the codebook is length-preserving and stopword-transparent, so
    // the pinned gate features survive the third composition exactly
    assert(dst3("documents").filter(col("n_chars") =!= length(col("text")))
      .count() === 0)
    val srcM = llm.Curation.gopherFlagsOf(dst2("documents"))
      .groupBy("n_words", "mean_word_len", "symbol_ratio", "alpha_frac",
        "n_stopwords", "keep").count()
    val dstM = llm.Curation.gopherFlagsOf(dst3("documents"))
      .groupBy("n_words", "mean_word_len", "symbol_ratio", "alpha_frac",
        "n_stopwords", "keep").count()
      .withColumn("count", (col("count") / factor).cast("long"))
    assert(srcM.exceptAll(dstM).isEmpty && dstM.exceptAll(srcM).isEmpty,
      "gate metric distribution drifted under the level-3 codebook")
  }

  test("level-3: embeddings decorrelate from their level-2 source, norms exact") {
    val nDoc2 = dst2("documents").agg(max("doc_id")).head.getLong(0) + 1
    val v2 = dst2("embeddings").orderBy("vec_id").limit(8)
      .collect().map(r => r.getSeq[Float](1).toArray)
    val v3 = dst3("embeddings")
      .filter(col("vec_id") >= nDoc2 && col("vec_id") < nDoc2 + 8)
      .orderBy("vec_id").collect().map(r => r.getSeq[Float](1).toArray)
    for ((a, b) <- v2.zip(v3)) {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      assert(math.abs(dot / (na * nb)) < 0.7,
        "level-3 shard copy still correlated with its level-2 source — " +
          "the sign seed must be level-tagged")
      assert(math.abs(na - nb) < 1e-6, "norm not preserved at level 3")
    }
  }

  test("cross-shard payload gradients decorrelate: dHash Hamming far past threshold") {
    // r13 verdict #2: the pre-r14 remap was dHash-INVARIANT — it
    // shifted every block's byte mean near-uniformly, preserving the
    // ORDER of adjacent means, so every shard copy of a doc sat within
    // Hamming <= 2 of its source and image/video dedup pairs grew as
    // (shards choose 2)·docs (~86x/decade measured). The case-flip
    // pass must push every cross-shard copy far outside the verify
    // threshold (PHashMaxHamming = 2 on 63 gradient bits; a ~50 %
    // flip rate sits near 31). Deterministic corpus + deterministic
    // flips => this is a fixed number, not a flaky sample.
    def hashes(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      llm.Multimodal.perceptualHash(spark,
        df.filter(length(col("text")) >= llm.Multimodal.PHashMinBytes)
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))
        .collect().map(r => r.doc_id -> r.hash).toMap
    // per level: that level's SOURCE doc vs its own replica-1 image
    // (stride = the source corpus's doc count at that level)
    val levels = Seq(
      (1, src("documents"), dst("documents")),
      (2, dst("documents"), dst2("documents")),
      (3, dst2("documents"), dst3("documents")))
    for ((lvl, prev, next) <- levels) {
      val stride = prev.agg(max("doc_id")).head.getLong(0) + 1
      val h0 = hashes(prev.filter(col("doc_id") < 64))
      assert(h0.nonEmpty, s"level $lvl: no >=128-byte docs below id 64")
      val hImg = hashes(next
        .filter(col("doc_id") >= stride && col("doc_id") < stride + 64)
        .select((col("doc_id") - stride).as("doc_id"), col("text")))
      val hams = h0.toSeq.map { case (id, h) =>
        id -> java.lang.Long.bitCount(h ^ hImg(id)) }
      // hard law: no shard copy inside the verify threshold (that is
      // what made verified pairs quadratic); bulk law: mean Hamming
      // deep in decorrelated territory (case+digit perturbation
      // measures ~24 of 63 — a short doc can dip to ~6 because its
      // space-byte alternation is invariant, but must stay > 2)
      for ((id, ham) <- hams)
        assert(ham > llm.Multimodal.PHashMaxHamming,
          s"level $lvl: doc $id shard copy inside the verify threshold " +
            s"(hamming $ham) — cross-shard dedup pairs would be quadratic")
      val mean = hams.map(_._2).sum.toDouble / hams.size
      assert(mean > 15.0,
        s"level $lvl: mean cross-shard hamming $mean too low — " +
          "the byte-value perturbation is not decorrelating in bulk")
    }
  }

  test("cross-shard text similarity is negligible (no spurious near-dups)") {
    // a doc vs its shard-1 image: shared 3-shingles can only be
    // all-stopword trigrams — Jaccard must sit far below any threshold
    val d0 = src("documents").orderBy("doc_id").limit(16)
      .collect().map(r => r.getString(1))
    val nDoc = src("documents").agg(max("doc_id")).head.getLong(0) + 1
    val d1 = dst("documents")
      .filter(col("doc_id") >= nDoc && col("doc_id") < nDoc + 16)
      .orderBy("doc_id").collect().map(r => r.getString(1))
    def shingles(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    for ((a, b) <- d0.zip(d1)) {
      val (sa, sb) = (shingles(a), shingles(b))
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size.max(1)
      assert(j < 0.1, f"cross-shard Jaccard $j%.3f too high")
    }
  }

  // ——— candidate growth over the ×1, ×3, ×9 and ×27 rungs: the dedup
  // and ANN families' 100 TB claim is that the candidate set, the only
  // input their quadratic-looking verify sees, grows slower than the
  // square of the corpus. Each count calls the stage its keyed query
  // runs, never a re-derivation. The exponent is read over the whole
  // ×27 span: one adjacent pair of rungs moves with the adaptive
  // ladders' power-of-two steps (k-NN's K goes 32 → 128 here). The
  // controls pin the same stages at a fixed depth, the quadratic
  // regime the adaptive ladders replaced, so the bound has to tell the
  // two apart. The token families grow linearly on these rungs by
  // construction (each shard has its own vocabulary), so they are held
  // under the bound with no control. ———

  /** Separates the two groups: the shipped sets measured at most 1.58
    * (k-NN, whose K grows 4× over the span), the fixed-depth controls
    * at least 1.99 (BASELINE.md has every exponent). */
  private val GrowthBound = 1.8

  /** A candidate family: its input row count and candidate count at
    * one rung. */
  private case class Family(name: String, shipped: Boolean,
      counts: String => (Long, Long))

  private def load(dir: String, t: String) = core.Tables.load(spark, dir, t)
  private def docs(dir: String) = llm.Dedup.docs(spark, dir)
  private def planted(dir: String) = llm.Similarity.plantedEmbeddings(load(dir, "embeddings"))
  private def withCount(df: org.apache.spark.sql.DataFrame)(cand: Long => Long) = {
    val n = df.count()
    (n, cand(n))
  }
  private def cellPairs(cells: org.apache.spark.sql.DataFrame): Long =
    cells.groupBy(col("cid")).count()
      .agg(sum(expr("count * (count - 1) / 2")).cast("long")).head().getLong(0)

  private val families = Seq(
    Family("near-dup MinHash band pairs", shipped = true, dir =>
      withCount(docs(dir))(_ => llm.Dedup.bandPairs(llm.Dedup.minhashBands(
        llm.Dedup.shinglesOf(spark, docs(dir)))).count())),
    Family("incremental-dedup candidates", shipped = true, dir =>
      withCount(docs(dir))(_ => llm.Dedup.incrementalCandidates(
        llm.Dedup.minhashBands(llm.Dedup.shinglesOf(spark,
          docs(dir).filter(llm.Dedup.isIncrementalBatch))),
        llm.Dedup.corpusBandIndexFixture(spark, dir)).count())),
    Family("containment positional prefix candidates", shipped = true, dir => {
      val cc = llm.Dedup.containmentCorpus(spark, dir)
      withCount(cc)(_ => llm.Dedup.prefixCandidates(
        llm.Dedup.fingerprinted(llm.Dedup.shinglesOf(spark, cc)).lineageCut(), 9, 10)
        .distinct().count())
    }),
    Family("cosine SRP band pairs at srpBitsFor(n)", shipped = true, dir =>
      withCount(planted(dir))(n =>
        llm.Similarity.cosineDedupCandidates(planted(dir), n).count())),
    Family("cosine SRP band pairs at fixed DedupBandBits", shipped = false, dir =>
      withCount(planted(dir))(_ => llm.Similarity.cosineBandCandidates(planted(dir),
        llm.Similarity.DedupBandBits, llm.Similarity.DedupBands).count())),
    Family("semdedup cell pairs at the corpus count", shipped = true, dir =>
      withCount(planted(dir))(_ => cellPairs(llm.Similarity.semCells(spark, dir)))),
    Family("semdedup cell pairs at a fixed count of 50", shipped = false, dir =>
      withCount(planted(dir))(_ => cellPairs(planted(dir).withColumn("cid",
        expr(llm.Similarity.semCidSql(i => s"element_at(embedding, $i)", "50")))))),
    Family("k-NN join candidates at knnKFor(n)", shipped = true, dir =>
      withCount(load(dir, "embeddings"))(_ =>
        llm.Similarity.knnJoinCandidates(spark, dir).count())),
    Family("k-NN join candidates at K = 16", shipped = false, dir =>
      withCount(load(dir, "embeddings"))(_ => llm.Similarity.knnJoinCandidatesAt(
        spark, dir, llm.Similarity.KnnProbes, 16).count())),
    Family("image band pairs", shipped = true, dir => {
      val h = llm.Multimodal.imageHashes(spark, dir)
      withCount(h)(_ => llm.Multimodal.imageCandidatesFrom(h).count())
    }),
    Family("video aligned band pairs", shipped = true, dir => {
      val h = llm.Multimodal.videoFrameHashes(spark, dir)
      withCount(h)(_ => llm.Multimodal.videoCandidatesFrom(h).count())
    }),
    Family("link-prediction wedge pairs", shipped = true, dir => {
      val (_, edges) = ops.Graph.coOrderEdges(spark, dir)
      withCount(edges)(_ => ops.Graph.wedgePairs(edges).count())
    }))

  for (f <- families) {
    val side = if (f.shipped) "under" else "over"
    test(s"candidate growth over x27: ${f.name} grows $side the bound") {
      val (n1, c1) = f.counts(TestSpark.Sf)
      val (n27, c27) = f.counts(out3)
      assert(n27 > 20 * n1 && c1 > 0, s"${f.name}: input $n1 -> $n27, candidates $c1")
      val exp = math.log(c27.toDouble / c1) / math.log(n27.toDouble / n1)
      info(f"${f.name}: input $n1 -> $n27, candidates $c1 -> $c27, exponent $exp%.3f")
      if (f.shipped) assert(exp < GrowthBound, f"${f.name}: exponent $exp%.3f")
      else assert(exp > GrowthBound, f"${f.name}: exponent $exp%.3f")
    }
  }
}
