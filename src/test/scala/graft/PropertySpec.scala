package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Generative property suites (SURVEY.md §5.2(3)): the laws fixed
  * fixtures can't probe — SCD2 interval tiling under arbitrary batch
  * sequences, the duplicate-business-key guard, incremental ≡ full
  * equivalence, connected components vs a brute transitive closure,
  * and the sessionization gap law — each on scalacheck-generated
  * inputs with adversarial shapes (re-delivered batches, departed
  * keys, equal timestamps, disconnected graphs).
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  /** Run a Prop under a small deterministic budget; Spark jobs per case
    * make 100-case defaults needlessly slow — 12 adversarial cases per
    * law is where these generators stop finding new shapes. */
  private def check(name: String, p: Prop, cases: Int = 12): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(cases)
        .withInitialSeed(org.scalacheck.rng.Seed(42L))
        .withWorkers(1),
      p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private def ts(day: Int): String = f"2020-01-${day + 1}%02d 00:00:00"

  // ---------------------------------------------------------------- SCD2

  /** A batch sequence: each batch maps a business key to an attribute
    * value; later batches may restate, change, or drop keys. */
  private val genBatches: Gen[List[Map[String, Int]]] = {
    val keys = Gen.oneOf("a", "b", "c", "d", "e")
    val batch = Gen.mapOf(Gen.zip(keys, Gen.choose(0, 3)))
      .suchThat(_.nonEmpty)
    Gen.nonEmptyListOf(batch).map(_.take(4))
  }

  private def batchDf(b: Map[String, Int]): DataFrame =
    b.toSeq.toDF("k", "v")

  test("property: SCD2 intervals tile and exactly one version is current") {
    check("scd2-tiling", Prop.forAllNoShrink(genBatches) { batches =>
      var dim = etl.Scd.initialLoad(batchDf(batches.head), ts(0))
      batches.zipWithIndex.tail.foreach { case (b, i) =>
        dim = etl.Scd.scd2Merge(dim, batchDf(b), Seq("k"), Seq("v"), ts(i))
          .localCheckpoint() // truncate the per-batch join lineage
      }
      val rows = dim.collect().map(r => (r.getString(0), r.getInt(1),
        r.getTimestamp(2), r.getTimestamp(3), r.getBoolean(4)))
      val high = Timestamp.valueOf(etl.Scd.HighDate)
      rows.groupBy(_._1).forall { case (k, versions) =>
        val sorted = versions.sortBy(_._3.getTime).toList
        val oneCurrent = versions.count(_._5) == 1
        val openIsCurrent = versions.forall(v => v._5 == (v._4 == high))
        // tiling: each closed version ends exactly where the next starts
        val tiled = sorted.sliding(2).forall {
          case Seq(a, b) => a._4 == b._3
          case _ => true
        }
        // the current value is the last staged value for this key
        val lastStaged = batches.zipWithIndex.reverse
          .collectFirst { case (b, i) if b.contains(k) => b(k) }
        val currentV = versions.find(_._5).map(_._2)
        oneCurrent && openIsCurrent && tiled && currentV == lastStaged
      } && {
        // every staged key surfaced in the dimension
        val staged = batches.flatMap(_.keys).toSet
        rows.map(_._1).toSet == staged
      }
    })
  }

  test("property: duplicate business keys in one staged batch always fail loudly") {
    val genDup = for {
      k <- Gen.oneOf("a", "b", "c")
      v1 <- Gen.choose(0, 9)
      v2 <- Gen.choose(0, 9)
      extra <- Gen.mapOf(Gen.zip(Gen.oneOf("x", "y"), Gen.choose(0, 9)))
    } yield (k, v1, v2, extra)
    check("scd2-dup-guard", Prop.forAllNoShrink(genDup) { case (k, v1, v2, extra) =>
      val dim = etl.Scd.initialLoad(Seq(("z", 0)).toDF("k", "v"), ts(0))
      val staged = ((k, v1) +: (k, v2) +: extra.toSeq).toDF("k", "v")
      try {
        etl.Scd.scd2Merge(dim, staged, Seq("k"), Seq("v"), ts(1)).collect()
        false // a silently-merged duplicate key corrupts the dimension
      } catch {
        case e: Throwable =>
          Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
            .exists(t => Option(t.getMessage)
              .exists(_.contains("duplicate business key")))
      }
    }, cases = 6)
  }

  // ------------------------------------------------- incremental ≡ full

  test("property: high-water-mark incremental merge equals the full extract") {
    // keys are unique per extract (the delta contract); dates straddle
    // the cutover arbitrarily, including empty-delta and all-delta-but-
    // one shapes. Row 0 anchors the target — HWM load presumes an
    // initialized target (an empty target has no watermark to advance).
    val genOrders = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0, 19), Gen.choose(0.0, 9.0))).map { rows =>
      (0, 1.0) +: rows.take(12)
    }
    check("incremental-equals-full", Prop.forAllNoShrink(genOrders) { rows =>
      val orders = rows.zipWithIndex
        .map { case ((day, v), i) =>
          (i.toLong, Timestamp.valueOf(ts(day)), v) }
        .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      val mergedDf = etl.Etl.incrementalMerge(orders, ts(10)).localCheckpoint()
      val merged = mergedDf
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      val full = orders
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      // re-running the load over the already-merged state is a no-op
      val again = etl.Etl.incrementalMerge(mergedDf, ts(10))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
      merged.sorted.toSeq == full.sorted.toSeq &&
        again.sorted.toSeq == merged.sorted.toSeq
    })
  }

  // ------------------------------------------- components vs closure

  test("property: min-label components equal brute transitive closure") {
    val genEdges = Gen.listOf(
      Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L))
        .suchThat { case (a, b) => a != b }).map(_.take(15))
    check("components-vs-closure", Prop.forAllNoShrink(genEdges) { edges =>
      val pairs = edges
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .toDF("doc_a", "doc_b")
      val got = llm.Dedup.components(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // brute union-find over the same edges
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val want = verts.map { v =>
        // canonical label = min vertex id in the component
        val root = find(v)
        v -> verts.filter(find(_) == root).min
      }.toMap
      got == want
    })
  }

  // --------------------------------------------- minhash LSH vs brute

  test("property: MinHash-LSH near-dedup equals brute Jaccard on generated corpora") {
    // an 8-word vocabulary makes shingles HOT (many docs share every
    // 3-gram — the boilerplate regime that stresses the banded join)
    // and near-dups common; planted exact copies + a one-token edit of
    // doc 0 guarantee pairs above the 0.8 threshold in every case
    val vocab = Vector("the", "data", "spark", "shuffle", "join",
      "scan", "agg", "sort")
    val genDocs = for {
      texts <- Gen.nonEmptyListOf(
        Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(25).mkString(" ")))
      copyOf <- Gen.choose(0, math.max(0, texts.size - 1))
    } yield {
      val base = texts.take(15).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val copied = (100L, base(copyOf % base.size)._2) // exact dup
      val edited = (101L, base.head._2 + " extra")     // near dup of doc 0
      base :+ copied :+ edited
    }
    check("minhash-lsh-vs-brute", Prop.forAllNoShrink(genDocs) { rows =>
      val d = rows.toDF("doc_id", "text")
      val lsh = llm.Dedup.nearDedupPairs(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      val brute = llm.Dedup.bruteJaccardPairs(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      brute.nonEmpty && lsh == brute
    }, cases = 8)
  }

  // ---------------------------------------- containment prefix filter

  test("property: containment prefix filter equals full self-join on generated corpora") {
    // tiny vocabulary ⇒ hot shingles with DEGENERATE df ordering (many
    // ties) — the adversarial regime for prefix selection; a planted
    // prefix-half derivative of doc 0 guarantees a true sub-doc pair
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val genDocs = Gen.nonEmptyListOf(
      Gen.nonEmptyListOf(Gen.oneOf(vocab)).map(_.take(20))).map { ls =>
      val base = ls.take(10).zipWithIndex.map { case (t, i) =>
        (i.toLong, t.mkString(" "))
      }
      val srcToks = ls.head.take(20)
      val half = (200L, srcToks.take((srcToks.size + 1) / 2).mkString(" "))
      base :+ half
    }
    check("containment-prefix-vs-full", Prop.forAllNoShrink(genDocs) { rows =>
      val d = rows.toDF("doc_id", "text")
      def pairs(p: Boolean) = llm.Dedup.containmentPairs(spark, d, p)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getDouble(3))).toSet
      val filtered = pairs(true)
      // the planted prefix-half doc is contained in its source at 1.0
      filtered == pairs(false) &&
        filtered.exists(p => p._1 == 0L && p._2 == 200L && p._4 == 1.0)
    }, cases = 8)
  }

  test("property: containment prefix filter is exact at a second n/t setting (k=5, t=3/5)") {
    // same law, different constants: 5-gram shingles and threshold 3/5
    // — proves the prefix-length arithmetic n − ⌈t·n⌉ + 1 and the
    // recall theorem generalize beyond the tuned production t=0.9.
    // Docs are longer (≥ 5 tokens to shingle) but vocabulary stays
    // tiny for degenerate df ties.
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val genDocs = Gen.nonEmptyListOf(
      Gen.listOfN(24, Gen.oneOf(vocab))).map { ls =>
      val base = ls.take(8).zipWithIndex.map { case (t, i) =>
        (i.toLong, t.mkString(" "))
      }
      // a 60%-prefix derivative of doc 0: containment in source = 1.0
      val srcToks = ls.head
      val part = (300L, srcToks.take(15).mkString(" "))
      base :+ part
    }
    check("containment-prefix-vs-full-k5-t35", Prop.forAllNoShrink(genDocs) { rows =>
      val d = rows.toDF("doc_id", "text")
      def pairs(p: Boolean) =
        llm.Dedup.containmentPairs(spark, d, p, thrNum = 3, thrDen = 5,
          shingleK = 5)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            r.getDouble(2), r.getDouble(3))).toSet
      pairs(true) == pairs(false)
    }, cases = 6)
  }

  // ------------------------------------ null-safe count factorization

  test("property: null-safe pair count factorizes through the join") {
    // the algebra behind the r7 join_nullsafe fix: COUNT(*) grouped by
    // the join key equals count_left(k) × count_right(k), so the
    // aggregate moves BELOW the join. The plan law (PlanSpec) pins the
    // shape; this pins the semantics — against join-then-count on
    // generated sides including NULL keys (which `<=>` must match),
    // one-sided keys (inner join drops them on both spellings), and
    // empty sides.
    val genKeys = Gen.listOf(Gen.option(Gen.choose(0, 4)))
    check("nullsafe-count-factorization",
      Prop.forAllNoShrink(Gen.zip(genKeys, genKeys)) { case (ka, kb) =>
        val a = ka.toDF("ck")
        val b = kb.toDF("sk")
        def toMap(rows: Array[org.apache.spark.sql.Row]) =
          rows.map(r => (Option(r.get(0)), r.getLong(1))).toMap
        val fact = toMap(
          ops.Relational.nullsafePairCounts(a, "ck", b, "sk").collect())
        val naive = toMap(
          a.join(b, col("ck") <=> col("sk"))
            .groupBy(col("ck")).agg(count(lit(1)).as("n")).collect())
        fact == naive
      }, cases = 10)
  }

  // ------------------------------------------- misra-gries laws

  test("property: misra-gries bounds and heavy-key coverage hold under any split") {
    import graft.functions.Udafs
    val mg = new Udafs.MisraGries(8) // small k → constant churn
    // heavy keys (small alphabet) mixed with a long unique tail, split
    // at an arbitrary cut and merged — the law must hold for ANY merge
    // tree (Spark's merge order is scheduling-dependent)
    val genStream = for {
      keys <- Gen.nonEmptyListOf(Gen.oneOf(
        Gen.oneOf("h1", "h2", "h3"),
        Gen.choose(0, 1000000).map("u" + _))).map(_.take(300))
      cut <- Gen.choose(0, 300)
    } yield (keys, cut)
    check("misra-gries-laws", Prop.forAllNoShrink(genStream) { case (keys, cut0) =>
      val cut = math.min(cut0, keys.size)
      val (k1, k2) = keys.splitAt(cut)
      val merged = mg.merge(
        k1.foldLeft(mg.zero)(mg.reduce),
        k2.foldLeft(mg.zero)(mg.reduce))
      val n = keys.size.toLong
      val bound = n / 9 // ⌊N/(k+1)⌋
      val trueN = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      merged.size <= 8 &&
        merged.forall { case (key, est) =>
          est <= trueN(key) && est >= trueN(key) - bound
        } &&
        trueN.forall { case (key, tn) =>
          tn <= bound || merged.contains(key)
        }
    }, cases = 20)
  }

  // -------------------------------------------------- count-min laws

  test("property: count-min never undercounts and merges exactly, any split") {
    import graft.functions.Udafs.{CountMin, CountMinSketch}
    val genStream = for {
      keys <- Gen.nonEmptyListOf(Gen.oneOf(
        Gen.choose(0L, 5L),          // heavy keys
        Gen.choose(1000L, 1000000L)) // long-tail keys
      ).map(_.take(400))
      cut <- Gen.choose(0, 400)
    } yield (keys, cut)
    check("count-min-laws", Prop.forAllNoShrink(genStream) { case (keys, cut0) =>
      val cut = math.min(cut0, keys.size)
      val (k1, k2) = keys.splitAt(cut)
      val merged = CountMinSketch.merge(
        k1.foldLeft(CountMinSketch.zero)(CountMinSketch.reduce),
        k2.foldLeft(CountMinSketch.zero)(CountMinSketch.reduce))
      val whole = keys.foldLeft(CountMinSketch.zero)(CountMinSketch.reduce)
      val est = merged.toSeq
      merged.sameElements(whole) &&
        keys.groupBy(identity).forall { case (k, ks) =>
          CountMin.estimate(est, k) >= ks.size
        }
    }, cases = 20)
  }

  // ----------------------------------------------------- funnel laws

  // ------------------------------------------------------ bottom-k sample

  /** The mergeability claim behind `sample_bottomk` (SURVEY §2.6):
    * bottom-k of a union equals bottom-k of the merged per-partition
    * bottom-ks, under the same seeded md5 rank the operator uses. This
    * is what makes the sample computable with a k-row heap per
    * partition and a k-row merge — no global sort — and it must hold
    * for EVERY partitioning, so the law quantifies over the split. */
  test("property: bottom-k of union == bottom-k of merged partition bottom-ks") {
    def rank(key: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s"g6$key".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def bottomK(keys: Seq[Long], k: Int): Seq[(String, Long)] =
      keys.map(x => (rank(x), x)).sorted.take(k)
    val genKeys = for {
      n    <- Gen.choose(1, 200)
      keys <- Gen.listOfN(n, Gen.choose(0L, 100000L)).map(_.distinct)
      cut  <- Gen.choose(0, keys.size)
    } yield (keys, cut)
    check("bottomk-merge", Prop.forAllNoShrink(genKeys) { case (keys, cut) =>
      val k = 10
      val (a, b) = keys.splitAt(cut)
      val direct = bottomK(keys, k)
      val merged = bottomK((bottomK(a, k) ++ bottomK(b, k)).map(_._2), k)
      direct == merged
    }, cases = 30)
  }

  test("property: null-safe join = equi join + NULL×NULL block, on generated sides") {
    // the semantic decomposition joinNullsafe relies on: <=> matches
    // exactly what = matches PLUS the all-pairs block of null keys —
    // nothing more (no null-vs-value match), nothing less
    val side = Gen.listOf(Gen.frequency(
      3 -> Gen.choose(0, 4).map(Option(_)),
      1 -> Gen.const(Option.empty[Int]))).map(_.take(12))
    check("nullsafe-decomposition", Prop.forAllNoShrink(Gen.zip(side, side)) {
      case (ls, rs) =>
        val l = ls.toDF("lk")
        val r = rs.toDF("rk")
        val ns = l.join(r, col("lk") <=> col("rk")).count()
        val eq = l.join(r, col("lk") === col("rk")).count()
        val nullBlock = ls.count(_.isEmpty).toLong * rs.count(_.isEmpty)
        ns == eq + nullBlock
    }, cases = 12)
  }

  test("property: funnel stages match the sequential reference on generated histories") {
    val DaySec = 86400L
    // per-user event streams mixing types, boundary-exact gaps (the
    // ≤ 1-day edge), pre-signup purchases, and absent stages
    val genUsers = Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("signup", "view", "purchase", "click"),
      Gen.oneOf(Gen.choose(0L, 2 * DaySec), Gen.const(DaySec),
        Gen.const(DaySec + 1))))).map(_.take(4))
    check("funnel-reference", Prop.forAllNoShrink(genUsers) { users =>
      val base = Timestamp.valueOf(ts(0)).getTime
      val rows = users.zipWithIndex.flatMap { case (evs, u) =>
        evs.take(15).map { case (typ, off) =>
          (u.toLong, new Timestamp(base + off * 1000), typ)
        }
      }
      val got = ops.Windows.funnelOf(rows.toDF("user_id", "ts", "event_type"))
        .collect().map(r => (r.getLong(0),
          Option(r.get(1)).map(_.asInstanceOf[Long]),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          r.getInt(4))).toSeq.sortBy(_._1)
      // sequential in-memory reference
      val want = users.zipWithIndex.flatMap { case (evs, u) =>
        val e = evs.take(15).map { case (typ, off) => (typ, (base / 1000 + off) * 1000000L) }
        def first(typ: String, after: Long, within: Long): Option[Long] =
          e.filter { case (t, us) => t == typ && us > after && us <= within }
            .map(_._2).sorted.headOption
        e.filter(_._1 == "signup").map(_._2).sorted.headOption.map { t0 =>
          val t1 = first("view", t0, t0 + DaySec * 1000000L)
          val t2 = t1.flatMap(v => first("purchase", v, v + DaySec * 1000000L))
          (u.toLong, Some(t0), t1, t2, 1 + t1.size + t2.size)
        }
      }.sortBy(_._1)
      got == want
    }, cases = 10)
  }

  // ------------------------------------------------- sessionize gap law

  test("property: sessions break exactly at gaps >= the threshold") {
    val gapSec = 900L
    // per-user gap sequences: dense bursts, exact-threshold gaps (the
    // >= boundary), equal timestamps, and long silences
    val genUsers = Gen.nonEmptyListOf(Gen.nonEmptyListOf(
      Gen.oneOf(Gen.choose(0L, 100L), Gen.const(900L), Gen.const(899L),
        Gen.const(0L), Gen.choose(901L, 4000L)))).map(_.take(3))
    check("sessionize-gap-law", Prop.forAllNoShrink(genUsers) { users =>
      val base = Timestamp.valueOf(ts(0)).getTime
      val rows = users.zipWithIndex.flatMap { case (gaps, u) =>
        gaps.take(20).scanLeft(0L)(_ + _).zipWithIndex.map { case (off, i) =>
          (u.toLong, (u * 100 + i).toLong, new Timestamp(base + off * 1000), 1.0)
        }
      }
      val out = ops.Windows
        .sessionized(rows.toDF("user_id", "event_id", "ts", "value"), gapSec)
        .select("user_id", "event_id", "ts", "session_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getLong(3)))
      out.groupBy(_._1).forall { case (_, evs) =>
        val ordered = evs.sortBy(e => (e._3.getTime, e._2)).toList
        ordered.head._4 == 1L &&
          ordered.sliding(2).forall {
            case Seq(a, b) =>
              val gap = (b._3.getTime - a._3.getTime) / 1000
              if (gap >= gapSec) b._4 == a._4 + 1 else b._4 == a._4
            case _ => true
          }
      }
    })
  }

  test("property: as-of family matches a sequential reference on generated streams") {
    // adversarial shapes: equal timestamps (view == purchase instant),
    // purchases before any view, exactly-tolerance gaps, view-less and
    // purchase-less users
    val evGen: Gen[List[(Int, Long, String)]] =
      Gen.nonEmptyListOf(Gen.zip(
        Gen.choose(0, 2),
        Gen.oneOf(Gen.choose(0L, 7200L), Gen.const(1800L), Gen.const(0L)),
        Gen.oneOf("view", "purchase"))).map(_.take(30))
    check("asof-family", Prop.forAllNoShrink(evGen) { raw =>
      val base = Timestamp.valueOf(ts(0)).getTime
      // cumulative offsets per user so streams are ordered but gappy
      val rows = raw.groupBy(_._1).toList.flatMap { case (u, evs) =>
        evs.map(_._2).scanLeft(0L)(_ + _).zip(evs).zipWithIndex.map {
          case ((off, (_, _, typ)), i) =>
            (u.toLong, (u * 1000 + i).toLong,
              new Timestamp(base + off * 1000), typ, 0.0)
        }
      }
      val df = rows.toDF("user_id", "event_id", "ts", "event_type", "value")
      def usOf(t: Timestamp) = t.getTime * 1000L
      val views = rows.filter(_._4 == "view").groupBy(_._1)
        .view.mapValues(_.map(r => usOf(r._3)).sorted).toMap
      def ref(u: Long, p: Long) = {
        val vs = views.getOrElse(u, Nil)
        val b = vs.filter(_ <= p).lastOption
        val f = vs.find(_ >= p)
        val n = (b, f) match {
          case (Some(x), Some(y)) => Some(if (p - x <= y - p) x else y)
          case (x, y) => x.orElse(y)
        }
        val tol = b.filter(p - _ <= ops.Relational.AsofTolUs)
        (b, f, n, tol)
      }
      def got(dfOut: org.apache.spark.sql.DataFrame, valueCol: Int) =
        dfOut.collect().map { r =>
          (r.getLong(0), r.getLong(1), r.getLong(2),
            if (r.isNullAt(valueCol)) None else Some(r.getLong(valueCol)))
        }
      val b = got(ops.Relational.asofBackwardFrom(df), 3)
      val f = got(ops.Relational.asofForwardFrom(df), 3)
      val n = got(ops.Relational.asofNearestFrom(df), 3)
      val tl = ops.Relational.asofToleranceFrom(df).collect().map { r =>
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      }
      b.forall { case (_, u, p, v) => v == ref(u, p)._1 } &&
        f.forall { case (_, u, p, v) => v == ref(u, p)._2 } &&
        n.forall { case (_, u, p, v) => v == ref(u, p)._3 } &&
        tl.forall { case (u, p, v) => v == ref(u, p)._4 }
    })
  }

  test("property: pagerank conserves scaled mass on arbitrary undirected graphs") {
    // adversarial shapes: multiple components, stars (max skew),
    // near-cliques, chains — anything symmetric and self-loop-free
    val genEdges: Gen[List[(Long, Long)]] =
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
        .map(_.filter(e => e._1 != e._2).take(25))
        .suchThat(_.nonEmpty)
    check("pagerank-mass", Prop.forAllNoShrink(genEdges) { edges =>
      val sym = edges.flatMap(e => Seq(e, e.swap)).distinct
      val e = sym.toDF("src", "dst")
      val ranks = ops.Graph.pageRankIterations(e, 8).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val n = sym.map(_._1).distinct.size
      val base = (ops.Graph.Scale * 15L / 100L) / n
      val total = ranks.values.sum
      // node set preserved, every rank ≥ damped floor, floors only lose
      ranks.size == n && ranks.values.forall(_ >= base) &&
        total <= ops.Graph.Scale && total > (ops.Graph.Scale * 98L) / 100L
    })
  }

  test("property: pagerank ranks equal the count-then-cut-every-round reference") {
    check("pagerank-reference", PageRankReference.agrees(spark))
  }

  test("property: gap-fill spine is exactly the span; fill replays last observation") {
    // per-user sparse day sets with duplicates-free days and arbitrary
    // holes (incl. single-day users and month-spanning gaps)
    val genSeries: Gen[List[(Int, List[Int])]] =
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 2),
        Gen.nonEmptyListOf(Gen.choose(0, 60)).map(_.distinct.take(8))))
        .map(_.take(3))
    check("gapfill-law", Prop.forAllNoShrink(genSeries) { series =>
      val rows = series.zipWithIndex.flatMap { case ((_, days), u) =>
        days.map(d => (u.toLong, java.sql.Date.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays(d)), (d * 10 + u).toDouble))
      }
      val out = ops.Windows.gapfillDaily(rows.toDF("user_id", "day", "day_value"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getBoolean(3)))
      val byUser = rows.groupBy(_._1)
      out.groupBy(_._1).forall { case (u, outRows) =>
        val have = byUser(u).map(r => r._2.toString -> r._3).toMap
        val days = byUser(u).map(_._2.toString)
        val span = java.time.temporal.ChronoUnit.DAYS.between(
          java.time.LocalDate.parse(days.min),
          java.time.LocalDate.parse(days.max)) + 1
        val sorted = outRows.sortBy(_._2).toList
        // spine = exact calendar span; observed rows keep their value;
        // gap rows replay the latest earlier observation
        sorted.size.toLong == span && sorted.forall { case (_, d, v, gap) =>
          if (!gap) have(d) == v
          else have.filter(_._1 < d).maxBy(_._1)._2 == v
        }
      }
    })
  }

  // ------------------------------------------------- adaptive SRP depth

  test("property: srpBitsFor keeps band-bucket occupancy constant at any corpus size") {
    // The scale contract behind the r7 cosine-LSH fix: fixed-depth SRP
    // banding is O(n²) in disguise (random pairs collide at a constant
    // per-band rate), so band depth must grow with log₂(n). The law:
    // expected occupancy n / 2^bits stays within a constant window —
    // [target/2, target] once past the 8-bit floor — for ANY corpus
    // size, the invariant that makes random-collision candidate mass
    // O(n) instead of O(n²). Pure function, so the law covers the full
    // long range no fixture ever could.
    import graft.llm.Similarity.{srpBitsFor, SrpTargetBucket, DedupBandBits}
    check("srp-bits-occupancy", Prop.forAllNoShrink(
      Gen.choose(1L, 1L << 50)) { n =>
      val bits = srpBitsFor(n)
      val buckets = math.pow(2.0, bits)
      val occ = n / buckets
      val floorRegime = n <= (SrpTargetBucket.toLong << DedupBandBits)
      bits >= DedupBandBits &&
        bits <= 62 &&
        (floorRegime || (occ > SrpTargetBucket / 2.0 && occ <= SrpTargetBucket)) &&
        srpBitsFor(n + 1) >= bits // monotone: more docs never shallower bands
    }, cases = 200)
  }

  test("property: semdedup cell occupancy stays constant at any corpus size") {
    // Same law, second partitioner: semdedup's sign-plane depth ladder
    // (the r7 fix for the fixed-16-cell quadratic). Expected cell size
    // n / 2^bits ∈ (target/2·…, target] between the 4-plane floor and
    // the 16-plane ceiling, monotone in n. The ladder the oracle
    // replays is a SQL string, so a one-job boundary sweep below pins
    // string ≡ twin at every threshold edge (the only places the CASE
    // can be off by one).
    import graft.llm.Similarity.{semDivisorFor, SemTargetCell, SemMaxPlanes}
    def bitsOf(n: Long): Int =
      SemMaxPlanes - java.lang.Long.numberOfTrailingZeros(semDivisorFor(n))
    check("sem-cell-occupancy", Prop.forAllNoShrink(
      Gen.choose(1L, 1L << 50)) { n =>
      val bits = bitsOf(n)
      val occ = n / math.pow(2.0, bits)
      val floorRegime = n <= (SemTargetCell << 4)
      val ceilRegime = n > (SemTargetCell << (SemMaxPlanes - 1))
      bits >= 4 && bits <= SemMaxPlanes &&
        (floorRegime || ceilRegime ||
          (occ > SemTargetCell / 2.0 && occ <= SemTargetCell)) &&
        bitsOf(n + 1) >= bits // monotone: more vectors never fewer cells
    }, cases = 200)

    // boundary sweep: evaluate the SQL ladder in Spark at every
    // threshold ±1 (and the extremes) in ONE job; must equal the twin
    val edges = (4 until SemMaxPlanes).map(b => SemTargetCell << b)
    val ns = (Seq(1L, Long.MaxValue) ++ edges.flatMap(t => Seq(t - 1, t, t + 1))).distinct
    val got = ns.toDF("n")
      .selectExpr("n",
        "CAST(" + graft.llm.Similarity.semDivisorSql("n") + " AS BIGINT) AS d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ns.foreach { n =>
      assert(got(n) == semDivisorFor(n),
        s"SQL ladder diverges from the Scala twin at n=$n")
    }
  }

  test("property: hop-capped BFS equals brute shortest hops, truncation included") {
    // adversarial shapes: chains longer than the cap (truncation must
    // bite), multi-component graphs with seedless components (absent
    // from output), seeds in dense cores vs leaves
    val genCase: Gen[(List[(Long, Long)], List[Long])] = for {
      raw <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)))
      chain = (0L to 9L).sliding(2).map(p => (p(0) + 20L, p(1) + 20L)).toList
      seeds <- Gen.someOf(0L, 3L, 7L, 20L).map(_.toList)
    } yield (raw.filter(e => e._1 != e._2).take(20) ++ chain, seeds)
    check("bfs-law", Prop.forAllNoShrink(genCase) { case (edges, seedIds) =>
      val sym = edges.flatMap(e => Seq(e, e.swap)).distinct
      val nodes = sym.map(_._1).distinct
      val seeds = seedIds.filter(nodes.contains)
      val cap = 3 // below the 10-chain's diameter so truncation is real
      // brute reference: multi-source BFS over the adjacency map
      val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var dist = seeds.map(_ -> 0).toMap
      var frontier = seeds.toSet
      for (d <- 1 to cap) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil))
          .filterNot(dist.contains)
        dist = dist ++ frontier.map(_ -> d)
      }
      val got = ops.Graph.bfsIterations(
          sym.toDF("src", "dst"), seeds.toDF("v"), cap)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      got == dist
    })
  }

  test("property: weighted-sample ticket is the exact replica-min; heavy keys win more") {
    // the ticket law: array_min(transform(sequence)) must equal a
    // sequential Scala fold over the same seeded md5 draws — and across
    // many (key, w) draws, weight-w keys must win the bottom-k lottery
    // roughly ∝ w (the priority-sampling property the operator claims)
    val genRows: Gen[List[(Long, Long)]] =
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 5000L), Gen.choose(1L, 50L)))
        .map(_.distinctBy(_._1).take(60)).suchThat(_.nonEmpty)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def refTicket(key: Long, w: Long): String =
      (1L to w).map(i => md5hex(s"ws$key:$i")).min
    graft.functions.MinTicket.register(spark)
    check("weighted-ticket", Prop.forAllNoShrink(genRows) { rows =>
      val got = rows.toDF("key", "w")
        .selectExpr("key", "w",
          "array_min(transform(sequence(1L, w), i -> md5(concat('ws', CAST(key AS STRING), ':', CAST(i AS STRING))))) AS ticket",
          // the codegen'd production spelling must draw the SAME min
          "min_ticket(CAST(key AS STRING), w) AS ticket2")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getString(3)))
        .toMap
      rows.forall { case (k, w) =>
        got((k, w))._1 == refTicket(k, w) && got((k, w))._2 == refTicket(k, w)
      }
    })
    // frequency flavor on the real operator: the weighted sample's mean
    // weight must exceed the corpus mean (heavy rows overrepresented) —
    // deterministic given the fixed hash family and corpus
    val sel = ops.Relational.sampleWeighted(spark, TestSpark.Sf)
      .agg(avg(col("w"))).head().getDouble(0)
    val corpus = graft.core.Tables.load(spark, TestSpark.Sf, "lineitem")
      .agg(avg(col("l_quantity"))).head().getDouble(0)
    assert(sel > corpus,
      s"weighted sample mean weight $sel not above corpus mean $corpus")
  }

  test("blocked self-join cap law: selfPairs == naive on arbitrary bucket shapes x caps") {
    // the ONE shared bounded-self-join definition (core.Blocked) now
    // carries both the dedup band join and the wedge join — so the
    // exactness law gets a generative proof, not just two fixtures:
    // for ANY multiset of (bucket, id) rows (ids unique per bucket)
    // and ANY cap >= 1, the block decomposition must produce exactly
    // the naive intra-bucket ordered pairs. Adversarial shapes the
    // fixtures can't reach: cap=1 (every row its own block), buckets
    // exactly at/one-over the cap, many singleton buckets.
    val genCase = for {
      cap <- Gen.oneOf(1, 2, 3, 5, 8)
      nBuckets <- Gen.choose(1, 4)
      sizes <- Gen.listOfN(nBuckets, Gen.choose(0, 12))
    } yield (cap, sizes)
    check("blocked-cap-law", Prop.forAllNoShrink(genCase) { case (cap, sizes) =>
      val rows = sizes.zipWithIndex.flatMap { case (sz, b) =>
        (0 until sz).map(i => (b.toLong, (i * 7 % 13).toLong * 100 + i)) // non-monotonic ids
      }
      if (rows.isEmpty) true
      else {
        val df = rows.toDF("k", "id")
        val naive = df.as("x").join(df.as("y"),
            col("x.k") === col("y.k") && col("x.id") < col("y.id"))
          .select(col("x.k"), col("x.id"), col("y.id")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        val capped = core.Blocked.selfPairs(df, Seq("k"), "id", cap, "a", "b")
          .select(col("k"), col("a"), col("b")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
        capped == naive
      }
    }, cases = 10)
  }
}

/** `Graph.pageRankIterations` as it was spelled before its node count
  * became an observation of the edge-list cut: n from `deg.count()`,
  * and a lineage cut after every second round and after the last. The
  * rank arithmetic is copied unchanged, so any difference in output
  * comes from how n is obtained or where the rounds are cut. Shared by
  * PropertySpec (default lineage mode) and LineageSpec (reliable). */
private[graft] object PageRankReference {
  import graft.core.Lineage.LineageCutOps
  import ops.Graph.Scale

  def ranks(e: DataFrame, iters: Int): DataFrame = {
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val n = deg.count()
    val base = (Scale * 15L / 100L) / n
    val ed = e.join(deg, "src").lineageCut()
    var r = deg.select(col("src").as("v"), lit(Scale / n).as("r"))
    for (i <- 1 to iters) {
      r = ed.join(r, ed("src") === r("v"))
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"))
        .select(col("dst").as("v"),
          (lit(base) + expr("(85 * sc) div 100")).as("r"))
      if (i % 2 == 0 || i == iters) r = r.lineageCut()
    }
    r
  }

  /** Symmetric, self-loop-free edge lists over up to 12 nodes (stars,
    * chains, several components), with 1–8 rounds so odd round counts
    * (where the last round used to get its own cut) are covered. */
  val genCase: Gen[(List[(Long, Long)], Int)] = Gen.zip(
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)))
      .map(_.filter(e => e._1 != e._2).take(30))
      .suchThat(_.nonEmpty)
      .map(es => es.flatMap(e => Seq(e, e.swap)).distinct),
    Gen.choose(1, 8))

  def agrees(spark: org.apache.spark.sql.SparkSession): Prop =
    Prop.forAllNoShrink(genCase) { case (edges, iters) =>
      import spark.implicits._
      def rows(df: DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
      val e = edges.toDF("src", "dst")
      rows(ops.Graph.pageRankIterations(e, iters)) == rows(ranks(e, iters))
    }
}
