package graft.ops

import graft.core.Lineage.LineageCutOps
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Q, Tables}
import graft.core.Determinism._
import graft.core.{OracleDsl => O}

/** Iterative graph analytics over the parts-co-ordered graph (the same
  * derived relation `sql_recursive` and `graph_triangles` use). The
  * reference's "querying and analysis" surface (README.md:10) plus the
  * north star's scale mandate: PageRank is the canonical
  * iterate-until-converged workload whose 100 TB shape — per-round
  * frontier⋈edges equi-join + keyed re-aggregation, lineage broken per
  * round — this module demonstrates end to end.
  */
object Graph {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  /** PageRank, 8 damped iterations, in EXACT fixed-point arithmetic.
    *
    * Floating-point PageRank cannot be oracle-verified bit-for-bit:
    * per-node contribution sums run in partition order on Spark and in
    * whatever order DuckDB's aggregate hash table drains, and ten
    * iterations compound the ulps. Instead ranks are scaled longs
    * (SCALE = 10^15): r0 = SCALE div n, each contribution is
    * `r div deg` (integer floor), damping is `(85 * Σ) div 100` —
    * every step is order-independent exact integer math, so both
    * engines (and any partitioning, any run) produce IDENTICAL longs.
    * The systematic floor bias is < deg·8 units of 10^-15 per node —
    * far below anything a ranking consumer can observe.
    *
    * 100 TB: each iteration is ONE equi-join of the (node, rank) table
    * against the static out-share edge list + ONE hash re-aggregation
    * on dst — the exact per-round shape of `llm_dup_clusters`'
    * connected components. The edge list is materialized once
    * (lineage cut) and reused by all rounds; ranks are cut every
    * second round so the plan stays at most two joins deep instead of
    * growing an 8-join lineage (driver OOM + re-execution risk at
    * scale). Node count n is the single driver-side scalar, observed
    * by the job that materializes the edge list. */
  private[graft] val Scale = 1000000000000000L // 10^15

  /** The iteration core over any symmetric (src, dst) edge list — also
    * exercised by PropertySpec on generated graphs. Returns (v, r)
    * scaled-long ranks after `iters` damped rounds. */
  private[graft] def pageRankIterations(e: DataFrame, iters: Int): DataFrame = {
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // n, the node count, is observed on deg inside the ed cut job
    // below, so no job of its own counts it. deg's final aggregate
    // runs in that job's result stage (or in the broadcast job's, if
    // deg is the broadcast side), whose accumulator updates Spark
    // applies once per partition: a retried map stage cannot
    // double-count n, which would silently shift every rank.
    val nodes = Observation("pagerank_nodes")
    // static out-share side: every edge with its source's out-degree.
    // (r14 note: an attempt to keep a HashPartitioning(src) layout on
    // ed across rounds — repartition+persist, so the per-round join
    // stops re-exchanging the static side — was measured SLOWER at
    // sf0.1: a cached relation opts out of AQE coalescing, so every
    // round ran 32-task stages against a cache whose build cost
    // exceeded the ~1.9 MB/round exchange it saved. The per-round
    // exchange of the static side stands as the known cost; at a real
    // 100 TB rung the right fix is a pre-bucketed edge table, which is
    // a storage-layout decision, not a query change.)
    val ed = e.join(deg.observe(nodes, count(lit(1)).as("n")), "src")
      .lineageCut()
    val n = nodes.get("n").asInstanceOf[Long]
    val base = (Scale * 15L / 100L) / n // (1-d)/n, scaled, exact
    var r = deg.select(col("src").as("v"), lit(Scale / n).as("r"))
    for (i <- 1 to iters) {
      r = ed.join(r, ed("src") === r("v"))
        .select(col("dst"), expr("r div d").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("sc"))
        .select(col("dst").as("v"),
          (lit(base) + expr("(85 * sc) div 100")).as("r"))
      // cut every SECOND round: one cut per round made each round its
      // own job round-trip; a 2-round lineage is still a bounded plan
      // (2 joins deep) and halves the eager-materialize latency of the
      // loop. No cut after the last round: the caller's result query
      // reads it once. Ranks are exact integers either way.
      if (i % 2 == 0 && i < iters) r = r.lineageCut()
    }
    r
  }

  /** The symmetric parts-co-ordered edge list (both directions present,
    * no self-loops) on a deterministic 1/`mod` order slice —
    * materialized once (localCheckpoint) because every iterative
    * consumer re-joins it each round. */
  private[graft] def coOrderEdges(spark: SparkSession, dir: String, mod: Int): DataFrame = {
    val op = t(spark, dir, "lineitem")
      .filter(col("l_orderkey") % mod === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") =!= col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
      .distinct()
      .lineageCut()
  }

  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val e = coOrderEdges(spark, dir, 16)
    ordered(pageRankIterations(e, 8)
      .select(col("v").as("part"), col("r").as("rank_fp")))
  }

  private val pageRankSql = {
    // identical unrolled iterations: BIGINT floor division on both sides
    def iter(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT e.dst AS v, b.b + (85 * SUM(r.r // deg.d)) // 100 AS r
         |  FROM e JOIN $prev r ON e.src = r.v
         |  JOIN deg ON deg.v = e.src
         |  CROSS JOIN base b
         |  GROUP BY e.dst, b.b)"""
    val steps = (1 to 8)
      .map(i => iter(if (i == 1) "r0" else s"i${i - 1}", s"i$i"))
      .mkString(",\n")
    // MATERIALIZED (r13): `e` is referenced by deg + all 8 iterations
    // and `deg` by every iteration — DuckDB inlines a CTE per
    // reference, so the un-materialized spelling re-derived the
    // 15M-edge self-join NINE times concurrently at sf10 and spilled
    // >60 GB (the r12 "scratch" ENOSPC). One materialization each is
    // the plan the Spark side already runs (lineageCut on the edge
    // list).
    s"""WITH op AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem WHERE l_orderkey % 16 = 0),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT x.p AS src, y.p AS dst
       |  FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
       |deg AS MATERIALIZED (SELECT src AS v, COUNT(*) AS d FROM e GROUP BY src),
       |n AS (SELECT COUNT(*) AS nn FROM deg),
       |base AS (SELECT (1000000000000000 * 15 // 100) // nn AS b FROM n),
       |r0 AS (SELECT v, (SELECT 1000000000000000 // nn FROM n) AS r FROM deg),
       |$steps
       |SELECT v AS part, CAST(r AS BIGINT) AS rank_fp FROM i8
       |${O.OrderAll}"""
  }

  /** Multi-source BFS, hop-capped at [[BfsHops]]: distance from every
    * node to its nearest "hub" (seed = part id ≡ 0 mod 100 — a
    * deterministic ~1% seed set, the nearest-distribution-center /
    * nearest-labeled-example query shape). Pure frontier iteration:
    * round r joins the d = r−1 frontier against the static edge list
    * and re-minimizes — the canonical bulk-synchronous BFS every
    * distributed graph engine (Pregel, GraphX, GraphFrames) compiles
    * to, spelled directly in DataFrame ops.
    *
    * The hop cap is a SEMANTIC part of the operator (bounded-radius
    * reachability), not a test convenience: it makes the work per
    * round O(frontier ⋈ edges) with a hard bound, keeps the oracle's
    * recursive CTE terminating on both engines, and is what production
    * "within k hops" queries actually ask. Distances are exact ints —
    * no float anywhere — so any engine, any partitioning, any run
    * produces identical rows. Each round localCheckpoints: the plan
    * stays one join deep instead of growing an 8-join lineage.
    *
    * 100 TB: per round ONE equi-join frontier⋈edges (frontier shrinks
    * geometrically on small-world graphs; AQE right-sizes each round
    * because the checkpoint re-plans) + ONE min re-aggregation on the
    * vertex id — the same per-round shape as [[pageRankIterations]]
    * and `llm_dup_clusters`' components. Unreached nodes are absent
    * (not NULL-distance) — the frontier never carries the whole graph. */
  private[graft] val BfsHops = 6

  /** The iteration core over any symmetric (src, dst) edge list plus a
    * (v) seed set — exposed for PropertySpec chains/rings where the
    * cap genuinely truncates. Returns (v, d), d = min hops ≤ cap. */
  private[graft] def bfsIterations(e: DataFrame, seeds: DataFrame, cap: Int): DataFrame = {
    var dist = seeds.select(col("v"), lit(0).as("d")).lineageCut()
    for (r <- 1 to cap) {
      val cand = e.join(dist.filter(col("d") === r - 1), e("src") === dist("v"))
        .select(col("dst").as("v"), lit(r).as("d"))
      dist = dist.unionByName(cand)
        .groupBy(col("v")).agg(min(col("d")).as("d"))
      // cut every SECOND round (r15, same rationale as
      // [[pageRankIterations]]): bounded 2-round lineage, half the
      // eager-materialize round-trips. Distances are exact ints.
      if (r % 2 == 0 || r == cap) dist = dist.lineageCut()
    }
    dist
  }

  def bfs(spark: SparkSession, dir: String): DataFrame = {
    val e = coOrderEdges(spark, dir, 16)
    val seeds = e.select(col("src").as("v")).distinct()
      .filter(col("v") % 100 === 0)
    ordered(bfsIterations(e, seeds, BfsHops)
      .select(col("v").as("part"), col("d").as("dist")))
  }

  private val bfsSql =
    s"""WITH RECURSIVE op AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem WHERE l_orderkey % 16 = 0),
       |e AS (
       |  SELECT DISTINCT x.p AS src, y.p AS dst
       |  FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
       |bfs(v, d) AS (
       |  SELECT DISTINCT src AS v, 0 AS d FROM e WHERE src % 100 = 0
       |  UNION
       |  SELECT e.dst, b.d + 1 FROM bfs b JOIN e ON e.src = b.v
       |  WHERE b.d < $BfsHops)
       |SELECT v AS part, MIN(d) AS dist FROM bfs GROUP BY v
       |${O.OrderAll}"""

  /** Degree distribution — the first diagnostic anyone runs on a graph
    * before choosing a join strategy (it is literally the input to the
    * skew/salting decision `join_salted` encodes). One hash agg for
    * per-node degree, one more for the histogram; both map-side
    * combinable, nothing else moves. At 100 TB this is the cheap probe
    * you run FIRST so the expensive triangle/CC/PageRank jobs can pick
    * degree-ordered or salted shapes. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val e = coOrderEdges(spark, dir, 16)
    ordered(
      e.groupBy(col("src")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes")))
  }

  private val degreeHistogramSql =
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem WHERE l_orderkey % 16 = 0),
       |e AS (
       |  SELECT DISTINCT x.p AS src, y.p AS dst
       |  FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
       |deg AS (SELECT src, COUNT(*) AS degree FROM e GROUP BY src)
       |SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
       |${O.OrderAll}"""

  /** Connected components of the SUPPORT-FILTERED co-order graph —
    * community detection over "parts ordered together at least twice"
    * (the support threshold is what makes co-purchase graphs sparse
    * and their components meaningful; the raw graph is one hairball).
    * Rides the same Shiloach–Vishkin hook+jump label propagation as
    * `llm_dup_clusters` ([[graft.llm.Dedup.components]] — one
    * definition, O(log diameter) rounds, localCheckpoint per round),
    * proving the CC kernel is graph-agnostic, and adds the per-cluster
    * size the analyst actually reads. Oracle: recursive-CTE transitive
    * closure + min-reachable label — feasible exactly because the
    * support filter bounds the edge set.
    *
    * 100 TB: support counting is one equi-join + one partial-agg
    * (never a pair explosion beyond per-order baskets, which TPC-H
    * bounds at 7); propagation is per-round frontier⋈edges equi-joins
    * — the same shuffle shape as PageRank, O(log d) rounds. */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val op = t(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 16 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val pairs = op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("doc_a"), col("y.p").as("doc_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select(col("doc_a"), col("doc_b"))
    val comp = graft.llm.Dedup.components(pairs)
      .select(col("doc_id").as("part"), col("cluster_id"))
    val sizes = comp.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    ordered(comp.join(sizes, Seq("cluster_id"))
      .select(col("part"), col("cluster_id"), col("cluster_size")))
  }

  private val connectedComponentsSql =
    s"""WITH RECURSIVE op AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem WHERE l_orderkey % 16 = 0),
       |pairs AS (
       |  SELECT x.p AS a, y.p AS b
       |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
       |comp AS (
       |  SELECT src AS part, least(src, MIN(dst)) AS cluster_id
       |  FROM reach GROUP BY src)
       |SELECT part, cluster_id, s.n AS cluster_size
       |FROM comp
       |JOIN (SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY 1) s
       |  USING (cluster_id)
       |${O.OrderAll}"""

  /** Label propagation communities (Raghavan et al. 2007,
    * arXiv:0709.2938), 3 SYNCHRONOUS rounds over the same
    * support-filtered co-purchase graph as `graph_cc`: every node
    * starts labeled with its own id and each round adopts the most
    * frequent label among its neighbors, ties to the SMALLEST label
    * (the determinism rule that makes LPA reproducible at all — the
    * usual random tie-break makes every run a different clustering).
    * Where `graph_cc` answers "reachable at all", LPA finds DENSE
    * regions inside a component — the near-linear community-detection
    * pass sparse co-occurrence graphs get before any heavier method.
    * The round count is part of the operator's semantics (synchronous
    * LPA oscillates on bipartite-ish structures rather than converging,
    * so production runs fixed-round; 3 unrolled rounds lets the oracle
    * replay each round as a plain CTE — no recursion needed).
    *
    * 100 TB: one round = ONE labels⋈edges equi-join + ONE
    * (node, label) count + a per-node argmax window — the PageRank
    * shuffle shape; the argmax tie-break is row_number over the
    * grouped counts (group cardinality ≤ degree, never raw neighbor
    * rows). Labels are O(nodes); 3 rounds = 3 bounded-depth plans. */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val op = t(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 16 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val pairs = op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .select(col("a"), col("b"))
    val edges = pairs.union(pairs.select(col("b"), col("a")))
      .toDF("src", "dst").lineageCut()
    val init = edges.select(col("src").as("part"))
      .distinct().withColumn("label", col("part"))
    val round = (labels: DataFrame) => {
      val counted = edges
        .join(labels.withColumnRenamed("part", "dst"), "dst")
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("votes").desc, col("label").asc)
      counted.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("part"), col("label"))
    }
    // cut after the 3 rounds (r14): sizes + the size join both read
    // l3, so un-materialized each branch replayed all three
    // join+agg+window rounds
    val l3 = round(round(round(init))).lineageCut()
    val sizes = l3.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    ordered(l3.join(sizes, Seq("label"))
      .select(col("part"), col("label").as("community"), col("community_size")))
  }

  private val labelPropSql = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         |  SELECT src AS part, label FROM (
         |    SELECT e.src, l.label, COUNT(*) AS votes,
         |      ROW_NUMBER() OVER (PARTITION BY e.src
         |        ORDER BY COUNT(*) DESC, l.label ASC) AS rn
         |    FROM edges e JOIN $prev l ON l.part = e.dst
         |    GROUP BY e.src, l.label)
         |  WHERE rn = 1)""".stripMargin
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem WHERE l_orderkey % 16 = 0),
       |pairs AS (
       |  SELECT x.p AS a, y.p AS b
       |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |edges AS (SELECT a AS src, b AS dst FROM pairs
       |  UNION ALL SELECT b, a FROM pairs),
       |l0 AS (SELECT DISTINCT src AS part, src AS label FROM edges),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")}
       |SELECT part, label AS community, s.n AS community_size
       |FROM l3
       |JOIN (SELECT label, COUNT(*) AS n FROM l3 GROUP BY label) s
       |  USING (label)
       |${O.OrderAll}"""
  }

  /** Max adjacency rows per block in the wedge self-join — bounds any
    * single join group at WedgeBlockCap² pair rows (same constant
    * class as [[graft.llm.Dedup.BandBucketCap]]). */
  private[graft] val WedgeBlockCap = 64

  /** Co-order adjacency edges of the link-prediction graph — one
    * definition shared by the keyed query and ScaleUpSpec's wedge
    * counting. Returns (pairs, edges); `edges` is
    * localCheckpoint'ed (read by degrees AND the wedge join). */
  private[graft] def coOrderEdges(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val op = t(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 16 === 0)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    // RAW co-order adjacency (no support floor): link prediction wants
    // the full neighborhood sets — here the `common >= 2` candidate
    // floor plays the sparsifier role the support threshold plays for
    // graph_cc/graph_label_prop (a 1-common-neighbor pair is noise)
    // pairs cut once (r14): both its consumers — the symmetric edge
    // union below AND jaccardNeighbors' existing-edge anti join — used
    // to re-run the o-self-join; now each reads the materialization.
    val pairs = op.as("x").join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b"))
      .distinct()
      .lineageCut()
    val edges = pairs.union(pairs.select(col("b"), col("a")))
      .toDF("src", "dst").lineageCut()
    (pairs, edges)
  }

  /** Wedge pairs (a < b, both adjacent to a shared endpoint) with
    * BOUNDED join groups: each node's adjacency is cut into
    * ≤[[WedgeBlockCap]]-sized blocks and pairs join block-pair-wise
    * ([[graft.core.Blocked.selfPairs]] — the exact machinery the dedup
    * band join uses), so a hub of degree d spreads its d² wedges over
    * ~(d/cap)²/2 independent join keys instead of ONE d²-row join
    * group. Output is provably identical to the naive
    * `edges ⋈ edges ON same src AND dst_a < dst_b` (equality law in
    * OperatorsSpec), so the oracle stays hash-exact. */
  private[graft] def wedgePairs(edges: DataFrame): DataFrame =
    graft.core.Blocked.selfPairs(edges, Seq("src"), "dst",
      WedgeBlockCap, "a", "b")

  /** Neighborhood-similarity link prediction — common-neighbors count
    * and Jaccard over adjacency sets (Liben-Nowell & Kleinberg 2003),
    * the zero-model every recommender baseline starts from: for every
    * NON-adjacent pair sharing ≥ 2 neighbors, |N(a)∩N(b)| and
    * |N(a)∩N(b)| / |N(a)∪N(b)|. Candidate pairs come from ONE wedge
    * equi-join (edges⋈edges on the shared endpoint — work Σdeg², the
    * quantity `graph_degree`'s histogram exists to estimate first),
    * BLOCK-CAPPED via [[wedgePairs]] (r9: hub-heavy graphs at 100 TB
    * put a whole hub's deg² wedges in one join group — the r8 verdict's
    * named gap; the cap spreads them without changing a single output
    * row), the existing-edge exclusion is one anti join, degrees come
    * from the same edge list, and Jaccard is an exact int/int division
    * both engines round identically — no float accumulates. */
  def jaccardNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, edges) = coOrderEdges(spark, dir)
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
    val wedges = wedgePairs(edges)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
    val cand = wedges.join(pairs, Seq("a", "b"), "left_anti")
    ordered(cand
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("degree", "degree_a"), Seq("a"))
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("degree", "degree_b"), Seq("b"))
      .select(col("a").as("part_a"), col("b").as("part_b"), col("common"),
        col("degree_a"), col("degree_b"),
        (col("common") / (col("degree_a") + col("degree_b") - col("common")))
          .as("jaccard")))
  }

  private val jaccardNeighborsSql =
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem WHERE l_orderkey % 16 = 0),
       |pairs AS (
       |  SELECT DISTINCT x.p AS a, y.p AS b
       |  FROM op x JOIN op y ON x.o = y.o AND x.p < y.p),
       |edges AS (SELECT a AS src, b AS dst FROM pairs
       |  UNION ALL SELECT b, a FROM pairs),
       |deg AS (SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src),
       |wed AS (
       |  SELECT x.dst AS a, y.dst AS b, COUNT(*) AS common
       |  FROM edges x JOIN edges y ON x.src = y.src AND x.dst < y.dst
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |cand AS (
       |  SELECT w.* FROM wed w
       |  WHERE NOT EXISTS (SELECT 1 FROM pairs p WHERE p.a = w.a AND p.b = w.b))
       |SELECT c.a AS part_a, c.b AS part_b, c.common,
       |  da.degree AS degree_a, db.degree AS degree_b,
       |  c.common / (da.degree + db.degree - c.common) AS jaccard
       |FROM cand c
       |JOIN deg da ON da.node = c.a
       |JOIN deg db ON db.node = c.b
       |${O.OrderAll}"""

  val queries: Map[String, Q] = Map(
    "graph_jaccard" -> Q(jaccardNeighbors _, jaccardNeighborsSql),
    "graph_label_prop" -> Q(labelProp _, labelPropSql),
    "graph_pagerank" -> Q(pageRank _, pageRankSql),
    "graph_bfs" -> Q(bfs _, bfsSql),
    "graph_degree" -> Q(degreeHistogram _, degreeHistogramSql),
    "graph_cc" -> Q(connectedComponents _, connectedComponentsSql)
  )
}
