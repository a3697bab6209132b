package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded-fan-out self-join: the one shuffle shape this repo never
  * emits naively. A bucket self-join (`df ⋈ df ON same keys AND a < b`)
  * makes each key bucket ONE join group of m² pair rows — a hot bucket
  * (a boilerplate LSH band, a hub node's adjacency) becomes a
  * straggler task that AQE's skew split cannot divide, because the
  * skew lives WITHIN a single key, not across keys. At 100 TB that
  * single task is the job.
  *
  * [[selfPairs]] is the capped spelling, shared by the dedup band joins
  * ([[graft.llm.Dedup.bandPairsKeyed]], the SimHash bands, the image
  * and video band triples) and the link-prediction wedge join
  * ([[graft.ops.Graph.jaccardNeighbors]]): rows in a bucket are ranked
  * (a window on the same key the join would shuffle on anyway) and cut
  * into blocks of `cap` ([[blocks]], also the stored layout of the
  * incremental-dedup index and its probe); each row is replicated to
  * its partner blocks and pairs are joined block-pair-wise on
  * (keys…, _gx, _gy) — ≤ cap² rows per join group, and a hot bucket's
  * work spreads over ~(m/cap)²/2 independent keys. Replication per row
  * is the bucket's block count ceil(m/cap) — linear, and 1 (zero
  * overhead) for the common small bucket.
  *
  * Output is provably identical to the naive self-join: a pair
  * (a in block gx) × (b in block gy), gx ≤ gy, joins on exactly one
  * key — (gx, gy) — and same-block mirrors die on a < b. Block-id
  * columns `_gx`/`_gy` are retained so callers/tests can pin the
  * bounded-group law. */
object Blocked {
  /** `df` with each `keys` bucket, ranked by `id`, cut into blocks of
    * `cap` rows: column `g` is the row's block, `numG` the bucket's
    * block count ceil(m/cap). */
  def blocks(df: DataFrame, keys: Seq[String], id: String, cap: Int,
      g: String, numG: String): DataFrame = {
    val bucket = Window.partitionBy(keys.map(col): _*)
    df
      .withColumn(g,
        ((row_number().over(bucket.orderBy(col(id))) - 1) / cap)
          .cast("long"))
      .withColumn(numG,
        ((count(lit(1)).over(bucket) + cap - 1) / cap).cast("long"))
  }

  def selfPairs(df: DataFrame, keys: Seq[String], id: String, cap: Int,
      aName: String, bName: String): DataFrame = {
    val ranked = blocks(df, keys, id, cap, "_g", "_numG")
    val keyCols = keys.map(col)
    val x = ranked.select(keyCols ++ Seq(col(id).as(aName),
      col("_g").as("_gx"),
      explode(sequence(col("_g"), col("_numG") - 1)).as("_gy")): _*)
    val y = ranked.select(keyCols ++ Seq(col(id).as(bName),
      explode(sequence(lit(0L), col("_g"))).as("_gx"),
      col("_g").as("_gy")): _*)
    x.join(y, keys ++ Seq("_gx", "_gy"))
      .filter(col(aName) < col(bName))
  }
}
