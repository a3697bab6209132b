package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Custom typed aggregators (SURVEY.md §2.4 `agg_udaf`,
  * `agg_vector_mean`) — the `Aggregator[IN, BUF, OUT]` UDAF surface.
  *
  * Both are partial-aggregation friendly: `reduce` runs map-side per
  * partition, `merge` combines the small fixed-size buffers at the
  * exchange — the shuffle carries one buffer per (partition × group),
  * never raw rows. That is the property that keeps them viable at
  * 100 TB.
  */
object Udafs {

  /** Quantity-weighted average discount with an exact fixed-point
    * buffer: qty and discount are 2-decimal values, so `round(x*100)`
    * is lossless and the sums are exact Longs (no float-order
    * nondeterminism). finish() mirrors the oracle's
    * CAST(SUM(..) AS DOUBLE)/CAST(SUM(..) AS DOUBLE). */
  object WeightedAvgDiscount
      extends Aggregator[(Double, Double), (Long, Long), Double] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), in: (Double, Double)): (Long, Long) = {
      val q2 = math.round(in._1 * 100) // qty, scale-2 fixed point
      val d2 = math.round(in._2 * 100) // discount, scale-2 fixed point
      (b._1 + q2 * d2, b._2 + q2)      // scale-4 / scale-2 sums
    }
    override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(b: (Long, Long)): Double =
      if (b._2 == 0L) Double.NaN
      else java.math.BigDecimal.valueOf(b._1, 4).doubleValue() /
        java.math.BigDecimal.valueOf(b._2, 2).doubleValue()
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Count-min sketch over long keys — the mergeable frequency sketch
    * (Cormode & Muthukrishnan 2005): d=[[CmDepth]] hash rows ×
    * w=[[CmWidth]] counters, point estimate = min over rows. Guarantees
    * (for total stream mass N): est ≥ true always (counters only
    * over-count), and est ≤ true + (e/w)·N with probability ≥ 1−e^−d
    * per query — the bounds `agg_count_min` surfaces as oracle-pinned
    * booleans.
    *
    * Buffer = one flat Array[Long] of d·w counters (128 KiB): fixed
    * memory per partial regardless of input size, and `merge` is
    * element-wise addition — the exchange carries one sketch per
    * mapper, never raw keys. That mergeability is the whole point at
    * 100 TB: per-partition sketches combine associatively, exactly like
    * the HLL/quantile sketches in `agg_approx_distinct` /
    * `agg_approx_percentile`.
    *
    * Hashing: splitmix64-style finalizer over (row seed ⊕ key) —
    * deterministic, no library dependence, independent-enough rows
    * (each row uses a distinct odd multiplier seed). */
  object CountMin {
    val CmDepth = 4
    val CmWidth = 4096

    def bucket(row: Int, key: Long): Int = {
      var z = key + 0x9e3779b97f4a7c15L * (row + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^= (z >>> 31)
      (((z % CmWidth) + CmWidth) % CmWidth).toInt
    }

    def estimate(sketch: Seq[Long], key: Long): Long =
      (0 until CmDepth).map(r => sketch(r * CmWidth + bucket(r, key))).min
  }

  /** The Aggregator wrapping [[CountMin]]: IN = key, BUF/OUT = the flat
    * counter array. */
  object CountMinSketch extends Aggregator[Long, Array[Long], Seq[Long]] {
    import CountMin._
    override def zero: Array[Long] = new Array[Long](CmDepth * CmWidth)
    override def reduce(b: Array[Long], key: Long): Array[Long] = {
      var r = 0
      while (r < CmDepth) { b(r * CmWidth + bucket(r, key)) += 1L; r += 1 }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Seq[Long] = b.toSeq
    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }

  /** The ONE definition of the skewed probe key both heavy-hitters
    * twins measure (batch `agg_heavy_hitters`, streaming
    * `stream_heavy_hitters`): every 4th event keeps its event_type
    * (5 heavy keys ~25% of mass), the rest become a per-event unique
    * tail that churns the MG counters. Scala column and oracle-SQL
    * spelling live together so the sketch, its exact in-query twin,
    * and both DuckDB oracles can never drift onto different streams. */
  object HeavyKey {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    def column: Column =
      when(col("event_id") % 4 === 0, col("event_type"))
        .otherwise(concat(lit("t"), col("event_id").cast("string")))
    val sql: String =
      "CASE WHEN event_id % 4 = 0 THEN event_type " +
        "ELSE 't' || CAST(event_id AS VARCHAR) END"
  }

  /** Misra–Gries heavy-hitters summary (Misra & Gries 1982; merge rule
    * from Agarwal et al. 2013 "Mergeable Summaries") — the approximate
    * TOP-K sketch completing the family (HLL = cardinality, KLL =
    * quantiles, count-min = per-key frequency; this = which keys are
    * frequent). Buffer = at most k (key, count) pairs.
    *
    * reduce: seen key → increment; room → insert at 1; full → decrement
    * ALL counters by 1 and drop zeros (the charged row and ≥1 tracked
    * keys pay together, so total decrement mass ≤ N/(k+1)).
    * merge: add counts keyed-wise; if > k entries survive, subtract the
    * (k+1)-th largest count from all and keep the strictly positive —
    * the mergeable-summaries rule that preserves the error bound under
    * ANY merge tree, which is what makes the guarantees deterministic
    * on Spark (merge order varies with scheduling).
    *
    * Deterministic guarantees (any data, any merge order):
    * est ≤ true (counters only lose mass), true − est ≤ N/(k+1), and
    * every key with true > N/(k+1) is present in the summary. These are
    * the booleans `agg_heavy_hitters` oracle-pins.
    *
    * 100 TB: fixed ≤ k-entry buffer per partial, one small map per
    * mapper over the exchange — never raw keys. The 2013 merge theorem
    * is the load-bearing part: partials combine associatively at any
    * fan-in. */
  class MisraGries(k: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], key: String): Map[String, Long] =
      b.get(key) match {
        case Some(c) => b.updated(key, c + 1L)
        case None if b.size < k => b.updated(key, 1L)
        case None =>
          b.flatMap { case (x, c) => if (c > 1L) Some(x -> (c - 1L)) else None }
      }
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = (a.keySet ++ b.keySet).iterator
        .map(x => x -> (a.getOrElse(x, 0L) + b.getOrElse(x, 0L))).toMap
      if (sum.size <= k) sum
      else {
        // (k+1)-th largest count; subtracting it from everyone keeps ≤ k
        val t = sum.values.toSeq.sorted(Ordering[Long].reverse)(k)
        sum.flatMap { case (x, c) => if (c > t) Some(x -> (c - t)) else None }
      }
    }
    override def finish(b: Map[String, Long]): Map[String, Long] = b
    override def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  /** Element-wise mean of fixed-dim float vectors. Buffer = one
    * Array[Double] of sums + count: O(dim) memory per group regardless
    * of input size. Output is rounded downstream (float-sum order is
    * partition-dependent; round(·,6) absorbs the ~1e-13 noise). */
  class VecMean(dim: Int)
      extends Aggregator[Array[Float], (Array[Double], Long), Seq[Double]] {
    // IN is Array[Float], not Seq[Float]: a Seq input deserializes to
    // an immutable List, making v(i) in reduce an O(i) pointer chase
    // per element (same trap as the SRP banding UDF — see
    // llm/Similarity.scala srpBands).
    override def zero: (Array[Double], Long) = (Array.fill(dim)(0.0), 0L)
    override def reduce(b: (Array[Double], Long), v: Array[Float]): (Array[Double], Long) = {
      var i = 0
      while (i < dim && i < v.length) { b._1(i) += v(i); i += 1 }
      (b._1, b._2 + 1)
    }
    override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { a._1(i) += b._1(i); i += 1 }
      (a._1, a._2 + b._2)
    }
    override def finish(b: (Array[Double], Long)): Seq[Double] =
      if (b._2 == 0L) Seq.empty
      else b._1.map(_ / b._2).toSeq
    override def bufferEncoder: Encoder[(Array[Double], Long)] =
      ExpressionEncoder[(Array[Double], Long)]()
    override def outputEncoder: Encoder[Seq[Double]] =
      ExpressionEncoder[Seq[Double]]()
  }
}
