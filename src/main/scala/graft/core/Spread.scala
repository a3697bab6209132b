package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Parallelism floor for compute-bound maps.
  *
  * A file scan splits by BYTES (`max(openCostInBytes,
  * totalSize/defaultParallelism)` per split), which sizes it for I/O —
  * not for the CPU behind it. A text corpus is small on disk relative
  * to the work its consumers do per byte (shingle/token/char-pair
  * generation, per-row hash lotteries), so at any SF where
  * `bytes / maxPartitionBytes < cores` the whole generate stage runs on
  * a fraction of the machine: the 818 MB sf100 documents table scans as
  * ~7 splits and left `llm_bpe_pairs` on 7 of 32 cores (3.1× measured
  * at the sf100 rung); the same disease cost `sample_weighted` 13 s at
  * sf0.1 (r11) and the brute-jaccard twin 23.6 s at sf1 (r13).
  *
  * The cure is one round-robin exchange of the RAW rows — cheap,
  * because the under-split case is by definition small-bytes — applied
  * only when the scan actually under-splits. At production scale a
  * corpus has ≥ cores splits and this is a no-op, so the branch never
  * costs an exchange where the scan is already parallel.
  */
object Spread {
  /** `df`, repartitioned to the core count iff it has fewer partitions
    * than cores. Use on the input of a CPU-bound map/generate stage.
    *
    * Constraint (r14 advisor): the under-split test reads
    * `df.rdd.getNumPartitions`, which finalizes the plan at build time
    * — only apply this to SCAN-SHAPED inputs (a bare table read plus
    * row-local projections/filters). On an input containing exchanges
    * it would eagerly materialize stages under AQE and read a pre-AQE
    * partition count. All shipped call sites are scan-shaped.
    *
    * Prefer the keyed overload when a high-cardinality deterministic
    * key exists: keyless round-robin pays a local sort of its input
    * first (`spark.sql.execution.sortBeforeRepartition`, SPARK-23207 —
    * retried tasks must reproduce the same row→partition assignment;
    * measured 0.64 s of sample_weighted's 1.18 s at sf0.1). Hash
    * placement is per-row deterministic, so it needs no such sort and
    * is retry-safe by construction. */
  def cpuBound(spark: SparkSession, df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** Keyed spread: hash-partition on `keys` instead of round-robin.
    * `keys` must be high-cardinality relative to the core count
    * (guide §2.5: 20-100× more distinct values than partitions). Most
    * shipped call sites key on a row-unique id; `sink_partitioned`
    * keys on `l_orderkey`, which repeats once per line of an order
    * (about 4 rows per key) and still has far more values than
    * partitions. */
  def cpuBound(spark: SparkSession, df: DataFrame, keys: Column*): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores, keys: _*)
    else df
  }
}
