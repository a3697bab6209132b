package graft.core

import org.apache.spark.sql.Dataset

/** One definition of the per-round lineage cut every iterative operator
  * uses (PageRank/BFS/CC/label-prop rounds, dedup candidate sets, index
  * fixtures in flight) — and the single place the executor-loss story
  * is decided. The rule: a RELIABLE `checkpoint()` when the context has
  * a checkpoint dir, a `localCheckpoint()` when it has none.
  *
  * `localCheckpoint()` is eager and truncates lineage, but the
  * materialized blocks live ONLY on the executors that computed them:
  * non-replicated and, because lineage is gone, non-recomputable. On a
  * real cluster a lost executor (preemption, OOM kill, spot reclaim)
  * makes every downstream stage fail with stage-materialization errors.
  * On `local[n]` there is a single "executor" whose loss is the
  * application's, so it is safe there AND avoids per-round disk writes.
  *
  * A deployment that must survive executor loss gives the context a
  * checkpoint dir: `spark.checkpoint.dir` (e.g. `-Dspark.checkpoint.dir=…`,
  * HDFS/object store on a cluster) or `sc.setCheckpointDir`. Every cut
  * then writes its round to that dir, and downstream stages re-read it
  * instead of failing. Results are BIT-IDENTICAL either way
  * (LineageSpec: pagerank/CC/near-dup rows equal under both modes) —
  * the cut decides only where the materialized rounds live and what
  * dies with an executor.
  *
  * Reliable cuts write one rdd-N dir each. [[Sessions.build]] sets
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` so the
  * ContextCleaner deletes a cut's files once its RDD is GC'd, and
  * deletes the context's checkpoint dir when the application ends; a
  * session built elsewhere should do the same or provision the dir.
  */
object Lineage {
  /** Enrichment so call sites read like the Dataset API:
    * `df.lineageCut()` = `Lineage.cut(df)`. */
  implicit class LineageCutOps[T](private val ds: Dataset[T]) extends AnyVal {
    def lineageCut(): Dataset[T] = cut(ds)
  }

  def cut[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint()
    else ds.localCheckpoint()
}
