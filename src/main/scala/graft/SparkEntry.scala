package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.core.Q

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every keyed query from SURVEY.md §2 (each module owns one
  * §2 sub-table). `oracleSql` carries the DuckDB-runnable ANSI SQL for
  * hash-match verification where expressible.
  */
object SparkEntry {

  /** The §2 inventory: key → (Spark impl, optional DuckDB oracle). */
  def registry: Map[String, Q] =
    ops.Scans.queries ++ ops.Relational.queries ++ ops.ScaleJoins.queries ++
      ops.Graph.queries ++
      ops.SqlApi.queries ++ ops.TpchSuite.queries ++
      ops.Aggregates.queries ++
      ops.Windows.queries ++ ops.Scalars.queries ++ etl.Etl.queries ++
      stream.Streaming.queries ++
      llm.Dedup.queries ++ llm.Similarity.queries ++ llm.Text.queries ++
      llm.Multimodal.queries ++ llm.Curation.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Aggregates.aggHash(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.fn }

  /** The keys a main runs: every key of [[queries]], sorted, when `keys`
    * is empty, else `keys` themselves. An unknown key fails the run and
    * names the key, so a typo cannot select nothing. */
  def select(keys: Seq[String]): Seq[String] = {
    val known = queries.keySet
    val unknown = keys.filterNot(known)
    require(unknown.isEmpty, s"unknown query key(s): ${unknown.mkString(", ")}")
    if (keys.isEmpty) known.toSeq.sorted else keys.distinct
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, Q(_, Some(sql))) => k -> sql }
}
