package graft.core

/** String-building helpers for the DuckDB oracle SQL, mirroring
  * [[Determinism]]'s Spark-side decimal conventions exactly. Any change
  * here must change both sides or hashes drift.
  */
object OracleDsl {
  /** Raw money column → exact decimal. */
  def dec(c: String): String = s"CAST($c AS DECIMAL(12,2))"

  /** Correctly-rounded double of an exact decimal expression, via the
    * VARCHAR bridge. DuckDB's direct decimal→double cast DOUBLE-ROUNDS
    * (int128 numerator → nearest double, then ÷10^scale → a second
    * rounding), which diverges from Spark's `BigDecimal.doubleValue`
    * (correctly rounded per spec) by one ulp once value·10^scale
    * exceeds 2^53 — first observed on sql_tpch_q1's sum_charge at sf1
    * (scale-6 sums cross the 9.0e9 line there). decimal→VARCHAR is
    * exact and VARCHAR→DOUBLE is correctly rounded in both engines,
    * so the bridge always agrees with Spark. */
  def dbl(e: String): String = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"

  /** Order-independent exact sum of a raw money column, as a
    * correctly-rounded double. */
  def dsum(c: String): String = dbl(s"SUM(CAST($c AS DECIMAL(12,2)))")

  /** Exact sum of an already-exact decimal expression, as a
    * correctly-rounded double (oracle mirror of Determinism.dsumExpr). */
  def dsumExpr(e: String): String = dbl(s"SUM($e)")

  def davg(c: String): String =
    s"${dsum(c)} / CAST(COUNT($c) AS DOUBLE)"

  def oneMinus(c: String): String =
    s"CAST(1 - CAST($c AS DECIMAL(4,2)) AS DECIMAL(4,2))"

  def onePlus(c: String): String =
    s"CAST(1 + CAST($c AS DECIMAL(4,2)) AS DECIMAL(4,2))"

  /** lineitem net revenue, exact decimal. */
  val revenue: String = s"${dec("l_extendedprice")} * ${oneMinus("l_discount")}"

  val OrderAll: String = "ORDER BY ALL NULLS FIRST"

  /** 'YYYY-MM-DD' string of a date/timestamp expression (mirror of
    * Determinism.dateStr). */
  def dateStr(c: String): String = s"strftime($c, '%Y-%m-%d')"

  /** One row per element of the list column `l` of `from`: the `keep`
    * columns, the element as `tok` and its 1-based position `pos`. */
  def elements(from: String, keep: String): String =
    s"SELECT $keep, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM $from"

  /** CTEs `t` (doc_id, l = the text split on single spaces) over
    * `from`, and `toks` (doc_id, tok, pos): the whitespace tokens every
    * text oracle starts from. `toks` is MATERIALIZED because its
    * callers join it with itself, and DuckDB otherwise inlines a CTE
    * once per reference. A fragment for a caller's `WITH` list, in the
    * `|`-margin form `Q` strips. */
  def tokensCte(from: String): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS l FROM $from),
       |toks AS MATERIALIZED (${elements("t", "doc_id")})"""
}
