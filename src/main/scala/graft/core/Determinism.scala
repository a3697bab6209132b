package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Determinism helpers so Spark results hash-match the DuckDB oracle.
  *
  * Rules (SURVEY.md §5.2(1), §7.5):
  *  - never expose a raw `sum(double)`: partial-aggregation order is
  *    nondeterministic across partitions. Cast each row to
  *    DECIMAL(12,2) ("money"), sum exactly, cast the exact sum back to
  *    DOUBLE. DuckDB mirrors: CAST(SUM(CAST(x AS DECIMAL(12,2))) AS DOUBLE).
  *  - averages = exact decimal sum (one double rounding) / exact count,
  *    divided in IEEE double — identical on both engines.
  *  - every oracle-checked query ends in a total ORDER BY over output
  *    columns, ascending NULLS FIRST (Spark asc default); oracle SQL ends
  *    in ORDER BY ALL NULLS FIRST.
  *  - timestamps never leave a query as TimestampType: format as
  *    'yyyy-MM-dd[ HH:mm:ss]' strings or epoch-µs longs (parquet
  *    INT96/ns-vs-µs and pandas dtype mismatches otherwise poison hashes).
  *  - unavoidable float outputs are round(x, 6) — but ONLY when the two
  *    engines genuinely compute different bits (partition-order sums,
  *    transcendentals). NEVER round exact rational arithmetic (k/n,
  *    weighted sums of small-int ratios): both engines already produce
  *    bit-identical doubles, and round(·,6) of an exact value like
  *    333/640 = 0.5203125 ties at the 7th digit, where Spark (decimal
  *    string, HALF_UP) and DuckDB (binary) disagree. Found at sf0.1 in
  *    cume_dist and quality_score.
  */
object Determinism {

  val Money: DecimalType = DecimalType(12, 2)
  val Rate: DecimalType = DecimalType(4, 2)

  /** Per-row cast of a RAW money column to exact decimal. Raw columns
    * carry (near-)2-decimal values, so Spark's string-based HALF_UP cast
    * and DuckDB's binary-value rounding land on the same decimal.
    *
    * NEVER cast a double computed from arithmetic (e.g. price*(1-disc))
    * to decimal — the two engines can round a messy product differently.
    * Do the arithmetic in decimal instead ([[oneMinus]]/[[onePlus]]),
    * which is exact on both sides. (Found empirically: sum_charge
    * diverged by a few cents at sf0.01 with the cast-the-product form.)
    */
  def money(c: Column): Column = c.cast(Money)

  /** Exact decimal (1 - rate) for rate columns like l_discount (≤ 1.0,
    * 2 decimals). Oracle mirror: CAST(1 - CAST(x AS DECIMAL(4,2)) AS DECIMAL(4,2)). */
  def oneMinus(c: Column): Column =
    (lit(1) - c.cast(Rate)).cast(Rate)

  def onePlus(c: Column): Column =
    (lit(1) + c.cast(Rate)).cast(Rate)

  /** Exact decimal sum of a raw money column surfaced as a double —
    * order-independent. */
  def dsum(c: Column): Column = sum(money(c)).cast(DoubleType)

  /** Exact sum of an already-exact decimal expression, as double. */
  def dsumExpr(e: Column): Column = sum(e).cast(DoubleType)

  /** Exact decimal avg surfaced as a double: (exact sum → double) / count.
    * Oracle: CAST(SUM(CAST(x AS DECIMAL(12,2))) AS DOUBLE) / COUNT(x). */
  def davg(c: Column): Column =
    sum(money(c)).cast(DoubleType) / count(c).cast(DoubleType)

  def round6(c: Column): Column = round(c, 6)

  /** 'yyyy-MM-dd' string of a date/timestamp (oracle: OracleDsl.dateStr). */
  def dateStr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** Epoch microseconds of a timestamp (oracle: epoch_us(ts)). */
  def epochUs(c: Column): Column = unix_micros(c)

  /** Total deterministic order over all output columns, asc nulls first
    * (oracle mirror: OracleDsl.OrderAll). Rows that tie are
    * bit-identical, so any tie order hashes the same. */
  def ordered(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
}
