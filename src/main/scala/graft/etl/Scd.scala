package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension maintenance (SURVEY.md §2.9 `etl_scd1`,
  * `etl_scd2`; reference /root/reference/README.md:6 — "Slowly Changing
  * Dimensions (SCD) Type 1 and Type 2 to track historical changes …
  * enabling historical analysis").
  *
  * The reference ships no code (SURVEY.md §0); semantics follow the
  * standard Kimball definitions: SCD1 = overwrite in place, SCD2 =
  * versioned rows with [effective_from, effective_to) validity intervals
  * and an is_current flag.
  *
  * 100 TB notes: every merge is ONE full-outer join on the business
  * key, shuffle-partitioned by key hash; AQE handles skew. The staged
  * batch is shuffled once: the duplicate-key guard's window partitions
  * it by the key, and the join reuses that partitioning and its sort
  * (the staged key is a plain alias of the key column). SCD2 emits the
  * carried-forward and the newly opened version of a key from the same
  * joined row, so the join is not split into two. Change detection is
  * a single sha2 row-hash comparison, so the join carries (key, hash)
  * + attrs once, never column-by-column comparisons across the wire.
  * History rows (is_current = false) are untouched pass-throughs — at
  * scale, store them in a separate partition (is_current) so the
  * merge only ever reads the current slice.
  */
object Scd {

  val FromCol = "effective_from"
  val ToCol = "effective_to"
  val CurrentCol = "is_current"
  val HighDate = "9999-12-31 00:00:00"

  /** Deterministic change-detection hash over attribute columns. The
    * \\u0001 separator avoids "ab"+"c" vs "a"+"bc" collisions; the
    * per-attr sentinel keeps NULL distinguishable from "" (concat_ws
    * silently drops NULL arguments). */
  def rowHash(attrCols: Seq[String]): Column =
    sha2(concat_ws("\u0001",
      attrCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*), 256)

  /** The staged batch, guarded against duplicate keys WITHIN it: a
    * duplicated key would multiply current rows through the merge join
    * and silently corrupt the dimension (several is_current rows,
    * overlapping intervals), so the merge fails loudly instead. The
    * guard is a Filter over a per-key window count that either passes
    * the row or raises. Catalyst never prunes a Filter, so the guard
    * fires under `count()` or a key-only select too. The window
    * shuffles the batch by key hash, which is the partitioning (and
    * the sort) the merge join needs, so the guard adds no exchange. */
  private def guarded(staged: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    staged.withColumn("_n_key", count(lit(1)).over(w))
      .filter(when(col("_n_key") > 1,
        raise_error(concat_ws(" ",
          lit("duplicate business key in staged batch:"),
          concat_ws(",", keyCols.map(c =>
            coalesce(col(c).cast("string"), lit("NULL"))): _*))))
        .otherwise(lit(true)))
      .drop("_n_key")
  }

  /** Staged-side key columns, renamed `_k_<key>` so they stay apart
    * from the dimension's own key columns in the join. */
  private def stagedKeys(keyCols: Seq[String]): Seq[Column] =
    keyCols.map(c => col(c).as(s"_k_$c"))

  /** Initial SCD2 load: every staged row becomes the first open version. */
  def initialLoad(staged: DataFrame, batchTs: String): DataFrame =
    staged
      .withColumn(FromCol, lit(batchTs).cast("timestamp"))
      .withColumn(ToCol, lit(HighDate).cast("timestamp"))
      .withColumn(CurrentCol, lit(true))

  /** SCD2 merge of a staged extract into the current dimension state.
    *
    * Per business key:
    *  - unchanged (hash equal): current row passes through;
    *  - changed: current row closes (`effective_to` = batchTs,
    *    is_current = false) and a new open version is inserted;
    *  - brand-new key: new open version;
    *  - departed key (in dim, not staged): stays open by default; with
    *    `closeDeparted = true` (for AUTHORITATIVE full extracts, the
    *    Kimball soft delete) the open version closes at batchTs with no
    *    replacement. A departed key that later returns re-enters as a
    *    brand-new open version — its closed history is preserved, so
    *    the validity chain has a gap covering the absence;
    *  - historic rows (is_current = false) pass through untouched.
    *
    * `closeDeparted` must stay false for INCREMENTAL (delta) extracts,
    * where absence means "unchanged", not "gone".
    */
  def scd2Merge(
      dim: DataFrame,
      staged: DataFrame,
      keyCols: Seq[String],
      attrCols: Seq[String],
      batchTs: String,
      closeDeparted: Boolean = false): DataFrame = {

    val history = dim.filter(!col(CurrentCol))
    val current = dim.filter(col(CurrentCol))

    val cur = current.withColumn("_hash", rowHash(attrCols))
    val stg = guarded(staged, keyCols).withColumn("_hash_stg", rowHash(attrCols))
      .select((stagedKeys(keyCols) :+
        col("_hash_stg")) ++ attrCols.map(c => col(c).as(s"_stg_$c")): _*)

    val keyEq = keyCols.map(c => col(c) === col(s"_k_$c")).reduce(_ && _)
    val joined = cur.join(stg, keyEq, "full_outer")

    val inCur = col(CurrentCol).isNotNull
    val inStg = col("_hash_stg").isNotNull
    val changed = inCur && inStg && (col("_hash") =!= col("_hash_stg"))
    // soft delete: close the open version of a key absent from an
    // authoritative staged extract (no replacement row is opened).
    val closes = changed || (lit(closeDeparted) && inCur && !inStg)

    val dimCols = current.columns.toSeq

    // current row carried forward: unchanged as-is, changed/departed closed.
    val carried = struct(dimCols.map {
      case ToCol => when(closes, lit(batchTs).cast("timestamp"))
        .otherwise(col(ToCol)).as(ToCol)
      case CurrentCol => (!closes).as(CurrentCol)
      case c => col(c).as(c)
    }: _*)

    // new open version: changed keys + brand-new keys.
    val openedCol = (keyCols.map(c => c -> coalesce(col(c), col(s"_k_$c"))) ++
      attrCols.map(c => c -> col(s"_stg_$c")) ++ Seq(
        FromCol -> lit(batchTs).cast("timestamp"),
        ToCol -> lit(HighDate).cast("timestamp"),
        CurrentCol -> lit(true))).toMap
    val opened = struct(dimCols.map(c => openedCol(c).as(c)): _*)

    // each joined row yields its carried and/or its opened version, so
    // the full outer join runs once instead of splitting into a left and
    // a right outer join, one per union branch.
    val versions = joined.select(inline(filter(
      array(when(inCur, carried), when(inStg && (!inCur || changed), opened)),
      (v: Column) => v.isNotNull)))

    history.select(dimCols.map(col): _*).unionByName(versions)
  }

  /** SCD Type 3 apply: limited history IN PLACE — one previous-value
    * column per tracked attribute instead of SCD2's versioned rows.
    * On change: `<attr>_prev` ← current value, `<attr>` ← staged value,
    * `changed_at` ← batchTs; unchanged and absent keys pass through;
    * brand-new keys enter with NULL prev. The Kimball use case is
    * "current vs immediately-prior" reporting (e.g. territory
    * realignment) where full history is overkill and the dimension
    * must stay one-row-per-key.
    *
    * 100 TB: same single key-hash-partitioned full-outer join as SCD1 —
    * no history rows to carry, so the merge input never grows with
    * time (unlike SCD2, whose history pass-through should live in a
    * separate partition). */
  def scd3Apply(
      dim: DataFrame,
      staged: DataFrame,
      keyCols: Seq[String],
      attrCol: String,
      batchTs: String): DataFrame = {

    val stg = guarded(staged, keyCols).select(
      (stagedKeys(keyCols) :+ col(attrCol).as("_stg_v")): _*)
    val keyEq = keyCols.map(c => col(c) === col(s"_k_$c")).reduce(_ && _)
    val joined = dim.join(stg, keyEq, "full_outer")

    val inStg = col(s"_k_${keyCols.head}").isNotNull
    val inCur = col(keyCols.head).isNotNull
    val changed = inStg && inCur && !(col("_stg_v") <=> col(attrCol))
    joined.select(
      (keyCols.map(c => coalesce(col(c), col(s"_k_$c")).as(c)) :+
        when(inStg, col("_stg_v")).otherwise(col(attrCol)).as(attrCol) :+
        when(changed, col(attrCol)).otherwise(col(s"${attrCol}_prev"))
          .as(s"${attrCol}_prev") :+
        when(changed, lit(batchTs).cast("timestamp"))
          .otherwise(col("changed_at")).as("changed_at")): _*)
  }

  /** SCD1 apply: overwrite changed attributes in place, insert new keys,
    * no history. Returns the post-merge dimension.
    *
    * The staged extract is AUTHORITATIVE for every key it contains:
    * presence is detected via the staged key (business keys are
    * non-null by contract), so a staged NULL attribute overwrites a
    * current value — and the `changed` flag, computed with the same
    * null-safe comparison, agrees with the applied effect in every
    * direction (value→NULL, NULL→value, value→value). */
  def scd1Apply(
      dim: DataFrame,
      staged: DataFrame,
      keyCols: Seq[String],
      attrCols: Seq[String]): DataFrame = {

    val stg = guarded(staged, keyCols).select(
      (stagedKeys(keyCols) ++
        attrCols.map(c => col(c).as(s"_stg_$c"))): _*)
    val keyEq = keyCols.map(c => col(c) === col(s"_k_$c")).reduce(_ && _)
    val joined = dim.join(stg, keyEq, "full_outer")

    val inStg = col(s"_k_${keyCols.head}").isNotNull
    joined.select(
      (keyCols.map(c => coalesce(col(c), col(s"_k_$c")).as(c)) ++
        attrCols.map(c =>
          when(inStg, col(s"_stg_$c")).otherwise(col(c)).as(c)) :+
        (inStg &&
          col(keyCols.head).isNotNull &&
          // null-safe: a NULL attr overwritten by a value (or a value
          // by NULL) must flag changed=true, not NULL (=!= propagates
          // nulls)
          attrCols.map(c => !(col(s"_stg_$c") <=> col(c))).reduce(_ || _))
          .as("changed")): _*)
  }
}
