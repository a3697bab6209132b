package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.Scd

/** SCD2 invariants (SURVEY.md §5.2(3)):
  *  - per business key: exactly one is_current row;
  *  - [from, to) intervals tile without overlap;
  *  - unchanged rows survive merges untouched;
  *  - re-merging the same staged batch is a no-op (idempotency).
  * Exercised on seeded-random batches, not just the happy path.
  */
class ScdSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def dim(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("id", "name", "seg")

  private val t1 = "2020-01-01 00:00:00"
  private val t2 = "2021-01-01 00:00:00"
  private val t3 = "2022-01-01 00:00:00"

  test("scd3: prev column chains across merges, new keys enter with null prev") {
    val d0 = Seq((1L, "A"), (2L, "B")).toDF("id", "seg")
      .withColumn("seg_prev", lit(null).cast("string"))
      .withColumn("changed_at", lit(null).cast("timestamp"))
    // merge 1: key 1 changes A→X, key 3 is brand-new
    val m1 = Scd.scd3Apply(d0, Seq((1L, "X"), (3L, "C")).toDF("id", "seg"),
      Seq("id"), "seg", t2)
    val r1 = m1.collect().map(r => r.getLong(0) ->
      (r.getString(1), r.getString(2), Option(r.getTimestamp(3)))).toMap
    assert(r1(1L) === (("X", "A", Some(java.sql.Timestamp.valueOf(t2)))))
    assert(r1(2L) === (("B", null, None)), "absent key passes through")
    assert(r1(3L) === (("C", null, None)), "brand-new key has no prior value")
    // merge 2: key 1 changes again X→Y — prev must now hold X (one step
    // of history, not the original A); key 3 restated unchanged
    val m2 = Scd.scd3Apply(m1, Seq((1L, "Y"), (3L, "C")).toDF("id", "seg"),
      Seq("id"), "seg", t3)
    val r2 = m2.collect().map(r => r.getLong(0) ->
      (r.getString(1), r.getString(2), Option(r.getTimestamp(3)))).toMap
    assert(r2(1L) === (("Y", "X", Some(java.sql.Timestamp.valueOf(t3)))))
    assert(r2(3L) === (("C", null, None)), "unchanged restatement is a no-op")
    assert(m2.count() === 3, "type 3 keeps exactly one row per key")
  }

  private def checkInvariants(d: DataFrame): Unit = {
    val cur = d.filter(col(Scd.CurrentCol))
      .groupBy(col("id")).count().filter(col("count") =!= 1).count()
    assert(cur === 0, "every key must have exactly one is_current row")

    // non-overlapping, tiling intervals per key
    val rows = d.select("id", Scd.FromCol, Scd.ToCol)
      .collect().groupBy(_.getLong(0))
    rows.foreach { case (id, rs) =>
      val ivs = rs.map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
        .sortBy(_._1)
      ivs.foreach { case (f, t) => assert(f < t, s"key $id: empty/negative interval") }
      ivs.sliding(2).foreach {
        case Array((_, t0), (f1, _)) =>
          assert(t0 === f1, s"key $id: intervals must tile (close == next open)")
        case _ =>
      }
    }
  }

  test("scd2: changed key closes and reopens; new key inserts; unchanged passes through") {
    val d0 = Scd.initialLoad(dim(Seq((1L, "a", "X"), (2L, "b", "Y"))), t1)
    val staged = dim(Seq((1L, "a", "X"), (2L, "b", "Z"), (3L, "c", "W")))
    val d1 = Scd.scd2Merge(d0, staged, Seq("id"), Seq("name", "seg"), t2)

    checkInvariants(d1)
    assert(d1.count() === 4) // 1 unchanged + closed 2 + reopened 2 + new 3
    val closed = d1.filter(col("id") === 2 && !col(Scd.CurrentCol)).collect()
    assert(closed.length === 1 && closed(0).getAs[String]("seg") === "Y")
    val open2 = d1.filter(col("id") === 2 && col(Scd.CurrentCol)).collect()
    assert(open2(0).getAs[String]("seg") === "Z")
    val k1 = d1.filter(col("id") === 1).collect()
    assert(k1.length === 1 && k1(0).getAs[Boolean](Scd.CurrentCol))
  }

  test("scd2: re-merging the same staged batch is a no-op (idempotent)") {
    val d0 = Scd.initialLoad(dim(Seq((1L, "a", "X"), (2L, "b", "Y"))), t1)
    val staged = dim(Seq((1L, "a", "Q"), (2L, "b", "Y")))
    val d1 = Scd.scd2Merge(d0, staged, Seq("id"), Seq("name", "seg"), t2)
    val d2 = Scd.scd2Merge(d1, staged, Seq("id"), Seq("name", "seg"), t3)
    assert(d1.count() === d2.count())
    checkInvariants(d2)
  }

  test("scd2 invariants hold across seeded-random merge chains") {
    val rnd = new scala.util.Random(42)
    val keys = (1L to 20L)
    def batch(): Seq[(Long, String, String)] =
      keys.filter(_ => rnd.nextBoolean()).map(k =>
        (k, s"n$k", s"s${rnd.nextInt(3)}"))
    var d = Scd.initialLoad(dim(batch()), t1)
    Seq(t2, t3, "2023-01-01 00:00:00").foreach { ts =>
      d = Scd.scd2Merge(d, dim(batch()), Seq("id"), Seq("name", "seg"), ts)
    }
    checkInvariants(d)
  }

  test("scd1: overwrite in place, insert new, flag changes") {
    val cur = dim(Seq((1L, "a", "X"), (2L, "b", "Y")))
    val staged = dim(Seq((2L, "b", "Z"), (3L, "c", "W")))
    val out = Scd.scd1Apply(cur, staged, Seq("id"), Seq("name", "seg"))
      .orderBy("id").collect()
    assert(out.length === 3)
    assert(out(0).getAs[String]("seg") === "X") // untouched
    assert(out(1).getAs[String]("seg") === "Z" && out(1).getAs[Boolean]("changed"))
    assert(out(2).getAs[String]("seg") === "W") // insert
  }

  test("rowHash: boundary-shift and NULL-vs-empty collisions are impossible") {
    import org.apache.spark.sql.functions.{col => c}
    val df = Seq(
      ("ab", "c"),
      ("a", "bc"),
      (null.asInstanceOf[String], ""),
      ("", null.asInstanceOf[String]),
      ("", ""))
      .toDF("x", "y")
      .select(Scd.rowHash(Seq("x", "y")).as("h"))
    val hashes = df.collect().map(_.getString(0))
    assert(hashes.distinct.length === 5,
      s"all five attr combinations must hash differently: ${hashes.toSeq}")
  }

  test("scd1: NULL attr overwritten by a value flags changed=true, not NULL") {
    val cur = Seq((1L, "a", null.asInstanceOf[String]), (2L, "b", "Y"))
      .toDF("id", "name", "seg")
    val staged = Seq((1L, "a", "X"), (2L, "b", null.asInstanceOf[String]))
      .toDF("id", "name", "seg")
    val out = Scd.scd1Apply(cur, staged, Seq("id"), Seq("name", "seg"))
      .orderBy("id").collect()
    assert(out(0).getAs[String]("seg") === "X")
    assert(out(0).getAs[Boolean]("changed") === true, "NULL→X must be a change")
    // the staged batch is authoritative for keys it contains: a staged
    // NULL OVERWRITES the current value, and the flag agrees with the
    // applied effect (pinned semantics — VERDICT r1 "what's wrong" #1)
    assert(out(1).getAs[String]("seg") === null, "Y→NULL must apply the NULL")
    assert(out(1).getAs[Boolean]("changed") === true)
  }

  test("scd1/scd2: duplicate business keys in one staged batch fail loudly") {
    val cur = dim(Seq((1L, "a", "X")))
    val dup = dim(Seq((1L, "a", "Y"), (1L, "a", "Z"), (2L, "b", "W")))
    val e1 = intercept[Exception] {
      Scd.scd1Apply(cur, dup, Seq("id"), Seq("name", "seg")).collect()
    }
    assert(e1.getMessage.contains("duplicate business key"),
      s"unexpected failure: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      Scd.scd2Merge(Scd.initialLoad(cur, t1), dup,
        Seq("id"), Seq("name", "seg"), t2).collect()
    }
    assert(e2.getMessage.contains("duplicate business key"),
      s"unexpected failure: ${e2.getMessage}")
    // a batch with distinct keys sails through the same guard
    val ok = dim(Seq((1L, "a", "Y"), (2L, "b", "W")))
    assert(Scd.scd1Apply(cur, ok, Seq("id"), Seq("name", "seg")).count() === 2)
  }

  /** Walks the executed adaptive plan, query stages included. */
  private object Executed extends AdaptiveSparkPlanHelper

  /** The three merges of `staged` into a dimension built from `cur`. */
  private def merges(cur: DataFrame, staged: DataFrame): Seq[(String, DataFrame)] = {
    val scd3Dim = cur.select(col("id"), col("seg"))
      .withColumn("seg_prev", lit(null).cast("string"))
      .withColumn("changed_at", lit(null).cast("timestamp"))
    Seq(
      "scd1Apply" -> Scd.scd1Apply(cur, staged, Seq("id"), Seq("name", "seg")),
      "scd2Merge" -> Scd.scd2Merge(Scd.initialLoad(cur, t1), staged,
        Seq("id"), Seq("name", "seg"), t2),
      "scd3Apply" -> Scd.scd3Apply(scd3Dim, staged.select("id", "seg"),
        Seq("id"), "seg", t2))
  }

  // The merge's physical shape: one join, and a staged side (the one
  // holding the duplicate guard's window) that crosses exactly one
  // shuffle and one sort, the window's, which the join reuses.
  test("scd merges: one join, and the staged batch is shuffled and sorted once") {
    val cur = dim((1L to 40L).map(k => (k, s"n$k", "X")))
    val staged = dim((20L to 60L).map(k => (k, s"n$k", if (k % 2 == 0) "Y" else "X")))
    for ((name, merged) <- merges(cur, staged)) {
      merged.collect()
      val plan = merged.queryExecution.executedPlan
      val joins = Executed.collect(plan) { case j: BaseJoinExec => j }
      assert(joins.size === 1, s"$name joins: $plan")
      val stagedSide = joins.head.children
        .filter(c => Executed.find(c)(_.isInstanceOf[WindowExec]).isDefined)
      assert(stagedSide.size === 1, s"$name: no single guarded side in $plan")
      val shuffles = Executed.collect(stagedSide.head) { case e: ShuffleExchangeExec => e }
      assert(shuffles.size === 1, s"$name staged-side shuffles: $plan")
      val sorts = Executed.collect(stagedSide.head) { case s: SortExec => s }
      assert(sorts.size === 1, s"$name staged-side sorts: $plan")
    }
  }

  test("duplicate-key guard fires under count() and a key-only select, in all three merges") {
    val cur = dim(Seq((1L, "a", "X")))
    val dup = dim(Seq((1L, "a", "Y"), (1L, "a", "Z"), (2L, "b", "W")))
    for {
      (name, merged) <- merges(cur, dup)
      (how, run) <- Seq[(String, DataFrame => Any)](
        "count()" -> (_.count()),
        "a key-only select" -> (_.select("id").collect()))
    } {
      val e = intercept[Exception](run(merged))
      assert(e.getMessage.contains("duplicate business key"),
        s"$name under $how: ${e.getMessage}")
    }
  }

  test("scd2: NULL→value attribute transition closes and reopens the version") {
    val d0 = Scd.initialLoad(
      Seq((1L, "a", null.asInstanceOf[String])).toDF("id", "name", "seg"), t1)
    val staged = Seq((1L, "a", "X")).toDF("id", "name", "seg")
    val d1 = Scd.scd2Merge(d0, staged, Seq("id"), Seq("name", "seg"), t2)
    checkInvariants(d1)
    assert(d1.count() === 2, "NULL→X must be detected as a change")
    val open = d1.filter(col(Scd.CurrentCol)).collect()
    assert(open.length === 1 && open(0).getAs[String]("seg") === "X")
  }

  test("scd2 soft delete: departed key closes with no replacement; default keeps it open") {
    val d0 = Scd.initialLoad(dim(Seq((1L, "a", "X"), (2L, "b", "Y"))), t1)
    val staged = dim(Seq((1L, "a", "X"))) // key 2 departed
    // default: absence means unchanged — key 2 stays open
    val keep = Scd.scd2Merge(d0, staged, Seq("id"), Seq("name", "seg"), t2)
    assert(keep.filter(col("id") === 2 && col(Scd.CurrentCol)).count() === 1)
    // authoritative extract: key 2's open version closes at t2, nothing opens
    val del = Scd.scd2Merge(d0, staged, Seq("id"), Seq("name", "seg"), t2,
      closeDeparted = true)
    val k2 = del.filter(col("id") === 2).collect()
    assert(k2.length === 1 && !k2(0).getAs[Boolean](Scd.CurrentCol))
    assert(k2(0).getAs[java.sql.Timestamp](Scd.ToCol).toString.startsWith("2021-01-01"))
    assert(k2(0).getAs[String]("seg") === "Y", "closed row keeps its last attrs")
    // untouched key 1 still has exactly one open row
    assert(del.filter(col("id") === 1 && col(Scd.CurrentCol)).count() === 1)
    assert(del.count() === 2)
  }

  test("scd2 soft delete: departed-then-returned key re-enters with a validity gap") {
    val d0 = Scd.initialLoad(dim(Seq((1L, "a", "X"))), t1)
    val d1 = Scd.scd2Merge(d0, dim(Seq.empty), Seq("id"), Seq("name", "seg"), t2,
      closeDeparted = true) // departs at t2
    assert(d1.filter(col(Scd.CurrentCol)).count() === 0)
    val d2 = Scd.scd2Merge(d1, dim(Seq((1L, "a", "Z"))), Seq("id"), Seq("name", "seg"), t3,
      closeDeparted = true) // returns at t3
    val rows = d2.orderBy(Scd.FromCol).collect()
    assert(rows.length === 2)
    // closed history preserved: [t1, t2) X, then a gap [t2, t3), then [t3, ∞) Z
    assert(rows(0).getAs[String]("seg") === "X" &&
      !rows(0).getAs[Boolean](Scd.CurrentCol) &&
      rows(0).getAs[java.sql.Timestamp](Scd.ToCol).toString.startsWith("2021-01-01"))
    assert(rows(1).getAs[String]("seg") === "Z" &&
      rows(1).getAs[Boolean](Scd.CurrentCol) &&
      rows(1).getAs[java.sql.Timestamp](Scd.FromCol).toString.startsWith("2022-01-01"),
      "returned key must re-open at the return batch, leaving the absence gap")
  }

  test("scd2: empty staged batch leaves the dimension unchanged") {
    val d0 = Scd.initialLoad(dim(Seq((1L, "a", "X"))), t1)
    val empty = dim(Seq.empty)
    val d1 = Scd.scd2Merge(d0, empty, Seq("id"), Seq("name", "seg"), t2)
    assert(d1.count() === 1)
    checkInvariants(d1)
  }

  test("bitemporal: one belief per (tx, valid) probe; only corrected keys change") {
    import TestSpark.Sf
    val out = graft.etl.Etl.bitemporal(TestSpark.spark, Sf).collect()
    // the join produced exactly one row per key ⇒ each point-in-time
    // probe returned exactly one belief (no overlap on either axis)
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    assert(out.length.toLong ==
      graft.core.Tables.load(TestSpark.spark, Sf, "customer").count())
    val changed = out.filter(r => r.getString(1) != r.getString(2))
    // a retroactive correction changes the belief only via VIP
    assert(changed.nonEmpty && changed.forall(_.getString(2) == "VIP"))
    // and uncorrected keys believe the same thing at both tx probes
    out.filterNot(r => r.getString(2) == "VIP" && r.getString(1) != "VIP")
      .foreach(r => assert(r.getString(1) == r.getString(2)))
  }

  test("scd4: current stays one-row-per-key; history holds exactly the pre-images") {
    import TestSpark.Sf
    val out = graft.etl.Etl.scd4(TestSpark.spark, Sf).collect()
    val (cur, hist) = out.partition(_.getAs[String]("table_role") == "current")
    // Type 4's defining property: the hot table never grows versions
    assert(cur.map(_.getLong(0)).distinct.length == cur.length)
    assert(cur.length ==
      graft.core.Tables.load(TestSpark.spark, Sf, "customer").count())
    // every history row is a superseded pre-image: same key exists in
    // current with a DIFFERENT attribute value, stamped with the batch
    val curSeg = cur.map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(hist.nonEmpty, "fixture should supersede someone")
    hist.foreach { h =>
      assert(curSeg(h.getLong(0)) == "VIP" && h.getString(2) != "VIP")
      assert(h.getAs[String]("superseded_at") == "2021-06-01 00:00:00")
    }
    // and current rows never carry a supersession stamp
    assert(cur.forall(_.isNullAt(4)))
  }

  test("cdc change set: (key, _seq) stays unique when base keys cross the " +
    "old 1e6 insert offset (sf10 regression)") {
    // 1000110 % 5 == 0 (gets a _seq=1 update) and 110 % 11 == 0 (derives
    // a _seq=1 insert); with a +1e6 insert offset both land on key
    // 1000110 (neither divisible by 7, so no delete tombstone interferes) — a row_number tie Spark and the SQL oracle broke
    // differently at sf10. The law: a CDC feed never emits two ops for
    // one key at one sequence number, at any corpus scale.
    val dir = java.nio.file.Files.createTempDirectory("cdc_keyspace").toString
    Seq((110L, "Customer#110", "AUTOMOBILE"),
      (1000110L, "Customer#1000110", "BUILDING"),
      (7L, "Customer#7", "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val changes = graft.etl.Etl.cdcChangeSet(spark, dir)
    val dupSeqKeys = changes.groupBy(col("c_custkey"), col("_seq"))
      .count().filter(col("count") > 1).count()
    assert(dupSeqKeys == 0, "two change ops share one (key, _seq)")
    // and the applied result keeps the collided key's own update
    val applied = graft.etl.Etl.cdcApply(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(applied(1000110L) == "CDC-U")
    assert(applied(10000000110L) == "CDC-I")
  }
}
