package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Explicit schemas + readers for the ten test tables.
  *
  * The reference declares "data integrity and consistency"
  * (/root/reference/README.md:12) — we read every table with an explicit
  * fail-fast `StructType` rather than relying on inference, so a schema
  * drift in upstream parquet surfaces at plan time, not mid-job.
  *
  * 100 TB note: explicit schemas also skip the footer-sampling pass Spark
  * does for inference, which matters when a table is millions of files.
  */
object Tables {

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  val region: StructType = st(
    "r_regionkey" -> IntegerType, "r_name" -> StringType)

  val nation: StructType = st(
    "n_nationkey" -> IntegerType, "n_name" -> StringType,
    "n_regionkey" -> IntegerType)

  val customer: StructType = st(
    "c_custkey" -> LongType, "c_name" -> StringType,
    "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
    "c_mktsegment" -> StringType)

  val supplier: StructType = st(
    "s_suppkey" -> LongType, "s_name" -> StringType,
    "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)

  val part: StructType = st(
    "p_partkey" -> LongType, "p_name" -> StringType,
    "p_brand" -> StringType, "p_type" -> StringType,
    "p_size" -> IntegerType, "p_retailprice" -> DoubleType)

  val orders: StructType = st(
    "o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType)

  val lineitem: StructType = st(
    "l_orderkey" -> LongType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
    "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> TimestampType)

  val events: StructType = st(
    "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
    "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)

  val documents: StructType = st(
    "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
    "source" -> StringType, "n_chars" -> LongType)

  val embeddings: StructType = st(
    "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
    "label" -> IntegerType)

  val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** events.parquet stores ts as INT64 TIMESTAMP(NANOS), which Spark's
    * µs TimestampType refuses to read directly. We read the raw ns longs
    * (legacy conf) and FLOOR-divide to µs in exact integer math —
    * `div` alone truncates toward zero, which disagrees with DuckDB's
    * floor for pre-1970 (negative) nanos by 1 µs; subtracting the
    * non-negative `pmod` first makes the division exact floor for all
    * longs, so oracle timestamps agree on any epoch sign. */
  val eventsRawSchema: StructType = st(
    "event_id" -> LongType, "ts" -> LongType, "user_id" -> LongType,
    "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType)

  /** Memoized events-footer probe: whether `$sfDir/events.parquet`
    * stores ts as raw ns longs is a property of the FILE, but the probe
    * costs a driver-side file listing + footer read, and ~25
    * event-reading keys paid it on EVERY load call. Keyed by the
    * table's [[Fixtures.corpusFingerprint]], so an events table
    * rewritten in place ([[graft.ScaleUp]] writes plain µs where driver
    * testdata stores raw ns) is probed again. */
  private val eventsNanosCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Read one of the ten tables with its explicit schema. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // deliberately NOT save/restored: the conf is read at scan
      // execution, and the returned DataFrame is lazy — restoring here
      // would unset it before the file is actually read. Harmless to
      // leave on: every other table is loaded with an explicit schema,
      // so a ns column can never silently become LongType elsewhere.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the driver's events.parquet stores ns (footer infers LongType
      // under the legacy conf); [[graft.ScaleUp]] output stores plain
      // µs TimestampType — probe the footer once per table version
      // and take either path
      val storedNanos: Boolean = eventsNanosCache.computeIfAbsent(
        s"$sfDir#${Fixtures.corpusFingerprint(sfDir, "events")}",
        _ => spark.read.parquet(s"$sfDir/events.parquet")
          .schema("ts").dataType == LongType)
      if (storedNanos)
        spark.read.schema(eventsRawSchema).parquet(s"$sfDir/events.parquet")
          .withColumn("ts",
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000)) div 1000")))
      else
        spark.read.schema(events).parquet(s"$sfDir/events.parquet")
    } else {
      spark.read.schema(schemas(name)).parquet(s"$sfDir/$name.parquet")
    }
}
