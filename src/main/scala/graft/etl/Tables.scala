package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types._

/** Explicit-schema readers for the driver-generated testdata tables.
  *
  * The reference never relies on schema inference: it introspects the remote
  * schema (`describe`, oxidized-force/src/client.rs:208-212) and freezes it
  * before reading. We mirror that discipline — every scan carries an explicit
  * `StructType`, so at 100 TB the reader never pays an inference pass and the
  * parquet scan prunes columns/predicates against a known schema.
  * Maintained state keeps the same rule: `Streams.readState` freezes a
  * committed generation's schema from its own footer.
  */
object Tables {

  val region: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val nation: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val customer: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplier: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val part: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val orders: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val lineitem: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** events.ts arrives as a parquet INT64 timestamp whose UNIT has
    * changed across driver testdata generations: TIMESTAMP(NANOS) in
    * earlier rounds (which Spark's micros timestamp type can't scan
    * directly), TIMESTAMP(MICROS, NTZ) in regenerated data. Both scan
    * uniformly as the raw INT64 (via `nanosAsLong` for the NANOS case)
    * — so watermark/split predicates stay pushable simple comparisons —
    * and convert with integer DIV by [[eventsTsDivisor]] (footer-
    * detected, 1000 for nanos / 1 for micros). Integer DIV, not float:
    * float division would lose precision above 2^53 ns (~mid-1970);
    * DIV truncates toward -∞ for positive epochs exactly like DuckDB's
    * ns→µs narrowing.
    */
  val eventsRaw: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val events: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  val documents: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddings: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Scan one table with its frozen schema (REST query scan S1 / paged scan
    * S2 in SURVEY §2.1 — Spark's partitioned parquet read subsumes the
    * reference's `total_size`/`done` page protocol, response.rs:6-10).
    */
  /** Footer-detected raw-INT64→µs divisor for `path`'s ts column: 1000
    * when the file is TIMESTAMP(NANOS) (inferred LongType under
    * `nanosAsLong`), 1 when it is already micros (inferred
    * Timestamp/TimestampNTZ). One cached metadata read per path — the
    * regenerated driver testdata switched units mid-project, and a
    * hardcoded divisor turned every event timestamp 1000× off (three
    * data-dependent specs went red before any query did). The cache key
    * carries the file's (mtime, size) fingerprint, not just its path:
    * a fixture regenerated in-place with a different timestamp unit
    * while the JVM is alive gets a fresh footer probe, not a stale
    * divisor — the exact 1000×-off failure this cache was built to fix.
    */
  private val tsDivCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def eventsTsDivisor(spark: SparkSession, dir: String): Long = {
    // the conf is needed by every subsequent eventsRaw scan of a NANOS
    // file, not just the footer probe — set it on every call (cheap)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    // (max mtime, total length) over the file or directory tree — two
    // stat calls per part, far cheaper than the footer read it guards
    def sig(f: java.io.File): (Long, Long) =
      if (f.isDirectory) {
        val cs = Option(f.listFiles()).getOrElse(Array.empty).map(sig)
        (cs.foldLeft(f.lastModified)((m, c) => math.max(m, c._1)),
          cs.map(_._2).sum)
      } else (f.lastModified, f.length)
    val (mtime, len) = sig(new java.io.File(path))
    tsDivCache.computeIfAbsent(s"$path@$mtime:$len", _ =>
      spark.read.parquet(path).schema("ts").dataType match {
        case LongType => 1000L
        case _ => 1L
      }).longValue()
  }

  /** Raw events scan: ts as epoch INT64 in the file's NATIVE unit (so
    * watermark/split predicates push into the parquet scan as plain
    * comparisons), paired with the ns→µs divisor callers must apply —
    * `timestamp_micros(ts DIV divisor)` — after raw-unit filtering.
    */
  def eventsRawScan(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val div = eventsTsDivisor(spark, dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    (spark.read.schema(eventsRaw).parquet(s"$dir/events.parquet"), div)
  }

  /** Incremental events scan: applies the high-water-mark predicate on the
    * RAW INT64 column, before the →µs conversion. Filtering the converted
    * timestamp cannot push down (parquet sees `timestamp_micros(ts DIV
    * d) > X`, an opaque expression); filtering the raw column pushes
    * `GreaterThanOrEqual(ts, X·d)` into the scan — at 100 TB that's
    * row-group pruning on the watermark instead of a full-table read.
    */
  def eventsSince(spark: SparkSession, dir: String,
      watermark: java.time.Instant): DataFrame = {
    // "strictly after wm at µs resolution": trunc_µs(ts) > wm_µs
    // ⟺ raw ≥ (wm_µs + 1)·div — raw ns in (wm, wm+999] truncate to
    // exactly wm_µs and must be EXCLUDED, so a plain `raw > wm_ns` would
    // over-include at the boundary. (For micros files div = 1 and the
    // bound degenerates to the plain strict comparison.)
    val wmMicros = watermark.getEpochSecond * 1000000L +
      watermark.getNano / 1000L
    val (raw, div) = eventsRawScan(spark, dir)
    raw.filter(col("ts") >= lit((wmMicros + 1L) * div))
      .withColumn("ts", expr(s"timestamp_micros(ts DIV $div)"))
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      val (raw, div) = eventsRawScan(spark, dir)
      raw.withColumn("ts", expr(s"timestamp_micros(ts DIV $div)"))
    } else
      spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")
}
