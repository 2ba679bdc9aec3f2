package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Load-side transforms: the reference delegates loading to the target
  * database via generated DDL (sql-builder/src/main.rs:77-79); the dynamic
  * parts of that contract — defaults, multipicklist decoding, JSON columns,
  * latest-record dedup — become DataFrame transforms here.
  */
object Load {

  /** Apply column defaults at load time (the `DEFAULT` clause the reference
    * renders into DDL, sql/generators/pg.rs:44-47 / WrappedDefault
    * sql/types.rs:47-60): `coalesce(col, default)` per configured column.
    */
  def applyDefaults(df: DataFrame, defaults: Map[String, Any]): DataFrame =
    defaults.foldLeft(df) { case (d, (name, v)) =>
      d.withColumn(name, coalesce(col(name), lit(v)))
    }

  /** Typed variant over the `SqlDefault` domain (the reference's
    * `WrappedDefault`, sql/types.rs:47-60): each default is type-checked
    * against its column before any plan is built, and the literal is cast
    * to the column's exact type so `coalesce` never silently widens the
    * schema (an untyped bigint literal over an int column would).
    */
  def applyTypedDefaults(df: DataFrame,
      defaults: Map[String, graft.schema.SqlDefault]): DataFrame = {
    import graft.schema.SqlDefault._
    defaults.foldLeft(df) { case (d, (name, sd)) =>
      val field = df.schema.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column '$name'"))
      require(sd.admits(field.dataType),
        s"default $sd does not admit column '$name' of ${field.dataType}")
      val v: Column = sd match {
        case Text(s) => lit(s)
        case Num(n) => lit(n)
        case Big(n) => lit(new java.math.BigDecimal(n.bigInteger))
        case Fl(f) => lit(f)
        case Dbl(x) => lit(x)
        case Bool(b) => lit(b)
        case DateV(x) => lit(java.sql.Date.valueOf(x))
        case DateTimeV(x) => lit(java.sql.Timestamp.from(x))
        case Custom(sql) => expr(sql)
      }
      d.withColumn(name, coalesce(col(name), v.cast(field.dataType)))
    }
  }

  /** Decode a MultiPicklist column: the wire carries `"a;b;c"`, the schema
    * says array(varchar) (main.rs:88) — load-time `split` on `;`.
    * Null-safe: null stays null, empty string → empty array.
    */
  def splitMultiPicklist(c: Column): Column =
    when(c.isNull, lit(null).cast("array<string>"))
      .when(length(c) === 0, array().cast("array<string>"))
      .otherwise(split(c, ";"))

  /** Keep the newest record per key — the classic SF ETL upsert-compaction
    * (SystemModstamp high-water dedup; SURVEY §2.5 W4). At scale this is a
    * single hash-partition shuffle on the key; no driver-side state.
    */
  def latestByKey(df: DataFrame, key: String, modstamp: String,
      tiebreak: Seq[String] = Nil): DataFrame = {
    val ord = (desc(modstamp) +: tiebreak.map(desc)) :+ desc(key)
    val w = Window.partitionBy(col(key)).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Write a table hive-partitioned by a column (one directory per
    * value). The OTHER 100 TB lever next to bucketing: a time/tenant
    * filter then prunes whole partitions at PLANNING time — the scan
    * never lists, let alone reads, the excluded directories
    * (PartitionPruneSpec proves file-level pruning). Keep partition
    * cardinality bounded (days, not user ids): each value is a
    * directory, and millions of tiny partitions thrash the listing path.
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Rewrite a parquet directory into ~`targetMB`-sized files — the
    * small-file compaction every long-lived ingest needs: a 100 TB table
    * accreted from per-trigger streaming writes or many tiny loads
    * degrades listing, scheduling, and scan throughput (one task per
    * tiny file). Sizing uses the ACTUAL on-disk bytes, not a row-count
    * guess, and writes to a fresh directory (atomic swap is the caller's
    * rename — never compact in place, a failed job would destroy data).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, targetMB: Int = 128): Unit = {
    // Hadoop FileSystem, recursive — java.io.File would size only a flat
    // LOCAL directory: on HDFS/object-store URIs or hive-partitioned
    // layouts (the actual 100 TB deployments of this lever) it returned
    // 0 bytes and silently compacted everything into ONE file.
    val bytes = {
      val p = new org.apache.hadoop.fs.Path(inPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.getFileStatus(p).isDirectory,
        s"$inPath is not a directory")
      val it = fs.listFiles(p, true)
      var b = 0L
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) b += st.getLen
      }
      b
    }
    val nFiles = math.max(1, (bytes / (targetMB * 1024L * 1024L)).toInt)
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode("errorifexists").parquet(outPath)
  }

  /** Write a table range-partitioned AND sorted on a column — the
    * data-LAYOUT lever next to hive partitioning (writePartitioned) and
    * bucketing (writeBucketed): parquet records per-row-group min/max
    * statistics, and a sorted layout makes consecutive row groups'
    * ranges DISJOINT, so a point/range predicate on the sort column
    * prunes all but the few overlapping groups at scan time (the
    * footer-level analogue of partition pruning — no directory scheme
    * needed, works for high-cardinality columns where one-directory-
    * per-value would thrash listing). On an unsorted layout every row
    * group spans nearly the full value range and NOTHING prunes.
    * LayoutSpec proves the pruning from the written footers themselves.
    * At 100 TB: sort the fact table by its dominant filter column (time,
    * usually) at ingest; repartitionByRange keeps the sort global across
    * files so file-level skipping composes with row-group skipping.
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
      partitions: Int): Unit =
    withMicrosTimestamps(df) {
      df.repartitionByRange(partitions, col(sortCol))
        .sortWithinPartitions(sortCol)
        .write.mode("overwrite").parquet(path)
    }

  /** Spark still defaults parquet timestamps to INT96, which carries NO
    * min/max statistics — a clustered layout whose cluster column has no
    * stats cannot prune anything, silently defeating the whole lever
    * (measured: every row group reports has_min_max=false). Write
    * TIMESTAMP_MICROS for the duration of the body; scoped + restored
    * since it's a session-wide conf (no per-write option exists).
    */
  private def withMicrosTimestamps(df: DataFrame)(body: => Unit): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Bit-interleave the low `bits` of two non-negative longs — the
    * Z-order (Morton) curve key. Pure shift/and/or column arithmetic, so
    * the whole key stays inside whole-stage codegen.
    */
  def zInterleave(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(shiftright(a, i).bitwiseAND(lit(1L)),
          2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }

  /** Write a layout clustered on the Z-order curve over TWO columns —
    * the multi-dimensional generalization of `writeSorted`: a single
    * sort column makes one predicate prunable; interleaving the bits of
    * two columns makes row-group min/max tight on BOTH, so time-range
    * scans AND key-range scans each skip most of the table from the same
    * copy (the lever Delta/Iceberg expose as OPTIMIZE ZORDER BY).
    *
    * Each column is normalized to a 2^bits grid by a driver-collected
    * (min, max) — one tiny agg job, the same bounded AQE-style scalar
    * move as w5_ntile's cuts — then the interleaved key drives a range
    * partition + within-partition sort. The synthetic key is dropped
    * before the write: the layout is pure row ORDER; readers consult
    * only the natural columns' stats. Monotone normalization means
    * z-contiguous files cover axis-aligned rectangles, so each file's
    * per-column [min, max] spans ~2^(-bits_assigned) of that column's
    * range instead of all of it.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String,
      colB: String, partitions: Int, bits: Int = 16): Unit = {
    val r = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
    def norm(c: String, lo: Double, hi: Double): Column = {
      val span = if (hi > lo) hi - lo else 1.0
      floor((col(c).cast("double") - lit(lo)) / lit(span) *
        lit(((1L << bits) - 1).toDouble)).cast("long")
    }
    val z = zInterleave(
      norm(colA, r.getDouble(0), r.getDouble(1)),
      norm(colB, r.getDouble(2), r.getDouble(3)), bits)
    withMicrosTimestamps(df) {
      df.withColumn("__z", z)
        .repartitionByRange(partitions, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Write a table bucketed (and sorted) by its join key. Two tables
    * bucketed the same way join with ZERO shuffle — at 100 TB this is THE
    * lever for repeated fact⋈fact joins that broadcast can't cover
    * (dims broadcast; facts bucket). Requires a catalog table
    * (`saveAsTable`) because bucketing metadata lives in the metastore.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, location: Option[String] = None): Unit = {
    // explicit location → external table, immune to the warehouse dir
    // being cwd-relative (registered queries can't control the session's
    // warehouse conf); callers clear stale dirs before overwrite
    val w = df.write
      .mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
    location.fold(w.saveAsTable(table))(p =>
      w.option("path", p).saveAsTable(table))
  }
}
