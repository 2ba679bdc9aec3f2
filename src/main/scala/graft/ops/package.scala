package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

package object ops {

  /** A registered query: (session, testdata dir) => result. */
  type Q = (SparkSession, String) => DataFrame

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.etl.Tables.load(spark, dir, name)

  /** [[t]] repartitioned to cluster parallelism — for rows whose heavy
    * per-row expressions (gram explodes, shingle/minhash folds,
    * edit-distance verifies) otherwise run inside the scan stage: the
    * testdata tables are single-row-group parquet, so a bare scan is
    * ONE task and everything before the first exchange serializes on
    * one core (r20; guide §2.6 — the flat 32-vs-8-core scaling ratios
    * in PERF_r19 were this). The exchange moves the table itself
    * (KB-MB at test scale) to spread per-row work that costs 10-100×
    * the shuffle; at production scale multi-split inputs already scan
    * in parallel. NOT for rows whose scan-stage work is trivial — the
    * exchange is pure overhead there. Nor for iterative rows that rescan
    * their input once per round: the exchange is paid every round (r20:
    * repartitioning v_kmeans_conv's training input, a ~1.3M-flop fold
    * per Lloyd round, made the row 2× slower). */
  def tPar(spark: SparkSession, dir: String, name: String): DataFrame =
    t(spark, dir, name)
      .repartition(spark.sparkContext.defaultParallelism)

  /** Order-independent exact SUM of a double measure.
    *
    * Double addition is not associative, so a shuffled partial-agg sum is not
    * bit-reproducible across engines (or even across runs at different
    * parallelism). Casting each value to DECIMAL(18,2) first makes the sum
    * exact and associative — the same trick works at 100 TB where partial
    * aggregation order is fully nondeterministic. Cast back to double at the
    * end so both engines emit the identical IEEE value.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Round a double to n fractional digits with pure IEEE arithmetic
    * (floor(x*10^n + 0.5) / 10^n). Unlike a double→decimal cast — where Spark
    * rounds the double's shortest decimal rendering (BigDecimal HALF_UP) but
    * DuckDB rounds the binary product, so near-tie values diverge — every
    * step here (multiply, add, floor, divide) is IEEE-exact-identical in any
    * engine, making the result bit-reproducible for the hash oracle. */
  def roundf(c: Column, n: Int): Column = {
    val p = math.pow(10.0, n)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** Exact sum at 4 fractional digits for derived measures like
    * price*(1-discount): IEEE-round to the 4-decimal grid first (no ties
    * left), then exact decimal summation. */
  def dsum4(c: Column): Column =
    sum(roundf(c, 4).cast("decimal(22,4)")).cast("double")

  /** Order-independent mean: exact decimal sum / count, evaluated in IEEE
    * double at the end (deterministic regardless of aggregation order). */
  def davg(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double") / count(c)

  /** Codegen'd float-vector dot product (double left-fold — see
    * org.apache.spark.sql.graftshim.FloatVecDot for the bit-compatibility
    * contract). */
  def fdot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.FloatVecDot.fdot(a, b)

  /** Codegen'd dot product over float OR double arrays (double
    * left-fold — see org.apache.spark.sql.graftshim.VecFold for the
    * bit-compatibility contract). Replaces the CodegenFallback
    * `aggregate(zip_with(a, b, (x, y) => x.cast("double") * y), 0d, +)`
    * in the IVF/PQ hot paths; with a = b it is the norm² fold. */
  def vdot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.VecFold.vdot(a, b)

  /** Codegen'd squared-L2 over float OR double arrays (double
    * left-fold of (x−y)² — see VecFold). Replaces PQ's interpreted
    * zip_with/aggregate distance. */
  def vl2sq(a: Column, b: Column): Column =
    org.apache.spark.sql.graftshim.VecFold.vl2sq(a, b)

  private val rowCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Row count of a parquet file/dir from the FOOTERS only — zero Spark
    * jobs (a df.count() here would add one whole job per query invocation
    * just to pick a plan shape). Footer reads are O(files) driver-side
    * metadata fetches, which is exactly what adaptive planners (AQE, CBO
    * stats) do; cached per path for the life of the JVM because the only
    * consumer is a plan-shape switch where staleness is harmless (the
    * decision needs the order of magnitude, and bench/verify re-invoke
    * the same immutable inputs). */
  def parquetRowCount(spark: SparkSession, path: String): Long =
    rowCountCache.getOrElseUpdate(path, {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val it = p.getFileSystem(conf).listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) {
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(st.getPath, conf))
          try n += rdr.getRecordCount finally rdr.close()
        }
      }
      n
    })
}
