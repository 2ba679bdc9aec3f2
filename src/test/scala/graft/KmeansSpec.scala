package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.NearestCell
import org.apache.spark.sql.types._
import graft.ops.{Vectors, vdot}

/** The driver-held cell kernels and the Lloyd loop: NearestCell picks the
  * same cell as the (vector × centroid) cross-join argmax, TopCells ranks
  * cells as that join's window does, degenerate inputs converge instead
  * of tripping the round cap, each round costs a bounded number of Spark
  * jobs, and the generated code does not change from round to round.
  */
class KmeansSpec extends SparkTestBase {

  private val testdataRoot = sys.env.getOrElse("SPARK_GRAFT_TESTDATA",
    sys.props.getOrElse("graft.testdata", "/root/testdata"))

  private def requireFixture(sf: String): String = {
    val d = s"$testdataRoot/$sf"
    assume(new java.io.File(d).isDirectory, s"fixture $d absent — skipping")
    d
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** (ids, cv) of a (cl, cv) centroid frame, for NearestCell. */
  private def cells(cent: DataFrame)
      : (Array[Integer], Array[Array[java.lang.Double]]) = {
    val rows = cent.select("cl", "cv").collect()
    (rows.map(r => r.getAs[Integer](0)),
      rows.map(r => if (r.isNullAt(1)) null
        else r.getSeq[java.lang.Double](1).toArray))
  }

  /** The reference both kernels are held to: every vector scored
    * against every centroid by a broadcast cross join,
    * cc = v·c / (|v|·|c|) → (vec_id, cl, cc). */
  private def scored(e: DataFrame, cent: DataFrame): DataFrame = {
    val ev = e.select(col("vec_id"), col("embedding").as("v"),
      sqrt(vdot(col("embedding"), col("embedding"))).as("vn"))
    val cn = cent.select(col("cl"), col("cv"),
      sqrt(vdot(col("cv"), col("cv"))).as("cn"))
    ev.crossJoin(broadcast(cn))
      .select(col("vec_id"), col("cl"),
        (vdot(col("v"), col("cv")) / (col("vn") * col("cn"))).as("cc"))
  }

  /** vec_id → cluster by the reference argmax max(struct(cc, −cl)). */
  private def argmaxRef(e: DataFrame,
      cent: DataFrame): Map[Long, Integer] =
    scored(e, cent).groupBy(col("vec_id"))
      .agg(max(struct(col("cc"), negate(col("cl")).as("ncl"),
        col("cl").as("cl"))).as("b"))
      .select(col("vec_id"), col("b.cl"))
      .collect().map(r => r.getLong(0) -> r.getAs[Integer](1)).toMap

  /** vec_id → every cell, best first, by the reference window
    * `row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cl ASC)`.
    */
  private def rankedRef(e: DataFrame,
      cent: DataFrame): Map[Long, Seq[Integer]] =
    scored(e, cent).withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(desc("cc"), asc("cl"))))
      .collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(3))
        .map(_.getAs[Integer](1)).toSeq).toMap

  private val codegenModes = Seq(
    Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** vec_id → cluster under the reference argmax and under NearestCell,
    * with whole-stage codegen on and fully interpreted. */
  private def assertParity(e: DataFrame, cent: DataFrame): Unit = {
    val want = argmaxRef(e, cent)
    val (ids, cv) = cells(cent)
    for (mode <- codegenModes) withConf(mode: _*) {
      val got = e.select(col("vec_id"),
          NearestCell.nearest(col("embedding"), ids, cv).as("cluster"))
        .collect().map(r => r.getLong(0) -> r.getAs[Integer](1)).toMap
      assert(got == want, s"$mode: ${(got.toSet diff want.toSet).take(5)}")
    }
  }

  /** vec_id → its `n` best cells under the reference window and under
    * TopCells, in both codegen modes, for each `n`. */
  private def assertTopParity(e: DataFrame, cent: DataFrame,
      ns: Int*): Unit = {
    val ranked = rankedRef(e, cent)
    val (ids, cv) = cells(cent)
    for (n <- ns; mode <- codegenModes) withConf(mode: _*) {
      val got = e.select(col("vec_id"),
          NearestCell.top(col("embedding"), n, ids, cv).as("top"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Integer](1)).toMap
      val want = got.keys.map(k =>
        k -> ranked.getOrElse(k, Seq.empty).take(n)).toMap
      assert(got == want,
        s"n=$n $mode: ${(got.toSet diff want.toSet).take(5)}")
    }
  }

  private val embSchema = StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  private def vecs(rows: (Long, Seq[java.lang.Float])*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, v) =>
      Row(id, v, 0) }: _*), embSchema)

  /** (cl, cv) rows; a cell id may be null. */
  private def cents(rows: (Any, Seq[java.lang.Double])*): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, c) =>
      Row(k, c) }: _*), StructType.fromDDL("cl INT, cv ARRAY<DOUBLE>"))

  private def f(xs: Double*): Seq[java.lang.Float] =
    xs.map(x => java.lang.Float.valueOf(x.toFloat))
  private def d(xs: Double*): Seq[java.lang.Double] =
    xs.map(x => java.lang.Double.valueOf(x))

  /** The error condition `body` raises. */
  private def condition(body: => Any): String = {
    val t = intercept[Throwable](body)
    Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null)
      .collectFirst { case s: SparkThrowable => s.getCondition }
      .getOrElse(fail(s"no SparkThrowable in $t"))
  }

  test("NearestCell equals the cross-join argmax on the sf0.01 embeddings") {
    val e = graft.etl.Tables.load(spark, requireFixture("sf0.01"),
      "embeddings")
    // label seeds, one trained round, and the converged k-means cells
    assertParity(e, Vectors.ivfCentroids(e, lloydRounds = 0))
    assertParity(e, Vectors.ivfCentroids(e, lloydRounds = 1))
    assertParity(e, Vectors.kmeansLoop(e, "parity")._1.toDF(spark))
  }

  test("NearestCell equals the cross-join argmax on edge cases") {
    val nullElem: Seq[java.lang.Float] = Seq(1f, null, 0f)
    val e = vecs(
      1L -> f(1, 2, 3),
      2L -> f(3, 2, 1),
      3L -> f(0, 0, 1),
      4L -> null,                                  // null embedding
      5L -> nullElem,                              // null element
      6L -> f(Double.PositiveInfinity, 1, 0),      // NaN cc everywhere
      7L -> f(Double.NaN, 0, 0),                   // NaN cc everywhere
      8L -> f(1, 1))                               // shorter vector
    // duplicate centroids: 7 and 2 are one point, so are 5 and 9;
    // a tie goes to the smaller id
    val dup = cents(7 -> d(1, 2, 3), 2 -> d(1, 2, 3), 9 -> d(0, 1, 1),
      5 -> d(0, 1, 1), 4 -> d(3, 2, 1))
    assertParity(e, dup)
    // a centroid with a null component: its cc is null for every vector
    val nullComp: Seq[java.lang.Double] = Seq(1.0, null, 1.0)
    assertParity(e, cents(3 -> nullComp, 8 -> d(0, 0, 1), 6 -> d(1, 0, 0)))
    // an infinite component makes that cell's cc NaN, which beats a
    // finite cc from a smaller id
    assertParity(e, cents(8 -> d(0, 0, 1),
      11 -> d(Double.PositiveInfinity, 0, 0)))
    // a single cell, and a lone null-component cell
    assertParity(e, cents(4 -> d(1, 1, 1)))
    assertParity(e, cents(4 -> nullComp))
    // double-typed vectors (the v_mips augmented input)
    assertParity(e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding")),
      dup)
  }

  test("the zero vector: ANSI division by zero, or a null cc without ANSI") {
    val e = vecs(1L -> f(1, 0, 0), 2L -> f(0, 0, 0), 3L -> f(0, 1, 0))
    val cent = cents(5 -> d(0, 1, 0), 2 -> d(1, 0, 0))
    // outside ANSI mode the zero vector's cc is null against every cell,
    // so it lands in the smallest cell — on both paths
    withConf("spark.sql.ansi.enabled" -> "false")(assertParity(e, cent))
    // in ANSI mode cc = 0 / 0 raises on both paths
    withConf("spark.sql.ansi.enabled" -> "true") {
      val (ids, cv) = cells(cent)
      assert(condition(argmaxRef(e, cent)) == "DIVIDE_BY_ZERO")
      assert(condition(e.select(NearestCell.nearest(col("embedding"),
        ids, cv)).collect()) == "DIVIDE_BY_ZERO")
    }
  }

  test("TopCells equals the cross-join window ranking on the sf0.01 " +
      "embeddings") {
    val e = graft.etl.Tables.load(spark, requireFixture("sf0.01"),
      "embeddings")
    // the probe depths the IVF rows use, and every cell (the adaptive
    // row) and past it
    assertTopParity(e, Vectors.ivfCentroids(e, lloydRounds = 0), 1, 2, 12)
    assertTopParity(e, Vectors.ivfCentroids(e, lloydRounds = 1),
      1, 2, 4, 8, 10, 12)
  }

  test("TopCells equals the cross-join window ranking on edge cases") {
    val nullElem: Seq[java.lang.Float] = Seq(1f, null, 0f)
    val e = vecs(
      1L -> f(1, 2, 3),
      2L -> f(3, 2, 1),
      3L -> f(0, 0, 1),
      4L -> null,                                  // null embedding
      5L -> nullElem,                              // null element
      6L -> f(Double.PositiveInfinity, 1, 0),      // NaN cc everywhere
      7L -> f(Double.NaN, 0, 0),                   // NaN cc everywhere
      8L -> f(1, 1))                               // shorter vector
    val nullComp: Seq[java.lang.Double] = Seq(1.0, null, 1.0)
    // duplicate centroids tie: the smaller id ranks first
    val dup = cents(7 -> d(1, 2, 3), 2 -> d(1, 2, 3), 9 -> d(0, 1, 1),
      5 -> d(0, 1, 1), 4 -> d(3, 2, 1))
    // a null cell id tying with cell 3 ranks first (cl ASC NULLS FIRST),
    // while the argmax sends that tie to cell 3 (null id last)
    val nullId = cents(3 -> d(1, 2, 3), (null, d(1, 2, 3)), 8 -> d(0, 0, 1),
      6 -> nullComp, 11 -> d(Double.PositiveInfinity, 0, 0))
    for (cent <- Seq(dup, nullId, cents(4 -> nullComp),
        cents(4 -> d(1, 1, 1)))) {
      val k = cent.count().toInt
      assertTopParity(e, cent, 1, 2, k, k + 3)
      assertParity(e, cent)
      // double-typed vectors (the v_mips augmented input)
      assertTopParity(e.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double"))
          .as("embedding")), cent, 2, k + 3)
    }
    // no cells: an empty ranking, as the cross join has no rows
    assert(e.select(NearestCell.top(col("embedding"), 3, Array.empty,
      Array.empty)).collect().forall(_.getSeq[Integer](0).isEmpty))
  }

  test("TopCells on the zero vector: ANSI division by zero, or a ranking " +
      "by id alone without ANSI") {
    val e = vecs(1L -> f(1, 0, 0), 2L -> f(0, 0, 0), 3L -> f(0, 1, 0))
    val cent = cents(5 -> d(0, 1, 0), 2 -> d(1, 0, 0), (null, d(1, 1, 0)))
    withConf("spark.sql.ansi.enabled" -> "false")(
      assertTopParity(e, cent, 1, 3))
    withConf("spark.sql.ansi.enabled" -> "true") {
      val (ids, cv) = cells(cent)
      assert(condition(rankedRef(e, cent)) == "DIVIDE_BY_ZERO")
      for (mode <- codegenModes) withConf(mode: _*)(
        assert(condition(e.select(NearestCell.top(col("embedding"), 2,
          ids, cv)).collect()) == "DIVIDE_BY_ZERO", mode))
    }
  }

  private def fixtureDir(name: String, e: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    e.coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("degenerate inputs: an empty table and a single label converge") {
    val full = graft.etl.Tables.load(spark, requireFixture("sf0.01"),
      "embeddings")
    val empty = fixtureDir("kmeans_empty", full.limit(0))
    for (q <- Seq("v_kmeans_conv", "v_kmeans_sampled")) {
      val out = Vectors.queries(q)(spark, empty)
      assert(out.schema.map(c => c.name -> c.dataType) ==
        Seq("vec_id" -> LongType, "cluster" -> IntegerType), out.schema)
      assert(out.collect().isEmpty, q)
    }
    val one = fixtureDir("kmeans_one",
      full.filter(col("vec_id") < 80).withColumn("label", lit(3)))
    val e1 = graft.etl.Tables.load(spark, one, "embeddings")
    val (c, rounds) = Vectors.kmeansLoop(e1, "single-label")
    assert(c.ids.toSeq == Seq(3) && rounds <= Vectors.KmeansMaxRounds)
    for (q <- Seq("v_kmeans_conv", "v_kmeans_sampled")) {
      val got = Vectors.queries(q)(spark, one).collect()
      assert(got.length == 80 && got.forall(_.getInt(1) == 3), q)
    }
  }

  test("v_kmeans_conv launches at most 3 Spark jobs per Lloyd round") {
    // a per-round checkpoint, count or join would add jobs per round;
    // jobs are attributed by job group, rounds come from the loop itself
    val d = requireFixture("sf0.01")
    val group = "kmeans-round-guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val endSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == group + "-end" => endSeen.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "v_kmeans_conv")
      val rows = Vectors.queries("v_kmeans_conv")(spark, d).collect()
      // the bus delivers in order: once the marker job is seen, every
      // job of the measured group has been counted
      sc.setJobGroup(group + "-end", "marker")
      spark.range(1).collect()
      assert(endSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      sc.clearJobGroup()
      val rounds = Vectors.kmeansLoop(
        graft.etl.Tables.load(spark, d, "embeddings"), "v_kmeans_conv")._2
      info(s"v_kmeans_conv: ${rows.length} rows, ${jobs.get} jobs, " +
        s"$rounds rounds")
      assert(rounds >= 2)
      assert(jobs.get <= 3 * rounds,
        s"${jobs.get} jobs for $rounds Lloyd rounds")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("generated code is the same in every Lloyd round") {
    // centroids reach NearestCell as a reference object: rounds that
    // meet new centroids hit the codegen cache instead of compiling
    val e = graft.etl.Tables.load(spark, requireFixture("sf0.01"),
      "embeddings")
    Vectors.ivfCentroids(e, lloydRounds = 1)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Vectors.ivfCentroids(e, lloydRounds = 5)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"$compiled classes compiled for rounds 2-5")
  }
}
