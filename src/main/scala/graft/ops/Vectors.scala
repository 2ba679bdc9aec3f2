package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Text.portableHash

/** Similarity search over the embedding column (north-star + SURVEY §2.4
  * A7): brute-force cosine top-k (the exactness baseline), hyperplane-LSH
  * bucketed near-neighbor pairs (the 100 TB path — candidates come from
  * band-bucket equi-joins, never an unblocked cross join), and per-label
  * centroids (long format: one hash-agg pass after a 64-way posexplode).
  *
  * Cross-engine determinism: dot products are ordered left-folds of
  * doubles (bit-identical to DuckDB's list fold — proven by the oracle on
  * d_embed_pairs); centroid sums go through DECIMAL(38,20) because group
  * aggregation order is nondeterministic; sqrt/divide are IEEE
  * correctly-rounded so they never diverge.
  */
object Vectors {

  /** Ordered left-fold dot product — the codegen'd FloatVecDot expression
    * (bit-identical to the zip_with/aggregate fold it replaced; the HOF
    * version was interpreted and 5-10× slower on pair joins). */
  def dot(a: Column, b: Column): Column = fdot(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(fdot(a, a))

  private val Planes = 16 // 4 bands × 4 bits
  private val BandsV = 4
  private val RowsV = 4
  private val Dims = 64
  // Derived-hyperplane weight domain — constants live in
  // graft.functions.Hashing (shared with the fused HyperplaneBandKeys
  // expression); planesSql interpolates the same values into the DuckDB
  // mirror, so the plane family cannot silently diverge anywhere.
  private val PlaneMod = graft.functions.Hashing.PlaneMod
  private val PlaneOff = graft.functions.Hashing.PlaneOff

  /** Deterministic pseudo-random hyperplane weights for (plane, dim) —
    * see [[graft.functions.Hashing.planeWeights]]. Precomputed ONCE
    * driver-side (the previous per-row md5 formulation re-hashed
    * plane×dim for every vector — 1024 interpreted md5 calls per row).
    */
  private[ops] def planeWeightsFor(n: Int): Array[Array[Float]] =
    graft.functions.Hashing.planeWeights(n, Dims)

  private lazy val planeWeights: Array[Array[Float]] = planeWeightsFor(Planes)

  /** Sign bit of v·plane_p (1 if non-negative). */
  private def planeBit(v: Column, p: Int): Column =
    when(fdot(v, lit(planeWeights(p))) >= 0, 1L).otherwise(0L)

  /** Multi-probe hyperplane-LSH candidate pairs `(a, b)` with `a < b`:
    * a pair is a candidate iff SOME band's sign signatures are within
    * Hamming distance `probeHam` (Lv et al., multi-probe LSH, VLDB'07).
    * The input must carry (`idCol`, `v`); output columns are (a, b).
    *
    * Shape at 100 TB: the probe side explodes its true band key plus every
    * key within the probe radius (bands × Σ C(rowsPerBand, r) rows per
    * vector — a constant); the stored side carries true keys only, so the
    * candidate join is a plain (band, key) EQUI-join — never a
    * BroadcastNestedLoopJoin, never all-pairs. This is the ANN yardstick:
    * in the weak-similarity regime (cos ≈ 0.45 ⇒ per-plane agreement only
    * ~0.65) it recalls 100% of exact pairs on this corpus (DedupSpec) but
    * accepts ~88% of RANDOM pairs too (measured at sf0.1) — i.e. it stops
    * being a filter, which is why d_embed_pairs uses blocked-exact
    * instead. For production near-dup thresholds (cos ≥ 0.9, agreement
    * ≈ 0.86) widen rowsPerBand — bucket count 2^rowsPerBand is what
    * bounds per-bucket quadratic verify cost — and banding discriminates.
    */
  def lshCandidatePairs(e: DataFrame, idCol: String, nPlanes: Int,
      rowsPerBand: Int, probeHam: Int): DataFrame = {
    require(nPlanes % rowsPerBand == 0,
      s"nPlanes ($nPlanes) must be a multiple of rowsPerBand ($rowsPerBand)" +
        " — integer division would silently drop the trailing planes")
    // One packed key per band: band index in the high bits, the band's
    // sign bits in the low rowsPerBand bits — a single LONG equi-join key
    // (the first cut concatenated per-bit strings per probe; key packing
    // cut d_embed_pairs sf0.1 wall time ~3×). All keys come from ONE
    // fused codegen'd expression — at production thresholds nPlanes ≈
    // 200, and that many per-plane fdot literals made Janino plan
    // compile the bottleneck (~8 s/pass), not the arithmetic.
    val keys = e.select(col(idCol),
      org.apache.spark.sql.graftshim.HyperplaneBandKeys
        .bandKeys(col("v"), nPlanes, rowsPerBand, dims = Dims).as("ks"))
    val stored = keys.select(col(idCol), explode(col("ks")).as("bk"))
    // probe keys = each true key XOR every bit mask of weight <= probeHam
    // (multi-probe: Hamming ball around the true key, constant fan-out)
    val masks: Seq[Long] =
      (0 to probeHam).flatMap((0 until rowsPerBand).combinations(_))
        .map(_.foldLeft(0L)((m, i) => m | (1L << i)))
    val probes = keys.select(col(idCol),
      explode(flatten(transform(col("ks"), k =>
        array(masks.map(m => k.bitwiseXOR(lit(m))): _*)))).as("bk"))
    // distinct is part of the contract: a pair matches once per (band,
    // probe-mask) hit, and downstream exact-verify cost multiplies by
    // that duplication at production thresholds.
    probes.as("x").join(stored.as("y"),
        col("x.bk") === col("y.bk") &&
        col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"))
      .distinct()
  }

  // ---- IVF machinery (shared by v_ann_ivf*; parameterized for specs) --

  /** Round cap for the v_kmeans_conv fixpoint loop — a loud-failure
    * guard, not a truncation (the require refuses non-fixpoints).
    */
  private[graft] val KmeansMaxRounds = 32

  /** Candidate budget of the adaptive filtered-ANN probe — ONE
    * definition shared by the Spark side and the oracle SQL. */
  private[graft] val AnnFilteredTarget = 30L

  /** Driver-held k-means state: cell ids ascending (a null label last,
    * the argmax's tie order) and each cell's fixed-point centroid, with
    * a null component where no member of the cell has a value there.
    * It is a K×D summary merged from per-partition integer sums, so the
    * driver can hold it at any corpus size.
    */
  private[graft] final case class Centroids(ids: Array[Integer],
      cv: Array[Array[java.lang.Double]]) {

    /** Cells whose centroid is not bit-equal to the one in `prev`,
      * counting cells that appeared or vanished: 0 iff the two are the
      * same centroids. `Double.equals` compares bits. */
    def moved(prev: Centroids): Int = {
      val was = prev.byId
      val now = byId
      (was.keySet ++ now.keySet).count(k => !(was.contains(k) &&
        now.contains(k) && java.util.Arrays.equals(
          was(k).asInstanceOf[Array[AnyRef]],
          now(k).asInstanceOf[Array[AnyRef]])))
    }

    private def byId = ids.map(Option(_)).zip(cv).toMap

    /** The nearest cell of each vector, by cosine: see NearestCell. */
    def nearest(v: Column): Column =
      org.apache.spark.sql.graftshim.NearestCell.nearest(v, ids, cv)

    /** The ids of each vector's `n` nearest cells, best first: see
      * TopCells. */
    def top(v: Column, n: Int): Column =
      org.apache.spark.sql.graftshim.NearestCell.top(v, n, ids, cv)

    /** (vec_id, v, cluster) for every vector of `e`. No cells, no rows:
      * the answer of the (vector × centroid) cross join. */
    def assign(e: DataFrame): DataFrame =
      (if (ids.isEmpty) e.where(lit(false)) else e)
        .select(col("vec_id"), col("embedding").as("v"),
          nearest(col("embedding")).as("cluster"))

    /** The (cl int, cv array<double>) centroid frame, as a local
      * relation. */
    def toDF(s: org.apache.spark.sql.SparkSession): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(ids.indices.map(i =>
        org.apache.spark.sql.Row(ids(i), cv(i).toSeq)): _*), CentroidSchema)
  }

  private[graft] object Centroids {
    /** The centroids of a stored (cl, cv) frame — e.g. one read back from
      * a maintained parquet index — collected once, so every search over
      * it runs on the kernel and a drift in the artifact still shows. */
    def of(cent: DataFrame): Centroids = {
      val rows = cent.select("cl", "cv").collect().sortBy(r =>
        (r.isNullAt(0), if (r.isNullAt(0)) 0 else r.getInt(0)))
      Centroids(rows.map(_.getAs[Integer](0)), rows.map(r =>
        if (r.isNullAt(1)) null
        else r.getSeq[java.lang.Double](1).toArray))
    }
  }

  private val CentroidSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "cl INT, cv ARRAY<DOUBLE>")

  /** Exact fixed-point per-cell centroids over (`k`, `embedding`) rows,
    * as ONE Spark action — the same grid-snap as v_centroid: components
    * floor(x·1e6+0.5) BEFORE an integer (order-independent) sum, so every
    * engine and every re-run produces bit-identical centroids. The
    * (k, dim) sums are collected and divided on the driver: the same
    * IEEE s6 / (1e6·n) the Spark expression evaluates.
    */
  private def fxCollect(kv: DataFrame): Centroids = {
    val sums = kv.select(col("k"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("k", "dim")
      .agg(sum(floor(col("x").cast("double") * lit(1000000.0) + lit(0.5))
        .cast("long")).as("s6"), count("*").as("n"))
      .collect()
    val cells = sums.groupBy(r => Option(r.getAs[Integer](0))).toArray
      .sortBy { case (k, _) => (k.isEmpty, k.fold(0)(_.intValue)) }
    Centroids(cells.map(_._1.orNull), cells.map { case (_, rs) =>
      rs.sortBy(_.getInt(1)).map(r =>
        if (r.isNullAt(2)) null
        else java.lang.Double.valueOf(
          r.getLong(2).toDouble / (1000000.0 * r.getLong(3))))
    })
  }

  /** Label-seeded centroids: the starting point of every Lloyd run. */
  private def labelSeeds(e: DataFrame): Centroids =
    fxCollect(e.select(col("label").as("k"), col("embedding")))

  /** One Lloyd round: assign every vector of `e` to its nearest cell by
    * cosine, then re-centre. One Spark action; the assignment is a
    * projection (NearestCell), never a shuffle of the vector table. */
  private def lloydStep(e: DataFrame, c: Centroids): Centroids =
    fxCollect(e.select(c.nearest(col("embedding")).as("k"),
      col("embedding")))

  /** Lloyd to a checked fixpoint over `e` (vec_id, label, embedding):
    * the v_kmeans_conv loop, shared with the sampled-training variant.
    * Returns the converged centroids and the rounds run.
    *
    * The centroids live on the driver; each round is ONE Spark action
    * (`lloydStep`), and the loop stops when the collected centroids are
    * bit-equal to the previous round's. With a_r = A(c_r) the assignment
    * against centroids c_r and c_{r+1} = C(a_r) its re-centring (both
    * deterministic):
    *  - c_{r+1} = c_r implies a_{r+1} = A(c_{r+1}) = A(c_r) = a_r;
    *  - a_r = a_{r−1} implies c_{r+1} = C(a_r) = C(a_{r−1}) = c_r.
    * So this loop stops at the first r with c_{r+1} = c_r, no later
    * than a loop that waits for an unchanged assignment, and returns the
    * same fixpoint (A(c_r), c_r) that loop returns.
    *
    * r20 negative result, measured and reverted: repartitioning the
    * training set to cluster parallelism (the pqEncode fix) made this
    * loop ~2× slower (11.9 s vs 6-7 s steady at sf0.1, low steal) —
    * with only |labels| = 10 centroids the per-round fold is ~1.3M
    * flops, so the 1-task scan was never the bottleneck and several
    * 32-task stages per round are pure scheduling overhead. Parallelize
    * the n·M·K-fold PQ paths (pqEncode/pqCodebooksK), not this one.
    */
  private[graft] def kmeansLoop(e: DataFrame,
      tag: String): (Centroids, Int) =
    Fixpoint.run(tag, KmeansMaxRounds,
        s"k-means did not converge within $KmeansMaxRounds rounds " +
          "(oscillating fixture?) — refusing to return a non-fixpoint")(
        labelSeeds(e), 1L) { cent =>
      val next = lloydStep(e, cent)
      (next, next.moved(cent).toLong)
    }

  /** The converged assignment (vec_id, cluster), lazily projected. */
  private def kmeansFixpoint(e: DataFrame, tag: String): DataFrame =
    kmeansLoop(e, tag)._1.assign(e).select(col("vec_id"), col("cluster"))

  /** Every 50th vector of `e` with its `n` nearest cells, best first:
    * (q, vq, pos, qc), pos 0 being the vector's own cell. Ranks only the
    * probes, so the kernel sees n/50 vectors. */
  private def probeCells(e: DataFrame, cent: Centroids,
      n: Int): DataFrame =
    e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q"), col("embedding").as("vq"),
        posexplode(cent.top(col("embedding"), n)).as(Seq("pos", "qc")))

  /** Coarse quantizer: label-seeded centroids refined by `lloydRounds`
    * Lloyd iterations (assign every vector to its nearest centroid by
    * cosine, recompute fixed-point means) — the k-means round, held on
    * the driver. Deterministic end-to-end: ties break on cell id, means
    * are integer-summed fixed point.
    */
  private def ivfTrain(e: DataFrame, lloydRounds: Int): Centroids =
    (1 to lloydRounds).foldLeft(labelSeeds(e))((c, _) => lloydStep(e, c))

  /** [[ivfTrain]] as a (cl, cv) local relation: the frame the
    * maintained rows write as their centroid artifact. */
  def ivfCentroids(e: DataFrame, lloydRounds: Int): DataFrame =
    ivfTrain(e, lloydRounds).toDF(e.sparkSession)

  /** Cluster assignment under the label-seeded coarse quantizer:
    * (vec_id, v, cluster). The clustering half of SemDeDup — shared with
    * Dedup.d_semdedup so the dedup pass and the ANN index agree on one
    * partition of the space. */
  private[graft] def ivfAssign(e: DataFrame, lloydRounds: Int): DataFrame =
    ivfTrain(e, lloydRounds).assign(e)

  // ---- Product quantization (v_pq; Jégou/Douze/Schmid, PAMI 2011) ----

  /** Sub-space count: 64 dims → 8 sub-vectors of 8. */
  private[graft] val PqM = 8
  private def pqSubLen = Dims / PqM

  /** Codebook size per sub-space. Canonical PQ uses 256; 64 keeps the
    * oracle chain cheap while staying far past 10-label seeding.
    * Measured recall@5 vs exact at sf0.01: 0.10 (M=4, K=10) -> 0.14
    * (M=4, K=64) -> 0.34 (M=8, K=64) — the honest weak-similarity
    * regime number (cos ~ 0.45 corpus; cf. the IVF nprobe=1 ladder at
    * 0.30 and the v_ann_lsh disclosure). Production embeddings with
    * real cluster structure sit far higher at the same bit budget.
    * Seeds are vec_id % K — arbitrary-but-deterministic, exactly what
    * Lloyd refinement needs. */
  private[graft] val PqK = 64

  /** (vec_id, label, m, sv): every vector split into its M sub-vectors
    * — one explode, no per-sub-space rescan. */
  private def pqSubs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"),
        explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"),
            slice(col("embedding"), m * pqSubLen + 1, pqSubLen)
              .as("sv"))): _*)).as("s"))
      .select(col("vec_id"), col("label"), col("s.m").as("m"),
        col("s.sv").as("sv"))

  /** fxCollect's grid with the sub-space id carried through: fixed-point
    * means per (m, k) — same integer-sum grid as the IVF quantizer. */
  private def pqFxCentroids(df: DataFrame): DataFrame =
    df.select(col("m"), col("k"), posexplode(col("sv"))
        .as(Seq("dim", "x")))
      .groupBy("m", "k", "dim")
      .agg(sum(floor(col("x").cast("double") * lit(1000000.0) + lit(0.5))
        .cast("long")).as("s6"), count("*").as("n"))
      .select(col("m"), col("k"), col("dim"),
        (col("s6").cast("double") / (lit(1000000.0) * col("n"))).as("c"))
      .groupBy("m", "k")
      .agg(transform(array_sort(collect_list(struct(col("dim"),
        col("c")))), s => s.getField("c")).as("cv"))
      .select(col("m"), col("k").as("cl"), col("cv"))

  /** Squared L2 between a float/double sub-vector and a double
    * centroid — the codegen'd VecL2SqD left fold (r19: was the
    * interpreted zip_with/aggregate shape; identical index-order IEEE
    * fold, so DuckDB's list_sum mirror stays bit-identical). */
  private def pqD2(sv: Column, cv: Column): Column = vl2sq(sv, cv)

  /** Every sub-vector's PQ code: the ARGMIN of L2 over its sub-space's
    * centroids (broadcast, M·K rows), ties to the smaller centroid id —
    * a hash aggregate of min(struct(dd, cl)) per (vec_id, m), with no
    * sort or window over the n·M·K scored rows (for K=256 a window
    * would sort 2048 rows per vector just to keep 8). `sv` rides along,
    * never compared (cl unique within the group). Returns
    * (vec_id, m, cl, sv). */
  private def pqArgmin(subs: DataFrame, cent: DataFrame): DataFrame =
    subs.join(broadcast(cent), "m")
      .select(col("vec_id"), col("m"), col("sv"), col("cl"),
        pqD2(col("sv"), col("cv")).as("dd"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dd"), col("cl").as("cl"),
        col("sv").as("sv"))).as("b"))
      .select(col("vec_id"), col("m"), col("b.cl").as("cl"),
        col("b.sv").as("sv"))

  /** Per-sub-space codebooks: label-seeded fixed-point centroids
    * refined by `lloydRounds` L2 Lloyd iterations. (m, cl, cv). */
  private[graft] def pqCodebooks(e: DataFrame,
      lloydRounds: Int): DataFrame =
    pqCodebooksK(e, lloydRounds, PqK, None)

  /** The full-corpus ENCODING pass (codes for every vector against a
    * trained codebook set), with the sub-vector rows repartitioned to
    * cluster parallelism first — r20: the n·M·K argmin folds (33M L2
    * folds at K=256, sf0.1) otherwise run inside the single-row-group
    * scan's ONE task. The argmin is a hash aggregate over
    * order-independent struct mins, so the codes are bit-unchanged. */
  private def pqEncode(e: DataFrame, cent: DataFrame,
      k: Int = PqK): DataFrame =
    pqArgmin(pqParSubs(pqSubs(e), k), cent)
      .select(col("vec_id"), col("m"), col("cl").as("code"))

  /** Repartition the sub-vector rows to cluster parallelism iff the
    * n·M·K argmin fold volume pays for the exchange — the r20 measured
    * cutover: at K=256 (33M folds at sf0.1) the parallel encode/train
    * is a clear win (v_pq256 3.68 → 2.4-3.0 s); at K=64 (8M folds,
    * ~0.15 s serial) the exchange + 32-task stages cost MORE than the
    * serial fold (v_pq 2.26 → 2.89, v_pq_maintained 3.52 → 4.40 in the
    * first r20 full capture — the kmeansLoop lesson at a different
    * knee). The volume scales with K for a fixed corpus, so K is the
    * cutover key; at a 100 TB corpus n dominates and the inputs arrive
    * multi-split (parallel) anyway. */
  private def pqParSubs(subs: DataFrame, k: Int): DataFrame =
    if (k >= 128)
      subs.repartition(
        subs.sparkSession.sparkContext.defaultParallelism)
    else subs

  /** [[pqCodebooks]] generalized to an arbitrary codebook size K and an
    * optional TRAINING predicate (ROADMAP r13 #2 — the production
    * operating point): seeds and every Lloyd refinement see only the
    * sampled sub-vectors, so training cost scales with the sample while
    * the final code assignment (the caller's pqEncode over ALL subs)
    * still covers the corpus. The sample must be a deterministic hash
    * predicate (the x_sample discipline) so the oracle mirrors it
    * exactly — sampled K-means with a random sample would be
    * unreproducible across engines. Sampling can leave some of the K
    * seed ids empty; both engines drop them identically. */
  private[graft] def pqCodebooksK(e: DataFrame, lloydRounds: Int,
      k: Int, train: Option[org.apache.spark.sql.Column]): DataFrame = {
    val subs0 = pqSubs(e)
    // r20: single-row-group testdata means a bare scan is ONE task, so
    // the seed aggregation and every Lloyd round's n·M·K L2 folds ran
    // serially; repartition the sub-vector rows to cluster parallelism
    // when the fold volume pays for it (pqParSubs — measured K cutover)
    // and cut lineage so both training reads hit the cache
    // (order-independent fixed-point sums → bit-unchanged).
    val subs = pqParSubs(train.fold(subs0)(subs0.filter), k)
      .localCheckpoint()
    var cent = pqFxCentroids(subs.select(col("m"),
      pmod(col("vec_id"), lit(k.toLong)).as("k"), col("sv")))
    for (_ <- 1 to lloydRounds)
      cent = pqFxCentroids(pqArgmin(subs, cent)
        .select(col("m"), col("cl").as("k"), col("sv")))
    // M·K rows. Materialize once: every caller references the
    // codebooks from ≥2 places (encode + the per-query ADC table), so
    // un-checkpointed the whole per-sub-space training chain
    // re-executes per reference.
    cent.localCheckpoint(true)
  }

  /** The reciprocal-rank fusion half shared by v_hybrid (corpus-scored
    * BM25) and v_hybrid_maintained (index-scored BM25): rank the given
    * (doc_id, bm25) frame, rank the dense cosine list against query
    * vec 0, fuse by Σ 1/(60 + rank), top-10. */
  private def hybridFuse(s: org.apache.spark.sql.SparkSession,
      d: String, bm: DataFrame): DataFrame = {
    val tRank = bm.withColumn("rt", row_number().over(
        Window.orderBy(desc("bm25"), asc("doc_id"))))
      .select("doc_id", "rt")
    val e = t(s, d, "embeddings").select(col("vec_id"),
      col("embedding").as("v"), norm(col("embedding")).as("nrm"))
    val qv = e.filter(col("vec_id") === 0)
      .select(col("v").as("vq"), col("nrm").as("nq"))
    val vRank = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        roundf(dot(col("vq"), col("v")) / (col("nq") * col("nrm")), 4)
          .as("cos"))
      .withColumn("rv", row_number().over(
        Window.orderBy(desc("cos"), asc("doc_id"))))
      .select("doc_id", "rv")
    val fused = vRank.join(tRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        roundf(
          coalesce(lit(1.0) / (lit(60.0) + col("rt")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rv")), lit(0.0)), 6)
          .as("rrf"),
        col("rt"), col("rv"))
    fused.withColumn("rn", row_number().over(
        Window.orderBy(desc("rrf"), asc("doc_id"))))
      .filter(col("rn") <= 10)
      .select("doc_id", "rrf", "rt", "rv", "rn")
      .orderBy("rn")
  }

  /** ADC top-5 for every 50th vector of `e` against a PQ index given
    * as (cent = (m, cl, cv) codebooks, codes = (vec_id, m, code)) —
    * the search path shared by v_pq (batch-built codes) and
    * v_pq_maintained (streaming-maintained codes): per query one M·K
    * dot-product table, per candidate M lookups; M-term sums
    * grid-rounded then decimal-summed for order-independence. */
  private def pqTopK(e: DataFrame, cent: DataFrame,
      codes0: DataFrame, cand: Option[DataFrame] = None,
      topR: Int = 5): DataFrame = {
    // n·M rows of small ints. Materialize once: the codes feed BOTH the
    // reconstructed-norm aggregate and the ADC join below, and for the
    // batch-built callers the encode chain (pqArgmin over n·M·K scored
    // rows) would otherwise re-execute per reference.
    val codes = codes0.localCheckpoint(true)
    val cn2 = cent.select(col("m"), col("cl"),
      vdot(col("cv"), col("cv")).as("cn2"))
    val vnrm = codes.join(broadcast(cn2),
        codes("m") === cn2("m") && codes("code") === cn2("cl"))
      .groupBy(codes("vec_id").as("vec_id"))
      .agg(sqrt(sum(roundf(col("cn2"), 9).cast("decimal(38,9)"))
        .cast("double")).as("vnrm"))
    val qs = pqSubs(e).filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q"), col("m"), col("sv").as("qs"))
    val qnrm = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q"),
        sqrt(vdot(col("embedding"), col("embedding"))).as("qnrm"))
    val tab = qs.join(broadcast(cent), "m")
      .select(col("q"), col("m"), col("cl"),
        vdot(col("qs"), col("cv")).as("pdot"))
    // IVF-PQ mode: the candidate pairs restrict the CODES side BEFORE
    // the ADC lookup join — the gated side is |cand|·M rows (nprobe
    // cells' members per query), so the executed lookup volume is
    // candidate-sized, never |queries|·|corpus|·M. Gating after the
    // lookup join (a semi on its result) would compute the full
    // corpus-wide volume and discard — the r13 plan defect; the
    // PlanAuditSpec v_ivfpq test pins the gate below the ADC join.
    val adc = cand.fold {
        codes.join(tab,
            codes("m") === tab("m") && codes("code") === tab("cl") &&
            codes("vec_id") =!= tab("q"))
          .select(col("q"), codes("vec_id").as("vec_id"), col("pdot"))
      } { c =>
        val gated = c.filter(col("q") =!= col("vec_id"))
          .join(codes, "vec_id")
        gated.join(tab,
            gated("q") === tab("q") && gated("m") === tab("m") &&
            gated("code") === tab("cl"))
          .select(gated("q"), gated("vec_id"), col("pdot"))
      }
      .groupBy(col("q"), col("vec_id"))
      .agg(sum(roundf(col("pdot"), 9).cast("decimal(38,9)"))
        .cast("double").as("adot"))
    val wP = Window.partitionBy(col("q"))
      .orderBy(desc("acos"), asc("vec_id"))
    adc.join(vnrm, "vec_id").join(broadcast(qnrm), "q")
      .select(col("q"), col("vec_id"),
        roundf(col("adot") / (col("qnrm") * col("vnrm")), 4)
          .as("acos"))
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= topR)
      .select(col("q"), col("vec_id"), col("acos"), col("rn"))
      .orderBy("q", "rn")
  }

  /** RESIDUAL-encoded IVF-PQ search (the accuracy upgrade v_ivfpq's
    * comment discloses — Jégou et al.'s production composition: encode
    * r = v − centroid(cell(v)) instead of v, because residuals are
    * SMALLER than raw vectors, so the same M·K codebook budget buys
    * finer resolution). One SHARED residual codebook set across cells
    * (the FAISS default — per-cell codebooks multiply training chains
    * by |cells| for marginal gain at K=64). Reconstruction is
    * per-(cell, m, code): v̂_m = centroid_cell[m-th slice] + cv[m][code]
    * — a |cells|·M·K table (tiny, broadcast), so ADC scores
    * dot(q, v̂) = Σ_m dot(q_m, reconstructed sub) via the same
    * lookup-table shape as pqTopK, and |v̂|² = Σ_m |v̂_m|² folds off the
    * same table. Candidate gating follows the r13-fixed discipline:
    * the probed-cell pairs restrict the codes side BEFORE the table
    * join — executed lookup volume is candidate-sized.
    */
  private def ivfpqResTopK(e: DataFrame, nprobe: Int): DataFrame = {
    val trained = ivfTrain(e, lloydRounds = 1)
    val cent = trained.toDF(e.sparkSession)
    // Checkpointed: stored feeds residual training, the
    // reconstructed-norm join AND the candidate gate — three
    // references, one computation.
    val stored = trained.assign(e).localCheckpoint(true)
    // residuals (double arrays — cv is already double; the raw float
    // casts once, so both engines compute identical doubles).
    // Checkpointed: referenced by codebook training and encoding.
    val res = stored.join(broadcast(cent),
        col("cluster") === cent("cl"))
      .select(col("vec_id"), lit(0L).as("label"),
        zip_with(col("v"), col("cv"),
          (x, y) => x.cast("double") - y).as("embedding"))
      .localCheckpoint(true)
    val rcent = pqCodebooksK(res, lloydRounds = 1, k = PqK, None)
    val rcodes = pqArgmin(pqSubs(res), rcent)
      .select(col("vec_id"), col("m"), col("cl").as("code"))
      .localCheckpoint(true)
    // per-cell reconstruction codebooks: centroid sub-slices + residual
    // codewords — |cells|·M·K rows, the only state ADC needs
    val centSubs = cent.select(col("cl").as("cell"),
        explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"),
            slice(col("cv"), m * pqSubLen + 1, pqSubLen).as("csv"))): _*))
          .as("s"))
      .select(col("cell"), col("s.m").as("m"), col("s.csv").as("csv"))
    val ccv = centSubs.join(rcent, "m")
      .select(col("cell"), col("m"), rcent("cl").as("k"),
        zip_with(col("csv"), col("cv"), (a, b) => a + b).as("rv"))
      .localCheckpoint(true) // |cells|·M·K rows, referenced twice
    val rn2 = ccv.select(col("cell"), col("m"), col("k"),
      vdot(col("rv"), col("rv")).as("n2"))
    val vnrm = rcodes.join(stored.select(col("vec_id"), col("cluster")),
        "vec_id")
      .join(broadcast(rn2),
        col("cluster") === rn2("cell") && rcodes("m") === rn2("m") &&
        col("code") === rn2("k"))
      .groupBy(rcodes("vec_id").as("vec_id"))
      .agg(sqrt(sum(roundf(col("n2"), 9).cast("decimal(38,9)"))
        .cast("double")).as("vnrm"))
    val probes = probeCells(e, trained, nprobe).select("q", "qc")
    val qs = pqSubs(e).filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q"), col("m"), col("sv").as("qs"))
    val qnrm = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q"),
        sqrt(vdot(col("embedding"), col("embedding"))).as("qnrm"))
    // per-(q, probed cell) lookup tables — q × nprobe × M·K rows;
    // columns renamed t* so the ADC join below (whose left side shares
    // probes' lineage) has unambiguous keys
    val tab = probes.join(qs, "q")
      .join(broadcast(ccv), probes("qc") === ccv("cell") &&
        qs("m") === ccv("m"))
      .select(col("q").as("tq"), col("qc").as("tqc"),
        ccv("m").as("tm"), col("k").as("tk"),
        vdot(col("qs"), col("rv")).as("pdot"))
    // candidate-gated ADC: probed-cell members join their codes FIRST
    // (the v_ivfpq plan discipline), then the per-query tables
    val cand = probes.join(stored.select(col("vec_id"),
        col("cluster").as("qc")), "qc")
      .filter(col("vec_id") =!= col("q"))
      .select(col("q"), col("qc"), col("vec_id"))
    val gated = cand.join(rcodes, "vec_id")
    val adc = gated.join(tab,
        col("q") === col("tq") && col("qc") === col("tqc") &&
        col("m") === col("tm") && col("code") === col("tk"))
      .select(col("q"), col("vec_id"), col("pdot"))
      .groupBy(col("q"), col("vec_id"))
      .agg(sum(roundf(col("pdot"), 9).cast("decimal(38,9)"))
        .cast("double").as("adot"))
    val wP = Window.partitionBy(col("q"))
      .orderBy(desc("acos"), asc("vec_id"))
    adc.join(vnrm, "vec_id").join(broadcast(qnrm), "q")
      .select(col("q"), col("vec_id"),
        roundf(col("adot") / (col("qnrm") * col("vnrm")), 4)
          .as("acos"))
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= 5)
      .select(col("q"), col("vec_id"), col("acos"), col("rn"))
      .orderBy("q", "rn")
  }

  /** IVF top-5 for every 50th vector, searching `nprobe` cells. */
  def ivfTopK(s: org.apache.spark.sql.SparkSession, d: String,
      nprobe: Int, lloydRounds: Int, quantized: Boolean = false)
      : DataFrame = {
    val e = t(s, d, "embeddings")
    val trained = ivfTrain(e, lloydRounds)
    if (!quantized) ivfTopKFrom(e, trained, trained.assign(e), nprobe)
    else {
      // quantized mode: the inverted file stores int8 vectors (the
      // v_quant transform) — 4× less memory bandwidth on the scan that
      // dominates IVF search at 100 TB. The symmetric scale CANCELS in
      // cosine (cos(vq, q·s) = cos(vq, q)), so candidates are scored
      // directly against the integer vector: only the quantization
      // ROUNDING moves any score. Probes stay float (queries are not
      // storage).
      val stored = trained.assign(e)
        .withColumn("maxabs", array_max(transform(col("v"),
          x => abs(x.cast("double")))))
        .filter(col("maxabs") > 0)
        .select(col("vec_id"),
          transform(col("v"), x => floor(x.cast("double") *
            (lit(127.0) / col("maxabs")) + lit(0.5)).cast("double"))
            .as("v"),
          col("cluster"))
      probeTop5(probeCells(e, trained, nprobe), stored, "cos",
        roundf(vdot(col("vq"), col("v")) /
          (sqrt(fdot(col("vq"), col("vq"))) *
            sqrt(vdot(col("v"), col("v")))), 4))
    }
  }

  /** Each probe's top 5 among the members of its probed cells, ranked by
    * `score` over the probe `vq` and the member `v`, ties to the smaller
    * vec_id: `probes` carries (q, vq, qc), `stored` is the
    * (vec_id, v, cluster) inverted file. → (q, vec_id, `name`, rn). */
  private def probeTop5(probes: DataFrame, stored: DataFrame,
      name: String, score: Column): DataFrame = {
    val wP = Window.partitionBy(col("q"))
      .orderBy(desc(name), asc("vec_id"))
    probes.join(stored,
        col("cluster") === col("qc") && col("vec_id") =!= col("q"))
      .select(col("q"), col("vec_id"), score.as(name))
      .withColumn("rn", row_number().over(wP))
      .filter(col("rn") <= 5)
      .select(col("q"), col("vec_id"), col(name), col("rn"))
      .orderBy("q", "rn")
  }

  /** [[probeTop5]] by cosine on the 1e-4 grid. */
  private def cosTop5(probes: DataFrame, stored: DataFrame): DataFrame =
    probeTop5(probes, stored, "cos",
      roundf(fdot(col("vq"), col("v")) /
        (sqrt(fdot(col("vq"), col("vq"))) *
          sqrt(fdot(col("v"), col("v")))), 4))

  /** IVF top-5 probe against an EXISTING index: `stored` is the
    * (vec_id, v, cluster) inverted file — e.g. read back from the
    * streaming-maintained parquet — and `cent` the trained quantizer it
    * was built against. Probes (every 50th vector of `e`) rank against
    * those centroids only; the search path is independent of how the
    * index was BUILT, which is the point: v_ann_maintained shares
    * v_ann_ivf's oracle verbatim, so any drift in either maintained
    * artifact (centroids or inverted file) goes hash-red.
    */
  private[graft] def ivfTopKFrom(e: DataFrame, cent: Centroids,
      stored: DataFrame, nprobe: Int): DataFrame =
    cosTop5(probeCells(e, cent, nprobe), stored)

  /** [[ivfTopKFrom]] with ADAPTIVE nprobe: instead of a fixed cell
    * count, each probe extends down its cell ranking until the
    * cumulative ELIGIBLE candidate count of the cells already taken
    * reaches `target` — i.e. nprobe is derived per-probe from the
    * OBSERVED per-cell eligible density of the (filtered, maintained)
    * inverted file. This is the production selectivity lever filtered
    * ANN needs: under a 10%-selective filter a cell holds ~|cell|/10
    * eligible rows, so a fixed nprobe silently rank over ~10× fewer
    * candidates (recall collapses exactly when the filter bites);
    * the adaptive rule keeps the CANDIDATE budget constant instead of
    * the cell count, at the same plan shape (the cell-size table is
    * |cells| rows, broadcast; the kept set is a rank-prefix, so the
    * rule is one running sum over ≤|cells| rows per probe). Cells are
    * taken strictly by proximity rank; the first cell is always taken.
    */
  private[graft] def ivfTopKFromAdaptive(e: DataFrame, cent: Centroids,
      stored: DataFrame, target: Long): DataFrame = {
    val csz = stored.groupBy("cluster").agg(count(lit(1)).as("csz"))
    val wCum = Window.partitionBy(col("q")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val probes = probeCells(e, cent, cent.ids.length)
      .join(broadcast(csz), col("qc") === csz("cluster"), "left")
      .withColumn("cum",
        coalesce(sum(coalesce(col("csz"), lit(0L))).over(wCum), lit(0L)))
      .filter(col("pos") === 0 || col("cum") < target)
      .select("q", "vq", "qc")
    cosTop5(probes, stored)
  }

  /** IVF-PQ candidates: each probe paired with the members of its 2
    * nearest cells in `cells`, the (vec_id, cluster) inverted file.
    * → (q, vec_id). */
  private def ivfpqCand(e: DataFrame, coarse: Centroids,
      cells: DataFrame): DataFrame =
    probeCells(e, coarse, 2).select("q", "qc")
      .join(cells.select(col("vec_id"), col("cluster").as("qc")), "qc")
      .select("q", "vec_id")

  /** IVF-PQ ADC top-`topR` of every probe among the members of its 2
    * nearest cells, codebooks and coarse quantizer trained over `e`. */
  private def ivfpqTopK(e: DataFrame, topR: Int): DataFrame = {
    val cent = pqCodebooks(e, lloydRounds = 1)
    val icent = ivfTrain(e, lloydRounds = 1)
    pqTopK(e, cent, pqEncode(e, cent),
      Some(ivfpqCand(e, icent, icent.assign(e))), topR)
  }

  /** The maintained inverted file of v_ann_maintained and
    * v_ann_filtered_maintained: the quantizer trained over the
    * embeddings is written as a parquet artifact and read back once,
    * then a two-batch replay assigns the vectors that satisfy `keep`
    * through the real appendMaintain sink. → (embeddings, read-back
    * centroids, read-back (vec_id, v, cluster) inverted file). */
  private def maintainedIvf(s: org.apache.spark.sql.SparkSession,
      d: String, tag: String,
      keep: Column): (DataFrame, Centroids, DataFrame) = {
    val e = t(s, d, "embeddings")
    val mid = e.agg(max("vec_id")).head.getLong(0) / 2
    val (base, stream) = Replay.twoBatchStream(s, tag, d,
      graft.etl.Tables.schemas("embeddings"), "emb",
      e.filter(col("vec_id") < mid), e.filter(col("vec_id") >= mid))
    val centPath = new java.io.File(base, "centroids").getPath
    ivfCentroids(e, lloydRounds = 1)
      .write.mode("overwrite").parquet(centPath)
    val cent = Centroids.of(s.read.parquet(centPath))
    val idxPath = new java.io.File(base, "ivf").getPath
    val q = graft.streaming.Streams.appendMaintain(stream, idxPath)(
      b => cent.assign(b.filter(keep)))
    require(q.awaitTermination(600000),
      s"$tag inverted-file maintenance stream must drain (AvailableNow)")
    require(q.recentProgress.map(_.batchId).distinct.length >= 2,
      "replay must span two micro-batches or the append path is untested")
    (e, cent, graft.streaming.Streams.readMaintained(s, idxPath))
  }

  val queries: Map[String, Q] = Map(

    // Brute-force cosine top-k: every 50th vector probes the full set.
    // Exact but quadratic in candidates — the baseline ANN variants are
    // measured against. TakeOrdered per probe via row_number window.
    "v_knn_brute" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").as("v"), norm(col("embedding")).as("nrm"))
      val probes = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q"), col("v").as("vq"),
          col("nrm").as("nq"))
      val w = Window.partitionBy(col("q"))
        .orderBy(desc("cos"), asc("vec_id"))
      probes.join(e, col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          roundf(dot(col("vq"), col("v")) / (col("nq") * col("nrm")), 4)
            .as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("q"), col("vec_id"), col("cos"), col("rn"))
        .orderBy("q", "rn")
    }),

    // Matryoshka (MRL) two-stage retrieval — the modern embedding-
    // model serving trick: models trained with Matryoshka losses rank
    // usefully under a PREFIX of the embedding, so stage 1 scores
    // every vector with only the first 16 of 64 dims (the prefix
    // "index" is ¼ the bytes — at 100 TB that is the stage that scans
    // the corpus, and it reads a quarter of the vector data), keeps
    // top-50 candidates per query by prefix cosine, and stage 2
    // re-fetches ONLY the candidates' full vectors (a |q|·50-row
    // broadcast-side gate, the v_ivfpq_rerank discipline) for the
    // exact top-10. Truth here is the two-stage PROCEDURE (both
    // stages' ties broken on the rounded grid + vec_id, mirrored in
    // the oracle); prefix recall on these untrained fixtures is a
    // fixture property, not the contract — measured 0.56 recall@10 vs
    // v_knn_brute at sf0.01 (a random prefix carries ¼ of the signal;
    // MRL-trained models front-load it, which is the production case).
    "v_matryoshka" -> ((s, d) => {
      val pre = 16
      val e = t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").as("v"))
      // the prefix index: the ONLY per-corpus-row data stage 1 touches
      val ep = e.select(col("vec_id"),
        slice(col("v"), 1, pre).as("vp"))
        .select(col("vec_id"), col("vp"), norm(col("vp")).as("nrmp"))
      val probesP = ep.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q"), col("vp").as("vqp"),
          col("nrmp").as("nqp"))
      val wp = Window.partitionBy(col("q"))
        .orderBy(desc("cosp"), asc("vec_id"))
      val cands = probesP.join(ep, col("vec_id") =!= col("q"))
        .select(col("q"), col("vec_id"),
          roundf(dot(col("vqp"), col("vp")) /
            (col("nqp") * col("nrmp")), 4).as("cosp"))
        .withColumn("rnp", row_number().over(wp))
        .filter(col("rnp") <= 50)
        .select("q", "vec_id")
      val full = e.select(col("vec_id"), col("v"),
        norm(col("v")).as("nrm"))
      val probesF = full.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q"), col("v").as("vq"),
          col("nrm").as("nq"))
      val w = Window.partitionBy(col("q"))
        .orderBy(desc("cos"), asc("vec_id"))
      cands.join(full, "vec_id").join(probesF, "q")
        .select(col("q"), col("vec_id"),
          roundf(dot(col("vq"), col("v")) / (col("nq") * col("nrm")), 4)
            .as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .select(col("q"), col("vec_id"), col("cos"), col("rn"))
        .orderBy("q", "rn")
    }),

    // Hyperplane-LSH ANN pairs: 16 sign bits → 4 bands of 4 → band-bucket
    // self-join → exact cosine verify ≥ 0.4. The scale path: bucket sizes
    // bound the quadratic verify, planes are derived (no model to ship).
    "v_ann_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").as("v"), norm(col("embedding")).as("nrm"))
      val sig = e.select(col("vec_id"), col("v"), col("nrm"),
        array((0 until Planes).map(p => planeBit(col("v"), p)): _*)
          .as("bits"))
      val bandKey = (b: Int) => array_join(
        transform(slice(col("bits"), b * RowsV + 1, RowsV),
          x => x.cast("string")), "")
      val banded = sig.select(col("vec_id"), col("v"), col("nrm"),
        explode(array((0 until BandsV).map(b =>
          struct(lit(b).as("band"), bandKey(b).as("bk"))): _*)).as("e"))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("e.band"), col("e.bk"))
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
          col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
        .distinct()
      val ea = e.select(col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na"))
      val eb = e.select(col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb"))
      cand.join(ea, "a").join(eb, "b")
        .select(col("a"), col("b"),
          roundf(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4)
            .as("cos"))
        .filter(col("cos") >= 0.4)
        .orderBy("a", "b")
    }),

    // IVF ANN: coarse quantizer = 10 label-seeded centroids refined by
    // ONE deterministic Lloyd iteration (an honest TRAINED quantizer —
    // cosine assignment, fixed-point means, ties on cell id — still no
    // stored model artifact, still bit-identical across engines and
    // re-runs); probes search only their nprobe nearest cells. The
    // inverted-file shape is what scales: the exact-cosine stage touches
    // |cell| candidates, not n, and assignment is a broadcast of 10
    // centroids — the vector table never shuffles. Recall@5 vs the exact
    // baseline is measured and asserted for nprobe ∈ {1, 2, 4} in
    // IvfSpec.
    "v_ann_ivf" -> ((s, d) => ivfTopK(s, d, nprobe = 1, lloydRounds = 1)),

    // K-means run to a CHECKED FIXPOINT — the iterate-to-convergence
    // discipline (d_clusters / g_labelprop_conv) on a numeric op: Lloyd
    // rounds repeat until the centroids are STABLE (bit-equal to the
    // previous round's — the driver holds them, and each round is one
    // collected fixed-point aggregate; see kmeansLoop for why this is
    // the same fixpoint as a stable assignment), require-capped so an
    // oscillating fixture fails LOUDLY. The oracle is exact despite the
    // unknown round count because a k-means fixpoint is absorbing under
    // the shared grid-rounded arithmetic: once assignments repeat,
    // every further round recomputes identical centroids and identical
    // assignments — so DuckDB just unrolls the SAME CTE chain to the
    // CAP and reads the assignment there (flat cost: the chain is
    // MATERIALIZED, see ivfRoundsSql). Measured convergence: round 17
    // at sf0.01 (500 -> 80 -> 41 -> ... -> 0), round 22 at sf0.1 —
    // the cap leaves ~1.5x headroom.
    "v_kmeans_conv" -> ((s, d) =>
      kmeansFixpoint(t(s, d, "embeddings"), "v_kmeans_conv")
        .orderBy("vec_id")),

    // K-means at the PRODUCTION TRAINING SHAPE (r16 verdict #6): the
    // fixpoint loop runs on a DETERMINISTIC 25% salted-hash sample
    // (v_pq256's discipline — at 100 TB, Lloyd needs enough vectors to
    // place k centroids, not the corpus), then ONE full-corpus
    // assignment pass against the converged centroids. The full-
    // training point (v_kmeans_conv) stays registered as the exact
    // reference; IvfSpec measures and pins the sampled point's
    // agreement with it. The oracle replays the same salted sample, so
    // training is bit-identical across engines; convergence stays
    // oracle-exact by the absorbing-fixpoint argument (the chain
    // unrolls to the cap).
    "v_kmeans_sampled" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val train = graft.ops.Text.portableHash(concat(lit("kms:"),
        col("vec_id").cast("string"))) % 4 === 0
      val sample = e.filter(train)
      kmeansLoop(sample, "v_kmeans_sampled")._1.assign(e)
        .select(col("vec_id"), col("cluster"))
        .orderBy("vec_id")
    }),

    // ANN search over a STREAMING-MAINTAINED index — the maintenance
    // loop the dedup family has (d_index_maintained / d_semdedup_incr)
    // applied to similarity SEARCH: the inverted file is built by the
    // real appendMaintain sink over a 2-micro-batch replay of the
    // vector corpus (each batch assigns against the frozen quantizer
    // and lands as a batchId-keyed idempotent append — valid because
    // assignment is per-vector, so batches partition the file), then
    // every probe searches the READ-BACK index. The ORACLE IS
    // v_ann_ivf's VERBATIM: the maintained index must reproduce the
    // batch-built inverted file exactly or the top-5 lists go
    // hash-red. At 100 TB this is the ingest shape for a living ANN
    // index: each vector shard pays O(shard · |cells|) assignment and
    // one append — the index is never rebuilt and never rescanned.
    "v_ann_maintained" -> ((s, d) => {
      val (e, cent, stored) = maintainedIvf(s, d, "ann_idx", lit(true))
      ivfTopKFrom(e, cent, stored, nprobe = 1)
    }),

    // nprobe=2: the standard recall/cost knob — each probe unions two
    // cells' candidates; same index, no extra state.
    "v_ann_ivf2" -> ((s, d) => ivfTopK(s, d, nprobe = 2, lloydRounds = 1)),

    // FILTERED ANN — attribute-constrained vector search (the
    // known-hard production feature: "nearest docs WHERE license
    // permits training"): top-5 among vectors satisfying a metadata
    // predicate (label is even — ~50% selective). PRE-filter
    // semantics, the correct ones for quality gating: eligibility is
    // decided before ranking, so the answer is the true top-k OF THE
    // ELIGIBLE SET (post-filtering an unconstrained top-k list loses
    // recall exactly when the filter is selective). The filter pushes
    // BELOW the index probe: assignments are computed for eligible
    // vectors only (per-vector independent, so filter-then-assign ≡
    // assign-then-filter — the oracle does the latter, proving the
    // equivalence), the quantizer and the probe set stay shared with
    // the unfiltered ladder, and each probe scans only the eligible
    // rows of its cells. At high filter selectivity the production
    // lever is raising nprobe — same knob, same plan shape.
    "v_ann_filtered" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cent = ivfTrain(e, lloydRounds = 1)
      ivfTopKFrom(e, cent, cent.assign(e.filter(col("label") % 2 === 0)),
        nprobe = 2)
    }),

    // FILTERED ANN over the MAINTAINED index with ADAPTIVE nprobe —
    // v_ann_filtered composed with the v_ann_maintained ingest shape,
    // plus the selectivity lever v_ann_filtered's comment names: the
    // inverted file holds ONLY eligible vectors (label = 4, ~10%
    // selective — pre-filter semantics, each micro-batch filters then
    // assigns against the frozen quantizer through the real
    // appendMaintain sink), and each probe derives its own nprobe from
    // the index's OBSERVED per-cell eligible density, extending down
    // its cell ranking until ~`target` eligible candidates are in
    // scope (see ivfTopKFromAdaptive). The oracle mirrors the
    // cumulative-prefix rule exactly (adaptiveTarget in ivfSql), so a
    // drift in the maintained cell sizes changes which cells probes
    // take and goes hash-red.
    "v_ann_filtered_maintained" -> ((s, d) => {
      val (e, cent, stored) =
        maintainedIvf(s, d, "annf_idx", col("label") === 4)
      ivfTopKFromAdaptive(e, cent, stored, target = AnnFilteredTarget)
    }),

    // nprobe=4: the top of the measured recall/cost ladder (IvfSpec:
    // recall@5 = 0.30/0.46/0.72 at nprobe 1/2/4) — registering it makes
    // the full ladder oracle-checked, not just spec-measured. Still the
    // same broadcast-quantizer shape: cost grows only in candidate rows
    // scanned (4 cells of 10), never in shuffle.
    "v_ann_ivf4" -> ((s, d) => ivfTopK(s, d, nprobe = 4, lloydRounds = 1)),

    // nprobe=8: the PRODUCTION recall operating point — a retrieval
    // pipeline ships the nprobe where recall crosses ~0.9, and on this
    // deliberately weak-similarity corpus (near-uniform vectors, cell
    // margins are thin) that takes probing 8 of the 10 cells. Honest
    // disclosure: real embedding corpora cluster, so the same recall
    // arrives at far smaller nprobe/|cells| ratios — what this row
    // pins is that the LADDER REACHES the production point and the
    // cost grows only in candidates scanned (the broadcast-quantizer
    // shape is identical at every rung). Measured in IvfSpec.
    "v_ann_ivf8" -> ((s, d) => ivfTopK(s, d, nprobe = 8, lloydRounds = 1)),

    // Quantized inverted file: stored vectors are int8 (v_quant), scored
    // directly (scale cancels in cosine) — 4× less memory bandwidth on
    // the candidate scan, which is what dominates IVF search at 100 TB.
    // Recall delta vs the float index is disclosed in IvfSpec.
    "v_ann_ivfq" -> ((s, d) =>
      ivfTopK(s, d, nprobe = 2, lloydRounds = 1, quantized = true)),

    // Product quantization with ADC scoring (Jégou/Douze/Schmid, PAMI
    // 2011) — the third storage point on the compression ladder
    // (float → int8 → PQ codes): each vector is M=8 sub-vectors, each
    // encoded as its nearest sub-space centroid id, so storage is
    // 8 SMALL INTS per vector (vs 64 floats — 32×) and candidate
    // scoring is Asymmetric Distance Computation: the query computes
    // one |codebook|-sized dot-product TABLE per sub-space (M·K = 512
    // dots), then every candidate costs M table LOOKUPS instead of a
    // 64-dim fold — at 100 TB this is what makes exhaustive
    // re-ranking of a billion candidates memory-bound, not
    // compute-bound. Codebooks are K=64 vec_id-seeded fixed-point
    // centroids + one L2 Lloyd round per sub-space (the IVF
    // determinism discipline, L2 because PQ approximates the vector,
    // not its direction — M=8 sub-vectors of 8 dims, 8 bytes/vector);
    // approx cos = Σ_m table[m][code] / (|q|·|v̂|) with
    // |v̂| from the codebook. The M-term sums are grid-rounded then
    // decimal-summed (4 doubles in nondeterministic agg order would
    // not be reproducible). The oracle mirrors every stage — sub-space
    // training, codes, tables, ADC — so a drifted codebook or a wrong
    // lookup goes hash-red.
    "v_pq" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val cent = pqCodebooks(e, lloydRounds = 1)
      val codes = pqEncode(e, cent)
      pqTopK(e, cent, codes)
    }),

    // The PRODUCTION PQ operating point (ROADMAP r13 #2): K=256
    // codebooks (one byte per sub-space code — the canonical PQ cell
    // budget) trained on a DETERMINISTIC 25% hash sample of the
    // corpus. At 100 TB full-corpus K-means is the wrong cost shape —
    // training needs only enough vectors to place K centroids (256
    // needs thousands, not billions), so seeds + Lloyd refinement rank
    // the sample while the final encoding pass covers every vector.
    // The sample is the x_sample discipline (salted md5-hash
    // predicate), so the oracle replays the exact same training set —
    // a random sample would be unreproducible across engines. Recall
    // ladder next to IVF's, measured in IvfSpec: 0.34 (M=8, K=64,
    // full training) → 0.50 at this point (M=8, K=256, 25% training)
    // — 4× the cells buys finer sub-space resolution even off a
    // quarter of the data, at the same 8 bytes/vector.
    "v_pq256" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val train = graft.ops.Text.portableHash(concat(lit("pqs:"),
        col("vec_id").cast("string"))) % 4 === 0
      val cent = pqCodebooksK(e, lloydRounds = 1, k = 256, Some(train))
      val codes = pqEncode(e, cent, k = 256)
      pqTopK(e, cent, codes)
    }),

    // IVF-PQ COMPOSITION — the FAISS production index shape (Jégou et
    // al.; the two halves this engine already carries, composed):
    // coarse IVF cells select CANDIDATES (nprobe=2 of 10 cells — the
    // v_ann_ivf machinery), PQ codes score them by ADC lookups (the
    // v_pq machinery), so a query costs one |cells| coarse ranking +
    // one M·K table + M lookups per PROBED-CELL member instead of per
    // corpus vector. Direct encoding (codes over raw vectors, not
    // residuals — the deterministic-oracle choice; residual encoding
    // buys accuracy at the cost of per-cell codebook chains,
    // disclosed). The recall ladder composes transparently: the IVF
    // candidate cap (nprobe=2 ≈ 0.46 ceiling) gates what ADC can
    // return. Oracle composes the SAME two proven CTE chains with the
    // candidate restriction.
    "v_ivfpq" -> ((s, d) => ivfpqTopK(t(s, d, "embeddings"), topR = 5)),

    // TWO-STAGE IVF-PQ search — the production FAISS pattern v_ivfpq
    // stops short of: the compressed index only SHORTLISTS (ADC top-25
    // inside the probed cells), and the final ranking re-scores the
    // shortlist against the RAW vectors with exact cosine. The refine
    // step touches |queries|·25 raw vectors — at 100 TB the raw-vector
    // fetches are point lookups against the (vec_id-sorted) vector
    // table, never a scan — and buys back everything quantization lost
    // WITHIN the shortlist: recall@5 is bounded above by the coarse
    // cells' candidate recall, and IvfSpec asserts it strictly above
    // the ADC-ranked v_ivfpq. Exact-rerank grid discipline is
    // v_knn_brute's verbatim (FloatVecDot, 1e-4 grid).
    "v_ivfpq_rerank" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val short = ivfpqTopK(e, topR = 25).select("q", "vec_id")
      val ev = e.select(col("vec_id"), col("embedding").as("v"),
        norm(col("embedding")).as("nrm"))
      val qv = ev.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q"), col("v").as("vq"),
          col("nrm").as("nq"))
      val w = Window.partitionBy(col("q"))
        .orderBy(desc("cos"), asc("vec_id"))
      short.join(ev, "vec_id").join(qv, "q")
        .select(col("q"), col("vec_id"),
          roundf(dot(col("vq"), col("v")) / (col("nq") * col("nrm")), 4)
            .as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("q"), col("vec_id"), col("cos"), col("rn"))
        .orderBy("q", "rn")
    }),

    // RESIDUAL-encoded IVF-PQ — the accuracy upgrade direct encoding
    // leaves on the table (disclosed in v_ivfpq's comment): PQ encodes
    // r = v − centroid(cell(v)), so the codebooks model the SMALL
    // within-cell displacement instead of the full vector — the same
    // 8 bytes/vector resolve finer detail, and ADC reconstructs
    // v̂ = centroid + decode via a broadcast |cells|·M·K table.
    // Same deterministic Lloyd/grid discipline at every stage (coarse
    // chain, residual doubles, sub-space training, grid-rounded
    // decimal sums); candidate gating keeps the r13-fixed plan shape
    // (cells restrict codes BEFORE the table join). Recall vs the
    // direct-encoded v_ivfpq is asserted strictly higher in IvfSpec.
    "v_ivfpq_res" -> ((s, d) =>
      ivfpqResTopK(t(s, d, "embeddings"), nprobe = 2)),

    // PQ search over a STREAMING-MAINTAINED code index — the
    // v_ann_maintained ingest shape applied to the compressed index:
    // codebooks are trained once and FROZEN (a maintained parquet),
    // each replay batch encodes its own vectors against the read-back
    // codebooks (a vector's codes depend on that vector alone, so the
    // batchId-keyed append IS the merge — the d_index_maintained
    // argument), and every ADC probe scores against the READ-BACK
    // maintained codes. Oracle = v_pq's VERBATIM: a lost batch, a
    // double append, or codebook drift between build and search makes
    // the top-5 lists hash-red. At 100 TB this is the living
    // compressed-index shape: each vector shard pays O(shard · M·K)
    // encoding and one append — codes are never rebuilt.
    "v_pq_maintained" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val mid = e.agg(max("vec_id")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "pq_idx", d,
        graft.etl.Tables.schemas("embeddings"), "emb",
        e.filter(col("vec_id") < mid), e.filter(col("vec_id") >= mid))
      val cbPath = new java.io.File(base, "codebooks").getPath
      pqCodebooks(e, lloydRounds = 1)
        .write.mode("overwrite").parquet(cbPath)
      val cent = s.read.parquet(cbPath)
      val codesPath = new java.io.File(base, "codes").getPath
      val q = graft.streaming.Streams.appendMaintain(stream, codesPath)(
        b => pqArgmin(pqSubs(b), cent)
          .select(col("vec_id"), col("m"), col("cl").as("code")))
      require(q.awaitTermination(600000),
        "PQ code maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the append path is untested")
      pqTopK(e, cent,
        graft.streaming.Streams.readMaintained(s, codesPath))
    }),

    // The LIVING flagship index — IVF-PQ with BOTH artifacts
    // streaming-maintained off ONE input pass (r15 candidate #4
    // pulled forward): coarse quantizer and PQ codebooks are trained
    // once and frozen (maintained parquets, the v_pq_maintained
    // discipline), then Streams.appendMaintainMulti lands each replay
    // batch's cell assignments AND codes as paired batchId-keyed
    // appends — a vector's entries in both artifacts depend on that
    // vector alone, so the appends are the merge, a retry re-overwrites
    // both, and the pair cannot diverge. Search probes the READ-BACK
    // maintained inverted file for candidates and the READ-BACK
    // maintained codes for ADC — the exact v_ivfpq composition with
    // every index row having traveled the streaming path. Oracle is
    // v_ivfpq's VERBATIM: a lost batch in either artifact, a
    // double-append, or train/search codebook drift goes hash-red.
    // At 100 TB this is the production ingest: per batch O(|batch|·K)
    // coarse assignment + O(|batch|·M·K) encoding + two appends;
    // neither index is ever rebuilt.
    "v_ivfpq_maintained" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val mid = e.agg(max("vec_id")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "ivfpq_idx", d,
        graft.etl.Tables.schemas("embeddings"), "emb",
        e.filter(col("vec_id") < mid), e.filter(col("vec_id") >= mid))
      val coarsePath = new java.io.File(base, "coarse").getPath
      ivfCentroids(e, lloydRounds = 1)
        .write.mode("overwrite").parquet(coarsePath)
      val coarse = Centroids.of(s.read.parquet(coarsePath))
      val cbPath = new java.io.File(base, "codebooks").getPath
      pqCodebooks(e, lloydRounds = 1)
        .write.mode("overwrite").parquet(cbPath)
      val cent = s.read.parquet(cbPath)
      val idxPath = new java.io.File(base, "ivf").getPath
      val codesPath = new java.io.File(base, "codes").getPath
      val q = graft.streaming.Streams.appendMaintainMulti(stream, Seq(
        // cell assignment ONLY — the PQ codes carry the payload, so
        // the inverted file never stores the raw vector
        idxPath -> ((b: DataFrame) =>
          coarse.assign(b).select("vec_id", "cluster")),
        codesPath -> ((b: DataFrame) =>
          pqArgmin(pqSubs(b), cent)
            .select(col("vec_id"), col("m"), col("cl").as("code")))))
      require(q.awaitTermination(600000),
        "IVF-PQ index maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the paired append is " +
          "untested")
      val cand = ivfpqCand(e, coarse,
        graft.streaming.Streams.readMaintained(s, idxPath))
      pqTopK(e, cent,
        graft.streaming.Streams.readMaintained(s, codesPath),
        Some(cand))
    }),

    // HYBRID RETRIEVAL: reciprocal-rank fusion (Cormack/Clarke/
    // Büttcher, SIGIR 2009) of a lexical BM25 ranking and a dense
    // cosine ranking over the SAME corpus (doc_id ↔ vec_id is the
    // fixture correspondence; both tables enumerate 0..N-1) — the
    // standard first-stage composition of a retrieval pipeline, and
    // the reason a training-data engine needs both index families at
    // once. RRF(d) = Σ_sys 1/(60 + rank_sys(d)) with an absent ranking
    // contributing 0 — rank-based, so the two systems' incomparable
    // score scales never need calibration. Ranks are integers and the
    // two-term sum is fixed-order IEEE, so fusion is deterministic
    // given the rankings, each of which carries its own proven
    // determinism discipline (t_bm25's decimal comp sums, v_knn's
    // grid-rounded cosine). The fixture ranks the FULL lists so the
    // oracle is exact; at 100 TB each system feeds its top-k
    // (TakeOrderedAndProject — the o3_topk shape) and RRF fuses
    // k-sized lists per query, which is the production form.
    "v_hybrid" -> ((s, d) => {
      val qterms = Seq("join", "scan", "window")
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      val dl = toks.groupBy("doc_id")
        .agg(count(lit(1)).cast("double").as("dl"))
      val avg = dl.agg((sum("dl") / count(lit(1)).cast("double"))
        .as("avgdl"))
      val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val qt = toks.filter(col("word").isin(qterms: _*))
      val tf = qt.groupBy("doc_id", "word")
        .agg(count(lit(1)).cast("double").as("tf"))
      val dfreq = qt.select("doc_id", "word").distinct()
        .groupBy("word").agg(count(lit(1)).cast("double").as("df"))
      val score = (col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
          lit(0.75) * col("dl") / col("avgdl")))
      val bm = tf.join(broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(broadcast(avg))
        .crossJoin(broadcast(nDocs))
        .filter(col("doc_id") =!= 0)
        .select(col("doc_id"), roundf(score, 4).as("comp"))
        .groupBy("doc_id")
        .agg(sum(col("comp").cast("decimal(22,4)")).cast("double")
          .as("bm25"))
      hybridFuse(s, d, bm)
    }),

    // v_hybrid with the LEXICAL side served by the MAINTAINED search
    // index — the production composition: the doc-length and
    // query-term-posting tables accumulate through the same
    // appendMaintain rig as t_bm25_maintained (batches partition the
    // doc space, so appends ARE the merge), BM25 ranks derive from
    // index-sized aggregates WITHOUT rescanning corpus text, and the
    // fusion is unchanged. Shares v_hybrid's oracle VERBATIM — a lost
    // batch, a double-appended posting, or a drifted length moves a
    // rank through the fused list and goes hash-red. At 100 TB this
    // is what a hybrid query costs: the index, the dense ranking, and
    // a k-sized fusion — never the text.
    "v_hybrid_maintained" -> ((s, d) => {
      val qterms = Seq("join", "scan", "window")
      val docs = t(s, d, "documents")
      val mid = docs.agg(max("doc_id")).head.getLong(0) / 2
      val (base, stream) = graft.ops.Replay.twoBatchStream(s,
        "hybrid_idx", d, graft.etl.Tables.schemas("documents"), "docs",
        docs.filter(col("doc_id") < mid),
        docs.filter(col("doc_id") >= mid))
      def sibling(name: String): String = {
        val f = new java.io.File(base.getPath + "_" + name)
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
          x.delete(); ()
        }
        rm(f)
        f.getPath
      }
      val words = (c: org.apache.spark.sql.Column) => split(c, " ")
      val statsPath = sibling("docstats")
      val postPath = sibling("posting")
      val q1 = graft.streaming.Streams.appendMaintain(stream, statsPath)(
        b => b.select(col("doc_id"), explode(words(col("text")))
            .as("word"))
          .groupBy("doc_id").agg(count(lit(1)).cast("double").as("dl")))
      require(q1.awaitTermination(600000),
        "doc-stats maintenance stream must drain (AvailableNow)")
      require(q1.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the append path is " +
          "untested")
      val q2 = graft.streaming.Streams.appendMaintain(stream, postPath)(
        b => b.select(col("doc_id"), explode(words(col("text")))
            .as("word"))
          .filter(col("word").isin(qterms: _*))
          .groupBy("doc_id", "word")
          .agg(count(lit(1)).cast("double").as("tf")))
      require(q2.awaitTermination(600000),
        "posting maintenance stream must drain (AvailableNow)")
      require(q2.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the append path is " +
          "untested")
      val dl = graft.streaming.Streams.readMaintained(s, statsPath)
      val tf = graft.streaming.Streams.readMaintained(s, postPath)
      val avg = dl.agg((sum("dl") / count(lit(1)).cast("double"))
        .as("avgdl"))
      val nDocs = dl.agg(count(lit(1)).cast("double").as("n_docs"))
      val dfreq = tf.groupBy("word")
        .agg(count(lit(1)).cast("double").as("df"))
      val score = (col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
          lit(0.75) * col("dl") / col("avgdl")))
      val bm = tf.join(broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(broadcast(avg))
        .crossJoin(broadcast(nDocs))
        .filter(col("doc_id") =!= 0)
        .select(col("doc_id"), roundf(score, 4).as("comp"))
        .groupBy("doc_id")
        .agg(sum(col("comp").cast("decimal(22,4)")).cast("double")
          .as("bm25"))
      hybridFuse(s, d, bm)
    }),

    // Maximum-inner-product search via the NORM-AUGMENTATION reduction
    // (Bachrach et al., RecSys 2014 — the recommender-retrieval
    // workhorse: user·item dot products, where cosine ANN is the wrong
    // objective because item norms carry signal): append one dimension
    // sqrt(M² − |v|²) to every stored vector (M = corpus max norm), so
    // ALL stored vectors have norm exactly M and cosine against an
    // augmented query [q, 0] becomes q·v / (|q|·M) — MONOTONE in the
    // inner product. MIPS then rides the UNCHANGED cosine-IVF
    // machinery: the coarse quantizer trains on augmented vectors,
    // probes search nprobe=2 cells, and only the final scoring joins
    // back to the raw vectors to emit true inner products. The oracle
    // mirrors the augmented training chain (ivfRoundsSql with the aug
    // CTE as its table — one shared definition) and the raw-dot
    // re-rank, so a drifted augmentation or a wrong cell assignment
    // goes hash-red.
    "v_mips" -> ((s, d) => {
      val e0 = t(s, d, "embeddings")
      val n2 = vdot(col("embedding"), col("embedding"))
      val base = e0.select(col("vec_id"), col("label"),
        col("embedding"), n2.as("n2"))
      val m2 = base.agg(max("n2")).head.getDouble(0)
      val aug = base.select(col("vec_id"), col("label"),
        concat(transform(col("embedding"), x => x.cast("double")),
          array(sqrt(lit(m2) - col("n2")))).as("embedding"))
      val cent = ivfTrain(aug, lloydRounds = 1)
      val stored = cent.assign(aug)
        .select(col("vec_id"), col("cluster"))
        .join(e0.select(col("vec_id"), col("embedding").as("v")),
          "vec_id")
      val probes = probeCells(aug, cent, 2).select("q", "qc")
        .join(e0.select(col("vec_id").as("q"),
          col("embedding").as("vq")), "q")
      probeTop5(probes, stored, "dot", roundf(fdot(col("vq"), col("v")), 4))
    }),

    // Per-label centroid, long format (label, dim, exact fixed-point sum +
    // count; mean ≈ sum_x_e6/1e6/n). Components are grid-snapped with pure
    // IEEE ops (floor(x·1e6+0.5) — identical in every engine) BEFORE the
    // sum, and the sum itself is integer, hence order-independent.
    // Double→decimal casts are NOT usable here: Spark rounds the exact
    // binary expansion, DuckDB rounds the binary product x·10^s — they
    // disagree by 1 ULP on real data (observed on this table).
    "v_centroid" -> ((s, d) => {
      t(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("dim", "x")))
        .groupBy("label", "dim")
        .agg(
          sum(floor(col("x").cast("double") * lit(1000000.0) + lit(0.5))
            .cast("long")).as("sum_x_e6"),
          count("*").as("n"))
        .orderBy("label", "dim")
    }),

    // Symmetric int8 quantization — the storage lever that makes a
    // 100 TB embedding corpus a 25 TB one: q_i = ⌊x_i·(127/max|x|)+½⌋
    // per vector, plus the cosine between the dequantized and original
    // vector (qcos ≈ 1 quantifies the fidelity loss the downstream ANN
    // inherits). Everything is closed-form IEEE arithmetic (divide,
    // multiply, floor) on per-row values — bit-identical across engines,
    // one codegen'd pass, no shuffle at all. Rows with max|x| = 0 are
    // excluded in both engines (no scale exists).
    "v_quant" -> ((s, d) => {
      val e = t(s, d, "embeddings")
        .withColumn("maxabs", array_max(transform(col("embedding"),
          x => abs(x.cast("double")))))
        .filter(col("maxabs") > 0)
        .withColumn("q", transform(col("embedding"),
          x => floor(x.cast("double") * (lit(127.0) / col("maxabs")) +
            lit(0.5)).cast("long")))
      val deq = transform(col("q"),
        qi => qi.cast("double") * (col("maxabs") / lit(127.0)))
      val dotQV = vdot(deq, col("embedding"))
      val nrmQ = sqrt(vdot(deq, deq))
      val nrmV = sqrt(vdot(col("embedding"), col("embedding")))
      // q is emitted as a comma-joined string, not a raw array: the
      // correctness driver's pandas compare cannot hash/sort array cells
      // (CORRECTNESS_r03 "unhashable type: numpy.ndarray"). Same
      // serialization on the oracle side (array_to_string).
      e.select(col("vec_id"),
          array_join(col("q"), ",").as("q"),
          roundf(dotQV / (nrmQ * nrmV), 4).as("qcos"))
        .orderBy("vec_id")
    }))

  private[ops] def planesSql: String =
    // same derived hyperplane family, DuckDB-side — PlaneMod/PlaneOff
    // interpolated from the Scala constants above, never re-typed
    s"((('0x' || substr(md5(p || ',' || j), 1, 15))::BIGINT % $PlaneMod)" +
      s" - $PlaneOff)"

  private[ops] def cosVCSql(v: String, c: String): String =
    s"""list_sum([$v[i]::DOUBLE * $c[i] for i in range(1, len($c) + 1)]) /
       (sqrt(list_sum([$v[i]::DOUBLE * $v[i]::DOUBLE
          for i in range(1, len($v) + 1)])) *
        sqrt(list_sum([$c[i] * $c[i] for i in range(1, len($c) + 1)])))"""

  private[ops] def cosVVSql(a: String, b: String): String =
    s"""list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE
          for i in range(1, len($a) + 1)]) /
       (sqrt(list_sum([$a[i]::DOUBLE * $a[i]::DOUBLE
          for i in range(1, len($a) + 1)])) *
        sqrt(list_sum([$b[i]::DOUBLE * $b[i]::DOUBLE
          for i in range(1, len($b) + 1)])))"""

  /** The per-Lloyd-round centroid/assignment CTE chain (v0..rkN), shared
    * by ivfSql and the d_semdedup/d_semdedup_incr oracles so both
    * engines — and all consumers — share ONE definition of the
    * quantizer. `table` is the training source (a CTE name for
    * corpus-restricted training). */
  private[ops] def ivfRoundsSql(lloydRounds: Int,
      table: String = "embeddings"): String =
    // per-round centroid CTEs: vR (k, v) -> exR -> ceR -> clR -> rkR.
    // MATERIALIZED matters: DuckDB inlines plain CTEs, and on a chained
    // recurrence the re-evaluation compounds ~1.35× PER ROUND (measured
    // — the 24-round v_kmeans_conv chain extrapolates to ~10^3 s
    // inlined vs a flat 1.6 s materialized; harmless at lloydRounds=1)
    (0 to lloydRounds).map { r =>
      val src = if (r == 0)
        s"v$r AS MATERIALIZED (SELECT label AS k, embedding AS v " +
          s"FROM $table)"
      else
        s"v$r AS MATERIALIZED (SELECT k, v FROM rk${r - 1} WHERE rn = 1)"
      s"""$src,
         ex$r AS MATERIALIZED (SELECT k, unnest(v) AS x,
             generate_subscripts(v, 1) AS dim FROM v$r),
         ce$r AS MATERIALIZED (SELECT k, dim,
             CAST(SUM(CAST(floor(x::DOUBLE * 1000000.0 + 0.5) AS BIGINT))
               AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
           FROM ex$r GROUP BY k, dim),
         cl$r AS MATERIALIZED (SELECT k, list(c ORDER BY dim) AS cv
           FROM ce$r GROUP BY k),
         rk$r AS MATERIALIZED (
           SELECT vec_id, v, k, cc,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY cc DESC, k ASC) AS rn
           FROM (
             SELECT e.vec_id, e.embedding AS v, cl$r.k,
               ${cosVCSql("e.embedding", "cv")} AS cc
             FROM $table e CROSS JOIN cl$r))"""
    }.mkString(",\n         ")

  /** DuckDB mirror of ivfTopK — the SAME CTE chain per Lloyd round,
    * parameterized so both engines share one definition of the quantizer
    * and probe rule (single source of truth, like NgramSalt). cosVCSql
    * folds float·double (vector vs centroid, matching the Spark side's
    * zip_with cast); cosVVSql folds float·float cast to double
    * (candidate scoring, matching fdot). */
  private[ops] def ivfSql(nprobe: Int, lloydRounds: Int,
      quantized: Boolean = false, storedPred: String = "",
      adaptiveTarget: Option[Long] = None): String = {
    val rounds = ivfRoundsSql(lloydRounds)
    val cosVV = cosVVSql _
    val last = lloydRounds
    // quantized: the stored side is the v_quant int8 transform of each
    // assigned vector (as DOUBLE lists, matching the Spark cast) — the
    // symmetric scale cancels in cosine, so scoring uses q directly
    val asg =
      if (storedPred.nonEmpty)
        // filtered search: the stored side keeps only vectors whose
        // embeddings-row attribute satisfies the predicate (assignment
        // is per-vector independent, so assign-then-filter here equals
        // the Spark side's filter-then-assign)
        s"""asg AS (SELECT r.vec_id, r.v, r.k AS cluster
             FROM rk$last r JOIN embeddings e USING (vec_id)
             WHERE r.rn = 1 AND $storedPred)"""
      else if (!quantized)
        s"asg AS (SELECT vec_id, v, k AS cluster FROM rk$last WHERE rn = 1)"
      else
        s"""asg0 AS (SELECT vec_id, v, k AS cluster,
               list_max([abs(x::DOUBLE) for x in v]) AS maxabs
             FROM rk$last WHERE rn = 1),
         asg AS (SELECT vec_id,
               [floor(x::DOUBLE * (127.0 / maxabs) + 0.5)
                 for x in v] AS v,
               cluster
             FROM asg0 WHERE maxabs > 0)"""
    val candCos =
      if (!quantized) cosVV("pr.vq", "a.v")
      else
        s"""list_sum([pr.vq[i]::DOUBLE * a.v[i]
              for i in range(1, len(pr.vq) + 1)]) /
           (sqrt(list_sum([pr.vq[i]::DOUBLE * pr.vq[i]::DOUBLE
              for i in range(1, len(pr.vq) + 1)])) *
            sqrt(list_sum([a.v[i] * a.v[i]
              for i in range(1, len(a.v) + 1)])))"""
    // adaptive mode: each probe takes its proximity-ranked cell PREFIX
    // until the cumulative eligible cell size of the cells BEFORE it
    // reaches the target (first cell always taken) — the exact mirror
    // of ivfTopKFromAdaptive's running-sum rule
    val pr = adaptiveTarget match {
      case None =>
        s"""pr AS (SELECT vec_id AS q, v AS vq, k AS qc FROM rk$last
                WHERE rn <= $nprobe AND vec_id % 50 = 0)"""
      case Some(t) =>
        s"""csz AS (SELECT cluster, COUNT(*) AS csz
                FROM asg GROUP BY cluster),
         prc AS (SELECT r.vec_id, r.v, r.k, r.rn, COALESCE(c.csz, 0) AS csz
                FROM rk$last r LEFT JOIN csz c ON c.cluster = r.k
                WHERE r.vec_id % 50 = 0),
         pr AS (SELECT vec_id AS q, v AS vq, k AS qc FROM (
                SELECT vec_id, v, k, rn,
                  COALESCE(SUM(csz) OVER (PARTITION BY vec_id ORDER BY rn
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS cum
                FROM prc)
                WHERE rn = 1 OR cum < $t)"""
    }
    s"""WITH $rounds,
         $asg,
         $pr,
         cand AS (
           SELECT pr.q, a.vec_id,
             floor($candCos * 10000.0 + 0.5) / 10000.0
               AS cos
           FROM pr JOIN asg a
             ON a.cluster = pr.qc AND a.vec_id <> pr.q)
         SELECT q, vec_id, cos, rn FROM (
           SELECT q, vec_id, cos, row_number() OVER (PARTITION BY q
             ORDER BY cos DESC, vec_id ASC) AS rn
           FROM cand) WHERE rn <= 5 ORDER BY q, rn"""
  }

  /** DuckDB mirror of v_pq — sub-space training chain (label seed +
    * Lloyd rounds, MATERIALIZED like ivfRoundsSql), codes, ADC tables,
    * grid-rounded decimal sums. One definition of every constant (PqM,
    * sub length, probe rule) shared with the Spark side. */
  private[ops] def pqSql(lloydRounds: Int, k: Int = PqK,
      trainPred: Option[String] = None,
      ivfCand: Boolean = false, nprobe: Int = 2,
      rerank: Boolean = false, topR: Int = 5): String = {
    val L = pqSubLen
    val subsSql = (0 until PqM).map(m =>
      s"SELECT vec_id, label, $m AS m, " +
        s"embedding[${m * L + 1}:${m * L + L}] AS sv FROM embeddings")
      .mkString(" UNION ALL ")
    // sampled-training mode: seeds and Lloyd refinement rank only the
    // sampled sub-vectors (tsubs); codes then come from one extra
    // final ranking over ALL subs — mirroring pqCodebooksK + pqEncode
    val trainTable = if (trainPred.isEmpty) "subs" else "tsubs"
    val tsubsCte = trainPred.fold("")(p =>
      s"tsubs AS MATERIALIZED (SELECT * FROM subs WHERE $p),\n         ")
    val rounds = (0 to lloydRounds).map { r =>
      val src = if (r == 0)
        s"SELECT m, vec_id % $k AS k, sv FROM $trainTable"
      else s"SELECT m, k, sv FROM pr${r - 1} WHERE rn = 1"
      s"""pv$r AS MATERIALIZED ($src),
         px$r AS MATERIALIZED (SELECT m, k, unnest(sv) AS x,
             generate_subscripts(sv, 1) AS dim FROM pv$r),
         pc$r AS MATERIALIZED (SELECT m, k, dim,
             CAST(SUM(CAST(floor(x::DOUBLE * 1000000.0 + 0.5) AS BIGINT))
               AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
           FROM px$r GROUP BY m, k, dim),
         pl$r AS MATERIALIZED (SELECT m, k, list(c ORDER BY dim) AS cv
           FROM pc$r GROUP BY m, k),
         pr$r AS MATERIALIZED (
           SELECT vec_id, m, sv, k, dd,
             row_number() OVER (PARTITION BY vec_id, m
               ORDER BY dd ASC, k ASC) AS rn
           FROM (
             SELECT s.vec_id, s.m, s.sv, pl$r.k,
               list_sum([(s.sv[i]::DOUBLE - cv[i]) *
                   (s.sv[i]::DOUBLE - cv[i])
                 for i in range(1, len(cv) + 1)]) AS dd
             FROM $trainTable s JOIN pl$r ON s.m = pl$r.m))"""
    }.mkString(",\n         ")
    val last = lloydRounds
    val codesCte = if (trainPred.isEmpty)
      s"""codes AS (SELECT vec_id, m, k AS code FROM pr$last
                   WHERE rn = 1)"""
    else
      s"""prf AS MATERIALIZED (
           SELECT vec_id, m, k,
             row_number() OVER (PARTITION BY vec_id, m
               ORDER BY dd ASC, k ASC) AS rn
           FROM (
             SELECT s.vec_id, s.m, pl$last.k,
               list_sum([(s.sv[i]::DOUBLE - cv[i]) *
                   (s.sv[i]::DOUBLE - cv[i])
                 for i in range(1, len(cv) + 1)]) AS dd
             FROM subs s JOIN pl$last ON s.m = pl$last.m)),
         codes AS (SELECT vec_id, m, k AS code FROM prf WHERE rn = 1)"""
    // IVF-PQ mode: the proven coarse-quantizer chain supplies the
    // (q, candidate) pairs of the probed cells, and the adc CTE below
    // joins against them
    val candCtes = if (!ivfCand) "" else
      s"""${ivfRoundsSql(1)},
         ivfstored AS (SELECT vec_id, k AS cluster FROM rk1
                       WHERE rn = 1),
         ivfprobes AS (SELECT vec_id AS q, k AS qc FROM rk1
                       WHERE rn <= $nprobe AND vec_id % 50 = 0),
         cand AS (SELECT p.q, s.vec_id FROM ivfprobes p
                  JOIN ivfstored s ON s.cluster = p.qc),
         """
    val candJoin = if (!ivfCand) ""
      else "JOIN cand ON cand.q = t.q AND cand.vec_id = c.vec_id"
    val pqTail = pqTailSql(rerank, topR)
    s"""WITH subs AS MATERIALIZED ($subsSql),
         $candCtes$tsubsCte$rounds,
         $codesCte,
         cn2 AS (SELECT m, k,
             list_sum([cv[i] * cv[i]
               for i in range(1, len(cv) + 1)]) AS cn2
           FROM pl$last),
         vnrm AS (
           SELECT c.vec_id,
             sqrt(CAST(SUM(CAST(floor(n.cn2 * 1000000000.0 + 0.5)
               / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE)) AS vnrm
           FROM codes c JOIN cn2 n ON c.m = n.m AND c.code = n.k
           GROUP BY c.vec_id),
         qnrm AS (
           SELECT vec_id AS q,
             sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding]))
               AS qnrm
           FROM embeddings WHERE vec_id % 50 = 0),
         tab AS (
           SELECT s.vec_id AS q, s.m, pl.k,
             list_sum([s.sv[i]::DOUBLE * cv[i]
               for i in range(1, len(cv) + 1)]) AS pdot
           FROM subs s JOIN pl$last pl ON s.m = pl.m
           WHERE s.vec_id % 50 = 0),
         adc AS (
           SELECT t.q, c.vec_id,
             CAST(SUM(CAST(floor(t.pdot * 1000000000.0 + 0.5)
               / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE) AS adot
           FROM codes c JOIN tab t ON c.m = t.m AND c.code = t.k
            AND c.vec_id <> t.q
           $candJoin
           GROUP BY t.q, c.vec_id),
         scored AS (
           SELECT a.q, a.vec_id,
             floor(a.adot / (qn.qnrm * vn.vnrm) * 10000.0 + 0.5)
               / 10000.0 AS acos
           FROM adc a JOIN vnrm vn ON a.vec_id = vn.vec_id
           JOIN qnrm qn ON a.q = qn.q)
         $pqTail"""
  }

  /** Final ranking of pqSql's `scored` CTE: plain ADC top-5, or (for
    * v_ivfpq_rerank) the two-stage refine — ADC only SHORTLISTS topR,
    * the final rank is exact cosine over raw vectors, v_knn_brute's
    * grid verbatim. */
  private def pqTailSql(rerank: Boolean, topR: Int): String =
    if (!rerank)
      """SELECT q, vec_id, acos, rn FROM (
           SELECT q, vec_id, acos, row_number() OVER (PARTITION BY q
             ORDER BY acos DESC, vec_id ASC) AS rn
           FROM scored) WHERE rn <= 5 ORDER BY q, rn"""
    else
      s""", shortlist AS (
           SELECT q, vec_id FROM (
             SELECT q, vec_id, row_number() OVER (PARTITION BY q
               ORDER BY acos DESC, vec_id ASC) AS rn
             FROM scored) WHERE rn <= $topR),
         ev AS (
           SELECT vec_id, embedding AS v,
             sqrt(list_sum([(x::DOUBLE)*(x::DOUBLE) for x in embedding]))
               AS nrm
           FROM embeddings),
         rescored AS (
           SELECT s.q, s.vec_id,
             floor(list_sum([(qv.v[i]::DOUBLE) * (dv.v[i]::DOUBLE)
                 for i in range(1, len(qv.v) + 1)])
               / (qv.nrm * dv.nrm) * 10000.0 + 0.5) / 10000.0 AS cos
           FROM shortlist s
           JOIN ev dv ON dv.vec_id = s.vec_id
           JOIN ev qv ON qv.vec_id = s.q)
         SELECT q, vec_id, cos, rn FROM (
           SELECT q, vec_id, cos, row_number() OVER (PARTITION BY q
             ORDER BY cos DESC, vec_id ASC) AS rn
           FROM rescored) WHERE rn <= 5 ORDER BY q, rn"""

  /** DuckDB mirror of ivfpqResTopK — the coarse chain (ivfRoundsSql),
    * residual doubles, the sub-space training chain over residuals
    * (pqSql's round structure, table = rsubs), the per-cell
    * reconstruction table, and candidate-gated ADC. Every grid/fold
    * matches the Spark side term-for-term. */
  private[ops] def ivfpqResSql(nprobe: Int): String = {
    val L = pqSubLen
    val k = PqK
    val rsubsSql = (0 until PqM).map(m =>
      s"SELECT vec_id, $m AS m, " +
        s"embedding[${m * L + 1}:${m * L + L}] AS sv FROM resid")
      .mkString(" UNION ALL ")
    val qsubsSql = (0 until PqM).map(m =>
      s"SELECT vec_id AS q, $m AS m, " +
        s"embedding[${m * L + 1}:${m * L + L}] AS sv FROM embeddings " +
        "WHERE vec_id % 50 = 0")
      .mkString(" UNION ALL ")
    val csubsSql = (0 until PqM).map(m =>
      s"SELECT k AS cell, $m AS m, " +
        s"cv[${m * L + 1}:${m * L + L}] AS csv FROM cl1")
      .mkString(" UNION ALL ")
    val rounds = (0 to 1).map { r =>
      val src = if (r == 0) s"SELECT m, vec_id % $k AS k, sv FROM rsubs"
        else s"SELECT m, k, sv FROM pr${r - 1} WHERE rn = 1"
      s"""pv$r AS MATERIALIZED ($src),
         px$r AS MATERIALIZED (SELECT m, k, unnest(sv) AS x,
             generate_subscripts(sv, 1) AS dim FROM pv$r),
         pc$r AS MATERIALIZED (SELECT m, k, dim,
             CAST(SUM(CAST(floor(x::DOUBLE * 1000000.0 + 0.5) AS BIGINT))
               AS DOUBLE) / (1000000.0 * COUNT(*)) AS c
           FROM px$r GROUP BY m, k, dim),
         pl$r AS MATERIALIZED (SELECT m, k, list(c ORDER BY dim) AS cv
           FROM pc$r GROUP BY m, k),
         pr$r AS MATERIALIZED (
           SELECT vec_id, m, sv, k, dd,
             row_number() OVER (PARTITION BY vec_id, m
               ORDER BY dd ASC, k ASC) AS rn
           FROM (
             SELECT s.vec_id, s.m, s.sv, pl$r.k,
               list_sum([(s.sv[i]::DOUBLE - cv[i]) *
                   (s.sv[i]::DOUBLE - cv[i])
                 for i in range(1, len(cv) + 1)]) AS dd
             FROM rsubs s JOIN pl$r ON s.m = pl$r.m))"""
    }.mkString(",\n         ")
    s"""WITH ${ivfRoundsSql(1)},
         stored AS MATERIALIZED (
           SELECT vec_id, v, k AS cluster FROM rk1 WHERE rn = 1),
         resid AS MATERIALIZED (
           SELECT s.vec_id,
             [s.v[i]::DOUBLE - c.cv[i]
               for i in range(1, len(c.cv) + 1)] AS embedding
           FROM stored s JOIN cl1 c ON s.cluster = c.k),
         rsubs AS MATERIALIZED ($rsubsSql),
         $rounds,
         rcodes AS MATERIALIZED (
           SELECT vec_id, m, k AS code FROM pr1 WHERE rn = 1),
         csubs AS ($csubsSql),
         ccv AS MATERIALIZED (
           SELECT cs.cell, cs.m, pl1.k,
             [cs.csv[i] + cv[i]
               for i in range(1, len(cv) + 1)] AS rv
           FROM csubs cs JOIN pl1 ON cs.m = pl1.m),
         rn2 AS (
           SELECT cell, m, k,
             list_sum([rv[i] * rv[i]
               for i in range(1, len(rv) + 1)]) AS n2
           FROM ccv),
         vnrm AS (
           SELECT c.vec_id,
             sqrt(CAST(SUM(CAST(floor(n.n2 * 1000000000.0 + 0.5)
               / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE)) AS vnrm
           FROM rcodes c JOIN stored st ON c.vec_id = st.vec_id
           JOIN rn2 n ON n.cell = st.cluster AND n.m = c.m
            AND n.k = c.code
           GROUP BY c.vec_id),
         probes AS (SELECT vec_id AS q, k AS qc FROM rk1
                    WHERE rn <= $nprobe AND vec_id % 50 = 0),
         qsubs AS ($qsubsSql),
         qnrm AS (
           SELECT vec_id AS q,
             sqrt(list_sum([x::DOUBLE * x::DOUBLE for x in embedding]))
               AS qnrm
           FROM embeddings WHERE vec_id % 50 = 0),
         tab AS MATERIALIZED (
           SELECT p.q, p.qc, cc.m, cc.k,
             list_sum([qs.sv[i]::DOUBLE * cc.rv[i]
               for i in range(1, len(cc.rv) + 1)]) AS pdot
           FROM probes p JOIN qsubs qs ON qs.q = p.q
           JOIN ccv cc ON cc.cell = p.qc AND cc.m = qs.m),
         cand AS (
           SELECT p.q, p.qc, s.vec_id FROM probes p
           JOIN stored s ON s.cluster = p.qc AND s.vec_id <> p.q),
         adc AS (
           SELECT cd.q, cd.vec_id,
             CAST(SUM(CAST(floor(t.pdot * 1000000000.0 + 0.5)
               / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE) AS adot
           FROM cand cd JOIN rcodes rc ON rc.vec_id = cd.vec_id
           JOIN tab t ON t.q = cd.q AND t.qc = cd.qc AND t.m = rc.m
            AND t.k = rc.code
           GROUP BY cd.q, cd.vec_id),
         scored AS (
           SELECT a.q, a.vec_id,
             floor(a.adot / (qn.qnrm * vn.vnrm) * 10000.0 + 0.5)
               / 10000.0 AS acos
           FROM adc a JOIN vnrm vn ON a.vec_id = vn.vec_id
           JOIN qnrm qn ON a.q = qn.q)
         SELECT q, vec_id, acos, rn FROM (
           SELECT q, vec_id, acos, row_number() OVER (PARTITION BY q
             ORDER BY acos DESC, vec_id ASC) AS rn
           FROM scored) WHERE rn <= 5 ORDER BY q, rn"""
  }

  /** v_hybrid's full mirror — shared VERBATIM by the
    * maintained-index variant (the strongest maintenance check:
    * identical fused list or hash-red). */
  private lazy val hybridSql: String =
    """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
         dl AS (SELECT doc_id, COUNT(*)::DOUBLE AS dl
                FROM toks GROUP BY 1),
         a AS (SELECT SUM(dl) / COUNT(*)::DOUBLE AS avgdl FROM dl),
         n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
         qt AS (SELECT doc_id, word FROM toks
                WHERE word IN ('join', 'scan', 'window')),
         tf AS (SELECT doc_id, word, COUNT(*)::DOUBLE AS tf
                FROM qt GROUP BY 1, 2),
         dfreq AS (SELECT word, COUNT(*)::DOUBLE AS df
                   FROM (SELECT DISTINCT doc_id, word FROM qt)
                   GROUP BY 1),
         comp AS (
           SELECT tf.doc_id,
             floor((n.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / a.avgdl))
               * 10000.0 + 0.5) / 10000.0 AS comp
           FROM tf JOIN dfreq USING (word)
                   JOIN dl ON tf.doc_id = dl.doc_id, a, n
           WHERE tf.doc_id <> 0),
         bm AS (SELECT doc_id,
             CAST(SUM(CAST(comp AS DECIMAL(22,4))) AS DOUBLE) AS bm25
           FROM comp GROUP BY doc_id),
         tr AS (SELECT doc_id, row_number() OVER
             (ORDER BY bm25 DESC, doc_id ASC) AS rt FROM bm),
         e AS (
           SELECT vec_id, embedding AS v,
             sqrt(list_sum([(x::DOUBLE)*(x::DOUBLE) for x in embedding]))
               AS nrm
           FROM embeddings),
         qv AS (SELECT v, nrm FROM e WHERE vec_id = 0),
         vs AS (
           SELECT e.vec_id AS doc_id,
             floor(list_sum([(q.v[i]::DOUBLE) * (e.v[i]::DOUBLE)
                 for i in range(1, len(q.v) + 1)])
               / (q.nrm * e.nrm) * 10000.0 + 0.5) / 10000.0 AS cos
           FROM e, qv q WHERE e.vec_id <> 0),
         vr AS (SELECT doc_id, row_number() OVER
             (ORDER BY cos DESC, doc_id ASC) AS rv FROM vs),
         fused AS (
           SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id,
             floor((COALESCE(1.0 / (60.0 + tr.rt), 0.0) +
                    COALESCE(1.0 / (60.0 + vr.rv), 0.0))
               * 1000000.0 + 0.5) / 1000000.0 AS rrf,
             tr.rt, vr.rv
           FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id)
         SELECT doc_id, rrf, rt, rv, rn FROM (
           SELECT doc_id, rrf, rt, rv, row_number() OVER
             (ORDER BY rrf DESC, doc_id ASC) AS rn
           FROM fused)
         WHERE rn <= 10 ORDER BY rn"""

  val oracles: Map[String, String] = Map(
    // the augmented training chain (ivfRoundsSql over the aug CTE) +
    // raw-inner-product re-rank — one shared quantizer definition
    "v_mips" ->
      s"""WITH base AS MATERIALIZED (
           SELECT vec_id, label, embedding,
             list_sum([x::DOUBLE * x::DOUBLE for x in embedding]) AS n2
           FROM embeddings),
         mx2 AS (SELECT MAX(n2) AS m2 FROM base),
         aug AS MATERIALIZED (
           SELECT vec_id, label,
             [x::DOUBLE for x in embedding] ||
               [sqrt((SELECT m2 FROM mx2) - n2)] AS embedding
           FROM base),
         ${ivfRoundsSql(1, table = "aug")},
         stored AS (
           SELECT rk1.vec_id, rk1.k AS cluster, e.embedding AS v
           FROM rk1 JOIN embeddings e USING (vec_id) WHERE rn = 1),
         pr AS (
           SELECT rk1.vec_id AS q, rk1.k AS qc, e.embedding AS vq
           FROM rk1 JOIN embeddings e USING (vec_id)
           WHERE rn <= 2 AND rk1.vec_id % 50 = 0),
         cand AS (
           SELECT pr.q, s.vec_id,
             floor(list_sum([pr.vq[i]::DOUBLE * s.v[i]::DOUBLE
                 for i in range(1, len(pr.vq) + 1)]) * 10000.0 + 0.5)
               / 10000.0 AS dot
           FROM pr JOIN stored s ON s.cluster = pr.qc
            AND s.vec_id <> pr.q)
         SELECT q, vec_id, dot, rn FROM (
           SELECT q, vec_id, dot, row_number() OVER (PARTITION BY q
             ORDER BY dot DESC, vec_id ASC) AS rn FROM cand)
         WHERE rn <= 5 ORDER BY q, rn""",
    // both rankings mirrored in full (the bm25Sql and v_knn_brute
    // chains), then the rank-only fusion — a drifted score in either
    // system moves a rank and goes hash-red through the fused list
    "v_hybrid" -> hybridSql,
    // the maintained-index variant reproduces the identical fused
    // list (batches partition the doc space, so the index-side BM25
    // equals the corpus recompute) — the strongest maintenance check
    "v_hybrid_maintained" -> hybridSql,
    "v_pq" -> pqSql(lloydRounds = 1),
    // K=256 with the sampled-training chain: tsubs is the same salted
    // hash sample, codes come from the final full ranking (prf)
    "v_pq256" -> pqSql(lloydRounds = 1, k = 256,
      trainPred = Some("('0x' || substr(md5('pqs:' || vec_id), 1, 15))" +
        "::BIGINT % 4 = 0")),
    // identical truth: the maintained code index must reproduce the
    // batch-built codes exactly
    "v_pq_maintained" -> pqSql(lloydRounds = 1),
    // the two proven chains composed: ivfRoundsSql's candidates gate
    // pqSql's ADC scoring
    "v_ivfpq" -> pqSql(lloydRounds = 1, ivfCand = true),
    // the maintained composition must equal the batch-built one —
    // v_ivfpq's oracle VERBATIM (the v_pq_maintained precedent)
    "v_ivfpq_maintained" -> pqSql(lloydRounds = 1, ivfCand = true),
    // the two-stage refine: same composed chain, ADC shortlists top-25,
    // exact-cosine re-rank decides the top-5
    "v_ivfpq_rerank" ->
      pqSql(lloydRounds = 1, ivfCand = true, rerank = true, topR = 25),
    // the residual composition: coarse chain -> residual doubles ->
    // sub-space training over residuals -> per-cell reconstruction
    // table -> candidate-gated ADC, mirrored stage by stage
    "v_ivfpq_res" -> ivfpqResSql(nprobe = 2),
    "v_knn_brute" ->
      """WITH e AS (
           SELECT vec_id, embedding AS v,
             sqrt(list_sum([(x::DOUBLE)*(x::DOUBLE) for x in embedding]))
               AS nrm
           FROM embeddings),
         scored AS (
           SELECT p.vec_id AS q, e.vec_id,
             floor(list_sum([(p.v[i]::DOUBLE) * (e.v[i]::DOUBLE)
                 for i in range(1, len(p.v) + 1)])
               / (p.nrm * e.nrm) * 10000.0 + 0.5) / 10000.0 AS cos
           FROM e p JOIN e ON e.vec_id <> p.vec_id
           WHERE p.vec_id % 50 = 0)
         SELECT q, vec_id, cos, rn FROM (
           SELECT q, vec_id, cos, row_number() OVER (PARTITION BY q
             ORDER BY cos DESC, vec_id ASC) AS rn
           FROM scored)
         WHERE rn <= 10 ORDER BY q, rn""",
    // same two stages: prefix-16 cosine gate (rounded-grid + vec_id
    // ties) → exact full-dim rerank of the survivors
    "v_matryoshka" ->
      """WITH ep AS (
           SELECT vec_id, embedding[1:16] AS vp,
             sqrt(list_sum([(x::DOUBLE)*(x::DOUBLE)
               for x in embedding[1:16]])) AS nrmp
           FROM embeddings),
         c AS (
           SELECT p.vec_id AS q, e.vec_id,
             floor(list_sum([(p.vp[i]::DOUBLE) * (e.vp[i]::DOUBLE)
                 for i in range(1, 17)])
               / (p.nrmp * e.nrmp) * 10000.0 + 0.5) / 10000.0 AS cosp
           FROM ep p JOIN ep e ON e.vec_id <> p.vec_id
           WHERE p.vec_id % 50 = 0),
         ck AS (
           SELECT q, vec_id FROM (
             SELECT q, vec_id, row_number() OVER (PARTITION BY q
               ORDER BY cosp DESC, vec_id ASC) AS rnp
             FROM c)
           WHERE rnp <= 50),
         f AS (
           SELECT vec_id, embedding AS v,
             sqrt(list_sum([(x::DOUBLE)*(x::DOUBLE) for x in embedding]))
               AS nrm
           FROM embeddings),
         r AS (
           SELECT ck.q, ck.vec_id,
             floor(list_sum([(p.v[i]::DOUBLE) * (e.v[i]::DOUBLE)
                 for i in range(1, len(p.v) + 1)])
               / (p.nrm * e.nrm) * 10000.0 + 0.5) / 10000.0 AS cos
           FROM ck JOIN f e ON e.vec_id = ck.vec_id
             JOIN f p ON p.vec_id = ck.q)
         SELECT q, vec_id, cos, rn FROM (
           SELECT q, vec_id, cos, row_number() OVER (PARTITION BY q
             ORDER BY cos DESC, vec_id ASC) AS rn
           FROM r)
         WHERE rn <= 10 ORDER BY q, rn""",
    "v_ann_lsh" ->
      s"""WITH e AS (
           SELECT vec_id, embedding AS v,
             sqrt(list_sum([(x::DOUBLE)*(x::DOUBLE) for x in embedding]))
               AS nrm
           FROM embeddings),
         sig AS (
           SELECT vec_id, v, nrm,
             [CASE WHEN list_sum([v[j+1]::DOUBLE * ${planesSql}::DOUBLE
                 for j in range(0, len(v))]) >= 0
               THEN 1 ELSE 0 END for p in range(0, $Planes)] AS bits
           FROM e),
         banded AS (
           SELECT vec_id, t.b AS band,
             array_to_string(bits[t.b*$RowsV+1:t.b*$RowsV+$RowsV], '') AS bk
           FROM sig, range(0, $BandsV) t(b)),
         cand AS (
           SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
           FROM banded x JOIN banded y
             ON x.band = y.band AND x.bk = y.bk AND x.vec_id < y.vec_id),
         scored AS (
           SELECT a, b,
             floor(list_sum([(ea.v[i]::DOUBLE) * (eb.v[i]::DOUBLE)
                 for i in range(1, len(ea.v) + 1)])
               / (ea.nrm * eb.nrm) * 10000.0 + 0.5) / 10000.0 AS cos
           FROM cand JOIN e ea ON ea.vec_id = a JOIN e eb ON eb.vec_id = b)
         SELECT a, b, cos FROM scored WHERE cos >= 0.4 ORDER BY a, b""",
    "v_ann_ivf" -> ivfSql(nprobe = 1, lloydRounds = 1),
    // the fixpoint is absorbing (see the query comment), so unrolling
    // the SAME shared CTE chain to the Spark-side round CAP reads the
    // identical converged assignment regardless of where inside the
    // cap convergence happened
    "v_kmeans_conv" ->
      s"""WITH ${ivfRoundsSql(KmeansMaxRounds)}
         SELECT vec_id, k AS cluster FROM rk$KmeansMaxRounds
         WHERE rn = 1 ORDER BY vec_id""",
    // the sampled-training twin: the SAME unrolled chain over the
    // salted 25% sample (absorbing fixpoint at the cap), then one
    // full-corpus assignment against the converged centroids
    "v_kmeans_sampled" ->
      s"""WITH tsamp AS MATERIALIZED (
           SELECT * FROM embeddings
           WHERE ('0x' || substr(md5('kms:' || vec_id), 1, 15))::BIGINT
             % 4 = 0),
         ${ivfRoundsSql(KmeansMaxRounds, table = "tsamp")},
         rkf AS (
           SELECT vec_id, k,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY cc DESC, k ASC) AS rn
           FROM (
             SELECT e.vec_id, cl$KmeansMaxRounds.k,
               ${cosVCSql("e.embedding", "cv")} AS cc
             FROM embeddings e CROSS JOIN cl$KmeansMaxRounds))
         SELECT vec_id, k AS cluster FROM rkf
         WHERE rn = 1 ORDER BY vec_id""",
    // v_ann_maintained shares v_ann_ivf's oracle VERBATIM: the
    // streaming-maintained inverted file must reproduce the batch-built
    // index exactly, or the per-probe top-5 lists go hash-red
    "v_ann_maintained" -> ivfSql(nprobe = 1, lloydRounds = 1),
    "v_ann_ivf2" -> ivfSql(nprobe = 2, lloydRounds = 1),
    // shared quantizer + probe chain; only the stored side filters
    "v_ann_filtered" -> ivfSql(nprobe = 2, lloydRounds = 1,
      storedPred = "e.label % 2 = 0"),
    // filtered + maintained + adaptive: the stored side keeps the
    // high-selectivity eligible set, and the probe rule is the
    // cumulative-prefix candidate budget (one definition of the target
    // constant, AnnFilteredTarget). The maintained index must
    // reproduce the batch-built filtered file exactly AND the adaptive
    // rule must pick identical cell prefixes, or the top-5 go hash-red
    "v_ann_filtered_maintained" -> ivfSql(nprobe = 1, lloydRounds = 1,
      storedPred = "e.label = 4",
      adaptiveTarget = Some(AnnFilteredTarget)),
    "v_ann_ivf4" -> ivfSql(nprobe = 4, lloydRounds = 1),
    "v_ann_ivf8" -> ivfSql(nprobe = 8, lloydRounds = 1),
    "v_ann_ivfq" -> ivfSql(nprobe = 2, lloydRounds = 1, quantized = true),
    "v_centroid" ->
      """SELECT label, i - 1 AS dim,
           CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
             AS BIGINT)) AS BIGINT) AS sum_x_e6,
           COUNT(*) AS n
         FROM (SELECT label, unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
               FROM embeddings)
         GROUP BY label, dim ORDER BY label, dim""",
    "v_quant" ->
      """WITH m AS (
           SELECT vec_id, embedding AS v,
             list_max([abs(x::DOUBLE) for x in v]) AS maxabs
           FROM embeddings),
         qz AS (
           SELECT vec_id, v, maxabs,
             [CAST(floor(x::DOUBLE * (127.0 / maxabs) + 0.5) AS BIGINT)
               for x in v] AS q
           FROM m WHERE maxabs > 0)
         SELECT vec_id, array_to_string(q, ',') AS q,
           floor(
             list_sum([(q[i]::DOUBLE * (maxabs / 127.0)) * (v[i]::DOUBLE)
               for i in range(1, len(v) + 1)]) /
             (sqrt(list_sum([(q[i]::DOUBLE * (maxabs / 127.0))
                 * (q[i]::DOUBLE * (maxabs / 127.0))
               for i in range(1, len(v) + 1)])) *
              sqrt(list_sum([(v[i]::DOUBLE) * (v[i]::DOUBLE)
               for i in range(1, len(v) + 1)])))
             * 10000.0 + 0.5) / 10000.0 AS qcos
         FROM qz ORDER BY vec_id""")
}
