package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Text.portableHash

/** Analytics extras rounding out the DataFrame surface: pivot/unpivot
  * reshaping, exact percentiles, and deterministic hash sampling — the
  * remaining operations a reference user migrating real workbooks reaches
  * for. All shapes scale: pivot with an EXPLICIT value list (no extra
  * distinct-scan job, stable schema), unpivot as a generator (rows ×
  * measures, no shuffle), sampling as a pushed filter on a hash (exactly
  * reproducible on re-run — `df.sample()` is seed-dependent on partition
  * layout, useless for auditable pipelines).
  */
object Extras {

  import org.apache.spark.sql.{Column, DataFrame}

  /** EXACT interpolated quantiles (percentile() / quantile_cont
    * semantics) of a numeric column — WITHOUT the builtin's scale
    * hazard. Spark's `percentile` merges every distinct value into ONE
    * final aggregation buffer (single task, memory ∝ |distinct|): 3 s
    * steady at sf0.1 here, a straggler/OOM at 100 TB. This computes the
    * same order statistics distributed, via the t_chunkpack two-phase
    * cumsum: (1) collapse rows to (value, count) — partial-agg'd, the
    * only wide op carries |distinct| rows; (2) range-partition by value
    * so shard order = value order, per-shard totals → driver prefix
    * bases (one scalar per shard — KBs at any scale); (3) per-shard
    * cumulative counts + base give each value run its global rank
    * interval [start, start+cnt); the ≤ 2·|ps| rank-straddling rows are
    * collected and interpolated with the builtin's own two-sided form
    * ((higher−pos)·lo + (pos−lower)·hi — NOT lo+(hi−lo)·frac, which
    * differs in the last ulp), so results are bit-identical to
    * percentile(). Measured at sf0.1: 3.06 s (builtin, steady) → 0.5 s.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, ps: Seq[Double],
      shards: Int = 32): Seq[Double] = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0))
    val vc = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("cnt"))
      .repartitionByRange(shards, col("v"))
      .withColumn("sid", spark_partition_id())
      .persist()
    try {
      val shardTotals = vc.groupBy("sid").agg(sum("cnt").as("tot"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val n = shardTotals.values.sum
      require(n > 0, s"exactQuantiles: no non-null values in $valueCol")
      val order = shardTotals.keys.toSeq.sorted
      val bases = order.zip(order.scanLeft(0L)(_ + shardTotals(_)))
      val ranks = ps.map(p => p * (n - 1))
      val needed = ranks
        .flatMap(r => Seq(math.floor(r).toLong, math.ceil(r).toLong))
        .distinct
      val sp = df.sparkSession
      import sp.implicits._
      val baseDf = bases.toDF("sid", "base")
      val w = Window.partitionBy("sid").orderBy("v")
      val startCol = col("base") + sum("cnt").over(w) - col("cnt")
      val hit = needed
        .map(r => lit(r) >= col("__s") && lit(r) < col("__s") + col("cnt"))
        .reduce(_ || _)
      val hits = vc.join(broadcast(baseDf), "sid")
        .withColumn("__s", startCol)
        .filter(hit)
        .select("v", "__s", "cnt")
        .collect()
      def valueAt(r: Long): Double = hits.collectFirst {
        case row if row.getLong(1) <= r && r < row.getLong(1) + row.getLong(2)
          => row.getDouble(0)
      }.getOrElse(sys.error(s"exactQuantiles: rank $r not covered"))
      ranks.map { r =>
        val (fl, ce) = (math.floor(r), math.ceil(r))
        val lo = valueAt(fl.toLong)
        if (ce == fl) lo
        else (ce - r) * lo + (r - fl) * valueAt(ce.toLong)
      }
    } finally { vc.unpersist(); () }
  }

  /** Cap a per-hour co-activity band at the top-K actives per hour,
    * ranked by a DETERMINISTIC hash of the user id (xxhash64, tie-broken
    * by the id itself — layout- and run-invariant), so the banded
    * self-join is O(K²) per hour instead of O(actives²). K=512 exceeds
    * every test-scale hourly active count (measured max: 6 at sf0.001,
    * 28 at sf0.01, 166 at sf0.1), so the cap keeps ALL rows here and the
    * DuckDB oracles stay exact; at 100 TB one viral hour with 10⁶
    * distinct actives would otherwise be a 10¹²-pair band — the cap
    * bounds it at K²/2 ≈ 131k pairs, and the dropped tail is a uniform
    * hash sample of the hour's actives (disclosed truncation, not silent
    * skew — rank order is data-independent of activity volume). The
    * rank-filter subtree is asserted in PlanAuditSpec; the window's
    * hashpartitioning(h) exchange is REUSED by the downstream self-join
    * on h, so the cap adds no extra shuffle.
    */
  private[graft] val CoActivityHourCapK = 512

  /** g_labelprop_conv's round cap — and its oracle's unroll depth, so
    * the two stay in lockstep by construction. */
  private[graft] val LpaMaxRounds = 8

  /** g_kcore's parameters, shared with its oracle (the LpaMaxRounds
    * lockstep discipline). The peel runs on a SPARSIFIED co-activity
    * graph — edge weight ≥ KcoreW (12 shared hours), not the LPA
    * family's 3 — because the w≥3 graph is a near-clique at every
    * scale (min degree 118 of 150 at sf0.01): nothing peels and the
    * fixpoint is vacuous. At w≥12 the peel genuinely cascades:
    * measured 5 rounds → 33-node core at sf0.01, 3 rounds → 1378 at
    * sf0.1. The cap leaves ≥2× headroom; the require refuses a
    * non-fixpoint. */
  private[graft] val KcoreK = 3
  private[graft] val KcoreW = 12
  private[graft] val KcoreMaxRounds = 12

  /** g_sssp's landmark count and BFS round cap, shared with its
    * oracle (which unrolls the frontier recurrence to dist <
    * SsspMaxRounds - 1 — the last Spark round must come back empty for
    * the fixpoint require, so a converged run's max distance is
    * SsspMaxRounds - 1 and the two bounds coincide). */
  private[graft] val SsspLandmarks = 3
  private[graft] val SsspMaxRounds = 12

  /** g_triangles' edge-weight threshold, shared with its oracle. The
    * w≥3 graph is a NEAR-CLIQUE at every scale, and triangle counting
    * on a near-clique is inherently cubic — C(1500,3) ≈ 4.4e8
    * triangles at sf0.1 (measured: 205 s Spark, 181 s DuckDB — the
    * algorithm was fine, the substrate was wrong). At w≥10 the graph
    * has genuine structure: 479 triangles over 74 nodes at sf0.01,
    * 409k over 1393 nodes at sf0.1, and the degree orientation does
    * its real job. */
  private[graft] val TriW = 10

  /** x_shuffle's shard fanout: max(floor, input file count). The
    * global permutation sorts ONE shard per task, so the fanout must
    * grow with the corpus — at the 100 TB design point, file count
    * (~100k × 1 GB parts) gives ~1 GB sort tasks, while any fixed
    * constant is a spill-bound straggler stage (64 shards ⇒ ~1.6 TB
    * per task). Driver state stays |shards| longs (the offset cumsum),
    * so the knob costs nothing driver-side. At test scale the
    * single-file fixtures resolve to the FLOOR — 64, the constant the
    * x_shuffle oracle mirrors in `hk % 64`; a fixture regenerated with
    * >64 part files would need that oracle literal updated in step.
    */
  private[graft] def shuffleShards(df: DataFrame,
      floor: Long = 64L): Long =
    math.max(floor, df.inputFiles.length.toLong)
  private def capHourBand(act: DataFrame): DataFrame =
    act.withColumn("hrk", row_number().over(
        Window.partitionBy("h")
          .orderBy(xxhash64(col("user_id")), col("user_id"))))
      .filter(col("hrk") <= CoActivityHourCapK)
      .drop("hrk")

  /** Banded+capped weighted co-activity edge list over an events slice
    * — the shared graph builder of the LPA family: distinct
    * (user, hour) actives, hour-band self-join capped at
    * CoActivityHourCapK, pair weight = shared hours, threshold w ≥ 3,
    * symmetrized. localCheckpointed: every consumer (label seed + one
    * vote join per round) re-reads it, and Spark does not dedupe
    * common subplans — an un-checkpointed edge list would recompute
    * the hour-band self-join once per consumer (measured 9.1 s →
    * 3.4 s one-shot at sf0.1); swap for reliable checkpoint on a real
    * cluster.
    */
  private def coactivityEdges(ev: DataFrame): DataFrame =
    coactivityEdgesRaw(ev).localCheckpoint()

  /** One-pass symmetrization of a (u, v, w) u<v pair table: each pair
    * explodes into its two directed rows. r20 (guide §2.4): the old
    * `pairs.unionByName(pairs.swapped)` planned the pair AGGREGATION
    * twice — ReuseExchange dedupes the shuffle itself, but each union
    * branch still re-ran the final hash aggregate + threshold filter
    * over the ~1.1M-row (sf0.1) partial-agg output; the explode is one
    * Generate over a single aggregate, same row set.
    */
  private def symPairs(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("u"), col("v"), col("w")),
        struct(col("v").as("u"), col("u").as("v"), col("w")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.w").as("w"))

  /** The un-checkpointed substrate plan, split out (r19) so
    * PlanAuditSpec can keep pinning the banded+capped shape (hour
    * equi-join, row_number cap pushed down as WindowGroupLimit) now
    * that every consumer reads the substrate through the checkpoint —
    * the final row plans scan an ExistingRDD and no longer re-plan the
    * edge build. r20: derived from the ONE raw pair-count builder
    * (ssspPairCounts) + symPairs, so the whole graph family's substrate
    * — every threshold — flows through two audited builders. */
  private[graft] def coactivityEdgesRaw(ev: DataFrame): DataFrame =
    symPairs(ssspPairCounts(ev).filter(col("w") >= 3))

  /** w≥KcoreW symmetrized co-activity edge list over an events slice —
    * the g_kcore substrate, shared by g_sssp and g_sssp_incr (which
    * needs it over BOTH the half-events and full-events slices).
    * localCheckpointed: the BFS loop re-reads it every round. */
  /** Unthresholded co-activity pair-hour counts (u < v, w = shared
    * capped hours) over an events slice. The per-hour cap and the
    * per-hour pair enumeration are both HOUR-LOCAL, so counts over
    * disjoint hour sets are ADDITIVE — the property g_sssp_incr's
    * maintained pair table rests on. */
  private[graft] def ssspPairCounts(ev: DataFrame): DataFrame = {
    val act = capHourBand(ev
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .distinct())
    act.as("a").join(act.as("b"), Seq("h"))
      .filter(col("a.user_id") < col("b.user_id"))
      .groupBy(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .agg(count(lit(1)).as("w"))
  }

  /** w≥KcoreW symmetrized edge list from a (u, v, w) pair-count
    * table. */
  private def ssspThreshold(counts: DataFrame): DataFrame =
    symPairs(counts.filter(col("w") >= KcoreW))
      .select(col("u"), col("v"))
      .localCheckpoint()

  private def ssspEdges(ev: DataFrame): DataFrame =
    ssspThreshold(ssspPairCounts(ev))

  /** The SsspLandmarks smallest node ids of an edge list, as a one-
    * column (lm) frame — deterministic, and recomputed per graph so
    * the incremental run notices a landmark retirement. */
  private def ssspLandmarks(edges: DataFrame): DataFrame =
    edges.select("u").distinct().orderBy("u").limit(SsspLandmarks)
      .select(col("u").as("lm"))

  /** Frontier BFS to a fixpoint from (lm, u, dist) seeds over a
    * symmetric (u, v) edge list — g_sssp's loop, factored so
    * GraphIncrSpec can drive it on controlled graphs. */
  private[graft] def ssspBfs(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int = SsspMaxRounds): DataFrame = {
    val dist0 = seeds.localCheckpoint()
    Fixpoint.run("g_sssp", maxRounds,
        s"BFS frontier still alive after $maxRounds rounds — " +
          "refusing to return truncated distances")(
        (dist0, dist0), dist0.count()) { case (dist, frontier) =>
      val (next, fsize) = Fixpoint.settle(frontier.join(edges, "u")
        .select(col("lm"), col("v").as("u"),
          (col("dist") + lit(1)).as("dist"))
        .distinct()
        .join(dist.select("lm", "u"), Seq("lm", "u"), "left_anti"))()
      ((dist.unionByName(next).localCheckpoint(), next), fsize)
    }._1._1
  }

  /** Min-merge relaxation to a fixpoint from maintained upper bounds —
    * g_sssp_incr's loop, factored for the spec. Returns the settled
    * (lm, u, dist) state and the per-round improved-row counts (the
    * delta-proportionality evidence: only rows that strictly improve
    * ever enter a frontier). */
  private[graft] def ssspRelax(edges: DataFrame, state0: DataFrame,
      frontier0: DataFrame): (DataFrame, Seq[Long]) = {
    // State accumulates by UNION ONLY (the ssspBfs discipline): a
    // per-round state-wide groupBy-min re-collapse is a full state
    // shuffle + materialization every round (measured: the dominant
    // relax cost at sf0.1 — relax rounds ran 2.3× a BFS round's
    // price), while the uncollapsed union is just a view over the
    // already-checkpointed round outputs. Because improvements per
    // key strictly decrease, the true current bound is min-per-key
    // over the union — taken on the CAND side of the improving join
    // (cand-sized groupBy, never state-sized), so frontiers are
    // row-for-row identical to the collapsed-state formulation
    // (GraphIncrSpec pins the frontier sizes). One min-collapse at
    // the very end lands the settled table.
    val frontier = frontier0.localCheckpoint()
    val f0 = frontier.count()
    val sizes = Seq.newBuilder[Long]
    if (f0 > 0) sizes += f0
    val ((stateU, _), _) = Fixpoint.run("g_sssp_incr", SsspMaxRounds,
        s"improvement cascade still alive after $SsspMaxRounds rounds")(
        (state0.unionByName(frontier).localCheckpoint(), frontier), f0) {
        case (stateU, frontier) =>
      // one fused aggregation: raw propagations join the state union
      // directly (same key ⇒ same match set, so min-collapsing dist
      // and __sd AFTER the join is row-for-row the collapsed-cand
      // formulation, one exchange cheaper)
      val (next, fsize) = Fixpoint.settle(frontier.join(edges, "u")
        .select(col("lm"), col("v").as("u"),
          (col("dist") + lit(1)).as("dist"))
        .join(stateU.withColumnRenamed("dist", "__sd"),
          Seq("lm", "u"), "left")
        .groupBy("lm", "u")
        .agg(min("dist").as("dist"), min("__sd").as("__sd"))
        .filter(col("__sd").isNull || col("dist") < col("__sd"))
        .select("lm", "u", "dist"))()
      if (fsize > 0) sizes += fsize
      // materialized (no-shuffle) union, the ssspBfs discipline: a
      // single checkpointed frame carries REAL size stats, so the next
      // round's improving join stays adaptively broadcastable instead
      // of defaulting to a sort-merge exchange on an unknown-size
      // union view
      ((stateU.unionByName(next).localCheckpoint(), next), fsize)
    }
    (stateU.groupBy("lm", "u").agg(min("dist").as("dist")),
      sizes.result())
  }

  /** One landmark-BFS maintenance tick, factored out of g_sssp_incr
    * (r18) so the second-tick row g_sssp_incr2 composes it: given the
    * maintained distance table, the substrate's edge set, the frozen
    * complete-hour pair counts (+ their already-over-threshold
    * subset), and the fresh slice's pair counts, compute the target
    * graph's w≥KcoreW edges WITHOUT a corpus merge (counts only grow,
    * so a target edge is frozen-hi, a broadcast-detected crosser, or
    * fresh-only), audit monotonicity against the old edge set (loud
    * require — capHourBand displacement breaks insert-only
    * maintenance), seed the relaxation frontier from the delta edges
    * plus landmark churn, and relax to a fixpoint. Returns the
    * settled (lm, u, dist) state (localCheckpointed) and the new
    * symmetrized edge list — both ready to commit as the next
    * generation's state or to project as output.
    */
  private def ssspAdvance(tag: String, maintained: DataFrame,
      edgesOld: DataFrame, frozen: DataFrame, hi: DataFrame,
      fresh: DataFrame): (DataFrame, DataFrame) = {
    def tick(phase: String, t0: Long): Long = {
      val now = System.nanoTime()
      System.err.println(
        f"[$tag] phase $phase ${(now - t0) / 1e9}%.2f s")
      now
    }
    var t0 = System.nanoTime()
    // frozen rows for fresh-touched pairs — at most |fresh| rows, so
    // every set op below is small-vs-small
    val cand = frozen
      .join(broadcast(fresh.select(col("u"), col("v"),
        col("w").as("__fw"))), Seq("u", "v"))
      .localCheckpoint()
    val crossed = cand
      .filter(col("w") + col("__fw") >= KcoreW)
      .select("u", "v")
    // fresh-only pairs (no frozen row at all) that clear the bar on
    // fresh hours alone
    val freshOnly = fresh.join(cand.select("u", "v"),
        Seq("u", "v"), "left_anti")
      .filter(col("w") >= KcoreW).select("u", "v")
    val newPairs = hi.unionByName(crossed).unionByName(freshOnly)
      .distinct()
    val edges = newPairs.select(col("u"), col("v"))
      .unionByName(newPairs.select(col("v").as("u"),
        col("u").as("v")))
      .localCheckpoint()
    t0 = tick("edges", t0)
    // ONE full-outer pass over the SMALL edge sets yields both the
    // monotonicity audit and the delta: old-only rows are cap-
    // displacement violations (loud require), new-only rows are the
    // inserted edges
    val diff = edges.select(col("u"), col("v"), lit(1).as("__new"))
      .join(edgesOld.select(col("u"), col("v"), lit(1).as("__old")),
        Seq("u", "v"), "full_outer")
      .filter(col("__new").isNull || col("__old").isNull)
      .localCheckpoint()
    require(diff.filter(col("__new").isNull).isEmpty,
      "an old edge vanished under new data (capHourBand displacement)" +
        " — monotone insertion maintenance does not apply; rebuild")
    // no extra checkpoint: diff is already materialized and delta is
    // a filter over it
    val delta = diff.filter(col("__old").isNull).select("u", "v")
    t0 = tick("delta", t0)
    val marks = ssspLandmarks(edges).localCheckpoint()
    val seeds = marks
      .select(col("lm"), col("lm").as("u"), lit(0).as("dist"))
    // maintained rows restricted to the CURRENT landmark set (a new
    // smallest node id retires an old landmark's rows), plus fresh
    // 0-seeds; min-collapse dedups the shared (lm, lm, 0) rows
    val state0 = maintained.join(marks, "lm").unionByName(seeds)
      .groupBy("lm", "u").agg(min("dist").as("dist"))
      .localCheckpoint()
    // initial frontier: delta-edge relaxations that improve on the
    // maintained bounds, plus any state row prev didn't carry (a
    // brand-new landmark's seed)
    val cand0 = state0.join(delta, "u")
      .select(col("lm"), col("v").as("u"),
        (col("dist") + lit(1)).as("dist"))
      .groupBy("lm", "u").agg(min("dist").as("dist"))
    val improving0 = cand0
      .join(state0.withColumnRenamed("dist", "__sd"),
        Seq("lm", "u"), "left")
      .filter(col("__sd").isNull || col("dist") < col("__sd"))
      .select("lm", "u", "dist")
    val frontier0 = improving0
      .unionByName(state0.join(maintained, Seq("lm", "u", "dist"),
        "left_anti"))
      .groupBy("lm", "u").agg(min("dist").as("dist"))
    t0 = tick("seed", t0)
    val (st, _) = ssspRelax(edges, state0, frontier0)
    val state = st.localCheckpoint() // evaluated twice (require + out)
    t0 = tick("relax", t0)
    (state, edges)
  }

  /** Exact pair-count merge of a frozen complete-hour table with a
    * fresh disjoint-hour slice — the COMPACTION write of the
    * maintained pair table (r18, the second-tick composition): only
    * fresh-touched pairs can change (counts are additive over
    * disjoint hour sets), so merged totals are computed for exactly
    * those (broadcast-small) and untouched pairs stream through from
    * the frozen scan unshuffled. The result is the frozen table for
    * the NEXT tick's hour boundary. At 100 TB this is one linear
    * pass + rewrite of the pair table per compaction — the standard
    * log-structured trade (append deltas per tick, compact
    * periodically); the fixture rows compact every tick because the
    * table is small.
    */
  private def mergedPairCounts(frozen: DataFrame,
      fresh: DataFrame): DataFrame = {
    val cand = frozen
      .join(broadcast(fresh.select(col("u"), col("v"),
        col("w").as("__fw"))), Seq("u", "v"))
      .localCheckpoint()
    val touched = cand
      .select(col("u"), col("v"), (col("w") + col("__fw")).as("w"))
      .unionByName(fresh.join(cand.select("u", "v"),
        Seq("u", "v"), "left_anti"))
      .localCheckpoint()
    frozen.join(broadcast(touched.select("u", "v")),
        Seq("u", "v"), "left_anti")
      .unionByName(touched)
  }

  /** One synchronous-LPA adoption step over tallied votes
    * (u, lab, wsum): each node takes the label with the largest total
    * edge weight, ties to the SMALLEST label. Argmax via TWO hash aggs,
    * not a window: max(struct(wsum, -lab)) is (Σw DESC, lab ASC)
    * lexicographically — both aggs partial-combine map-side and
    * nothing sorts per node, where a row_number window would shuffle
    * AND sort every iteration.
    */
  private def lpaArgmax(votes: DataFrame): DataFrame =
    votes.groupBy("u")
      .agg(max(struct(col("wsum"), (-col("lab")).as("nl"))).as("m"))
      .select(col("u"), (-col("m.nl")).as("lab"))

  /** Mann-Whitney fold over a (event_type, v, nv, na_v) frequency
    * table: average-rank tie handling carried as 2×rank to stay
    * integral (r2(v) = 2·cnt_lt + cnt_eq + 1), 2·U_A = Σ nA(v)·r2(v) −
    * nA(nA+1), AUC = U_A/(nA·nB) as the one final division — shared by
    * the one-shot x_mannwhitney and the maintained x_mw_maintained so
    * the two rows differ ONLY in where the frequencies come from. The
    * cumulative window runs over the |distinct (type, value)| table,
    * never the raw events.
    */
  private def mwFold(freq: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = freq
      .withColumn("lt", coalesce(sum(col("nv")).over(w), lit(0L)))
      .withColumn("r2", lit(2) * col("lt") + col("nv") + lit(1))
    ranked.groupBy("event_type")
      .agg(sum(col("na_v")).as("n1"),
        sum(col("nv") - col("na_v")).as("n2"),
        sum(col("na_v") * col("r2")).as("r2sum"))
      .select(col("event_type"), col("n1"), col("n2"),
        (col("r2sum") - col("n1") * (col("n1") + 1)).as("u2"),
        roundf((col("r2sum") - col("n1") * (col("n1") + 1))
            .cast("double") /
          (lit(2.0) * col("n1").cast("double") *
            col("n2").cast("double")), 6).as("auc"))
      .orderBy("event_type")
  }

  /** Vote tally for one synchronous-LPA round: edges ⋈ labels on the
    * neighbor key `v`, then Σw per (node, candidate label) —
    * DELIBERATELY UNSALTED, a measured decision (r14, closing the r13
    * verdict's skew item): an 8-way salt (label side exploded per
    * shard, edges probing hash(u)'s shard) was implemented and
    * benchmarked at sf0.1/32 threads — the worst max/mean task ratio
    * did NOT drop (1.44-1.74 before, 1.5-1.6 after: that band is
    * scheduling noise on ms-scale tasks, not data skew) while the
    * family paid +15% (g_labelprop) to +22% (g_labelprop_incr, whose
    * fixpoint phase re-pays the label replication every round). The
    * structural reasons a hub cannot dominate here: (a) the edge
    * builder's hour-band cap bounds per-hour fanout by construction
    * (capHourBand), so degree is capped long before a single shuffle
    * partition can saturate; (b) the tally partial-aggregates map-side
    * (two hash aggs, no window), so a hub's votes combine before the
    * exchange; (c) at genuine 100 TB scale AQE's skew-join split is
    * the runtime lever for an oversized SMJ partition — on by default
    * and free when partitions are balanced, which salting is not.
    */
  private def lpaVotes(edges: DataFrame, lab: DataFrame): DataFrame =
    edges.join(lab.select(col("u").as("v"), col("lab")), "v")
      .groupBy("u", "lab").agg(sum("w").as("wsum"))

  /** One weighted-PageRank chain: `iters` grid-rounded damped rounds
    * over the strength-normalized shares of `edges` from `seed`
    * (u, pr). The per-edge share w/S is iteration-invariant and
    * grid-rounded once; contributions partial-agg as exact decimals
    * before the exchange; the teleport term uses THIS graph's node
    * count. Deterministic by the same grid discipline as g_wpagerank,
    * so a DuckDB mirror of the same depth is bit-identical.
    */
  private[graft] def wprChain(edges: DataFrame, seed: DataFrame,
      iters: Int): DataFrame = {
    // str/share re-derive from `edges` once per unrolled iteration —
    // cheap single joins/aggs over the caller's checkpointed edge list,
    // and their agg/join output stays hash-partitioned by u so the
    // per-iteration contribution join plans NO fresh exchange.
    // Checkpointing them here was measured SLOWER (best-of-3 at sf0.1:
    // 5.90 s vs 5.05 s with edges-only truncation): localCheckpoint
    // erases output partitioning (Scan ExistingRDD reads back
    // UnknownPartitioning), so every iteration re-exchanged the |E|-row
    // share table, and the two extra eager checkpoint jobs serialize.
    val str = edges.groupBy("u").agg(sum("w").as("s"))
    val share = edges.join(str, "u")
      .select(col("u"), col("v"),
        roundf(col("w").cast("double") / col("s").cast("double"), 9)
          .as("sh"))
    val nc = str.agg(count(lit(1)).cast("double").as("nn"))
    var pr = seed
    for (_ <- 1 to iters) {
      val contrib = share.join(pr, "u")
        .select(col("v"), roundf(col("pr") * col("sh"), 9).as("c"))
        .groupBy(col("v").as("u"))
        .agg(sum(col("c").cast("decimal(38,9)")).cast("double").as("cs"))
      pr = str.select(col("u")).join(contrib, Seq("u"), "left")
        .crossJoin(broadcast(nc))
        .select(col("u"),
          roundf(lit(0.15) / col("nn") +
            lit(0.85) * coalesce(col("cs"), lit(0.0)), 9).as("pr"))
    }
    pr
  }

  /** g_wpagerank's uniform start: 1/|nodes| on this graph's node set. */
  private[graft] def wprUniformSeed(edges: DataFrame): DataFrame = {
    val str = edges.groupBy("u").agg(sum("w").as("s"))
    val nc = str.agg(count(lit(1)).cast("double").as("nn"))
    str.crossJoin(broadcast(nc))
      .select(col("u"), roundf(lit(1.0) / col("nn"), 9).as("pr"))
  }

  /** Full-sync LPA from `seed` (u, lab) to a require-checked fixpoint:
    * rounds continue until a round changes zero labels, each round
    * localCheckpointed so lineage stays O(1) and the convergence check
    * is ONE driver scalar (a count), not data. A graph that oscillates
    * past LpaMaxRounds fails LOUDLY rather than returning a
    * non-converged labeling.
    */
  private[graft] def lpaFixpoint(edges: DataFrame,
      seed: DataFrame): DataFrame =
    Fixpoint.run("g_labelprop_conv", LpaMaxRounds,
        s"LPA did not converge within $LpaMaxRounds rounds " +
          "(oscillating graph?) — refusing to return a non-fixpoint")(
        seed.localCheckpoint(), 1L) { lab =>
      Fixpoint.settle(lpaArgmax(lpaVotes(edges, lab)))(_.as("n")
        .join(lab.select(col("u"), col("lab").as("prev")), "u")
        .filter(col("lab") =!= col("prev")))
    }._1

  /** g_labelprop_incr's loop: LPA from the (u, lab) labeling `lab0`
    * where only `frontier0` votes in round one, then only the neighbors
    * of the nodes the last round relabeled (its delta). */
  private[graft] def lpaFrontier(edges: DataFrame, lab0: DataFrame,
      frontier0: DataFrame): DataFrame = {
    val frontier = frontier0.localCheckpoint()
    Fixpoint.run("g_labelprop_incr", LpaMaxRounds,
        s"incremental LPA did not converge within $LpaMaxRounds rounds " +
          "(oscillating frontier?) — refusing to return a non-fixpoint")(
        (lab0, frontier), frontier.count()) { case (lab, affected) =>
      val (delta, fsize) = Fixpoint.settle(lpaArgmax(lpaVotes(
          edges.join(affected, Seq("u"), "left_semi"), lab))
        .withColumnRenamed("lab", "nl")
        .join(lab, "u")
        .filter(col("nl") =!= col("lab"))
        .select(col("u"), col("nl")))()
      val next =
        if (fsize == 0) lab
        else lab.join(delta, Seq("u"), "left")
          .select(col("u"), coalesce(col("nl"), col("lab")).as("lab"))
          .localCheckpoint()
      ((next, edges.join(delta.select(col("u").as("v")), Seq("v"),
        "left_semi").select("u").distinct()), fsize)
    }._1._1
  }

  /** g_kcore's peel of a symmetric (u, v) edge list: the KcoreK-core
    * as (u, deg), deg the within-core degree. */
  private[graft] def kcorePeel(edges: DataFrame): DataFrame = {
    val nodes = edges.select("u").distinct().localCheckpoint()
    Fixpoint.run("g_kcore", KcoreMaxRounds,
        s"k-core peel did not converge within $KcoreMaxRounds rounds " +
          "— refusing to return a non-fixpoint")(
        (nodes, nodes.count()), 1L) { case (core, n0) =>
      val alive = core.select("u")
      val (deg, n) = Fixpoint.settle(edges
        .join(alive, "u")
        .join(alive.select(col("u").as("v")), "v")
        .groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= KcoreK))()
      ((deg, n), n0 - n)
    }._1._1
  }

  /** The five OLS sufficient statistics per return flag — shared by
    * x_linreg (one pass) and x_linreg_maintained (streaming re-sum).
    * Narrow operand widths keep PRODUCTS inside DECIMAL(38) in BOTH
    * engines (DuckDB falls back to DOUBLE past 38 combined width);
    * sums then cast to FIXED wide types so the maintained state schema
    * cannot drift as Spark widens sum precision across merges. */
  private def linregMoments(li: DataFrame): DataFrame = {
    val x = col("l_quantity").cast("decimal(9,2)")
    val y = roundf(col("l_extendedprice") * (lit(1.0) -
      col("l_discount")), 4).cast("decimal(13,4)")
    li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum((x * y).cast("decimal(38,6)")).as("sxy"),
        sum((x * x).cast("decimal(38,4)")).as("sxx"),
        sum((y * y).cast("decimal(38,8)")).as("syy"))
      .select(col("l_returnflag"), col("n"),
        col("sx").cast("decimal(38,2)").as("sx"),
        col("sy").cast("decimal(38,4)").as("sy"),
        col("sxy").cast("decimal(38,6)").as("sxy"),
        col("sxx").cast("decimal(38,4)").as("sxx"),
        col("syy").cast("decimal(38,8)").as("syy"))
  }

  /** Closed-form OLS from a (group, n, sx, sy, sxy, sxx, syy) moments
    * frame — slope/intercept/r² as IEEE arithmetic over decimal-exact
    * operands. */
  private def olsOf(st: DataFrame): DataFrame = {
    val nd = col("n").cast("double")
    val dx = (c: Column) => c.cast("double")
    val cov = nd * dx(col("sxy")) - dx(col("sx")) * dx(col("sy"))
    val varx = nd * dx(col("sxx")) - dx(col("sx")) * dx(col("sx"))
    val vary = nd * dx(col("syy")) - dx(col("sy")) * dx(col("sy"))
    st.select(col("l_returnflag"), col("n"),
        roundf(cov / varx, 6).as("slope"),
        roundf((dx(col("sy")) - cov / varx * dx(col("sx"))) / nd, 6)
          .as("intercept"),
        roundf(cov * cov / (varx * vary), 6).as("r2"))
      .orderBy("l_returnflag")
  }

  /** Two-regressor OLS per return flag — the moments discipline in
    * matrix form: revenue ~ b0 + b1·quantity + b2·discount, fitted
    * from the TEN decimal-exact sufficient statistics of one agg pass
    * (n, Σx1, Σx2, Σy, Σx1², Σx2², Σx1x2, Σx1y, Σx2y, Σy²) by solving
    * the 3×3 normal equations with Cramer's rule — four 3×3
    * determinants as IEEE expression trees over decimal-exact
    * operands, every product/sub written in the SAME order as the
    * oracle so the doubles match bit-for-bit. Narrow operand widths
    * keep products inside DECIMAL(38) in BOTH engines (the
    * linregMoments discipline). R² = 1 − SSE/SST with SSE folded from
    * the same moments — the training rows are read ONCE. */
  private def ols2Of(li: DataFrame): DataFrame = {
    val x1 = col("l_quantity").cast("decimal(9,2)")
    val x2 = col("l_discount").cast("decimal(5,4)")
    val y = roundf(col("l_extendedprice") * (lit(1.0) -
      col("l_discount")), 4).cast("decimal(13,4)")
    val m = li.groupBy("l_returnflag").agg(
      count(lit(1)).as("n"),
      sum(x1).as("s1"), sum(x2).as("s2"), sum(y).as("sy"),
      sum((x1 * x1).cast("decimal(38,4)")).as("s11"),
      sum((x2 * x2).cast("decimal(38,8)")).as("s22"),
      sum((x1 * x2).cast("decimal(38,6)")).as("s12"),
      sum((x1 * y).cast("decimal(38,6)")).as("s1y"),
      sum((x2 * y).cast("decimal(38,8)")).as("s2y"),
      sum((y * y).cast("decimal(38,8)")).as("syy"))
    val d = (c: String) => col(c).cast("double")
    val nd = col("n").cast("double")
    // det of [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], cofactor expansion
    // along the first row — the oracle writes the SAME expansion
    def det3(a11: Column, a12: Column, a13: Column,
        a21: Column, a22: Column, a23: Column,
        a31: Column, a32: Column, a33: Column): Column =
      a11 * (a22 * a33 - a23 * a32) -
        a12 * (a21 * a33 - a23 * a31) +
        a13 * (a21 * a32 - a22 * a31)
    val dd = det3(nd, d("s1"), d("s2"),
      d("s1"), d("s11"), d("s12"),
      d("s2"), d("s12"), d("s22"))
    val d0 = det3(d("sy"), d("s1"), d("s2"),
      d("s1y"), d("s11"), d("s12"),
      d("s2y"), d("s12"), d("s22"))
    val d1 = det3(nd, d("sy"), d("s2"),
      d("s1"), d("s1y"), d("s12"),
      d("s2"), d("s2y"), d("s22"))
    val d2 = det3(nd, d("s1"), d("sy"),
      d("s1"), d("s11"), d("s1y"),
      d("s2"), d("s12"), d("s2y"))
    val b0 = d0 / dd
    val b1 = d1 / dd
    val b2 = d2 / dd
    val sse = d("syy") - (b0 * d("sy") + b1 * d("s1y") + b2 * d("s2y"))
    val sst = d("syy") - d("sy") * d("sy") / nd
    m.select(col("l_returnflag"), col("n"),
        roundf(b0, 6).as("b0"), roundf(b1, 6).as("b1"),
        roundf(b2, 6).as("b2"),
        roundf(lit(1.0) - sse / sst, 6).as("r2"))
      .orderBy("l_returnflag")
  }

  /** Pearson-correlation sufficient statistics per return flag —
    * shared by x_corr (one pass) and x_corr_maintained (streaming
    * re-sum). Same discipline as [[linregMoments]]: the five sums are
    * decimal-EXACT (so batch partials re-sum to the corpus truth
    * bit-for-bit), and each sum is cast to a FIXED wide type so the
    * maintained state schema cannot drift as Spark widens sum
    * precision across generation merges. */
  private def corrMoments(li: DataFrame): DataFrame = {
    val q = col("l_quantity").cast("decimal(18,2)")
    val p = col("l_extendedprice").cast("decimal(18,2)")
    li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(q).as("sx"), sum(p).as("sy"),
        sum(q * p).as("sxy"), sum(q * q).as("sxx"),
        sum(p * p).as("syy"))
      .select(col("l_returnflag"), col("n"),
        col("sx").cast("decimal(38,2)").as("sx"),
        col("sy").cast("decimal(38,2)").as("sy"),
        col("sxy").cast("decimal(38,4)").as("sxy"),
        col("sxx").cast("decimal(38,4)").as("sxx"),
        col("syy").cast("decimal(38,4)").as("syy"))
  }

  /** Pearson r + population covariance from a corr-moments frame —
    * IEEE arithmetic over decimal-exact operands (the [[olsOf]]
    * shape). */
  private def corrOf(st: DataFrame): DataFrame = {
    val nd = col("n").cast("double")
    val dx = (c: Column) => c.cast("double")
    val num = nd * dx(col("sxy")) - dx(col("sx")) * dx(col("sy"))
    st.select(col("l_returnflag"), col("n"),
        roundf(num / (sqrt(nd * dx(col("sxx")) -
            dx(col("sx")) * dx(col("sx"))) *
          sqrt(nd * dx(col("syy")) - dx(col("sy")) * dx(col("sy")))), 6)
          .as("corr_qty_price"),
        roundf(num / (nd * nd), 4).as("cov_pop"))
      .orderBy("l_returnflag")
  }

  /** x_psi's time split: (reference, current) = (early, late) halves
    * of events by the timestamp midpoint (the x_drift split). */
  private def psiHalves(ev0: DataFrame): (DataFrame, DataFrame) = {
    val mm = ev0.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val ev = ev0.select(col("event_type"), col("value"), col("event_id"),
      (unix_micros(col("ts")) >= lit(cut)).cast("int").as("late"))
    (ev.filter(col("late") === 0), ev.filter(col("late") === 1))
  }

  /** Per-type reference deciles, grid-rounded driver-side with the
    * roundf formula — 45 bounded scalars (the w5_ntile precedent). */
  private def psiCuts(ref: DataFrame): Map[String, Array[Double]] = {
    val qs = (1 to 9).map(_ / 10.0)
    ref.groupBy("event_type")
      .agg(expr(s"percentile(value, array(${qs.mkString(",")}))")
        .as("qs"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)
        .map(v => math.floor(v * 10000.0 + 0.5) / 10000.0).toArray)
      .toMap
  }

  /** Decile-bucket index (0..9) of `value` against the frozen per-type
    * cut literals — one codegen'd array scan per row, no join. */
  private def psiBucket(cutsOf: Map[String, Array[Double]]): Column =
    cutsOf.foldLeft(lit(-1)) { case (acc, (ty, cs)) =>
      when(col("event_type") === ty,
        size(filter(array(cs.map(lit): _*), x => col("value") > x)))
        .otherwise(acc)
    }

  /** (event_type, bucket, c) counts of one window under a bucket
    * expression — partial-agg'd, |types×10| rows. */
  private def psiCounts(half: DataFrame, bucket: Column): DataFrame =
    half.select(col("event_type"), bucket.as("bucket"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("c"))

  /** PSI from two (event_type, bucket, c) count frames — Laplace
    * smoothing over the full bucket spine, 1e-6-grid terms summed
    * exactly in decimal, the fixed 0.1/0.2 action thresholds on the
    * unrounded sum. Shared by x_psi (both windows scanned) and
    * x_psi_maintained (current window read from maintained state). */
  private def psiOf(refCounts: DataFrame,
      curCounts: DataFrame): DataFrame = {
    val nRef = refCounts.groupBy("event_type").agg(sum("c").as("n_ref"))
    val nCur = curCounts.groupBy("event_type").agg(sum("c").as("n_cur"))
    val spine = refCounts.select("event_type").distinct()
      .select(col("event_type"),
        explode(sequence(lit(0), lit(9))).as("bucket"))
    spine
      .join(nRef, "event_type").join(nCur, "event_type")
      .join(refCounts.select(col("event_type"), col("bucket"),
        col("c").as("c_ref")), Seq("event_type", "bucket"), "left")
      .join(curCounts.select(col("event_type"), col("bucket"),
        col("c").as("c_cur")), Seq("event_type", "bucket"), "left")
      .select(col("event_type"),
        ((coalesce(col("c_ref"), lit(0L)).cast("double") + lit(0.5)) /
          (col("n_ref").cast("double") + lit(5.0))).as("p"),
        ((coalesce(col("c_cur"), lit(0L)).cast("double") + lit(0.5)) /
          (col("n_cur").cast("double") + lit(5.0))).as("q"))
      .select(col("event_type"),
        roundf((col("p") - col("q")) * log(col("p") / col("q")), 6)
          .cast("decimal(22,6)").as("term"))
      .groupBy("event_type")
      .agg(sum("term").cast("double").as("psi0"))
      .select(col("event_type"), roundf(col("psi0"), 6).as("psi"),
        when(col("psi0") >= 0.2, "major")
          .when(col("psi0") >= 0.1, "moderate")
          .otherwise("stable").as("verdict"))
      .orderBy("event_type")
  }

  val queries: Map[String, Q] = Map(

    // Pivot with explicit status values: one wide row per priority.
    "x_pivot" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority")
    }),

    // Unpivot: wide measures → long (metric, value) — the melt shape
    // feeding generic feature pipelines.
    "x_unpivot" -> ((s, d) => {
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_discount")),
          variableColumnName = "metric",
          valueColumnName = "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    }),

    // Winsorization — clamp a measure to its [p5, p95] before
    // aggregating, the standard outlier guard for feature/reward
    // pipelines. Two-job shape like Windows.ntileBySketch: the cut
    // values come to the driver once (bounded scalar fetch) and are
    // re-embedded as literals so the clamp is a pure codegen'd
    // least/greatest over the scan — no join, no second shuffle. The
    // cuts job is exactQuantiles (above): distributed EXACT order
    // statistics, bit-identical to quantile_cont — NOT the builtin
    // percentile(), whose single final buffer of every distinct value
    // is a one-task straggler at scale (measured 3 s steady at sf0.1
    // vs 0.5 s distributed).
    // Per-entity Gini impurity of the event-type mix — the
    // concentration/diversity signal for behavior features and label
    // balance monitoring. gini = 1 − Σ c_t²/n² is pure integer-derived
    // rational arithmetic (the transcendental-free cousin of Shannon
    // entropy — same ordering for the filtering use case, no ln).
    // Two-phase: (user, type) counts collapse map-side first (bounded
    // by |users|×|types|), then per-user integer moments — both
    // aggregations partial; nothing event-sized shuffles twice.
    "x_gini" -> ((s, d) => {
      val c = t(s, d, "events")
        .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
      val gini = lit(1.0) - col("s2").cast("double") /
        (col("n").cast("double") * col("n").cast("double"))
      c.groupBy("user_id")
        .agg(sum("c").as("n"), sum(col("c") * col("c")).as("s2"),
          count(lit(1)).as("n_types"))
        .select(col("user_id"), col("n"), col("n_types"),
          roundf(gini, 6).as("gini"))
        .orderBy("user_id")
    }),

    // Two-sample A/B test (Welch's t) between two event arms — the
    // experimentation staple. Single conditional-aggregation pass (no
    // per-arm scans, no join): six exact-decimal moments partial-agg'd
    // map-side, then the statistic is pure driver-free IEEE arithmetic
    // in the final projection. Values IEEE-round to the 4-decimal grid
    // before the decimal cast (the dsum4 move — grid values have no
    // cast ties), decimal sums/products are exact, and sqrt is
    // IEEE-correctly-rounded in both engines, so mean/t/significance
    // are bit-identical to the oracle. |t| > 1.96 emits the verdict
    // boolean, hash-checked. At wider-than-decimal(38,8) scale the sxx
    // precision cap needs a narrower input grid — same plan.
    "x_abtest" -> ((s, d) => {
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
      val dv = roundf(col("value"), 4).cast("decimal(18,4)")
      val a = col("event_type") === "click"
      val st = ev.agg(
        sum(when(a, lit(1L)).otherwise(lit(0L))).as("n_a"),
        sum(when(!a, lit(1L)).otherwise(lit(0L))).as("n_b"),
        sum(when(a, dv)).as("sa"), sum(when(a, dv * dv)).as("sxa"),
        sum(when(!a, dv)).as("sb"), sum(when(!a, dv * dv)).as("sxb"))
      val nd = (c: String) => col(c).cast("double")
      val meanA = nd("sa") / nd("n_a")
      val meanB = nd("sb") / nd("n_b")
      val varA = (nd("n_a") * nd("sxa") - nd("sa") * nd("sa")) /
        (nd("n_a") * (nd("n_a") - lit(1.0)))
      val varB = (nd("n_b") * nd("sxb") - nd("sb") * nd("sb")) /
        (nd("n_b") * (nd("n_b") - lit(1.0)))
      val tstat = (meanA - meanB) /
        sqrt(varA / nd("n_a") + varB / nd("n_b"))
      st.select(col("n_a"), col("n_b"),
        roundf(meanA, 4).as("mean_a"), roundf(meanB, 4).as("mean_b"),
        roundf(tstat, 4).as("t_stat"),
        (abs(tstat) > lit(1.96)).as("significant"))
    }),

    // CUPED variance reduction (Deng/Xu/Kohavi/Walker, WSDM 2013) —
    // the experimentation-platform workhorse x_abtest lacks: adjust
    // each unit's post-period metric by its PRE-period covariate,
    // Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X) estimated pooled, so
    // the variant comparison sheds the between-user variance the
    // pre-period already explains (reduction = r²(X,Y) — emitted as a
    // column). Units are users, the pre/post cut is the epoch-µs
    // midpoint, variants split user_id % 2, and absent-period users
    // coalesce to 0 (the population is every user with any event).
    // Per-user sums are exact decimals, user-level moments sum in
    // widened decimals (one pass), θ/means/r² are IEEE arithmetic in
    // the final projection — the x_linreg discipline end to end. At
    // 100 TB: one groupBy(user) + one moments pass, no extra scans.
    // Mann-Whitney U — the nonparametric two-sample test an A/B
    // pipeline reaches for when values are skewed (x_cuped's mean
    // shift assumes finite-variance normality; rank tests don't).
    // Samples: variant A = even user_id, B = odd, per event_type.
    // Everything on the hash surface is INTEGER-exact: values snap to
    // the 1e-4 grid (the repo's roundf discipline) so cross-engine
    // equality is well-defined; ties get AVERAGE ranks carried as
    // 2×rank to stay integral — for value v, r2(v) = 2·cnt_lt + cnt_eq
    // + 1 (twice the average rank of v's tie block), so
    // 2·R_A = Σ_v nA(v)·r2(v) and 2·U_A = 2·R_A − nA(nA+1), all exact
    // 64-bit integers. The effect size AUC = U_A/(nA·nB) (the
    // probability a random A value exceeds a random B one, ties half)
    // divides two exact integers — IEEE-identical in both engines,
    // then grid-rounded. Plan shape: one |distinct (type, value)|
    // aggregate, one cumulative window over it, one final fold —
    // the raw events shuffle once; at 100 TB the window runs over the
    // (small) distinct-value frequency table, never the events.
    "x_mannwhitney" -> ((s, d) => {
      val ev = t(s, d, "events")
      val v = roundf(col("value"), 4).cast("decimal(18,4)")
      val freq = ev
        .select(col("event_type"), v.as("v"),
          (col("user_id") % 2 === 0).as("isA"))
        .groupBy("event_type", "v")
        .agg(count(lit(1)).as("nv"),
          sum(when(col("isA"), 1L).otherwise(0L)).as("na_v"))
      mwFold(freq)
    }),

    // x_mannwhitney's statistic derived from a MAINTAINED frequency
    // table — the demonstration that ANY rank statistic is
    // incrementally maintainable once its sufficient statistic is a
    // keyed count table (the per-(type, grid-value) frequencies merge
    // by pure addition, so Streams.sumsMaintain carries them across
    // micro-batches at |batch vocab| merge cost; the rank window runs
    // at READ time over the |distinct values| state, never the
    // events). The ORACLE is x_mannwhitney's VERBATIM — the maintained
    // freq table must reproduce the one-shot U and AUC exactly, so a
    // lost batch, a double merge, or a grid drift goes hash-red.
    "x_mw_maintained" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val ev = t(s, d, "events")
      val rows = ev.select(col("event_type"),
        roundf(col("value"), 4).cast("decimal(18,4)").as("v"),
        (col("user_id") % 2 === 0).as("isA"),
        col("event_id"))
      val mid = ev.agg(max("event_id")).head.getLong(0) / 2
      val schema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("v", DecimalType(18, 4)),
        StructField("isA", BooleanType),
        StructField("event_id", LongType)))
      val (base, stream) = Replay.twoBatchStream(s, "mw_maint", d,
        schema, "rows", rows.filter(col("event_id") < mid),
        rows.filter(col("event_id") >= mid))
      val fPath = new java.io.File(base, "freq").getPath
      val q = graft.streaming.Streams.sumsMaintain(stream,
        Seq("event_type", "v"), Seq("nv", "na_v"), fPath)(b =>
          b.groupBy("event_type", "v")
            .agg(count(lit(1)).as("nv"),
              sum(when(col("isA"), 1L).otherwise(0L)).as("na_v")))
      require(q.awaitTermination(600000),
        "rank-frequency maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the re-sum merge is " +
          "untested")
      mwFold(graft.streaming.Streams.readGenMaintained(s, fPath))
    }),

    "x_cuped" -> ((s, d) => {
      val ev = t(s, d, "events")
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val pre = unix_micros(col("ts")) < lit(cut)
      val dv = roundf(col("value"), 4).cast("decimal(18,4)")
      val z = lit(0).cast("decimal(18,4)")
      val users = ev.groupBy("user_id").agg(
          coalesce(sum(when(pre, dv)), z).cast("decimal(18,4)").as("x"),
          coalesce(sum(when(!pre, dv)), z).cast("decimal(18,4)").as("y"))
        .select(when(col("user_id") % 2 === 0, "A").otherwise("B")
          .as("variant"), col("x"), col("y"))
      def moments(df: DataFrame, g: Seq[Column]) = df
        .groupBy(g: _*)
        .agg(count(lit(1)).as("n"),
          sum(col("x")).cast("decimal(38,4)").as("sx"),
          sum(col("y")).cast("decimal(38,4)").as("sy"),
          sum((col("x") * col("y")).cast("decimal(38,8)")).as("sxy"),
          sum((col("x") * col("x")).cast("decimal(38,8)")).as("sxx"),
          sum((col("y") * col("y")).cast("decimal(38,8)")).as("syy"))
      val nd = (c: String) => col(c).cast("double")
      val pooled = moments(users, Seq.empty)
        .select(nd("n").as("pn"), nd("sx").as("psx"), nd("sy").as("psy"),
          nd("sxy").as("psxy"), nd("sxx").as("psxx"),
          nd("syy").as("psyy"))
      val cov = col("pn") * col("psxy") - col("psx") * col("psy")
      val varx = col("pn") * col("psxx") - col("psx") * col("psx")
      val vary = col("pn") * col("psyy") - col("psy") * col("psy")
      val theta = cov / varx
      moments(users, Seq(col("variant")))
        .crossJoin(broadcast(pooled))
        .select(col("variant"), col("n"),
          roundf(nd("sy") / nd("n"), 4).as("mean_y"),
          roundf(nd("sy") / nd("n") -
            theta * (nd("sx") / nd("n") - col("psx") / col("pn")), 4)
            .as("mean_y_adj"),
          roundf(theta, 6).as("theta"),
          roundf(cov * cov / (varx * vary), 6).as("var_reduction"))
        .orderBy("variant")
    }),

    // Bounded-memory frequent items (Misra-Gries, k=50) with the
    // guarantee emitted as the hash-checked verdict — the a3_approx /
    // x_approx_pctile pattern: the summary CONTENTS depend on merge
    // order, but the theorem (any key with c > n/(k+1) is present;
    // estimates within [c − n/(k+1), c]) holds for every partitioning,
    // so the booleans are deterministic. The key domain is constructed
    // skewed (t_pii's inline-synthesis precedent): ~half the rows land
    // on 7 hot keys (each ≫ n/51), the rest are near-unique cold keys
    // (~30k distinct — 600× the k=50 summary), which is exactly the
    // regime where the exact two-phase count's |distinct|-sized shuffle
    // is the thing the sketch exists to avoid. The hot-key truth side
    // stays an exact partial-agg'd count for the oracle.
    "x_heavyhitters" -> ((s, d) => {
      val hh = graft.functions.HeavyHitters
      val keyed = t(s, d, "lineitem").select(
        when(col("l_orderkey") % 10 < 5,
          concat(lit("hot"), (col("l_orderkey") % 7).cast("string")))
        .otherwise(concat(lit("cold"), col("l_orderkey").cast("string")))
        .as("k"))
      val sk = keyed.agg(hh.mgSketchCol(col("k"), 50).as("mg"),
        count(lit(1)).cast("double").as("n"))
      val truth = keyed.filter(col("k").startsWith("hot"))
        .groupBy("k").agg(count(lit(1)).as("exact_n"))
      val est = element_at(col("mg"), col("k")).cast("double")
      truth.crossJoin(broadcast(sk))
        .select(col("k"), col("exact_n"),
          est.isNotNull.as("in_summary"),
          coalesce(est >= col("exact_n").cast("double") - col("n") / lit(51.0)
            && est <= col("exact_n").cast("double"), lit(false))
            .as("within_bound"))
        .orderBy("k")
    }),

    // Grouped EXACT quantiles, fully distributed — the per-group form
    // of exactQuantiles and the scale replacement for x_percentile's
    // builtin (whose final buffer holds every distinct value PER
    // GROUP): rows collapse to (group, value, count) with map-side
    // combine, the per-group cumsum windows over collapsed rows only
    // (the x_mode discipline — the raw table never sees a window), the
    // tiny per-group totals broadcast back, and the rank-straddling
    // rows reduce via conditional aggregation — no driver interpolation
    // at all, unlike exactQuantiles' global form. Interpolation uses
    // the builtin's two-sided form, so results are bit-identical to
    // percentile() per group and round4-equal to quantile_cont (the
    // x_percentile precedent). Oracle = x_percentile's oracle verbatim:
    // same numbers, distributed plan.
    "x_quantiles_grouped" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val vc = t(s, d, "lineitem")
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("double").as("v"))
        .groupBy("g", "v").agg(count(lit(1)).as("cnt"))
      val ng = vc.groupBy("g").agg(sum("cnt").as("n"))
      val wg = Window.partitionBy("g").orderBy("v")
      val st = vc.withColumn("start", sum("cnt").over(wg) - col("cnt"))
        .join(broadcast(ng), "g")
      val nD = col("n").cast("double")
      def hit(rank: Column): Column =
        col("start").cast("double") <= rank &&
          rank < (col("start") + col("cnt")).cast("double")
      def straddle(p: Double, sfx: String) = {
        val r = lit(p) * (nD - lit(1.0))
        Seq(max(when(hit(floor(r)), col("v"))).as(s"lo$sfx"),
          max(when(hit(ceil(r)), col("v"))).as(s"hi$sfx"))
      }
      val cols = Seq(max(col("n")).as("n")) ++
        straddle(0.5, "50") ++ straddle(0.9, "90")
      def interp(p: Double, sfx: String): Column = {
        val r = lit(p) * (col("n").cast("double") - lit(1.0))
        val fl = floor(r)
        val ce = ceil(r)
        when(ce === fl, col(s"lo$sfx"))
          .otherwise((ce - r) * col(s"lo$sfx") + (r - fl) * col(s"hi$sfx"))
      }
      st.groupBy("g").agg(cols.head, cols.tail: _*)
        .select(col("g").as("l_returnflag"),
          roundf(interp(0.5, "50"), 4).as("p50_qty"),
          roundf(interp(0.9, "90"), 4).as("p90_qty"),
          col("n"))
        .orderBy("l_returnflag")
    }),

    // PageRank over a derived user co-activity graph — the iterative
    // graph op beyond d_clusters' connected components. Edges: users
    // active in the same hour ≥ 3 times (candidate generation is
    // BANDED on the hour, the same equi-join discipline as every dedup
    // blocker; the per-band quadratic is CAPPED at the top-K hash-ranked
    // actives per hour — see capHourBand). Three power iterations
    // UNROLLED into one plan: each
    // iteration is an edges-sized equi-join + partial-agg'd
    // contribution sum — no driver loop state, no lineage growth
    // (fixed depth). Determinism: contributions and ranks grid-round
    // to 9 decimals each iteration and sum as exact decimals, so three
    // chained float recurrences stay bit-identical to the oracle's
    // unrolled CTEs; damping arithmetic is plain rational ops.
    "g_pagerank" -> ((s, d) => {
      // r19 opt: edges is read by deg + one contribution join per
      // unrolled iteration, and Spark does not dedupe common subplans
      // — un-truncated, each reference re-ran the hour-band self-join
      // (5051-line plan, 129 Exchanges at sf0.1). |E| rows. deg is
      // NOT checkpointed: its agg output stays hash-partitioned by u
      // for the per-iteration rank rebuild join, which a checkpoint's
      // UnknownPartitioning read-back would re-exchange (measured on
      // the wpr twin: truncating past the edge list is a net loss).
      // r20 (ADVICE #1): the inline w≥3 build was the IDENTICAL pair
      // computation as coactivityEdges (same cap, same threshold, same
      // symmetrization — the g_wpagerank unification, one row later);
      // building on the shared audited builder restores the
      // cap-pushdown CI coverage the inline copy had lost.
      val edges = coactivityEdges(t(s, d, "events"))
        .select(col("u"), col("v"))
      val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      val nc = deg.agg(count(lit(1)).cast("double").as("nn"))
      var pr = deg.crossJoin(broadcast(nc))
        .select(col("u"), col("deg"),
          roundf(lit(1.0) / col("nn"), 9).as("pr"))
      for (_ <- 1 to 3) {
        val contrib = edges
          .join(pr.select(col("u"),
            roundf(col("pr") / col("deg").cast("double"), 9).as("c")), "u")
          .groupBy(col("v").as("u"))
          .agg(sum(col("c").cast("decimal(38,9)")).cast("double").as("cs"))
        pr = deg.join(contrib, Seq("u"), "left")
          .crossJoin(broadcast(nc))
          .select(col("u"), col("deg"),
            roundf(lit(0.15) / col("nn") +
              lit(0.85) * coalesce(col("cs"), lit(0.0)), 9).as("pr"))
      }
      pr.select(col("u").as("user_id"), col("deg"),
          roundf(col("pr"), 6).as("pagerank"))
        .orderBy("user_id")
    }),

    // Weighted PageRank — g_pagerank with the co-activity counts as
    // edge weights: each node distributes rank proportionally to
    // w(u,v)/S(u) where S(u)=Σw is node strength, so a pair sharing 40
    // hours pulls harder than one sharing 3. Same unrolled fixed-depth
    // plan discipline and grid-rounded recurrence; the per-edge share
    // w/S is itself grid-rounded once (it is iteration-invariant) so
    // all three iterations reuse the identical rational coefficient in
    // both engines.
    "g_wpagerank" -> ((s, d) => {
      // r19 opt: this body was wprChain unrolled inline over an
      // UN-checkpointed edge list — every one of the ~10 references to
      // pairs/edges/str/share re-ran the hour-band self-join (6812-line
      // plan, 173 Exchanges, zero reuse at sf0.1). coactivityEdges is
      // the IDENTICAL pair computation (same cap, same w≥3 threshold,
      // same symmetrization), checkpointed once; wprChain/wprUniformSeed
      // are the identical grid-rounded recurrence (g_wpagerank_incr has
      // always used them), so the output is bit-for-bit unchanged.
      val edges = coactivityEdges(t(s, d, "events"))
      val str = edges.groupBy("u").agg(sum("w").as("s"))
      wprChain(edges, wprUniformSeed(edges), 3)
        .join(str, "u")
        .select(col("u").as("user_id"), col("s").as("strength"),
          roundf(col("pr"), 6).as("pagerank"))
        .orderBy("user_id")
    }),

    // Label propagation (community detection) over the same weighted
    // co-activity graph as g_wpagerank — the third graph op, reusing
    // the banded+capped edge builder. Every node starts as its own
    // community (label = user_id); each of 3 UNROLLED iterations,
    // a node adopts the label with the largest total edge weight among
    // its neighbors (row_number over (Σw DESC, label ASC) — the ASC
    // tie-break makes synchronous LPA fully deterministic, a known
    // requirement since Raghavan et al. 2007's random-tie version
    // oscillates). All-integer arithmetic (weights are counts), so no
    // grid rounding is needed anywhere — Spark and DuckDB agree
    // bit-for-bit by construction. Per iteration: one edges-sized
    // equi-join + partial-agg'd tally + one window — the same
    // fixed-depth no-driver-state plan discipline as g_pagerank.
    "g_labelprop" -> ((s, d) => {
      // 3 UNROLLED iterations over the shared coactivityEdges /
      // lpaArgmax rig (see the helper docs for the checkpoint and
      // two-hash-agg argmax rationale)
      val edges = coactivityEdges(t(s, d, "events"))
      var lab = edges.select(col("u")).distinct()
        .select(col("u"), col("u").as("lab"))
      for (_ <- 1 to 3) {
        lab = lpaArgmax(lpaVotes(edges, lab))
      }
      lab.select(col("u").as("user_id"), col("lab").as("label"))
        .orderBy("user_id")
    }),

    // g_labelprop run TO CONVERGENCE — the unbounded-depth iteration
    // discipline (d_clusters' fixpoint loop applied to LPA): rounds
    // continue until a round changes zero labels, each round
    // localCheckpointed so lineage stays O(1) and the convergence
    // check is ONE driver scalar (a count), not data. Synchronous LPA
    // with the deterministic ASC tie-break reaches a stable fixpoint
    // on this graph (measured: changed 150 → 141 → 9 → 0, converged at
    // round 4); a graph that oscillates past the cap fails LOUDLY
    // (require) rather than returning a non-converged labeling. The
    // oracle unrolls to the cap depth — at any convergence ≤ cap the
    // fixpoint makes deeper unrolling a no-op, so both sides agree
    // without the oracle knowing the discovered depth.
    "g_labelprop_conv" -> ((s, d) => {
      val edges = coactivityEdges(t(s, d, "events"))
      lpaFixpoint(edges,
          edges.select(col("u")).distinct()
            .select(col("u"), col("u").as("lab")))
        .select(col("u").as("user_id"), col("lab").as("label"))
        .orderBy("user_id")
    }),

    // Modularity TRAJECTORY of synchronous LPA — community detection
    // without a quality metric is unauditable, and the per-round view
    // is the practitioner's convergence diagnostic (on this dense
    // co-activity graph the fixpoint collapses to ONE community —
    // Q = 0 — so the converged labeling alone would be a degenerate
    // fixture; the trajectory shows the intermediate partitions Q
    // actually distinguishes). Newman's Q per community per round r ∈
    // 1..3 (g_labelprop's fixed-depth chain): over the SYMMETRIZED
    // edge list, W = Σw (every directed copy), W_c = intra-community
    // weight, S_c = member strength sum — all exact BIGINTs — and
    // q_contrib = (W_c·W − S_c²)/W² as ONE IEEE expression mirrored
    // operand-for-operand in the oracle (exact integer inputs < 2^53
    // at any gate scale, so the doubles are bit-identical; at true
    // 100 TB the integer sums would widen to decimal). Per round the
    // fold costs two |E| equi-joins + |communities| aggregates.
    "g_modularity" -> ((s, d) => {
      val edges = coactivityEdges(t(s, d, "events"))
      val str = edges.groupBy("u").agg(sum("w").as("su"))
      val wtot = str.agg(sum("su").cast("long").as("tw"))
      def qOf(lab: DataFrame, round: Int): DataFrame = {
        val cstr = lab.join(str, "u").groupBy("lab")
          .agg(count(lit(1)).as("nodes"),
            sum("su").cast("long").as("s_c"))
        val win = edges
          .join(lab.select(col("u"), col("lab").as("lu")), "u")
          .join(lab.select(col("u").as("v"), col("lab").as("lv")), "v")
          .filter(col("lu") === col("lv"))
          .groupBy(col("lu").as("lab"))
          .agg(sum("w").cast("long").as("w_in"))
        cstr.join(win, Seq("lab"), "left")
          .crossJoin(broadcast(wtot))
          .select(lit(round).as("round"), col("lab").as("label"),
            col("nodes"),
            coalesce(col("w_in"), lit(0L)).as("w_in"), col("s_c"),
            roundf(
              (coalesce(col("w_in"), lit(0L)).cast("double") *
                col("tw").cast("double") -
                col("s_c").cast("double") * col("s_c").cast("double")) /
                (col("tw").cast("double") * col("tw").cast("double")),
              9).as("q_contrib"))
      }
      var lab = edges.select(col("u")).distinct()
        .select(col("u"), col("u").as("lab"))
      val folds = (1 to 3).map { r =>
        lab = lpaArgmax(lpaVotes(edges, lab)).localCheckpoint()
        qOf(lab, r)
      }
      folds.reduce(_.unionByName(_)).orderBy("round", "label")
    }),

    // MAINTAINED modularity — g_modularity's fold under edge-delta
    // CDC: for a FIXED labeling, every term of the fold is additive in
    // edge rows (a directed row (u,v,w) adds w to S_c(lab(u)) always
    // and to W_c(lab(u)) iff lab(u)=lab(v); W = ΣS_c), so the
    // per-(round,label) sums route through the generic
    // Streams.sumsMaintain merge sink and an edge delta costs
    // |delta|-proportional join work + a |communities|-sized merge —
    // never a full-graph recompute. The labelings themselves are the
    // query's INPUT (the 3-round LPA chain verbatim — in production
    // the last run's labeling table); `nodes` is labeling-derived and
    // joins in at read. The replay splits the edge rows in half by
    // deterministic hash so both the first-batch seed and the
    // cross-batch re-sum path execute; the result must equal
    // g_modularity bit-for-bit (oracle reused verbatim).
    "g_modularity_maintained" -> ((s, d) => {
      val edges = coactivityEdges(t(s, d, "events"))
      var lab = edges.select(col("u")).distinct()
        .select(col("u"), col("u").as("lab"))
      val labAll = (1 to 3).map { r =>
        lab = lpaArgmax(lpaVotes(edges, lab)).localCheckpoint()
        lab.select(lit(r).as("round"), col("u"), col("lab"))
      }.reduce(_.unionByName(_)).localCheckpoint()
      val half = pmod(hash(col("u"), col("v")), lit(2))
      val eschema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.LongType)))
      val (base, stream) = Replay.twoBatchStream(s, "mod_maint", d,
        eschema, "edg",
        edges.filter(half === 0), edges.filter(half === 1))
      val statePath = new java.io.File(base, "sums").getPath
      val q = graft.streaming.Streams.sumsMaintain(stream,
        Seq("round", "label"), Seq("w_in", "s_c"), statePath) { b =>
        b.join(labAll.select(col("round"), col("u"),
            col("lab").as("lu")), Seq("u"))
          .join(labAll.select(col("round"), col("u").as("v"),
            col("lab").as("lv")), Seq("round", "v"))
          .groupBy(col("round"), col("lu").as("label"))
          .agg(sum(when(col("lu") === col("lv"), col("w"))
              .otherwise(lit(0L))).cast("long").as("w_in"),
            sum(col("w")).cast("long").as("s_c"))
      }
      require(q.awaitTermination(600000),
        "modularity maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the merge path is untested")
      val state = graft.streaming.Streams.readGenMaintained(s, statePath)
      // W is round-invariant (every round's S_c partitions the same
      // edge mass); derive it from the maintained state's round 1
      val wtot = state.filter(col("round") === 1)
        .agg(sum("s_c").cast("long").as("tw"))
      val nodes = labAll.groupBy(col("round"), col("lab").as("label"))
        .agg(count(lit(1)).as("nodes"))
      nodes.join(state, Seq("round", "label"))
        .crossJoin(broadcast(wtot))
        .select(col("round"), col("label"), col("nodes"),
          col("w_in"), col("s_c"),
          roundf(
            (col("w_in").cast("double") * col("tw").cast("double") -
              col("s_c").cast("double") * col("s_c").cast("double")) /
              (col("tw").cast("double") * col("tw").cast("double")),
            9).as("q_contrib"))
        .orderBy("round", "label")
    }),

    // INCREMENTAL label propagation — the graph-maintenance loop
    // (d_index_maintained's discipline applied to LPA): the previous
    // labeling is a MAINTAINED table the next run SEEDS from, instead
    // of recomputing communities from scratch. Phase 1 computes the
    // pre-cut half's fixpoint and persists it (in production that
    // parquet is simply the last run's output — the d_incremental
    // build-the-index-in-query rig); phase 2 seeds the FULL graph from
    // it (new nodes self-seed) and iterates ONLY the changed-edge
    // frontier: per round, the nodes whose vote inputs could have
    // changed — first the changed edges' endpoints, then neighbors of
    // last round's changed nodes. Work per round is |frontier
    // neighborhood|, not |graph|; at 100 TB with a daily delta the
    // frontier is orders of magnitude smaller than the corpus graph.
    // Correctness rests on a provable equivalence with UNRESTRICTED
    // seeded sync-LPA: a node whose edges and neighbor labels are
    // unchanged re-derives its own label (the old fixpoint property),
    // and inductively any node skipped by the frontier restriction
    // would have recomputed its current label — so the restricted and
    // full iterations produce THE SAME labeling round for round. The
    // oracle therefore mirrors the unrestricted form: old-graph LPA
    // unrolled to cap (the seed), then seeded full-graph LPA unrolled
    // to cap — past the fixpoint every extra round is identity, so
    // depth differences are no-ops, and all arithmetic is integer, so
    // both engines agree bit-for-bit. Convergence is require-checked
    // like g_labelprop_conv; the time cut is the epoch-µs midpoint
    // (two footer-stat scalars, the l_sorted_scan integer discipline).
    "g_labelprop_incr" -> ((s, d) => {
      val ev = t(s, d, "events")
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      // 90/10 dense-old/thin-delta split + persistent maintained state
      // (r17, the g_sssp_incr discipline applied family-wide): the old
      // graph's LPA fixpoint and edge list outlive a run, so a steady
      // tick pays the delta frontier only. Oracle cut mirrored at
      // 9//10 (the oracle generates BOTH chains from the split).
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 9 / 10
      // hb: the complete-hour boundary (the g_sssp_incr frozen
      // pair-count design, applied to the w≥3 substrate): pair-hour
      // counts over hours < hb never change, so the tick enumerates
      // only hours >= hb and merges the counts of TOUCHED pairs —
      // the full-history self-join is never re-paid.
      val hb = cut - java.lang.Math.floorMod(cut, 3600000000L)
      // r18: generation-layout commit (conditional pointer PUT) —
      // uniform loud-lost-update guarantee, see g_wpagerank_incr
      val (statePath, built) = Replay.maintainedGen("lpa_maint", d,
        s"$cut-$LpaMaxRounds-v3-g1")
      if (!built) {
        val edgesOld0 = coactivityEdges(
          ev.filter(unix_micros(col("ts")) < lit(cut)))
        graft.streaming.Streams.publishGen(statePath, 0L) { (_, g) =>
          lpaFixpoint(edgesOld0,
            edgesOld0.select(col("u")).distinct()
              .select(col("u"), col("u").as("lab")))
            .write.mode("overwrite").parquet(s"$g/labels")
          ssspPairCounts(
            ev.filter(col("ts") < timestamp_micros(lit(hb))))
            .write.mode("overwrite").parquet(s"$g/pairs")
          // the OLD graph's w≥3 pair set (canonical u<v half of the
          // symmetrized edge list), persisted for the tick-time
          // displacement audit below
          edgesOld0.filter(col("u") < col("v")).select("u", "v")
            .write.mode("overwrite").parquet(s"$g/pairs_old")
        }
      }
      val prev = graft.streaming.Streams.readGenArtifact(s, statePath,
        "labels")
      // phase 2: full-graph w≥3 edges via the maintained pair table.
      // Only fresh-touched pairs can have a CHANGED weight, so the
      // merged totals are computed for exactly those (broadcast-small)
      // and the untouched frozen pairs keep their counts from the scan
      // — no corpus merge, no frozen shuffle.
      val fresh = ssspPairCounts(
        ev.filter(col("ts") >= timestamp_micros(lit(hb))))
        .localCheckpoint()
      val frozen = graft.streaming.Streams.readGenArtifact(s, statePath,
        "pairs")
      val cand = frozen
        .join(broadcast(fresh.select(col("u"), col("v"),
          col("w").as("__fw"))), Seq("u", "v"))
        .localCheckpoint()
      val touched = cand
        .select(col("u"), col("v"), (col("w") + col("__fw")).as("w"))
        .unionByName(fresh.join(cand.select("u", "v"),
          Seq("u", "v"), "left_anti"))
        .localCheckpoint()
      val untouched = frozen.filter(col("w") >= 3)
        .join(broadcast(touched.select("u", "v")),
          Seq("u", "v"), "left_anti")
      val pairs3 = untouched.unionByName(
        touched.filter(col("w") >= 3))
      val edges = pairs3.select(col("u"), col("v"), col("w"))
        .unionByName(pairs3.select(col("v").as("u"),
          col("u").as("v"), col("w")))
        .localCheckpoint()
      // displacement audit (g_sssp_incr's monotonicity discipline,
      // r17 advice): prev's labels assume the OLD w≥3 substrate. The
      // merged counts are exact by hour-additivity, but capHourBand
      // can DISPLACE actives in the hour straddling the cut — the old
      // build counted that hour from the partial [hb, cut) slice, so
      // a pair's full-hour weight can come out LOWER and an old edge
      // can drop below w≥3 WITHOUT appearing in the fresh pair set.
      // Such a node is never seeded into the frontier and the
      // restricted/unrestricted LPA equivalence breaks — fail loudly
      // here instead of surfacing as an oracle hash mismatch.
      // Anti-join runs against the already-materialized edge
      // checkpoint (canonical u<v rows are present in it).
      val vanished = graft.streaming.Streams
        .readGenArtifact(s, statePath, "pairs_old")
        .join(edges.select("u", "v"), Seq("u", "v"), "left_anti")
        .count()
      require(vanished == 0L,
        s"$vanished old w>=3 edges vanished under new data " +
          "(capHourBand displacement in the cut-straddling hour) — " +
          "frontier-restricted maintenance does not apply; rebuild")
      val lab = edges.select(col("u")).distinct()
        .join(prev.select(col("u"), col("lab").as("plab")),
          Seq("u"), "left")
        .select(col("u"), coalesce(col("plab"), col("u")).as("lab"))
        .localCheckpoint()
      // changed edges: new pairs or grown weights — exactly the
      // fresh-touched pairs that clear the threshold. This frontier is
      // a SUPERSET of the strictly-changed set (a pair whose fresh
      // co-hours all predate the cut has an unchanged total and is
      // seeded anyway) — sound because re-evaluating an unchanged
      // node's adoption yields its current label and the seed dies out
      // in round one; still delta-proportional (bounded by the fresh
      // slice's pairs, never the graph).
      val fpairs = touched.filter(col("w") >= 3)
      lpaFrontier(edges, lab, fpairs.select("u")
          .unionByName(fpairs.select(col("v").as("u"))).distinct())
        .select(col("u").as("user_id"), col("lab").as("label"))
        .orderBy("user_id")
    }),

    // WARM-START weighted PageRank — the maintenance discipline
    // applied where a frontier restriction CANNOT work (rank mass
    // moves everywhere every round, so there is no small changed set;
    // the honest incremental form is a warm start): the previous run's
    // rank vector is a MAINTAINED table, and the next run seeds the
    // same fixed-depth grid-rounded recurrence from it instead of from
    // uniform. Honest measurement (GraphIncrSpec, the j_fuzzy_blocked
    // disclosure precedent): on THIS 150-node test graph the chain is
    // mixing-dominated — 3 cold rounds already land ~5e-6 L1 from a
    // 6-round reference, so the warm start has no headroom here (and
    // carries ~1e-5 of old-graph bias, both inside the asserted 1e-4
    // envelope). The payoff regime is slow-mixing web-scale graphs
    // where rounds are the expensive resource; what ships and is
    // oracle-pinned is the DISCIPLINE: maintained-seed rig, exact
    // determinism (grid-rounded seed data + the g_wpagerank
    // recurrence), and a mirror of both chains — old-graph 3 rounds
    // from uniform = the seed, then full-graph 3 rounds from
    // coalesce(old rank, uniform); new nodes cold-start at 1/|nodes|.
    "g_wpagerank_incr" -> ((s, d) => {
      val ev = t(s, d, "events")
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      // 90/10 time split, same regime shift as g_sssp_incr (r16
      // verdict #1): the maintained rank vector comes from the dense
      // 90% graph, so the warm start sits much closer to the full-
      // graph fixpoint than the old half-graph seed did. Mirrored in
      // the oracle's cw CTE — the two chains are generated from one
      // template and must cut at the same microsecond.
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 9 / 10
      // phase 1: the maintained rank vector (previous run's output) —
      // persistent across runs like g_sssp_incr's distance table; the
      // first run builds it, steady reruns warm-start straight from
      // the parquet.
      // r18: maintained state commits through the generation layout
      // (conditional pointer PUT) — the loud-lost-update guarantee is
      // now uniform with the streaming merge sinks, not an assumed
      // single-publisher marker file
      val (statePath, built) = Replay.maintainedGen("wpr_maint", d,
        s"$cut-r3-g1")
      if (!built) {
        val edgesOld = coactivityEdges(
          ev.filter(unix_micros(col("ts")) < lit(cut)))
        graft.streaming.Streams.publishGen(statePath, 0L) { (_, g) =>
          wprChain(edgesOld, wprUniformSeed(edgesOld), 3)
            .write.mode("overwrite").parquet(s"$g/ranks")
        }
      }
      val prev = graft.streaming.Streams.readGenArtifact(s, statePath,
        "ranks")
      // phase 2: full graph, warm-started from the maintained ranks
      val edges = coactivityEdges(ev)
      val str = edges.groupBy("u").agg(sum("w").as("s"))
      val nc = str.agg(count(lit(1)).cast("double").as("nn"))
      val seed = str.select(col("u"))
        .join(prev.select(col("u"), col("pr").as("ppr")), Seq("u"), "left")
        .crossJoin(broadcast(nc))
        .select(col("u"),
          coalesce(col("ppr"), roundf(lit(1.0) / col("nn"), 9)).as("pr"))
      wprChain(edges, seed, 3)
        .join(str, "u")
        .select(col("u").as("user_id"), col("s").as("strength"),
          roundf(col("pr"), 6).as("pagerank"))
        .orderBy("user_id")
    }),

    // Degree distribution — the graph-profiling primitive that
    // justified the substrate decisions above (the near-clique
    // diagnosis behind KcoreW and TriW is readable straight off this
    // output): per-node degrees of BOTH the w≥3 graph and its w≥12
    // sparsification from ONE pair aggregation (the second degree is
    // a conditional sum over the same rows), collapsed to
    // (graph, degree, n_nodes) histogram rows — |degrees| output,
    // partial-agg'd everywhere.
    "g_degree_dist" -> ((s, d) => {
      // r20 (ADVICE #1): the inline w≥3 build (+ its r19 pairs
      // checkpoint working around the two union branches re-planning
      // it) was the coactivityEdges computation — the shared builder's
      // symmetrized (u, v, w) rows projected to (u, w) are exactly the
      // old pairs(u,w) ∪ pairs(v→u,w), and the audited WindowGroupLimit
      // cap shape is CI-covered again.
      val sym = coactivityEdges(t(s, d, "events"))
        .select(col("u"), col("w"))
      // |nodes| rows, read by both histogram branches
      val deg = sym.groupBy("u").agg(
        count(lit(1)).as("deg3"),
        sum(when(col("w") >= KcoreW, 1L).otherwise(0L)).as("deg12"))
        .localCheckpoint()
      deg.groupBy(col("deg3").as("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit("w3").as("graph"), col("degree"), col("n_nodes"))
        .unionByName(deg.filter(col("deg12") > 0)
          .groupBy(col("deg12").as("degree"))
          .agg(count(lit(1)).as("n_nodes"))
          .select(lit("w12").as("graph"), col("degree"),
            col("n_nodes")))
        .orderBy("graph", "degree")
    }),

    // k-core decomposition (k=3) by iterative peeling — the fifth
    // graph primitive: repeatedly remove nodes whose degree within the
    // surviving subgraph falls below k, to a require-checked fixpoint
    // ([[kcorePeel]] on [[Fixpoint]], like every convergent loop: one
    // driver count per round, per-round localCheckpoint so lineage
    // stays O(1), loud failure past the cap). Per round the work is
    // two alive-set semi-joins + one partial-agg'd degree count — the
    // peel never rescans removed structure, and the alive set only
    // shrinks. The oracle unrolls the SAME recurrence to the cap
    // depth: a peeling fixpoint is ABSORBING (removing nothing changes
    // nothing), so extra unrolled rounds are identities and the oracle
    // never needs to know the discovered depth. Output = each core
    // member with its within-core degree.
    "g_kcore" -> ((s, d) => {
      // r20 (ADVICE #1): the inline w≥KcoreW build was exactly
      // ssspEdges (same cap, same threshold, same symmetrization,
      // checkpointed) — shared builder, audited cap shape.
      kcorePeel(ssspEdges(t(s, d, "events")))
        .select(col("u").as("user_id"), col("deg").as("core_deg"))
        .orderBy("user_id")
    }),

    // Landmark BFS — unweighted single-source shortest paths from the
    // [[ssspLandmarks]] of the w≥KcoreW co-activity graph, run
    // simultaneously (state keyed (landmark, node)). The
    // landmark-distance table is the classic graph FEATURE for
    // embedding/routing pipelines, and hop distance is the primitive
    // under effective-diameter and closeness work (g_neighborhood
    // estimates the same balls by sketch; this is the exact per-node
    // truth from a constant number of sources). Scale shape: pure
    // frontier iteration (Pregel's BFS) — per round ONE frontier⋈edges
    // hash join + a distinct + an anti-join against the settled set,
    // so total work is O(diameter · |E|) with the frontier never
    // larger than |V|·landmarks; localCheckpoint per round keeps
    // lineage O(1) (swap for reliable checkpoint on a real cluster),
    // one driver count per round, loud failure past the cap (the
    // g_kcore discipline). The oracle unrolls the SAME recurrence as a
    // recursive CTE with min-dist aggregation.
    "g_sssp" -> ((s, d) => {
      val edges = ssspEdges(t(s, d, "events"))
      val seeds = ssspLandmarks(edges)
        .select(col("lm"), col("lm").as("u"), lit(0).as("dist"))
      ssspBfs(edges, seeds)
        .select(col("lm").as("landmark"), col("u").as("user_id"),
          col("dist"))
        .orderBy("landmark", "user_id")
    }),

    // Incremental landmark BFS — g_sssp's distances MAINTAINED under
    // edge additions (the g_labelprop_incr / g_wpagerank_incr story
    // for the distance table). Co-activity edge weights only grow as
    // events accumulate, so the half-events edge set is (cap caveat
    // below) a SUBSET of the full set and distances are monotone
    // non-increasing: the classic dynamic-BFS insertion rule applies —
    // every node whose distance drops lies downstream of an inserted
    // edge, so seeding the relaxation frontier from DELTA-EDGE
    // endpoints (plus any new landmark's 0-row) and propagating
    // improvements to a fixpoint reproduces the full-graph truth
    // exactly. Phase-2 work is DELTA-PROPORTIONAL: the initial
    // frontier is |delta|-sized, each round is one frontier⋈edges join
    // + a min-collapse + an improving filter against the maintained
    // state, and untouched regions of the graph are never re-walked.
    // The one way monotonicity can break is capHourBand's per-hour
    // cap displacing a previously-kept user under new data — checked
    // with a loud require rather than assumed. Oracle = g_sssp's
    // VERBATIM: a missed cascade, a stale landmark, or a lost
    // improvement leaves a wrong distance and goes hash-red.
    "g_sssp_incr" -> ((s, d) => {
      val ev = t(s, d, "events")
      // Tick-scoped session tweaks (restored in the finally below):
      // parallelism-first OFF so AQE coalesces the tick's KB-sized
      // shuffles to their data size, and parquet aggregate pushdown ON
      // so the min/max(ts) window probe answers from footer stats
      // instead of scanning the history.
      val pfKey = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
      val apKey = "spark.sql.parquet.aggregatePushdown"
      val spKey = "spark.sql.shuffle.partitions"
      val pfOld = s.conf.get(pfKey, "true")
      val apOld = s.conf.get(apKey, "false")
      val spOld = s.conf.get(spKey, "200")
      s.conf.set(pfKey, "false")
      s.conf.set(apKey, "true")
      // a tick's shuffles carry KBs; 4 initial partitions (AQE can
      // still split a surprise) cut task-launch overhead ~8x
      s.conf.set(spKey, "4")
      try {
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      // 95/5 time split (r16 verdict #1 asked for dense-old/thin-delta
      // — e.g. 90/10; 5% is the same regime, thinner tick): the
      // maintained graph is the DENSE history and the delta the thin
      // tail — the at-scale maintenance shape (a day's tick against a
      // year's graph), where phase 2's delta-seeded frontier collapses
      // in a couple of rounds instead of re-walking the corpus. The
      // old 50/50 split left the half-events graph so much sparser
      // than the full graph that the improvement cascade was corpus-
      // sized and the registered row couldn't show the incremental win
      // (only GraphIncrSpec's controlled insertion did). Measured at
      // sf0.1 (steady): 5.0 s vs from-scratch g_sssp 5.8-6.3 s, with
      // the cascade at 537 improvements / 3 rounds vs BFS's 4128
      // frontier rows / 6 rounds — and the tick never re-pays the
      // history self-join (fresh+edges ≈ 2.1 s vs 4.4 s).
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 19 / 20
      // phase 1: the maintained distance table (previous run's output
      // on the old graph) — PERSISTENT across runs (Replay
      // .maintainedGen): in deployment the state table outlives a run
      // and a tick pays only the delta, so the first run builds it and
      // steady reruns (bench passes 2+) go straight to phase 2. The
      // key pins every input the state depends on; the full-graph
      // oracle hash-checks whatever is read back.
      // hb: the hour boundary at/below cut. Hours h < hb are COMPLETE
      // in the old data (h + 1h <= hb <= cut), so their per-hour cap
      // selection and pair enumeration are frozen forever — the
      // maintained pair table covers exactly those hours; the tick
      // recomputes only hours >= hb (the thin fresh slice plus at most
      // one straddling hour) and sum-merges, which is EXACT because
      // pair-hour counts are additive over disjoint hour sets.
      val hb = cut - java.lang.Math.floorMod(cut, 3600000000L)
      // A maintenance tick operates on DELTA-sized data end-to-end, so
      // AQE's parallelism-first coalescing (which keeps every KB-sized
      // shuffle at defaultParallelism-many tasks) is pure scheduling
      // overhead here — let AQE coalesce tiny shuffles to their data
      // size for the eager phases below, exactly what it does on a
      // real cluster when advisory-size coalescing is allowed to win.
      // r18: maintained state commits through the generation layout
      // (conditional pointer PUT, uniform with the streaming sinks)
      val (statePath, built) = Replay.maintainedGen("sssp_incr", d,
        s"$cut-$SsspMaxRounds-$SsspLandmarks-$KcoreW-v2-g1")
      if (!built) {
        val edgesOld0 = ssspEdges(ev.filter(unix_micros(col("ts")) <
          lit(cut)))
        // phase-1 BFS gets DOUBLE the round cap: the old graph is an
        // internal maintenance artifact (the oracle's depth bound only
        // constrains the FULL-graph output, guarded by the require
        // after ssspAdvance below), and a 90% graph missing a few
        // shortcut edges can legitimately be deeper than the full
        // graph's 12-round contract. Convergence stays loudly required
        // at the wider cap. Persisted alongside: the old edge set (the
        // monotonicity audit's left side) and the frozen pair counts.
        graft.streaming.Streams.publishGen(statePath, 0L) { (_, g) =>
          ssspBfs(edgesOld0, ssspLandmarks(edgesOld0)
            .select(col("lm"), col("lm").as("u"), lit(0).as("dist")),
            maxRounds = SsspMaxRounds * 2)
            .write.mode("overwrite").parquet(s"$g/dists")
          edgesOld0.write.mode("overwrite").parquet(s"$g/edges")
          val pc = ssspPairCounts(
            ev.filter(col("ts") < timestamp_micros(lit(hb))))
            .localCheckpoint()
          pc.write.mode("overwrite").parquet(s"$g/pairs")
          // the already-over-threshold subset, persisted separately
          // so a tick reads 14k rows for it instead of filtering the
          // full pair table a second time
          pc.filter(col("w") >= KcoreW).select("u", "v")
            .write.mode("overwrite").parquet(s"$g/pairs_hi")
        }
      }
      def art(name: String): DataFrame =
        graft.streaming.Streams.readGenArtifact(s, statePath, name)
      // phase 2: full-graph edges via the MAINTAINED pair table,
      // WITHOUT a corpus-wide merge: counts only grow, so an edge
      // either (a) was already over threshold on frozen hours alone —
      // a FILTER over the frozen scan, no shuffle — or (b) crossed the
      // threshold with help from hours >= hb, which requires the pair
      // to appear in the fresh slice — so the fresh pair set (small:
      // ~10% of hours; pushed-down ts bound means only the newest
      // partitions are scanned at 100 TB) is BROADCAST against the
      // frozen scan to find the crossers. The 90%-history self-join is
      // never re-paid, and the frozen table is never shuffled.
      // literal timestamp bound → parquet row-group pruning reaches
      // the scan (unix_micros(ts) >= lit would not push down)
      val fresh = ssspPairCounts(
        ev.filter(col("ts") >= timestamp_micros(lit(hb))))
        .localCheckpoint()
      val (state, _) = ssspAdvance("g_sssp_incr", art("dists"),
        art("edges"), art("pairs"), art("pairs_hi"), fresh)
      // depth-cap parity with ssspBfs (r16 advice): relaxation rounds
      // != BFS depth — a brand-new node at true distance SsspMaxRounds
      // can settle inside the round cap (the cascade starts from
      // maintained dist-10/11 bounds), while the shared oracle's
      // recursion guard truncates at SsspMaxRounds-1. Make depth
      // overflow fail IN-ENGINE like g_sssp's ssspBfs does, never as
      // an oracle hash mismatch.
      // counted as violating ROWS (not max().getInt) so an empty or
      // degenerate state reads as zero violations instead of an
      // opaque NPE, and the check is agnostic to dist's integral type
      val depthViolations =
        state.filter(col("dist") > lit(SsspMaxRounds - 1)).count()
      require(depthViolations == 0L,
        s"$depthViolations maintained distances exceed the " +
          s"$SsspMaxRounds-round BFS depth contract — refusing to " +
          "return distances the shared oracle cannot reach")
      state.select(col("lm").as("landmark"), col("u").as("user_id"),
          col("dist"))
        .orderBy("landmark", "user_id")
      } finally {
        s.conf.set(pfKey, pfOld)
        s.conf.set(apKey, apOld)
        s.conf.set(spKey, spOld)
      }
    }),

    // SECOND-TICK landmark BFS maintenance — the production loop, not
    // just the bootstrap (r17 verdict #5): every *_incr row so far
    // demonstrated cold-build + ONE tick; this row advances the cut
    // TWICE through the SAME generation-layout state dir, so tick 2
    // consumes tick 1's COMMITTED output — proving the maintenance
    // composes. Shape: cold build at the 90% cut (gen=0: dists,
    // edges, frozen pair counts at hb1); tick 1 advances to the 95%
    // cut with the delta-frontier relax AND commits the updated state
    // as gen=1 (dists+edges at cut2, pair table COMPACTED to hb2 via
    // [[mergedPairCounts]] — the log-structured compaction write);
    // tick 2 advances from that committed state to the full graph and
    // is the row's output. Each commit is a conditional pointer PUT
    // (publishGen) with the tick index as the batch marker, so a
    // replayed tick 1 is idempotent (the marker guard) and a raced
    // one fails loudly. Oracle = g_sssp's VERBATIM: whatever
    // two-hop maintenance path produced the final distance table, it
    // must hash-match the from-scratch full-graph truth.
    "g_sssp_incr2" -> ((s, d) => {
      val ev = t(s, d, "events")
      val pfKey = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
      val apKey = "spark.sql.parquet.aggregatePushdown"
      val spKey = "spark.sql.shuffle.partitions"
      val pfOld = s.conf.get(pfKey, "true")
      val apOld = s.conf.get(apKey, "false")
      val spOld = s.conf.get(spKey, "200")
      s.conf.set(pfKey, "false")
      s.conf.set(apKey, "true")
      s.conf.set(spKey, "4")
      try {
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val lo = mm.getLong(0)
      val span = mm.getLong(1) - lo
      val cut1 = lo + span * 9 / 10
      val cut2 = lo + span * 19 / 20
      val hb1 = cut1 - java.lang.Math.floorMod(cut1, 3600000000L)
      val hb2 = cut2 - java.lang.Math.floorMod(cut2, 3600000000L)
      val st = graft.streaming.Streams
      val (statePath, built) = Replay.maintainedGen("sssp_incr2", d,
        s"$cut1-$cut2-$SsspMaxRounds-$SsspLandmarks-$KcoreW-g1")
      def art(name: String): DataFrame =
        st.readGenArtifact(s, statePath, name)
      if (!built) {
        // cold build: the 90%-graph state (same discipline as
        // g_sssp_incr's phase 1, doubled BFS cap for the sparser
        // internal graph)
        val edgesOld0 = ssspEdges(ev.filter(unix_micros(col("ts")) <
          lit(cut1)))
        st.publishGen(statePath, 0L) { (_, g) =>
          ssspBfs(edgesOld0, ssspLandmarks(edgesOld0)
            .select(col("lm"), col("lm").as("u"), lit(0).as("dist")),
            maxRounds = SsspMaxRounds * 2)
            .write.mode("overwrite").parquet(s"$g/dists")
          edgesOld0.write.mode("overwrite").parquet(s"$g/edges")
          val pc = ssspPairCounts(
            ev.filter(col("ts") < timestamp_micros(lit(hb1))))
            .localCheckpoint()
          pc.write.mode("overwrite").parquet(s"$g/pairs")
          pc.filter(col("w") >= KcoreW).select("u", "v")
            .write.mode("overwrite").parquet(s"$g/pairs_hi")
        }
      }
      // tick 1 (90% → 95%), applied once: relax to the cut2 graph and
      // COMMIT the advanced state as the next generation. The batch
      // marker (1) makes a rerun skip it; a concurrent publisher
      // fails the pointer flip loudly.
      st.publishGen(statePath, 1L) { (prev, g) =>
        def prevArt(name: String) = st.readState(s, s"${prev.get}/$name")
        val freshT1 = ssspPairCounts(
          ev.filter(col("ts") >= timestamp_micros(lit(hb1)) &&
            col("ts") < timestamp_micros(lit(cut2))))
          .localCheckpoint()
        // no final depth require here: this state is an INTERNAL
        // maintenance artifact like phase 1's (the cut2 graph may be
        // deeper than the full-graph contract); ssspRelax still
        // requires convergence
        val (state1, edges1) = ssspAdvance("g_sssp_incr2:t1",
          prevArt("dists"), prevArt("edges"), prevArt("pairs"),
          prevArt("pairs_hi"), freshT1)
        // compact the frozen pair table forward to hb2: merge the
        // complete hours [hb1, hb2) — exact by hour-additivity
        val frozen2 = mergedPairCounts(prevArt("pairs"), ssspPairCounts(
          ev.filter(col("ts") >= timestamp_micros(lit(hb1)) &&
            col("ts") < timestamp_micros(lit(hb2)))))
          .localCheckpoint()
        state1.write.mode("overwrite").parquet(s"$g/dists")
        edges1.write.mode("overwrite").parquet(s"$g/edges")
        frozen2.write.mode("overwrite").parquet(s"$g/pairs")
        frozen2.filter(col("w") >= KcoreW).select("u", "v")
          .write.mode("overwrite").parquet(s"$g/pairs_hi")
      }
      // tick 2 (95% → full), every run: consumes tick 1's COMMITTED
      // state — the steady-state production tick
      val fresh2 = ssspPairCounts(
        ev.filter(col("ts") >= timestamp_micros(lit(hb2))))
        .localCheckpoint()
      val (state2, _) = ssspAdvance("g_sssp_incr2:t2", art("dists"),
        art("edges"), art("pairs"), art("pairs_hi"), fresh2)
      val depthViolations =
        state2.filter(col("dist") > lit(SsspMaxRounds - 1)).count()
      require(depthViolations == 0L,
        s"$depthViolations maintained distances exceed the " +
          s"$SsspMaxRounds-round BFS depth contract — refusing to " +
          "return distances the shared oracle cannot reach")
      state2.select(col("lm").as("landmark"), col("u").as("user_id"),
          col("dist"))
        .orderBy("landmark", "user_id")
      } finally {
        s.conf.set(pfKey, pfOld)
        s.conf.set(apKey, apOld)
        s.conf.set(spKey, spOld)
      }
    }),

    // Neighborhood function via mergeable sketches — HyperANF (Boldi &
    // Vigna, WWW 2011), the graph primitive the HLL family unlocks:
    // every node carries an HLL of its r-hop ball, and one round is
    // ONE edges-sized join + a per-node union-agg (hll_union_agg's
    // partial merge), so estimating ball sizes at depth r costs
    // r·O(|E| + |V|·k) — where the exact wedge recompute is Σdeg² at
    // r=2 and blows up combinatorially beyond. Run to r=2 over the
    // w≥KcoreW graph; the verdict compares each node's sketch
    // estimates against the exact recompute within 2% (+1 absolute) —
    // at fixture scale datasketches sketches sit in their exact
    // sparse regime, at 100 TB the same chain degrades gracefully to
    // the ~1.6% lgK=12 estimate error while the exact side becomes
    // unpayable. Effective-diameter / reachability profiling is this
    // chain read at increasing r.
    "g_neighborhood" -> ((s, d) => {
      // r20 (ADVICE #1): the inline w≥KcoreW build was exactly
      // ssspEdges — shared builder, audited cap shape.
      val edges = ssspEdges(t(s, d, "events"))
      val nodes = edges.select("u").distinct()
      val s0 = nodes.groupBy("u")
        .agg(hll_sketch_agg(col("u"), lit(12)).as("hb"))
      def sketchRound(prev: DataFrame): DataFrame = {
        val nbr = edges
          .join(prev.select(col("u").as("v"), col("hb")), "v")
          .groupBy("u").agg(hll_union_agg(col("hb")).as("hn"))
        prev.join(nbr, Seq("u"), "left")
          .select(col("u"),
            when(col("hn").isNull, col("hb"))
              .otherwise(hll_union(col("hb"), col("hn"))).as("hb"))
          .localCheckpoint()
      }
      val s1 = sketchRound(s0)
      val s2 = sketchRound(s1)
      val est = s1.select(col("u"),
          hll_sketch_estimate(col("hb")).as("b1"))
        .join(s2.select(col("u"),
          hll_sketch_estimate(col("hb")).as("b2")), "u")
      val one = edges.select("u", "v")
        .unionByName(nodes.select(col("u"), col("u").as("v")))
        .distinct().localCheckpoint()
      val b1x = one.groupBy("u").agg(count(lit(1)).as("ball1"))
      val two = edges.as("e1")
        .join(edges.as("e2"), col("e1.v") === col("e2.u"))
        .select(col("e1.u").as("u"), col("e2.v").as("v"))
        .unionByName(one).distinct()
      val b2x = two.groupBy("u").agg(count(lit(1)).as("ball2"))
      est.join(b1x, "u").join(b2x, "u")
        .select(col("u").as("user_id"), col("ball1"), col("ball2"),
          // a3_approx's 5% HLL bound (≈3σ at lgK=12): past the sparse
          // regime the estimates carry the documented ~1.6% σ — the
          // 2% bound of the first cut failed 7 of 1478 nodes at sf0.1
          (abs(col("b1") - col("ball1")) <=
            greatest(lit(1L), col("ball1") / 20) &&
           abs(col("b2") - col("ball2")) <=
            greatest(lit(1L), col("ball2") / 20)).as("within_bound"))
        .orderBy("user_id")
    }),

    // Per-edge neighborhood Jaccard — the classic link-prediction /
    // community-strength feature (Liben-Nowell & Kleinberg, CIKM'03):
    // for each edge (u,v) of the w≥KcoreW-sparsified graph,
    // |N(u)∩N(v)| / |N(u)∪N(v)|. Common neighbors come from ONE
    // wedge join (E(u,w) ⋈ E(v,w) on the shared endpoint, semi-joined
    // to the edge set — the g_triangles cost shape, Σdeg² on the
    // sparsified substrate, never all-pairs), degrees from one
    // partial-agg'd count, and the union size by inclusion-exclusion
    // — all integer counts, one rational division at the end.
    // Deterministic (jac DESC, u, v) top-20.
    "g_jaccard_sim" -> ((s, d) => {
      // r20 (ADVICE #1 + #4): the inline w≥KcoreW build was exactly
      // ssspEdges; the shared builder also resolves the double-planned
      // un-checkpointed `pairs` the r19 advisor flagged here (both
      // union branches now live inside the one symPairs explode behind
      // the checkpoint).
      val edges = ssspEdges(t(s, d, "events"))
      val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
      val common = edges.select(col("u"), col("v").as("wn")).as("x")
        .join(edges.select(col("u").as("v2"), col("v").as("wn")).as("y"),
          "wn")
        .filter(col("u") < col("v2"))
        .groupBy(col("u"), col("v2").as("v"))
        .agg(count(lit(1)).as("cn"))
        // r19 opt: semi-join against the checkpointed symmetric edge
        // list restricted to its u<v half — the SAME pair set as
        // `pairs` (edges is pairs symmetrized), but read from the
        // checkpoint instead of re-running the hour-band self-join a
        // second time (the plan's only non-reused band-join copy)
        .join(edges.filter(col("u") < col("v")).select("u", "v"),
          Seq("u", "v"), "left_semi")
      common
        .join(deg, "u")
        .join(deg.select(col("u").as("v"), col("deg").as("degv")), "v")
        .select(col("u"), col("v"), col("cn"),
          roundf(col("cn").cast("double") /
            (col("deg") + col("degv") - col("cn")).cast("double"), 6)
            .as("jac"))
        .orderBy(desc("jac"), asc("u"), asc("v"))
        .limit(20)
    }),

    // Triangle counting over the co-activity graph — the fourth graph
    // primitive (the cohesion/clustering-coefficient precursor; vs the
    // reference, an [EXT] like the rest of the graph family). The
    // scale-critical trick is DEGREE ORIENTATION (Suri &
    // Vassilvitskii, "Counting Triangles and the Curse of the Last
    // Reducer", WWW 2011): orient every undirected edge from the
    // endpoint with the smaller (degree, id) rank toward the larger,
    // which bounds every node's OUT-degree by O(√m) — the hub that
    // would otherwise host deg² wedge pairs hosts none, because hubs
    // rank last and receive their edges inbound. Wedges are then
    // out-neighbor pairs of each host, and a wedge (b, c) with
    // rank(b) < rank(c) closes iff the ORIENTED edge (b, c) exists —
    // by construction the closing edge can only be oriented that way —
    // so the close check is a plain equi-join on (b, c). Three hash
    // joins total, no cartesian anywhere; every triangle is found
    // exactly once (at its minimum-rank corner). Output = per-node
    // triangle participation (each triangle credits all three
    // corners). The oracle recomputes the triangle set with plain
    // id-ordering a<b<c — a different orientation, the SAME triangle
    // set — so a lost or phantom triangle goes hash-red.
    "g_triangles" -> ((s, d) => {
      // r20 (ADVICE #1): derived from the shared raw pair-count builder
      // (only the threshold differs — TriW), so the audited cap shape
      // covers this build too. Two consumers (degree count +
      // orientation join) — truncate so the hour-band pair join runs
      // once.
      val und = ssspPairCounts(t(s, d, "events"))
        .filter(col("w") >= TriW)
        .select("u", "v")
        .localCheckpoint()
      val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      val withDeg = und
        .join(deg.select(col("n").as("u"), col("dg").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("dg").as("dv")), "v")
      // rank = (degree, id) lexicographic, carried as an orderable
      // struct so ties between equal-degree nodes stay deterministic
      def rk(dg: Column, id: Column) =
        struct(dg.as("d"), id.as("i"))
      val oriented = withDeg.select(
          when(rk(col("du"), col("u")) < rk(col("dv"), col("v")),
            struct(col("u").as("a"), col("v").as("b"),
              rk(col("dv"), col("v")).as("rb")))
          .otherwise(
            struct(col("v").as("a"), col("u").as("b"),
              rk(col("du"), col("u")).as("rb"))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"), col("e.rb").as("rb"))
        // three consumers (two wedge legs + the close probe) — without
        // truncation each would recompute the hour-band pair join
        .localCheckpoint()
      val wedges = oriented
        .join(oriented.select(col("a").as("a2"), col("b").as("c"),
          col("rb").as("rc")),
          col("a") === col("a2") && col("rb") < col("rc"))
        .select(col("a"), col("b"), col("c"))
      val tri = wedges.join(
        oriented.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"))
      tri.select(explode(array(col("a"), col("b"), col("c")))
          .as("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n_tri"))
        .orderBy("user_id")
    }),

    // Sequential (group-sequential) A/B monitoring — x_abtest with an
    // interim look: Welch's z at the mid-experiment checkpoint and at
    // the end, each tested against the Pocock two-look critical value
    // 2.178 (α=0.05 two-sided, K=2 — a FIXED table constant, so no
    // transcendental enters the hash-checked output; naive per-look
    // 1.96 would inflate false positives). ONE conditional-aggregation
    // pass computes all twelve exact-decimal moments (both looks × both
    // arms); the look-1 prefix flag derives from a broadcast min/max
    // scalar with integer µs arithmetic, so Spark and the oracle cut
    // the stream at the identical event. Production form pins the look
    // timestamp as a literal watermark (pushable); here it is derived
    // in-plan for oracle parity.
    "x_abtest_seq" -> ((s, d) => {
      val ev0 = t(s, d, "events")
        .filter(col("event_type").isin("click", "view"))
      val mm = ev0.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi"))
      val ev = ev0.crossJoin(broadcast(mm))
        .withColumn("p1",
          unix_micros(col("ts")) <= expr("lo + (hi - lo) DIV 2"))
      val dv = roundf(col("value"), 4).cast("decimal(18,4)")
      val a = col("event_type") === "click"
      def mom(pred: Column, sfx: String) = Seq(
        sum(when(pred && a, lit(1L)).otherwise(lit(0L))).as(s"na$sfx"),
        sum(when(pred && !a, lit(1L)).otherwise(lit(0L))).as(s"nb$sfx"),
        sum(when(pred && a, dv)).as(s"sa$sfx"),
        sum(when(pred && a, dv * dv)).as(s"sxa$sfx"),
        sum(when(pred && !a, dv)).as(s"sb$sfx"),
        sum(when(pred && !a, dv * dv)).as(s"sxb$sfx"))
      val cols = mom(col("p1"), "1") ++ mom(lit(true), "2")
      val st = ev.agg(cols.head, cols.tail: _*)
      def z(sfx: String): Column = {
        val nd = (c: String) => col(s"$c$sfx").cast("double")
        val meanA = nd("sa") / nd("na")
        val meanB = nd("sb") / nd("nb")
        val varA = (nd("na") * nd("sxa") - nd("sa") * nd("sa")) /
          (nd("na") * (nd("na") - lit(1.0)))
        val varB = (nd("nb") * nd("sxb") - nd("sb") * nd("sb")) /
          (nd("nb") * (nd("nb") - lit(1.0)))
        (meanA - meanB) / sqrt(varA / nd("na") + varB / nd("nb"))
      }
      def look(i: Int, sfx: String) = st.select(lit(i).as("look"),
        col(s"na$sfx").as("n_a"), col(s"nb$sfx").as("n_b"),
        roundf(z(sfx), 4).as("z"),
        (abs(z(sfx)) > lit(2.178)).as("reject"))
      look(1, "1").unionByName(look(2, "2")).orderBy("look")
    }),

    // Closed-form simple linear regression per group — the moments
    // pattern (x_abtest's discipline): ONE conditional-agg pass
    // accumulates the five exact-decimal moments (n, Σx, Σy, Σxy,
    // Σx²{,Σy²}), slope/intercept/r² evaluate in the final projection
    // as IEEE arithmetic over decimal-exact operands — bit-identical
    // in any engine at any parallelism, no per-group iteration, no
    // shuffle beyond the groupBy. Regresses discounted price on
    // quantity per return flag.
    "x_linreg" -> ((s, d) =>
      olsOf(linregMoments(t(s, d, "lineitem")))),

    // x_linreg with the sufficient statistics MAINTAINED by the
    // generic additive-merge sink (Streams.sumsMaintain) over a
    // 2-batch replay — ONLINE model fitting: the five OLS moments are
    // additive, so per-batch partials re-sum to the corpus moments
    // EXACTLY (decimal addition is associative), the maintained state
    // is |groups| rows of wide decimals, and fitting reads the state
    // parquet — the training data is never rescanned. Oracle =
    // x_linreg's VERBATIM: a lost batch, a double merge, or sum-width
    // drift moves the coefficients and goes hash-red.
    "x_linreg_maintained" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val mid = li.agg(max("l_orderkey")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "linreg_mom", d,
        graft.etl.Tables.schemas("lineitem"), "li",
        li.filter(col("l_orderkey") < mid),
        li.filter(col("l_orderkey") >= mid))
      val mPath = new java.io.File(base, "moments").getPath
      val q = graft.streaming.Streams.sumsMaintain(stream,
        Seq("l_returnflag"), Seq("n", "sx", "sy", "sxy", "sxx", "syy"),
        mPath)(linregMoments)
      require(q.awaitTermination(600000),
        "moments maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the re-sum merge is " +
          "untested")
      olsOf(graft.streaming.Streams.readGenMaintained(s, mPath))
    }),

    // Chi-squared independence test over a contingency table
    // (status × priority): all counts from ONE hash-agg pass over the
    // |cells|-sized table, expected counts and the statistic as IEEE
    // arithmetic over exact integer counts, the df=8 α=0.05 critical
    // value 15.5073 as a FIXED table constant (the Pocock/x_abtest_seq
    // discipline — no transcendental reaches the hash surface).
    // Output: per-cell observed/expected/contribution plus the
    // verdict columns on every row.
    "x_chisq" -> ((s, d) => {
      val o = t(s, d, "orders")
      val cells = o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("obs"))
      val rows = o.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("rt"))
      val cols = o.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("ct"))
      val tot = o.agg(count(lit(1)).as("n"))
      val contrib = cells.join(rows, "o_orderstatus")
        .join(cols, "o_orderpriority")
        .crossJoin(broadcast(tot))
        .withColumn("exp",
          col("rt").cast("double") * col("ct").cast("double") /
            col("n").cast("double"))
        .withColumn("chi",
          (col("obs").cast("double") - col("exp")) *
            (col("obs").cast("double") - col("exp")) / col("exp"))
      val stat = contrib.agg(
        sum(roundf(col("chi"), 9).cast("decimal(38,9)")).cast("double")
          .as("chi2raw"))
        .select(roundf(col("chi2raw"), 6).as("chi2"))
      contrib.crossJoin(broadcast(stat))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("obs"), roundf(col("exp"), 4).as("expected"),
          roundf(col("chi"), 6).as("contrib"),
          col("chi2"), lit(8).as("df"),
          (col("chi2") > lit(15.5073)).as("reject_independence"))
        .orderBy("o_orderstatus", "o_orderpriority")
    }),

    // Benford's-law conformance — the fraud/data-quality screen:
    // does the first significant digit of order totals follow
    // log10(1+1/d)? The expected frequencies are NINE FIXED CONSTANTS
    // (the only place a log appears is in deriving the table, done
    // once on paper), the digit extracts via integer-string rendering
    // (floor → BIGINT → first char — identical text in both engines,
    // no float formatting and no runtime log), and the chi-squared
    // statistic follows the x_chisq discipline with the df=8 critical
    // value. Per-digit contributions localize the deviation.
    "x_benford" -> ((s, d) => {
      val pd = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
        0.066947, 0.057992, 0.051153, 0.045757)
      val o = t(s, d, "orders")
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
      val cells = o.groupBy("digit").agg(count(lit(1)).as("obs"))
      val tot = o.agg(count(lit(1)).as("n"))
      val pCol = element_at(
        array(pd.map(lit): _*), col("digit"))
      val contrib = cells.crossJoin(broadcast(tot))
        .withColumn("exp", col("n").cast("double") * pCol)
        .withColumn("chi",
          (col("obs").cast("double") - col("exp")) *
            (col("obs").cast("double") - col("exp")) / col("exp"))
      val stat = contrib.agg(
        sum(roundf(col("chi"), 9).cast("decimal(38,9)")).cast("double")
          .as("c2raw"))
        .select(roundf(col("c2raw"), 6).as("chi2"))
      contrib.crossJoin(broadcast(stat))
        .select(col("digit"), col("obs"),
          roundf(col("exp"), 4).as("expected"),
          roundf(col("chi"), 6).as("contrib"),
          col("chi2"), (col("chi2") > lit(15.5073)).as("reject_benford"))
        .orderBy("digit")
    }),

    // CUSUM changepoint detection on the daily count series — where
    // did the level shift? S_t = Σ_{i≤t} (c_i − mean) over the
    // calendar-bounded daily series; the changepoint estimate is
    // argmax |S_t| (the classic offline CUSUM estimator). All
    // arithmetic is integer counts and one exact mean (decimal-exact
    // sum / count), the cumsum window runs over ≤ |days| rows, and
    // the argmax tie-breaks on the earlier day — deterministic end to
    // end. Output per event_type: the estimated changepoint day, its
    // |S| magnitude, and the before/after daily means that quantify
    // the shift.
    "x_changepoint" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val tot = daily.groupBy("event_type").agg(
        sum("c").as("sc"), count(lit(1)).as("nd"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wr = Window.partitionBy("event_type").orderBy("day")
      val cum = daily.join(tot, "event_type")
        .withColumn("mean", col("sc").cast("double") /
          col("nd").cast("double"))
        // integer running count + row_number keep the cumsum exact;
        // doubles enter only in the final S_t expression
        .withColumn("cs", sum("c").over(w))
        .withColumn("rn", row_number().over(wr))
        .withColumn("s", col("cs").cast("double") -
          col("mean") * col("rn").cast("double"))
      val wP = Window.partitionBy("event_type")
        .orderBy(desc("abs_s"), asc("day"))
      cum.withColumn("abs_s", abs(col("s")))
        .withColumn("pick", row_number().over(wP))
        .filter(col("pick") === 1)
        .select(col("event_type"), col("day").as("change_day"),
          roundf(col("abs_s"), 6).as("cusum"),
          roundf(col("cs").cast("double") / col("rn").cast("double"), 6)
            .as("mean_before"),
          // degenerate series (argmax on the last day ⇒ nd = rn): the
          // "after" segment is empty — emit NULL explicitly rather than
          // relying on engine-specific 0/0 semantics (Spark non-ANSI
          // NULL vs DuckDB NaN/Inf)
          when(col("nd") === col("rn"), lit(null).cast("double"))
            .otherwise(roundf((col("sc") - col("cs")).cast("double") /
              (col("nd") - col("rn")).cast("double"), 6))
            .as("mean_after"))
        .orderBy("event_type")
    }),

    // Lag-1 autocorrelation of the daily event-count series — the
    // time-series health diagnostic (is today's volume predictive of
    // tomorrow's?). The raw table collapses to ONE row per day first
    // (map-side combined counts — the series is bounded by the
    // calendar, not the data), the lag pairs come from a self-join on
    // day+1 (no window needed, and the series is small enough that
    // the join broadcasts), and r evaluates from integer-count
    // moments as IEEE arithmetic — the x_corr formula over the
    // (c_t, c_{t+1}) pairs. Per event_type, so the output localizes
    // which stream is bursty vs mean-reverting.
    "x_autocorr" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("c"))
      val pairs = daily.as("x").join(daily.as("y"),
          col("x.event_type") === col("y.event_type") &&
          col("y.day") === col("x.day") + expr("INTERVAL 1 DAY"))
        .select(col("x.event_type").as("event_type"),
          col("x.c").as("c0"), col("y.c").as("c1"))
      val m = pairs.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum("c0").as("s0"), sum("c1").as("s1"),
        sum(col("c0") * col("c1")).as("s01"),
        sum(col("c0") * col("c0")).as("s00"),
        sum(col("c1") * col("c1")).as("s11"))
      val dx = (c: String) => col(c).cast("double")
      val cov = dx("n") * dx("s01") - dx("s0") * dx("s1")
      val v0 = dx("n") * dx("s00") - dx("s0") * dx("s0")
      val v1 = dx("n") * dx("s11") - dx("s1") * dx("s1")
      m.select(col("event_type"), col("n"),
          roundf(cov / sqrt(v0 * v1), 6).as("r1"))
        .orderBy("event_type")
    }),

    // Market-basket association rules — support / confidence / lift
    // for part pairs co-occurring in an order (the retail-analytics
    // classic, Agrawal-Srikant's measures without the Apriori loop:
    // one co-occurrence self-join IS the k=2 lattice level). Scale
    // shape: the self-join is keyed on l_orderkey and order width is
    // bounded (≤7 lineitems), so per-order pair fan-out is ≤ C(7,2) —
    // LINEAR in the table, never quadratic in parts; pair counts
    // partial-aggregate; the min-support filter (n_ab ≥ 3) bounds the
    // rule table before the per-part marginals join. All three
    // measures are integer-count ratios evaluated identically in both
    // engines; top-20 by (lift DESC, a, b) is a deterministic LIMIT.
    "x_basket" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val tot = li.agg(countDistinct(col("ok")).as("n_orders"))
      val pairs = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      val pc = li.groupBy("pk").agg(count(lit(1)).as("n_p"))
      pairs
        .join(pc.select(col("pk").as("a"), col("n_p").as("n_a")), "a")
        .join(pc.select(col("pk").as("b"), col("n_p").as("n_b")), "b")
        .crossJoin(broadcast(tot))
        .select(col("a"), col("b"), col("n_ab"),
          roundf(col("n_ab").cast("double") /
            col("n_orders").cast("double"), 6).as("support"),
          roundf(col("n_ab").cast("double") /
            col("n_a").cast("double"), 6).as("confidence"),
          roundf((col("n_ab") * col("n_orders")).cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
        .orderBy(desc("lift"), asc("a"), asc("b"))
        .limit(20)
    }),

    // One-way ANOVA — does the value distribution differ across the
    // five event types? F = (SSB/(k−1)) / (SSW/(n−k)), all from the
    // same one-pass exact-decimal moments discipline (per-group n, Σv,
    // Σv²): SSB and SSW derive in the final projection as IEEE
    // arithmetic over decimal-exact sums, and the df=(4, n−5) α=0.05
    // critical value ships as a fixed constant for THIS fixture's
    // group count (large-denominator F(4,∞) = 2.3719), so no
    // transcendental reaches the hash surface. Per-group means ride
    // along to localize the driving group.
    "x_anova" -> ((s, d) => {
      val dv = roundf(col("value"), 4).cast("decimal(18,4)")
      val g = t(s, d, "events").groupBy("event_type").agg(
        count(lit(1)).as("n"), sum(dv).as("sv"),
        sum((dv.cast("decimal(19,4)") * dv).cast("decimal(38,8)"))
          .as("svv"))
      val tot = g.agg(sum("n").as("nt"), sum("sv").as("svt"),
        sum("svv").as("svvt"), count(lit(1)).as("k"))
      val joined = g.crossJoin(broadcast(tot))
      val dx = (c: String) => col(c).cast("double")
      // SSW_g = Σv² − (Σv)²/n; SSB_g = n·(mean − grand)²
      val grand = dx("svt") / dx("nt")
      val ssw = sum(roundf(dx("svv") - dx("sv") * dx("sv") / dx("n"), 6)
        .cast("decimal(38,6)")).cast("double")
      val ssb = sum(roundf(dx("n") *
          (dx("sv") / dx("n") - grand) * (dx("sv") / dx("n") - grand), 6)
        .cast("decimal(38,6)")).cast("double")
      val st = joined.groupBy("nt", "k")
        .agg(ssw.as("ssw"), ssb.as("ssb"))
        .select(col("nt"), col("k"),
          roundf((col("ssb") / (col("k") - lit(1)).cast("double")) /
            (col("ssw") / (col("nt") - col("k")).cast("double")), 6)
            .as("f_stat"))
      g.select(col("event_type"), col("n"),
          roundf(col("sv").cast("double") / col("n").cast("double"), 6)
            .as("mean_value"))
        .crossJoin(broadcast(st))
        .select(col("event_type"), col("n"), col("mean_value"),
          col("f_stat"), (col("f_stat") > lit(2.3719)).as("reject_equal"))
        .orderBy("event_type")
    }),

    // Two-sample Kolmogorov–Smirnov between the stream's early and
    // late halves — the NUMERIC complement of x_drift's categorical
    // test: D = max |ECDF₁ − ECDF₂|. The scale move: values bin to a
    // 0.01 grid FIRST (pure IEEE floor — the statistic computed is
    // exactly the KS of the binned distributions, disclosed), so the
    // ECDF cumsum window runs over ≤ |bins| rows — bounded by the
    // value range, never data-sized, sidestepping the global-window
    // trap. Verdict vs the α=0.05 large-sample critical value
    // 1.358·sqrt((n1+n2)/(n1·n2)) — the 1.358 is a fixed table
    // constant; sqrt is correctly-rounded IEEE in both engines.
    "x_ks" -> ((s, d) => {
      val ev0 = t(s, d, "events")
      val mm = ev0.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val ev = ev0.select(
        floor(col("value") * lit(100.0)).cast("long").as("bin"),
        (unix_micros(col("ts")) >= lit(cut)).cast("int").as("late"))
      val cells = ev.groupBy("bin").agg(
        sum(when(col("late") === 0, 1L).otherwise(0L)).as("c1"),
        sum(when(col("late") === 1, 1L).otherwise(0L)).as("c2"))
      val tot = cells.agg(sum("c1").as("n1"), sum("c2").as("n2"))
      val w = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
      val ecdf = cells
        .withColumn("k1", sum("c1").over(w))
        .withColumn("k2", sum("c2").over(w))
        .crossJoin(broadcast(tot))
        .select(abs(col("k1").cast("double") / col("n1").cast("double") -
          col("k2").cast("double") / col("n2").cast("double")).as("dd"),
          col("n1"), col("n2"))
      ecdf.groupBy("n1", "n2")
        .agg(roundf(max(col("dd")), 6).as("ks_d"))
        .select(col("n1"), col("n2"), col("ks_d"),
          roundf(lit(1.358) * sqrt(
            (col("n1") + col("n2")).cast("double") /
              (col("n1") * col("n2")).cast("double")), 6).as("crit"),
          (col("ks_d") > roundf(lit(1.358) * sqrt(
            (col("n1") + col("n2")).cast("double") /
              (col("n1") * col("n2")).cast("double")), 6))
            .as("drift_detected"))
    }),

    // Distribution-drift monitor — the chi-squared two-sample
    // homogeneity test between the stream's early and late halves
    // (time midpoint from two footer-stat scalars, embedded as a
    // literal): the categorical-drift check every production pipeline
    // runs before trusting a window of new data. Same determinism
    // discipline as x_chisq — expected counts and the statistic as
    // IEEE arithmetic over exact integer counts, df = |types|−1 = 4
    // critical value 9.4877 a fixed constant. Per-type observed
    // early/late counts + contribution columns localize WHICH
    // category drifted; the verdict rides every row.
    // Population stability index — the industry-standard ML feature-
    // drift metric (x_drift's chi-squared answers "is the shift
    // significant"; PSI answers "how big is it" on the fixed
    // 0.1/0.2 action thresholds every model-monitoring runbook uses).
    // Reference = early half by time, current = late half; buckets =
    // the reference's OWN deciles per event_type (9 cut points × 5
    // types collected to the driver — bounded scalars, the w5_ntile
    // precedent — then applied as broadcast literals so bucketing is
    // one codegen'd array scan per row, no join). Both halves' decile
    // proportions get Laplace smoothing ((c+0.5)/(n+5)) over a
    // generated bucket spine so an empty current bucket contributes a
    // finite term instead of ln(0); each (p−q)·ln(p/q) term rounds to
    // the 1e-6 grid and sums EXACTLY in decimal. Cut points round to
    // the 1e-4 grid on BOTH sides before comparison (the x_percentile
    // agreement surface), so bucketing is bit-identical across
    // engines.
    // Multivariate OLS — see [[ols2Of]].
    "x_ols2" -> ((s, d) => ols2Of(t(s, d, "lineitem"))),

    // Weighted sampling WITHOUT replacement — Efraimidis & Spirakis
    // (IPL 2006) A-ES: each row draws key = u^(1/w) from a uniform u
    // and the k largest keys are exactly a w-weighted sample without
    // replacement. The variant x_sample/x_stratified/x_topk_sample
    // don't cover: here inclusion probability scales with a per-row
    // WEIGHT (n_chars — longer docs proportionally likelier), the
    // data-mixing primitive for length-balanced subcorpora. u derives
    // from the portable 60-bit md5 hash (deterministic, mirrored in
    // SQL); ranking uses ln(u)/w — the same order as u^(1/w) (ln is
    // monotone, w > 0) without a pow in either engine. Scale shape:
    // one scan + TakeOrderedAndProject — the k-row heap per partition,
    // never a global sort.
    "x_wsample" -> ((s, d) => {
      val h = Text.portableHash(concat(lit("wsample:"),
        col("doc_id").cast("string")))
      val u = (h.cast("double") + lit(1.0)) /
        lit(1152921504606846976.0) // 2^60 — u ∈ (0, 1]
      val wgt = greatest(col("n_chars"), lit(1L)).cast("double")
      val top = t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          roundf(log(u) / wgt, 9).as("key"))
        .orderBy(desc("key"), asc("doc_id"))
        .limit(50)
      top.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(desc("key"), asc("doc_id"))))
        .select(col("rank"), col("doc_id"), col("n_chars"), col("key"))
        .orderBy("rank")
    }),

    "x_psi" -> ((s, d) => {
      val (ref, cur) = psiHalves(t(s, d, "events"))
      val b = psiBucket(psiCuts(ref))
      psiOf(psiCounts(ref, b), psiCounts(cur, b))
    }),

    // x_psi with the CURRENT window's bucket counts MAINTAINED by the
    // streaming re-sum sink — the deployment shape of drift
    // monitoring: the reference deciles and proportions are frozen at
    // fit time, production traffic streams in, and the monitor's state
    // is the |types×buckets| count table (bucket counts are additive,
    // so per-batch partials merge exactly). Scoring reads the
    // maintained parquet + the reference aggregate — the current
    // window is never rescanned. Oracle = x_psi's VERBATIM: a lost
    // batch or double merge shifts q and goes hash-red.
    "x_psi_maintained" -> ((s, d) => {
      val (ref, cur) = psiHalves(t(s, d, "events"))
      val b = psiBucket(psiCuts(ref))
      // pre-bucketed current rows (bucket is a row-local pure function
      // of frozen literals — the mw_maint pre-projection precedent),
      // replayed as two micro-batches split on event_id
      val rows = cur.select(col("event_type"), b.as("bucket"),
        col("event_id"))
      // split at the midpoint of cur's OWN id range (r16 advice): cur
      // is the LATE half of events and event_id correlates ~1.0 with
      // ts in the fixtures, so max/2 sits below min(cur.event_id) and
      // the first micro-batch would be EMPTY — the cross-batch re-sum
      // merge the require below exists to exercise would never run
      val mm0 = rows.agg(min("event_id"), max("event_id")).head()
      val mid = (mm0.getLong(0) + mm0.getLong(1)) / 2
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("bucket", IntegerType),
        StructField("event_id", LongType)))
      val (base, stream) = Replay.twoBatchStream(s, "psi_cur", d,
        schema, "rows", rows.filter(col("event_id") < mid),
        rows.filter(col("event_id") >= mid))
      val cPath = new java.io.File(base, "counts").getPath
      val q = graft.streaming.Streams.sumsMaintain(stream,
        Seq("event_type", "bucket"), Seq("c"), cPath)(batch =>
          batch.groupBy("event_type", "bucket")
            .agg(count(lit(1)).as("c")))
      require(q.awaitTermination(600000),
        "count maintenance stream must drain (AvailableNow)")
      // two-NONEMPTY-batches is now guaranteed structurally by
      // Replay.twoBatchStream (loud require on the written halves'
      // footer counts) — the local recentProgress check this row
      // carried in r16/r17 is subsumed by the shared rig.
      psiOf(psiCounts(ref, b),
        graft.streaming.Streams.readGenMaintained(s, cPath))
    }),

    "x_drift" -> ((s, d) => {
      val ev0 = t(s, d, "events")
      val mm = ev0.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val ev = ev0.withColumn("late",
        (unix_micros(col("ts")) >= lit(cut)).cast("int"))
      val cells = ev.groupBy("event_type", "late")
        .agg(count(lit(1)).as("obs"))
      val rows = ev.groupBy("event_type").agg(count(lit(1)).as("rt"))
      val cols = ev.groupBy("late").agg(count(lit(1)).as("ct"))
      val tot = ev.agg(count(lit(1)).as("n"))
      val contrib = cells.join(rows, "event_type").join(cols, "late")
        .crossJoin(broadcast(tot))
        .withColumn("exp",
          col("rt").cast("double") * col("ct").cast("double") /
            col("n").cast("double"))
        .withColumn("chi",
          (col("obs").cast("double") - col("exp")) *
            (col("obs").cast("double") - col("exp")) / col("exp"))
      val stat = contrib.agg(
        sum(roundf(col("chi"), 9).cast("decimal(38,9)")).cast("double")
          .as("c2raw"))
        .select(roundf(col("c2raw"), 6).as("chi2"))
      contrib.crossJoin(broadcast(stat))
        .select(col("event_type"), col("late"), col("obs"),
          roundf(col("exp"), 4).as("expected"),
          roundf(col("chi"), 6).as("contrib"),
          col("chi2"), lit(4).as("df"),
          (col("chi2") > lit(9.4877)).as("drift_detected"))
        .orderBy("event_type", "late")
    }),

    // Poisson bootstrap — the ONE-PASS bootstrap (the massive-data
    // formulation, after Chamandy et al., "Estimating Uncertainty for
    // Massive Data Streams", 2012): classical resampling draws B
    // corpus-sized samples (B passes or a B× shuffle); the Poisson
    // approximation gives every (row, replica) an independent
    // Poisson(1) weight, so ALL B = 32 replica statistics accumulate
    // in ONE scan with map-side combine — at 100 TB the marginal cost
    // over a plain mean is B counters per group. Determinism: the
    // weight is the inverse-CDF bucket of a 60-bit md5 hash of
    // (event_id, replica) against INTEGER thresholds (the Poisson(1)
    // CDF scaled by 1e6 — fixed table constants, no transcendental at
    // runtime), and every weighted sum is exact decimal arithmetic
    // (grid-rounded value × integer weight). Output per event_type:
    // the exact mean plus the [2nd, 31st] order statistics of the 32
    // replica means — a ~90% percentile-bootstrap CI with fully
    // deterministic rank selection (ties break on replica id).
    "x_bootstrap" -> ((s, d) => {
      val B = 32
      // P(Poisson(1) ≤ k) · 1e6 for k = 0..5; bucket 6 is the tail
      val th = Seq(367879L, 735758L, 919698L, 981011L, 996340L, 999405L)
      // r20: tPar — the B× replica explode evaluates a 60-bit md5 hash
      // per (row, replica) (3.2M at sf0.1) inside the scan stage, which
      // a single-row-group scan runs as ONE task
      val ev = tPar(s, d, "events")
        .select(col("event_id"), col("event_type"),
          roundf(col("value"), 4).cast("decimal(18,4)").as("v"))
      val u = pmod(Text.portableHash(
        concat(col("event_id"), lit("|"), col("b"))), lit(1000000L))
      val rep = ev
        .select(col("event_id"), col("event_type"), col("v"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("w",
          when(u < th(0), 0).when(u < th(1), 1).when(u < th(2), 2)
            .when(u < th(3), 3).when(u < th(4), 4).when(u < th(5), 5)
            .otherwise(6))
      val repMeans = rep.groupBy("event_type", "b")
        .agg(sum(col("w")).as("sw"), sum(col("v") * col("w")).as("swv"))
        .filter(col("sw") > 0)
        .select(col("event_type"), col("b"),
          roundf(col("swv").cast("double") / col("sw").cast("double"), 6)
            .as("rm"))
      val wA = Window.partitionBy("event_type")
        .orderBy(asc("rm"), asc("b"))
      val ci = repMeans.withColumn("rn", row_number().over(wA))
        .groupBy("event_type")
        .agg(max(when(col("rn") === 2, col("rm"))).as("ci_lo"),
          max(when(col("rn") === B - 1, col("rm"))).as("ci_hi"))
      val pt = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          roundf(sum(col("v")).cast("double") /
            count(lit(1)).cast("double"), 6).as("mean_value"))
      pt.join(ci, "event_type")
        .select("event_type", "n", "mean_value", "ci_lo", "ci_hi")
        .orderBy("event_type")
    }),

    // Count-min point queries over the same constructed-skew domain —
    // the complement of x_heavyhitters: MG answers "which keys are
    // big", CM answers "how big is THIS key" for ANY key in O(d·w)
    // memory (d×w counter grid, elementwise-add merge — the simplest
    // mergeable summary). The 64 KB sketch is a bounded driver fetch
    // (the j_bloom/w5_ntile scalar move); probes mix the 7 hot keys
    // with 3 near-unique cold ones, where CM's one-sided error shows:
    // est ≥ exact ALWAYS (counters only add — theorem), while the
    // upper bound is PROBABILISTIC over the hash draw: P(est > exact +
    // (e/w)·n) ≤ e^-d per key, so the 1× bound can legitimately fail
    // ~1.8%/key on a fresh testdata seed and masquerade as an engine
    // bug. The oracle therefore checks the 2× relaxation (P(fail) ≤
    // (2e)^-d per key by Markov — effectively never), which with
    // fixed hashes is a deterministic empirical fact at any plausible
    // regeneration (the a3_approx precedent); DedupSpec-style 1×
    // tightness stays observable via the printed estimates. Exact
    // probe counts stay a distributed partial-agg'd truth side.
    "x_countmin" -> ((s, d) => {
      val hh = graft.functions.HeavyHitters
      val width = 2048
      val keyed = t(s, d, "lineitem").select(
        when(col("l_orderkey") % 10 < 5,
          concat(lit("hot"), (col("l_orderkey") % 7).cast("string")))
        .otherwise(concat(lit("cold"), col("l_orderkey").cast("string")))
        .as("k"))
      val probes = (0 to 6).map(i => s"hot$i") ++
        Seq("cold5", "cold6", "cold7")
      val row = keyed.agg(hh.cmSketchCol(col("k"), width).as("cm"),
        count(lit(1)).as("n")).head()
      val sketch = row.getSeq[Long](0).toArray
      val eps = 2.718281828459045 / width * row.getLong(1)
      import s.implicits._
      val estDf = probes.map(p => (p, hh.cmEstimate(sketch, width, p)))
        .toDF("k", "est")
      keyed.filter(col("k").isin(probes: _*))
        .groupBy("k").agg(count(lit(1)).as("exact_n"))
        .join(broadcast(estDf), "k")
        .select(col("k"), col("exact_n"),
          (col("est") >= col("exact_n")).as("no_underestimate"),
          (col("est").cast("double") <=
            col("exact_n").cast("double") + lit(2.0 * eps))
            .as("within_2eps"))
        .orderBy("k")
    }),

    // Feature standardization (z-score) per group — the normalization
    // staple in front of model training. Two-phase, never a per-group
    // window over the fact table: (1) per-group moments from EXACT
    // decimal sums (order-independent — the streaming-double builtin
    // avg/stddev depend on merge order in the last ulps), a tiny
    // aggregate; (2) the moments BROADCAST back onto a second scan, so
    // the z projection + outlier flag are pure codegen over the fact
    // rows and the only fact-table shuffle is the final group-by's
    // partial-agg'd count. At 100 TB the stats side stays |groups|
    // rows — the broadcast never grows with data.
    "x_zscore" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val p = col("l_extendedprice").cast("decimal(18,2)")
      val dbl = (c: String) => col(c).cast("double")
      val stats = li.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(p).as("sx"), sum(p * p).as("sxx"))
        .select(col("l_returnflag"),
          (dbl("sx") / dbl("n")).as("mean"),
          sqrt((dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")) /
            (dbl("n") * dbl("n"))).as("std"))
      li.join(broadcast(stats), "l_returnflag")
        .select(col("l_returnflag"), col("mean"), col("std"),
          ((col("l_extendedprice") - col("mean")) / col("std")).as("z"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          roundf(max(col("mean")), 4).as("mean_price"),
          roundf(max(col("std")), 4).as("std_price"),
          sum(when(abs(col("z")) > lit(2.0), lit(1L)).otherwise(lit(0L)))
            .as("n_outliers"))
        .orderBy("l_returnflag")
    }),

    // exactQuantiles driven through the oracle surface directly: the
    // distributed exact-order-statistics job (see exactQuantiles above —
    // the scale-safe replacement for the builtin percentile()'s
    // single-buffer final merge) against DuckDB's quantile_cont on the
    // same ranks. Both engines implement continuous interpolation at
    // pos = p·(n−1); 4-decimal rounding absorbs last-ulp form
    // differences per the x_percentile convention.
    "x_quantiles" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val ps = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
      val vs = exactQuantiles(li, "l_extendedprice", ps)
      import s.implicits._
      ps.zip(vs).toDF("p", "v")
        .select(col("p"), roundf(col("v"), 4).as("v"))
        .orderBy("p")
    }),

    "x_winsorize" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val Seq(lo, hi) =
        exactQuantiles(li, "l_extendedprice", Seq(0.05, 0.95))
      li.select(col("l_returnflag"),
          greatest(least(col("l_extendedprice"), lit(hi)), lit(lo))
            .as("wp"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum4(col("wp")).as("sum_wins"),
          roundf(min(col("wp")), 4).as("min_wins"),
          roundf(max(col("wp")), 4).as("max_wins"))
        .orderBy("l_returnflag")
    }),

    // Fixed-width histogram — ONE partial-aggregated pass: the bin id is
    // a pure scalar of the row (clamped floor), so map-side combine
    // collapses each partition to ≤ n_bins rows before the exchange.
    // Shuffle = |bins|, independent of table size — the 100 TB profile
    // pass. Bounds are literals (domain knowledge); a data-driven variant
    // collects min/max first like x_winsorize's cuts, same plan.
    "x_histogram" -> ((s, d) => {
      val w = 6000.0; val nb = 20
      t(s, d, "lineitem")
        .select(least(greatest(floor(col("l_extendedprice") / lit(w)),
            lit(0)), lit(nb - 1)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    }),

    // x_histogram with the bin-count table MAINTAINED BY THE STREAMING
    // SINK — the maintained distribution statistic (the "maintained
    // quantile sketch" roadmap item, resolved as a fixed-resolution
    // histogram rather than a bespoke KLL: a histogram IS quantile
    // state at bin-width resolution, its merge is the countMaintain
    // re-sum — elementwise, exactly-once under retry — and unlike a
    // randomized sketch it stays engine-exact, so the row keeps the
    // registry's every-query-exact-oracled invariant). The lineitem
    // table replays as two order-disjoint halves; each micro-batch
    // bins its rows and merges |bins| partial counts. The ORACLE IS
    // x_histogram's VERBATIM: any maintained-count drift goes
    // hash-red. At 100 TB each shard pays one map-side bin pass and a
    // 20-row merge — the distribution statistic never rescans history.
    "x_histogram_maintained" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val mid = li.agg(max("l_orderkey")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "histo", d,
        graft.etl.Tables.schemas("lineitem"), "li",
        li.filter(col("l_orderkey") < mid),
        li.filter(col("l_orderkey") >= mid))
      val statePath = new java.io.File(base, "histo").getPath
      val q = graft.streaming.Streams.countMaintain(stream, "bin",
        statePath)(b => b.select(
          least(greatest(floor(col("l_extendedprice") / lit(6000.0)),
            lit(0)), lit(19)).cast("long").as("bin")))
      require(q.awaitTermination(600000),
        "histogram maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the merge path is untested")
      graft.streaming.Streams.readGenMaintained(s, statePath)
        .select(col("bin"), col("cnt").as("n"))
        .orderBy("bin")
    }),

    // Per-group mode with DETERMINISTIC tie-break (highest count, then
    // smallest value) — mode() builtins leave ties unspecified, useless
    // for reproducible pipelines. Two-phase: the first aggregation
    // collapses rows to (group, value) counts — bounded by the value
    // domain, partial-agg'd map-side — and the rank window runs over
    // those count rows only, partitioned by group. The raw table never
    // sees a window.
    "x_mode" -> ((s, d) => {
      val cnt = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("l_returnflag")
        .orderBy(desc("n"), asc("l_quantity"))
      cnt.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("n"))
        .orderBy("l_returnflag")
    }),

    // Pearson correlation + population covariance per group — NOT
    // corr()/covar_pop() builtins: their streaming double accumulation
    // is aggregation-order-dependent (not reproducible across engines,
    // or even across partition layouts at 100 TB). Instead the five
    // moment sums (Σx Σy Σxy Σx² Σy²) accumulate as EXACT decimals —
    // associative, so partial aggregation commutes — and the final
    // corr/cov arithmetic runs once per group in IEEE doubles with an
    // identical expression tree on both engines. Rounded to a grid that
    // absorbs the decimal→double cast's last-ulp ambiguity.
    "x_corr" -> ((s, d) => corrOf(corrMoments(t(s, d, "lineitem")))),

    // Kaplan-Meier survival — time-to-event with RIGHT-CENSORING, the
    // statistical family none of the moment/rank tests cover: duration
    // = signup → first HIGH-VALUE purchase (value ≥ 150, the
    // conversion event; ~55% of users never convert and are
    // administratively censored at the observation end, so the naive
    // "average days to convert" is biased and KM is the correct
    // estimator). S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) evaluated as
    // exp(Σ ln(1 − dᵢ/nᵢ)) with each ln term IEEE-rounded to the
    // 1e-6 grid and summed EXACTLY in decimal (the dsum4 discipline in
    // a window), so the cumulative product is aggregation-order-free;
    // the d=n full-extinction row forces S=0 via a flag instead of
    // feeding ln(0) into the grid. Scale shape: per-user reduction is
    // two partial-agg'd hash aggs + one broadcast-scalar attach; the
    // KM table itself is |distinct durations| rows — bounded by the
    // observation span in DAYS, not by users — so the unpartitioned
    // windows run on a constant-size frame at any corpus scale.
    "x_survival" -> ((s, d) => {
      val ev = t(s, d, "events")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t0"))
      val pu = ev.filter(col("event_type") === "purchase" &&
          col("value") >= 150.0)
        .join(su, "user_id")
        .filter(col("ts") >= col("t0"))
        .groupBy("user_id").agg(min("ts").as("t1"))
      val end = ev.agg(max("ts").as("obs_end"))
      val durs = su.join(pu, Seq("user_id"), "left")
        .crossJoin(broadcast(end))
        .select(
          datediff(to_date(coalesce(col("t1"), col("obs_end"))),
            to_date(col("t0"))).as("duration_days"),
          col("t1").isNotNull.cast("long").as("ev"))
      val byT = durs.groupBy("duration_days")
        .agg(count(lit(1)).as("n_total"), sum("ev").as("n_events"))
      val risk = Window.orderBy("duration_days")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val cum = Window.orderBy("duration_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = col("n_events").cast("double")
      val nd = col("n_risk").cast("double")
      val term = when(col("n_events") > 0 &&
          col("n_events") < col("n_risk"),
        roundf(log(lit(1.0) - dd / nd), 6)).otherwise(lit(0.0))
      byT.withColumn("n_risk", sum("n_total").over(risk))
        .withColumn("__t", term.cast("decimal(22,6)"))
        .withColumn("__dead",
          max((col("n_events") === col("n_risk")).cast("int")).over(cum))
        .select(col("duration_days"), col("n_risk"), col("n_events"),
          (col("n_total") - col("n_events")).as("n_censored"),
          when(col("__dead") === 1, lit(0.0))
            .otherwise(roundf(
              exp(sum(col("__t")).over(cum).cast("double")), 4))
            .as("survival"))
        .orderBy("duration_days")
    }),

    // x_corr with the moments table MAINTAINED by the streaming re-sum
    // sink over a 2-batch lineitem replay (the x_linreg_maintained
    // shape): the five sufficient statistics are decimal-exact and
    // additive, so per-batch partials merge to the corpus truth
    // EXACTLY; correlating reads the |groups|-row state parquet — the
    // fact table is never rescanned. Oracle = x_corr's VERBATIM: a
    // lost batch, a double merge, or sum-width drift moves r and goes
    // hash-red.
    "x_corr_maintained" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val mid = li.agg(max("l_orderkey")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "corr_mom", d,
        graft.etl.Tables.schemas("lineitem"), "li",
        li.filter(col("l_orderkey") < mid),
        li.filter(col("l_orderkey") >= mid))
      val mPath = new java.io.File(base, "moments").getPath
      val q = graft.streaming.Streams.sumsMaintain(stream,
        Seq("l_returnflag"), Seq("n", "sx", "sy", "sxy", "sxx", "syy"),
        mPath)(corrMoments)
      require(q.awaitTermination(600000),
        "moments maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the re-sum merge is " +
          "untested")
      corrOf(graft.streaming.Streams.readGenMaintained(s, mPath))
    }),

    // Exact interpolated percentiles per group (both engines implement
    // the same (1-d)·a + d·b continuous quantile).
    "x_percentile" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          roundf(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          roundf(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
          count("*").as("n"))
        .orderBy("l_returnflag")
    }),

    // Daily event-mix concentration: the Herfindahl–Hirschman index
    // HHI = Σ (cᵢ/T)² = Σcᵢ²/T² per day over event_type shares, plus
    // the effective category count 1/HHI — the drift statistic a
    // pipeline watches for a collapsing source mix, chosen over
    // Shannon entropy DELIBERATELY: entropy needs log (a libm
    // transcendental the oracle convention bans — t_tfidf's precedent)
    // while HHI is exact integer arithmetic up to one final division.
    // A uniform 5-type day reads 0.2 / 5.0; a day where one type
    // swallows the mix drifts toward 1.0 / 1.0.
    "x_hhi" -> ((s, d) => {
      val daily = t(s, d, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("c"))
      daily.groupBy("day")
        .agg(sum("c").as("t"), sum(col("c") * col("c")).as("s2"),
          count(lit(1)).as("n_types"))
        .select(col("day"), col("t").as("total"), col("n_types"),
          roundf(col("s2").cast("double") /
            (col("t") * col("t")).cast("double"), 6).as("hhi"),
          roundf((col("t") * col("t")).cast("double") /
            col("s2").cast("double"), 4).as("eff_types"))
        .orderBy("day")
    }),

    // Tukey IQR-fence outlier census per group — the standard
    // distribution-profiling gate (flag rows beyond Q1/Q3 ± 1.5·IQR)
    // every load pipeline runs before training-data acceptance. The
    // fences derive from the same exact interpolated percentile both
    // engines implement identically (the x_percentile parity), fence
    // arithmetic is fixed-order IEEE, and the census is one
    // conditional-count pass against the broadcast 3-row fence table —
    // scan-bound, no sort beyond the percentile's own.
    "x_outlier_iqr" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val q = li.groupBy("l_returnflag")
        .agg(expr("percentile(l_extendedprice, 0.25)").as("q1"),
          expr("percentile(l_extendedprice, 0.75)").as("q3"))
        .select(col("l_returnflag"),
          (col("q1") - (col("q3") - col("q1")) * 1.5).as("lo"),
          (col("q3") + (col("q3") - col("q1")) * 1.5).as("hi"))
      li.join(broadcast(q), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum((col("l_extendedprice") < col("lo") ||
            col("l_extendedprice") > col("hi")).cast("long"))
            .as("n_outliers"),
          roundf(min(col("lo")), 4).as("fence_lo"),
          roundf(min(col("hi")), 4).as("fence_hi"))
        .orderBy("l_returnflag")
    }),

    // Approximate percentile — the 100 TB form of x_percentile (KLL/GK
    // sketch, bounded memory, single pass; exact percentile must
    // materialize sorted groups). Like a3_approx, the sketch value is
    // engine-specific, so the hash-checked output is the GUARANTEE:
    // approx_percentile(q, acc=100) promises it returns an ELEMENT whose
    // RANK is within ±1%·n of the target — so the check is on ranks, not
    // values: the estimate's occupied rank interval [#(x<ap)+1, #(x≤ap)]
    // must intersect [0.49n − 1, 0.51n + 1] (the documented ±1%·n
    // guarantee plus ONE element of ⌈pn⌉-vs-⌊pn⌋ target-rank ambiguity —
    // not a whole extra percent, which would let a 2%-rank-error sketch
    // regression slip through). Pure integer comparisons — no
    // interpolated-value bound that heavy ties happen to satisfy but a
    // boundary-rank element could legitimately violate. A sketch
    // regression still flips the boolean → hash-red.
    "x_approx_pctile" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val ap = li.groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_quantity, 0.5, 100)").as("ap"),
          roundf(expr("percentile(l_quantity, 0.5)"), 4).as("p50_exact"),
          count("*").as("n"))
      // rank of the estimate within its group: one conditional-count agg
      // against the (3-row) broadcast estimate table — scan-bound, no sort
      li.join(broadcast(ap), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
          sum((col("l_quantity") < col("ap")).cast("long")).as("n_lt"),
          sum((col("l_quantity") <= col("ap")).cast("long")).as("n_le"),
          first(col("p50_exact")).as("p50_exact"),
          first(col("n")).as("n"))
        .select(col("l_returnflag"),
          ((col("n_lt") + 1) * 100 <= col("n") * 51 + 100 &&
            col("n_le") * 100 >= col("n") * 49 - 100).as("within_bound"),
          col("p50_exact"), col("n"))
        .orderBy("l_returnflag")
    }),

    // x_approx_pctile with the quantile state MAINTAINED BY THE
    // STREAMING SINK — the last sketch without a maintenance row
    // (counts/HH/CM all have one; distributions did not). A per-key
    // KLL/MRL sketch (graft.functions.QuantileSketch) accumulates
    // across a 2-batch lineitem replay through Streams.quantileMaintain
    // (generation commit + exactly-once marker, the merge-sink
    // discipline); the registered plan then SCANS the maintained parquet (a
    // |keys|-row typed map — PlanAuditSpec pins the scan), extracts
    // each key's median estimate and its SELF-ACCOUNTED deterministic
    // bound B = err + maxWeight + 1 (err sums 2^level over every
    // compaction across any merge tree — a theorem, not a probability),
    // and verdict-checks the estimate's exact rank interval against
    // target ± B over the full table: 2·(n_lt+1) ≤ n + 2B and
    // 2·n_le ≥ n − 2B (doubling keeps p=0.5 integer-exact). A sketch
    // or maintenance regression widens the true rank error past its
    // own carried bound → boolean flips → hash-red. At 100 TB the
    // maintenance step is O(|keys| · k·levels) scalars per batch —
    // per-key distribution monitoring that never rescans history.
    "x_pctile_maintained" -> ((s, d) => {
      import graft.functions.{QSketch, QuantileSketch}
      val li = t(s, d, "lineitem")
      val mid = li.agg(max("l_orderkey")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "pctile", d,
        graft.etl.Tables.schemas("lineitem"), "li",
        li.filter(col("l_orderkey") < mid),
        li.filter(col("l_orderkey") >= mid))
      val statePath = new java.io.File(base, "qsk").getPath
      val q = graft.streaming.Streams.quantileMaintain(stream,
        "l_returnflag", "l_quantity", statePath, 1024)
      require(q.awaitTermination(600000),
        "quantile maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the merge path is untested")
      import s.implicits._
      // estimates derive IN-PLAN from the maintained artifact: a typed
      // map over the |keys|-row state scan (never a driver collect)
      val est = graft.streaming.Streams
        .readGenMaintained(s, statePath)
        .select("key", "qs").as[(String, QSketch)]
        .map { case (key, qs) =>
          (key, QuantileSketch.quantile(qs, 0.5),
            QuantileSketch.rankErrorBound(qs))
        }
        .toDF("l_returnflag", "ap", "b")
      li.join(broadcast(est), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
          sum((col("l_quantity") < col("ap")).cast("long")).as("n_lt"),
          sum((col("l_quantity") <= col("ap")).cast("long")).as("n_le"),
          roundf(expr("percentile(l_quantity, 0.5)"), 4).as("p50_exact"),
          count(lit(1)).as("n"),
          first(col("b")).as("b"))
        .select(col("l_returnflag"),
          ((col("n_lt") + 1) * 2 <= col("n") + col("b") * 2 &&
            col("n_le") * 2 >= col("n") - col("b") * 2)
            .as("within_bound"),
          col("p50_exact"), col("n"))
        .orderBy("l_returnflag")
    }),

    // The SECOND maintained distribution summary — t-digest centroids
    // (Dunning & Ertl) next to x_pctile_maintained's KLL (ROADMAP r13
    // #1): same 2-batch replay discipline, same verdict pattern,
    // different accuracy contract. KLL carries a worst-case
    // self-accounted rank-error theorem; the t-digest carries
    // δ-bounded centroid counts with relative (tail) accuracy, and its
    // deterministic check is the min/max rank BRACKET each centroid's
    // exact lo/hi bookkeeping provides: the median estimate's true
    // rank must sit within target ± (straddle weight + max cluster
    // weight + 1). Over events.value (continuous, so the straddle
    // stays sharp — heavy ties would widen it honestly) a scrambled
    // merge, drifted means, or broken min/max bookkeeping flips the
    // boolean → hash-red. TDigestSpec runs the rank-error-per-byte
    // head-to-head against KLL on the same replay.
    "x_tdigest_maintained" -> ((s, d) => {
      import graft.functions.{TDig, TDigest}
      val ev = t(s, d, "events")
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val (base, stream) = Replay.twoBatchStream(s, "tdig", d,
        graft.etl.Tables.events, "ev",
        ev.filter(unix_micros(col("ts")) < lit(cut)),
        ev.filter(unix_micros(col("ts")) >= lit(cut)))
      val statePath = new java.io.File(base, "td").getPath
      val q = graft.streaming.Streams.tdigestMaintain(stream,
        "event_type", "value", statePath, 200)
      require(q.awaitTermination(600000),
        "t-digest maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the merge path is untested")
      import s.implicits._
      // generation-layout read: resolve the pointer, scan that gen only
      val est = graft.streaming.Streams.readGenMaintained(s, statePath)
        .select("key", "td").as[(String, TDig)]
        .map { case (key, td) =>
          val e = TDigest.quantile(td, 0.5)
          (key, e, TDigest.rankErrorBound(td, e))
        }
        .toDF("event_type", "ap", "b")
      ev.join(broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
          sum((col("value") < col("ap")).cast("long")).as("n_lt"),
          sum((col("value") <= col("ap")).cast("long")).as("n_le"),
          roundf(expr("percentile(value, 0.5)"), 4).as("p50_exact"),
          count(lit(1)).as("n"),
          first(col("b")).as("b"))
        .select(col("event_type"),
          ((col("n_lt") + 1) * 2 <= col("n") + col("b") * 2 &&
            col("n_le") * 2 >= col("n") - col("b") * 2)
            .as("within_bound"),
          col("p50_exact"), col("n"))
        .orderBy("event_type")
    }),

    // Maintained quantiles under DELETIONS — the signed form of
    // x_tdigest_maintained: deletions cannot flow through centroids
    // (means are lossy), so the sink keeps a PAIRED delete digest per
    // key and the median derives from the NET rank function at read
    // time (ins rank − del rank, bracketed by the two per-side
    // straddle theorems — TDigest.netQuantile). Batch 2 deletes 20%
    // of batch-1 rows (event_id % 5, original values verbatim — the
    // CDC multiset-subset contract), so the net median genuinely
    // moves; the verdict checks the estimate's exact rank over the
    // NET rows against target ± the paired bound, and the oracle
    // recomputes the exact net median — a lost delete digest, a
    // drifted merge, or a broken subtraction flips the boolean.
    "x_tdigest_deletes" -> ((s, d) => {
      import graft.functions.{TDig, TDigest}
      val ev = t(s, d, "events")
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val firstHalf = unix_micros(col("ts")) < lit(cut)
      val b1 = ev.filter(firstHalf).withColumn("sign", lit(1))
      val b2 = ev.filter(unix_micros(col("ts")) >= lit(cut))
        .withColumn("sign", lit(1))
        .unionByName(ev.filter(firstHalf && col("event_id") % 5 === 0)
          .withColumn("sign", lit(-1)))
      val (base, stream) = Replay.twoBatchStream(s, "tdig_del", d,
        graft.etl.Tables.events.add("sign", "int"), "ev", b1, b2)
      val statePath = new java.io.File(base, "tds").getPath
      val q = graft.streaming.Streams.tdigestSignedMaintain(stream,
        "event_type", "value", statePath, 200)
      require(q.awaitTermination(600000),
        "signed t-digest maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the delete-digest " +
          "path is untested")
      import s.implicits._
      val est = graft.streaming.Streams.readGenMaintained(s, statePath)
        .select("key", "ti", "td").as[(String, TDig, TDig)]
        .map { case (key, ti, td) =>
          require(td.n > 0,
            "fixture must exercise the delete digest")
          val (e, b) = TDigest.netQuantile(ti, td, 0.5)
          (key, e, b)
        }
        .toDF("event_type", "ap", "b")
      val net = ev.filter(!(firstHalf && col("event_id") % 5 === 0))
      net.join(broadcast(est), "event_type")
        .groupBy("event_type")
        .agg(
          sum((col("value") < col("ap")).cast("long")).as("n_lt"),
          sum((col("value") <= col("ap")).cast("long")).as("n_le"),
          roundf(expr("percentile(value, 0.5)"), 4).as("p50_exact"),
          count(lit(1)).as("n"),
          first(col("b")).as("b"))
        .select(col("event_type"),
          ((col("n_lt") + 1) * 2 <= col("n") + col("b") * 2 &&
            col("n_le") * 2 >= col("n") - col("b") * 2)
            .as("within_bound"),
          col("p50_exact"), col("n"))
        .orderBy("event_type")
    }),

    // a3_approx with the DISTINCT-CARDINALITY state MAINTAINED BY THE
    // STREAMING SINK — the statistic countMaintain cannot express
    // (distinct counts are not additive: a customer ordering in both
    // replay halves must count ONCE, so the cross-batch merge is the
    // HLL UNION of two KB blobs, never a re-sum). Streams.hllMaintain
    // unions a Datasketches sketch across the 2-batch orders replay
    // through the merge-sink discipline; the estimate derives in-plan
    // from the maintained state scan and verdict-checks against the
    // exact recompute at the a3_approx bound. With this row every
    // summary statistic a 100 TB pipeline monitors continuously —
    // counts, frequent items, point frequencies, distributions, and
    // now distinct cardinality — has a maintained, exactly-once,
    // oracle-checked form.
    "x_hll_maintained" -> ((s, d) => {
      val o = t(s, d, "orders")
      val mid = o.agg(max("o_orderkey")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "hll", d,
        graft.etl.Tables.schemas("orders"), "ord",
        o.filter(col("o_orderkey") < mid),
        o.filter(col("o_orderkey") >= mid))
      val statePath = new java.io.File(base, "hll").getPath
      val q = graft.streaming.Streams.hllMaintain(stream, "o_custkey",
        statePath)
      require(q.awaitTermination(600000),
        "HLL maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the union path is untested")
      val est = graft.streaming.Streams.readGenMaintained(s, statePath)
        .select(hll_sketch_estimate(col("hll")).as("approx"),
          col("n").as("n_seen"))
      o.agg(countDistinct(col("o_custkey")).as("exact_custs"),
          count("*").as("n"))
        .crossJoin(broadcast(est))
        .select(
          (abs(col("approx") - col("exact_custs")).cast("double") /
            col("exact_custs") <= 0.05 &&
            col("n_seen") === col("n")).as("within_bound"),
          col("exact_custs"), col("n"))
    }),

    // PER-KEY distinct cardinality MAINTAINED — the GROUP BY form of
    // x_hll_maintained (distinct users per event type, the per-segment
    // monitoring statistic): a (key → HLL, n) table merged by per-key
    // UNION through a full-outer join across the 2-batch time-split
    // replay, published through the GENERATION layout (second adopter).
    // The time split guarantees cross-batch user overlap within every
    // event type, so a re-sum regression (double-counting repeats)
    // breaks the 5% verdict immediately. Estimates derive in-plan from
    // the maintained state scan; the exact per-key recompute is the
    // oracle truth.
    "x_hll_bykey" -> ((s, d) => {
      val ev = t(s, d, "events")
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val (base, stream) = Replay.twoBatchStream(s, "hll_bykey", d,
        graft.etl.Tables.events, "ev",
        ev.filter(unix_micros(col("ts")) < lit(cut)),
        ev.filter(unix_micros(col("ts")) >= lit(cut)))
      val statePath = new java.io.File(base, "hk").getPath
      val q = graft.streaming.Streams.hllByKeyMaintain(stream,
        "event_type", "user_id", statePath)
      require(q.awaitTermination(600000),
        "per-key HLL maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the union path is untested")
      val est = graft.streaming.Streams.readGenMaintained(s, statePath)
        .select(col("key").as("event_type"),
          hll_sketch_estimate(col("hll")).as("approx"),
          col("n").as("n_seen"))
      ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .join(broadcast(est), "event_type")
        .select(col("event_type"),
          (abs(col("approx") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05 &&
            col("n_seen") === col("n")).as("within_bound"),
          col("exact_users"), col("n"))
        .orderBy("event_type")
    }),

    // SECOND-TICK per-key HLL maintenance — the FOURTH (and final)
    // state shape of the two-commit pattern, completing the taxonomy:
    // relaxation state (g_sssp_incr2), disjoint-union index + additive
    // stats (t_bm25_incr2), pure append index (d_index_incr2), and
    // here a NON-ADDITIVE sketch merge — distinct counts cannot be
    // re-summed, so the cross-tick merge is the per-key HLL UNION of
    // KB blobs through a full-outer join, never arithmetic. Each tick
    // reuses Streams.hllByKeyBatch — the SAME marker-guarded
    // merge the streaming sink runs — so a replayed tick is a no-op
    // (batch marker), a raced publisher fails loudly, and state per
    // generation is |keys| KB-sized rows whatever the event volume.
    // Cold build folds the first time-half and commits gen=0; tick 1
    // folds [50%, 75%) onto the COMMITTED gen=0 and commits gen=1;
    // tick 2 unions the newest quarter in memory and verdict-checks
    // the estimate against the exact recompute. The time splits
    // guarantee cross-tick user overlap within every event type, so a
    // re-sum regression (double-counting repeat users) breaks the 5%
    // verdict immediately. x_hll_bykey's oracle VERBATIM, cold and
    // warm.
    "x_hll_incr2" -> ((s, d) => {
      val ev = t(s, d, "events")
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val cut1 = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val cut2 = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 3 / 4
      val st = graft.streaming.Streams
      val (statePath, _) = Replay.maintainedGen("hll_incr2", d,
        s"$cut1-$cut2-g1")
      // both ticks are replay-idempotent via the in-state batch marker
      st.hllByKeyBatch(ev.filter(unix_micros(col("ts")) < lit(cut1)),
        "event_type", "user_id", statePath, 12, 0L)
      st.hllByKeyBatch(ev.filter(unix_micros(col("ts")) >= lit(cut1) &&
          unix_micros(col("ts")) < lit(cut2)),
        "event_type", "user_id", statePath, 12, 1L)
      // tick 2 — the query tick, every run: newest quarter in memory,
      // non-additive union with the committed generation
      val part2 = ev.filter(unix_micros(col("ts")) >= lit(cut2))
        .groupBy(col("event_type").cast("string").as("key"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("bh"),
          count(lit(1)).as("bn"))
      val est = graft.streaming.Streams.readGenMaintained(s, statePath)
        .select(col("key"), col("hll").as("ph"), col("n").as("pn"))
        .join(part2, Seq("key"), "full_outer")
        .select(col("key").as("event_type"),
          hll_sketch_estimate(
            when(col("ph").isNull, col("bh"))
              .when(col("bh").isNull, col("ph"))
              .otherwise(hll_union(col("ph"), col("bh")))).as("approx"),
          (coalesce(col("pn"), lit(0L)) + coalesce(col("bn"), lit(0L)))
            .as("n_seen"))
      ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .join(broadcast(est), "event_type")
        .select(col("event_type"),
          (abs(col("approx") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05 &&
            col("n_seen") === col("n")).as("within_bound"),
          col("exact_users"), col("n"))
        .orderBy("event_type")
    }),

    // Deterministic 7% hash sample: reproducible across runs, engines,
    // and partitionings; the filter pushes to the scan output (no
    // shuffle, no seed state).
    "x_sample" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(portableHash(concat(col("l_orderkey").cast("string"),
          lit(":"), col("l_linenumber").cast("string"))) % 100 < 7)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Deterministic train/val/test split assignment (96/2/2 by salted
    // hash): every document lands in exactly one split, identically on
    // re-run, across engines, and regardless of partitioning — the
    // property `randomSplit` cannot give an auditable training
    // pipeline. The salt ("split:") decouples this hash use from every
    // other portableHash site so adding a new hash-based op never
    // reshuffles the split. Output is the per-split census (the
    // assignment itself is the pushed filter; the census proves the
    // distribution and the disjoint-and-total property in one query).
    "x_split" -> ((s, d) => {
      val bucket =
        portableHash(concat(lit("split:"), col("doc_id").cast("string"))) % 100
      t(s, d, "documents")
        .select(when(bucket < 96, "train")
          .when(bucket < 98, "val")
          .otherwise("test").as("split"))
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")
    }),

    // Column profiling (the ANALYZE TABLE shape): one aggregation pass
    // emits per-column null counts, distinct counts, and min/max — the
    // stats every load pipeline collects before planning/quality gates.
    // ONE agg job for all four columns (Catalyst's expand handles the
    // multiple DISTINCTs); long-format output via a literal struct-array
    // explode, so adding a column is one more struct, not another scan.
    // At 100 TB swap countDistinct for approx_count_distinct and verify
    // with the a3_approx bound-check pattern; exact here keeps the
    // cross-engine hash simple.
    "x_profile" -> ((s, d) => {
      val o = t(s, d, "orders")
      val numCols = Seq("o_custkey", "o_totalprice")
      val strCols = Seq("o_orderstatus", "o_orderpriority")
      val aggs = Seq(count(lit(1)).as("n")) ++
        (numCols ++ strCols).flatMap { c =>
          Seq(sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
            countDistinct(col(c)).as(s"${c}__nd"))
        } ++
        numCols.flatMap { c =>
          Seq(min(col(c)).cast("double").as(s"${c}__min"),
            max(col(c)).cast("double").as(s"${c}__max"))
        } ++
        strCols.flatMap { c =>
          Seq(min(col(c)).as(s"${c}__smin"), max(col(c)).as(s"${c}__smax"))
        }
      val profiled = o.agg(aggs.head, aggs.tail: _*)
      val rows = numCols.map { c =>
        struct(lit(c).as("col_name"), col("n"),
          col(s"${c}__nulls").as("n_null"), col(s"${c}__nd").as("n_distinct"),
          col(s"${c}__min").as("min_num"), col(s"${c}__max").as("max_num"),
          lit(null).cast("string").as("min_str"),
          lit(null).cast("string").as("max_str"))
      } ++ strCols.map { c =>
        struct(lit(c).as("col_name"), col("n"),
          col(s"${c}__nulls").as("n_null"), col(s"${c}__nd").as("n_distinct"),
          lit(null).cast("double").as("min_num"),
          lit(null).cast("double").as("max_num"),
          col(s"${c}__smin").as("min_str"), col(s"${c}__smax").as("max_str"))
      }
      profiled.select(explode(array(rows: _*)).as("p"))
        .select("p.*")
        .orderBy("col_name")
    }),

    // Temperature / mixture resampling — the data-MIXING op of a
    // training pipeline: each source domain gets a fractional rate
    // (upsample high-quality sources above 1×, downsample noisy ones
    // below), and every document is emitted floor(rate) times plus one
    // extra copy with probability frac(rate), decided by a
    // deterministic salted per-document hash. Expected multiplicity
    // equals the rate EXACTLY, re-runs and engines agree row-for-row
    // (unlike rand()-based resampling), and the arithmetic is ALL
    // INTEGER — rates are tenths (num/10, num = 3 + 7·srcIdx mod 35 ∈
    // [3, 37] ⇒ 0.3×–3.7× spread) — so no pow/log ever enters the
    // oracle comparison (the reason this op is registered instead of an
    // Efraimidis–Spirakis key sampler: u^(1/w) is transcendental and
    // cross-engine FP-fragile). Scale shape: a pushed 2-column
    // projection, per-row integer hash, and a generator explode whose
    // blowup is bounded by max rate — no shuffle but the output order.
    "x_resample" -> ((s, d) => {
      val srcIdx = regexp_extract(col("source"), "\\d+", 0).cast("int")
      val num = lit(3) + (srcIdx * 7) % 35
      val frac = portableHash(
        concat(lit("rs:"), col("doc_id").cast("string"))) % 10
      t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          // floor(num/10) is exact in double for num <= 37; Spark's
          // int `/` would widen to double anyway, so floor it explicitly
          (floor(num.cast("double") / lit(10.0)).cast("int") +
            when(frac < num % 10, 1).otherwise(0)).as("copies"))
        .filter(col("copies") > 0)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(1L), col("copies").cast("long")))
            .as("copy"))
        .orderBy("doc_id", "copy")
    }),

    // Deterministic global corpus shuffle — the permutation step every
    // training pipeline runs before sequence packing. Canonical order =
    // (shard, hash, doc_id) with shard = hash mod |shards|: a uniform
    // reproducible permutation (salted hash, so re-runs, engines, and
    // partitionings agree position-for-position — `orderBy(rand())`
    // gives none of that). The GLOBAL position is assigned WITHOUT a
    // global sort: per-shard rank windows (|shards|-way parallel) plus
    // a broadcast |shards|-scalar shard-offset cumsum — the t_chunkpack
    // two-phase discipline, so driver state is |shards| longs. The
    // fanout is DERIVED from the input layout (shuffleShards — floor 64,
    // growing with the corpus's file count), not a literal: a fixed
    // 64 would cap the permutation at 64 sort tasks forever, ~1.6 TB
    // per task at the 100 TB design point. At test scale the
    // single-file fixture resolves to the floor 64 — the constant the
    // oracle mirrors. The output orderBy exists only for the hash
    // compare.
    "x_shuffle" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docsIn = t(s, d, "documents")
      val shards = shuffleShards(docsIn)
      val hk = portableHash(
        concat(lit("shuf:"), col("doc_id").cast("string")))
      val docs = docsIn
        .select(col("doc_id"), hk.as("hk"),
          pmod(hk, lit(shards)).as("shard"))
      val w = Window.partitionBy("shard").orderBy("hk", "doc_id")
      val local = docs.withColumn("rk", row_number().over(w))
      val counts = docs.groupBy("shard").agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
        .sortBy(_._1)
      var acc = 0L
      val bases = counts.map { case (sh, n) =>
        val b = acc; acc += n; (sh, b)
      }.toSeq
      val baseDf = s.createDataFrame(bases).toDF("shard", "base")
      local.join(broadcast(baseDf), "shard")
        .select(col("doc_id"), col("shard"),
          (col("base") + col("rk")).as("pos"))
        .orderBy("pos")
    }),

    // Exact-k-per-group deterministic sample: rank rows inside each
    // stratum by their portable hash (a uniform, seed-free order) and
    // keep the first 10 — train/eval splits need EXACT sizes, which
    // fraction-based sampling can't give, and the hash order makes the
    // chosen set identical across runs, engines, and partitionings
    // (df.sample/sampleBy are partition-layout-dependent). One window
    // shuffle on the stratum key.
    "x_topk_sample" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hk = portableHash(concat(col("vec_id").cast("string"),
        lit("|"), col("label").cast("string")))
      val w = Window.partitionBy("label").orderBy(hk.asc, col("vec_id").asc)
      t(s, d, "embeddings")
        .select(col("vec_id"), col("label"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 10)
        .orderBy("label", "rn")
    }),

    // Stratified sampling: a DIFFERENT deterministic fraction per stratum
    // (label ℓ keeps (ℓ+1)/20) — the reproducible-on-re-run equivalent of
    // df.stat.sampleBy, whose seed depends on partition layout and is
    // useless for auditable pipelines. Same pushed-filter shape as
    // x_sample: no shuffle, no extra pass; the per-stratum fraction is a
    // pure function of the row, so executors need no shared state.
    "x_stratified" -> ((s, d) => {
      t(s, d, "embeddings")
        .filter(pmod(portableHash(concat(col("vec_id").cast("string"),
          lit("|"), col("label").cast("string"))), lit(1000)) <
          (col("label") + 1) * 50)
        .select("vec_id", "label")
        .orderBy("vec_id")
    }))

  private val histogramSql: String =
    """SELECT CAST(least(greatest(floor(l_extendedprice / 6000.0), 0),
             19) AS BIGINT) AS bin, COUNT(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY bin"""

  /** Shared by x_mannwhitney and x_mw_maintained (the maintained
    * frequency table must reproduce the one-shot statistic exactly). */
  private lazy val mwSql: String =
    """WITH freq AS (
         SELECT event_type,
           CAST(floor(value * 10000.0 + 0.5) / 10000.0
             AS DECIMAL(18,4)) AS v,
           COUNT(*) AS nv,
           SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na_v
         FROM events GROUP BY 1, 2),
       ranked AS (
         SELECT event_type, nv, na_v,
           COALESCE(SUM(nv) OVER (PARTITION BY event_type ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS lt
         FROM freq),
       folded AS (
         SELECT event_type,
           CAST(SUM(na_v) AS BIGINT) AS n1,
           CAST(SUM(nv - na_v) AS BIGINT) AS n2,
           CAST(SUM(na_v * (2 * lt + nv + 1)) AS BIGINT) AS r2sum
         FROM ranked GROUP BY 1)
       SELECT event_type, n1, n2,
         r2sum - n1 * (n1 + 1) AS u2,
         floor((r2sum - n1 * (n1 + 1))::DOUBLE /
           (2.0 * n1::DOUBLE * n2::DOUBLE) * 1000000.0 + 0.5)
           / 1000000.0 AS auc
       FROM folded ORDER BY event_type"""

  private lazy val ssspSql: String =
    s"""WITH RECURSIVE act AS (
           SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
           FROM events),
         pairs AS (
           SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
           FROM act a JOIN act b USING (h)
           WHERE a.user_id < b.user_id
           GROUP BY 1, 2 HAVING COUNT(*) >= $KcoreW),
         edges AS (SELECT u, v FROM pairs
                   UNION ALL SELECT v, u FROM pairs),
         marks AS (SELECT u FROM (SELECT DISTINCT u FROM edges)
                   ORDER BY u LIMIT $SsspLandmarks),
         bfs (lm, u, dist) AS (
           SELECT u, u, 0 FROM marks
           UNION
           SELECT b.lm, e.v, b.dist + 1
           FROM bfs b JOIN edges e ON b.u = e.u
           WHERE b.dist < ${SsspMaxRounds - 1})
         SELECT lm AS landmark, u AS user_id, MIN(dist) AS dist
         FROM bfs GROUP BY 1, 2 ORDER BY 1, 2"""

  private lazy val psiSql: String =
    """WITH mm AS (
           SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi
           FROM events),
         ev AS (
           SELECT event_type, value,
             CASE WHEN epoch_us(ts) >=
               (SELECT lo + (hi - lo) // 2 FROM mm) THEN 1 ELSE 0 END
               AS late
           FROM events),
         cuts AS (
           SELECT event_type,
             [floor(q * 10000.0 + 0.5) / 10000.0 for q in
               quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                 0.6, 0.7, 0.8, 0.9])] AS qs
           FROM ev WHERE late = 0 GROUP BY 1),
         b AS (
           SELECT e.event_type, e.late,
             len([q for q in c.qs if e.value > q]) AS bucket
           FROM ev e JOIN cuts c USING (event_type)),
         counts AS (
           SELECT event_type, late, bucket, COUNT(*) AS c
           FROM b GROUP BY 1, 2, 3),
         tot AS (
           SELECT event_type, late, COUNT(*) AS n FROM ev GROUP BY 1, 2),
         spine AS (
           SELECT event_type, bk AS bucket
           FROM (SELECT DISTINCT event_type FROM ev),
             (SELECT unnest(range(0, 10)) AS bk)),
         sm AS (
           SELECT s.event_type, s.bucket,
             (COALESCE(r.c, 0) + 0.5) / (tr.n + 5.0) AS p,
             (COALESCE(cu.c, 0) + 0.5) / (tc.n + 5.0) AS q
           FROM spine s
           JOIN tot tr ON tr.event_type = s.event_type AND tr.late = 0
           JOIN tot tc ON tc.event_type = s.event_type AND tc.late = 1
           LEFT JOIN counts r ON r.event_type = s.event_type
             AND r.late = 0 AND r.bucket = s.bucket
           LEFT JOIN counts cu ON cu.event_type = s.event_type
             AND cu.late = 1 AND cu.bucket = s.bucket),
         terms AS (
           SELECT event_type,
             CAST(floor((p - q) * ln(p / q) * 1000000.0 + 0.5)
               / 1000000.0 AS DECIMAL(22,6)) AS term
           FROM sm),
         agg AS (
           SELECT event_type, CAST(SUM(term) AS DOUBLE) AS psi0
           FROM terms GROUP BY 1)
         SELECT event_type,
           floor(psi0 * 1000000.0 + 0.5) / 1000000.0 AS psi,
           CASE WHEN psi0 >= 0.2 THEN 'major'
             WHEN psi0 >= 0.1 THEN 'moderate'
             ELSE 'stable' END AS verdict
         FROM agg ORDER BY event_type"""

  private lazy val corrSql: String =
    """WITH m AS (
           SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
               * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
               * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             * 1000000.0 + 0.5) / 1000000.0 AS corr_qty_price,
           floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             * 10000.0 + 0.5) / 10000.0 AS cov_pop
         FROM m ORDER BY l_returnflag"""

  private lazy val ols2Sql: String = {
    def det3(a11: String, a12: String, a13: String,
        a21: String, a22: String, a23: String,
        a31: String, a32: String, a33: String) =
      s"($a11 * ($a22 * $a33 - $a23 * $a32) - " +
        s"$a12 * ($a21 * $a33 - $a23 * $a31) + " +
        s"$a13 * ($a21 * $a32 - $a22 * $a31))"
    val (n, s1, s2, sy) = ("n::DOUBLE", "s1::DOUBLE", "s2::DOUBLE",
      "sy::DOUBLE")
    val (s11, s22, s12) = ("s11::DOUBLE", "s22::DOUBLE", "s12::DOUBLE")
    val (s1y, s2y, syy) = ("s1y::DOUBLE", "s2y::DOUBLE", "syy::DOUBLE")
    val dd = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    val d0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
    val d1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
    val d2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
    val (b0, b1, b2) = (s"($d0 / $dd)", s"($d1 / $dd)", s"($d2 / $dd)")
    val sse = s"($syy - ($b0 * $sy + $b1 * $s1y + $b2 * $s2y))"
    val sst = s"($syy - $sy * $sy / $n)"
    s"""WITH b AS (
           SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(9,2)) AS x1,
             CAST(l_discount AS DECIMAL(5,4)) AS x2,
             CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
               + 0.5) / 10000.0 AS DECIMAL(13,4)) AS y
           FROM lineitem),
         st AS (
           SELECT l_returnflag, COUNT(*) AS n,
             SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
             SUM(CAST(x1 * x1 AS DECIMAL(38,4))) AS s11,
             SUM(CAST(x2 * x2 AS DECIMAL(38,8))) AS s22,
             SUM(CAST(x1 * x2 AS DECIMAL(38,6))) AS s12,
             SUM(CAST(x1 * y AS DECIMAL(38,6))) AS s1y,
             SUM(CAST(x2 * y AS DECIMAL(38,8))) AS s2y,
             -- widen one operand: the (13,4)² product needs DuckDB's
             -- int128 multiply path (the linregSql fix, verbatim)
             SUM(CAST(CAST(y AS DECIMAL(19,4)) * y AS DECIMAL(38,8)))
               AS syy
           FROM b GROUP BY 1)
         SELECT l_returnflag, n,
           floor($b0 * 1000000.0 + 0.5) / 1000000.0 AS b0,
           floor($b1 * 1000000.0 + 0.5) / 1000000.0 AS b1,
           floor($b2 * 1000000.0 + 0.5) / 1000000.0 AS b2,
           floor((1.0 - $sse / $sst) * 1000000.0 + 0.5) / 1000000.0
             AS r2
         FROM st ORDER BY l_returnflag"""
  }

  private lazy val linregSql: String = {
      val cov = "(n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)"
      val varx = "(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)"
      val vary = "(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)"
      s"""WITH b AS (
           SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(9,2)) AS x,
             CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
               + 0.5) / 10000.0 AS DECIMAL(13,4)) AS y
           FROM lineitem),
         st AS (
           SELECT l_returnflag, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x * y AS DECIMAL(38,6))) AS sxy,
             SUM(CAST(x * x AS DECIMAL(38,4))) AS sxx,
             -- widen one operand: DuckDB's int64 multiply path
             -- overflows on DECIMAL(13,4)² at this magnitude; the
             -- wider cast forces int128 (the product is exact either
             -- way, so the Spark side needs no change)
             SUM(CAST(CAST(y AS DECIMAL(19,4)) * y AS DECIMAL(38,8)))
               AS syy
           FROM b GROUP BY 1)
         SELECT l_returnflag, n,
           floor($cov / $varx * 1000000.0 + 0.5) / 1000000.0 AS slope,
           floor((sy::DOUBLE - $cov / $varx * sx::DOUBLE) / n::DOUBLE
             * 1000000.0 + 0.5) / 1000000.0 AS intercept,
           floor($cov * $cov / ($varx * $vary) * 1000000.0 + 0.5)
             / 1000000.0 AS r2
         FROM st ORDER BY l_returnflag"""
    }

  /** The g_modularity oracle — shared verbatim by
    * g_modularity_maintained (the CDC-maintained sums must reproduce
    * the batch fold bit-for-bit). The shared CTEs are MATERIALIZED:
    * inlined, DuckDB re-expands the pair self-join in every round and
    * fold, and spilled past 18 GB of temp disk at sf0.1; the rows are
    * unchanged. */
  private val modularityOracleSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""v$i AS (SELECT e.u, l.lab, SUM(e.w) AS wsum
         |       FROM edges e JOIN l${i - 1} l ON e.v = l.u GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT u, lab FROM (
         |         SELECT u, lab, row_number() OVER (PARTITION BY u
         |           ORDER BY wsum DESC, lab ASC) AS rn FROM v$i)
         |       WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    def fold(i: Int) =
      s"""SELECT $i AS round, c.lab AS label, c.nodes,
         |  COALESCE(w.w_in, 0) AS w_in, c.s_c,
         |  floor(((COALESCE(w.w_in, 0)::DOUBLE * wt.tw::DOUBLE)
         |      - (c.s_c::DOUBLE * c.s_c::DOUBLE))
         |    / (wt.tw::DOUBLE * wt.tw::DOUBLE)
         |    * 1000000000.0 + 0.5) / 1000000000.0 AS q_contrib
         |FROM (SELECT l.lab, COUNT(*) AS nodes,
         |        CAST(SUM(st.su) AS BIGINT) AS s_c
         |      FROM l$i l JOIN st ON l.u = st.u GROUP BY 1) c
         |LEFT JOIN (SELECT lu.lab, CAST(SUM(e.w) AS BIGINT) AS w_in
         |      FROM edges e JOIN l$i lu ON e.u = lu.u
         |      JOIN l$i lv ON e.v = lv.u AND lu.lab = lv.lab
         |      GROUP BY 1) w ON c.lab = w.lab, wt""".stripMargin
    s"""WITH act AS MATERIALIZED (
       |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
       |  FROM events),
       |pairs AS MATERIALIZED (
       |  SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
       |  FROM act a JOIN act b USING (h)
       |  WHERE a.user_id < b.user_id
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
       |edges AS MATERIALIZED (SELECT u, v, w FROM pairs
       |          UNION ALL SELECT v, u, w FROM pairs),
       |l0 AS (SELECT DISTINCT u, u AS lab FROM edges),
       |$rounds,
       |wt AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM edges),
       |st AS (SELECT u, SUM(w) AS su FROM edges GROUP BY 1)
       |${(1 to 3).map(fold).mkString("\nUNION ALL\n")}
       |ORDER BY round, label""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "x_pivot" ->
      """SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "x_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
           SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
             l_quantity AS value FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_discount' AS metric,
             l_discount AS value FROM lineitem)
         ORDER BY l_orderkey, l_linenumber, metric""",
    // x_histogram_maintained shares this oracle VERBATIM: the
    // streaming-maintained bin counts must reproduce the batch truth
    "x_histogram" -> histogramSql,
    "x_histogram_maintained" -> histogramSql,
    "x_mode" ->
      """WITH c AS (
           SELECT l_returnflag, l_quantity, COUNT(*) AS n
           FROM lineitem GROUP BY 1, 2),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY l_returnflag
             ORDER BY n DESC, l_quantity ASC) AS rn
           FROM c)
         SELECT l_returnflag, l_quantity AS mode_qty, n
         FROM r WHERE rn = 1 ORDER BY l_returnflag""",
    // The same five decimal moments; slope/intercept/r² evaluated as
    // the identical IEEE expression trees over decimal-exact operands.
    // The maintained row shares it VERBATIM — additive moments re-sum
    // to the one-pass values exactly.
    // the maintained moments must fit identical coefficients —
    // x_linreg's oracle VERBATIM (additive moments re-sum exactly)
    "x_linreg_maintained" -> linregSql,
    "x_linreg" -> linregSql,
    // identical two-stage evaluation: expected once, then the
    // statistic over the SAME exp values; critical value is the fixed
    // df=8 α=0.05 constant on both sides
    "x_chisq" ->
      """WITH cells AS (
           SELECT o_orderstatus, o_orderpriority, COUNT(*) AS obs
           FROM orders GROUP BY 1, 2),
         rt_ AS (SELECT o_orderstatus, COUNT(*) AS rt
                 FROM orders GROUP BY 1),
         ct_ AS (SELECT o_orderpriority, COUNT(*) AS ct
                 FROM orders GROUP BY 1),
         tot AS (SELECT COUNT(*) AS n FROM orders),
         e1 AS (
           SELECT c.o_orderstatus, c.o_orderpriority, c.obs,
             r.rt::DOUBLE * l.ct::DOUBLE / t.n::DOUBLE AS exp
           FROM cells c
           JOIN rt_ r USING (o_orderstatus)
           JOIN ct_ l USING (o_orderpriority), tot t),
         e2 AS (
           SELECT *, (obs::DOUBLE - exp) * (obs::DOUBLE - exp) / exp
             AS chi
           FROM e1),
         stat AS (
           SELECT floor(CAST(SUM(CAST(floor(chi * 1000000000.0 + 0.5)
               / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS chi2
           FROM e2)
         SELECT o_orderstatus, o_orderpriority, obs,
           floor(exp * 10000.0 + 0.5) / 10000.0 AS expected,
           floor(chi * 1000000.0 + 0.5) / 1000000.0 AS contrib,
           chi2, 8 AS df, chi2 > 15.5073 AS reject_independence
         FROM e2, stat ORDER BY o_orderstatus, o_orderpriority""",
    // same integer-string digit extraction and fixed Benford table
    "x_benford" ->
      """WITH o AS (
           SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
             AS VARCHAR), 1, 1) AS INT) AS digit
           FROM orders),
         cells AS (SELECT digit, COUNT(*) AS obs FROM o GROUP BY 1),
         tot AS (SELECT COUNT(*) AS n FROM o),
         pt AS (SELECT unnest(range(1, 10)) AS digit,
                unnest([0.301030, 0.176091, 0.124939, 0.096910,
                  0.079181, 0.066947, 0.057992, 0.051153, 0.045757])
                  AS p),
         e1 AS (
           SELECT c.digit, c.obs, t.n::DOUBLE * pt.p::DOUBLE AS exp
           FROM cells c JOIN pt USING (digit), tot t),
         e2 AS (
           SELECT *, (obs::DOUBLE - exp) * (obs::DOUBLE - exp) / exp
             AS chi
           FROM e1),
         stat AS (
           SELECT floor(CAST(SUM(CAST(floor(chi * 1000000000.0 + 0.5)
               / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS chi2
           FROM e2)
         SELECT digit, obs,
           floor(exp * 10000.0 + 0.5) / 10000.0 AS expected,
           floor(chi * 1000000.0 + 0.5) / 1000000.0 AS contrib,
           chi2, chi2 > 15.5073 AS reject_benford
         FROM e2, stat ORDER BY digit""",
    // same integer cumsum + exact mean; argmax ties to the earlier day
    "x_changepoint" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS day,
             COUNT(*) AS c
           FROM events GROUP BY 1, 2),
         tot AS (
           SELECT event_type, SUM(c) AS sc, COUNT(*) AS nd
           FROM daily GROUP BY 1),
         cum AS (
           SELECT d.event_type, d.day, t.sc, t.nd,
             t.sc::DOUBLE / t.nd::DOUBLE AS mean,
             SUM(d.c) OVER wo AS cs,
             row_number() OVER wr AS rn
           FROM daily d JOIN tot t USING (event_type)
           WINDOW wo AS (PARTITION BY d.event_type ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wr AS (PARTITION BY d.event_type ORDER BY d.day)),
         scored AS (
           SELECT *,
             abs(cs::DOUBLE - mean * rn::DOUBLE) AS abs_s,
             row_number() OVER (PARTITION BY event_type
               ORDER BY abs(cs::DOUBLE - mean * rn::DOUBLE) DESC,
                 day ASC) AS pick
           FROM cum)
         SELECT event_type, CAST(day AS TIMESTAMP) AS change_day,
           floor(abs_s * 1000000.0 + 0.5) / 1000000.0 AS cusum,
           floor(cs::DOUBLE / rn::DOUBLE * 1000000.0 + 0.5)
             / 1000000.0 AS mean_before,
           CASE WHEN nd = rn THEN NULL
             ELSE floor((sc - cs)::DOUBLE / (nd - rn)::DOUBLE
               * 1000000.0 + 0.5) / 1000000.0 END AS mean_after
         FROM scored WHERE pick = 1 ORDER BY event_type""",
    // identical moment arithmetic over the day+1 self-joined series
    "x_autocorr" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS day,
             COUNT(*) AS c
           FROM events GROUP BY 1, 2),
         pairs AS (
           SELECT x.event_type, x.c AS c0, y.c AS c1
           FROM daily x JOIN daily y
             ON x.event_type = y.event_type
            AND y.day = x.day + INTERVAL 1 DAY),
         m AS (
           SELECT event_type, COUNT(*) AS n,
             SUM(c0) AS s0, SUM(c1) AS s1,
             SUM(c0 * c1) AS s01, SUM(c0 * c0) AS s00,
             SUM(c1 * c1) AS s11
           FROM pairs GROUP BY 1)
         SELECT event_type, n,
           floor((n::DOUBLE * s01::DOUBLE - s0::DOUBLE * s1::DOUBLE)
             / sqrt((n::DOUBLE * s00::DOUBLE - s0::DOUBLE * s0::DOUBLE)
               * (n::DOUBLE * s11::DOUBLE - s1::DOUBLE * s1::DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS r1
         FROM m ORDER BY event_type""",
    // the same integer-count ratios; the deterministic LIMIT mirrors
    // the (lift DESC, a, b) tie-break
    "x_basket" ->
      """WITH li AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem),
         tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li),
         pairs AS (
           SELECT x.pk AS a, y.pk AS b, COUNT(*) AS n_ab
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
           GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         pc AS (SELECT pk, COUNT(*) AS n_p FROM li GROUP BY 1)
         SELECT p.a, p.b, p.n_ab,
           floor(p.n_ab::DOUBLE / t.n_orders::DOUBLE * 1000000.0 + 0.5)
             / 1000000.0 AS support,
           floor(p.n_ab::DOUBLE / ca.n_p::DOUBLE * 1000000.0 + 0.5)
             / 1000000.0 AS confidence,
           floor((p.n_ab * t.n_orders)::DOUBLE
             / (ca.n_p * cb.n_p)::DOUBLE * 1000000.0 + 0.5)
             / 1000000.0 AS lift
         FROM pairs p
         JOIN pc ca ON ca.pk = p.a
         JOIN pc cb ON cb.pk = p.b, tot t
         ORDER BY lift DESC, a, b LIMIT 20""",
    // same one-pass moments; SSW/SSB/F as identical IEEE expression
    // trees over decimal-exact sums
    "x_anova" ->
      """WITH b AS (
           SELECT event_type,
             CAST(floor(value * 10000.0 + 0.5) / 10000.0
               AS DECIMAL(18,4)) AS v
           FROM events),
         g AS (
           SELECT event_type, COUNT(*) AS n, SUM(v) AS sv,
             SUM(CAST(CAST(v AS DECIMAL(19,4)) * v AS DECIMAL(38,8)))
               AS svv
           FROM b GROUP BY 1),
         tot AS (SELECT SUM(n) AS nt, SUM(sv) AS svt,
                 COUNT(*) AS k FROM g),
         parts AS (
           SELECT
             CAST(SUM(CAST(floor((g.svv::DOUBLE
                 - g.sv::DOUBLE * g.sv::DOUBLE / g.n::DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(38,6)))
               AS DOUBLE) AS ssw,
             CAST(SUM(CAST(floor(g.n::DOUBLE
                 * (g.sv::DOUBLE / g.n::DOUBLE
                    - t.svt::DOUBLE / t.nt::DOUBLE)
                 * (g.sv::DOUBLE / g.n::DOUBLE
                    - t.svt::DOUBLE / t.nt::DOUBLE)
                 * 1000000.0 + 0.5) / 1000000.0 AS DECIMAL(38,6)))
               AS DOUBLE) AS ssb,
             MIN(t.nt) AS nt, MIN(t.k) AS k
           FROM g, tot t),
         st AS (
           SELECT floor((ssb / (k - 1)::DOUBLE)
               / (ssw / (nt - k)::DOUBLE) * 1000000.0 + 0.5)
               / 1000000.0 AS f_stat
           FROM parts)
         SELECT g.event_type, g.n,
           floor(g.sv::DOUBLE / g.n::DOUBLE * 1000000.0 + 0.5)
             / 1000000.0 AS mean_value,
           st.f_stat, st.f_stat > 2.3719 AS reject_equal
         FROM g, st ORDER BY event_type""",
    // the binned-ECDF running sums mirror the bounded window exactly
    "x_ks" ->
      """WITH mm AS (
           SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi
           FROM events),
         ev AS (
           SELECT CAST(floor(value * 100.0) AS BIGINT) AS bin,
             CASE WHEN epoch_us(ts) >=
               (SELECT lo + (hi - lo) // 2 FROM mm) THEN 1 ELSE 0 END
               AS late
           FROM events),
         cells AS (
           SELECT bin,
             SUM(CASE WHEN late = 0 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN late = 1 THEN 1 ELSE 0 END) AS c2
           FROM ev GROUP BY 1),
         tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c2) AS BIGINT) AS n2 FROM cells),
         ecdf AS (
           SELECT
             abs(SUM(c1) OVER wo ::DOUBLE / t.n1::DOUBLE
               - SUM(c2) OVER wo ::DOUBLE / t.n2::DOUBLE) AS dd,
             t.n1, t.n2
           FROM cells, tot t
           WINDOW wo AS (ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT n1, n2,
           floor(MAX(dd) * 1000000.0 + 0.5) / 1000000.0 AS ks_d,
           floor(1.358 * sqrt((n1 + n2)::DOUBLE / (n1 * n2)::DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS crit,
           floor(MAX(dd) * 1000000.0 + 0.5) / 1000000.0 >
             floor(1.358 * sqrt((n1 + n2)::DOUBLE / (n1 * n2)::DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS drift_detected
         FROM ecdf GROUP BY n1, n2""",
    // same two-stage evaluation as x_chisq over the time-split
    // contingency; the µs midpoint mirrors the Scala floor division
    // identical split, identical grid-rounded reference deciles
    // (quantile_cont ≡ Spark's interpolated percentile at the 1e-4
    // grid — the x_percentile agreement surface), identical Laplace
    // smoothing over the full bucket spine, identical 1e-6 term grid
    // with an exact decimal fold; the verdict thresholds compare the
    // UNROUNDED sum on both sides (equal because the summed terms are
    // equal decimals)
    // identical ten moments, identical cofactor expansion — every
    // product and subtraction in the same order, so the doubles match
    "x_ols2" -> ols2Sql,
    // same 60-bit md5 uniform, same ln(u)/w key on the 1e-9 grid,
    // same (key DESC, doc_id ASC) order
    "x_wsample" ->
      """WITH h AS (
           SELECT doc_id, n_chars,
             ('0x' || substr(md5('wsample:' || doc_id), 1, 15))::BIGINT
               AS hv
           FROM documents),
         scored AS (
           SELECT doc_id, n_chars,
             floor(ln((hv::DOUBLE + 1.0) / 1152921504606846976.0)
               / greatest(n_chars, 1)::DOUBLE * 1000000000.0 + 0.5)
               / 1000000000.0 AS key
           FROM h),
         top AS (
           SELECT * FROM scored ORDER BY key DESC, doc_id ASC LIMIT 50)
         SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id ASC)
             AS INT) AS rank,
           doc_id, n_chars, key
         FROM top ORDER BY rank""",
    "x_psi" -> psiSql,
    // the maintained count table must score identically — a lost batch
    // or double merge shifts q and goes hash-red
    "x_psi_maintained" -> psiSql,
    "x_drift" ->
      """WITH mm AS (
           SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi
           FROM events),
         ev AS (
           SELECT event_type,
             CASE WHEN epoch_us(ts) >=
               (SELECT lo + (hi - lo) // 2 FROM mm) THEN 1 ELSE 0 END
               AS late
           FROM events),
         cells AS (SELECT event_type, late, COUNT(*) AS obs
                   FROM ev GROUP BY 1, 2),
         rt_ AS (SELECT event_type, COUNT(*) AS rt FROM ev GROUP BY 1),
         ct_ AS (SELECT late, COUNT(*) AS ct FROM ev GROUP BY 1),
         tot AS (SELECT COUNT(*) AS n FROM ev),
         e1 AS (
           SELECT c.event_type, c.late, c.obs,
             r.rt::DOUBLE * l.ct::DOUBLE / t.n::DOUBLE AS exp
           FROM cells c
           JOIN rt_ r USING (event_type)
           JOIN ct_ l USING (late), tot t),
         e2 AS (
           SELECT *, (obs::DOUBLE - exp) * (obs::DOUBLE - exp) / exp
             AS chi
           FROM e1),
         stat AS (
           SELECT floor(CAST(SUM(CAST(floor(chi * 1000000000.0 + 0.5)
               / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS chi2
           FROM e2)
         SELECT event_type, late, obs,
           floor(exp * 10000.0 + 0.5) / 10000.0 AS expected,
           floor(chi * 1000000.0 + 0.5) / 1000000.0 AS contrib,
           chi2, 4 AS df, chi2 > 9.4877 AS drift_detected
         FROM e2, stat ORDER BY event_type, late""",
    // The same hash→Poisson-bucket→weighted-mean chain; rank selection
    // mirrors the (rm, b) tie-break exactly.
    "x_bootstrap" ->
      """WITH ev AS (
           SELECT event_id, event_type,
             CAST(floor(value * 10000.0 + 0.5) / 10000.0
               AS DECIMAL(18,4)) AS v
           FROM events),
         rep AS (
           SELECT event_id, event_type, v, t.b,
             ('0x' || substr(md5(event_id || '|' || t.b), 1, 15))::BIGINT
               % 1000000 AS u
           FROM ev, range(0, 32) t(b)),
         wt AS (
           SELECT event_type, b, v,
             CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
                  WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
                  WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5
                  ELSE 6 END AS w
           FROM rep),
         rm AS (
           SELECT event_type, b,
             floor(CAST(SUM(v * w) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
               * 1000000.0 + 0.5) / 1000000.0 AS rm
           FROM wt GROUP BY 1, 2 HAVING SUM(w) > 0),
         rk AS (
           SELECT event_type, b, rm,
             row_number() OVER (PARTITION BY event_type
               ORDER BY rm, b) AS rn
           FROM rm),
         ci AS (
           SELECT event_type,
             MAX(CASE WHEN rn = 2 THEN rm END) AS ci_lo,
             MAX(CASE WHEN rn = 31 THEN rm END) AS ci_hi
           FROM rk GROUP BY 1),
         pt AS (
           SELECT event_type, COUNT(*) AS n,
             floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)
               * 1000000.0 + 0.5) / 1000000.0 AS mean_value
           FROM ev GROUP BY 1)
         SELECT p.event_type, p.n, p.mean_value, c.ci_lo, c.ci_hi
         FROM pt p JOIN ci c USING (event_type)
         ORDER BY event_type""",
    // one pair aggregation, two degree columns, two histogram stanzas
    "g_degree_dist" ->
      s"""WITH act AS (
           SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
           FROM events),
         pairs AS (
           SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
           FROM act a JOIN act b USING (h)
           WHERE a.user_id < b.user_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         sym AS (SELECT u, w FROM pairs
                 UNION ALL SELECT v, w FROM pairs),
         deg AS (
           SELECT u, COUNT(*) AS deg3,
             CAST(SUM(CASE WHEN w >= $KcoreW THEN 1 ELSE 0 END)
               AS BIGINT) AS deg12
           FROM sym GROUP BY 1)
         SELECT 'w3' AS graph, deg3 AS degree, COUNT(*) AS n_nodes
         FROM deg GROUP BY 2
         UNION ALL
         SELECT 'w12', deg12, COUNT(*) FROM deg WHERE deg12 > 0
         GROUP BY 2
         ORDER BY graph, degree""",
    // The peel recurrence unrolled to the cap — identical rounds past
    // the fixpoint are identities (absorbing), the LPA oracle trick.
    "g_kcore" -> {
      val rounds = (1 to KcoreMaxRounds).map { r =>
        val prev = if (r == 1) "a0" else s"a${r - 1}"
        s"""a$r AS MATERIALIZED (
           SELECT e.u, COUNT(*) AS deg
           FROM edges e JOIN $prev x ON e.u = x.u
           JOIN $prev y ON e.v = y.u
           GROUP BY e.u HAVING COUNT(*) >= $KcoreK)"""
      }.mkString(",\n         ")
      s"""WITH act AS (
           SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
           FROM events),
         pairs AS (
           SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
           FROM act a JOIN act b USING (h)
           WHERE a.user_id < b.user_id
           GROUP BY 1, 2 HAVING COUNT(*) >= $KcoreW),
         edges AS (SELECT u, v FROM pairs
                   UNION ALL SELECT v, u FROM pairs),
         a0 AS MATERIALIZED (SELECT DISTINCT u FROM edges),
         $rounds
         SELECT u AS user_id, deg AS core_deg FROM a$KcoreMaxRounds
         ORDER BY user_id"""
    },
    // The same frontier recurrence as a recursive CTE: UNION dedups
    // (lm, u, dist) states, the depth guard bounds the walk at the
    // Spark cap (a converged Spark run's max distance is
    // SsspMaxRounds-1 — deeper graphs fail loudly there, never
    // silently diverge here), min-dist per node collapses the
    // level-set enumeration to BFS distance. g_sssp_incr shares it
    // VERBATIM: the maintained-table relaxation must land on the
    // full-graph truth exactly.
    "g_sssp" -> ssspSql,
    "g_sssp_incr" -> ssspSql,
    // the two-tick maintenance chain must land on the SAME full-graph
    // truth — the from-scratch recursive CTE is shared verbatim
    "g_sssp_incr2" -> ssspSql,
    // exact ball sizes by set-union recompute; the sketch-accuracy
    // verdict pinned to TRUE
    "g_neighborhood" ->
      s"""WITH act AS (
           SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
           FROM events),
         pairs AS (
           SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
           FROM act a JOIN act b USING (h)
           WHERE a.user_id < b.user_id
           GROUP BY 1, 2 HAVING COUNT(*) >= $KcoreW),
         edges AS (SELECT u, v FROM pairs
                   UNION ALL SELECT v, u FROM pairs),
         nodes AS (SELECT DISTINCT u FROM edges),
         one AS (SELECT u, v FROM edges
                 UNION SELECT u, u FROM nodes),
         two AS (SELECT e1.u, e2.v FROM edges e1
                 JOIN edges e2 ON e1.v = e2.u
                 UNION SELECT u, v FROM one)
         SELECT n.u AS user_id,
           (SELECT COUNT(*) FROM one o WHERE o.u = n.u) AS ball1,
           (SELECT COUNT(*) FROM two t WHERE t.u = n.u) AS ball2,
           TRUE AS within_bound
         FROM nodes n ORDER BY user_id""",
    // identical wedge counting over the symmetrized sparsified edges,
    // inclusion-exclusion union, one rational division
    "g_jaccard_sim" ->
      s"""WITH act AS (
           SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
           FROM events),
         pairs AS (
           SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
           FROM act a JOIN act b USING (h)
           WHERE a.user_id < b.user_id
           GROUP BY 1, 2 HAVING COUNT(*) >= $KcoreW),
         edges AS (SELECT u, v FROM pairs
                   UNION ALL SELECT v, u FROM pairs),
         deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY 1),
         common AS (
           SELECT x.u, y.u AS v, COUNT(*) AS cn
           FROM edges x JOIN edges y ON x.v = y.v AND x.u < y.u
           WHERE EXISTS (SELECT 1 FROM pairs p
                         WHERE p.u = x.u AND p.v = y.u)
           GROUP BY 1, 2)
         SELECT c.u, c.v, c.cn,
           floor(c.cn::DOUBLE / (du.deg + dv.deg - c.cn)::DOUBLE
             * 1000000.0 + 0.5) / 1000000.0 AS jac
         FROM common c
         JOIN deg du ON du.u = c.u
         JOIN deg dv ON dv.u = c.v
         ORDER BY jac DESC, c.u ASC, c.v ASC LIMIT 20""",
    // Triangle set via plain id-ordering a<b<c — orientation-free
    // truth: pairs already has u<v, so e1=(a,b), e2=(b,c), e3=(a,c)
    // enumerates each triangle exactly once.
    "g_triangles" ->
      s"""WITH act AS (
           SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
           FROM events),
         pairs AS (
           SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
           FROM act a JOIN act b USING (h)
           WHERE a.user_id < b.user_id
           GROUP BY 1, 2 HAVING COUNT(*) >= $TriW),
         e AS (SELECT u, v FROM pairs),
         tri AS (
           SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM e e1
           JOIN e e2 ON e2.u = e1.v
           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         corners AS (
           SELECT a AS user_id FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri)
         SELECT user_id, COUNT(*) AS n_tri FROM corners
         GROUP BY 1 ORDER BY 1""",
    "g_wpagerank" ->
      """WITH act AS (
           SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
           FROM events),
         pairs AS (
           SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
           FROM act a JOIN act b USING (h)
           WHERE a.user_id < b.user_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         edges AS (SELECT u, v, w FROM pairs
                   UNION ALL SELECT v, u, w FROM pairs),
         str AS (SELECT u, SUM(w) AS s FROM edges GROUP BY u),
         share AS (SELECT e.u, e.v,
             floor(e.w::DOUBLE / str.s::DOUBLE * 1000000000.0 + 0.5)
               / 1000000000.0 AS sh
           FROM edges e JOIN str ON e.u = str.u),
         nc AS (SELECT COUNT(*)::DOUBLE AS nn FROM str),
         pr0 AS (SELECT u,
             floor(1.0 / nc.nn * 1000000000.0 + 0.5) / 1000000000.0 AS pr
           FROM str, nc),
         c1 AS (SELECT sh.v AS u,
             CAST(SUM(CAST(floor(p.pr * sh.sh * 1000000000.0 + 0.5)
               / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE) AS cs
           FROM share sh JOIN pr0 p ON sh.u = p.u GROUP BY sh.v),
         pr1 AS (SELECT str.u,
             floor((0.15 / nc.nn + 0.85 * COALESCE(c1.cs, 0.0))
               * 1000000000.0 + 0.5) / 1000000000.0 AS pr
           FROM str LEFT JOIN c1 ON str.u = c1.u, nc),
         c2 AS (SELECT sh.v AS u,
             CAST(SUM(CAST(floor(p.pr * sh.sh * 1000000000.0 + 0.5)
               / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE) AS cs
           FROM share sh JOIN pr1 p ON sh.u = p.u GROUP BY sh.v),
         pr2 AS (SELECT str.u,
             floor((0.15 / nc.nn + 0.85 * COALESCE(c2.cs, 0.0))
               * 1000000000.0 + 0.5) / 1000000000.0 AS pr
           FROM str LEFT JOIN c2 ON str.u = c2.u, nc),
         c3 AS (SELECT sh.v AS u,
             CAST(SUM(CAST(floor(p.pr * sh.sh * 1000000000.0 + 0.5)
               / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE) AS cs
           FROM share sh JOIN pr2 p ON sh.u = p.u GROUP BY sh.v),
         pr3 AS (SELECT str.u,
             floor((0.15 / nc.nn + 0.85 * COALESCE(c3.cs, 0.0))
               * 1000000000.0 + 0.5) / 1000000000.0 AS pr
           FROM str LEFT JOIN c3 ON str.u = c3.u, nc)
         SELECT pr3.u AS user_id, CAST(str.s AS BIGINT) AS strength,
           floor(pr3.pr * 1000000.0 + 0.5) / 1000000.0 AS pagerank
         FROM pr3 JOIN str ON pr3.u = str.u ORDER BY user_id""",
    // Unrolled synchronous LPA, all-integer — the deterministic
    // ASC-label tie-break is load-bearing on both sides.
    "g_labelprop" ->
      """WITH act AS (
           SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
           FROM events),
         pairs AS (
           SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
           FROM act a JOIN act b USING (h)
           WHERE a.user_id < b.user_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         edges AS (SELECT u, v, w FROM pairs
                   UNION ALL SELECT v, u, w FROM pairs),
         l0 AS (SELECT DISTINCT u, u AS lab FROM edges),
         v1 AS (SELECT e.u, l.lab, SUM(e.w) AS wsum
                FROM edges e JOIN l0 l ON e.v = l.u GROUP BY 1, 2),
         l1 AS (SELECT u, lab FROM (
                  SELECT u, lab, row_number() OVER (PARTITION BY u
                    ORDER BY wsum DESC, lab ASC) AS rn FROM v1)
                WHERE rn = 1),
         v2 AS (SELECT e.u, l.lab, SUM(e.w) AS wsum
                FROM edges e JOIN l1 l ON e.v = l.u GROUP BY 1, 2),
         l2 AS (SELECT u, lab FROM (
                  SELECT u, lab, row_number() OVER (PARTITION BY u
                    ORDER BY wsum DESC, lab ASC) AS rn FROM v2)
                WHERE rn = 1),
         v3 AS (SELECT e.u, l.lab, SUM(e.w) AS wsum
                FROM edges e JOIN l2 l ON e.v = l.u GROUP BY 1, 2),
         l3 AS (SELECT u, lab FROM (
                  SELECT u, lab, row_number() OVER (PARTITION BY u
                    ORDER BY wsum DESC, lab ASC) AS rn FROM v3)
                WHERE rn = 1)
         SELECT u AS user_id, lab AS label FROM l3 ORDER BY user_id""",
    // LPA unrolled to the round CAP (LpaMaxRounds, generated so the
    // depth can't drift from the Spark-side constant): once the chain
    // hits the fixpoint every further round is an identity, so this
    // equals the convergence loop's answer for ANY convergence depth
    // <= cap — the oracle never needs to know the discovered depth.
    "g_labelprop_conv" -> {
      val rounds = (1 to LpaMaxRounds).map { i =>
        s"""v$i AS (SELECT e.u, l.lab, SUM(e.w) AS wsum
           |       FROM edges e JOIN l${i - 1} l ON e.v = l.u GROUP BY 1, 2),
           |l$i AS (SELECT u, lab FROM (
           |         SELECT u, lab, row_number() OVER (PARTITION BY u
           |           ORDER BY wsum DESC, lab ASC) AS rn FROM v$i)
           |       WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH act AS (
         |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
         |  FROM events),
         |pairs AS (
         |  SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
         |  FROM act a JOIN act b USING (h)
         |  WHERE a.user_id < b.user_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         |edges AS (SELECT u, v, w FROM pairs
         |          UNION ALL SELECT v, u, w FROM pairs),
         |l0 AS (SELECT DISTINCT u, u AS lab FROM edges),
         |$rounds
         |SELECT u AS user_id, lab AS label FROM l$LpaMaxRounds
         |ORDER BY user_id""".stripMargin
    },
    // Per-round modularity of the 3-round unrolled LPA — the labeling
    // chain is g_labelprop's verbatim; each round's fold mirrors the
    // Spark side's exact-integer W/W_c/S_c sums and the single IEEE
    // ratio operand-for-operand. The maintained variant must converge
    // to the SAME table, so it reuses this SQL verbatim.
    "g_modularity" -> modularityOracleSql,
    "g_modularity_maintained" -> modularityOracleSql,
    // The UNRESTRICTED mirror of the incremental run (see the query
    // comment's equivalence argument): old-graph LPA unrolled to cap
    // builds the seed; seeded full-graph LPA unrolled to cap reaches
    // the same fixpoint the frontier-restricted Spark loop converges
    // to — extra rounds past either fixpoint are identities, so the
    // oracle never needs to know either discovered depth. Both round
    // chains are generated from LpaMaxRounds so depth can't drift.
    "g_labelprop_incr" -> {
      def chain(edgeT: String, pfx: String) =
        (1 to LpaMaxRounds).map { i =>
          s"""${pfx}v$i AS (SELECT e.u, l.lab, SUM(e.w) AS wsum
             |       FROM $edgeT e JOIN ${pfx}l${i - 1} l ON e.v = l.u GROUP BY 1, 2),
             |${pfx}l$i AS (SELECT u, lab FROM (
             |         SELECT u, lab, row_number() OVER (PARTITION BY u
             |           ORDER BY wsum DESC, lab ASC) AS rn FROM ${pfx}v$i)
             |       WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
      s"""WITH mm AS (SELECT epoch_us(MIN(ts)) AS t0, epoch_us(MAX(ts)) AS t1
         |            FROM events),
         |cw AS (SELECT t0 + (t1 - t0) * 9 // 10 AS cut FROM mm),
         |act_o AS (
         |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
         |  FROM events, cw WHERE epoch_us(ts) < cw.cut),
         |pairs_o AS (
         |  SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
         |  FROM act_o a JOIN act_o b USING (h)
         |  WHERE a.user_id < b.user_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         |edges_o AS (SELECT u, v, w FROM pairs_o
         |            UNION ALL SELECT v, u, w FROM pairs_o),
         |ol0 AS (SELECT DISTINCT u, u AS lab FROM edges_o),
         |${chain("edges_o", "o")},
         |act AS (
         |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
         |  FROM events),
         |pairs AS (
         |  SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
         |  FROM act a JOIN act b USING (h)
         |  WHERE a.user_id < b.user_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         |edges AS (SELECT u, v, w FROM pairs
         |          UNION ALL SELECT v, u, w FROM pairs),
         |l0 AS (SELECT n.u, COALESCE(o.lab, n.u) AS lab
         |       FROM (SELECT DISTINCT u FROM edges) n
         |       LEFT JOIN ol$LpaMaxRounds o ON n.u = o.u),
         |${chain("edges", "")}
         |SELECT u AS user_id, lab AS label FROM l$LpaMaxRounds
         |ORDER BY user_id""".stripMargin
    },
    // Warm-start weighted PageRank mirror: the old-graph 3-round chain
    // from uniform IS the seed; the full-graph 3-round chain runs from
    // coalesce(old rank, uniform). Both chains are generated from one
    // template so the grid-rounded recurrence cannot drift between
    // them (or from the Spark side's wprChain).
    "g_wpagerank_incr" -> {
      def rounds(pfx: String, shareT: String, strT: String,
          ncT: String) =
        (1 to 3).map { i =>
          s"""${pfx}c$i AS (SELECT sh.v AS u,
             |    CAST(SUM(CAST(floor(p.pr * sh.sh * 1000000000.0 + 0.5)
             |      / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE) AS cs
             |  FROM $shareT sh JOIN ${pfx}pr${i - 1} p ON sh.u = p.u
             |  GROUP BY sh.v),
             |${pfx}pr$i AS (SELECT st.u,
             |    floor((0.15 / nc.nn + 0.85 * COALESCE(c.cs, 0.0))
             |      * 1000000000.0 + 0.5) / 1000000000.0 AS pr
             |  FROM $strT st LEFT JOIN ${pfx}c$i c ON st.u = c.u, $ncT nc)""".stripMargin
        }.mkString(",\n")
      s"""WITH mm AS (SELECT epoch_us(MIN(ts)) AS t0, epoch_us(MAX(ts)) AS t1
         |            FROM events),
         |cw AS (SELECT t0 + (t1 - t0) * 9 // 10 AS cut FROM mm),
         |act_o AS (
         |  SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
         |  FROM events, cw WHERE epoch_us(ts) < cw.cut),
         |pairs_o AS (
         |  SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
         |  FROM act_o a JOIN act_o b USING (h)
         |  WHERE a.user_id < b.user_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         |edges_o AS (SELECT u, v, w FROM pairs_o
         |            UNION ALL SELECT v, u, w FROM pairs_o),
         |str_o AS (SELECT u, SUM(w) AS s FROM edges_o GROUP BY u),
         |share_o AS (SELECT e.u, e.v,
         |    floor(e.w::DOUBLE / st.s::DOUBLE * 1000000000.0 + 0.5)
         |      / 1000000000.0 AS sh
         |  FROM edges_o e JOIN str_o st ON e.u = st.u),
         |nc_o AS (SELECT COUNT(*)::DOUBLE AS nn FROM str_o),
         |opr0 AS (SELECT u,
         |    floor(1.0 / nc.nn * 1000000000.0 + 0.5) / 1000000000.0 AS pr
         |  FROM str_o, nc_o nc),
         |${rounds("o", "share_o", "str_o", "nc_o")},
         |act AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
         |        FROM events),
         |pairs AS (
         |  SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
         |  FROM act a JOIN act b USING (h)
         |  WHERE a.user_id < b.user_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         |edges AS (SELECT u, v, w FROM pairs
         |          UNION ALL SELECT v, u, w FROM pairs),
         |str AS (SELECT u, SUM(w) AS s FROM edges GROUP BY u),
         |share AS (SELECT e.u, e.v,
         |    floor(e.w::DOUBLE / st.s::DOUBLE * 1000000000.0 + 0.5)
         |      / 1000000000.0 AS sh
         |  FROM edges e JOIN str st ON e.u = st.u),
         |nc AS (SELECT COUNT(*)::DOUBLE AS nn FROM str),
         |pr0 AS (SELECT st.u,
         |    COALESCE(o.pr,
         |      floor(1.0 / nc.nn * 1000000000.0 + 0.5) / 1000000000.0)
         |      AS pr
         |  FROM str st LEFT JOIN opr3 o ON st.u = o.u, nc),
         |${rounds("", "share", "str", "nc")}
         |SELECT pr3.u AS user_id, CAST(str.s AS BIGINT) AS strength,
         |  floor(pr3.pr * 1000000.0 + 0.5) / 1000000.0 AS pagerank
         |FROM pr3 JOIN str ON pr3.u = str.u ORDER BY user_id""".stripMargin
    },
    "x_quantiles_grouped" ->
      """SELECT l_returnflag,
           floor(quantile_cont(l_quantity, 0.5) * 10000.0 + 0.5) / 10000.0
             AS p50_qty,
           floor(quantile_cont(l_quantity, 0.9) * 10000.0 + 0.5) / 10000.0
             AS p90_qty,
           COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "g_pagerank" ->
      """WITH act AS (
           SELECT DISTINCT user_id, date_trunc('hour', ts) AS h
           FROM events),
         pairs AS (
           SELECT a.user_id AS u, b.user_id AS v, COUNT(*) AS w
           FROM act a JOIN act b USING (h)
           WHERE a.user_id < b.user_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 3),
         edges AS (SELECT u, v FROM pairs
                   UNION ALL SELECT v, u FROM pairs),
         deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
         nc AS (SELECT COUNT(*)::DOUBLE AS nn FROM deg),
         pr0 AS (SELECT u, deg,
             floor(1.0 / nc.nn * 1000000000.0 + 0.5) / 1000000000.0 AS pr
           FROM deg, nc),
         c1 AS (SELECT e.v AS u,
             CAST(SUM(CAST(floor(p.pr / p.deg::DOUBLE * 1000000000.0
               + 0.5) / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE) AS cs
           FROM edges e JOIN pr0 p ON e.u = p.u GROUP BY e.v),
         pr1 AS (SELECT d.u, d.deg,
             floor((0.15 / nc.nn + 0.85 * COALESCE(c1.cs, 0.0))
               * 1000000000.0 + 0.5) / 1000000000.0 AS pr
           FROM deg d LEFT JOIN c1 ON d.u = c1.u, nc),
         c2 AS (SELECT e.v AS u,
             CAST(SUM(CAST(floor(p.pr / p.deg::DOUBLE * 1000000000.0
               + 0.5) / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE) AS cs
           FROM edges e JOIN pr1 p ON e.u = p.u GROUP BY e.v),
         pr2 AS (SELECT d.u, d.deg,
             floor((0.15 / nc.nn + 0.85 * COALESCE(c2.cs, 0.0))
               * 1000000000.0 + 0.5) / 1000000000.0 AS pr
           FROM deg d LEFT JOIN c2 ON d.u = c2.u, nc),
         c3 AS (SELECT e.v AS u,
             CAST(SUM(CAST(floor(p.pr / p.deg::DOUBLE * 1000000000.0
               + 0.5) / 1000000000.0 AS DECIMAL(38,9))) AS DOUBLE) AS cs
           FROM edges e JOIN pr2 p ON e.u = p.u GROUP BY e.v),
         pr3 AS (SELECT d.u, d.deg,
             floor((0.15 / nc.nn + 0.85 * COALESCE(c3.cs, 0.0))
               * 1000000000.0 + 0.5) / 1000000000.0 AS pr
           FROM deg d LEFT JOIN c3 ON d.u = c3.u, nc)
         SELECT u AS user_id, deg,
           floor(pr * 1000000.0 + 0.5) / 1000000.0 AS pagerank
         FROM pr3 ORDER BY user_id""",
    "x_abtest_seq" ->
      """WITH f AS (
           SELECT event_type, ts,
             CAST(floor(value * 10000.0 + 0.5) / 10000.0
               AS DECIMAL(18,4)) AS dv
           FROM events WHERE event_type IN ('click', 'view')),
         b AS (SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi
               FROM f),
         e AS (SELECT event_type, dv,
                 epoch_us(ts) <= b.lo + (b.hi - b.lo) // 2 AS p1
               FROM f, b),
         s AS (SELECT
             CAST(SUM(CASE WHEN p1 AND event_type = 'click'
               THEN 1 ELSE 0 END) AS BIGINT) AS na1,
             CAST(SUM(CASE WHEN p1 AND event_type <> 'click'
               THEN 1 ELSE 0 END) AS BIGINT) AS nb1,
             SUM(CASE WHEN p1 AND event_type = 'click' THEN dv END) AS sa1,
             SUM(CASE WHEN p1 AND event_type = 'click' THEN dv * dv END)
               AS sxa1,
             SUM(CASE WHEN p1 AND event_type <> 'click' THEN dv END) AS sb1,
             SUM(CASE WHEN p1 AND event_type <> 'click' THEN dv * dv END)
               AS sxb1,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS na2,
             CAST(SUM(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS nb2,
             SUM(CASE WHEN event_type = 'click' THEN dv END) AS sa2,
             SUM(CASE WHEN event_type = 'click' THEN dv * dv END) AS sxa2,
             SUM(CASE WHEN event_type <> 'click' THEN dv END) AS sb2,
             SUM(CASE WHEN event_type <> 'click' THEN dv * dv END) AS sxb2
           FROM e)
         SELECT 1 AS look, na1 AS n_a, nb1 AS n_b,
           floor((sa1::DOUBLE / na1::DOUBLE - sb1::DOUBLE / nb1::DOUBLE)
             / sqrt((na1::DOUBLE * sxa1::DOUBLE - sa1::DOUBLE * sa1::DOUBLE)
                 / (na1::DOUBLE * (na1::DOUBLE - 1.0)) / na1::DOUBLE
               + (nb1::DOUBLE * sxb1::DOUBLE - sb1::DOUBLE * sb1::DOUBLE)
                 / (nb1::DOUBLE * (nb1::DOUBLE - 1.0)) / nb1::DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS z,
           abs((sa1::DOUBLE / na1::DOUBLE - sb1::DOUBLE / nb1::DOUBLE)
             / sqrt((na1::DOUBLE * sxa1::DOUBLE - sa1::DOUBLE * sa1::DOUBLE)
                 / (na1::DOUBLE * (na1::DOUBLE - 1.0)) / na1::DOUBLE
               + (nb1::DOUBLE * sxb1::DOUBLE - sb1::DOUBLE * sb1::DOUBLE)
                 / (nb1::DOUBLE * (nb1::DOUBLE - 1.0)) / nb1::DOUBLE))
             > 2.178 AS reject
         FROM s
         UNION ALL
         SELECT 2, na2, nb2,
           floor((sa2::DOUBLE / na2::DOUBLE - sb2::DOUBLE / nb2::DOUBLE)
             / sqrt((na2::DOUBLE * sxa2::DOUBLE - sa2::DOUBLE * sa2::DOUBLE)
                 / (na2::DOUBLE * (na2::DOUBLE - 1.0)) / na2::DOUBLE
               + (nb2::DOUBLE * sxb2::DOUBLE - sb2::DOUBLE * sb2::DOUBLE)
                 / (nb2::DOUBLE * (nb2::DOUBLE - 1.0)) / nb2::DOUBLE)
             * 10000.0 + 0.5) / 10000.0,
           abs((sa2::DOUBLE / na2::DOUBLE - sb2::DOUBLE / nb2::DOUBLE)
             / sqrt((na2::DOUBLE * sxa2::DOUBLE - sa2::DOUBLE * sa2::DOUBLE)
                 / (na2::DOUBLE * (na2::DOUBLE - 1.0)) / na2::DOUBLE
               + (nb2::DOUBLE * sxb2::DOUBLE - sb2::DOUBLE * sb2::DOUBLE)
                 / (nb2::DOUBLE * (nb2::DOUBLE - 1.0)) / nb2::DOUBLE))
             > 2.178
         FROM s ORDER BY look""",
    "x_countmin" ->
      """WITH keyed AS (
           SELECT CASE WHEN l_orderkey % 10 < 5
             THEN 'hot' || CAST(l_orderkey % 7 AS VARCHAR)
             ELSE 'cold' || CAST(l_orderkey AS VARCHAR) END AS k
           FROM lineitem)
         SELECT k, COUNT(*) AS exact_n,
           TRUE AS no_underestimate, TRUE AS within_2eps
         FROM keyed
         WHERE k IN ('hot0', 'hot1', 'hot2', 'hot3', 'hot4', 'hot5',
           'hot6', 'cold5', 'cold6', 'cold7')
         GROUP BY k ORDER BY k""",
    "x_gini" ->
      """WITH c AS (
           SELECT user_id, event_type, COUNT(*) AS c
           FROM events GROUP BY 1, 2),
         m AS (
           SELECT user_id, SUM(c) AS n, SUM(c * c) AS s2,
             COUNT(*) AS n_types
           FROM c GROUP BY user_id)
         SELECT user_id, CAST(n AS BIGINT) AS n, n_types,
           floor((1.0 - s2::DOUBLE / (n::DOUBLE * n::DOUBLE))
             * 1000000.0 + 0.5) / 1000000.0 AS gini
         FROM m ORDER BY user_id""",
    "x_abtest" ->
      """WITH s AS (
           SELECT
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_b,
             SUM(CASE WHEN event_type = 'click' THEN dv END) AS sa,
             SUM(CASE WHEN event_type = 'click' THEN dv * dv END) AS sxa,
             SUM(CASE WHEN event_type <> 'click' THEN dv END) AS sb,
             SUM(CASE WHEN event_type <> 'click' THEN dv * dv END) AS sxb
           FROM (SELECT event_type,
                   CAST(floor(value * 10000.0 + 0.5) / 10000.0
                     AS DECIMAL(18,4)) AS dv
                 FROM events WHERE event_type IN ('click', 'view')))
         SELECT n_a, n_b,
           floor(sa::DOUBLE / n_a::DOUBLE * 10000.0 + 0.5) / 10000.0
             AS mean_a,
           floor(sb::DOUBLE / n_b::DOUBLE * 10000.0 + 0.5) / 10000.0
             AS mean_b,
           floor((sa::DOUBLE / n_a::DOUBLE - sb::DOUBLE / n_b::DOUBLE)
             / sqrt((n_a::DOUBLE * sxa::DOUBLE - sa::DOUBLE * sa::DOUBLE)
                 / (n_a::DOUBLE * (n_a::DOUBLE - 1.0)) / n_a::DOUBLE
               + (n_b::DOUBLE * sxb::DOUBLE - sb::DOUBLE * sb::DOUBLE)
                 / (n_b::DOUBLE * (n_b::DOUBLE - 1.0)) / n_b::DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS t_stat,
           abs((sa::DOUBLE / n_a::DOUBLE - sb::DOUBLE / n_b::DOUBLE)
             / sqrt((n_a::DOUBLE * sxa::DOUBLE - sa::DOUBLE * sa::DOUBLE)
                 / (n_a::DOUBLE * (n_a::DOUBLE - 1.0)) / n_a::DOUBLE
               + (n_b::DOUBLE * sxb::DOUBLE - sb::DOUBLE * sb::DOUBLE)
                 / (n_b::DOUBLE * (n_b::DOUBLE - 1.0)) / n_b::DOUBLE))
             > 1.96 AS significant
         FROM s""",
    "x_heavyhitters" ->
      """WITH keyed AS (
           SELECT CASE WHEN l_orderkey % 10 < 5
             THEN 'hot' || CAST(l_orderkey % 7 AS VARCHAR)
             ELSE 'cold' || CAST(l_orderkey AS VARCHAR) END AS k
           FROM lineitem)
         SELECT k, COUNT(*) AS exact_n,
           TRUE AS in_summary, TRUE AS within_bound
         FROM keyed WHERE k LIKE 'hot%' GROUP BY k ORDER BY k""",
    "x_zscore" ->
      """WITH s AS (
           SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxx
           FROM lineitem GROUP BY l_returnflag),
         m AS (
           SELECT l_returnflag,
             sx::DOUBLE / n::DOUBLE AS mean,
             sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
               / (n::DOUBLE * n::DOUBLE)) AS std
           FROM s)
         SELECT l.l_returnflag, COUNT(*) AS n,
           floor(MAX(m.mean) * 10000.0 + 0.5) / 10000.0 AS mean_price,
           floor(MAX(m.std) * 10000.0 + 0.5) / 10000.0 AS std_price,
           CAST(SUM(CASE WHEN abs((l.l_extendedprice - m.mean) / m.std)
             > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
         GROUP BY l.l_returnflag ORDER BY l.l_returnflag""",
    "x_quantiles" ->
      """SELECT 0.01::DOUBLE AS p,
           floor(quantile_cont(l_extendedprice, 0.01) * 10000.0 + 0.5)
             / 10000.0 AS v FROM lineitem
         UNION ALL SELECT 0.25::DOUBLE,
           floor(quantile_cont(l_extendedprice, 0.25) * 10000.0 + 0.5)
             / 10000.0 FROM lineitem
         UNION ALL SELECT 0.5::DOUBLE,
           floor(quantile_cont(l_extendedprice, 0.5) * 10000.0 + 0.5)
             / 10000.0 FROM lineitem
         UNION ALL SELECT 0.75::DOUBLE,
           floor(quantile_cont(l_extendedprice, 0.75) * 10000.0 + 0.5)
             / 10000.0 FROM lineitem
         UNION ALL SELECT 0.99::DOUBLE,
           floor(quantile_cont(l_extendedprice, 0.99) * 10000.0 + 0.5)
             / 10000.0 FROM lineitem
         ORDER BY p""",
    "x_winsorize" ->
      """WITH c AS (
           SELECT quantile_cont(l_extendedprice, 0.05) AS lo,
                  quantile_cont(l_extendedprice, 0.95) AS hi
           FROM lineitem),
         w AS (
           SELECT l_returnflag,
             greatest(least(l_extendedprice, c.hi), c.lo) AS wp
           FROM lineitem, c)
         SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(floor(wp * 10000.0 + 0.5) / 10000.0
             AS DECIMAL(22,4))) AS DOUBLE) AS sum_wins,
           floor(MIN(wp) * 10000.0 + 0.5) / 10000.0 AS min_wins,
           floor(MAX(wp) * 10000.0 + 0.5) / 10000.0 AS max_wins
         FROM w GROUP BY l_returnflag ORDER BY l_returnflag""",
    // The same five decimal moments; r / population covariance
    // evaluated as the identical IEEE expression trees over
    // decimal-exact operands. The maintained row shares it VERBATIM —
    // additive moments re-sum to the one-pass values exactly.
    "x_corr" -> corrSql,
    "x_corr_maintained" -> corrSql,
    // identical KM recurrence: same duration/censoring derivation, the
    // same 1e-6 ln-term grid summed exactly in decimal through the
    // cumulative window, the same d=n extinction flag; window SUMs
    // cast back to BIGINT (DuckDB widens to HUGEINT)
    "x_survival" ->
      """WITH su AS (
           SELECT user_id, MIN(ts) AS t0 FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         pu AS (
           SELECT e.user_id, MIN(e.ts) AS t1
           FROM events e JOIN su USING (user_id)
           WHERE e.event_type = 'purchase' AND e.value >= 150
             AND e.ts >= su.t0
           GROUP BY 1),
         oend AS (SELECT MAX(ts) AS obs_end FROM events),
         durs AS (
           SELECT date_diff('day', CAST(su.t0 AS DATE),
               CAST(COALESCE(pu.t1, oend.obs_end) AS DATE))
               AS duration_days,
             CASE WHEN pu.t1 IS NULL THEN 0 ELSE 1 END AS ev
           FROM su LEFT JOIN pu USING (user_id), oend),
         byt AS (
           SELECT duration_days, COUNT(*) AS n_total,
             CAST(SUM(ev) AS BIGINT) AS n_events
           FROM durs GROUP BY 1),
         r AS (
           SELECT *,
             CAST(SUM(n_total) OVER (ORDER BY duration_days
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS n_risk
           FROM byt),
         tt AS (
           SELECT *,
             CASE WHEN n_events > 0 AND n_events < n_risk
               THEN CAST(floor(ln(1.0 - n_events::DOUBLE
                 / n_risk::DOUBLE) * 1000000.0 + 0.5) / 1000000.0
                 AS DECIMAL(22,6))
               ELSE CAST(0 AS DECIMAL(22,6)) END AS term,
             MAX(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY duration_days ROWS BETWEEN UNBOUNDED
                 PRECEDING AND CURRENT ROW) AS dead
           FROM r)
         SELECT duration_days, n_risk, n_events,
           n_total - n_events AS n_censored,
           CASE WHEN dead = 1 THEN 0.0
             ELSE floor(exp(CAST(SUM(term) OVER (ORDER BY duration_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 END AS survival
         FROM tt ORDER BY duration_days""",
    "x_percentile" ->
      """SELECT l_returnflag,
           floor(quantile_cont(l_quantity, 0.5) * 10000.0 + 0.5) / 10000.0
             AS p50_qty,
           floor(quantile_cont(l_quantity, 0.9) * 10000.0 + 0.5) / 10000.0
             AS p90_qty,
           COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "x_approx_pctile" ->
      """SELECT l_returnflag, TRUE AS within_bound,
           floor(quantile_cont(l_quantity, 0.5) * 10000.0 + 0.5) / 10000.0
             AS p50_exact,
           COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // a3_approx's verdict shape over the MAINTAINED sketch: the union
    // estimate must meet the same bound a one-shot sketch meets, plus
    // the maintained row-count must equal the recount (a dropped or
    // double-merged batch breaks one of the two)
    "x_hll_maintained" ->
      """SELECT TRUE AS within_bound,
           COUNT(DISTINCT o_custkey) AS exact_custs,
           COUNT(*) AS n
         FROM orders""",
    // verdict-column oracle (x_approx_pctile precedent): p50_exact and
    // n are exact truths recomputed here; within_bound is the
    // Spark-side sketch-guarantee verdict pinned to TRUE — it holds by
    // the deterministic compaction theorem, so FALSE means the
    // maintained sketch's true rank error exceeded its own carried
    // bound (a sketch or maintenance bug), and the row goes hash-red
    "x_pctile_maintained" ->
      """SELECT l_returnflag, TRUE AS within_bound,
           floor(quantile_cont(l_quantity, 0.5) * 10000.0 + 0.5) / 10000.0
             AS p50_exact,
           COUNT(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // identical exact-decimal per-user sums, widened-decimal moments
    // (the linregSql int128 discipline), IEEE θ/means/r²
    // integer 2×-rank arithmetic end to end; the only division is the
    // final AUC over two exact integers
    "x_mannwhitney" -> mwSql,
    // the maintained freq table must reproduce the one-shot statistic
    // EXACTLY — the oracle is x_mannwhitney's verbatim
    "x_mw_maintained" -> mwSql,
    "x_cuped" ->
      """WITH mm AS (SELECT epoch_us(MIN(ts)) AS t0, epoch_us(MAX(ts)) AS t1
                     FROM events),
         cw AS (SELECT t0 + (t1 - t0) // 2 AS cut FROM mm),
         u AS (
           SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) < cw.cut
               THEN CAST(floor(value * 10000.0 + 0.5) / 10000.0
                 AS DECIMAL(18,4)) END), 0) AS DECIMAL(18,4)) AS x,
             CAST(COALESCE(SUM(CASE WHEN epoch_us(ts) >= cw.cut
               THEN CAST(floor(value * 10000.0 + 0.5) / 10000.0
                 AS DECIMAL(18,4)) END), 0) AS DECIMAL(18,4)) AS y
           FROM events, cw GROUP BY user_id, cw.cut),
         p AS (
           SELECT COUNT(*)::DOUBLE AS pn,
             SUM(x)::DOUBLE AS psx, SUM(y)::DOUBLE AS psy,
             SUM(CAST(CAST(x AS DECIMAL(19,4)) * y AS DECIMAL(38,8)))
               ::DOUBLE AS psxy,
             SUM(CAST(CAST(x AS DECIMAL(19,4)) * x AS DECIMAL(38,8)))
               ::DOUBLE AS psxx,
             SUM(CAST(CAST(y AS DECIMAL(19,4)) * y AS DECIMAL(38,8)))
               ::DOUBLE AS psyy
           FROM u),
         g AS (
           SELECT variant, COUNT(*) AS n,
             SUM(x)::DOUBLE AS sx, SUM(y)::DOUBLE AS sy
           FROM u GROUP BY 1),
         k AS (
           SELECT pn * psxy - psx * psy AS cov,
             pn * psxx - psx * psx AS varx,
             pn * psyy - psy * psy AS vary, pn, psx
           FROM p)
         SELECT variant, n,
           floor(sy / n * 10000.0 + 0.5) / 10000.0 AS mean_y,
           floor((sy / n - (cov / varx) * (sx / n - psx / pn))
             * 10000.0 + 0.5) / 10000.0 AS mean_y_adj,
           floor(cov / varx * 1000000.0 + 0.5) / 1000000.0 AS theta,
           floor(cov * cov / (varx * vary) * 1000000.0 + 0.5)
             / 1000000.0 AS var_reduction
         FROM g, k ORDER BY variant""",
    // identical integer moments, one final division each
    "x_hhi" ->
      """WITH daily AS (
           SELECT date_trunc('day', ts) AS day, event_type,
             COUNT(*) AS c
           FROM events GROUP BY 1, 2),
         agg AS (
           SELECT day, SUM(c) AS t, SUM(c * c) AS s2,
             COUNT(*) AS n_types
           FROM daily GROUP BY 1)
         SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(t AS BIGINT) AS total, n_types,
           floor(s2::DOUBLE / (t * t)::DOUBLE * 1000000.0 + 0.5)
             / 1000000.0 AS hhi,
           floor((t * t)::DOUBLE / s2::DOUBLE * 10000.0 + 0.5)
             / 10000.0 AS eff_types
         FROM agg ORDER BY day""",
    // same quantile_cont interpolation, same fixed-order fence
    // arithmetic, same strict comparisons
    "x_outlier_iqr" ->
      """WITH q AS (
           SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
           FROM lineitem GROUP BY 1),
         f AS (
           SELECT l_returnflag, q1 - (q3 - q1) * 1.5 AS lo,
             q3 + (q3 - q1) * 1.5 AS hi
           FROM q)
         SELECT l.l_returnflag, COUNT(*) AS n,
           CAST(SUM(CASE WHEN l.l_extendedprice < f.lo
             OR l.l_extendedprice > f.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           floor(MIN(f.lo) * 10000.0 + 0.5) / 10000.0 AS fence_lo,
           floor(MIN(f.hi) * 10000.0 + 0.5) / 10000.0 AS fence_hi
         FROM lineitem l JOIN f USING (l_returnflag)
         GROUP BY 1 ORDER BY 1""",
    // verdict-column oracle: the exact median and count are recomputed
    // here; within_bound is the Spark-side digest-bracket verdict
    // pinned to its expected constant
    "x_tdigest_maintained" ->
      """SELECT event_type, TRUE AS within_bound,
           floor(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0
             AS p50_exact,
           COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    // exact net-median truth over the surviving rows; the paired
    // digest-bracket verdict pinned to TRUE
    "x_tdigest_deletes" ->
      """WITH mm AS (SELECT epoch_us(MIN(ts)) AS t0, epoch_us(MAX(ts)) AS t1
                     FROM events),
         cw AS (SELECT t0 + (t1 - t0) // 2 AS cut FROM mm),
         net AS (
           SELECT * FROM events, cw
           WHERE NOT (epoch_us(ts) < cut AND event_id % 5 = 0))
         SELECT event_type, TRUE AS within_bound,
           floor(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0
             AS p50_exact,
           COUNT(*) AS n
         FROM net GROUP BY event_type ORDER BY event_type""",
    // verdict-column oracle: exact per-key distincts recomputed here,
    // the union-accuracy verdict pinned to TRUE
    "x_hll_bykey" ->
      """SELECT event_type, TRUE AS within_bound,
           COUNT(DISTINCT user_id) AS exact_users, COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    // identical truth: the two-commit union must estimate the same
    // whole-table distincts whatever generation the probe consumed
    "x_hll_incr2" ->
      """SELECT event_type, TRUE AS within_bound,
           COUNT(DISTINCT user_id) AS exact_users, COUNT(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "x_profile" ->
      """WITH p AS (
           SELECT 'o_custkey' AS col_name, COUNT(*) AS n,
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_null,
             COUNT(DISTINCT o_custkey) AS n_distinct,
             MIN(o_custkey)::DOUBLE AS min_num,
             MAX(o_custkey)::DOUBLE AS max_num,
             NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
           FROM orders
           UNION ALL
           SELECT 'o_totalprice', COUNT(*),
             CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             COUNT(DISTINCT o_totalprice),
             MIN(o_totalprice), MAX(o_totalprice), NULL, NULL
           FROM orders
           UNION ALL
           SELECT 'o_orderstatus', COUNT(*),
             CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             COUNT(DISTINCT o_orderstatus), NULL, NULL,
             MIN(o_orderstatus), MAX(o_orderstatus)
           FROM orders
           UNION ALL
           SELECT 'o_orderpriority', COUNT(*),
             CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             COUNT(DISTINCT o_orderpriority), NULL, NULL,
             MIN(o_orderpriority), MAX(o_orderpriority)
           FROM orders)
         SELECT * FROM p ORDER BY col_name""",
    "x_sample" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
         FROM lineitem
         WHERE ('0x' || substr(md5(l_orderkey || ':' || l_linenumber),
           1, 15))::BIGINT % 100 < 7
         ORDER BY l_orderkey, l_linenumber""",
    "x_split" ->
      """SELECT CASE
           WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT
             % 100 < 96 THEN 'train'
           WHEN ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT
             % 100 < 98 THEN 'val'
           ELSE 'test' END AS split, COUNT(*) AS n
         FROM documents GROUP BY 1 ORDER BY split""",
    // global row_number over the same canonical (shard, hash, doc_id)
    // order — DuckDB can afford the global sort; Spark assigns the
    // identical positions shard-parallel
    "x_shuffle" ->
      """WITH h AS (
           SELECT doc_id,
             ('0x' || substr(md5('shuf:' || doc_id), 1, 15))::BIGINT AS hk
           FROM documents)
         SELECT doc_id, hk % 64 AS shard,
           row_number() OVER (ORDER BY hk % 64, hk, doc_id) AS pos
         FROM h ORDER BY pos""",
    // all-integer mirror: tenth-rates, md5 fractional draw, inclusive
    // generate_series (empty when copies = 0)
    "x_resample" ->
      """WITH r AS (
           SELECT doc_id, source,
             3 + (CAST(regexp_extract(source, '\d+') AS INT) * 7) % 35
               AS num,
             ('0x' || substr(md5('rs:' || doc_id), 1, 15))::BIGINT % 10
               AS f
           FROM documents),
         c AS (
           SELECT doc_id, source,
             num // 10 + CASE WHEN f < num % 10 THEN 1 ELSE 0 END
               AS copies
           FROM r)
         SELECT doc_id, source,
           unnest(generate_series(1, copies)) AS copy
         FROM c WHERE copies > 0
         ORDER BY doc_id, copy""",
    "x_topk_sample" ->
      """SELECT vec_id, label, rn FROM (
           SELECT vec_id, label, row_number() OVER (
             PARTITION BY label
             ORDER BY ('0x' || substr(md5(vec_id || '|' || label),
               1, 15))::BIGINT ASC, vec_id ASC) AS rn
           FROM embeddings)
         WHERE rn <= 10 ORDER BY label, rn""",
    "x_stratified" ->
      """SELECT vec_id, label
         FROM embeddings
         WHERE ('0x' || substr(md5(vec_id || '|' || label),
           1, 15))::BIGINT % 1000 < (label + 1) * 50
         ORDER BY vec_id""")
}
