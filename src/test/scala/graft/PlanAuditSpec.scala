package graft

import org.apache.spark.sql.execution.FormattedMode
import scala.jdk.CollectionConverters._

/** PLANS.md made executable: the physical-plan properties claimed as the
  * 100 TB design evidence are asserted here, so a refactor that silently
  * loses a pushdown, turns a broadcast into a shuffle, or adds an exchange
  * fails CI instead of waiting for a hand audit. Plans are captured at
  * sf0.001 — plan SHAPE is scale-invariant (AQE only further coalesces).
  */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(FormattedMode)

  private def nodeCount(p: String, node: String): Int =
    s"\\(\\d+\\) $node".r.findAllIn(p).size

  test("p1_project: column pruning reaches the parquet scan (4 of 11)") {
    val p = plan("p1_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_linenumber:int,l_returnflag:string,l_linestatus:string>"),
      p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("p3_filter: predicates push into the scan") {
    assert(plan("p3_filter").contains("PushedFilters: [IsNotNull"))
  }

  test("e_incremental: watermark pushes on RAW nanos (row-group pruning)") {
    val p = plan("e_incremental")
    assert(p.contains("GreaterThanOrEqual(ts,"),
      "raw-nanos watermark filter must reach PushedFilters")
  }

  test("soql_datelit: SOQL date-literal bounds push on the RAW int64 " +
      "ts column (the eventsSince discipline through the translator)") {
    // the converted column (timestamp_micros(ts DIV d)) is opaque to
    // parquet, so the translator must duplicate date-literal conjuncts
    // onto the raw column — both range bounds reach PushedFilters
    val p = plan("soql_datelit")
    assert(p.contains("GreaterThanOrEqual(ts,"),
      "date-literal lower bound must reach PushedFilters")
    assert(p.contains("LessThan(ts,"),
      "date-literal upper bound must reach PushedFilters")
  }

  test("j6_star: all three dims broadcast — fact never shuffles") {
    val p = plan("j6_star")
    assert(nodeCount(p, "BroadcastHashJoin") == 3, p)
    assert(nodeCount(p, "SortMergeJoin") == 0, p)
  }

  test("o3_topk: TakeOrderedAndProject, never a global sort") {
    val p = plan("o3_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("a2_group: map-side partial aggregation before the exchange") {
    assert(plan("a2_group").contains("partial_"),
      "shuffle must carry |groups| (partial agg), not |rows|")
  }

  test("t_entropy: both grains partial-aggregate, no wide op touches " +
      "the exploded token stream") {
    val p = plan("t_entropy")
    assert(p.contains("partial_"),
      "the (doc, word) count must partial-combine map-side")
    assert(nodeCount(p, "Window") == 0 && nodeCount(p, "Sort") <= 1,
      "entropy is two hash aggs + the output sort — anything else " +
        "is a regression:\n" + p)
  }

  test("l_scd2: ONE user_id exchange serves both window passes") {
    val p = plan("l_scd2")
    assert(p.linesIterator.count(_.contains("hashpartitioning(user_id")) == 1,
      p.linesIterator.filter(_.contains("hashpartitioning"))
        .mkString("\n"))
  }

  test("t_spandedup: dup vocabulary broadcasts to both joins") {
    val p = plan("t_spandedup")
    assert(nodeCount(p, "BroadcastHashJoin") == 2, p)
    assert(nodeCount(p, "SortMergeJoin") == 0, p)
  }

  test("d_embed_pairs (small n): broadcast nested-loop, zero shuffle") {
    assert(plan("d_embed_pairs").contains("BroadcastNestedLoopJoin"))
  }

  test("similarity candidate generators never plan an all-pairs join") {
    // the core dedup-suite claim: candidates come from bucketed
    // EQUI-joins (bands, blocks, cells) — a CartesianProduct or
    // BroadcastNestedLoopJoin appearing in any of these means a
    // candidate generator degenerated to all-pairs
    // d_index_maintained runs its 2-batch replay rig while the plan is
    // built — the audited plan is the batch-side probe over the
    // MAINTAINED index, which must stay a band equi-join like the rest
    for (q <- Seq("d_minhash_pairs", "d_minhash_idf", "d_ngram_jaccard",
        "v_ann_lsh", "j_fuzzy_blocked", "d_embed_lsh", "d_embed_lsh2",
        "d_simhash_hamming", "d_incremental", "d_index_maintained",
        "d_index_deletes", "d_index_incr2")) {
      val p = plan(q)
      assert(nodeCount(p, "CartesianProduct") == 0, s"$q plans cartesian")
      assert(nodeCount(p, "BroadcastNestedLoopJoin") == 0,
        s"$q plans a nested loop")
    }
  }

  test("IVF rows pick and rank cells on the kernel, never a nested loop") {
    // assignment and probe ranking are NearestCell / TopCells
    // projections over driver-held centroids: a (vector × centroid)
    // cross join coming back shows up as a nested loop or a cartesian
    for (q <- Seq("v_ann_ivf", "v_ann_ivf4", "v_ann_ivfq", "v_ann_filtered",
        "v_kmeans_sampled", "v_ivfpq", "v_ivfpq_rerank", "v_ivfpq_res",
        "v_mips")) {
      val p = plan(q)
      assert(nodeCount(p, "CartesianProduct") == 0, s"$q plans cartesian")
      assert(nodeCount(p, "BroadcastNestedLoopJoin") == 0,
        s"$q plans a nested loop")
    }
  }

  test("d_minhash_idf: weighted signatures are fused into the scan") {
    // the IDF weighting pass must cost ZERO shuffles: the DF stop set
    // is collected at plan-build (a bounded ~10^3-entry set, the one
    // exploded-corpus aggregate), and the audited candidate plan then
    // computes signatures via the fused FilteredShingleMinHashes
    // projection directly over the documents scan — no exploded
    // re-aggregation, no anti-join, no persist of a data-sized frame
    val p = plan("d_minhash_idf")
    assert(p.contains("filtered_shingle_minhashes"),
      "weighted signature should be the fused scan expression")
    assert(!p.contains("partial_min"),
      "a signature MIN re-aggregate means the unfused chain leaked back")
  }

  test("t_scrub: frequency agg partial-combines on the hash; delete is " +
      "an anti hash join") {
    val p = plan("t_scrub")
    assert(p.contains("partial_count"),
      "segment frequency must map-side combine to the segment vocabulary")
    assert(p.contains("LeftAnti"),
      "the delete must be a left-anti join against the dup-hash set")
    assert(nodeCount(p, "CartesianProduct") == 0 &&
      nodeCount(p, "BroadcastNestedLoopJoin") == 0, "scrub planned all-pairs")
  }

  test("t_scrub_maintained: dup set comes from the maintained frequency " +
      "table, not a corpus recount") {
    // the incremental-scrub point: the delete side must READ the
    // countMaintain parquet (plan() runs the 2-batch replay rig
    // first); a second corpus-wide groupBy(h) frequency agg feeding
    // the anti-join would mean the maintained table is decorative
    val p = plan("t_scrub_maintained")
    assert(p.contains("graft_segfreq"),
      "dup hashes should scan the maintained segment-frequency parquet")
    assert(p.contains("LeftAnti"),
      "the delete must stay a left-anti join against the dup-hash set")
    assert(nodeCount(p, "CartesianProduct") == 0 &&
      nodeCount(p, "BroadcastNestedLoopJoin") == 0,
      "maintained scrub planned all-pairs")
  }

  test("d_semdedup: centroids broadcast; pair join is cluster-keyed") {
    val p = plan("d_semdedup")
    // the quantizer chain runs ONCE (localCheckpoint) before this plan;
    // the audited plan must contain no nested-loop at all — the pair
    // join is an equi-join on cluster over the checkpointed assignment
    assert(nodeCount(p, "BroadcastNestedLoopJoin") == 0,
      "assignment recomputation leaked back into the pair join plan")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "within-cluster pair join must be an equi-join on cluster")
    assert(nodeCount(p, "CartesianProduct") == 0, "semdedup planned n^2")
  }

  test("d_semdedup_incr: batch probes the maintained inverted file") {
    // the reuse plan: corpus cell-mates come from the written parquet
    // index (never a corpus re-cluster or rescan), the batch assignment
    // ran once before the checkpoint, and the dup join is cluster-keyed
    val p = plan("d_semdedup_incr")
    assert(p.contains("graft_semdedup_idx"),
      "corpus inverted file should be scanned from the maintained parquet")
    assert(nodeCount(p, "BroadcastNestedLoopJoin") == 0 &&
      nodeCount(p, "CartesianProduct") == 0,
      "assignment or pair join degenerated to a nested loop")
  }

  test("v_ann_maintained: probes search the maintained inverted file") {
    // the ingest-shape claim: candidates must come from a scan of the
    // appendMaintain parquet (plan() runs the 2-batch replay rig
    // first) joined on cluster — an in-plan re-assignment of the full
    // corpus feeding the candidate join would mean the maintained
    // index is decorative. Probes rank the read-back centroids on the
    // kernel (collected once, before the stream), so no centroid cross
    // is left either.
    val p = plan("v_ann_maintained")
    assert(p.contains("graft_ann_idx"),
      "candidates should scan the maintained inverted-file parquet")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "probe→cell candidate join must be an equi-join on cluster")
    assert(nodeCount(p, "CartesianProduct") == 0 &&
      nodeCount(p, "BroadcastNestedLoopJoin") == 0,
      "maintained ANN probe planned all-pairs")
  }

  test("v_ann_filtered_maintained: probes search the maintained " +
      "FILTERED inverted file; the adaptive rule adds no new exchange " +
      "shape") {
    // candidates must scan the appendMaintain parquet of ELIGIBLE
    // vectors (plan() runs the replay rig first); the per-cell size
    // table the adaptive prefix consumes is |cells| rows and must
    // enter as a broadcast, never a shuffle of the probe set; the
    // candidate join stays the cluster equi-join
    val p = plan("v_ann_filtered_maintained")
    assert(p.contains("graft_annf_idx"),
      "candidates should scan the maintained filtered inverted file")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "probe→cell candidate join must be an equi-join on cluster")
    assert(nodeCount(p, "CartesianProduct") == 0,
      "filtered maintained ANN probe planned all-pairs")
  }

  test("soql_typeof: polymorphic branches broadcast their dim targets " +
      "and the date bound pushes on the raw scan") {
    val p = plan("soql_typeof")
    // two mentioned branches → two gated LEFT joins against dim-sized
    // targets: both must broadcast (the events fact never shuffles)
    assert(nodeCount(p, "BroadcastHashJoin") >= 2,
      "TYPEOF branch joins must broadcast the dim targets")
    assert(nodeCount(p, "SortMergeJoin") == 0, "TYPEOF shuffled the fact")
    assert(p.contains("GreaterThanOrEqual(ts,"),
      "date-literal bound must reach the raw scan's PushedFilters")
    assert(nodeCount(p, "CartesianProduct") == 0)
  }

  test("x_pctile_maintained: estimates derive from a scan of the " +
      "maintained sketch state") {
    // the maintained-distribution claim: the median estimate and its
    // bound must come from the quantileMaintain parquet via the typed
    // in-plan map (plan() runs the 2-batch replay rig first) and enter
    // the verdict join as a broadcast — a driver collect of the state
    // or an in-plan re-sketch of lineitem would make the maintained
    // table decorative. The lineitem rescan that IS present computes
    // the exact ranks the verdict compares against (the cm precedent).
    val p = plan("x_pctile_maintained")
    assert(p.contains("graft_pctile"),
      "estimates should scan the maintained quantile-sketch parquet")
    assert(nodeCount(p, "BroadcastHashJoin") >= 1,
      "the |keys|-row estimate table must broadcast into the rank join")
    assert(nodeCount(p, "CartesianProduct") == 0 &&
      nodeCount(p, "BroadcastNestedLoopJoin") == 0,
      "pctile verdict planned all-pairs")
    // its round-13 t-digest twin obeys the same shape
    val pt = plan("x_tdigest_maintained")
    assert(pt.contains("graft_tdig"),
      "estimates should scan the maintained t-digest parquet")
    assert(nodeCount(pt, "BroadcastHashJoin") >= 1 &&
      nodeCount(pt, "CartesianProduct") == 0 &&
      nodeCount(pt, "BroadcastNestedLoopJoin") == 0,
      "tdigest verdict should broadcast the estimate table")
  }

  test("t_bm25_maintained: scoring never rescans the corpus — index " +
      "tables only") {
    // the maintained-search-index claim: df/avgdl/N and the score all
    // derive from the appendMaintain parquets (plan() runs the replay
    // rig first); a documents scan in the scoring plan would mean the
    // index is decorative and every query pays the corpus
    val p = plan("t_bm25_maintained")
    assert(p.contains("graft_bm25"),
      "score inputs should scan the maintained index parquets")
    assert(!p.contains("documents.parquet"),
      "scoring plan must not rescan the corpus text")
    assert(nodeCount(p, "CartesianProduct") == 0,
      "bm25 scoring planned all-pairs (the scalar crossJoins broadcast)")
  }

  test("v_hybrid_maintained: lexical ranks come from the maintained " +
      "index — no corpus text rescan") {
    // the hybrid composition's point: a fused query costs the index +
    // the dense ranking, never the text (the t_bm25_maintained claim
    // carried through the fusion)
    val p = plan("v_hybrid_maintained")
    assert(p.contains("graft_hybrid_idx"),
      "BM25 inputs should scan the maintained index parquets")
    assert(!p.contains("documents.parquet"),
      "fused plan must not rescan the corpus text")
    assert(nodeCount(p, "CartesianProduct") == 0,
      "hybrid fusion planned all-pairs (the scalar crossJoins broadcast)")
  }

  test("maintained rows consume the maintained table, not a base rescan") {
    // the maintenance family's point is amortization: the returned
    // frame must read what the sink maintained. rollup/hh plans scan
    // ONLY the maintained parquet (an events.parquet scan would mean
    // the query quietly recomputes what the sink exists to avoid);
    // cm's verdict columns DO rescan events once — that is the exact
    // truth being compared against — but its probe-estimate frame must
    // broadcast and the exact counts must partial-aggregate
    for (q <- Seq("l_rollup_maintained", "l_hh_maintained",
        "l_rollup_corrected", "l_latest_maintained",
        "l_latest_tombstone", "l_scd2_maintained",
        "l_rollup_retained", "l_scd2_late", "l_ivm_minmax")) {
      val p = plan(q)
      assert(!p.contains("events.parquet"),
        s"$q rescans base events — the maintained table should serve it")
    }
    // round-13: MIN/MAX must come from the k-survivor state, not a
    // recompute over the net rows
    assert(plan("l_ivm_minmax").contains("graft_minmax"),
      "min/max should derive from the maintained survivor arrays")
    // round-12 maintained rows: each must read its maintained artifact
    assert(plan("l_scd2_late").contains("graft_scd2_late"),
      "late-SCD2 intervals should derive from the maintained change log")
    val plj = plan("l_ivm_leftjoin")
    assert(plj.contains("graft_ivm_lj"),
      "the netted outer view should scan the maintained view log")
    assert(!plj.contains("a_rows.parquet") && !plj.contains("b_rows.parquet"),
      "l_ivm_leftjoin rescans the replay inputs — the view should serve it")
    val ptk = plan("l_topk_maintained")
    assert(ptk.contains("graft_topk"),
      "the leaderboard should scan the maintained top-k state")
    assert(!ptk.contains("a_ord.parquet") && !ptk.contains("b_ord.parquet"),
      "l_topk_maintained rescans the replay inputs")
    assert(plan("x_hll_maintained").contains("graft_hll"),
      "the distinct estimate should scan the maintained HLL state")
    // the second-tick union: the estimate's state side must be the
    // COMMITTED generation (events rescan is the by-design exact-
    // recompute verdict side, same as x_hll_bykey)
    assert(plan("x_hll_incr2").contains("graft_hll_incr2"),
      "the two-commit estimate should scan the committed HLL generation")
    val pidx = plan("d_index_deletes")
    assert(pidx.contains("graft_minhash_del"),
      "netted candidates should scan the maintained band index")
    // the second-tick index: the corpus side must be the COMMITTED
    // generation (tick 1's merged index), never a corpus re-fingerprint
    // — exactly one shingle_minhashes projection may appear (the probe
    // batch's own signatures)
    val pi2 = plan("d_index_incr2")
    assert(pi2.contains("graft_minhash_incr2"),
      "candidates should scan the committed generation of the band index")
    assert("shingle_minhashes".r.findAllIn(pi2).length
        <= "shingle_minhashes".r.findAllIn(plan("d_incremental")).length,
      "d_index_incr2 re-fingerprints the corpus — gen state should serve it")
    val p = plan("l_cm_maintained")
    assert(p.contains("partial_count"),
      "cm exact-truth counts must map-side combine")
    assert(nodeCount(p, "BroadcastHashJoin") >= 1,
      "cm probe estimates are a driver-scalar frame — must broadcast")
    assert(nodeCount(p, "SortMergeJoin") == 0,
      "no maintained verdict join should sort-merge at probe scale")
    // the countMaintain family: the maintained parquet must serve the
    // corpus-global statistic. x_histogram_maintained's output IS the
    // maintained table, so its base (lineitem) must not appear at all;
    // t_tfidf_maintained rescans documents by design (tf and N are
    // per-corpus scoring inputs) but its df side must be the dfreq
    // parquet, never an in-plan distinct-recount of the corpus
    val ph = plan("x_histogram_maintained")
    assert(ph.contains("graft_histo"),
      "histogram bins should scan the maintained count parquet")
    assert(!ph.contains("lineitem.parquet"),
      "x_histogram_maintained rescans lineitem — the maintained " +
        "table should serve it")
    assert(plan("t_tfidf_maintained").contains("graft_dfreq"),
      "document frequencies should scan the maintained count parquet")
    // the IVM join view: the returned frame reads the maintained view
    // parquet only — a base-table scan would mean the query quietly
    // recomputes the join the sink exists to maintain
    val pj = plan("l_ivm_join")
    assert(pj.contains("graft_ivm_join"),
      "the join view should scan the maintained view parquet")
    assert(!pj.contains("orders.parquet") &&
      !pj.contains("customer.parquet"),
      "l_ivm_join rescans a base table — the maintained view should " +
        "serve it")
    // round-12 second wave: each new maintained row reads its artifact
    val pdi = plan("l_ivm_distinct")
    assert(pdi.contains("graft_ivm_dist"),
      "the DISTINCT view should net the maintained signed log")
    assert(!pdi.contains("orders.parquet"),
      "l_ivm_distinct rescans orders — the view log should serve it")
    val piv = plan("l_ivm_interval")
    assert(piv.contains("graft_ivm_iv"),
      "the band view should scan the maintained view log")
    assert(!piv.contains("events.parquet"),
      "l_ivm_interval rescans events — the view log should serve it")
    val ppq = plan("v_pq_maintained")
    assert(ppq.contains("graft_pq_idx"),
      "ADC should score the maintained code index")
    val plm = plan("t_lmscore_maintained")
    assert(plm.contains("graft_lm_counts"),
      "LM scoring should read the maintained bigram counts")
    val plr = plan("x_linreg_maintained")
    assert(plr.contains("graft_linreg_mom"),
      "OLS should fit from the maintained moments state")
    assert(!plr.contains("lineitem.parquet"),
      "x_linreg_maintained rescans lineitem — the moments state " +
        "should serve it")
    // the CURRENT window's counts must come from the maintained state
    // (the reference side legitimately rescans events once — the
    // frozen-at-fit-time deciles and reference proportions are the
    // exact truth being compared against, the l_cm carve-out)
    val psi = plan("x_psi_maintained")
    assert(psi.contains("graft_psi_cur"),
      "PSI scoring should read the maintained current-window counts")
    val pcr = plan("x_corr_maintained")
    assert(pcr.contains("graft_corr_mom"),
      "correlation should derive from the maintained moments state")
    assert(!pcr.contains("lineitem.parquet"),
      "x_corr_maintained rescans lineitem — the moments state " +
        "should serve it")
    val pei = plan("d_exact_incr")
    assert(pei.contains("graft_exact_idx"),
      "hash probes should hit the maintained md5 index")
    val pci = plan("d_clusters_incr")
    assert(pci.contains("graft_cc_incr"),
      "relabeling should read the maintained labeling parquet")
  }

  test("d_incremental: corpus side is the materialized parquet band index") {
    // the reuse plan: the candidate join's corpus input must be a scan
    // of the written index files, not a recomputation of corpus
    // signatures — at 100 TB that difference is a full corpus pass per
    // batch
    val p = plan("d_incremental")
    assert(p.contains("graft_minhash_index"),
      "corpus band index should be scanned from parquet")
    // and only the batch slice pays the signature expression: exactly
    // one documents scan feeds a shingle_minhashes projection upstream
    // of the candidate join (the other documents scans are the verify
    // rescans, which are candidate-id semi-joined)
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), " +
      "GreaterThanOrEqual(doc_id,"),
      "batch-slice filter must push into the documents scan")
  }

  test("x_sample: hash filter runs pre-shuffle; only the output sort exchanges") {
    val p = plan("x_sample")
    assert(nodeCount(p, "Exchange") == 1,
      p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    assert(p.contains("rangepartitioning"),
      "the single exchange must be the output ordering")
  }

  test("round-12 additions never plan a cartesian") {
    // g_triangles: degree orientation makes wedge + close plain equi
    // hash joins; d_containment shares the band-join discipline;
    // d_clusters_incr relabels via a broadcast mapping join over the
    // streamed labeling; v_pq/v_mips candidates are codebook/cell
    // keyed; o_skyline is windows-only; e_attribution/e_rfm are
    // natural-key equi joins. (BroadcastNestedLoopJoin is NOT banned
    // here — several of these use 1-row scalar crossJoins by design.)
    for (q <- Seq("g_triangles", "d_containment", "d_clusters_incr",
        "v_pq", "v_mips", "o_skyline", "e_attribution", "e_rfm",
        "e_pathing", "g_kcore",
        // second wave: stats/monitoring/profiling batch queries (the
        // maintained rows are covered by the maintained-artifact pin,
        // which already builds their rigs once)
        "x_basket", "x_autocorr", "x_changepoint", "t_winnow",
        "d_exact_canon", "x_benford", "e_dow_profile", "e_funnel_time",
        "g_degree_dist", "x_bootstrap", "x_linreg", "x_chisq",
        "x_anova", "x_drift", "x_ks",
        // round-13 batch additions: v_hybrid's fusion is a doc_id
        // full-outer over two rank lists, v_pq256 shares v_pq's
        // broadcast chain, the stats rows are moment/fence
        // aggregations, m_dhash_dups is a hash groupBy
        "v_hybrid", "v_pq256", "e_anomaly", "x_outlier_iqr", "x_hhi",
        "m_dhash_dups", "x_cuped", "e_ewma", "t_bpe_merges",
        "g_jaccard_sim", "e_ltv", "e_forecast_eval",
        "m_dhash_near", "m_afp_dups", "e_rollmed", "m_afp_near",
        "g_neighborhood", "v_ivfpq", "w7_value", "x_stickiness",
        "v_ivfpq_res", "v_ann_ivf8")) {
      val p = plan(q)
      assert(nodeCount(p, "CartesianProduct") == 0, s"$q plans cartesian")
    }
  }

  test("v_pq: codebooks, norms, and query tables all broadcast") {
    // ADC's point is that candidate scoring is lookups against
    // KB-sized broadcast state — a codebook that stops broadcasting
    // turns every probe into a shuffle join
    val p = plan("v_pq")
    assert(nodeCount(p, "BroadcastHashJoin") >= 3, p)
  }

  test("v_ivfpq: IVF candidate gate sits BELOW the ADC lookup join") {
    // the r13 plan defect: the cell restriction was a LEFT SEMI on the
    // RESULT of the ADC lookup join, so the executed plan still paid
    // the full |queries|·|corpus|·M lookup volume and discarded
    // non-candidates after the fact. Gated correctly, (a) no semi join
    // exists, (b) the ADC lookup join carries q as a JOIN KEY — i.e.
    // its codes input is the per-query candidate set, keys (q, m,
    // code) — and (c) the vec_id candidate⋈codes gate join numbers
    // BELOW it (FormattedMode numbers descendants before ancestors)
    val p = plan("v_ivfpq")
    assert(!p.contains("LeftSemi"),
      "candidate gate regressed to a post-ADC semi join")
    val joinKeys = """\((\d+)\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*\nLeft keys \[(\d+)\]: \[([^\]]*)\]"""
      .r.findAllMatchIn(p)
      .map(m => (m.group(1).toInt, m.group(2).toInt, m.group(3)))
      .toSeq
    val adc = joinKeys.filter { case (_, n, ks) =>
      n == 3 && ks.contains("q#") && ks.contains("code#") }
    assert(adc.size == 1,
      s"expected exactly one 3-key (q, m, code) ADC lookup join; " +
        s"joins seen: $joinKeys")
    val gate = joinKeys.filter { case (_, n, ks) =>
      n == 1 && ks.contains("vec_id#") }
    assert(gate.nonEmpty && gate.map(_._1).min < adc.head._1,
      s"candidate vec_id gate join must sit below ADC join ${adc.head}; " +
        s"vec_id joins: $gate")
  }

  test("v_ivfpq_res: candidate gate sits BELOW the reconstruction-" +
      "table join") {
    // same discipline as v_ivfpq, residual shape: the ADC lookup join
    // is the 4-key (tq, tqc, tm, tk) join against the per-(q, cell)
    // tables; the vec_id gate join (candidates ⋈ codes) must number
    // below it, and no semi join may reappear above
    val p = plan("v_ivfpq_res")
    assert(!p.contains("LeftSemi"),
      "residual candidate gate regressed to a post-ADC semi join")
    val joinKeys = """\((\d+)\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*\nLeft keys \[(\d+)\]: \[([^\]]*)\]"""
      .r.findAllMatchIn(p)
      .map(m => (m.group(1).toInt, m.group(2).toInt, m.group(3)))
      .toSeq
    val adc = joinKeys.filter { case (_, n, ks) =>
      n == 4 && ks.contains("q#") && ks.contains("code#") }
    assert(adc.size == 1,
      s"expected exactly one 4-key (q, qc, m, code) ADC lookup join; " +
        s"joins seen: $joinKeys")
    val gate = joinKeys.filter { case (_, n, ks) =>
      n == 1 && ks.contains("vec_id#") }
    assert(gate.nonEmpty && gate.map(_._1).min < adc.head._1,
      s"candidate vec_id gate join must sit below ADC join ${adc.head}; " +
        s"vec_id joins: $gate")
  }

  test("o_skyline: local bucket phase is real (partitioned window " +
      "before the global pass)") {
    val p = plan("o_skyline")
    assert(p.contains("hashpartitioning(bk"),
      "bucket-local skyline phase lost — the global window would see " +
        "the full point set")
  }

  test("e_rfm: every quartile window is bucket-partitioned") {
    val p = plan("e_rfm")
    assert(!"(?<![a-zA-Z_])ntile\\(".r.findFirstIn(p).isDefined,
      "a global ntile crept into the RFM tiling")
  }

  test("o1_sort: global sort is a distributed range partition") {
    assert(plan("o1_sort").contains("rangepartitioning(o_orderstatus"))
  }

  test("w5_ntile: rank window is per-bucket, never a global ntile") {
    val p = plan("w5_ntile")
    // the r4-audit scale-killer: ntile(4) OVER (ORDER BY ...) funnels the
    // table through one task — must never reappear. Boundary-aware match:
    // "percentile(" (the cut-point sketch) contains "ntile(" as a suffix
    assert(!"(?<![a-zA-Z_])ntile\\(".r.findFirstIn(p).isDefined,
      "unpartitioned global ntile crept back")
    // the r5-ADVICE correctness hazard: a bucket id read off
    // spark_partition_id() of a repartitionByRange subtree is only
    // consistent across branches if ReusedExchange fires (range
    // boundaries re-sample per materialization) — the bucket id must be
    // a pure function of row values, so the expression must be gone
    assert(!p.toLowerCase.contains("spark_partition_id"),
      "bucket id must not depend on physical partition identity")
    // the r6-ADVICE hazard: cuts as a shared approx_percentile subtree
    // feeding two branches are only consistent if the exchange is
    // evaluated once (sketch merges are fetch-order-dependent). The cuts
    // are now collected to the driver and embedded as a LITERAL array —
    // zero in-plan evaluations — so the sketch must be gone from the plan
    assert(!p.contains("approx_percentile"),
      "cuts must be a driver-collected literal, not a shared plan subtree")
    // the data-sized rank window must be partitioned by the value-derived
    // bucket id; the only unpartitioned window is the ≤32-row offsets
    // cumsum over the bucket counts
    val rankSpec = p.linesIterator
      .filter(_.contains("row_number() windowspecdefinition"))
      .mkString("\n")
    assert(rankSpec.contains("windowspecdefinition(__b#"),
      s"rank window lost its bucket partition spec:\n$rankSpec")
  }

  test("l_sorted_scan: sorted layout prunes row groups in the executed scan") {
    // LayoutSpec proves the footer property in isolation; this drives it
    // through the REGISTERED surface: execute the query, read the
    // FileSourceScan's numOutputRows — rows the scan emitted after
    // row-group skipping against the pushed ts range. On the sorted
    // layout the ~1% time window overlaps few of the 16 range-partition
    // files, so the scan must emit a small fraction of the table.
    val q = SparkEntry.queries("l_sorted_scan")(spark, dir)
    val p = q.queryExecution.explainString(FormattedMode)
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    q.collect()
    // the orderBy exchange makes AQE wrap the scan in a query stage —
    // collect must recurse through stage boundaries to reach it
    def scans(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      pl.flatMap {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(st.plan)
        case _ => Nil
      }
    val plan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scan = scans(plan).headOption
    assert(scan.nonEmpty, "expected a FileSourceScan leaf")
    val scanned = scan.get.metrics("numOutputRows").value
    val total = etl.Tables.load(spark, dir, "events").count()
    assert(scanned * 4 <= total,
      s"sorted scan should prune most row groups: emitted $scanned of " +
        s"$total rows")
  }

  test("l_zorder_scan: z layout prunes the two-dimensional predicate") {
    // same executed-scan lens as l_sorted_scan, but the layout is the
    // (user_id, ts) Morton curve: BOTH halves of the predicate push to
    // the scan and each prunes row groups on its own column's stats —
    // the two-cell intersection of the curve emits a small fraction
    val q = SparkEntry.queries("l_zorder_scan")(spark, dir)
    val p = q.queryExecution.explainString(FormattedMode)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    // value-agnostic: the window now derives from the data range, so
    // only the pushdown SHAPE (both dimensions reach the scan) is pinned
    assert(pushed.contains("GreaterThanOrEqual(user_id,") &&
      pushed.contains("GreaterThanOrEqual(ts,"), pushed)
    q.collect()
    def scans(pl: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
      pl.flatMap {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(st.plan)
        case _ => Nil
      }
    val plan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scan = scans(plan).headOption
    assert(scan.nonEmpty, "expected a FileSourceScan leaf")
    val scanned = scan.get.metrics("numOutputRows").value
    val total = etl.Tables.load(spark, dir, "events").count()
    // at this suite's sf0.001 the user_id predicate covers ~1/3 of the
    // tiny id domain (0..~15), so the half bar is the honest bound here;
    // LayoutSpec asserts the tighter per-dimension bounds at sf0.01
    assert(scanned * 2 <= total,
      s"z-ordered scan should prune most row groups: emitted $scanned " +
        s"of $total rows")
  }

  test("j_bloom: bloom prefilter sits on the fact side below the join") {
    val p = plan("j_bloom")
    assert(p.contains("might_contain"),
      "bloom runtime-filter predicate missing from the plan")
    // formatted-explain operator ids grow PARENT-ward (a child always has
    // a smaller id than its parent), so "the filter runs below the join"
    // is exactly: id(Filter whose Condition holds might_contain) <
    // id(BroadcastHashJoin). The detail block for each operator starts
    // "(N) Name" and blocks are blank-line separated.
    val joinId = """BroadcastHashJoin [^(]*\((\d+)\)""".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    assert(joinId.nonEmpty, "expected a BroadcastHashJoin in the plan")
    val bloomFilterId = p.split("\n\n")
      .filter(b => b.startsWith("(") && b.contains("might_contain"))
      .flatMap(b => """^\((\d+)\) Filter""".r.findFirstMatchIn(b)
        .map(_.group(1).toInt))
      .headOption
    assert(bloomFilterId.nonEmpty,
      "no Filter detail block carries the might_contain condition")
    assert(bloomFilterId.get < joinId.get,
      s"bloom prefilter (op ${bloomFilterId.get}) must run below the " +
        s"join (op ${joinId.get}), not above it")
  }

  test("s6_orc_roundtrip: predicate pushes into the ORC scan") {
    // the format-pluggable claim is only real if ORC gets the same
    // stripe-level pruning parquet gets — the filter must reach the scan
    assert(plan("s6_orc_roundtrip")
      .contains("PushedFilters: [IsNotNull(o_totalprice), " +
        "GreaterThan(o_totalprice,1000.0)]"))
  }

  test("l_upsert: the merge costs ONE key shuffle") {
    // MERGE = unionByName → newest-per-key window: the union branches
    // must flow into a single event_id exchange feeding the window —
    // a second key shuffle would mean the union materialized/re-sorted
    val p = plan("l_upsert")
    assert(p.linesIterator
      .count(_.contains("hashpartitioning(event_id")) == 1,
      p.linesIterator.filter(_.contains("hashpartitioning"))
        .mkString("\n"))
  }

  test("t_chunkpack: running sum is per-shard, never a global window") {
    // the packing cumsum must NOT be one unpartitioned ORDER BY window
    // (every row through a single task — the w5_ntile scale-killer);
    // the only window in the plan must carry the shard partition spec,
    // and the cross-shard prefix must be the broadcast of driver bases
    val p = plan("t_chunkpack")
    val winSpecs = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winSpecs.nonEmpty, "expected a window in the plan")
    assert(winSpecs.forall(_.contains("windowspecdefinition(shard#")),
      s"window lost its shard partition spec:\n${winSpecs.mkString("\n")}")
    assert(nodeCount(p, "BroadcastHashJoin") == 1,
      "shard bases must broadcast back")
  }

  test("j7_range: join keys include the time bucket, range only residual") {
    // the r7 scale-killer: an SMJ on user_id alone leaves per-user
    // candidate pairs O(n_u²) before the residual range filter — one hot
    // user makes a task quadratic. The banded plan must carry the 5-min
    // bucket IN THE JOIN KEYS (hashpartitioning on both u/user_id and the
    // bucket column), leaving the range as residual only.
    // (at sf0.001 the filtered error side broadcasts — also fine; the
    // property is the KEY LIST, which is plan-choice-invariant)
    val p = plan("j7_range")
    val keys = p.linesIterator
      .filter(l => l.contains("keys [") || l.contains("Join condition"))
      .mkString("\n")
    assert("Left keys \\[2\\]: \\[u#\\d+L?, b#\\d+L".r
      .findFirstIn(p).isDefined, s"error side lost the bucket key:\n$keys")
    assert("Right keys \\[2\\]: \\[u2#\\d+L?, b2#\\d+L".r
      .findFirstIn(p).isDefined, s"event side lost the bucket key:\n$keys")
  }

  test("j7_interval: overlap join is bucket-keyed, never all-pairs") {
    val p = plan("j7_interval")
    assert(nodeCount(p, "CartesianProduct") == 0 &&
      nodeCount(p, "BroadcastNestedLoopJoin") == 0,
      "interval join degenerated to all-pairs")
    // the equi key is the hour bucket; the overlap condition is residual
    assert(p.contains("bk"), "bucket key missing from the plan")
  }

  test("l_bucket_join: bucketed fact join adds no exchange") {
    val p = plan("l_bucket_join")
    assert(p.contains("SortMergeJoin"), "merge hint must pin SMJ")
    // the ONLY hash exchange is the final group-by's — the join itself
    // reads bucket-partitioned scans and never shuffles either side.
    // FormattedMode lists each exchange's partitioning once, in its
    // details-section Arguments line
    val n = "hashpartitioning\\(".r.findAllIn(p).size
    assert(n == 1, s"expected 1 hash exchange (the agg), got $n:\n" +
      p.linesIterator.filter(_.contains("partitioning")).mkString("\n"))
  }

  test("e_rolling28: rolling distinct actives never plan a window") {
    val p = plan("e_rolling28")
    // the inverted-contribution form: NO count-distinct-over-window (no
    // Window operator at all), and the day dimension comes back via a
    // broadcast, so the only exchanges carry (user, day)-grade keys
    assert(nodeCount(p, "Window") == 0, "window crept into the plan")
    assert(p.contains("BroadcastHashJoin"), "day dimension must broadcast")
  }

  test("x_mode: rank window runs over count rows, not the raw table") {
    val p = plan("x_mode")
    // partial/final agg BELOW the window: the Exchange feeding the Window
    // partitions the (group, value) count rows, never raw lineitem.
    // FormattedMode prints root-first, so "below" = later in the text:
    // Window, then the aggregates, then the scan.
    val winIdx = p.indexOf("Window")
    val aggIdx = p.indexOf("HashAggregate")
    val scanIdx = p.indexOf("Scan parquet")
    assert(winIdx > 0 && aggIdx > winIdx && scanIdx > aggIdx,
      s"aggregation must sit between window and scan (win=$winIdx " +
        s"agg=$aggIdx scan=$scanIdx)")
  }

  test("t_colloc: top-20 is TakeOrdered, not a global sort+filter window") {
    val p = plan("t_colloc")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x_zscore: no window over the fact table; stats broadcast back") {
    val p = plan("x_zscore")
    assert(nodeCount(p, "Window") == 0, "z must come from a broadcast " +
      "join of |groups| stats, not a per-group window over the scan")
    assert(nodeCount(p, "BroadcastHashJoin") == 1, p)
    assert(p.contains("ReadSchema: struct<l_extendedprice:double," +
      "l_returnflag:string>"),
      p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("x_abtest: one aggregation pass over one pruned scan") {
    val p = plan("x_abtest")
    assert(nodeCount(p, "Scan parquet") == 1, p)
    assert(p.contains("partial_"), "moments must partial-aggregate")
    assert(nodeCount(p, "Window") == 0 && nodeCount(p, "SortMergeJoin") == 0, p)
  }

  test("x_heavyhitters: sketch partial-aggregates per partition") {
    // the MG summary must combine map-side (k-bounded buffers per
    // partition) before the single final merge — a final-only UDAF
    // would ship every raw key to one task
    val p = plan("x_heavyhitters")
    assert(nodeCount(p, "ObjectHashAggregate") == 2,
      "expected a partial/final ObjectHashAggregate pair: " + p)
  }

  test("x_countmin: sketch partial-aggregates; probe truth partial too") {
    val p = plan("x_countmin")
    // the d×w counter buffers combine per-partition before the single
    // final merge; the probe-key exact counts stay a partial/final
    // HashAggregate pair and the 10-row estimate side broadcasts
    assert(p.contains("partial_"), p)
    assert(nodeCount(p, "BroadcastHashJoin") == 1, p)
  }

  test("x_quantiles_grouped: cumsum windows over collapsed rows only") {
    val p = plan("x_quantiles_grouped")
    // FormattedMode prints root-first: the (g,v) collapse HashAggregate
    // appears AFTER (i.e. upstream of) the Window in the text — assert
    // the Window's input is the aggregate, not the raw scan, by
    // checking the subtree order (the x_mode discipline)
    val winAt = p.indexOf("Window")
    val aggAfterWin = p.indexOf("HashAggregate", winAt)
    assert(winAt > 0 && aggAfterWin > winAt,
      "the per-group cumsum must run over collapsed (g,v,cnt) rows")
    assert(nodeCount(p, "Window") == 1, p)
  }

  test("coactivity substrate: hour-band equi-join, cap pushed as group limit") {
    // r19: every pagerank/LPA-family consumer now reads the substrate
    // through ONE localCheckpoint (the final row plans scan an
    // ExistingRDD — g_wpagerank's one-shot plan dropped from 173
    // Exchanges to 23), so the banded+capped shape is audited here on
    // the un-checkpointed build plan instead of once per row. The
    // per-hour band must be CAPPED: a row_number window over the hour
    // band feeding a rank filter (Extras.capHourBand). Without it one
    // viral hour at 100 TB is an unbounded quadratic. The rank filter
    // must additionally push down as WindowGroupLimit (Spark's
    // rank-limit pushdown), so each map task discards beyond-K rows
    // BEFORE the window sort.
    // r20 (ADVICE #2): the input goes through Tables.load — the
    // production reader — so the audit covers the same input plan as
    // the registered rows (an int64-nanos events fixture would make a
    // bare spark.read date_trunc fail analysis here; eventsTsDivisor
    // exists for exactly that case).
    val p = ops.Extras.coactivityEdgesRaw(
        graft.etl.Tables.load(spark, dir, "events"))
      .queryExecution.explainString(FormattedMode)
    assert(nodeCount(p, "CartesianProduct") == 0, p)
    assert(p.contains("h#"), "self-join must be equi-keyed on the hour")
    assert(nodeCount(p, "Window") >= 1, p)
    assert(nodeCount(p, "WindowGroupLimit") >= 1,
      "rank filter must push down as a group limit")
    assert(p.contains("row_number"), "hour band must be top-K capped")
    assert(p.contains("partial_"), "pair weights must map-side combine")
  }

  test("raw pair-count builder: every graph threshold inherits the cap") {
    // r20 (ADVICE #1): g_pagerank/g_degree_dist/g_kcore/g_jaccard_sim/
    // g_neighborhood/g_triangles no longer carry inline hour-band
    // self-joins — every edge build in the graph family now derives
    // from ssspPairCounts (directly, via ssspEdges, or via
    // coactivityEdgesRaw), so auditing ITS banded+capped shape restores
    // the per-row cap-pushdown CI coverage the r19 checkpoint
    // truncation had hidden. Same assertions as the substrate test, on
    // the shared raw builder.
    val p = ops.Extras.ssspPairCounts(
        graft.etl.Tables.load(spark, dir, "events"))
      .queryExecution.explainString(FormattedMode)
    assert(nodeCount(p, "CartesianProduct") == 0, p)
    assert(p.contains("h#"), "self-join must be equi-keyed on the hour")
    assert(nodeCount(p, "WindowGroupLimit") >= 1,
      "rank filter must push down as a group limit")
    assert(p.contains("row_number"), "hour band must be top-K capped")
    assert(p.contains("partial_"), "pair weights must map-side combine")
  }

  test("g_pagerank: iterations equi-join over the checkpointed substrate") {
    // the edge build is behind a localCheckpoint (scanned, not
    // re-planned — see the substrate audit above), so this audits the
    // iterate tail: the three unrolled iterations must join edges to
    // ranks on keys. The ONLY nested-loop joins allowed are the four
    // 1-row nn scalar broadcasts (crossJoin(broadcast(1-row agg))
    // always plans BNLJ — the t_tfidf pattern): pr0 + one per
    // iteration. A fifth would mean an iteration join went all-pairs.
    val p = plan("g_pagerank")
    assert(nodeCount(p, "CartesianProduct") == 0, p)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") == 4, p)
    assert(p.contains("partial_"), "contribution sums must partial-agg")
    assert(p.contains("ExistingRDD"),
      "edge build must be checkpoint-truncated, not re-planned")
  }

  test("g_wpagerank: weighted iterations equi-join; BNLJ pinned to scalars") {
    val p = plan("g_wpagerank")
    assert(nodeCount(p, "CartesianProduct") == 0, p)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") == 4, p)
    assert(p.contains("partial_"), p)
    assert(p.contains("ExistingRDD"),
      "edge build must be checkpoint-truncated, not re-planned")
  }

  test("e_transitions: one event shuffle on user_id; share window on counts") {
    val p = plan("e_transitions")
    assert(p.linesIterator.count(_.contains("hashpartitioning(user_id")) == 1,
      p.linesIterator.filter(_.contains("hashpartitioning")).mkString("\n"))
    assert(nodeCount(p, "Window") == 2, p)
  }

  test("t_bm25: TakeOrdered root; dl joins hash, term sides broadcast") {
    val p = plan("t_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    // df + avgdl + nDocs broadcast; the only SMJ-eligible join is the
    // corpus-sized doc-length join on doc_id
    assert(nodeCount(p, "BroadcastExchange") >= 3, p)
    assert(nodeCount(p, "CartesianProduct") == 0, p)
  }

  test("l_rollup_merge: delta filter pushes to raw scan; no base rescan") {
    val p = plan("l_rollup_merge")
    // merge plan = materialized rollup scan + ONE events scan (the
    // delta), whose raw-nanos watermark reaches the parquet reader
    assert(nodeCount(p, "Scan parquet") == 2, p)
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts,"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    assert(p.contains("partial_"), "merge must re-sum partial aggregates")
  }

  test("x_shuffle: positions shard-parallel; offsets broadcast; one window") {
    // the global permutation must NOT plan a global (single-partition)
    // window: ranks come from a shard-partitioned window, the 64-row
    // offset table broadcasts, and the only range partitioning is the
    // output ordering
    val p = plan("x_shuffle")
    assert(p.contains("hashpartitioning(shard"), p)
    assert(nodeCount(p, "Window") == 1, p)
    assert(nodeCount(p, "SortMergeJoin") == 0, p)
    assert(nodeCount(p, "BroadcastHashJoin") == 1, p)
  }

  test("g_labelprop: vote joins equi-keyed; argmax is a hash agg, no window") {
    // the edge build is behind a localCheckpoint (scanned, not
    // re-planned), so this audits the iterate+argmax tail: 3 equi-joins
    // + partial-agg'd tallies; the (Σw DESC, lab ASC) argmax must plan
    // as max(struct(...)) hash aggregation — a per-iteration row_number
    // window would shuffle AND sort every node every iteration
    val p = plan("g_labelprop")
    assert(nodeCount(p, "CartesianProduct") == 0, p)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") == 0, p)
    assert(p.contains("partial_"), "tallies must map-side combine")
    // SMJ sorts are fine (the nodes×edges vote join is shuffle-sized at
    // scale; AQE broadcasts it at runtime when tiny) — what must NOT
    // appear is a per-iteration Window, the shape argmax replaced
    assert(nodeCount(p, "Window") == 0,
      "argmax must be a hash agg, not a row_number window")
  }

  test("t_lmscore3: backoff joins equi-keyed; count sides aggregate first") {
    val p = plan("t_lmscore3")
    assert(nodeCount(p, "CartesianProduct") == 0, p)
    // the five count-table joins key on ngram columns; only the 1-row
    // NT scalar may nested-loop (crossJoin(broadcast) plans BNLJ)
    assert(nodeCount(p, "BroadcastNestedLoopJoin") == 1, p)
    assert(p.contains("partial_"), p)
  }

  test("t_lmscore: bigram prob join is equi-keyed; aggs partial") {
    val p = plan("t_lmscore")
    assert(nodeCount(p, "CartesianProduct") == 0 &&
      nodeCount(p, "BroadcastNestedLoopJoin") == 0, p)
    assert(p.contains("partial_"), p)
    // PIN the tuned join shape (no hint in the code — stats pick it, per
    // the measured A/B at Text.scala: broadcast here beats collapsing
    // first by 3.07 s vs 3.73 s): the instance-level bigram stream must
    // meet the c12⋈c1 count tables through BroadcastHashJoins ONLY. If
    // stats estimation ever flips this to a SortMergeJoin, the
    // instance-sized stream shuffles into a |vocab|-key space (961 keys
    // here — heavy skew) and the win silently evaporates; at open-vocab
    // scale the documented inversion (collapse to counts, hash-join) is
    // the plan change to make EXPLICITLY, not via a stats accident.
    assert(nodeCount(p, "SortMergeJoin") == 0 &&
      nodeCount(p, "ShuffledHashJoin") == 0, p)
    assert(nodeCount(p, "BroadcastHashJoin") == 2, p)
  }

  test("soql_dot: the translated dot path broadcasts the parent dim " +
      "and prunes both scans") {
    // the SOQL front-end must inherit the hand-written queries' plan
    // quality, not just their answers: the orders⋈customer LEFT join
    // broadcasts the dim (no fact shuffle), and column pruning reaches
    // BOTH parquet scans (3 of 6 orders columns, 3 of 8 customer)
    val p = plan("soql_dot")
    assert(nodeCount(p, "BroadcastHashJoin") == 1, p)
    assert(nodeCount(p, "SortMergeJoin") == 0, p)
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint," +
      "o_custkey:bigint"),
      p.linesIterator.filter(_.contains("ReadSchema")).mkString("\n"))
  }

  test("l_ivm_joinagg: the served frame reads ONLY the maintained agg " +
      "generation — no view or replay rescan") {
    val p = plan("l_ivm_joinagg")
    assert(p.contains("graft_ivm_joinagg") || p.contains("/agg/gen="),
      "the two-level row should serve from the maintained agg table")
    assert(!p.contains("rows.parquet") && !p.contains("/view/"),
      "l_ivm_joinagg rescans the view or the replay inputs — the agg " +
        "generation should serve it")
  }

  test("t_contam: benchmark side broadcasts; corpus joins without sort") {
    // The ONE ng-shuffle in this plan is the BENCHMARK branch's distinct
    // (eval sets are thousands of docs — that shuffle is tiny at any
    // corpus scale) feeding the BroadcastExchange; the corpus branch
    // reaches the join through a BroadcastHashJoin, which by
    // construction does not shuffle its streamed side. A SortMergeJoin
    // appearing here would mean the billions-row corpus started
    // shuffling+sorting on n-gram — the regression this guards.
    val p = plan("t_contam")
    assert(nodeCount(p, "BroadcastHashJoin") == 1, p)
    assert(nodeCount(p, "SortMergeJoin") == 0, p)
    assert(p.linesIterator.count(_.contains("hashpartitioning(ng")) == 1,
      "only the benchmark distinct may shuffle on ng")
  }

  test("Streams: maintained state is read with a frozen schema — no " +
      "schema-inferring parquet read outside readState, readAppend and " +
      "readMaintainedEvolving") {
    // a bare read of a generation dir runs a schema-inference job per
    // call; this source audit keeps a new sink from bringing it back
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/Streams.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val inferring = """\.read(\s*\.option\([^)]*\))*\s*\.parquet\(""".r
    val defs = """\bdef\s+(\w+)""".r
    val sites = inferring.findAllMatchIn(src).map { m =>
      val before = src.substring(0, m.start)
      (defs.findAllMatchIn(before).map(_.group(1)).toSeq.lastOption
        .getOrElse("<top>"), before.count(_ == '\n') + 1)
    }.toList
    val allowed = Set("readState", "readAppend", "readMaintainedEvolving")
    val stray = sites.filterNot(s => allowed(s._1))
    assert(stray.isEmpty, "schema-inferring parquet reads in Streams.scala " +
      s"(enclosing def, line): $stray — read a committed generation " +
      "through Streams.readState")
    assert(sites.map(_._1).toSet == allowed,
      s"the audit matched $sites; a renamed reader would pass vacuously")
    // readAppend infers, so it is kept to the multi-batch append roots
    // and the compaction input; a one-write dir goes through readState
    val appendCallers = """(?<!def )\breadAppend\(""".r
      .findAllMatchIn(src).map(m => memberOf(src, m.start)).toSet
    assert(appendCallers == Set("readMaintained", "compactMaintainedBelow",
      "priorBatches", "scd2LateBatch"),
      s"readAppend callers in Streams.scala: $appendCallers")
  }

  /** The member of `object Streams` whose body holds offset `at`: the
    * last def before it at member indentation (nested defs sit deeper). */
  private def memberOf(src: String, at: Int): String =
    """(?m)^  (?:private(?:\[\w+\])? )?def\s+(\w+)""".r
      .findAllMatchIn(src.substring(0, at)).map(_.group(1)).toSeq
      .lastOption.getOrElse("<top>")

  test("Streams: maintained state is written only by the two merge " +
      "combinators and the named bespoke sinks") {
    // every summary sink's read-merge-write body is mergeKeyed or
    // mergeSketch; a new sink with a hand-written overwrite of its
    // generation dir fails here. The other writers: the append-layout
    // batch, compaction, the retention rewrite, and the three sinks
    // with side effects or second artifacts inside the marker guard.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/streaming/Streams.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val writers = """\.write\s*\.mode\("overwrite"\)\s*\.parquet\(""".r
      .findAllMatchIn(src).map(m => memberOf(src, m.start)).toList
    val allowed = Set("mergeKeyed", "mergeSketch", "minmaxBatch",
      "scd2LateBatch", "ivmDistinctBatch", "appendBatch",
      "compactMaintainedBelow", "vacuumMaintained")
    val stray = writers.filterNot(allowed)
    assert(stray.isEmpty, s"overwrite writes in Streams.scala outside the " +
      s"merge combinators: $stray — fold the sink into mergeKeyed or " +
      "mergeSketch")
    assert(writers.toSet == allowed,
      s"the audit matched $writers; a renamed writer would pass vacuously")
  }

  /** The `while` loops of `src` whose condition or body checkpoints or
    * counts a frame: (line, loop head). The body is the balanced brace
    * block after the condition, or the rest of the line. */
  private def actionLoops(src: String): Seq[(Int, String)] =
    """\bwhile\s*\(""".r.findAllMatchIn(src).toSeq.flatMap { m =>
      def close(from: Int, open: Char, shut: Char): Int = {
        var depth = 0
        var i = from
        do {
          if (src(i) == open) depth += 1
          else if (src(i) == shut) depth -= 1
          i += 1
        } while (depth > 0 && i < src.length)
        i
      }
      val cond = close(m.end - 1, '(', ')')
      val start = src.indexWhere(c => !c.isWhitespace, cond)
      val eol = src.indexOf('\n', cond)
      val end =
        if (start >= 0 && src(start) == '{') close(start, '{', '}')
        else if (eol < 0) src.length else eol
      val loop = src.substring(m.start, end)
      if (loop.contains("localCheckpoint") || loop.contains(".count()"))
        Some((src.substring(0, m.start).count(_ == '\n') + 1,
          loop.linesIterator.next()))
      else None
    }

  test("ops: every convergent loop runs on Fixpoint — no other while loop " +
      "checkpoints or counts a frame") {
    // Fixpoint owns the round cap, the named-cause require and the
    // progress line; a hand-rolled `while (changed > 0)` around a
    // checkpoint or a count fails here
    val probe = "var n = 1L\nwhile (n > 0) {\n  n = df.count()\n}\n" +
      "while (i < 3) i += 1\nwhile (k < 2) k = df.localCheckpoint().count()"
    assert(actionLoops(probe).map(_._1) == Seq(2, 6),
      actionLoops(probe).toString)
    val dir = java.nio.file.Paths.get("src/main/scala/graft/ops")
    val files = {
      val st = java.nio.file.Files.list(dir)
      try st.iterator().asScala.toList finally st.close()
    }.filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.endsWith("Fixpoint.scala")))
    val stray = for {
      f <- files if !f.endsWith("Fixpoint.scala")
      (line, head) <- actionLoops(new String(
        java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8))
    } yield s"${f.getFileName}:$line $head"
    assert(stray.isEmpty, s"hand-rolled convergent loops: $stray — " +
      "drive them with Fixpoint.run")
  }
}
