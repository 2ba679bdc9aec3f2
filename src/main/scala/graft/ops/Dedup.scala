package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Text.portableHash

/** Deduplication suite (north-star + SURVEY §2.3 J8 / §2.6 O6): exact
  * hash-group dedup, MinHash+LSH near-dup pairs, SimHash fingerprints,
  * n-gram Jaccard with length blocking, embedding-cosine near-dup pairs.
  *
  * Scale design: every candidate-generation step is a bucketed equi-join
  * (LSH band buckets / length blocks), never an unblocked O(n²) cross join
  * — except the exact-cosine verifier, which at 100 TB runs AFTER an LSH
  * prefilter (see Vectors.annLsh) so the quadratic term only touches
  * bucket-mates. Hashes are the portable md5-derived 60-bit family
  * (Text.portableHash), so every stage is reproducible bit-for-bit across
  * engines and across cluster re-runs (re-runnable dedup at 100 TB requires
  * a seed-free deterministic hash family).
  */
object Dedup {

  private def words(c: Column): Column = split(c, " ")

  /** Duplicate-aware sampling weights over a (doc_id, cluster_id)
    * labeling: weight = 1/|cluster|, unclustered docs weigh 1 and
    * cluster as themselves — shared by d_softdedup (batch CC) and
    * d_softdedup_maintained (incremental CC), so both rows pin to ONE
    * oracle and a labeling drift in either chain goes hash-red. */
  private def softWeights(s: org.apache.spark.sql.SparkSession,
      d: String, cl: DataFrame): DataFrame = {
    val sizes = cl.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    val labeled = cl.join(sizes, "cluster_id")
    t(s, d, "documents")
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tok"))
      .join(labeled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        roundf(lit(1.0) / coalesce(col("cluster_size"), lit(1L)), 4)
          .as("weight"),
        roundf(col("n_tok") / coalesce(col("cluster_size"), lit(1L)), 4)
          .as("w_tokens"))
      .orderBy("doc_id")
  }

  /** Distinct k-word shingle set. */
  private[graft] def shingles(c: Column, k: Int): Column = {
    val w = words(c)
    array_distinct(transform(
      sequence(lit(1), greatest(size(w) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(w, i, lit(k)))))
  }

  /** 60-bit SimHash fingerprint per document: bit b is set iff more than
    * half the DISTINCT words hash (portable md5-derived family) with bit b
    * set. One narrow codegen'd expression over the word array (SimHash60:
    * one md5 per distinct word, one pass — the composable 60-HOF
    * formulation it replaced cost ~9.5 s at sf0.1; bit-parity is spec'd
    * in GraftFunctionsSpec). No shuffle beyond the scan; shared by
    * d_simhash (exact grouping) and d_simhash_hamming (proximity pairs).
    */
  private def simhashFp(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    t(s, d, "documents").select(col("doc_id"),
      org.apache.spark.sql.graftshim.SimHash60
        .simhash60(words(col("text"))).as("simhash"))

  private val MinhashK = 12 // 4 bands × 3 rows
  private val Bands = 4
  private val Rows = 3
  // d_ngram_jaccard secondary-block fan-out (min-bigram-hash mod this);
  // single definition interpolated into BOTH the Scala plan and the DuckDB
  // oracle so the engines cannot desynchronize
  private val NgramSalt = 64
  // The affine rehash family h_i = ((i+1)·1299709·h0 + i·15485863) mod
  // (2^31-1) lives in graftshim.ShingleMinHashes (one md5 per shingle,
  // K integer rehashes); the DuckDB oracle below spells out the same
  // constants. Bounds keep every product < 2^55 — DuckDB ERRORS on
  // int64 overflow rather than wrapping, so that's a correctness
  // constraint, not hygiene.

  /** Connected components over an undirected pair list `(a, b)` →
    * `(node, lbl)` where lbl = min node id of the component.
    *
    * Min-label propagation with POINTER DOUBLING (each round a node takes
    * the min of its own label, its neighbors' labels, and its label's
    * label), iterated to a driver-checked fixpoint — the per-round driver
    * action is one scalar count of changed labels, never row data. Plain
    * one-hop propagation needs diameter-many rounds, so a bounded unrolling
    * silently splits any component whose diameter exceeds the bound
    * (chained near-dups A~B~C~… are common in real corpora); doubling
    * reaches 2^r hops in r rounds, so even a 100 TB-corpus path component
    * converges in O(log n) rounds, and the fixpoint check makes
    * under-convergence impossible rather than merely unlikely. Each round
    * localCheckpoints its result ([[Fixpoint.settle]]) — the self-join on
    * `hop` would otherwise DOUBLE the logical plan per round (exponential
    * analysis / stack cost); checkpointing truncates lineage to a
    * materialized RDD so both plan size and recompute stay O(1) per
    * round. On a real cluster, swap localCheckpoint for reliable
    * `checkpoint` (HDFS-backed) if executor loss during the loop must be
    * survivable.
    */
  def connectedComponents(pairs: DataFrame,
      reliable: Boolean = false): DataFrame = {
    // reliable=true swaps localCheckpoint (executor-memory lineage
    // truncation — fast, but an executor loss mid-loop kills the job)
    // for reliable checkpoint to spark.checkpoint.dir (HDFS/object
    // store) — the right setting for long CC loops on preemptible
    // clusters. Caller must have set sc.setCheckpointDir.
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // both orientations from ONE pass over `pairs` (explode, not
    // union-of-two-branches — the union form evaluated the whole
    // upstream candidate+verify pipeline twice on first materialization)
    val edges = pairs.select(explode(array(
        struct(col("a").as("a"), col("b").as("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels0 = ckpt(edges.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node")))
    // no cap: pointer doubling converges in O(log diameter) rounds
    val (labels, _) = Fixpoint.run("cc", Int.MaxValue,
        "connected components did not converge")(labels0, 1L) { labels =>
      val nb = edges.join(labels, edges("b") === labels("node"))
        .groupBy(edges("a").as("node")).agg(min(col("lbl")).as("nlbl"))
      val hop = labels.as("l")
        .join(nb.as("n"), col("l.node") === col("n.node"), "left")
        .select(col("l.node").as("node"),
          least(col("l.lbl"), coalesce(col("nlbl"), col("l.lbl")))
            .as("lbl"))
      val hopC = ckpt(hop) // read twice below; checkpoint, don't recompute
      // pointer doubling: follow lbl → lbl-of-lbl (labels are node ids,
      // so every lbl has a row in `hop`). `dbl` is checkpointed lazily:
      // its one materializing reader is the change count against the
      // previous labels (hopC, read twice, stays eager)
      val (dbl, changed) = Fixpoint.settle(hopC.as("x")
        .join(hopC.select(col("node").as("pn"), col("lbl").as("plbl"))
          .as("p"), col("x.lbl") === col("p.pn"), "left")
        .select(col("x.node").as("node"),
          least(col("x.lbl"), coalesce(col("plbl"), col("x.lbl")))
            .as("lbl")),
        if (reliable) _.checkpoint() else _.localCheckpoint(false))(_.as("n")
        .join(labels.select(col("node"), col("lbl").as("old")).as("o"),
          "node")
        .filter(col("n.lbl") =!= col("old")))
      // the count was the last reader of the previous round's labels and
      // of hop — release their checkpointed RDDs now, or block-manager
      // storage grows by one labels-sized RDD per round per session
      org.apache.spark.sql.graftshim.CheckpointCleanup
        .unpersistCheckpoint(labels)
      org.apache.spark.sql.graftshim.CheckpointCleanup
        .unpersistCheckpoint(hopC)
      (dbl, changed)
    }
    edges.unpersist()
    labels
  }

  /** Fused minhash signatures for every document — the cheap full-scan
    * stage shared by the self-join and incremental dedup paths. */
  private def minhashSig(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    // r20: tPar — the fused shingle-minhash fold over every document
    // ran inside the single-row-group scan's one task
    tPar(s, d, "documents").select(col("doc_id"),
      org.apache.spark.sql.graftshim.ShingleMinHashes
        .shingleMinhashes(split(col("text"), " "), 5, MinhashK).as("mh"))

  /** Band keys straight from a (doc_id, text) frame — the per-batch
    * transform the streaming index maintenance appends (a document's
    * band rows depend on that document alone, so append IS the merge).
    */
  private[graft] def minhashBandsOfDocs(docs: DataFrame): DataFrame =
    minhashBands(docs.select(col("doc_id"),
      org.apache.spark.sql.graftshim.ShingleMinHashes
        .shingleMinhashes(split(col("text"), " "), 5, MinhashK).as("mh")))

  /** IDF-weighted band keys for `docs` (doc_id, text) — the
    * recall/precision lever on template-heavy corpora: signatures are
    * re-aggregated over RARE shingles only (document frequency ≤
    * `maxDf`), so boilerplate shared by every document cannot dominate
    * the minima; a document with no rare shingles falls back to its
    * full set so it keeps a signature. The weighting is the
    * scale-honest integer form: one distributed DF pass (explode →
    * count by the 60-bit shingle hash — the shuffle carries 8-byte
    * keys, never shingle text), a DF join back, then the K signature
    * minima as partial-agg'd MIN aggregates per doc — no per-row HOF
    * loops, no driver state. The minima use the SAME fixed affine
    * rehash family as ShingleMinHashes, so the DuckDB oracle mirrors
    * every stage in integer math. Shared by d_minhash_idf and
    * DedupSpec's template-corpus measurement.
    */
  /** IDF-weighted band keys: signatures minhash only the NON-frequent
    * (df ≤ maxDf) shingles, so rare content dominates bucket identity.
    *
    * The STOP set — not the rare set — is the small side: Σ df = the
    * corpus occurrence count, so |{h0 : df > maxDf}| ≤ Σdf / maxDf; with
    * maxDf = |docs|/20 that is ≤ 20 × the average shingles-per-doc
    * (~1000 entries) INDEPENDENT of corpus size.
    *
    * Fused path (the default): pass 1 aggregates the DF counts over
    * 8-byte shingle hashes (the only exploded-corpus shuffle) and
    * COLLECTS the bounded stop set; pass 2 is a plain documents scan
    * through FilteredShingleMinHashes, which evaluates the anti-join,
    * the 12-way min re-aggregate, and the all-stopped fallback inside
    * one codegen'd expression — the weighting pass costs ZERO shuffles
    * and needs no data-sized persist. The unfused chain (explode →
    * broadcast stop anti-join → per-doc 12-MIN re-agg → fallback union)
    * is kept as the executable spec of the semantics; DedupSpec asserts
    * the two produce bit-identical band keys.
    */
  private[graft] def idfBands(docs: DataFrame, maxDf: Long,
      fused: Boolean = true, stopCap: Int = 1 << 20): DataFrame = {
    val M = 2147483647L
    val ex = docs.select(col("doc_id"),
        explode(shingles(col("text"), 5)).as("s"))
      .select(col("doc_id"), pmod(portableHash(col("s")), lit(M)).as("h0"))
    val dft = ex.groupBy("h0").agg(count(lit(1)).as("df"))
    val stop = dft.filter(col("df") > maxDf).select("h0")
    // Zipf bound notwithstanding, a pathological maxDf (≪ the corpus
    // average df) makes the stop set data-sized — cap what the driver
    // will materialize and spill to the unfused anti-join path (with a
    // SHUFFLE anti-join: a data-sized stop set must not broadcast
    // either) instead of OOMing the collect. The probe collects through
    // a PRIMITIVE Long encoder (no Row wrappers, no boxed residents),
    // so its resident footprint really is the array: 1M longs = 8 MB,
    // three orders above the bound's ~1000-entry working point.
    lazy val stopArr = stop.limit(stopCap + 1)
      .as(org.apache.spark.sql.Encoders.scalaLong).collect()
    if (fused && stopArr.length <= stopCap) {
      val sig = docs.select(col("doc_id"),
        org.apache.spark.sql.graftshim.FilteredShingleMinHashes
          .filteredShingleMinhashes(split(col("text"), " "), 5, MinhashK,
            stopArr).as("mh"))
      minhashBands(sig)
    } else {
      val overCap = fused // reached here via the cap spill, not by choice
      val exP = ex
        // multiple consumers (stop anti-join, fallback passes) — persist
        // so the explode + md5 pass runs once
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val kept = exP.join(if (overCap) stop else broadcast(stop),
        Seq("h0"), "left_anti")
      // fallback: a doc whose every shingle is a stop shingle would lose
      // its signature — such docs (rare by construction) keep their full
      // set instead
      val withRare = kept.select("doc_id").distinct()
      val fallback = exP.join(withRare, Seq("doc_id"), "left_anti")
      val keep = kept.unionByName(fallback)
      val aggs = (0 until MinhashK).map(k =>
        min(pmod(col("h0") * lit((k + 1) * 1299709L) + lit(k * 15485863L),
          lit(M))).as(s"m$k"))
      val sig = keep.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id"),
          array((0 until MinhashK).map(k => col(s"m$k")): _*).as("mh"))
      minhashBands(sig)
    }
  }

  /** (doc_id, band, bh) LSH band-bucket keys from a signature frame —
    * the join-ready (and, for incremental dedup, the MATERIALIZABLE)
    * form of the minhash index: 4 rows of 3 longs per doc. */
  private def minhashBands(sig: DataFrame): DataFrame = {
    val bandHash = (b: Int) => portableHash(concat(lit(s"$b|"),
      array_join(transform(slice(col("mh"), b * Rows + 1, Rows),
        x => x.cast("string")), ",")))
    sig.select(col("doc_id"),
      explode(array((0 until Bands).map(b =>
        struct(lit(b).as("band"), bandHash(b).as("bh"))): _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bh"))
  }

  /** The d_minhash_pairs chain, shared by d_split_leak.
    * Stage 1 (full scan, cheap): fused minhash signatures only — no
    * string shingle sets materialized for the 99% of docs that never
    * become candidates. Stage 2: band-bucket self-join → candidate
    * pairs. Stage 3 (verify): string shingle sets built ONLY for the
    * candidate doc set (semi-join pushes the id filter into the
    * rescan), then exact Jaccard. At 100 TB this shape shuffles 12
    * longs per doc, not a multi-KB shingle array.
    */
  private def minhashPairs(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val banded = minhashBands(minhashSig(s, d))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candIds = cand.select(explode(array(col("a"), col("b")))
      .as("doc_id")).distinct()
    val shCand = docs.join(candIds, "doc_id")
      .select(col("doc_id"), shingles(col("text"), 5).as("sh"))
    val inter = size(array_intersect(col("sa"), col("sb")))
    val jac = inter.cast("double") /
      (size(col("sa")) + size(col("sb")) - inter).cast("double")
    cand
      .join(shCand.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
      .join(shCand.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
      .select(col("a"), col("b"), roundf(jac, 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("a", "b")
  }

  val queries: Map[String, Q] = Map(

    // Exact dedup (hash-groupBy): the corpus has no exact dups, so we
    // simulate the real-world trigger — a double-extract re-ingesting a
    // deterministic slice — then group on md5(text). The group key is the
    // hash, not the text: at 100 TB the shuffle carries 32 bytes per row,
    // not the document.
    "d_exact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val reExtract = docs.filter(col("doc_id") % 7 === 0)
      docs.union(reExtract)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min("doc_id").as("keep_id"), count("*").as("n_copies"))
        .filter(col("n_copies") >= 2)
        .orderBy("keep_id")
    }),

    // MinHash + LSH near-dup pairs: shingle → 12 minhashes → 4 bands of 3
    // → band-bucket equi-self-join → exact Jaccard verify ≥ 0.5.
    // Candidates are generated by the band join only (no cross join); the
    // distinct() collapses multi-band collisions before the (expensive)
    // verify join, which is the skew guard: identical docs collide in all
    // 4 bands but verify once.
    "d_minhash_pairs" -> ((s, d) => minhashPairs(s, d)),

    // Cross-split LEAKAGE audit — the pre-training check an LLM
    // pipeline runs after splitting: assign every document its
    // deterministic split (hash mod 10 → 8/1/1 train/val/test, the
    // x_stratified auditable-hash discipline — df.sample would change
    // assignment under repartitioning), then keep only the verified
    // near-dup pairs (the d_minhash_pairs LSH chain verbatim) that
    // STRADDLE two different splits. Any row is eval data leaking into
    // train through a near-duplicate the exact t_contam n-gram check
    // can miss. Cost over d_minhash_pairs: two scalar hash columns on
    // the |pairs|-sized result — the split test never touches the
    // corpus scan.
    "d_split_leak" -> ((s, d) => {
      def splitOf(c: Column): Column = {
        val h = pmod(portableHash(c.cast("string")), lit(10))
        when(h <= 7, "train").when(h === 8, "val").otherwise("test")
      }
      minhashPairs(s, d)
        .withColumn("split_a", splitOf(col("a")))
        .withColumn("split_b", splitOf(col("b")))
        .filter(col("split_a") =!= col("split_b"))
        .orderBy("a", "b")
    }),

    // d_minhash_pairs with IDF-WEIGHTED signatures (see idfBands): on
    // template-heavy corpora plain MinHash samples shingles uniformly,
    // so shared boilerplate dominates the minima and banding
    // degenerates toward all-pairs; weighting by rarity keeps the
    // signature on the CONTENT. The rare threshold is data-derived
    // (df ≤ max(2, |docs|/20) — one bounded driver scalar), the verify
    // stage is the same UNWEIGHTED exact Jaccard over full shingle
    // sets, so the output contract matches d_minhash_pairs and the
    // oracle mirrors every stage (DF counts, rare filter, fallback,
    // minima, bands, verify) in DuckDB integer math. The corpus-level
    // payoff is measured in DedupSpec: on a synthesized
    // template-majority corpus, unweighted banding collapses toward
    // all-pairs while IDF banding stays content-sized at full truth
    // recall.
    "d_minhash_idf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val maxDf = math.max(2L, docs.count() / 20)
      // no persist: with the fused FilteredShingleMinHashes path the
      // weighted signature is a single codegen'd documents scan (the DF
      // stop set is collected once at plan-build), so recomputing it for
      // both sides of the band self-join is cheaper than materializing
      // a cache copy — the same call the unweighted d_minhash_pairs makes
      // r20: tPar rationale — both idfBands passes (DF counts + the
      // fused filtered-minhash rescan) ran in the 1-task scan stage
      val banded = idfBands(docs
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("text")), maxDf)
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val candIds = cand.select(explode(array(col("a"), col("b")))
        .as("doc_id")).distinct()
      val shCand = docs.join(candIds, "doc_id")
        .select(col("doc_id"), shingles(col("text"), 5).as("sh"))
      val inter = size(array_intersect(col("sa"), col("sb")))
      val jac = inter.cast("double") /
        (size(col("sa")) + size(col("sb")) - inter).cast("double")
      cand
        .join(shCand.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
        .join(shCand.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
        .select(col("a"), col("b"), roundf(jac, 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("a", "b")
    }),

    // CANONICALIZED exact dedup — the normalization stage every real
    // exact-dedup pass runs before hashing (case folding + whitespace
    // collapse + trim): raw byte-equality misses trivially-reformatted
    // re-crawls. The rig re-ingests a deterministic slice UPPERCASED
    // with padded whitespace — byte-distinct, canonically identical —
    // and groups on md5 OF THE CANONICAL FORM, so the dup groups
    // reappear only if the normalization actually ran. Same 32-byte-
    // key shuffle discipline as d_exact.
    "d_exact_canon" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val noisy = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("text", concat(lit("  "), upper(col("text")),
          lit("   ")))
      val canon = md5(trim(regexp_replace(lower(col("text")),
        "\\s+", " ")))
      docs.unionByName(noisy)
        .groupBy(canon.as("canon_hash"))
        .agg(min("doc_id").as("keep_id"), count("*").as("n_copies"))
        .filter(col("n_copies") >= 2)
        .orderBy("keep_id")
    }),

    // INCREMENTAL exact dedup — d_exact's hash-groupBy turned into the
    // ingest shape: the corpus hash index (md5 → min doc_id) is
    // MAINTAINED by the streaming append sink (a doc's hash row
    // depends on that doc alone, so the batchId-keyed append IS the
    // merge; the reader min-collapses in case later corpora carry
    // internal dups), and a new batch — fresh docs plus a re-ingested
    // corpus slice under offset ids, the double-extract trigger —
    // probes the READ-BACK index with one hash equi-join: |batch|
    // probe rows against the living index, the corpus text never
    // rescanned. The 1e6 id offset is require-guarded like
    // embedLshCorpus. Oracle = the corpus×batch hash-match truth:
    // a lost append or a phantom hash goes hash-red.
    "d_exact_incr" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      require(maxId < 1000000L,
        s"d_exact_incr offset collides: max(doc_id)=$maxId >= 1e6 — " +
          "raise the offset here AND in the oracle")
      val splitId = maxId * 4 / 5
      val corpus = docs.filter(col("doc_id") < splitId)
      val corpusCut = maxId * 2 / 5
      val (base, stream) = Replay.twoBatchStream(s, "exact_idx", d,
        graft.etl.Tables.documents, "docs",
        corpus.filter(col("doc_id") < corpusCut),
        corpus.filter(col("doc_id") >= corpusCut))
      val idxPath = new java.io.File(base, "hash_index").getPath
      val q = graft.streaming.Streams.appendMaintain(stream, idxPath)(
        b => b.select(md5(col("text")).as("h"), col("doc_id")))
      require(q.awaitTermination(600000),
        "hash index maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the append path is untested")
      val idx = graft.streaming.Streams.readMaintained(s, idxPath)
        .groupBy("h").agg(min("doc_id").as("keep_id"))
      val batch = docs.filter(col("doc_id") < splitId &&
          col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") >= splitId)
          .select(col("doc_id"), col("text")))
        .select(col("doc_id").as("dup_id"), md5(col("text")).as("h"))
      batch.join(idx, "h")
        .select(col("dup_id"), col("keep_id"))
        .orderBy("dup_id")
    }),

    // CONTAINMENT near-dup — the asymmetric complement of
    // d_minhash_pairs' symmetric Jaccard: containment(A⊂B) =
    // |A∩B|/|A| catches a small document embedded inside a larger one
    // (quote-and-extend, boilerplate wrappers), which Jaccard
    // dilutes toward 0 as the size ratio grows. Candidates are the
    // SAME minhash band buckets (shared signatures, no extra scan);
    // the verify stage emits BOTH directed containments and keeps
    // pairs where either reaches 0.7. Honest scope disclosure:
    // Jaccard-tuned banding under-recalls extreme-ratio containment
    // pairs (a 10-shingle doc inside a 1000-shingle one rarely shares
    // a band) — the production lever is size-stratified re-banding or
    // seq-bucket indexes; the ORACLE mirrors the same candidate
    // generation, so the implemented semantics (candidate-restricted
    // containment) is checked exactly.
    "d_containment" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val banded = minhashBands(minhashSig(s, d))
      val cand = banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val candIds = cand.select(explode(array(col("a"), col("b")))
        .as("doc_id")).distinct()
      val shCand = docs.join(candIds, "doc_id")
        .select(col("doc_id"), shingles(col("text"), 5).as("sh"))
      val inter = size(array_intersect(col("sa"), col("sb")))
      val cab = roundf(inter.cast("double") /
        size(col("sa")).cast("double"), 4)
      val cba = roundf(inter.cast("double") /
        size(col("sb")).cast("double"), 4)
      cand
        .join(shCand.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
        .join(shCand.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
        .select(col("a"), col("b"), cab.as("cont_ab"), cba.as("cont_ba"))
        .filter(greatest(col("cont_ab"), col("cont_ba")) >= 0.7)
        .orderBy("a", "b")
    }),

    // Incremental (new-batch vs corpus) near-dup dedup — the shape every
    // PRODUCTION ingest actually runs: the corpus is already indexed;
    // only the new batch is fingerprinted, and the asymmetric band join
    // finds which new docs duplicate EXISTING content. Here the last
    // fifth of doc_ids (split = max_id·4/5, one driver scalar — same
    // bounded move as w5_ntile's cuts) plays the new batch; the corpus
    // band index is MATERIALIZED to parquet and read back, so the plan
    // consumed is the reuse plan: at 100 TB the index build is amortized
    // across every future batch, each batch pays
    // O(batch + matched buckets) — never a corpus rescan. Candidates
    // still distinct-collapse before the shingle verify (multi-band
    // collisions verify once), and the verify rescan semi-joins down to
    // candidate ids only. Oracle = the self-join oracle restricted to
    // corpus×batch pairs: the banded index must lose nothing.
    "d_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val splitId = docs.agg(max("doc_id")).head.getLong(0) * 4 / 5
      val idxPath =
        s"/tmp/graft_minhash_index/x${d.replaceAll("[^0-9a-zA-Z.]", "_")}"
      minhashBands(minhashSig(s, d).filter(col("doc_id") < splitId))
        .write.mode("overwrite").parquet(idxPath)
      val idx = s.read.parquet(idxPath)
      val batch = minhashBands(
        minhashSig(s, d).filter(col("doc_id") >= splitId))
      val cand = idx.as("x").join(batch.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val candIds = cand.select(explode(array(col("a"), col("b")))
        .as("doc_id")).distinct()
      val shCand = docs.join(candIds, "doc_id")
        .select(col("doc_id"), shingles(col("text"), 5).as("sh"))
      val inter = size(array_intersect(col("sa"), col("sb")))
      val jac = inter.cast("double") /
        (size(col("sa")) + size(col("sb")) - inter).cast("double")
      cand
        .join(shCand.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
        .join(shCand.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
        .select(col("a"), col("b"), roundf(jac, 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("a", "b")
    }),

    // d_incremental with the corpus index MAINTAINED BY THE STREAMING
    // SINK instead of one batch write: the corpus half replays as a
    // 2-micro-batch document stream, Streams.appendMaintain appends
    // each batch's band rows to the index parquet (no cross-batch
    // merge — a doc's bands depend on that doc alone, so append IS the
    // merge), and the batch-side incremental query then consumes the
    // MAINTAINED index. The oracle stays the corpus×batch self-join
    // truth, so a lost append, a double append (distinct would not
    // mask a dup doc's bands — the verify join would still fire twice
    // without the candidate distinct), or band-schema drift in the
    // maintained index goes hash-red. This is ingest-time dedup's real
    // shape: the index is never rebuilt, only appended, batch after
    // batch.
    "d_index_maintained" -> ((s, d) => {
      val docs = t(s, d, "documents")
      // one bounded driver scalar (the doc-id high-water mark) defines
      // the corpus/batch split — the same footer-stat discipline as the
      // events replay's time midpoint
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val splitId = maxId * 4 / 5
      val corpusCut = maxId * 2 / 5 // two corpus micro-batches
      val corpus = docs.filter(col("doc_id") < splitId)
      val (base, stream) = Replay.twoBatchStream(s, "minhash_maint", d,
        graft.etl.Tables.documents, "docs",
        corpus.filter(col("doc_id") < corpusCut),
        corpus.filter(col("doc_id") >= corpusCut))
      val idxPath = new java.io.File(base, "band_index").getPath
      val q = graft.streaming.Streams
        .appendMaintain(stream, idxPath)(minhashBandsOfDocs)
      require(q.awaitTermination(600000),
        "index maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the append path is untested")
      val idx = graft.streaming.Streams.readMaintained(s, idxPath)
      val batch = minhashBands(
        minhashSig(s, d).filter(col("doc_id") >= splitId))
      val cand = idx.as("x").join(batch.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
        // consumed twice (candIds + the verify join) — persist, same
        // as d_incremental, so the LSH join isn't recomputed
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val candIds = cand.select(explode(array(col("a"), col("b")))
        .as("doc_id")).distinct()
      val shCand = docs.join(candIds, "doc_id")
        .select(col("doc_id"), shingles(col("text"), 5).as("sh"))
      val inter = size(array_intersect(col("sa"), col("sb")))
      val jac = inter.cast("double") /
        (size(col("sa")) + size(col("sb")) - inter).cast("double")
      cand
        .join(shCand.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
        .join(shCand.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
        .select(col("a"), col("b"), roundf(jac, 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("a", "b")
    }),

    // DELETES from the maintained near-dup index — the
    // right-to-be-forgotten pass every production corpus index needs,
    // through the UNCHANGED append sink (the l_ivm_deletes discipline
    // applied to the dedup family): a removal arrives as the doc's
    // band rows recomputed with sign −1 (band keys are deterministic,
    // so the retraction matches the original insert exactly), and the
    // READER nets Σsign per (doc, band, bh) — a deleted doc's rows
    // cancel and it can never again surface as a candidate. The
    // deletes land in a LATER batch than the docs they remove, so the
    // netting is genuinely cross-batch. Oracle = the incremental-pairs
    // truth with the deleted docs EXCLUDED from the corpus side: a
    // phantom candidate from a deleted doc (missed retraction) or a
    // lost live doc (over-deletion) goes hash-red.
    "d_index_deletes" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val docs = t(s, d, "documents")
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val splitId = maxId * 4 / 5
      val corpusCut = maxId * 2 / 5
      def tag(df: DataFrame, sign: Int) = df.select(col("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"),
        lit(sign).as("sign"))
      val b1 = tag(docs.filter(col("doc_id") < corpusCut), 1)
      val b2 = tag(docs.filter(col("doc_id") >= corpusCut &&
          col("doc_id") < splitId), 1)
        .unionByName(tag(docs.filter(col("doc_id") < corpusCut &&
          col("doc_id") % 9 === 0), -1))
      val schema = graft.etl.Tables.documents.add("sign", IntegerType)
      val (base, stream) = Replay.twoBatchStream(s, "minhash_del", d,
        schema, "docs", b1, b2)
      val idxPath = new java.io.File(base, "band_index").getPath
      val q = graft.streaming.Streams.appendMaintain(stream, idxPath)(
        b => minhashBandsOfDocs(b)
          .join(b.select("doc_id", "sign"), "doc_id"))
      require(q.awaitTermination(600000),
        "signed index maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the cross-batch netting " +
          "is untested")
      val idx = graft.streaming.Streams.readMaintained(s, idxPath)
        .groupBy("doc_id", "band", "bh").agg(sum("sign").as("m"))
        .filter(col("m") > 0)
      val batch = minhashBands(
        minhashSig(s, d).filter(col("doc_id") >= splitId))
      val cand = idx.as("x").join(batch.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val candIds = cand.select(explode(array(col("a"), col("b")))
        .as("doc_id")).distinct()
      val shCand = docs.join(candIds, "doc_id")
        .select(col("doc_id"), shingles(col("text"), 5).as("sh"))
      val inter = size(array_intersect(col("sa"), col("sb")))
      val jac = inter.cast("double") /
        (size(col("sa")) + size(col("sb")) - inter).cast("double")
      cand
        .join(shCand.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
        .join(shCand.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
        .select(col("a"), col("b"), roundf(jac, 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("a", "b")
    }),

    // SECOND-TICK band-index maintenance — the third state shape of the
    // two-commit pattern (graph relaxation state: g_sssp_incr2; merged
    // search index: t_bm25_incr2; here the APPEND-ONLY near-dup index —
    // the highest-traffic production analogue the r18 verdict named):
    // the corpus band index advances through TWO committed generations
    // of one Replay.maintainedGen state dir, so tick 2 probes an index
    // that tick 1 built ON TOP OF tick 0's committed generation —
    // ingest-time dedup maintenance composes, it doesn't just
    // bootstrap. Cold build indexes doc_id < 2/5·max and commits gen=0;
    // tick 1 folds [2/5, 4/5) and commits gen=1 via the conditional
    // pointer PUT (batch marker 1 — a replayed tick is a no-op, raced
    // publishers fail loudly, and each attempt writes its own
    // nonce-named dir so a loser can never clobber the winner). Band
    // rows are pure per-doc functions over DISJOINT doc slices, so the
    // tick merge is a disjoint union — no gen=0 row is ever rewritten,
    // and at 100 TB a tick costs the new slice's fingerprinting plus an
    // index-sized write (12 longs per doc), never a corpus re-index.
    // The probe is d_incremental's asymmetric batch-vs-index join over
    // the newest fifth, consumed from the COMMITTED generation. Oracle
    // = the corpus×batch truth VERBATIM (incrementalPairsSql): a lost
    // tick (the [2/5, 4/5) bands missing), a double-merged slice, or a
    // stale-generation read loses/duplicates candidates and goes
    // hash-red — cold AND warm runs check against the same truth.
    "d_index_incr2" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val splitId = maxId * 4 / 5
      val corpusCut = maxId * 2 / 5
      val st = graft.streaming.Streams
      val (statePath, built) = Replay.maintainedGen(
        "minhash_incr2", d, s"$corpusCut-$splitId-g1")
      if (!built) {
        val bands0 = minhashBands(minhashSig(s, d)
          .filter(col("doc_id") < corpusCut)).localCheckpoint()
        st.publishGen(statePath, 0L) { (_, g) =>
          bands0.write.mode("overwrite").parquet(s"$g/bands")
        }
      }
      st.publishGen(statePath, 1L) { (prev, g) =>
        val bands1 = minhashBands(minhashSig(s, d)
          .filter(col("doc_id") >= corpusCut && col("doc_id") < splitId))
        // materialize the merged index BEFORE publishing: the union
        // reads gen=0 while the write lands in the (uniquely named)
        // gen=1 dir, and localCheckpoint gives the commit real size
        // stats
        val merged = st.readState(s, s"${prev.get}/bands")
          .unionByName(bands1).localCheckpoint()
        merged.write.mode("overwrite").parquet(s"$g/bands")
      }
      val idx = st.readGenArtifact(s, statePath, "bands")
      val batch = minhashBands(
        minhashSig(s, d).filter(col("doc_id") >= splitId))
      val cand = idx.as("x").join(batch.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
        // consumed twice (candIds + the verify join) — persist, same
        // as d_incremental, so the LSH join isn't recomputed
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val candIds = cand.select(explode(array(col("a"), col("b")))
        .as("doc_id")).distinct()
      val shCand = docs.join(candIds, "doc_id")
        .select(col("doc_id"), shingles(col("text"), 5).as("sh"))
      val inter = size(array_intersect(col("sa"), col("sb")))
      val jac = inter.cast("double") /
        (size(col("sa")) + size(col("sb")) - inter).cast("double")
      cand
        .join(shCand.select(col("doc_id").as("a"), col("sh").as("sa")), "a")
        .join(shCand.select(col("doc_id").as("b"), col("sh").as("sb")), "b")
        .select(col("a"), col("b"), roundf(jac, 4).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("a", "b")
    }),

    // Near-dup clustering: TRUE connected components over the verified
    // pair graph (pointer-doubling label propagation to a checked
    // fixpoint — see connectedComponents; a bounded unrolling would
    // silently split long near-dup chains). cluster_id = min doc_id of
    // the component; is_canonical marks the survivor — "drop all
    // non-canonical rows" IS the dedup policy at the end of every real
    // pipeline.
    "d_clusters" -> ((s, d) => {
      val pairs = queries("d_minhash_pairs")(s, d).select(col("a"),
        col("b"))
      connectedComponents(pairs)
        .select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
          (col("node") === col("lbl")).cast("int").as("is_canonical"))
        .orderBy("doc_id")
    }),

    // Cluster LABELING — the human-readable audit output of the
    // near-dup chain: each verified cluster tagged with its 3 most
    // distinctive terms (cluster term frequency × corpus rarity, the
    // t_tfidf rational score — no transcendental touches the hash
    // surface) so a reviewer can see WHAT is duplicated ("boilerplate
    // license header", "product spam template") without opening docs.
    // Scale shape: the corpus-side token/df work is t_tfidf's (two
    // partial-agg'd hash aggs), the cluster join attaches the BOUNDED
    // CC labeling (|clustered docs| rows, tiny next to the corpus),
    // and the rank window partitions by cluster over |clusters×vocab∩|
    // rows. Oracle recomputes over the recursive-CC truth + the same
    // rational score, ties on (score DESC, word ASC).
    "d_cluster_topics" -> ((s, d) => {
      // r20: tPar — the token explode feeds BOTH the DF pass and the
      // tf join from the 1-task scan stage
      val docs = tPar(s, d, "documents")
      val cl = queries("d_clusters")(s, d)
        .select("doc_id", "cluster_id")
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      val dfreq = toks.distinct().groupBy("word")
        .agg(count("*").as("df"))
      val nDocs = docs.agg(count("*").cast("double").as("n_docs"))
      val tf = toks.join(cl, "doc_id")
        .groupBy("cluster_id", "word").agg(count("*").as("tf"))
      val sizes = cl.groupBy("cluster_id")
        .agg(count("*").as("n_members"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id")
        .orderBy(desc("score"), asc("word"))
      tf.join(dfreq, "word")
        .crossJoin(broadcast(nDocs))
        .select(col("cluster_id"), col("word"),
          roundf(col("tf").cast("double") * col("n_docs") /
            col("df").cast("double"), 4).as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .join(sizes, "cluster_id")
        .select(col("cluster_id"), col("n_members"), col("word"),
          col("score"), col("rn"))
        .orderBy("cluster_id", "rn")
    }),

    // The DEDUPLICATED CORPUS itself — the capstone the whole near-dup
    // chain exists to produce: verified pairs → connected components →
    // keep ONE canonical doc per cluster (the min doc_id — the same
    // deterministic keep rule every production dedup needs for
    // reproducible training sets), drop the rest, pass untouched docs
    // through. The drop set is |clustered docs| rows — a left-anti
    // hash join against the corpus, never a rescan of the similarity
    // work. Oracle recomputes the keep rule over the recursive-CC
    // truth, so a wrong component, a dropped canonical, or a surviving
    // duplicate goes hash-red.
    "d_dedup_apply" -> ((s, d) => {
      val cl = queries("d_clusters")(s, d)
      t(s, d, "documents")
        .join(cl.filter(col("is_canonical") === 0).select("doc_id"),
          Seq("doc_id"), "left_anti")
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // DUPLICATE-AWARE SAMPLING WEIGHTS — the SOFT alternative to
    // d_dedup_apply's hard drop (the data-constrained-scaling recipe:
    // keep every near-dup copy but downweight it so each cluster
    // contributes ONE document's worth of training mass): weight =
    // 1/|cluster|, unclustered docs weigh 1 and cluster as themselves.
    // Cluster sizes are a |clusters|-row aggregate of the CC labeling;
    // the corpus attach is one hash left join on doc_id (the labeled
    // side is bounded by the near-dup chain, tiny next to the corpus,
    // so AQE broadcasts it); w_tokens = n_tok/|cluster| is the
    // effective token mass t_mixture-style budgeting would consume.
    "d_softdedup" -> ((s, d) =>
      softWeights(s, d, queries("d_clusters")(s, d)
        .select("doc_id", "cluster_id"))),

    // d_softdedup over the MAINTAINED labeling — the weights consume
    // d_clusters_incr's incrementally merged components instead of the
    // from-scratch CC, completing the soft-dedup family's maintenance
    // story: as a delta batch merges clusters, every member's weight
    // drops to 1/|merged cluster| with NO corpus rescan (the weight
    // attach is the same |clusters|-row aggregate + one hash join).
    // The oracle is d_softdedup's VERBATIM, so a missed merge or stale
    // label in the maintained chain changes a cluster size and goes
    // hash-red.
    "d_softdedup_maintained" -> ((s, d) =>
      // r19 opt: softWeights reads its labeling twice (cluster sizes +
      // the per-doc attach) and Spark does not dedupe common subplans —
      // checkpoint the |docs|-row labeling so the d_clusters_incr merge
      // chain runs once, not once per reference (2472-line plan, 89
      // Exchanges before)
      softWeights(s, d, queries("d_clusters_incr")(s, d)
        .select("doc_id", "cluster_id").localCheckpoint())),

    // MIXTURE BUDGETING OVER THE DEDUP-WEIGHTED CORPUS — t_mixture's
    // per-source token budgeting composed with d_softdedup's
    // duplicate-aware mass: each source's capacity is its EFFECTIVE
    // token count Σ n_tok/|cluster| (a near-dup cluster contributes
    // one copy's worth), so sample rates and epochs answer "how much
    // UNIQUE text does this source actually hold". The per-doc
    // effective mass is computed in FIXED-POINT (n_tok·10⁴ div
    // |cluster| — integer arithmetic end-to-end), so the per-source
    // sums are exact longs on both engines and no float accumulation
    // order can drift the hash; the only doubles are one final
    // division each for eff_tokens and sample_rate.
    "d_mixture_soft" -> ((s, d) => {
      val budget = 42000L
      val cl = queries("d_clusters")(s, d).select("doc_id", "cluster_id")
      val sizes = cl.groupBy("cluster_id")
        .agg(count(lit(1)).as("cs"))
      val labeled = cl.join(sizes, "cluster_id").select("doc_id", "cs")
      val per = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(words(col("text"))).cast("long").as("n_tok"))
        .join(labeled, Seq("doc_id"), "left")
        .withColumn("cs", coalesce(col("cs"), lit(1L)))
        .withColumn("eff_i4", expr("n_tok * 10000L div cs"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"), sum("eff_i4").as("eff_i4"))
        .withColumn("wt", coalesce(
          nullif(regexp_extract(col("source"), "([0-9]+)$", 1), lit(""))
            .cast("long") + 1L, lit(1L)))
      val tot = per.agg(sum("wt").cast("long").as("wsum"))
      per.crossJoin(broadcast(tot))
        .withColumn("target_tokens", expr(s"$budget * wt div wsum"))
        .select(col("source"), col("docs"),
          roundf(col("eff_i4") / lit(10000.0), 4).as("eff_tokens"),
          col("target_tokens"),
          roundf(least(lit(1.0),
            col("target_tokens") * lit(10000.0) / col("eff_i4")), 4)
            .as("sample_rate"),
          expr("greatest(1L, (target_tokens * 10000 + eff_i4 - 1)" +
            " div eff_i4)").as("epochs"))
        .orderBy("source")
    }),

    // INCREMENTAL connected components — the maintenance shape of
    // d_clusters, completing the incremental dedup family (index:
    // d_index_maintained; semantic: d_semdedup_incr; clusters: here).
    // The corpus labeling is a MAINTAINED parquet (the previous run's
    // output — written once in phase 1, read back so the consumed plan
    // is the reuse plan); a new doc batch lands and only DELTA pairs
    // (≥1 new endpoint — in production they fall out of the maintained
    // band index probe, exactly d_incremental's output) are processed:
    // 1. CONTRACT each delta edge to its endpoints' current labels
    //    (new or previously-isolated nodes label as themselves). The
    //    corpus labeling is probed with a broadcast SEMI join — the
    //    big side streams, nothing corpus-sized shuffles.
    // 2. Run the pointer-doubling CC fixpoint on the CONTRACTED label
    //    graph — |Δ|-proportional, never corpus-sized: merging two
    //    million-doc clusters costs ONE contracted edge, because old
    //    components enter as single label nodes.
    // 3. Relabel via the (old label → merged label) mapping — a
    //    broadcast hash left join over the maintained labeling, again
    //    shuffle-free. Labels are component-min node ids, so min over
    //    merged old labels IS the global component min and the output
    //    contract (cluster_id = min doc_id, is_canonical) is preserved
    //    exactly. At 100 TB, store the labeling partitioned by label
    //    and rewrite only partitions the mapping touches.
    // Oracle = d_clusters' recursive-CC truth over ALL pairs verbatim:
    // a lost merge, a phantom merge, or a wrong canonical goes
    // hash-red.
    "d_clusters_incr" -> ((s, d) => {
      val maxId = t(s, d, "documents").agg(max("doc_id")).head.getLong(0)
      val splitId = maxId * 4 / 5
      val pairs = queries("d_minhash_pairs")(s, d).select("a", "b")
        // consumed by both the corpus and delta branches — persist so
        // the minhash chain runs once (test-rig shape only: in
        // production the two pair sets come from different sources)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val corpusPairs = pairs
        .filter(col("a") < splitId && col("b") < splitId)
      val deltaPairs = pairs
        .filter(col("a") >= splitId || col("b") >= splitId)
      val base = Replay.scratchDir("cc_incr", d)
      val lblPath = new java.io.File(base, "labels").getPath
      connectedComponents(corpusPairs)
        .write.mode("overwrite").parquet(lblPath)
      val prev = s.read.parquet(lblPath) // (node, lbl) maintained
      val eps = deltaPairs.select(explode(array(col("a"), col("b")))
        .as("node")).distinct()
      val hit = prev.join(broadcast(eps), Seq("node"), "left_semi")
      val epLbl = eps.join(hit, Seq("node"), "left")
        .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
      val contracted = deltaPairs
        .join(epLbl.select(col("node").as("a"), col("lbl").as("la")), "a")
        .join(epLbl.select(col("node").as("b"), col("lbl").as("lb")), "b")
        .select(col("la"), col("lb"))
        .filter(col("la") =!= col("lb")).distinct()
      val merged = connectedComponents(
          contracted.select(col("la").as("a"), col("lb").as("b")))
        .select(col("node").as("old"), col("lbl").as("nw"))
      val universe = prev.unionByName(
        epLbl.join(prev.select("node"), Seq("node"), "left_anti")
          .select(col("node"), col("node").as("lbl")))
      universe
        .join(broadcast(merged), universe("lbl") === merged("old"), "left")
        .select(col("node").as("doc_id"),
          coalesce(col("nw"), col("lbl")).as("cluster_id"),
          (col("node") === coalesce(col("nw"), col("lbl"))).cast("int")
            .as("is_canonical"))
        .orderBy("doc_id")
    }),

    // SimHash: 60-bit binary-weight fingerprint over the distinct word set
    // (bit b set iff more than half the words hash with bit b set) —
    // near-identical docs get identical fingerprints, so near-dup grouping
    // becomes a plain groupBy on the fingerprint at any scale.
    "d_simhash" -> ((s, d) => simhashFp(s, d).orderBy("doc_id")),

    // SimHash near-dup at Hamming distance 1..3 (the fingerprint-proximity
    // complement of d_simhash's exact-match grouping), after Manku/Jain/
    // Das Sarma, "Detecting Near-Duplicates for Web Crawling", WWW 2007:
    // split the 60-bit fingerprint into 4 pigeonhole blocks of 15 bits —
    // any pair within Hamming 3 differs in at most 3 blocks, so it MUST
    // agree exactly on at least one block → candidates come from a plain
    // equi-join on (block_idx, block_value), never a bit-twiddling cross
    // join. Two scale decisions from the paper: (1) the block join runs
    // over DISTINCT fingerprints — identical-fingerprint cliques (38k
    // doc-pairs at sf0.1, and far bigger in a real crawl) are d_simhash's
    // business and never become candidates here; (2) doc expansion happens
    // LAST, joining the surviving fingerprint pairs (13.5k at sf0.1, vs
    // 586k candidates — measured) back to doc ids, so the widest join in
    // the plan carries 8-byte fingerprints, not documents.
    "d_simhash_hamming" -> ((s, d) => {
      val fp = simhashFp(s, d) // (doc_id, simhash)
      val blocks = fp.select(col("simhash")).distinct()
        .select(col("simhash"),
          explode(sequence(lit(0), lit(3))).as("blk"))
        .withColumn("key",
          expr("shiftright(simhash, blk * 15) & 32767"))
      val cand = blocks.as("x").join(blocks.as("y"),
          col("x.blk") === col("y.blk") && col("x.key") === col("y.key") &&
            col("x.simhash") < col("y.simhash"))
        .select(col("x.simhash").as("fa"), col("y.simhash").as("fb"))
        .distinct() // a pair can agree on up to 3 blocks
        .withColumn("hamming", expr("CAST(bit_count(fa ^ fb) AS INT)"))
        .filter(col("hamming") <= 3) // >=1 is structural: fa < fb
      cand
        .join(fp.select(col("doc_id").as("da"), col("simhash").as("fa")),
          "fa")
        .join(fp.select(col("doc_id").as("db"), col("simhash").as("fb")),
          "fb")
        .select(least(col("da"), col("db")).as("a"),
          greatest(col("da"), col("db")).as("b"), col("hamming"))
        .orderBy("a", "b")
    }),

    // N-gram (word-bigram) Jaccard with length blocking: candidates share a
    // 20-token length block (±1 via a two-block explode — near-dups can't
    // differ by ≥20 tokens), then exact Jaccard ≥ 0.4. The block key bounds
    // bucket sizes, keeping the self-join linear-ish in practice.
    "d_ngram_jaccard" -> ((s, d) => {
      // Secondary block key: the BOTTOM-2 bigram hashes mod NgramSalt.
      // Doc lengths concentrate (sf0.1: 5000 docs over only 6 length
      // blocks), so the primary len/20 block alone leaves O((n/6)²)
      // buckets — the bottom-sketch keys split each length block
      // ~NgramSalt ways while near-dups keep colliding: a pair with
      // Jaccard j shares its min-hashed bigram with probability j (the
      // minhash identity) and either of its bottom-2 with ≈ 1-(1-j)², and
      // an edit anywhere BUT those bigrams never moves the keys (unlike a
      // first-token key, which any prefix edit breaks). Worst bucket is
      // bounded by the hottest bigram's document frequency (6.8% here),
      // not by the hottest length block. Mirrored in the oracle.
      // Verify runs on SORTED LONG HASH arrays, not the bigram strings:
      // Jaccard over distinct 60-bit bigram hashes equals Jaccard over
      // the bigrams themselves (a collision would need ~2^-60 luck, and
      // both engines would agree even then since they hash identically),
      // and intersecting longs measured ~2.3× cheaper than strings across
      // the 845k candidate pairs. Sorting once also makes the bottom-2
      // keys free (the first two elements). `base` is persisted — three
      // branches read it (block keys + both verify sides), and shingling
      // + hashing 270k bigrams per scan is the dominant per-pass cost;
      // candidates are pre-distinct'd because the verify joins SHUFFLE
      // array-carrying rows here (documents are too big to auto-
      // broadcast, unlike d_embed_pairs' vectors), so fewer rows into
      // the join beats deduping later.
      val base = tPar(s, d, "documents")
        .select(col("doc_id"),
          // fused expression: sorted hashes of distinct bigrams in one
          // JVM pass (bit-identical to the array_sort∘transform∘
          // array_distinct pipeline it replaced — GraftFunctionsSpec
          // asserts it; that pipeline materialized a string array per
          // row and re-walked it through three HOF boundaries)
          org.apache.spark.sql.graftshim.ShingleHashes
            .shingleHashes(split(col("text"), " "), 2).as("bgh"),
          expr("size(split(text, ' ')) DIV 20").as("blk"))
        .withColumn("ms",
          transform(slice(col("bgh"), 1, 2), h => pmod(h, lit(NgramSalt))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val blocked = base.select(col("doc_id"),
        explode(flatten(transform(col("ms"), m => array(
          concat_ws(":", col("blk"), m),
          concat_ws(":", col("blk") + 1, m))))).as("bk"))
        .distinct()
      val cand = blocked.as("x").join(blocked.as("y"),
          col("x.bk") === col("y.bk") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .distinct()
      val inter = size(array_intersect(col("ba"), col("bb")))
      val jac = inter.cast("double") /
        (size(col("ba")) + size(col("bb")) - inter).cast("double")
      cand
        .join(base.select(col("doc_id").as("a"), col("bgh").as("ba")), "a")
        .join(base.select(col("doc_id").as("b"), col("bgh").as("bb")), "b")
        .select(col("a"), col("b"), roundf(jac, 4).as("jaccard"))
        .filter(col("jaccard") >= 0.4)
        .orderBy("a", "b")
    }),

    // Embedding-cosine pairs ≥ 0.45, EXACT, via a blocked triangle
    // self-join. Why not LSH candidates: 0.45 is below the
    // LSH-discriminable regime on this corpus — per-plane agreement for
    // cos=0.45 is 1-acos(0.45)/π ≈ 0.65 vs 0.5 for random pairs, and the
    // recall-preserving operating point (24 planes, 6 bands of 4, multi-
    // probe Ham≤1; Lv et al. VLDB'07) was MEASURED to accept 1.77M of the
    // 2M possible sf0.1 pairs (88%) — more work than brute force at every
    // scale. Label-cell (IVF) blocking recalls only 15/144 pairs (the
    // qualifying pairs cross labels). Prefix filtering (Bayardo et al.
    // WWW'07) needs sparsity these dense 64-dim vectors don't have. So an
    // exact answer at this threshold inherently examines all pairs; what
    // changes with scale is the SHAPE:
    //  - small side fits the broadcast budget → broadcast nested-loop is
    //    the OPTIMAL plan (streams the probe side against an in-memory
    //    block, codegen'd dot in the loop, zero shuffle — measured 2×
    //    faster than the blocked shuffle at sf0.1);
    //  - beyond the budget → BLOCKED triangle join: rows land in B blocks
    //    by vec_id % B, each row replicates to its (i≤j) block-pair keys,
    //    pair enumeration is a plain equi-join on the block-pair id —
    //    shuffle is (B+1)·n rows, every task holds two bounded blocks,
    //    and nothing materializes a whole side in one JVM (that broadcast
    //    is what mechanically dies at 100 TB; size B as
    //    n·rowBytes / targetBlockBytes).
    // The switch reads the parquet row count (metadata-only). For
    // production near-dup thresholds (cos ≥ 0.9, agreement ≈ 0.86) use
    // Vectors.lshCandidatePairs with wide bands instead — DedupSpec keeps
    // it honest as the ANN yardstick. Both shapes are result-invariant,
    // so the oracle stays the plain quadratic SQL. Norms precomputed once
    // per vector; dots are ordered left-folds of floats (bit-identical to
    // the oracle's list fold).
    "d_embed_pairs" -> ((s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").as("v"),
        sqrt(fdot(col("embedding"), col("embedding"))).as("nrm"))
      val cos = (va: Column, na: Column, vb: Column, nb: Column) =>
        roundf(fdot(va, vb) / (na * nb), 4).as("cos")
      // shape switch reads parquet footers only (no extra Spark job);
      // the threshold is a sys prop so DedupSpec can FORCE the triangle
      // branch on small fixtures and prove it pair-for-pair against
      // brute force (default ≈ 26 MB of 64-dim floats)
      val n = parquetRowCount(s, s"$d/embeddings.parquet")
      val broadcastMax =
        sys.props.getOrElse("graft.embed.broadcastMax", "100000").toLong
      val pairs = if (n <= broadcastMax) {
        val x = e.select(col("vec_id").as("a"), col("v").as("va"),
          col("nrm").as("na"))
        val y = e.select(col("vec_id").as("b"), col("v").as("vb"),
          col("nrm").as("nb"))
        x.join(broadcast(y), col("a") < col("b"))
          .select(col("a"), col("b"),
            cos(col("va"), col("na"), col("vb"), col("nb")))
      } else {
        val B = 32
        val eb = e.withColumn("blk",
          pmod(col("vec_id"), lit(B)).cast("int"))
        // row in block b → left side of pairs (b, j) for j ∈ [b, B);
        //                  right side of pairs (i, b) for i ∈ [0, b]
        val left = eb.select(col("vec_id").as("a_id"), col("v").as("va"),
            col("nrm").as("na"), col("blk").as("bi"),
            explode(sequence(col("blk"), lit(B - 1))).as("bj"))
          .withColumn("bp", col("bi") * B + col("bj"))
        val right = eb.select(col("vec_id").as("b_id"), col("v").as("vb"),
            col("nrm").as("nb"), col("blk").as("bj2"),
            explode(sequence(lit(0), col("blk"))).as("bi2"))
          .withColumn("bp", col("bi2") * B + col("bj2"))
        left.join(right, "bp")
          // diagonal blocks (i == j) hold both copies of a pair — keep one
          .filter(col("bi") < col("bj2") || col("a_id") < col("b_id"))
          .select(least(col("a_id"), col("b_id")).as("a"),
            greatest(col("a_id"), col("b_id")).as("b"),
            cos(col("va"), col("na"), col("vb"), col("nb")))
      }
      pairs.filter(col("cos") >= 0.45).orderBy("a", "b")
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    // embedding space with the coarse quantizer the ANN index already
    // trains (Vectors.ivfAssign — label-seeded centroids + 1 Lloyd
    // round), then dedupe ONLY within clusters: v is dropped when some
    // cluster-mate u with u.vec_id < v.vec_id has cos(u,v) ≥ 0.4 on the
    // 1e-4 grid (grid-then-compare makes the threshold engine-exact);
    // dup_of records the smallest such u. The clustering bounds the
    // quadratic: cost is Σ|cell|² instead of n² — the property that
    // makes semantic dedup feasible at 100 TB, where a giant skewed
    // cell would be sub-sharded (the d_embed_pairs block-triangle
    // shape applied per cell). Cross-cluster near-dups are invisible
    // by DESIGN (that is SemDeDup's approximation); the within/global
    // recall is measured in DedupSpec, not asserted here.
    // Shape: centroids broadcast (|cells| rows), assignment never
    // shuffles the vector table; the pair join shuffles it once on
    // cluster.
    "d_semdedup" -> ((s, d) => {
      // the assignment feeds THREE consumers (both sides of the pair
      // join + the final left join); without materialization each one
      // replays the full quantizer chain — 3 extra corpus scans and 6
      // centroid crosses in the audited plan. localCheckpoint cuts that
      // to one pass (the g_labelprop edge-list move; on a real cluster
      // swap for a reliable checkpoint to survive executor loss).
      val asg = Vectors.ivfAssign(t(s, d, "embeddings"), lloydRounds = 1)
        .localCheckpoint()
      val a = asg.select(col("vec_id").as("u"), col("v").as("vu"),
        col("cluster").as("cu"))
      val b = asg.select(col("vec_id"), col("v"), col("cluster"))
      val cos = roundf(fdot(col("vu"), col("v")) /
        (sqrt(fdot(col("vu"), col("vu"))) * sqrt(fdot(col("v"), col("v")))),
        4)
      val dup = a.join(b, col("cu") === col("cluster") &&
          col("u") < col("vec_id"))
        .filter(cos >= 0.4)
        .groupBy("vec_id").agg(min(col("u")).as("dup_of"))
      asg.select(col("vec_id"), col("cluster"))
        .join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"), col("dup_of"),
          col("dup_of").isNull.cast("int").as("keep"))
        .orderBy("vec_id")
    }),

    // Incremental SemDeDup — the ingest shape d_incremental gives the
    // minhash index, applied to the semantic index: the corpus's coarse
    // quantizer (centroids) and inverted file (vec_id, v, cluster) are
    // MAINTAINED as parquet; a new batch (last fifth of vec_ids, the
    // d_incremental split) ranks against the read-back centroids —
    // never retraining — and is checked only against the MEMBERS OF ITS
    // OWN CELL in the read-back inverted file. At 100 TB each ingest
    // batch pays O(batch · |cells|) assignment + matched-cell pairs;
    // the corpus is never rescanned and never re-clustered. The oracle
    // replays the corpus-restricted Lloyd chain (shared ivfRoundsSql)
    // plus the batch ranking, so a drift in EITHER maintained artifact
    // (centroids or inverted file) goes hash-red.
    "d_semdedup_incr" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val split = e.agg(max("vec_id")).head.getLong(0) * 4 / 5
      val corpus = e.filter(col("vec_id") < split)
      val batch = e.filter(col("vec_id") >= split)
      val base = Replay.scratchDir("semdedup_idx", d)
      val centPath = new java.io.File(base, "centroids").getPath
      val idxPath = new java.io.File(base, "ivf").getPath
      Vectors.ivfCentroids(corpus, lloydRounds = 1)
        .write.mode("overwrite").parquet(centPath)
      val cent = Vectors.Centroids.of(s.read.parquet(centPath))
      cent.assign(corpus).write.mode("overwrite").parquet(idxPath)
      val corpusIdx = s.read.parquet(idxPath)
      // two consumers (dup join + final projection) — materialize once
      val basg = cent.assign(batch).localCheckpoint()
      val cos = roundf(fdot(col("vu"), col("v")) /
        (sqrt(fdot(col("vu"), col("vu"))) *
          sqrt(fdot(col("v"), col("v")))), 4)
      val dup = corpusIdx
        .select(col("vec_id").as("u"), col("v").as("vu"),
          col("cluster").as("cu"))
        .join(basg, col("cu") === col("cluster"))
        .filter(cos >= 0.4)
        .groupBy("vec_id").agg(min(col("u")).as("dup_of"))
      basg.select(col("vec_id"), col("cluster"))
        .join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"), col("dup_of"),
          col("dup_of").isNull.cast("int").as("keep"))
        .orderBy("vec_id")
    }),

    // Production-threshold embedding near-dup (cos ≥ 0.9): the LSH-
    // bucketed shape that is the 100 TB path once the threshold is a
    // real near-dup operating point. d_embed_pairs (0.45) had to stay
    // exact because weak similarity defeats banding (a band accepts 88%
    // of RANDOM pairs there); at 0.9 per-plane agreement is ≈0.86 and
    // 12-bit bands reject ~95% of random pairs — candidates come from
    // Vectors.lshCandidatePairs' (band, key) equi-join (multi-probe,
    // Hamming ≤ 1), then an exact codegen'd-fdot verify keeps only true
    // pairs. 16 bands × 12 rows is sized so measured recall vs the
    // quadratic truth is 1.0 on this corpus (asserted in DedupSpec —
    // misses would go hash-red here, since the oracle IS the quadratic
    // SQL, deliberately: the green row proves end-to-end that banding
    // loses nothing at this operating point).
    //
    // The corpus is embedLshCorpus (planted deterministic twins — see
    // its doc); planted cosines measure 0.904–0.959, inside the
    // production band, NOT trivially at 1.0 — and at sf0.1 two planted
    // pairs legitimately land below 0.9, so the threshold demonstrably
    // bites (truth 198 of 200 planted; LSH output matches pair-for-pair).
    "d_embed_lsh" -> ((s, d) => {
      val corpus = embedLshCorpus(s, d)
      val cand = Vectors.lshCandidatePairs(corpus, "vec_id",
        nPlanes = 192, rowsPerBand = 12, probeHam = 1)
      val e = corpus.withColumn("nrm", sqrt(fdot(col("v"), col("v"))))
      val ea = e.select(col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na"))
      val eb = e.select(col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb"))
      cand.join(ea, "a").join(eb, "b")
        .select(col("a"), col("b"),
          roundf(fdot(col("va"), col("vb")) / (col("na") * col("nb")), 4)
            .as("cos"))
        .filter(col("cos") >= 0.9)
        .orderBy("a", "b")
    }),

    // The 0.85 operating point, solved with MULTI-PROBE instead of more
    // bands: 8 bands × 12 rows (HALF d_embed_lsh's signature compute and
    // stored-index size) at probe radius Hamming ≤ 2. At cos 0.85 the
    // per-plane agreement is ≈0.82, so a 12-bit band matches with
    // p^12 ≈ 0.10 — at 8 bands, single-bit probing leaves a ~1–3% miss
    // probability per borderline pair (DedupSpec's ladder MEASURES the
    // recall gap), while the Ham≤2 ball (1+12+66 = 79 keys/band) drives
    // the analytic miss below 10⁻³ per pair. The probe fan-out is a
    // constant (8×79 = 632 probe rows/vector vs d_embed_lsh's 16×13 =
    // 208) but the stored side — the term that scales with corpus size
    // at 100 TB, and the one a persisted ANN index pays on disk — halves
    // to 8 rows/vector. Same (band, key) equi-join shape, never
    // all-pairs (PlanAuditSpec). Corpus = embedLshCorpus at mRange 29
    // (twins straddle the threshold: at sf0.01, 45 of 50 planted pairs
    // land ≥ 0.85 and 5 below, so the cut demonstrably bites); oracle =
    // plain quadratic truth, so a probe-radius recall miss goes
    // hash-red, not footnoted.
    "d_embed_lsh2" -> ((s, d) => {
      val corpus = embedLshCorpus(s, d, mRange = 29)
      val cand = Vectors.lshCandidatePairs(corpus, "vec_id",
        nPlanes = 96, rowsPerBand = 12, probeHam = 2)
      val e = corpus.withColumn("nrm", sqrt(fdot(col("v"), col("v"))))
      val ea = e.select(col("vec_id").as("a"), col("v").as("va"),
        col("nrm").as("na"))
      val eb = e.select(col("vec_id").as("b"), col("v").as("vb"),
        col("nrm").as("nb"))
      cand.join(ea, "a").join(eb, "b")
        .select(col("a"), col("b"),
          roundf(fdot(col("va"), col("vb")) / (col("na") * col("nb")), 4)
            .as("cos"))
        .filter(col("cos") >= 0.85)
        .orderBy("a", "b")
    }))

  /** d_embed_lsh's corpus: the embeddings table plus a deterministic
    * perturbed twin of every 10th vector (the testdata has NO natural
    * pairs at cos ≥ 0.9 — max natural cosine is 0.51 at sf0.01 — so,
    * like m_decode_real's synthesized PNGs, the production-threshold
    * pairs are planted in-plan and mirrored exactly by the oracle):
    * v'_j = float(v_j · (1 + ((id·7 + j·13) mod mRange − (mRange−1)/2)
    * /16)), twin id = id + 1,000,000. Each factor is IEEE-exact (m/16 is
    * a dyadic rational; one double multiply, one float rounding —
    * identical in every engine), so both sides synthesize bit-identical
    * twins. `mRange` sets the operating point: 21 (default) plants
    * d_embed_lsh's cos 0.904–0.959 production band; 29 widens the
    * perturbation to straddle 0.85 (measured 0.81–0.93 at sf0.01) for
    * d_embed_lsh2 and the multi-probe recall ladder. Odd mRange keeps
    * the m distribution symmetric. Shared by the queries and DedupSpec's
    * recall measurements.
    */
  private[graft] def embedLshCorpus(s: org.apache.spark.sql.SparkSession,
      d: String, mRange: Int = 21): DataFrame = {
    require(mRange % 2 == 1, s"mRange must be odd, got $mRange")
    val base = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"))
    // The +1,000,000 twin offset is hardcoded in BOTH this plan and the
    // DuckDB oracle SQL, so an id collision at a larger scale factor
    // would silently conflate twins with real vectors on both sides and
    // the oracle could never catch it — fail loudly instead. A one-value
    // max() fetch (parquet footer stats make this a metadata-cheap scan),
    // not a driver-side data loop.
    val maxId = base.agg(max("vec_id")).head.getLong(0)
    require(maxId < 1000000L,
      s"embedLshCorpus twin-id offset collides: max(vec_id)=$maxId >= 1e6" +
        " — raise the offset here AND in the d_embed_lsh oracle SQL")
    val half = (mRange - 1) / 2
    val perturbed = base.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"),
        transform(col("v"), (x, j) => (x.cast("double") *
          (lit(1.0) +
            ((col("vec_id") * 7 + j * 13) % mRange - half).cast("double") /
              lit(16.0))).cast("float")).as("v"))
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("v"))
    base.unionByName(perturbed)
  }

  // Canonical shingle enumeration, matching the Spark side for ALL doc
  // lengths: i ∈ [1, max(len-k+1, 1)] — DuckDB range() is upper-exclusive,
  // hence the +1; short docs yield one truncated shingle, not zero.
  private val shingleSql =
    """list_distinct([array_to_string(w[i:i+4], ' ')
         for i in range(1, greatest(len(w) - 4, 1) + 1)])"""

  // TRUE components, as a recursive reachability closure (UNION
  // deduplicates, so the iteration terminates): min reachable node id
  // == the Spark fixpoint's min component label. Shared verbatim by
  // d_clusters and d_clusters_incr.
  /** d_softdedup / d_softdedup_maintained shared oracle. */
  private lazy val softdedupSql =
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($minhashPairsSql)),
         edges AS (SELECT a, b FROM pairs
                   UNION ALL SELECT b AS a, a AS b FROM pairs),
         r(node, m) AS (
           SELECT a AS node, a AS m FROM edges
           UNION
           SELECT r.node, e.b AS m FROM r JOIN edges e ON e.a = r.m),
         cl AS (SELECT node AS doc_id, min(m) AS cluster_id
                FROM r GROUP BY node),
         sz AS (SELECT cluster_id, COUNT(*) AS cluster_size
                FROM cl GROUP BY 1)
         SELECT d.doc_id,
           COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
           COALESCE(sz.cluster_size, 1) AS cluster_size,
           floor(1.0 / COALESCE(sz.cluster_size, 1) * 10000.0 + 0.5)
             / 10000.0 AS weight,
           floor(len(string_split(d.text, ' '))
               / COALESCE(sz.cluster_size, 1)::DOUBLE
               * 10000.0 + 0.5) / 10000.0 AS w_tokens
         FROM documents d
         LEFT JOIN cl ON cl.doc_id = d.doc_id
         LEFT JOIN sz ON sz.cluster_id = cl.cluster_id
         ORDER BY d.doc_id"""

  private lazy val ccTruthSql =
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($minhashPairsSql)),
       edges AS (SELECT a, b FROM pairs
                 UNION ALL SELECT b AS a, a AS b FROM pairs),
       r(node, m) AS (
         SELECT a AS node, a AS m FROM edges
         UNION
         SELECT r.node, e.b AS m FROM r JOIN edges e ON e.a = r.m)
       SELECT node AS doc_id, min(m) AS cluster_id,
         CASE WHEN node = min(m) THEN 1 ELSE 0 END AS is_canonical
       FROM r GROUP BY node ORDER BY doc_id"""

  lazy val oracles: Map[String, String] = Map(
    "d_exact" ->
      """WITH u AS (
           SELECT * FROM documents
           UNION ALL
           SELECT * FROM documents WHERE doc_id % 7 = 0)
         SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
         FROM u GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY keep_id""",
    "d_minhash_pairs" -> minhashPairsSql,
    // the verified pair chain verbatim, annotated with each side's
    // deterministic hash-mod-10 split and filtered to straddlers
    "d_split_leak" ->
      s"""WITH p AS (SELECT a, b, jaccard FROM ($minhashPairsSql)),
         sp AS (
           SELECT a, b, jaccard,
             CASE WHEN ('0x' || substr(md5(a::VARCHAR), 1, 15))::BIGINT
                    % 10 <= 7 THEN 'train'
                  WHEN ('0x' || substr(md5(a::VARCHAR), 1, 15))::BIGINT
                    % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split_a,
             CASE WHEN ('0x' || substr(md5(b::VARCHAR), 1, 15))::BIGINT
                    % 10 <= 7 THEN 'train'
                  WHEN ('0x' || substr(md5(b::VARCHAR), 1, 15))::BIGINT
                    % 10 = 8 THEN 'val'
                  ELSE 'test' END AS split_b
           FROM p)
         SELECT a, b, jaccard, split_a, split_b FROM sp
         WHERE split_a != split_b ORDER BY a, b""",
    "d_minhash_idf" -> idfPairsSql,
    "d_incremental" -> incrementalPairsSql,
    // identical truth: the maintained index must yield exactly the
    // corpus×batch pairs the batch-built index yields
    "d_index_maintained" -> incrementalPairsSql,
    // identical truth again: the two-generation build composes to
    // exactly the batch-built index's contents, so cold AND warm ticks
    // check against the same corpus×batch pairs
    "d_index_incr2" -> incrementalPairsSql,
    // the netted index must equal an index over the corpus MINUS the
    // deleted docs: the candidate clause excludes them from the corpus
    // side, everything downstream is the shared verify chain
    "d_index_deletes" -> indexDeletesSql,
    "d_clusters" -> ccTruthSql,
    // identical truth: the incremental merge must land exactly where a
    // from-scratch CC over all pairs lands
    "d_clusters_incr" -> ccTruthSql,
    // recursive-CC truth + the t_tfidf rational score, same
    // (score DESC, word ASC) ties
    "d_cluster_topics" ->
      s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($minhashPairsSql)),
         edges AS (SELECT a, b FROM pairs
                   UNION ALL SELECT b AS a, a AS b FROM pairs),
         r(node, m) AS (
           SELECT a AS node, a AS m FROM edges
           UNION
           SELECT r.node, e.b AS m FROM r JOIN edges e ON e.a = r.m),
         cl AS (
           SELECT node AS doc_id, min(m) AS cluster_id
           FROM r GROUP BY node),
         toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
         dfreq AS (
           SELECT word, COUNT(*) AS df
           FROM (SELECT DISTINCT doc_id, word FROM toks) GROUP BY 1),
         n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
         tf AS (
           SELECT cl.cluster_id, t.word, COUNT(*) AS tf
           FROM toks t JOIN cl USING (doc_id) GROUP BY 1, 2),
         sizes AS (
           SELECT cluster_id, COUNT(*) AS n_members FROM cl GROUP BY 1),
         scored AS (
           SELECT tf.cluster_id, tf.word,
             floor(tf.tf::DOUBLE * n.n_docs / d.df::DOUBLE
               * 10000.0 + 0.5) / 10000.0 AS score
           FROM tf JOIN dfreq d USING (word), n),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY cluster_id
             ORDER BY score DESC, word ASC) AS rn
           FROM scored)
         SELECT rk.cluster_id, s.n_members, rk.word, rk.score, rk.rn
         FROM ranked rk JOIN sizes s USING (cluster_id)
         WHERE rk.rn <= 3 ORDER BY rk.cluster_id, rk.rn""",
    // the kept corpus = everything except clustered non-canonical docs
    // (same recursive-CC truth, same min-id keep rule)
    "d_dedup_apply" ->
      s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($minhashPairsSql)),
         edges AS (SELECT a, b FROM pairs
                   UNION ALL SELECT b AS a, a AS b FROM pairs),
         r(node, m) AS (
           SELECT a AS node, a AS m FROM edges
           UNION
           SELECT r.node, e.b AS m FROM r JOIN edges e ON e.a = r.m),
         dropped AS (SELECT node FROM r GROUP BY node
                     HAVING node != min(m))
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT node FROM dropped)
         ORDER BY doc_id""",
    // same recursive-CC truth; weight = 1/|cluster|, unclustered = 1
    "d_softdedup" -> softdedupSql,
    // the incremental labeling must land exactly where the from-scratch
    // CC lands — d_softdedup's oracle verbatim
    "d_softdedup_maintained" -> softdedupSql,
    // same CC truth; fixed-point effective mass, t_mixture's budgeting
    "d_mixture_soft" ->
      s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($minhashPairsSql)),
         edges AS (SELECT a, b FROM pairs
                   UNION ALL SELECT b AS a, a AS b FROM pairs),
         r(node, m) AS (
           SELECT a AS node, a AS m FROM edges
           UNION
           SELECT r.node, e.b AS m FROM r JOIN edges e ON e.a = r.m),
         cl AS (SELECT node AS doc_id, min(m) AS cluster_id
                FROM r GROUP BY node),
         sz AS (SELECT cluster_id, COUNT(*) AS cs FROM cl GROUP BY 1),
         per AS (
           SELECT d.source,
             len(string_split(d.text, ' '))::BIGINT * 10000
               // COALESCE(sz.cs, 1) AS eff_i4
           FROM documents d
           LEFT JOIN cl ON cl.doc_id = d.doc_id
           LEFT JOIN sz ON sz.cluster_id = cl.cluster_id),
         agg AS (
           SELECT source, COUNT(*) AS docs,
             CAST(SUM(eff_i4) AS BIGINT) AS eff_i4,
             COALESCE(CAST(NULLIF(regexp_extract(source,
               '([0-9]+)$$', 1), '') AS BIGINT) + 1, 1) AS wt
           FROM per GROUP BY source),
         w AS (SELECT CAST(SUM(wt) AS BIGINT) AS wsum FROM agg)
         SELECT source, docs,
           floor(eff_i4 / 10000.0 * 10000.0 + 0.5) / 10000.0
             AS eff_tokens,
           42000 * wt // wsum AS target_tokens,
           floor(LEAST(1.0, (42000 * wt // wsum) * 10000.0
             / eff_i4::DOUBLE) * 10000.0 + 0.5) / 10000.0
             AS sample_rate,
           GREATEST(1, ((42000 * wt // wsum) * 10000 + eff_i4 - 1)
             // eff_i4) AS epochs
         FROM agg, w ORDER BY source""") ++ moreOracles

  /** The MinHash pipeline CTEs with a pluggable candidate-pair clause —
    * the self-join oracle and the incremental (corpus×batch) oracle
    * share every stage except which banded pairs count as candidates.
    * `spl` computes the incremental split (max_id·4/5, mirroring the
    * Scala Long floor division with //); unused by the self-join. */
  private def minhashPairsSqlCand(candSql: String): String =
      s"""WITH sh AS (
           SELECT doc_id, $shingleSql AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents)),
         spl AS (SELECT max(doc_id) * 4 // 5 AS v FROM documents),
         mh AS (
           SELECT doc_id, sh,
             [list_aggregate([(h * ((k+1)*1299709) + k*15485863)
                % 2147483647 for h in h0s], 'min')
              for k in range(0, 12)] AS mh
           FROM (SELECT doc_id, sh,
                   [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647
                    for x in sh] AS h0s
                 FROM sh)),
         bands AS (
           SELECT doc_id,
             t.b AS band,
             ('0x' || substr(md5(t.b || '|' ||
               array_to_string(mh[t.b*3+1:t.b*3+3], ',')), 1, 15))::BIGINT
               AS bh
           FROM mh, range(0, 4) t(b)),
         cand AS ($candSql),
         j AS (
           SELECT a, b,
             len(list_intersect(sa.sh, sb.sh))::DOUBLE /
               (len(sa.sh) + len(sb.sh)
                - len(list_intersect(sa.sh, sb.sh))) AS jac
           FROM cand
             JOIN sh sa ON sa.doc_id = a
             JOIN sh sb ON sb.doc_id = b)
         SELECT a, b, floor(jac * 10000.0 + 0.5) / 10000.0 AS jaccard
         FROM j WHERE floor(jac * 10000.0 + 0.5) / 10000.0 >= 0.5
         ORDER BY a, b"""

  private lazy val minhashPairsSql: String = minhashPairsSqlCand(
    """SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       FROM bands x JOIN bands y
         ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id""")

  private lazy val incrementalPairsSql: String = minhashPairsSqlCand(
    """SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       FROM bands x JOIN bands y
         ON x.band = y.band AND x.bh = y.bh
       CROSS JOIN spl
       WHERE x.doc_id < spl.v AND y.doc_id >= spl.v""")

  /** The deletes mirror: the corpus side excludes the retracted docs
    * (doc_id % 9 == 0 within the first corpus micro-batch — max·2//5
    * mirrors the Scala Long floor division).
    */
  private lazy val indexDeletesSql: String = minhashPairsSqlCand(
    """SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       FROM bands x JOIN bands y
         ON x.band = y.band AND x.bh = y.bh
       CROSS JOIN spl
       WHERE x.doc_id < spl.v AND y.doc_id >= spl.v
         AND NOT (x.doc_id <
                    (SELECT max(doc_id) * 2 // 5 FROM documents)
                  AND x.doc_id % 9 = 0)""")

  /** The IDF-weighted mirror: same shingle/hash/band/verify stages as
    * minhashPairsSqlCand, with the DF pass, rare filter (df ≤
    * max(2, |docs|/20)), and no-rare-shingles fallback inserted before
    * the signature minima — the exact stages idfBands runs. */
  private lazy val idfPairsSql: String =
    s"""WITH sh AS (
         SELECT doc_id, $shingleSql AS sh
         FROM (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents)),
       mdf AS (SELECT greatest(2, count(*) // 20) AS v FROM documents),
       ex AS (
         SELECT doc_id,
           ('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647 AS h0
         FROM (SELECT doc_id, unnest(sh) AS x FROM sh)),
       dft AS (SELECT h0, COUNT(*) AS df FROM ex GROUP BY h0),
       rc AS (
         SELECT e.doc_id,
           SUM(CASE WHEN d.df <= mdf.v THEN 1 ELSE 0 END) AS nrare
         FROM ex e JOIN dft d USING (h0), mdf GROUP BY e.doc_id),
       keep AS (
         SELECT e.doc_id, e.h0
         FROM ex e JOIN dft d USING (h0)
           JOIN rc r ON r.doc_id = e.doc_id, mdf
         WHERE d.df <= mdf.v OR r.nrare = 0),
       keepl AS (SELECT doc_id, list(h0) AS h0s FROM keep GROUP BY doc_id),
       mh AS (
         SELECT doc_id,
           [list_aggregate([(h * ((k+1)*1299709) + k*15485863)
              % 2147483647 for h in h0s], 'min')
            for k in range(0, 12)] AS mh
         FROM keepl),
       bands AS (
         SELECT doc_id, t.b AS band,
           ('0x' || substr(md5(t.b || '|' ||
             array_to_string(mh[t.b*3+1:t.b*3+3], ',')), 1, 15))::BIGINT
             AS bh
         FROM mh, range(0, 4) t(b)),
       cand AS (
         SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       j AS (
         SELECT a, b,
           len(list_intersect(sa.sh, sb.sh))::DOUBLE /
             (len(sa.sh) + len(sb.sh)
              - len(list_intersect(sa.sh, sb.sh))) AS jac
         FROM cand
           JOIN sh sa ON sa.doc_id = a
           JOIN sh sb ON sb.doc_id = b)
       SELECT a, b, floor(jac * 10000.0 + 0.5) / 10000.0 AS jaccard
       FROM j WHERE floor(jac * 10000.0 + 0.5) / 10000.0 >= 0.5
       ORDER BY a, b"""

  /** Containment mirror: same shingle/minhash/band stages as
    * minhashPairsSqlCand's self-join, verify = the two directed
    * containments with an either-direction 0.7 keep rule. */
  private lazy val containmentSql: String =
    s"""WITH sh AS (
         SELECT doc_id, $shingleSql AS sh
         FROM (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents)),
       mh AS (
         SELECT doc_id, sh,
           [list_aggregate([(h * ((k+1)*1299709) + k*15485863)
              % 2147483647 for h in h0s], 'min')
            for k in range(0, 12)] AS mh
         FROM (SELECT doc_id, sh,
                 [('0x' || substr(md5(x), 1, 15))::BIGINT % 2147483647
                  for x in sh] AS h0s
               FROM sh)),
       bands AS (
         SELECT doc_id,
           t.b AS band,
           ('0x' || substr(md5(t.b || '|' ||
             array_to_string(mh[t.b*3+1:t.b*3+3], ',')), 1, 15))::BIGINT
             AS bh
         FROM mh, range(0, 4) t(b)),
       cand AS (
         SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       j AS (
         SELECT a, b,
           len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sa.sh)
             AS cab,
           len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sb.sh)
             AS cba
         FROM cand
           JOIN sh sa ON sa.doc_id = a
           JOIN sh sb ON sb.doc_id = b)
       SELECT a, b,
         floor(cab * 10000.0 + 0.5) / 10000.0 AS cont_ab,
         floor(cba * 10000.0 + 0.5) / 10000.0 AS cont_ba
       FROM j
       WHERE greatest(floor(cab * 10000.0 + 0.5) / 10000.0,
         floor(cba * 10000.0 + 0.5) / 10000.0) >= 0.7
       ORDER BY a, b"""

  private val moreOracles: Map[String, String] = Map(
    "d_containment" -> containmentSql,
    // same canonical form: lower → collapse whitespace → trim → md5
    "d_exact_canon" ->
      """WITH u AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id, '  ' || upper(text) || '   '
           FROM documents WHERE doc_id % 7 = 0)
         SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             AS canon_hash,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM u GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY keep_id""",
    // corpus×batch hash-match truth (spl mirrors Long floor division)
    "d_exact_incr" ->
      """WITH spl AS (SELECT max(doc_id) * 4 // 5 AS v FROM documents),
         corpus AS (
           SELECT md5(text) AS h, MIN(doc_id) AS keep_id
           FROM documents, spl WHERE doc_id < spl.v GROUP BY 1),
         batch AS (
           SELECT doc_id + 1000000 AS dup_id, md5(text) AS h
           FROM documents, spl
           WHERE doc_id < spl.v AND doc_id % 7 = 0
           UNION ALL
           SELECT doc_id, md5(text) FROM documents, spl
           WHERE doc_id >= spl.v)
         SELECT b.dup_id, c.keep_id
         FROM batch b JOIN corpus c USING (h)
         ORDER BY dup_id""",
    "d_simhash" ->
      """SELECT doc_id,
           CAST(list_sum([CASE WHEN 2 * len(list_filter(dw, x ->
               ((('0x' || substr(md5(x), 1, 15))::BIGINT >> b) & 1) = 1))
               > len(dw)
             THEN (1::BIGINT << b) ELSE 0::BIGINT END
             for b in range(0, 60)]) AS BIGINT) AS simhash
         FROM (SELECT doc_id,
                 list_distinct(string_split(text, ' ')) AS dw
               FROM documents)
         ORDER BY doc_id""",
    // Plain quadratic truth over the same fingerprints — the Spark side's
    // pigeonhole block join is candidate-complete for Hamming <= 3 by
    // construction (4 blocks, <= 3 differing bits), so the oracle needn't
    // mirror the blocking; any recall loss goes hash-red.
    "d_simhash_hamming" ->
      """WITH fp AS (
           SELECT doc_id,
             CAST(list_sum([CASE WHEN 2 * len(list_filter(dw, x ->
                 ((('0x' || substr(md5(x), 1, 15))::BIGINT >> b) & 1) = 1))
                 > len(dw)
               THEN (1::BIGINT << b) ELSE 0::BIGINT END
               for b in range(0, 60)]) AS BIGINT) AS simhash
           FROM (SELECT doc_id,
                   list_distinct(string_split(text, ' ')) AS dw
                 FROM documents))
         SELECT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         FROM fp x JOIN fp y ON x.doc_id < y.doc_id
         WHERE bit_count(xor(x.simhash, y.simhash)) BETWEEN 1 AND 3
         ORDER BY a, b""",
    // Verify over sorted 60-bit bigram-hash lists, like the Spark side —
    // Jaccard over distinct hashes = Jaccard over the bigrams (both
    // engines hash identically, so even a collision cannot diverge them).
    "d_ngram_jaccard" ->
      s"""WITH base AS (
           SELECT doc_id,
             list_sort([('0x' || substr(md5(b), 1, 15))::BIGINT
               for b in list_distinct([array_to_string(w[i:i+1], ' ')
                 for i in range(1, greatest(len(w) - 1, 1) + 1)])]) AS bgh,
             len(w) // 20 AS blk
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents)),
         keyed AS (
           SELECT doc_id, bgh, blk,
             [h % $NgramSalt for h in bgh[1:2]] AS ms
           FROM base),
         cand AS (
           SELECT x.doc_id AS a, y.doc_id AS b
           FROM keyed x JOIN keyed y
             ON abs(x.blk - y.blk) <= 1
               AND len(list_intersect(x.ms, y.ms)) > 0
               AND x.doc_id < y.doc_id),
         j AS (
           SELECT a, b,
             len(list_intersect(xa.bgh, xb.bgh))::DOUBLE /
               (len(xa.bgh) + len(xb.bgh)
                - len(list_intersect(xa.bgh, xb.bgh))) AS jac
           FROM cand
             JOIN base xa ON xa.doc_id = a
             JOIN base xb ON xb.doc_id = b)
         SELECT a, b, floor(jac * 10000.0 + 0.5) / 10000.0 AS jaccard
         FROM j WHERE floor(jac * 10000.0 + 0.5) / 10000.0 >= 0.4
         ORDER BY a, b""",
    // Plain quadratic SQL — the Spark side's triangle blocking is
    // result-invariant, so the oracle needn't (and shouldn't) mirror it.
    "d_embed_pairs" ->
      """WITH e AS (
           SELECT vec_id, embedding AS v,
             sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE)
               for x in embedding])) AS nrm
           FROM embeddings)
         SELECT x.vec_id AS a, y.vec_id AS b,
           floor(list_sum([(x.v[i]::DOUBLE) * (y.v[i]::DOUBLE)
               for i in range(1, len(x.v) + 1)])
             / (x.nrm * y.nrm) * 10000.0 + 0.5) / 10000.0 AS cos
         FROM e x JOIN e y ON x.vec_id < y.vec_id
         WHERE floor(list_sum([(x.v[i]::DOUBLE) * (y.v[i]::DOUBLE)
               for i in range(1, len(x.v) + 1)])
             / (x.nrm * y.nrm) * 10000.0 + 0.5) / 10000.0 >= 0.45
         ORDER BY a, b""",
    // Same Lloyd CTE chain as the ivf oracles (Vectors.ivfRoundsSql —
    // single source of truth for the quantizer), then the within-cluster
    // exists-smaller-id rule mirrored verbatim.
    "d_semdedup" ->
      s"""WITH ${Vectors.ivfRoundsSql(1)},
         asg AS (SELECT vec_id, v, k AS cluster FROM rk1 WHERE rn = 1),
         dup AS (
           SELECT b.vec_id, MIN(a.vec_id) AS dup_of
           FROM asg a JOIN asg b
             ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE floor(${Vectors.cosVVSql("a.v", "b.v")}
             * 10000.0 + 0.5) / 10000.0 >= 0.4
           GROUP BY b.vec_id)
         SELECT g.vec_id, g.cluster, dup.dup_of,
           CASE WHEN dup.dup_of IS NULL THEN 1 ELSE 0 END AS keep
         FROM asg g LEFT JOIN dup USING (vec_id)
         ORDER BY g.vec_id""",
    // Corpus-restricted Lloyd chain (same shared template, trained on
    // the corpus CTE only), then the batch ranks against the FINAL
    // centroids and is checked against corpus cell-mates only —
    // mirroring both maintained artifacts.
    "d_semdedup_incr" ->
      s"""WITH corpus AS (
           SELECT vec_id, embedding, label FROM embeddings
           WHERE vec_id < (SELECT MAX(vec_id) * 4 // 5 FROM embeddings)),
         batch AS (
           SELECT vec_id, embedding FROM embeddings
           WHERE vec_id >= (SELECT MAX(vec_id) * 4 // 5 FROM embeddings)),
         ${Vectors.ivfRoundsSql(1, table = "corpus")},
         casg AS (SELECT vec_id, v, k AS cluster FROM rk1 WHERE rn = 1),
         basg AS (
           SELECT vec_id, v, k AS cluster FROM (
             SELECT b.vec_id, b.embedding AS v, cl1.k,
               row_number() OVER (PARTITION BY b.vec_id
                 ORDER BY ${Vectors.cosVCSql("b.embedding", "cv")} DESC,
                   k ASC) AS rn
             FROM batch b CROSS JOIN cl1)
           WHERE rn = 1),
         dup AS (
           SELECT b.vec_id, MIN(c.vec_id) AS dup_of
           FROM casg c JOIN basg b ON c.cluster = b.cluster
           WHERE floor(${Vectors.cosVVSql("c.v", "b.v")}
             * 10000.0 + 0.5) / 10000.0 >= 0.4
           GROUP BY b.vec_id)
         SELECT g.vec_id, g.cluster, dup.dup_of,
           CASE WHEN dup.dup_of IS NULL THEN 1 ELSE 0 END AS keep
         FROM basg g LEFT JOIN dup USING (vec_id)
         ORDER BY g.vec_id""",
    // Plain quadratic truth over the SAME planted-twin corpus the query
    // synthesizes — deliberately NOT an LSH mirror, so a banding recall
    // miss goes hash-red instead of being defined away.
    "d_embed_lsh" ->
      """WITH base AS (SELECT vec_id, embedding AS v FROM embeddings),
         pl0 AS (
           SELECT vec_id,
             [CAST(v[j] * (1.0 +
                 ((((vec_id * 7 + (j - 1) * 13) % 21) - 10)::DOUBLE)
                   / 16.0) AS FLOAT)
               for j in range(1, len(v) + 1)] AS v
           FROM base WHERE vec_id % 10 = 0),
         pl AS (SELECT vec_id + 1000000 AS vec_id, v FROM pl0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM pl),
         e AS (SELECT vec_id, v,
             sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) for x in v])) AS nrm
           FROM u)
         SELECT a, b, cos FROM (
           SELECT x.vec_id AS a, y.vec_id AS b,
             floor(list_sum([(x.v[i]::DOUBLE) * (y.v[i]::DOUBLE)
                 for i in range(1, len(x.v) + 1)])
               / (x.nrm * y.nrm) * 10000.0 + 0.5) / 10000.0 AS cos
           FROM e x JOIN e y ON x.vec_id < y.vec_id)
         WHERE cos >= 0.9 ORDER BY a, b""",
    // Same quadratic-truth discipline at the 0.85 operating point —
    // mRange 29 twins; a multi-probe recall miss goes hash-red.
    "d_embed_lsh2" ->
      """WITH base AS (SELECT vec_id, embedding AS v FROM embeddings),
         pl0 AS (
           SELECT vec_id,
             [CAST(v[j] * (1.0 +
                 ((((vec_id * 7 + (j - 1) * 13) % 29) - 14)::DOUBLE)
                   / 16.0) AS FLOAT)
               for j in range(1, len(v) + 1)] AS v
           FROM base WHERE vec_id % 10 = 0),
         pl AS (SELECT vec_id + 1000000 AS vec_id, v FROM pl0),
         u AS (SELECT * FROM base UNION ALL SELECT * FROM pl),
         e AS (SELECT vec_id, v,
             sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) for x in v])) AS nrm
           FROM u)
         SELECT a, b, cos FROM (
           SELECT x.vec_id AS a, y.vec_id AS b,
             floor(list_sum([(x.v[i]::DOUBLE) * (y.v[i]::DOUBLE)
                 for i in range(1, len(x.v) + 1)])
               / (x.nrm * y.nrm) * 10000.0 + 0.5) / 10000.0 AS cos
           FROM e x JOIN e y ON x.vec_id < y.vec_id)
         WHERE cos >= 0.85 ORDER BY a, b""")
}
