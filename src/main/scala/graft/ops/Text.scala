package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis over `documents` (SURVEY §2.4 A6 + north-star text ops):
  * token counting (whitespace + regex tokenizer), quality scoring,
  * marker-based language ID, rolling-hash fingerprinting, corpus term
  * frequency. All built from codegen'd builtins (split/transform/filter/
  * aggregate higher-order functions) — no UDFs, so whole-stage codegen and
  * column pruning survive, and each op stays a one-pass scan at 100 TB.
  *
  * Determinism: no transcendental functions (libm results differ across
  * engines); quality scores are rational arithmetic + roundf only.
  */
object Text {

  /** Portable 60-bit hash: identical bits in Spark and DuckDB.
    * Spark: conv(substr(md5(s),1,15),16,10)::long;
    * DuckDB: ('0x'||substr(md5(s),1,15))::BIGINT. 15 hex digits < 2^60
    * keeps it positive and exactly representable.
    */
  def portableHash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Single-space word split (the documents corpus is single-spaced). */
  private def words(c: Column): Column = split(c, " ")

  /** Shared BPE merge training (t_bpe_merges / t_bpe_encode): three
    * byte-pair merge rounds over the word corpus — DISTRIBUTED pair
    * counting (the shuffle carries pair strings, never sequences),
    * global argmax (count DESC, pair ASC), one literal delimiter-
    * bounded replace per round. Both engines' replace() scans left to
    * right without rescanning replacements, so CONSECUTIVE overlapping
    * occurrences merge on the next round rather than within one — a
    * disclosed, engine-agreed convention. Returns the per-round
    * (round, pair, merged, cnt) single-row frames (each backed by a
    * materialized top-1, so callers can collect them for free). At
    * 100 TB, training runs on a deterministic hash sample of the
    * corpus (the x_sample / pqCodebooksK discipline) — pair counts
    * converge long before corpus scale; `docs` here is whatever
    * corpus the caller trains on (t_bpe_merges passes the full
    * corpus to keep its oracle total; t_bpe_encode16 passes the
    * [[BpeTrainFraction]] hash sample — the registered at-scale
    * shape since r19).
    */
  private def bpeTrainRounds(docs: DataFrame,
      n: Int = 3): Seq[DataFrame] = {
    // r20: repartition the word sequences once before the cache — the
    // single-row-group scan handed every training round a 1-PARTITION
    // cached frame, so each round's pair count AND each full rewrite
    // ran on one core, n rounds deep. Counts are order-independent and
    // the top-1 pick is (cnt DESC, x, y)-deterministic, so the merge
    // table is unchanged. The width is DATA-derived, not a core count:
    // every round pays the width as fixed task-scheduling cost, n
    // rounds deep, so a small training corpus (t_bpe_encode16's 25%
    // sample) must not fan out to 32 near-empty tasks per round —
    // measured +1.5 s over 16 rounds — while full-corpus training
    // (t_bpe_merges 4.9 → 2.0 s) wants the parallelism. ~250 docs of
    // symbol sequences per task is the floor where a round's rewrite
    // outweighs its task launch; the cluster cap takes over as the
    // corpus grows (at 100 TB the input arrives multi-split anyway and
    // the count is one bounded pre-aggregated scalar).
    val width = math.max(1L, math.min(
      docs.sparkSession.sparkContext.defaultParallelism.toLong,
      docs.count() / 250L)).toInt
    var seqs = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .select(concat(lit(" "),
        concat_ws(" ", split(col("w"), "")), lit(" ")).as("seq"))
      .repartition(width)
      .localCheckpoint()
    val sess = seqs.sparkSession
    import sess.implicits._
    (1 to n).map { r =>
      val pairs = seqs
        .select(split(trim(col("seq")), " ").as("a"))
        .filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(a) - 2), " +
            "i -> struct(a[i] as x, a[i+1] as y))")).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(count(lit(1)).as("cnt"))
      // r20: the round's winner is ONE row — collect it (a TakeOrdered
      // of a single row, the bounded-metadata move every BPE trainer
      // makes) instead of checkpointing a 1-row frame. This folds the
      // old 4 driver jobs per round (top-1 checkpoint, isEmpty probe,
      // crossJoin rewrite, the caller's later head()) into 2: the
      // collect and the rewrite — at 16 training rounds the job count
      // was the dominant cost of the SAMPLED training path. The rewrite
      // then uses the winner as string LITERALS (no crossJoin, no
      // broadcast), the identical delimiter-bounded replace.
      val top = pairs
        .orderBy(desc("cnt"), asc("x"), asc("y")).limit(1).collect()
      // an exhausted corpus (no adjacent pair left to merge — small
      // fixtures or an over-aggressive training sample) must refuse
      // LOUDLY here: letting the empty top-1 flow on would silently
      // empty `seqs` and surface rounds later as an opaque failure
      require(top.nonEmpty,
        s"BPE training round $r of $n: no mergeable symbol pair left " +
          "in the training corpus — lower the merge count or widen " +
          "the training sample")
      val (x, y, cnt) =
        (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      seqs = seqs
        .select(replace(col("seq"), lit(s" $x $y "), lit(s" $x$y "))
          .as("seq"))
        .localCheckpoint()
      Seq((r, s"$x $y", s"$x$y", cnt))
        .toDF("round", "pair", "merged", "cnt")
    }
  }

  /** Representative merge count for the t_bpe_encode16 operating
    * point (r17 verdict #6): 3 merges exercises the mechanism; 16
    * stresses the replace-chain codegen and the literal-map id lookup
    * at a production-ish table depth while the driver collects stay
    * bounded metadata (16 merge rows + the vocabulary). */
  private[graft] val BpeMergesFull = 16

  /** Training-sample modulus for t_bpe_encode16 (r19, the r18
    * verdict's #1): merges train on the deterministic 25% hash sample
    * `portableHash('bpet:' || doc_id) % 4 = 0` — the v_pq256 /
    * x_sample discipline. Pair-frequency ranking needs only enough
    * text to order the top pairs, not the corpus (Sennrich et al.
    * train on fixed-size corpora however large the deployment text);
    * at 100 TB nobody replays 16 full-corpus rewrites to learn 16
    * merges. The oracle mirrors the identical predicate, so the merge
    * table — and therefore the full-corpus encoding — stays
    * hash-exact. The salt decouples this hash use from every other
    * portableHash site. */
  private[graft] val BpeTrainMod = 4
  private[graft] def bpeTrainSample: Column =
    portableHash(concat(lit("bpet:"), col("doc_id").cast("string"))) %
      BpeTrainMod === 0

  /** t_bpe_encode body, parameterized by merge count `n` (r18) and an
    * optional deterministic training-corpus predicate (r19): train
    * `n` merges (on the sample when given), collect the n-row merge
    * table + bounded vocabulary (the ONLY driver collects), rewrite
    * every word of the FULL corpus through the merges in training
    * order as a codegen'd replace chain, map final symbols to dense
    * lexicographic ids via a literal map (no join, no symbol
    * explode), and reassemble per doc. */
  private def bpeEncode(s: SparkSession, d: String,
      n: Int, trainFilter: Option[Column] = None): DataFrame = {
    // r20: tPar — the n-deep replace chain runs over every word of the
    // full corpus TWICE (vocabulary pass + apply pass), and both ran
    // inside the single-row-group scan's one task
    val docs = tPar(s, d, "documents")
    val merges = bpeTrainRounds(trainFilter.fold(docs)(docs.filter), n)
      .map(_.select("pair", "merged").head())
      .map(r => (r.getString(0), r.getString(1)))
    val vmapCol = {
      // final vocabulary: distinct surviving symbols, dense-ranked
      // lexicographically (binary UTF-8 order — DuckDB's default
      // collation, so the oracle's row_number agrees)
      val seqCol = merges.foldLeft(concat(lit(" "),
          concat_ws(" ", split(col("w"), "")), lit(" "))) {
        case (c, (p, m)) =>
          val Array(x, y) = p.split(" ", 2)
          replace(c, lit(s" $x $y "), lit(s" $m "))
      }
      val vocab = docs
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 1)
        .select(explode(split(trim(seqCol), " ")).as("sym"))
        .distinct().orderBy("sym")
        .collect().map(_.getString(0))
      map(vocab.zipWithIndex.flatMap { case (sym, i) =>
        Seq(lit(sym), lit(i + 1L)) }: _*)
    }
    val seqCol = merges.foldLeft(concat(lit(" "),
        concat_ws(" ", split(col("w"), "")), lit(" "))) {
      case (c, (p, m)) =>
        val Array(x, y) = p.split(" ", 2)
        replace(c, lit(s" $x $y "), lit(s" $m "))
    }
    val toks = split(trim(seqCol), " ")
    val ids = transform(toks, tk =>
      element_at(vmapCol, tk).cast("string"))
    docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .filter(length(col("w")) >= 1)
      .select(col("doc_id"), col("pos"), size(toks).as("n"),
        concat_ws(" ", ids).as("ws"))
      .groupBy("doc_id")
      .agg(sum(col("n").cast("long")).as("n_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("ws")))),
          x => x.getField("ws"))).as("token_ids"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[bpeEncode]] at merge count `n`: the training
    * CTE chain unrolled n rounds (identical to t_bpe_merges'), the
    * per-word apply chain e1..eN, then vocab ranking + reassembly.
    * `trainWhere` mirrors the Spark side's training-sample predicate
    * (training CTEs only — the apply chain always covers the full
    * corpus). */
  private def bpeEncodeSql(n: Int,
      trainWhere: Option[String] = None): String = {
    def round(r: Int): String = {
      val prev = s"w${r - 1}"
      s"""p$r AS MATERIALIZED (
         SELECT a[i] AS x, a[i+1] AS y, COUNT(*) AS cnt
         FROM (SELECT string_split(trim(seq), ' ') AS a FROM $prev),
              LATERAL (SELECT unnest(range(1, len(a))) AS i)
         WHERE len(a) >= 2
         GROUP BY 1, 2),
       t$r AS (SELECT x, y, cnt FROM p$r
               ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
       w$r AS MATERIALIZED (
         SELECT replace(seq, ' ' || t$r.x || ' ' || t$r.y || ' ',
           ' ' || t$r.x || t$r.y || ' ') AS seq
         FROM $prev, t$r)"""
    }
    def applyRound(r: Int): String = {
      val prev = if (r == 1) "wd" else s"e${r - 1}"
      s"""e$r AS MATERIALIZED (
         SELECT doc_id, pos, replace(seq,
           ' ' || t$r.x || ' ' || t$r.y || ' ',
           ' ' || t$r.x || t$r.y || ' ') AS seq FROM $prev, t$r)"""
    }
    s"""WITH w0 AS MATERIALIZED (
         SELECT ' ' || array_to_string(string_split(w, ''), ' ')
           || ' ' AS seq
         FROM (SELECT unnest(string_split(text, ' ')) AS w
               FROM documents${
      trainWhere.fold("")(p => s"\n               WHERE $p")})
         WHERE len(w) >= 1),
       ${(1 to n).map(round).mkString(",\n         ")},
       wd AS (
         SELECT doc_id, i AS pos,
           ' ' || array_to_string(string_split(ws[i], ''), ' ')
             || ' ' AS seq
         FROM (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
              LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)
         WHERE len(ws[i]) >= 1),
       ${(1 to n).map(applyRound).mkString(",\n         ")},
       sym AS (
         SELECT doc_id, pos, i, a[i] AS s
         FROM (SELECT doc_id, pos, string_split(trim(seq), ' ') AS a
               FROM e$n),
              LATERAL (SELECT unnest(range(1, len(a) + 1)) AS i)),
       vocab AS (
         SELECT s, row_number() OVER (ORDER BY s) AS id
         FROM (SELECT DISTINCT s FROM sym) q),
       wid AS (
         SELECT doc_id, pos, COUNT(*) AS n,
           string_agg(v.id::VARCHAR, ' ' ORDER BY i) AS ws
         FROM sym JOIN vocab v USING (s) GROUP BY 1, 2)
       SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
         string_agg(ws, ' ' ORDER BY pos) AS token_ids
       FROM wid GROUP BY doc_id ORDER BY doc_id"""
  }

  private val stopwords = Seq("the", "a", "of", "to", "in")

  /** t_chunkpack body, parameterized by shard width so PropertySpec can
    * prove the two-phase decomposition is width-invariant (any width
    * yields the identical global cumsum). */
  private[graft] def chunkPack(s: SparkSession, d: String,
      shardWidth: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, d, "documents")
      .select(col("doc_id"), size(words(col("text"))).as("n_tokens"),
        expr(s"doc_id DIV $shardWidth").as("shard"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = docs.withColumn("lsum", sum(col("n_tokens")).over(w))
    val totals = docs.groupBy("shard")
      .agg(sum(col("n_tokens")).as("tot"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .sortBy(_._1)
    var acc = 0L
    val bases = totals.map { case (sh, tot) =>
      val b = acc; acc += tot; (sh, b)
    }.toSeq
    val baseDf = s.createDataFrame(bases).toDF("shard", "base")
    local.join(broadcast(baseDf), "shard")
      .withColumn("gstart", col("base") + col("lsum") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("gstart"),
        expr("gstart DIV 512").as("first_chunk"),
        expr("(gstart + n_tokens - 1) DIV 512").as("last_chunk"))
      .orderBy("doc_id")
  }

  /** Non-overlapping 8-word segments of each document:
    * (doc_id, pos, seg, h) with h the portable 60-bit hash — shared by
    * t_scrub (batch frequencies) and t_scrub_maintained (streaming-
    * maintained frequencies). Works on batch and streaming frames. */
  private val SegK = 8
  private def segmentsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / $SegK.0) as int) - 1),
                      j -> array_join(slice(w, j * $SegK + 1, $SegK), ' '))""")))
      .toDF("doc_id", "pos", "seg")
      .withColumn("h", portableHash(col("seg")))

  /** Delete every segment in `dup` (a frame with column h) from `segs`,
    * reassemble per doc in original order, emit the verifiable shape:
    * (doc_id, n_segs, n_kept, scrubbed_md5). */
  private def scrubAgainst(docs: DataFrame, segs: DataFrame,
      dup: DataFrame): DataFrame = {
    val re = segs.join(dup, Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(count("*").as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(" +
          "struct(pos, seg))), x -> x.seg), ' ')").as("scrubbed"))
    docs.select(col("doc_id"),
        ceil(size(words(col("text"))) / lit(SegK.toDouble)).cast("long")
          .as("n_segs"))
      .join(re, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("scrubbed"), lit(""))).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** (doc_id, word) token stream — shared by t_tfidf (batch df) and
    * t_tfidf_maintained (streaming-maintained df). Works on batch and
    * streaming frames. */
  private def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(words(col("text"))).as("word"))

  /** TF-IDF top-3 terms per doc against the given (word, df) table —
    * the scoring half shared by t_tfidf and t_tfidf_maintained, so both
    * provably rank the same way. Score = tf · N/df (rational idf
    * surrogate — no transcendental enters the hash-checked output). */
  private def tfidfTop3(docs: DataFrame, dfreq: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docTokens(docs)
      .groupBy("doc_id", "word").agg(count("*").as("tf"))
    // N folded into the plan as a broadcast scalar aggregate (the
    // oracle's CROSS JOIN n, mirrored) — a driver-side docs.count()
    // here was a whole extra Spark job per invocation
    val nDocs = docs.agg(count("*").cast("double").as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score"), asc("word"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("word"),
        roundf(col("tf").cast("double") * col("n_docs") /
          col("df").cast("double"), 4).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("doc_id", "word", "score", "rn")
      .orderBy("doc_id", "rn")
  }

  /** (doc_id, w1, w2) bigram instances. */
  private def docBigrams(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = words(col("text"))
    docs.where(size(w) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(w) - 1), i =>
          struct(element_at(w, i).as("w1"),
            element_at(w, i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
  }

  /** Per-doc mean conditional bigram probability from a (w1, w2, c12)
    * count table — the scoring tail shared by t_lmscore (corpus-built
    * counts) and t_lmscore_maintained (streaming-maintained counts);
    * the w1-prefix totals re-derive from c12 by an exact re-sum. */
  private def lmScoreFrom(bi: org.apache.spark.sql.DataFrame,
      c12: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val p = roundf(col("c12").cast("double") / col("c1").cast("double"), 6)
    val lm = roundf(col("sp").cast("double") / col("nb").cast("double"), 6)
    bi.join(c12.join(c1, "w1"), Seq("w1", "w2"))
      .select(col("doc_id"), p.as("p"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p").cast("decimal(24,6)")).as("sp"),
        count(lit(1)).as("nb"))
      .select(col("doc_id"), col("n_bigrams"), lm.as("lm_score"),
        (lm < lit(0.02)).as("flag_improbable"))
      .orderBy("doc_id")
  }

  /** Winnowing fingerprint set per doc: rightmost-minimum 5-gram hash
    * of every w=4 window (Schleimer/Wilkerson/Aiken) — (doc_id, fh)
    * distinct. Factored so DedupSpec can assert the paper's guarantee
    * (any shared ≥ w+k−1 = 8-word run shares a fingerprint). */
  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    val Wn = 4
    val wds = words(col("text"))
    val grams = transform(
      sequence(lit(1), greatest(size(wds) - lit(4), lit(1))),
      i => portableHash(concat_ws(" ", slice(wds, i, lit(5)))))
    val g = docs
      .select(col("doc_id"), posexplode(grams).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val wDoc = Window.partitionBy("doc_id")
    val wFrame = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, Wn - 1)
    g.withColumn("ng", count(lit(1)).over(wDoc))
      .withColumn("m", min(struct(col("h"), (-col("pos")).as("np")))
        .over(wFrame))
      .filter(col("pos") <= col("ng") - lit(Wn) + 1)
      .select(col("doc_id"), col("m.h").as("fh"))
      .distinct()
  }

  /** [[winnowFingerprints]] keeping the SELECTED gram position —
    * (doc_id, fh, posn) distinct — so matches can be LOCALIZED
    * (t_winnow_spans): the selected position is the rightmost-min's
    * own index, recovered from the same struct aggregate. */
  private[graft] def winnowFingerprintPositions(
      docs: DataFrame): DataFrame = {
    val Wn = 4
    val wds = words(col("text"))
    val grams = transform(
      sequence(lit(1), greatest(size(wds) - lit(4), lit(1))),
      i => portableHash(concat_ws(" ", slice(wds, i, lit(5)))))
    val g = docs
      .select(col("doc_id"), posexplode(grams).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("h"))
    val wDoc = Window.partitionBy("doc_id")
    val wFrame = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, Wn - 1)
    g.withColumn("ng", count(lit(1)).over(wDoc))
      .withColumn("m", min(struct(col("h"), (-col("pos")).as("np")))
        .over(wFrame))
      .filter(col("pos") <= col("ng") - lit(Wn) + 1)
      .select(col("doc_id"), col("m.h").as("fh"),
        (-col("m.np")).as("posn"))
      .distinct()
  }

  val queries: Map[String, Q] = Map(

    // Token counting: whitespace tokens + a BPE-ish regex token stream
    // (letter runs / digit runs / single punctuation, the GPT-2 pre-token
    // shape) — regexp_extract_all keeps it inside codegen.
    "t_tokens" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          size(words(col("text"))).as("n_ws_tokens"),
          size(expr(
            """regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"""))
            .as("n_bpe_tokens"),
          length(col("text")).as("n_chars_calc"))
        .orderBy("doc_id")
    }),

    // Sequence packing (concatenate-and-chunk): the pretraining layout
    // op — documents are concatenated in deterministic doc_id order
    // into one global token stream and cut into fixed 512-token context
    // windows; each doc reports its global token offset and covering
    // chunk range. The naive plan is ONE unpartitioned running sum
    // (every row through a single task — the w5_ntile scale-killer),
    // so this runs two-phase: per-shard window sums (shard =
    // doc_id DIV 64, all shards in parallel) plus a driver-collected
    // base offset per shard (ONE scalar per shard, prefix-summed on
    // the driver — the same bounded AQE-style move as w5_ntile's cuts
    // and j_bloom's sketch) broadcast-joined back. Identical to the
    // global cumsum, which is exactly what the DuckDB oracle computes.
    // The shard width derives from max(doc_id) (one scalar agg — the
    // same bounded driver move), so #shards stays <= ~2048 at ANY
    // corpus size: the driver state is KBs while every heavy pass
    // stays partitioned.
    "t_chunkpack" -> ((s, d) => {
      val maxId = t(s, d, "documents").agg(max(col("doc_id"))).head()
        .getAs[Number](0).longValue
      chunkPack(s, d, shardWidth = math.max(64L, (maxId + 2048L) / 2048L))
    }),

    // Quality scoring: length/stopword/word-shape signals combined with
    // rational weights (filterable score for corpus curation).
    "t_quality" -> ((s, d) => {
      val w = words(col("text"))
      val nTok = size(w).cast("double")
      val nStop = size(filter(w, x => x.isin(stopwords.map(lit): _*)))
        .cast("double")
      val avgLen = (length(col("text")).cast("double") - (nTok - 1)) / nTok
      val stopRatio = nStop / nTok
      val score =
        least(nTok, lit(500.0)) / lit(500.0) * lit(0.5) +
        (lit(1.0) - stopRatio) * lit(0.3) +
        least(avgLen, lit(8.0)) / lit(8.0) * lit(0.2)
      t(s, d, "documents")
        .select(col("doc_id"), nTok.cast("long").as("n_tokens"),
          roundf(avgLen, 4).as("avg_token_len"),
          roundf(stopRatio, 4).as("stopword_ratio"),
          roundf(score, 4).as("quality_score"))
        .orderBy("doc_id")
    }),

    // Threshold YIELD CURVE over the quality score — the artifact a
    // real curation pipeline produces before picking its filter: for
    // each cutoff on a fixed 0.05 grid, how many documents and tokens
    // survive `score >= cutoff`, absolute and as corpus fractions.
    // ONE corpus scan: per-doc scores bucket to floor(score*20)
    // (21 buckets), the per-bucket doc/token sums aggregate (partial
    // map-side), and the survivors-at-threshold curve is a DESCENDING
    // cumulative sum over the 21-row densified grid — every window
    // here runs on |grid| rows, never documents, so the single
    // unpartitioned window is constant-size at any corpus scale. The
    // bucket key is the ROUNDED score (t_quality's exact output), so
    // boundary docs land identically on both engines.
    "t_yield_curve" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = words(col("text"))
      val nTok = size(w).cast("double")
      val nStop = size(filter(w, x => x.isin(stopwords.map(lit): _*)))
        .cast("double")
      val avgLen = (length(col("text")).cast("double") - (nTok - 1)) / nTok
      val stopRatio = nStop / nTok
      val score =
        least(nTok, lit(500.0)) / lit(500.0) * lit(0.5) +
        (lit(1.0) - stopRatio) * lit(0.3) +
        least(avgLen, lit(8.0)) / lit(8.0) * lit(0.2)
      val byBucket = t(s, d, "documents")
        .select(floor(roundf(score, 4) * 20).cast("int").as("bucket"),
          size(w).cast("long").as("n_tok"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("docs"), sum("n_tok").as("toks"))
      val grid = s.range(21).select(col("id").cast("int").as("bucket"))
      val wDesc = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val wAll = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      grid.join(byBucket, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("docs"), lit(0L)).as("dk"),
          coalesce(col("toks"), lit(0L)).as("tk"))
        .withColumn("n_docs", sum("dk").over(wDesc))
        .withColumn("n_tokens", sum("tk").over(wDesc))
        .withColumn("td", sum("dk").over(wAll))
        .withColumn("tt", sum("tk").over(wAll))
        .select(col("bucket"),
          roundf(col("bucket") * lit(0.05), 2).as("threshold"),
          col("n_docs"), col("n_tokens"),
          roundf(col("n_docs") / col("td"), 4).as("pct_docs"),
          roundf(col("n_tokens") / col("tt"), 4).as("pct_tokens"))
        .orderBy("bucket")
    }),

    // Language ID: marker-word scores per language, deterministic argmax
    // (ties break toward the earlier language in the case chain). Confusion
    // matrix against the labeled lang column.
    "t_langid" -> ((s, d) => {
      val w = words(col("text"))
      def score(markers: Seq[String]): Column =
        size(filter(w, x => x.isin(markers.map(lit): _*)))
      val sEn = score(Seq("the", "a", "of"))
      val sEs = score(Seq("el", "la", "es", "de"))
      val sZh = score(Seq("的", "是", "了"))
      val pred = when(sEn >= sEs && sEn >= sZh, "en")
        .when(sEs >= sZh, "es").otherwise("zh")
      t(s, d, "documents")
        .select(col("lang"), pred.as("predicted"))
        .groupBy("lang", "predicted").agg(count("*").as("n"))
        .orderBy("lang", "predicted")
    }),

    // Language ID, char-trigram variant: score = |doc trigram set ∩
    // language profile|, argmax with deterministic tiebreak. Profiles are
    // literal sets (in production: top-k trigrams from a labeled corpus);
    // unlike marker words this scores sub-word orthography, the standard
    // n-gram LID design.
    "t_langid3" -> ((s, d) => {
      // substring with a per-element dynamic position needs the SQL form
      val trigrams = array_distinct(expr(
        "transform(sequence(1, greatest(length(text) - 2, 1)), " +
          "i -> substring(text, i, 3))"))
      def profile(grams: Seq[String]): Column =
        array(grams.map(lit): _*)
      val pEn = profile(Seq("the", "he ", " th", "ing", "nd ", " a "))
      val pEs = profile(Seq("el ", " de", "os ", "la ", "ión", " es"))
      val pZh = profile(Seq("的", "是", "了", "在", "我"))
      val sEn = size(array_intersect(trigrams, pEn))
      val sEs = size(array_intersect(trigrams, pEs))
      val sZh = size(array_intersect(trigrams, pZh))
      val pred = when(sEn >= sEs && sEn >= sZh, "en")
        .when(sEs >= sZh, "es").otherwise("zh")
      t(s, d, "documents")
        .select(col("lang"), pred.as("predicted"))
        .groupBy("lang", "predicted").agg(count("*").as("n"))
        .orderBy("lang", "predicted")
    }),

    // Fingerprinting: 8-word shingles → portable rolling hash → min-hash
    // fingerprint per doc (the primitive under MinHash dedup; whole-doc
    // hash fallback for docs under 8 words). The <8 guard matters: Spark's
    // sequence(1, n) DESCENDS when n < 1, so an unguarded size-7 bound
    // would emit slice(w, 0, …) and crash on short docs.
    "t_fingerprint" -> ((s, d) => {
      val w = words(col("text"))
      val shingleHashes = transform(
        sequence(lit(1), size(w) - 7),
        i => portableHash(concat_ws(" ", slice(w, i, lit(8)))))
      t(s, d, "documents")
        .select(col("doc_id"),
          when(size(w) >= 8, array_min(shingleHashes))
            .otherwise(portableHash(col("text"))).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // BPE MERGE TRAINING (Sennrich/Haddow/Birch, ACL 2016 — the
    // tokenizer-training core): three byte-pair merge rounds over the
    // word corpus, each round counting adjacent symbol pairs
    // DISTRIBUTED (one codegen'd transform over the symbol arrays —
    // the shuffle carries pair strings, never sequences), electing the
    // global argmax pair (count DESC, pair ASC — the deterministic
    // tiebreak), and rewriting every sequence by one literal
    // delimiter-bounded replace. Both engines' replace() scans left
    // to right without rescanning replacements, so CONSECUTIVE
    // overlapping occurrences (". . ." runs) merge on the next round
    // rather than within one — a disclosed, engine-agreed convention
    // (real BPE implementations differ on exactly this edge). Output
    // = the learned merge table, which IS the tokenizer artifact. At
    // 100 TB, BPE training runs on a deterministic hash sample of the
    // corpus (the x_sample / pqCodebooksK discipline) — pair counts
    // converge long before corpus scale; full-corpus here keeps the
    // oracle total.
    "t_bpe_merges" -> ((s, d) =>
      bpeTrainRounds(t(s, d, "documents"))
        .reduce(_ unionByName _).orderBy("round")),

    // BPE ENCODE — apply the learned merge table to the corpus (the
    // tokenizer's APPLY side t_bpe_merges trains but never runs): per
    // document, every word's character sequence is rewritten through
    // the 3 merges IN TRAINING ORDER (the same literal delimiter-
    // bounded replace, so apply ≡ the training rewrite by
    // construction), final symbols map to dense vocabulary ids
    // (lexicographic — deterministic in both engines), and the output
    // is per-doc token count + the id sequence. Scale shape: the merge
    // table (3 rows) and the vocabulary (|alphabet| + merges — BOUNDED
    // metadata, not corpus data) are the only driver collects; the
    // rewrite is a codegen'd per-row expression chain, id lookup is a
    // literal-map element_at (no join, no explode of symbols), and the
    // per-doc reassembly is one hash aggregation with an array_sort
    // over word positions. The PropertySpec round-trip pins
    // decode(encode(x)) = x: merged symbols concatenate back to the
    // exact word list.
    "t_bpe_encode" -> ((s, d) => bpeEncode(s, d, 3)),

    // the SAME apply pipeline at the representative merge depth
    // (r17 verdict #6): N = BpeMergesFull lifts the replace chain to
    // 16 codegen'd literal replaces and a correspondingly larger
    // vocabulary literal-map — the operating point a real tokenizer
    // would run — while t_bpe_encode stays registered at N=3 as the
    // history-tracked cheap variant (the v_kmeans_conv /
    // v_kmeans_sampled both-operating-points precedent). Since r19
    // the 16 merges train on the deterministic 25% hash sample
    // ([[bpeTrainSample]] — the at-scale shape the t_bpe_merges
    // Scaladoc documents: 16 full-corpus rewrite rounds was the one
    // plan in the registry that would NOT survive 100×), and the
    // apply chain still covers every document. Oracle is the same
    // replay chain unrolled to 16 over the mirrored sample.
    "t_bpe_encode16" -> ((s, d) =>
      bpeEncode(s, d, BpeMergesFull, Some(bpeTrainSample))),

    // WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    // the MOSS algorithm): from every window of w=4 consecutive 5-gram
    // hashes select the MINIMUM, rightmost on ties — the paper's
    // guarantee is that any shared run of ≥ w+k−1 = 8 words shares a
    // fingerprint, with expected density 2/(w+1) — a position-robust
    // local fingerprint t_fingerprint's global min cannot give.
    // Execution shape: positional gram hashes via one codegen'd
    // transform (no explode of TEXT — the shuffle carries 8-byte
    // hashes), the per-window rightmost-min via ONE frame aggregate
    // min(struct(h, −pos)) over a (doc, pos) window — lexicographic
    // struct ordering gives (min hash, max pos) with no second pass —
    // and pair detection is a fingerprint equi-join with the shared
    // count thresholded. At 100 TB, hot boilerplate fingerprints get
    // the d_minhash_idf stop-set treatment (frequency-cap the join
    // key) — same lever, disclosed not implemented here.
    "t_winnow" -> ((s, d) => {
      // r20: tPar — the per-doc 5-gram hash + window-min fingerprint
      // selection ran in the 1-task scan stage
      val sel = winnowFingerprints(tPar(s, d, "documents"))
      sel.as("x").join(sel.as("y"),
          col("x.fh") === col("y.fh") &&
          col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 4)
        .orderBy("a", "b")
    }),

    // Span LOCALIZATION from the winnowing anchors — t_winnow tells
    // you WHICH documents share content; this tells you WHERE: the
    // selected fingerprint positions (computed by the same window
    // aggregate, otherwise discarded) join across each detected pair
    // into (pos_a, pos_b) anchors, and the per-pair position extents
    // estimate the shared run's span in both documents. Same
    // ≥4-distinct-fingerprint detection threshold as t_winnow, so the
    // pair set is identical by construction; the anchor join is the
    // same fingerprint equi-join carrying two extra ints.
    "t_winnow_spans" -> ((s, d) => {
      // r20: tPar (the t_winnow rationale)
      val fp = winnowFingerprintPositions(tPar(s, d, "documents"))
      val anchors = fp.as("x").join(fp.as("y"),
          col("x.fh") === col("y.fh") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.fh").as("fh"), col("x.posn").as("pa"),
          col("y.posn").as("pb"))
      anchors.groupBy("a", "b").agg(
          countDistinct(col("fh")).as("n_shared"),
          count(lit(1)).as("n_anchors"),
          min("pa").as("a_lo"), max("pa").as("a_hi"),
          min("pb").as("b_lo"), max("pb").as("b_hi"))
        .filter(col("n_shared") >= 4)
        .orderBy("a", "b")
    }),

    // Repetition signals (the Gopher-rule family): fraction of duplicated
    // word n-grams per doc — high values mark boilerplate/spam for
    // training-data filtering. dup_frac_k = 1 - |distinct k-grams|/|k-grams|.
    "t_repetition" -> ((s, d) => {
      val w = words(col("text"))
      def grams(k: Int): Column = transform(
        sequence(lit(1), greatest(size(w) - (k - 1), lit(1))),
        i => concat_ws(" ", slice(w, i, lit(k))))
      def dupFrac(k: Int): Column = {
        val g = grams(k)
        roundf(lit(1.0) -
          size(array_distinct(g)).cast("double") /
          size(g).cast("double"), 4)
      }
      t(s, d, "documents")
        .select(col("doc_id"),
          dupFrac(2).as("dup2_frac"),
          dupFrac(3).as("dup3_frac"))
        .withColumn("flagged",
          (col("dup2_frac") > 0.08 || col("dup3_frac") > 0.04).cast("int"))
        .orderBy("doc_id")
    }),

    // A6: corpus term frequency — explode + two-phase hash agg (partial
    // map-side combine keeps the shuffle at |vocab| not |tokens| at scale).
    // Rare-token ratio — the OOV/noise quality signal: fraction of a
    // doc's token occurrences whose corpus document-frequency is ≤ 2
    // (hapax/dis legomena; high ratio = garbled text, codes, boilerplate
    // IDs). Scale shape: tokens collapse to (doc, word, count) FIRST (a
    // partial-agg groupBy, shrinking stopword repetition before any
    // join), the df table derives from those pairs, and the join is
    // word-keyed hash — NO broadcast, because at 100 TB the df≤2 long
    // tail is the BIG end of the vocabulary, not the small one. Per-word
    // row fan is data-linear (one df row per word), so stopword skew is
    // bounded by input size, never quadratic.
    "t_rarity" -> ((s, d) => {
      val tc = t(s, d, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      val dfreq = tc.groupBy("word").agg(count(lit(1)).as("df"))
      tc.join(dfreq, "word")
        .groupBy("doc_id")
        .agg(sum("c").as("n_tokens"),
          sum(when(col("df") <= 2, col("c")).otherwise(0L)).as("n_rare"))
        .withColumn("rare_ratio",
          col("n_rare").cast("double") / col("n_tokens").cast("double"))
        .orderBy("doc_id")
    }),

    // Word-unigram Shannon entropy per document — the distribution-
    // shape quality lens the ratio signals miss: t_repetition flags
    // verbatim n-gram copies and t_rarity flags corpus-rare mass, but
    // a doc cycling a tiny vocabulary with no exact repeats (template
    // spam, keyword stuffing) passes both and shows up here as low
    // normalized entropy (RedPajama-v2 ships exactly this signal).
    // Identity H = log2(n) − Σ c·log2(c) / n keeps ONE transcendental
    // per distinct (doc, word) count; each c·log2(c) term is
    // IEEE-rounded to the 4-decimal grid and summed EXACTLY (dsum4) so
    // the per-doc fold is aggregation-order-independent — the same
    // rounded terms sum to the same decimal in both engines. Scale
    // shape: two hash aggs, both partial-combining map-side; nothing
    // is doc-length-quadratic and nothing leaves the (doc, word)
    // grain.
    "t_entropy" -> ((s, d) => {
      val tc = t(s, d, "documents")
        .select(col("doc_id"), explode(words(col("text"))).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
      val cd = col("c").cast("double")
      tc.groupBy("doc_id").agg(
          sum("c").as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          dsum4(cd * log2(cd)).as("clog"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          roundf(log2(col("n_tokens").cast("double")) -
            col("clog") / col("n_tokens").cast("double"), 4)
            .as("entropy_bits"))
        .withColumn("norm_entropy",
          when(col("n_distinct") > 1,
            roundf(col("entropy_bits") /
              log2(col("n_distinct").cast("double")), 4))
            .otherwise(lit(0.0)))
        .orderBy("doc_id")
    }),

    "t_termfreq" -> ((s, d) => {
      t(s, d, "documents")
        .select(explode(words(col("text"))).as("word"))
        .groupBy("word").agg(count("*").as("n"))
        .orderBy(desc("n"), asc("word"))
        .limit(50)
    }),

    // Corpus curation verdict — the query this library exists to answer:
    // one row per document with every filter signal (quality score,
    // repetition flag, benchmark contamination, near-dup canonicality)
    // and the composed keep/drop decision. Each signal is the
    // already-oracle-checked query it names, composed by doc_id joins
    // (contamination and near-dup tables are sparse → left joins with
    // survivor defaults); the oracle composes the same four oracle SQLs.
    // At 100 TB this is the shape of the real pipeline: signals
    // materialize independently (often on different cadences), and the
    // verdict is a cheap id-keyed join over them.
    "t_curate" -> ((s, d) => {
      val q = queries("t_quality")(s, d)
        .select("doc_id", "quality_score")
      val r = queries("t_repetition")(s, d)
        .select(col("doc_id"), col("flagged").as("rep_flagged"))
      val c = queries("t_contam")(s, d)
        .select(col("doc_id"), lit(1).as("contam0"))
      val cl = Dedup.queries("d_clusters")(s, d)
        .select(col("doc_id"), col("is_canonical"))
      val contaminated = coalesce(col("contam0"), lit(0))
      val canonical = coalesce(col("is_canonical"), lit(1))
      q.join(r, "doc_id")
        .join(c, Seq("doc_id"), "left")
        .join(cl, Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality_score"), col("rep_flagged"),
          contaminated.as("contaminated"),
          canonical.as("near_dup_canonical"),
          // 0.41 ≈ this corpus's p10 — curation thresholds are always
          // corpus-tuned; the pipeline shape is the point
          (col("quality_score") >= 0.41 && col("rep_flagged") === 0 &&
            contaminated === 0 && canonical === 1).cast("int").as("keep"))
        .orderBy("doc_id")
    }),

    // Domain-MIXTURE budgeting — the data-recipe step between curation
    // and training: given a token budget and per-source mixture
    // weights, emit each source's token target, its deterministic
    // sampling rate (target/available, capped at 1), and the epoch
    // count when the target EXCEEDS the available tokens (upsampling —
    // ceil(target/available), the repeated-pass recipe). Weights here
    // are the source's numeric suffix + 1 (a stand-in for the
    // recipe-tuned mixture vector; the shape, not the constants, is
    // the operator), so both the downsample and the upsample branch
    // execute on the fixture. All arithmetic is integer except one
    // grid-rounded IEEE division; the per-source table is
    // |sources|-sized — partial-agg'd counts off one corpus scan, a
    // broadcast scalar for the weight sum, never a second pass. The
    // emitted sample_rate pairs with x_sample's hash-threshold
    // discipline to actually draw the mix reproducibly.
    "t_mixture" -> ((s, d) => {
      val budget = 42000L
      val per = t(s, d, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          sum(size(split(col("text"), " "))).cast("long").as("tokens"))
        // a digitless source gets the defined default weight 1 (the
        // no-match extract is '' → NULL after the cast — coalescing
        // keeps the derivation total on BOTH engines instead of a
        // silent NULL target here vs a cast error in the oracle)
        .withColumn("wt", coalesce(
          nullif(regexp_extract(col("source"), "([0-9]+)$", 1), lit(""))
            .cast("long") + 1L, lit(1L)))
      val tot = per.agg(sum("wt").cast("long").as("wsum"))
      per.crossJoin(broadcast(tot))
        .withColumn("target_tokens", expr(s"$budget * wt div wsum"))
        .select(col("source"), col("docs"), col("tokens"),
          col("target_tokens"),
          roundf(least(lit(1.0), col("target_tokens").cast("double") /
            col("tokens").cast("double")), 4).as("sample_rate"),
          expr("greatest(1L, (target_tokens + tokens - 1) div tokens)")
            .as("epochs"))
        .orderBy("source")
    }),

    // TF-IDF top terms per document (characteristic-term extraction, the
    // classic corpus-analysis op). Score = tf · N/df — the RATIONAL idf
    // surrogate, not ln(N/df): log is a libm transcendental whose last
    // bit differs across engines, while tf·N/df is one exact integer
    // product and one correctly-rounded IEEE divide, so both engines and
    // every re-run agree bit-for-bit (same monotone ranking per doc
    // since tf·x preserves order in x). Two-phase aggs keep shuffles at
    // |doc×term| and |vocab|; the df side is vocabulary-sized →
    // auto-broadcast at any corpus scale.
    "t_tfidf" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val toks = docTokens(docs)
      tfidfTop3(docs,
        toks.distinct().groupBy("word").agg(count("*").as("df")))
    }),

    // t_tfidf with the DOCUMENT-FREQUENCY table MAINTAINED BY THE
    // STREAMING SINK (the t_scrub_maintained discipline applied to the
    // second corpus-global count statistic): the corpus replays as two
    // doc-disjoint halves through countMaintain, each micro-batch
    // contributing its distinct (doc_id, word) pairs — valid because
    // batches partition the doc space, so per-batch distinct counts sum
    // to the exact global df. Scoring then consumes the maintained
    // counts; the ORACLE IS t_tfidf's VERBATIM, so any maintained-df
    // drift reorders the per-doc top-3 and goes hash-red. This is
    // incremental IDF at corpus scale: each new shard's vocabulary
    // merges in O(|shard vocab|) and the idf statistic never recounts
    // history.
    "t_tfidf_maintained" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mid = docs.agg(max("doc_id")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "dfreq", d,
        graft.etl.Tables.schemas("documents"), "docs",
        docs.filter(col("doc_id") < mid), docs.filter(col("doc_id") >= mid))
      val statePath = new java.io.File(base, "dfreq").getPath
      val q = graft.streaming.Streams.countMaintain(
        stream, "word", statePath)(b => docTokens(b).distinct())
      require(q.awaitTermination(600000),
        "df maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the merge path is untested")
      tfidfTop3(docs,
        graft.streaming.Streams.readGenMaintained(s, statePath)
          .withColumnRenamed("cnt", "df"))
    }),

    // Cross-document span dedup (the C4/RefinedWeb "remove spans that
    // appear verbatim elsewhere" pass): per doc, how many of its distinct
    // 5-word spans occur in ≥2 documents, plus the keep/drop verdict at
    // dup_frac < 0.5. Scale shape: the corpus shuffles (span_hash:long,
    // doc_id) pairs — 8 bytes of key per span, never the span text (the
    // fused ShingleHashes expression hashes in one JVM pass); the
    // duplicated-span vocabulary (count ≥ 2) is a small fraction of the
    // span space, and the join back to spans is a plain hash join on the
    // 60-bit key. k=5 measured on this corpus: 1096/24k spans duplicated
    // across 71/500 docs — discriminative; k=3 saturates (every doc
    // flagged), k≥6 plateaus at the template near-dups.
    "t_spandedup" -> ((s, d) => {
      // deliberately NOT persisted: the two consumers below cost one
      // extra codegen'd scan of documents, which beats materializing a
      // per-doc hash-array table (at corpus scale that cache is itself
      // data-sized, and a persist without a same-invocation unpersist
      // leaks a copy per run in a long-lived JVM — bench/verify share one)
      val base = t(s, d, "documents")
        .select(col("doc_id"),
          org.apache.spark.sql.graftshim.ShingleHashes
            .shingleHashes(words(col("text")), 5).as("sh"))
      val spans = base.select(col("doc_id"), explode(col("sh")).as("h"))
      // per-doc spans are already distinct (ShingleHashes dedups), so
      // count(*) per hash == distinct-doc frequency
      val dupSpans = spans.groupBy("h").agg(count("*").as("nd"))
        .filter(col("nd") >= 2)
      val dupPerDoc = spans.join(dupSpans, "h")
        .groupBy("doc_id").agg(count("*").as("n_dup"))
      val frac = coalesce(col("n_dup"), lit(0L)).cast("double") /
        col("n_spans").cast("double")
      base
        .select(col("doc_id"), size(col("sh")).cast("long").as("n_spans"))
        .join(dupPerDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup_spans"),
          roundf(frac, 4).as("dup_frac"),
          (roundf(frac, 4) < 0.5).cast("int").as("keep"))
        .orderBy("doc_id")
    }),

    // Global exact-segment DELETION with reassembly — the MassiveText /
    // Falcon "remove repeated spans from the corpus" pass, one step past
    // t_spandedup's flag-only form: the corpus is cut into non-overlapping
    // 8-word segments, any segment occurring >= 2 times ANYWHERE in the
    // corpus is deleted from every document that carries it, and the
    // survivors are stitched back in original order. Output carries
    // md5(scrubbed) so a reassembly-order or join-semantics drift goes
    // hash-red. Scale shape: the frequency aggregate shuffles ONLY the
    // 60-bit segment hash (not the text) and partial-aggregates to the
    // segment vocabulary; the delete is a left-anti hash join on that
    // hash (AQE broadcasts it when corpus redundancy is low); reassembly
    // is one groupBy(doc_id) whose width is the document itself — the
    // same data-linear three-shuffle plan at 100 TB.
    "t_scrub" -> ((s, d) => {
      val segs = segmentsOf(t(s, d, "documents"))
      val dup = segs.groupBy("h").agg(count("*").as("cnt"))
        .filter(col("cnt") >= lit(2L)).select("h")
      scrubAgainst(t(s, d, "documents"), segs, dup)
    }),

    // t_scrub with the segment-frequency table MAINTAINED BY THE
    // STREAMING SINK: the corpus replays as two halves through
    // countMaintain (the rollupMaintain discipline keyed by the
    // 60-bit segment hash — a |vocabulary|-sized DataFrame merge with
    // generation commit, never driver state), and the scrub then
    // consumes the maintained counts. The ORACLE IS t_scrub's — the
    // maintained table must reproduce the batch frequency truth
    // exactly, or the reassembled md5s go hash-red. This is the
    // incremental corpus-scrub shape: at 100 TB each new shard's
    // segments merge into the maintained counts in O(|shard vocab|)
    // and the scrub never recounts history.
    "t_scrub_maintained" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mid = docs.agg(max("doc_id")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "segfreq", d,
        graft.etl.Tables.schemas("documents"), "docs",
        docs.filter(col("doc_id") < mid), docs.filter(col("doc_id") >= mid))
      val statePath = new java.io.File(base, "segfreq").getPath
      val q = graft.streaming.Streams.countMaintain(
        stream, "h", statePath)(b => segmentsOf(b).select("h"))
      require(q.awaitTermination(600000),
        "segment-frequency maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the merge path is untested")
      val dup = graft.streaming.Streams.readGenMaintained(s, statePath)
        .filter(col("cnt") >= lit(2L)).select("h")
      scrubAgainst(docs, segmentsOf(docs), dup)
    }),

    // PII detection + redaction: count and scrub email/phone patterns —
    // the compliance pass every corpus build runs before training. The
    // corpus is synthetic word soup, so PII is INJECTED deterministically
    // (every 5th doc gets an email + phone suffix) identically in both
    // engines; detection/redaction then runs on the composite text. The
    // output carries md5(redacted) so an engine-side redaction drift
    // (greedy-match or replace-all semantics) flips the hash. Patterns
    // stay in the RE2 ∩ java.util.regex common subset — no backrefs, no
    // lookaround — so both engines match identical spans; Spark
    // regexp_replace replaces ALL matches, DuckDB needs the explicit 'g'
    // flag (mirrored in the oracle).
    "t_pii" -> ((s, d) => {
      val emailPat = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
      val phonePat = "555-[0-9]+"
      t(s, d, "documents")
        .withColumn("text2",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" contact u"),
              col("doc_id").cast("string"), lit("@mail.net or 555-0"),
              (col("doc_id") % 100).cast("string")))
          .otherwise(col("text")))
        .select(col("doc_id"),
          regexp_count(col("text2"), lit(emailPat)).cast("long")
            .as("n_emails"),
          regexp_count(col("text2"), lit(phonePat)).cast("long")
            .as("n_phones"),
          md5(regexp_replace(regexp_replace(col("text2"),
            emailPat, "<EMAIL>"), phonePat, "<PHONE>"))
            .as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // Collocation extraction: bigrams scoring high on PMI — the classic
    // corpus-analysis pass for multiword terms. Score is the RATIONAL
    // PMI core N·c(xy)/(c(x)·c(y)) (same monotone ranking as
    // log of it, minus the libm transcendental that would diverge
    // across engines — the t_tfidf trick). Counts are exact integers,
    // the one divide is correctly-rounded IEEE: bit-identical
    // everywhere. Both unigram joins are vocabulary-sized → broadcast;
    // the token stream shuffles once per count.
    // Bigram language-model quality scoring — the perplexity-filter
    // analog of pretraining pipelines (score each document by how
    // predictable its token transitions are under the corpus LM; flag
    // the improbable tail). Transcendental-free form: the score is the
    // MEAN transition probability P(w2|w1) = c12/c1prefix, not the
    // log-perplexity — monotone-comparable for filtering, and every
    // number is an integer-derived ratio, so scores are cross-engine
    // bit-identical (no ln). Per-bigram probabilities IEEE-round to the
    // 6-decimal grid then exact-decimal-sum (order-independent). Scale
    // shape: the bigram fan is data-linear; corpus bigram counts
    // partial-aggregate to |bigram vocab| and join the per-doc bigrams
    // by (w1,w2) HASH — at 100 TB that vocabulary is huge, never
    // broadcast; the w1-prefix totals (|vocab| rows) ride the same
    // aggregate. The flag threshold lands on grid values, so the
    // verdict boolean is deterministic.
    "t_lmscore" -> ((s, d) => {
      // r20: tPar — the 2.7M-instance bigram explode + broadcast-join
      // partial agg ran inside the single-row-group scan's one task
      val bi = docBigrams(tPar(s, d, "documents"))
      // This corpus's bigram vocabulary (31² types) broadcasts, so the
      // instance-level probability join plans ZERO wide ops over the
      // bigram stream: explode → BroadcastHashJoin → map-side partial
      // agg collapses 2.7M instances to |docs| rows before the only
      // exchange. Collapsing instances to (doc, type, k) counts BEFORE
      // the join was measured SLOWER here (back-to-back A/B at sf0.1,
      // steal<=0.5 both: 3.07 s vs 3.73 s steady): it inserts a
      // 480k-row exchange into a plan that otherwise has none. When the
      // vocabulary outgrows broadcast (open-text corpora at 100 TB),
      // invert: groupBy(doc_id, w1, w2).count first, hash-join the
      // collapsed counts, and fold Σ k·p — identical result (k·decimal
      // is exact), one bounded exchange instead of an instance-sized
      // shuffle join.
      lmScoreFrom(bi,
        bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    }),

    // t_lmscore with the bigram count table MAINTAINED by the
    // streaming countMaintain sink over a 2-batch documents replay —
    // valid because bigram instances partition by document, so the
    // per-batch partial counts re-sum to the corpus counts EXACTLY
    // (the t_tfidf_maintained argument). Scoring consumes the
    // read-back maintained parquet; the w1-prefix totals re-derive
    // from the maintained c12 by an exact re-sum, so nothing else
    // needs maintaining. Oracle = t_lmscore's VERBATIM: a lost batch,
    // a double merge, or count drift moves per-doc probabilities and
    // goes hash-red.
    "t_lmscore_maintained" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val mid = docs.agg(max("doc_id")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "lm_counts", d,
        graft.etl.Tables.documents, "docs",
        docs.filter(col("doc_id") < mid),
        docs.filter(col("doc_id") >= mid))
      val cPath = new java.io.File(base, "bigram_counts").getPath
      val q = graft.streaming.Streams.countMaintain(stream, "bg", cPath)(
        b => docBigrams(b).select(
          concat(col("w1"), lit("\u0001"), col("w2")).as("bg")))
      require(q.awaitTermination(600000),
        "bigram count maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the re-sum merge is " +
          "untested")
      val c12 = graft.streaming.Streams.readGenMaintained(s, cPath)
        .select(substring_index(col("bg"), "\u0001", 1).as("w1"),
          substring_index(col("bg"), "\u0001", -1).as("w2"),
          col("cnt").as("c12"))
      lmScoreFrom(docBigrams(tPar(s, d, "documents")), c12)
    }),

    // Trigram stupid-backoff LM scoring of HELD-OUT documents — the
    // production shape of the perplexity filter (t_lmscore's bigram
    // score over the whole corpus never exercises backoff: every
    // observed trigram has count ≥ 1 against its own statistics, so
    // the model must come from a TRAIN split and score the held-out
    // fifth — the d_incremental split discipline). Stupid backoff
    // (Brants et al. 2007): P = c123/c12 if the trigram was seen in
    // train, else 0.4·(c23/c2) if the bigram was, else 0.4·0.4·(c3/NT)
    // — every level a rational ratio, no log, cross-engine
    // bit-identical. n_backoff per doc is the novelty signal (how
    // often the doc leaves the train distribution). Scale shape: count
    // tables partial-aggregate to |ngram vocab| and join the held-out
    // trigram stream on their natural keys (broadcast here — 31-word
    // vocab; hash at open-vocabulary scale, same plan); the eval
    // stream is data-linear.
    "t_lmscore3" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val splitId = docs.agg(max("doc_id")).head.getLong(0) * 4 / 5
      val w = words(col("text"))
      def tris(df: DataFrame) = df
        .where(size(w) >= 3)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(w) - 2), i =>
            struct(element_at(w, i).as("w1"),
              element_at(w, i + 1).as("w2"),
              element_at(w, i + 2).as("w3")))).as("t"))
        .select(col("doc_id"), col("t.w1"), col("t.w2"), col("t.w3"))
      def bis(df: DataFrame) = df
        .where(size(w) >= 2)
        .select(explode(transform(sequence(lit(1), size(w) - 1), i =>
          struct(element_at(w, i).as("b1"),
            element_at(w, i + 1).as("b2")))).as("b"))
        .select(col("b.b1"), col("b.b2"))
      val train = docs.filter(col("doc_id") < splitId)
      val c123 = tris(train).groupBy("w1", "w2", "w3")
        .agg(count(lit(1)).as("c123"))
      val trainBi = bis(train).groupBy("b1", "b2")
        .agg(count(lit(1)).as("cb"))
      val c12 = trainBi.select(col("b1").as("w1"), col("b2").as("w2"),
        col("cb").as("c12"))
      val c23 = trainBi.select(col("b1").as("w2"), col("b2").as("w3"),
        col("cb").as("c23"))
      val uni = train.select(explode(w).as("wd"))
        .groupBy("wd").agg(count(lit(1)).as("cu"))
      val c2 = uni.select(col("wd").as("w2"), col("cu").as("c2"))
      val c3 = uni.select(col("wd").as("w3"), col("cu").as("c3"))
      val nt = uni.agg(sum("cu").cast("double").as("nt"))
      val dbl = (c: String) => col(c).cast("double")
      val p = when(col("c123").isNotNull, dbl("c123") / dbl("c12"))
        .otherwise(when(col("c23").isNotNull,
          lit(0.4) * (dbl("c23") / dbl("c2")))
        .otherwise(when(col("c3").isNotNull,
          lit(0.4) * (lit(0.4) * (dbl("c3") / col("nt"))))
        .otherwise(lit(0.4) * (lit(0.4) * (lit(1.0) / col("nt"))))))
      val lm = roundf(col("sp").cast("double") / col("nb").cast("double"), 6)
      tris(docs.filter(col("doc_id") >= splitId))
        .join(broadcast(c123), Seq("w1", "w2", "w3"), "left")
        .join(broadcast(c12), Seq("w1", "w2"), "left")
        .join(broadcast(c23), Seq("w2", "w3"), "left")
        .join(broadcast(c2), Seq("w2"), "left")
        .join(broadcast(c3), Seq("w3"), "left")
        .crossJoin(broadcast(nt))
        .select(col("doc_id"), roundf(p, 6).as("p"),
          col("c123").isNull.cast("long").as("bk"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_trigrams"),
          sum(col("p").cast("decimal(24,6)")).as("sp"),
          count(lit(1)).as("nb"),
          sum(col("bk")).as("n_backoff"))
        .select(col("doc_id"), col("n_trigrams"),
          lm.as("sb_score"), col("n_backoff"))
        .orderBy("doc_id")
    }),

    // Okapi BM25 retrieval scoring for a fixed query-term set — the
    // standard lexical ranker in front of RAG / retrieval pipelines.
    // Rational-idf form: idf_raw = (N − df + 0.5)/(df + 0.5), i.e.
    // Robertson's odds WITHOUT the log. The log is monotone, so
    // per-term document ranking is identical; keeping the arithmetic to
    // integer-derived products/divides makes scores bit-identical
    // across engines (t_tfidf's transcendental-free convention — ln()'s
    // last ulp differs between libm and the JVM). Per-term components
    // IEEE-round to the 4-decimal grid, then EXACT decimal summation
    // (dsum4), so the cross-term sum is aggregation-order-independent.
    // Scale shape: the query-term filter lands on the exploded tokens
    // BEFORE any aggregation (only matching postings survive); doclen
    // is a corpus-sized per-doc aggregate joined on doc_id (hash, never
    // broadcast — it grows with data); df (|terms| rows) and the
    // N/avgdl scalars broadcast; final ranking is orderBy+limit →
    // TakeOrderedAndProject (per-partition heaps), never a global sort.
    "t_bm25" -> ((s, d) => {
      val qterms = Seq("join", "scan", "window")
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"),
        explode(words(col("text"))).as("word"))
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
      tf.join(broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(broadcast(avg))
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), roundf(score, 4).as("comp"), col("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("comp").cast("decimal(22,4)")).cast("double")
            .as("bm25"))
        .orderBy(desc("bm25"), asc("doc_id"))
        .limit(10)
    }),

    // t_bm25 with the SEARCH INDEX MAINTAINED BY THE STREAMING SINKS —
    // the maintained-search-index shape: two appendMaintain tables
    // (per-doc lengths and the query-term postings; valid appends
    // because each is a pure function of its own document) accumulate
    // across the 2-batch documents replay, and the score runs WITHOUT
    // EVER RESCANNING THE CORPUS: df, avgdl, and N are index-sized
    // aggregates of the maintained tables (postings for the 3 query
    // terms + |docs| length rows), so at 100 TB a query costs the
    // index, not the text. Shares t_bm25's oracle VERBATIM — a missed
    // batch, a double-appended posting, or a drifted length shifts a
    // score and goes hash-red.
    "t_bm25_maintained" -> ((s, d) => {
      val qterms = Seq("join", "scan", "window")
      val docs = t(s, d, "documents")
      val mid = docs.agg(max("doc_id")).head.getLong(0) / 2
      val (base, stream) = Replay.twoBatchStream(s, "bm25", d,
        graft.etl.Tables.schemas("documents"), "docs",
        docs.filter(col("doc_id") < mid),
        docs.filter(col("doc_id") >= mid))
      // state lands in SIBLINGS of the replay dir, not inside it: the
      // second stream starts after the first sink's batch=<id> subdirs
      // exist, and file-source partition discovery refuses the mixed
      // layout (stale siblings are wiped — scratchDir only wipes base)
      def sibling(name: String): String = {
        val f = new java.io.File(base.getPath + "_" + name)
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
          x.delete(); ()
        }
        rm(f)
        f.getPath
      }
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
      // index statistics derive from the maintained tables: df is a
      // per-word count of posting rows (a posting row exists iff the
      // doc contains the word), avgdl/N fold the |docs| length table
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
      tf.join(broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(broadcast(avg))
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), roundf(score, 4).as("comp"), col("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("comp").cast("decimal(22,4)")).cast("double")
            .as("bm25"))
        .orderBy(desc("bm25"), asc("doc_id"))
        .limit(10)
    }),

    // SECOND-TICK search-index maintenance — the g_sssp_incr2 pattern
    // on the highest-traffic non-graph family (r18 verdict #4): the
    // BM25 index advances through TWO committed generations of one
    // Replay.maintainedGen state dir, so tick 2 consumes tick 1's
    // COMMITTED output — search-index maintenance composes, it doesn't
    // just bootstrap. State per generation is INDEX-sized, never the
    // corpus: `post` (per-doc tf of the 3 query terms — only matching
    // docs), `mdl` (lengths of those matching docs), and a 1-ROW
    // additive `stats` (doc count + total token count, the avgdl/N
    // inputs) — so a tick's generation write copies a posting list
    // and three numbers, not text. Every artifact is a pure per-doc
    // function over disjoint doc slices, so the tick merge is a
    // disjoint union (post/mdl) + an integer sum (stats) — exact, and
    // the corpus is never rescanned: at 100 TB a tick costs the new
    // slice's tokenization plus an index-sized write. Cold build at
    // the 50% cut commits gen=0; tick 1 folds [50%, 75%) and commits
    // gen=1 via the conditional pointer PUT (batch marker 1 — a
    // replayed tick is a no-op, a raced one fails loudly); tick 2
    // folds the newest quarter in memory and scores. Shares t_bm25's
    // oracle VERBATIM: a lost tick, a double-merged slice, or stats
    // drift shifts a score and goes hash-red.
    "t_bm25_incr2" -> ((s, d) => {
      val qterms = Seq("join", "scan", "window")
      val docs = t(s, d, "documents")
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val cut1 = maxId / 2
      val cut2 = maxId * 3 / 4
      val st = graft.streaming.Streams
      // per-slice index partials (pure per-doc functions, aggregated
      // to index size before any write)
      def parts(slice: DataFrame): (DataFrame, DataFrame, DataFrame) = {
        val toks = slice.select(col("doc_id"),
          explode(words(col("text"))).as("word"))
        val dl = toks.groupBy("doc_id")
          .agg(count(lit(1)).cast("double").as("dl"))
        val post = toks.filter(col("word").isin(qterms: _*))
          .groupBy("doc_id", "word")
          .agg(count(lit(1)).cast("double").as("tf"))
        val mdl = dl.join(post.select("doc_id").distinct(), "doc_id")
        // integral counts — the cross-tick sum is exact, and the
        // derived avgdl equals t_bm25's sum(dl)/count(dl) bit-for-bit
        val stats = dl
          .agg(count(lit(1)).as("n_dl"),
            sum(col("dl")).cast("long").as("sum_dl"))
          .crossJoin(slice.agg(count(lit(1)).as("n_docs")))
        (post, mdl, stats)
      }
      def sumStats(x: DataFrame): DataFrame = x
        .agg(sum("n_dl").as("n_dl"), sum("sum_dl").as("sum_dl"),
          sum("n_docs").as("n_docs"))
      val (statePath, built) = graft.ops.Replay.maintainedGen(
        "bm25_incr2", d, s"$cut1-$cut2-${qterms.mkString("_")}-g1")
      def art(name: String): DataFrame =
        st.readGenArtifact(s, statePath, name)
      if (!built) {
        val (post0, mdl0, stats0) = parts(docs.filter(col("doc_id") <
          cut1))
        st.publishGen(statePath, 0L) { (_, g) =>
          post0.write.mode("overwrite").parquet(s"$g/post")
          mdl0.write.mode("overwrite").parquet(s"$g/mdl")
          stats0.write.mode("overwrite").parquet(s"$g/stats")
        }
      }
      st.publishGen(statePath, 1L) { (prev, g) =>
        def prevArt(name: String) = st.readState(s, s"${prev.get}/$name")
        val (post1, mdl1, stats1) = parts(docs.filter(
          col("doc_id") >= cut1 && col("doc_id") < cut2))
        // materialize the merged artifacts BEFORE publishing: the
        // union reads gen=0 while the write lands in the (uniquely
        // named) gen=1 dir, and localCheckpoint gives the commit real
        // size stats
        val mPost = prevArt("post").unionByName(post1).localCheckpoint()
        val mMdl = prevArt("mdl").unionByName(mdl1).localCheckpoint()
        val mStats = sumStats(prevArt("stats").unionByName(stats1))
          .localCheckpoint()
        mPost.write.mode("overwrite").parquet(s"$g/post")
        mMdl.write.mode("overwrite").parquet(s"$g/mdl")
        mStats.write.mode("overwrite").parquet(s"$g/stats")
      }
      // tick 2 — the query tick, every run: fold the newest quarter
      // in memory and score from index-sized state only
      val (post2, mdl2, stats2) = parts(docs.filter(col("doc_id") >=
        cut2))
      val tf = art("post").unionByName(post2)
      val mdl = art("mdl").unionByName(mdl2)
      val stats = sumStats(art("stats").unionByName(stats2))
      val dfreq = tf.groupBy("word")
        .agg(count(lit(1)).cast("double").as("df"))
      val avg = stats.select((col("sum_dl").cast("double") /
        col("n_dl").cast("double")).as("avgdl"))
      val nDocs = stats.select(col("n_docs").cast("double")
        .as("n_docs"))
      val score = (col("n_docs") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)) *
        (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) +
          lit(0.75) * col("dl") / col("avgdl")))
      tf.join(broadcast(dfreq), "word")
        .join(mdl, "doc_id")
        .crossJoin(broadcast(avg))
        .crossJoin(broadcast(nDocs))
        .select(col("doc_id"), roundf(score, 4).as("comp"), col("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("comp").cast("decimal(22,4)")).cast("double")
            .as("bm25"))
        .orderBy(desc("bm25"), asc("doc_id"))
        .limit(10)
    }),

    "t_colloc" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = words(col("text"))
      // r20: tPar — both gram explodes ran in the 1-task scan stage
      val dP = tPar(s, d, "documents")
      val toks = dP
        .select(explode(w).as("wd"))
      // size guard: a 1-word doc has no bigrams — unguarded
      // sequence(1, 0) DESCENDS to [1, 0] and element_at(w, 0) throws,
      // while the oracle's range(1, 1) is simply empty
      val bi = dP
        .where(size(w) >= 2)
        .select(explode(transform(sequence(lit(1), size(w) - 1), i =>
          struct(element_at(w, i).as("w1"),
            element_at(w, i + 1).as("w2")))).as("b"))
        .select(col("b.w1"), col("b.w2"))
      val uni = toks.groupBy("wd").agg(count("*").as("c1"))
      val n = toks.agg(count("*").cast("double").as("nt"))
      val pairs = bi.groupBy("w1", "w2").agg(count("*").as("c12"))
        .filter(col("c12") >= 5)
      // top-20 via orderBy().limit() — plans TakeOrderedAndProject (a
      // per-partition heap + driver merge of 20-row heads), NOT the
      // single-task global sort a row_number() window over an
      // unpartitioned frame would force; bigram-type cardinality grows
      // with corpus size, so that window is the shape that dies at 100×.
      // rk is then numbered over the bounded 20-row result (constant).
      val scored = pairs
        .join(broadcast(uni.select(col("wd").as("w1"),
          col("c1").as("ca"))), "w1")
        .join(broadcast(uni.select(col("wd").as("w2"),
          col("c1").as("cb"))), "w2")
        .crossJoin(broadcast(n))
        .select(col("w1"), col("w2"), col("c12"),
          roundf(col("c12").cast("double") * col("nt") /
            (col("ca").cast("double") * col("cb").cast("double")), 4)
            .as("pmi"))
        .orderBy(desc("pmi"), asc("w1"), asc("w2"))
        .limit(20)
      scored.withColumn("rk", row_number().over(
          Window.orderBy(desc("pmi"), asc("w1"), asc("w2"))))
        .orderBy("rk")
    }),

    // Benchmark decontamination: flag training documents sharing any
    // 4-gram with a held-out benchmark set — the standard pre-training
    // hygiene pass (an n-gram hit against an eval set means the model
    // would train on its own test; production pipelines use 8-13-grams,
    // 4 here because the synthetic corpus's ~900-word vocabulary makes
    // longer grams never collide). The benchmark is the deterministic 1%
    // slice doc_id % 97 == 0 (stand-in for the real eval files). Scale
    // shape: benchmark n-grams are SMALL (eval sets are thousands of
    // docs, not billions) → broadcast + semi-style
    // equi-join against the corpus's exploded 8-grams; the corpus is
    // touched once, never shuffled on n-gram. Output: contaminated doc →
    // how many distinct 8-grams it shares.
    "t_contam" -> ((s, d) => {
      // r20: tPar — the corpus-side 4-gram explode ran in the 1-task
      // scan stage (the tiny bench side rides the same frame)
      val docs = tPar(s, d, "documents")
      val grams4 = (c: org.apache.spark.sql.Column) => {
        val w = words(c)
        array_distinct(transform(
          sequence(lit(1), greatest(size(w) - 3, lit(1))),
          i => concat_ws(" ", slice(w, i, lit(4)))))
      }
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(explode(grams4(col("text"))).as("ng")).distinct()
      docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode(grams4(col("text"))).as("ng"))
        .join(broadcast(bench), "ng")
        .groupBy("doc_id")
        .agg(count("*").as("n_contam"))
        .orderBy("doc_id")
    }))

  private val tfidfSql: String =
    """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
         tf AS (SELECT doc_id, word, COUNT(*) AS tf
                FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT word, COUNT(*) AS df
                   FROM (SELECT DISTINCT doc_id, word FROM toks)
                   GROUP BY 1),
         n AS (SELECT COUNT(*)::DOUBLE AS nd FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.word,
             floor(tf.tf::DOUBLE * n.nd / dfreq.df::DOUBLE
               * 10000.0 + 0.5) / 10000.0 AS score
           FROM tf JOIN dfreq USING (word) CROSS JOIN n)
         SELECT doc_id, word, score, rn FROM (
           SELECT doc_id, word, score, row_number() OVER (
             PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rn
           FROM scored)
         WHERE rn <= 3 ORDER BY doc_id, rn"""

  private val scrubSql: String =
    """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         segl AS (
           SELECT doc_id,
             [array_to_string(w[j*8+1 : j*8+8], ' ')
               for j in range(0, CAST(ceil(len(w) / 8.0) AS BIGINT))] AS sl
           FROM base),
         segs AS (
           SELECT doc_id, generate_subscripts(sl, 1) - 1 AS pos,
             unnest(sl) AS seg
           FROM segl),
         hashed AS (
           SELECT doc_id, pos, seg,
             ('0x' || substr(md5(seg), 1, 15))::BIGINT AS h
           FROM segs),
         dup AS (SELECT h FROM hashed GROUP BY h HAVING COUNT(*) >= 2),
         kept AS (SELECT * FROM hashed ANTI JOIN dup USING (h)),
         re AS (
           SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(seg, ' ' ORDER BY pos) AS scrubbed
           FROM kept GROUP BY doc_id)
         SELECT b.doc_id,
           CAST(ceil(len(b.w) / 8.0) AS BIGINT) AS n_segs,
           CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(re.scrubbed, '')) AS scrubbed_md5
         FROM base b LEFT JOIN re USING (doc_id)
         ORDER BY b.doc_id"""

  lazy val oracles: Map[String, String] = baseOracles +
    curateOracle

  private lazy val lmScoreSql: String =
    """WITH bi AS (
           SELECT doc_id, w[i] AS w1, w[i+1] AS w2
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents),
                LATERAL (SELECT unnest(range(1, len(w))) AS i)),
         c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
         c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
         sc AS (
           SELECT bi.doc_id,
             floor(c12.c12::DOUBLE / c1.c1::DOUBLE * 1000000.0 + 0.5)
               / 1000000.0 AS p
           FROM bi JOIN c12 USING (w1, w2) JOIN c1 ON bi.w1 = c1.w1),
         ag AS (
           SELECT doc_id, COUNT(*) AS n_bigrams,
             SUM(CAST(p AS DECIMAL(24,6))) AS sp, COUNT(*) AS nb
           FROM sc GROUP BY doc_id)
         SELECT doc_id, n_bigrams,
           floor(sp::DOUBLE / nb::DOUBLE * 1000000.0 + 0.5) / 1000000.0
             AS lm_score,
           floor(sp::DOUBLE / nb::DOUBLE * 1000000.0 + 0.5) / 1000000.0
             < 0.02 AS flag_improbable
         FROM ag ORDER BY doc_id"""

  private lazy val bm25Sql: String =
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
                   JOIN dl ON tf.doc_id = dl.doc_id, a, n)
         SELECT doc_id, COUNT(*) AS n_terms,
           CAST(SUM(CAST(comp AS DECIMAL(22,4))) AS DOUBLE) AS bm25
         FROM comp GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id ASC LIMIT 10"""

  private lazy val baseOracles: Map[String, String] = Map(
    // identical integer budget split (42000·wt // Σwt), the same
    // LEAST-capped grid-rounded rate, the same integer epoch ceiling
    "t_mixture" ->
      """WITH per AS (
           SELECT source, COUNT(*) AS docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
             COALESCE(CAST(NULLIF(regexp_extract(source, '([0-9]+)$', 1),
               '') AS BIGINT) + 1, 1) AS wt
           FROM documents GROUP BY 1),
         w AS (SELECT CAST(SUM(wt) AS BIGINT) AS wsum FROM per)
         SELECT source, docs, tokens,
           42000 * wt // wsum AS target_tokens,
           floor(LEAST(1.0, (42000 * wt // wsum)::DOUBLE
             / tokens::DOUBLE) * 10000.0 + 0.5) / 10000.0 AS sample_rate,
           GREATEST(1, (42000 * wt // wsum + tokens - 1) // tokens)
             AS epochs
         FROM per, w ORDER BY source""",
    // three unrolled merge rounds: identical pair counting (1-based
    // lateral over the symbol lists), identical argmax tiebreak,
    // identical left-to-right non-rescanning replace
    "t_bpe_merges" -> {
      def round(r: Int): String = {
        val prev = s"w${r - 1}"
        s"""p$r AS MATERIALIZED (
           SELECT a[i] AS x, a[i+1] AS y, COUNT(*) AS cnt
           FROM (SELECT string_split(trim(seq), ' ') AS a FROM $prev),
                LATERAL (SELECT unnest(range(1, len(a))) AS i)
           WHERE len(a) >= 2
           GROUP BY 1, 2),
         t$r AS (SELECT x, y, cnt FROM p$r
                 ORDER BY cnt DESC, x ASC, y ASC LIMIT 1),
         w$r AS MATERIALIZED (
           SELECT replace(seq, ' ' || t$r.x || ' ' || t$r.y || ' ',
             ' ' || t$r.x || t$r.y || ' ') AS seq
           FROM $prev, t$r)"""
      }
      s"""WITH w0 AS MATERIALIZED (
           SELECT ' ' || array_to_string(string_split(w, ''), ' ')
             || ' ' AS seq
           FROM (SELECT unnest(string_split(text, ' ')) AS w
                 FROM documents)
           WHERE len(w) >= 1),
         ${round(1)},
         ${round(2)},
         ${round(3)}
         SELECT 1 AS round, x || ' ' || y AS pair, x || y AS merged,
           cnt FROM t1
         UNION ALL
         SELECT 2, x || ' ' || y, x || y, cnt FROM t2
         UNION ALL
         SELECT 3, x || ' ' || y, x || y, cnt FROM t3
         ORDER BY round"""
    },
    // training replay (identical CTE chain to t_bpe_merges) + apply:
    // per-doc positional words rewritten through the same N replaces,
    // symbols dense-ranked lexicographically (binary collation on both
    // engines), ids string-joined in (pos, symbol-pos) order. The
    // generator is shared by the N=3 and N=16 operating points.
    "t_bpe_encode" -> bpeEncodeSql(3),
    "t_bpe_encode16" -> bpeEncodeSql(BpeMergesFull,
      Some("('0x' || substr(md5('bpet:' || doc_id), 1, 15))::BIGINT " +
        s"% $BpeTrainMod = 0")),
    "t_lmscore3" ->
      """WITH s AS (SELECT (MAX(doc_id) * 4) // 5 AS sid FROM documents),
         tri AS (
           SELECT doc_id, w[i] AS w1, w[i+1] AS w2, w[i+2] AS w3
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE len(string_split(text, ' ')) >= 3),
                LATERAL (SELECT unnest(range(1, len(w) - 1)) AS i)),
         bi AS (
           SELECT doc_id, w[i] AS b1, w[i+1] AS b2
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents WHERE len(string_split(text, ' ')) >= 2),
                LATERAL (SELECT unnest(range(1, len(w))) AS i)),
         c123 AS (SELECT w1, w2, w3, COUNT(*) AS c123
                  FROM tri, s WHERE doc_id < sid GROUP BY 1, 2, 3),
         cb AS (SELECT b1, b2, COUNT(*) AS cb
                FROM bi, s WHERE doc_id < sid GROUP BY 1, 2),
         uni AS (SELECT wd, COUNT(*) AS cu
                 FROM (SELECT doc_id,
                         unnest(string_split(text, ' ')) AS wd
                       FROM documents), s
                 WHERE doc_id < sid GROUP BY wd),
         nt AS (SELECT SUM(cu)::DOUBLE AS nt FROM uni),
         ev AS (SELECT tri.* FROM tri, s WHERE doc_id >= sid),
         sc AS (
           SELECT ev.doc_id,
             floor(CASE
               WHEN c123.c123 IS NOT NULL
                 THEN c123.c123::DOUBLE / c12.cb::DOUBLE
               WHEN c23.cb IS NOT NULL
                 THEN 0.4 * (c23.cb::DOUBLE / c2.cu::DOUBLE)
               WHEN c3.cu IS NOT NULL
                 THEN 0.4 * (0.4 * (c3.cu::DOUBLE / nt.nt))
               ELSE 0.4 * (0.4 * (1.0 / nt.nt)) END
               * 1000000.0 + 0.5) / 1000000.0 AS p,
             CASE WHEN c123.c123 IS NULL THEN 1 ELSE 0 END AS bk
           FROM ev
             LEFT JOIN c123 ON ev.w1 = c123.w1 AND ev.w2 = c123.w2
               AND ev.w3 = c123.w3
             LEFT JOIN cb c12 ON ev.w1 = c12.b1 AND ev.w2 = c12.b2
             LEFT JOIN cb c23 ON ev.w2 = c23.b1 AND ev.w3 = c23.b2
             LEFT JOIN uni c2 ON ev.w2 = c2.wd
             LEFT JOIN uni c3 ON ev.w3 = c3.wd,
             nt)
         SELECT doc_id, COUNT(*) AS n_trigrams,
           floor(CAST(SUM(CAST(p AS DECIMAL(24,6))) AS DOUBLE)
             / COUNT(*)::DOUBLE * 1000000.0 + 0.5) / 1000000.0
             AS sb_score,
           CAST(SUM(bk) AS BIGINT) AS n_backoff
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "t_lmscore" -> lmScoreSql,
    // the maintained count table must score identically to the
    // corpus-built one — t_lmscore's oracle VERBATIM
    "t_lmscore_maintained" -> lmScoreSql,
    "t_bm25" -> bm25Sql,
    // the maintained index must score identically to the corpus-built
    // one — t_bm25's oracle VERBATIM
    "t_bm25_maintained" -> bm25Sql,
    // t_bm25_incr2 shares the oracle VERBATIM: whatever two-commit
    // maintenance path produced the index, the scores must hash-match
    // the from-scratch full-corpus truth
    "t_bm25_incr2" -> bm25Sql,
    "t_colloc" ->
      """WITH toks AS (
           SELECT unnest(string_split(text, ' ')) AS wd FROM documents),
         bi AS (
           SELECT w[i] AS w1, w[i+1] AS w2
           FROM (SELECT string_split(text, ' ') AS w FROM documents),
                LATERAL (SELECT unnest(range(1, len(w))) AS i)),
         uni AS (SELECT wd, COUNT(*) AS c1 FROM toks GROUP BY wd),
         n AS (SELECT COUNT(*)::DOUBLE AS nt FROM toks),
         pairs AS (
           SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
           HAVING COUNT(*) >= 5),
         scored AS (
           SELECT p.w1, p.w2, p.c12,
             floor(p.c12::DOUBLE * n.nt / (a.c1::DOUBLE * b.c1::DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS pmi
           FROM pairs p
             JOIN uni a ON a.wd = p.w1
             JOIN uni b ON b.wd = p.w2
             CROSS JOIN n)
         SELECT w1, w2, c12, pmi, rk FROM (
           SELECT w1, w2, c12, pmi, row_number() OVER (
             ORDER BY pmi DESC, w1 ASC, w2 ASC) AS rk
           FROM scored)
         WHERE rk <= 20 ORDER BY rk""",
    "t_spandedup" ->
      """WITH base AS (
           SELECT doc_id,
             [('0x' || substr(md5(g), 1, 15))::BIGINT
               for g in list_distinct([array_to_string(w[i:i+4], ' ')
                 for i in range(1, greatest(len(w) - 4, 1) + 1)])] AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents)),
         spans AS (SELECT doc_id, unnest(sh) AS h FROM base),
         dfreq AS (SELECT h, COUNT(*) AS nd FROM spans GROUP BY h),
         dup AS (
           SELECT doc_id, COUNT(*) AS n_dup
           FROM spans JOIN dfreq USING (h) WHERE nd >= 2
           GROUP BY doc_id)
         SELECT b.doc_id, CAST(len(b.sh) AS BIGINT) AS n_spans,
           CAST(COALESCE(dup.n_dup, 0) AS BIGINT) AS n_dup_spans,
           floor(COALESCE(dup.n_dup, 0)::DOUBLE / len(b.sh)
             * 10000.0 + 0.5) / 10000.0 AS dup_frac,
           CASE WHEN floor(COALESCE(dup.n_dup, 0)::DOUBLE / len(b.sh)
             * 10000.0 + 0.5) / 10000.0 < 0.5 THEN 1 ELSE 0 END AS keep
         FROM base b LEFT JOIN dup ON dup.doc_id = b.doc_id
         ORDER BY b.doc_id""",
    // t_scrub_maintained shares this oracle VERBATIM: the streaming-
    // maintained frequency table must reproduce the batch truth exactly
    "t_scrub" -> scrubSql,
    "t_scrub_maintained" -> scrubSql,

    "t_pii" ->
      """WITH inj AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
               THEN text || ' contact u' || doc_id || '@mail.net or 555-0'
                 || (doc_id % 100)
               ELSE text END AS text2
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text2,
             '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text2, '555-[0-9]+')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(text2,
             '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '<EMAIL>', 'g'),
             '555-[0-9]+', '<PHONE>', 'g')) AS redacted_md5
         FROM inj ORDER BY doc_id""",
    "t_chunkpack" ->
      """SELECT doc_id, n_tokens, gstart,
           gstart // 512 AS first_chunk,
           (gstart + n_tokens - 1) // 512 AS last_chunk
         FROM (SELECT doc_id,
                 len(string_split(text, ' ')) AS n_tokens,
                 CAST(SUM(len(string_split(text, ' '))) OVER (
                     ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - len(string_split(text, ' ')) AS BIGINT) AS gstart
               FROM documents)
         ORDER BY doc_id""",
    "t_tokens" ->
      """SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             AS n_bpe_tokens,
           length(text) AS n_chars_calc
         FROM documents ORDER BY doc_id""",
    "t_quality" ->
      """WITH q AS (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','to','in'))) AS DOUBLE) AS n_stop,
             (CAST(length(text) AS DOUBLE) -
               (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_len
           FROM documents)
         SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
           floor(avg_len * 10000.0 + 0.5) / 10000.0 AS avg_token_len,
           floor(n_stop / n_tok * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
           floor((least(n_tok, 500.0) / 500.0 * 0.5 +
             (1.0 - n_stop / n_tok) * 0.3 +
             least(avg_len, 8.0) / 8.0 * 0.2) * 10000.0 + 0.5) / 10000.0
             AS quality_score
         FROM q ORDER BY doc_id""",
    // identical rounded score -> bucket, 21-row grid, descending cumsum
    "t_yield_curve" ->
      """WITH q AS (
           SELECT
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','to','in'))) AS DOUBLE) AS n_stop,
             (CAST(length(text) AS DOUBLE) -
               (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1))
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_len
           FROM documents),
         b AS (
           SELECT floor((floor((least(n_tok, 500.0) / 500.0 * 0.5 +
               (1.0 - n_stop / n_tok) * 0.3 +
               least(avg_len, 8.0) / 8.0 * 0.2) * 10000.0 + 0.5)
               / 10000.0) * 20)::INT AS bucket,
             COUNT(*) AS dk, CAST(SUM(n_tok) AS BIGINT) AS tk
           FROM q GROUP BY 1),
         g AS (
           SELECT range::INT AS bucket, COALESCE(dk, 0) AS dk,
             COALESCE(tk, 0) AS tk
           FROM range(0, 21) LEFT JOIN b ON b.bucket = range)
         SELECT bucket,
           floor(bucket * 0.05 * 100.0 + 0.5) / 100.0 AS threshold,
           CAST(SUM(dk) OVER (ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_docs,
           CAST(SUM(tk) OVER (ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS n_tokens,
           floor(SUM(dk) OVER (ORDER BY bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / (SUM(dk) OVER ())::DOUBLE * 10000.0 + 0.5) / 10000.0
             AS pct_docs,
           floor(SUM(tk) OVER (ORDER BY bucket DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             / (SUM(tk) OVER ())::DOUBLE * 10000.0 + 0.5) / 10000.0
             AS pct_tokens
         FROM g ORDER BY bucket""",
    "t_langid" ->
      """WITH s AS (
           SELECT lang,
             len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of'))) AS s_en,
             len(list_filter(string_split(text, ' '),
               x -> x IN ('el','la','es','de'))) AS s_es,
             len(list_filter(string_split(text, ' '),
               x -> x IN ('的','是','了'))) AS s_zh
           FROM documents)
         SELECT lang,
           CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS predicted,
           COUNT(*) AS n
         FROM s GROUP BY 1, 2 ORDER BY lang, predicted""",
    "t_langid3" ->
      """WITH s AS (
           SELECT lang,
             list_distinct([substr(text, i, 3)
               for i in range(1, greatest(length(text) - 2, 1) + 1)])
               AS tri
           FROM documents),
         sc AS (
           SELECT lang,
             len(list_intersect(tri,
               ['the','he ',' th','ing','nd ',' a '])) AS s_en,
             len(list_intersect(tri,
               ['el ',' de','os ','la ','ión',' es'])) AS s_es,
             len(list_intersect(tri, ['的','是','了','在','我'])) AS s_zh
           FROM s)
         SELECT lang,
           CASE WHEN s_en >= s_es AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS predicted,
           COUNT(*) AS n
         FROM sc GROUP BY 1, 2 ORDER BY lang, predicted""",
    // position-keeping selection: the selected INDEX is recovered
    // first, then fh = gs[idx]
    "t_winnow_spans" ->
      """WITH wd AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         g AS (
           SELECT doc_id,
             [('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),
                 1, 15))::BIGINT
              for i in range(1, greatest(len(w) - 4, 1) + 1)] AS gs
           FROM wd),
         selp AS (
           SELECT DISTINCT doc_id, gs[idx] AS fh, idx AS posn FROM (
             SELECT doc_id, gs, unnest([
                 i - 1 + list_max([j for j in range(1, 5)
                   if gs[i + j - 1] = list_min(gs[i : i + 3])])
               for i in range(1, len(gs) - 4 + 2)]) AS idx
             FROM g WHERE len(gs) >= 4)),
         an AS (
           SELECT x.doc_id AS a, y.doc_id AS b, x.fh,
             x.posn AS pa, y.posn AS pb
           FROM selp x JOIN selp y
             ON x.fh = y.fh AND x.doc_id < y.doc_id),
         pr AS (
           SELECT a, b, COUNT(DISTINCT fh) AS n_shared,
             COUNT(*) AS n_anchors,
             MIN(pa) AS a_lo, MAX(pa) AS a_hi,
             MIN(pb) AS b_lo, MAX(pb) AS b_hi
           FROM an GROUP BY 1, 2 HAVING COUNT(DISTINCT fh) >= 4)
         SELECT a, b, n_shared, n_anchors, a_lo, a_hi, b_lo, b_hi
         FROM pr ORDER BY a, b""",
    // the same rightmost-min selection via list comprehensions: per
    // window start i, m = min of gs[i..i+3], selected index = i-1 +
    // the LARGEST j with gs[i+j-1] = m
    "t_winnow" ->
      """WITH wd AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         g AS (
           SELECT doc_id,
             [('0x' || substr(md5(array_to_string(w[i:i+4], ' ')),
                 1, 15))::BIGINT
              for i in range(1, greatest(len(w) - 4, 1) + 1)] AS gs
           FROM wd),
         sel AS (
           SELECT DISTINCT doc_id, fh FROM (
             SELECT doc_id, unnest([
                 gs[i - 1 + list_max([j for j in range(1, 5)
                   if gs[i + j - 1] = list_min(gs[i : i + 3])])]
               for i in range(1, len(gs) - 4 + 2)]) AS fh
             FROM g WHERE len(gs) >= 4)),
         pr AS (
           SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
           FROM sel x JOIN sel y
             ON x.fh = y.fh AND x.doc_id < y.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 4)
         SELECT a, b, n_shared FROM pr ORDER BY a, b""",
    "t_fingerprint" ->
      """WITH w AS (
           SELECT doc_id, text, string_split(text, ' ') AS words
           FROM documents)
         SELECT doc_id,
           COALESCE(
             list_aggregate(
               [('0x' || substr(md5(array_to_string(words[i:i+7], ' ')),
                 1, 15))::BIGINT
                for i in range(1, greatest(len(words) - 6, 1))],
               'min'),
             ('0x' || substr(md5(text), 1, 15))::BIGINT) AS fingerprint
         FROM w ORDER BY doc_id""",
    "t_repetition" ->
      """WITH g AS (
           SELECT doc_id,
             [array_to_string(w[i:i+1], ' ')
               for i in range(1, greatest(len(w) - 1, 1) + 1)] AS g2,
             [array_to_string(w[i:i+2], ' ')
               for i in range(1, greatest(len(w) - 2, 1) + 1)] AS g3
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents)),
         f AS (
           SELECT doc_id,
             floor((1.0 - len(list_distinct(g2))::DOUBLE / len(g2))
               * 10000.0 + 0.5) / 10000.0 AS dup2_frac,
             floor((1.0 - len(list_distinct(g3))::DOUBLE / len(g3))
               * 10000.0 + 0.5) / 10000.0 AS dup3_frac
           FROM g)
         SELECT doc_id, dup2_frac, dup3_frac,
           CASE WHEN dup2_frac > 0.08 OR dup3_frac > 0.04
             THEN 1 ELSE 0 END AS flagged
         FROM f ORDER BY doc_id""",
    "t_rarity" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
         tc AS (SELECT doc_id, word, COUNT(*) AS c
                FROM toks GROUP BY doc_id, word),
         dfreq AS (SELECT word, COUNT(*) AS df FROM tc GROUP BY word)
         SELECT tc.doc_id,
           CAST(SUM(tc.c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN dfreq.df <= 2 THEN tc.c ELSE 0 END)
             AS BIGINT) AS n_rare,
           CAST(SUM(CASE WHEN dfreq.df <= 2 THEN tc.c ELSE 0 END)
               AS DOUBLE)
             / CAST(SUM(tc.c) AS DOUBLE) AS rare_ratio
         FROM tc JOIN dfreq ON tc.word = dfreq.word
         GROUP BY tc.doc_id ORDER BY tc.doc_id""",
    // Same identity, same 4-decimal term grid, same exact decimal
    // fold; SUM(c) cast to BIGINT (DuckDB widens integer sums to
    // HUGEINT); the normalized column divides the ALREADY-rounded
    // entropy, mirroring the Spark evaluation order exactly.
    "t_entropy" ->
      """WITH tc AS (
           SELECT doc_id, word, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents)
           GROUP BY 1, 2),
         agg AS (
           SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_distinct,
             CAST(SUM(CAST(floor(c::DOUBLE * log2(c::DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS DECIMAL(22,4)))
               AS DOUBLE) AS clog
           FROM tc GROUP BY 1),
         e AS (
           SELECT doc_id, n_tokens, n_distinct,
             floor((log2(n_tokens::DOUBLE) - clog / n_tokens::DOUBLE)
               * 10000.0 + 0.5) / 10000.0 AS entropy_bits
           FROM agg)
         SELECT doc_id, n_tokens, n_distinct, entropy_bits,
           CASE WHEN n_distinct > 1
             THEN floor(entropy_bits / log2(n_distinct::DOUBLE)
               * 10000.0 + 0.5) / 10000.0
             ELSE 0.0 END AS norm_entropy
         FROM e ORDER BY doc_id""",

    "t_termfreq" ->
      """SELECT word, COUNT(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS word
               FROM documents)
         GROUP BY word ORDER BY n DESC, word ASC LIMIT 50""",
    // t_tfidf_maintained shares this oracle VERBATIM: the streaming-
    // maintained df table must reproduce the batch truth exactly
    "t_tfidf" -> tfidfSql,
    "t_tfidf_maintained" -> tfidfSql,
    // 4-gram enumeration mirrors the Spark grams4 helper: i ∈
    // [1, max(len-3, 1)], short docs yield one truncated gram.
    "t_contam" ->
      """WITH sh AS (
           SELECT doc_id,
             unnest(list_distinct([array_to_string(w[i:i+3], ' ')
               for i in range(1, greatest(len(w) - 3, 1) + 1)])) AS ng
           FROM (SELECT doc_id, string_split(text, ' ') AS w
                 FROM documents)),
         bench AS (SELECT DISTINCT ng FROM sh WHERE doc_id % 97 = 0)
         SELECT s.doc_id, COUNT(*) AS n_contam
         FROM sh s JOIN bench b USING (ng)
         WHERE s.doc_id % 97 <> 0
         GROUP BY s.doc_id ORDER BY s.doc_id""")

  /** t_curate = the other four oracle SQLs composed as subqueries — one
    * definition per signal, reused verbatim, so the verdict cannot drift
    * from its inputs.
    */
  private lazy val curateOracle: (String, String) = "t_curate" ->
    s"""WITH q AS (${baseOracles("t_quality")}),
       r AS (${baseOracles("t_repetition")}),
       c AS (${baseOracles("t_contam")}),
       cl AS (${graft.ops.Dedup.oracles("d_clusters")})
       SELECT q.doc_id, q.quality_score, r.flagged AS rep_flagged,
         CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contaminated,
         COALESCE(cl.is_canonical, 1) AS near_dup_canonical,
         CASE WHEN q.quality_score >= 0.41 AND r.flagged = 0
             AND c.doc_id IS NULL AND COALESCE(cl.is_canonical, 1) = 1
           THEN 1 ELSE 0 END AS keep
       FROM q JOIN r ON r.doc_id = q.doc_id
       LEFT JOIN c ON c.doc_id = q.doc_id
       LEFT JOIN cl ON cl.doc_id = q.doc_id
       ORDER BY q.doc_id"""
}
