package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface (SURVEY §2.9). The reference's only
  * incremental notion is the Bulk-job poll loop (client.rs:229-233); real
  * SF pipelines need continuous extract. Batch-equivalent formulations of
  * every aggregation here are oracle-checked in ops.Events — these are the
  * same expressions bound to `readStream`, plus the stateful operators
  * batch can't express (dropDuplicatesWithinWatermark,
  * flatMapGroupsWithState).
  *
  * Job lifecycle mapping (BulkState, response.rs:46-54):
  * InProgress = query.isActive; JobComplete = AvailableNow trigger drained;
  * Aborted = query.stop(); Failed = StreamingQueryException.
  */
object Streams {

  /** File-source stream over the events table of a testdata directory,
    * with the same raw-nanos handling as the batch reader (Tables.load).
    * The source path must be a DIRECTORY (file-stream listing); the glob
    * filter selects the table file. maxFilesPerTrigger bounds
    * per-micro-batch work; at scale this is the backpressure knob.
    */
  def eventsStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    // streaming sources need a fixed schema upfront — detect the file's
    // native INT64 time unit from the footer (one batch metadata read)
    // and apply the matching →µs divisor, same as the batch reader
    val div = graft.etl.Tables.eventsTsDivisor(spark, sfDir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.readStream
      .schema(graft.etl.Tables.eventsRaw)
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sfDir)
      .withColumn("ts", expr(s"timestamp_micros(ts DIV $div)"))
  }

  /** Tumbling 1-hour windowed counts with a 10-minute watermark — the
    * streaming twin of ops.Events "e_tumble"; late rows beyond the
    * watermark are dropped.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count("*").as("n"), sum(col("value").cast("decimal(18,2)"))
        .cast("double").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))

  /** Sliding 1-hour windows every 30 minutes — twin of "e_slide"
    * (each event lands in 2 overlapping windows; state is 2× the
    * tumbling case, still watermark-bounded).
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count("*").as("n"))
      .select(col("w.start").as("ws"), col("n"))

  /** Stateful exactly-once-per-key dedup bounded by the watermark — the
    * streaming version of exact dedup (state is GC'd once event-time
    * passes the watermark, so state size is bounded at any scale).
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming near-duplicate suppression: keep the first document per
    * MinHash signature within the watermark, drop near-identical
    * re-arrivals (identical 12-component signature ⇔ Jaccard ≈ 1 — the
    * streaming twin of exact dedup, widened to near-identity). State is
    * one row per distinct signature and GC'd past the watermark, so it's
    * bounded at any scale. `tsCol` must be an event-time column.
    */
  def nearDupSuppress(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("__mh_key",
        org.apache.spark.sql.graftshim.ShingleMinHashes
          .shingleMinhashes(split(col(textCol), " "), 5, 12)
          .cast("array<string>"))
      .withColumn("__mh_key", concat_ws(",", col("__mh_key")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__mh_key")
      .drop("__mh_key")

  /** Per-user running aggregate via flatMapGroupsWithState: emits one
    * update row per input event with the user's cumulative count/value —
    * the custom-state shape (KeyValueGroupedDataset) that windowed aggs
    * can't express. ProcessingTimeTimeout keeps idle-user state collectable.
    */
  final case class UserEvent(event_id: Long, user_id: Long, value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double)

  def runningPerUser(spark: SparkSession, events: DataFrame)
      : Dataset[UserRunning] = {
    import spark.implicits._
    events.select(col("event_id"), col("user_id"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (uid: Long, it: Iterator[UserEvent],
         state: GroupState[UserRunning]) =>
          var cur = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          val out = it.map { e =>
            cur = UserRunning(uid, cur.n + 1, cur.total + e.value)
            cur
          }.toList
          state.update(cur)
          out.iterator
      }
  }

  /** Streaming twin of the batch `e_transitions` query: first-order
    * Markov transitions emitted incrementally. State per user is ONE
    * record — the last seen event — so state size is |users|, not
    * |events|. Within a micro-batch the group's rows re-sort by
    * (ts, event_id) before chaining (arrival order inside a batch is a
    * shuffle artifact, not event order); ACROSS batches the chain
    * continues from the stored last event, which matches the batch lag
    * window whenever batches respect event-time order per user — the
    * guarantee a watermark + ordered replay provides, and exactly the
    * contract StreamsSpec drives (2-batch file replay = batch counts).
    */
  final case class TransEvent(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String)
  final case class LastEvent(ts_us: Long, event_id: Long,
      event_type: String)
  final case class Transition(user_id: Long, prev_type: String,
      event_type: String)

  def transitionsStreaming(spark: SparkSession, events: DataFrame)
      : Dataset[Transition] = {
    import spark.implicits._
    events.select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (uid: Long, it: Iterator[TransEvent],
         state: GroupState[LastEvent]) =>
          val sorted = it.toArray.sortBy(e => (e.ts_us, e.event_id))
          var prev = state.getOption
          val out = Seq.newBuilder[Transition]
          for (e <- sorted) {
            prev.foreach(p =>
              out += Transition(uid, p.event_type, e.event_type))
            prev = Some(LastEvent(e.ts_us, e.event_id, e.event_type))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  /** transformWithState variant of the per-user running aggregate —
    * Spark 4's successor to flatMapGroupsWithState: explicit named state
    * variables on a StatefulProcessorHandle, TTL support, and (unlike
    * FMGWS) no MemoryStream NPE. Same output contract as runningPerUser.
    * REQUIRES the RocksDB state store
    * (spark.sql.streaming.stateStore.providerClass=
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider)
    * — the default HDFS-backed store can't host its column families.
    */
  private class RunningProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, UserRunning] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[UserRunning] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      import org.apache.spark.sql.Encoders
      state = getHandle.getValueState[UserRunning]("running",
        Encoders.product[UserRunning],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserRunning] = {
      var cur = Option(state.get()).getOrElse(UserRunning(key, 0L, 0.0))
      val out = rows.map { e =>
        cur = UserRunning(key, cur.n + 1, cur.total + e.value)
        cur
      }.toList
      state.update(cur)
      out.iterator
    }
  }

  def runningPerUserTws(spark: SparkSession, events: DataFrame)
      : Dataset[UserRunning] = {
    import spark.implicits._
    events.select(col("event_id"), col("user_id"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append)
  }

  /** Stream–stream interval join: each click joins the same user's
    * purchases landing within the hour AFTER it. Both sides carry
    * watermarks and the join condition bounds the event-time range in
    * BOTH directions, which is what lets Spark GC join state — without
    * the interval bound, both sides' state grows forever. This is the
    * attribution-join shape (ad click → conversion) that batch e_funnel
    * answers retrospectively and this answers continuously.
    */
  def clickToPurchase(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "10 minutes")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** TTL-based per-user session state via transformWithState: sessions
    * close on an inactivity gap (emitted with the event that opens the
    * successor) and IDLE state self-expires through the state store's
    * TTL — the state-size bound that a pure gap rule can't give you when
    * a user goes away forever (at 100 TB of users, state that only grows
    * is an outage; TTL makes abandonment reclaim automatic). Requires the
    * RocksDB state store provider, like every transformWithState op.
    */
  final case class SessionEvent(user_id: Long, ts_ms: Long)
  final case class SessionAgg(user_id: Long, start_ms: Long, last_ms: Long,
      n: Long)

  private class SessionTtlProcessor(gapMs: Long, ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessionEvent, SessionAgg] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[SessionAgg] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      import org.apache.spark.sql.Encoders
      state = getHandle.getValueState[SessionAgg]("session",
        Encoders.product[SessionAgg],
        org.apache.spark.sql.streaming.TTLConfig(ttl))
    }

    override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[SessionAgg] = {
      val out = scala.collection.mutable.ListBuffer.empty[SessionAgg]
      rows.toSeq.sortBy(_.ts_ms).foreach { e =>
        Option(state.get()) match {
          // merge also when the event is LATE (ts <= last): bounds stay
          // monotone via min/max, so replays and stragglers never
          // corrupt an open session or time-travel its start
          case Some(s) if e.ts_ms - s.last_ms <= gapMs =>
            state.update(SessionAgg(key, math.min(s.start_ms, e.ts_ms),
              math.max(s.last_ms, e.ts_ms), s.n + 1))
          case prior =>
            prior.foreach(out += _) // close the elapsed session
            state.update(SessionAgg(key, e.ts_ms, e.ts_ms, 1L))
        }
      }
      out.iterator
    }
  }

  def sessionsTtl(spark: SparkSession, events: DataFrame,
      gapMs: Long = 30L * 60 * 1000,
      ttl: java.time.Duration = java.time.Duration.ofHours(24))
      : Dataset[SessionAgg] = {
    import spark.implicits._
    events.select(col("user_id"),
        (col("ts").cast("double") * 1000).cast("long").as("ts_ms"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTtlProcessor(gapMs, ttl),
        // TTL state REQUIRES ProcessingTime time mode (NoTime throws
        // STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL)
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append)
  }

  /** Per-user running aggregate BOOTSTRAPPED from a batch snapshot —
    * transformWithState's initial-state overload. This is the standard
    * migration/backfill move: the stream picks up exactly where a batch
    * job (or a previous pipeline) left off, instead of re-counting
    * history or starting from zero. The snapshot is any batch Dataset of
    * the state rows, grouped by the same key.
    */
  private class RunningWithInitProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, UserEvent, UserRunning, UserRunning] {
    @transient private var state:
        org.apache.spark.sql.streaming.ValueState[UserRunning] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      import org.apache.spark.sql.Encoders
      state = getHandle.getValueState[UserRunning]("running",
        Encoders.product[UserRunning],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInitialState(key: Long, initial: UserRunning,
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit =
      state.update(initial)

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserRunning] = {
      var cur = Option(state.get()).getOrElse(UserRunning(key, 0L, 0.0))
      val out = rows.map { e =>
        cur = UserRunning(key, cur.n + 1, cur.total + e.value)
        cur
      }.toList
      state.update(cur)
      out.iterator
    }
  }

  def runningPerUserBootstrapped(spark: SparkSession, events: DataFrame,
      snapshot: Dataset[UserRunning]): Dataset[UserRunning] = {
    import spark.implicits._
    events.select(col("event_id"), col("user_id"), col("value"))
      .as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new RunningWithInitProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append,
        snapshot.groupByKey(_.user_id))
  }

  /** Band-level (sub-identity) near-dup evidence: each arriving document
    * is split into its LSH band keys (the same 4×3 banding as
    * d_minhash_pairs — one shared constant family); per band key, state
    * remembers the FIRST document that claimed it (TTL-bounded). Every
    * input row yields one evidence row per band: which prior doc (if any)
    * already held that band. A doc whose bands are ALL claimed by prior
    * docs is a near-dup candidate even when its full 12-component
    * signature differs — the sub-identity widening nearDupSuppress can't
    * see. The per-doc verdict is a stateless aggregation the consumer
    * applies downstream (`bandSuppressVerdict`) — Spark disallows an
    * aggregation stacked on a TimeMode.None stateful operator in the same
    * append-mode query, and the evidence rows are the more reusable
    * surface anyway (audit trails, threshold tuning).
    */
  final case class BandKeyed(doc_id: Long, band_key: String)
  final case class BandHit(doc_id: Long, band_key: String, dup_of: Long)

  private class BandClaimProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, BandKeyed, BandHit] {
    @transient private var first:
        org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      import org.apache.spark.sql.Encoders
      first = getHandle.getValueState[Long]("first", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig(ttl))
    }

    override def handleInputRows(key: String, rows: Iterator[BandKeyed],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[BandHit] = {
      rows.toSeq.sortBy(_.doc_id).map { r =>
        val owner = Option(first.get()).getOrElse {
          first.update(r.doc_id); r.doc_id
        }
        BandHit(r.doc_id, key, owner)
      }.iterator
    }
  }

  def bandDupEvidence(spark: SparkSession, docs: DataFrame,
      textCol: String, idCol: String,
      ttl: java.time.Duration = java.time.Duration.ofHours(24))
      : Dataset[BandHit] = {
    import spark.implicits._
    val sigs = docs.withColumn("__mh",
      org.apache.spark.sql.graftshim.ShingleMinHashes
        .shingleMinhashes(split(col(textCol), " "), 5, 12))
    // 4 bands of 3 signature components, matching Dedup's banding
    val banded = sigs.select(col(idCol).as("doc_id"),
      explode(array((0 until 4).map(b =>
        concat_ws(",", lit(b.toString),
          slice(col("__mh"), b * 3 + 1, 3).cast("array<string>"))): _*))
        .as("band_key"))
    banded.as[BandKeyed]
      .groupByKey(_.band_key)
      .transformWithState(new BandClaimProcessor(ttl),
        // ProcessingTime: required for the TTL'd band state (see above)
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        OutputMode.Append)
  }

  /** The ONE-QUERY form of band-level suppression: evidence flows through
    * the stateful band-claim operator and each micro-batch's per-doc
    * verdicts are folded INSIDE the same streaming query via foreachBatch
    * (legal where a stacked aggregation is not: foreachBatch hands the
    * batch to ordinary batch execution). Verdict-per-batch is sound
    * because a document's band rows are emitted together — they explode
    * from one input row in one micro-batch — while the STATE deciding
    * dup_of still spans batches. `sink` receives each batch's verdict
    * frame (write it to parquet/a table/wherever).
    */
  def bandSuppressionQuery(spark: SparkSession, docs: DataFrame,
      textCol: String, idCol: String, minBands: Int,
      sink: DataFrame => Unit,
      ttl: java.time.Duration = java.time.Duration.ofHours(24))
      : StreamingQuery =
    startScaledToDelta(spark) {
      bandDupEvidence(spark, docs, textCol, idCol, ttl).writeStream
        .foreachBatch { (batch: Dataset[BandHit], _: Long) =>
          sink(bandSuppressVerdict(batch.toDF(), minBands))
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }

  /** Per-doc verdict over drained band evidence: suppressed iff at least
    * `minBands` of its bands were first claimed by ANOTHER document. */
  def bandSuppressVerdict(evidence: DataFrame, minBands: Int): DataFrame =
    evidence
      .groupBy("doc_id")
      .agg(sum(when(col("dup_of") =!= col("doc_id"), 1)
        .otherwise(0)).as("dup_bands"))
      .select(col("doc_id"),
        (col("dup_bands") >= minBands).as("suppressed"))

  /** File-source stream over the documents table — same frozen schema as
    * the batch reader; the ingest side of the online corpus gates below.
    */
  def documentsStream(spark: SparkSession, sfDir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(graft.etl.Tables.documents)
      .option("pathGlobFilter", "documents.parquet")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sfDir)

  /** Stream–STATIC contamination gate: every arriving document's distinct
    * 4-grams join against a static (broadcast) benchmark n-gram set — the
    * online form of the batch t_contam hygiene pass, filtering eval-set
    * leakage AT INGEST instead of in a nightly sweep. The join is
    * stateless (static side never changes ⇒ no join state, no watermark
    * needed), so it scales as a broadcast hash join per micro-batch; the
    * per-doc contamination count folds INSIDE the query via foreachBatch
    * (sound: all grams of a doc explode from one input row in one
    * micro-batch — the same argument as bandSuppressionQuery). `sink`
    * receives each batch's (doc_id, n_contam) verdict frame.
    */
  def contamGateQuery(spark: SparkSession, docs: DataFrame,
      benchGrams: DataFrame, textCol: String, idCol: String,
      sink: DataFrame => Unit): StreamingQuery = {
    val grams4 = {
      val w = split(col(textCol), " ")
      array_distinct(transform(
        sequence(lit(1), greatest(size(w) - 3, lit(1))),
        i => concat_ws(" ", slice(w, i, lit(4)))))
    }
    val hits = docs
      .select(col(idCol).as("doc_id"), explode(grams4).as("ng"))
      .join(broadcast(benchGrams), "ng")
    startScaledToDelta(spark) {
      hits.writeStream
        .foreachBatch {
          (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
            sink(batch.groupBy("doc_id")
              .agg(count("*").as("n_contam")))
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  /** Legacy-upgrade repair for dirs written by the retired rename-aside
    * publish: it moved the current state to `<path>_old` before renaming
    * the new copy in, so a crash between the two renames left `_old` as
    * the only copy. Renames a stranded `_old` back into place. Only the
    * two paths that open pre-generation dirs call it:
    * [[migrateToGenLayout]] and [[recoverCompaction]].
    */
  private def recoverState(curPath: String): Unit = {
    val cur = new java.io.File(curPath)
    val old = new java.io.File(curPath + "_old")
    if (!cur.exists() && old.exists())
      require(old.renameTo(cur),
        s"state recovery failed: ${old.getPath} -> $curPath")
  }

  /** BatchId marker inside a committed generation dir: the id of the
    * last micro-batch merged into it. An underscore-named file (the
    * `_SUCCESS` convention), so parquet readers never see it — and it
    * lives INSIDE the generation, so the pointer flip commits it
    * atomically with the data ([[publishGen]]).
    */
  private val BatchMarker = "_graft_last_batch"

  private[graft] def lastAppliedBatch(curPath: String): Option[Long] = {
    val f = new java.io.File(curPath, BatchMarker)
    if (!f.exists()) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
  }

  private def markBatch(stagedPath: String, id: Long): Unit = {
    java.nio.file.Files.write(
      new java.io.File(stagedPath, BatchMarker).toPath,
      id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Delta-sized shuffle partitioning for the maintenance streams
    * (guide §2.2: size partitions to the BYTES flowing, 100 MB-1 GB
    * each — never to the session's scan-parallelism default). A
    * maintenance micro-batch carries a DELTA (KB-MB at test scale; the
    * whole point of maintenance is that ticks are small), and AQE
    * cannot coalesce for us here — streaming plans and foreachBatch
    * bodies run with AQE off — so the sink's exchanges and per-
    * partition state/commit work otherwise fan out to the session's
    * `spark.sql.shuffle.partitions` (= core count in this repo's
    * sessions): at sf0.1 that was 32 near-empty tasks, 32 state-store
    * commits and 32 output files per exchange per micro-batch, pure
    * fixed overhead (~0.5-1 s per maintained row, measured r20).
    * [[DeltaShufflePartitions]] is the stream-lifetime override, sized
    * for KB-MB ticks; ticks of more than a few hundred MB need
    * ceil(delta bytes / 256 MB) instead. The override is SCOPED to the
    * streaming query: Structured Streaming clones the session inside
    * `start()` (the clone snapshots the conf for every micro-batch and
    * every foreachBatch body), so setting the conf around `start()`
    * and restoring it immediately after leaves the caller's session —
    * and every batch query outside the stream — untouched.
    * StreamsSpec pins the clone-snapshot semantics (sink exchanges run
    * at the override, session conf restored before the drain).
    */
  private[graft] def startScaledToDelta(s: SparkSession)(
      start: => StreamingQuery): StreamingQuery = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, DeltaShufflePartitions.toString)
    try start finally s.conf.set(key, old)
  }

  /** Shuffle partitions of every maintenance stream's micro-batches
    * ([[startScaledToDelta]]). */
  private val DeltaShufflePartitions = 4

  /** foreachBatch writer shared by the maintenance sinks: AvailableNow
    * trigger, with an optional PERSISTENT checkpoint so a restarted run
    * continues the same batchId lineage (the pairing [[publishGen]]'s
    * retry guard is scoped to). Tests and the replay rigs omit it
    * (temporary checkpoint — one lineage per run); a production
    * deployment pins it alongside the state path.
    */
  private def maintainWriter(stream: DataFrame, checkpoint: Option[String])(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = stream.writeStream
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    startScaledToDelta(stream.sparkSession) {
      w.foreachBatch(body).trigger(Trigger.AvailableNow()).start()
    }
  }

  /** The reference's incremental-extract poll loop
    * (`client.query(soql)` re-issued with a `SystemModstamp >=
    * watermark` predicate, client.rs:199-205) as ONE Structured
    * Streaming declaration: raw SOQL text in, micro-batched extract
    * frames out. The accepted grammar subset is exactly the EXTRACT
    * shape — projection (FIELDS(ALL|STANDARD|CUSTOM) included) +
    * WHERE, with date literals, parent relationship dot paths, and
    * TYPEOF over a polymorphic relationship (parents are static
    * dimensions, so both plain and discriminator-gated traversal
    * compile to stream-static LEFT joins — Spark handles these in
    * append mode with no state; StreamsSpec proves stream=batch
    * parity for the TYPEOF shape). Aggregates,
    * child subqueries, ORDER BY, and LIMIT/OFFSET refuse loudly: they
    * are query shapes, meaningless on an unbounded feed (aggregate the
    * landed extract instead). Source-side watermark pruning belongs to
    * the injected stream (a real source resumes from its checkpoint
    * offset; the batch path gets the raw-column pushdown in
    * Soql.toDataFrame).
    */
  def soqlExtract(stream: DataFrame, dir: String, soql: String,
      today: Option[java.time.LocalDate] = None): DataFrame = {
    val q = graft.soql.Soql.parse(soql)
    require(q.obj == "events",
      s"the streaming extract reads the events feed, got '${q.obj}'")
    require(q.aggs.isEmpty && q.children.isEmpty,
      "aggregates/child subqueries are query shapes, not extract " +
        "shapes — aggregate the landed extract instead")
    require(q.orderBy.isEmpty && q.limit.isEmpty && q.offset.isEmpty,
      "ORDER BY/LIMIT/OFFSET are meaningless on an unbounded extract")
    graft.soql.Soql.toDataFrame(q, stream.sparkSession, dir,
      today = today, eventsBase = Some(stream))
  }

  /** Append-only streaming maintenance of a derived table: each
    * micro-batch is transformed and its rows landed as new parquet
    * part files — the right shape when batches partition the key space
    * (no cross-batch merge needed), e.g. the MinHash band index, where
    * a document's band rows depend on that document alone. Unlike the
    * merge sinks (rollup/MG/CM) there is no read-modify-write and so
    * no generation commit — but the sink must still be IDEMPOTENT under
    * foreachBatch's at-least-once redelivery: each batch writes its
    * own `batch=<id>` subdirectory in OVERWRITE mode, so a
    * failed-then-retried micro-batch replaces its previous partial
    * output instead of double-appending band rows (a blind
    * mode("append") to the root would duplicate; for a deterministic
    * `transform` the overwrite makes the retry exact). Readers use
    * [[readMaintained]], which drops the synthetic `batch` partition
    * column. At production scale the same shape is a transactional
    * table format's idempotent append commit keyed by batchId.
    */
  def appendMaintain(stream: DataFrame, path: String)(
      transform: DataFrame => DataFrame): StreamingQuery =
    maintainWriter(stream, None) { (batch, id) =>
      appendBatch(transform(batch), path, id)
    }

  /** [[appendMaintain]] for SEVERAL derived tables off ONE input pass:
    * each micro-batch lands every (path, transform) pair as its own
    * idempotent `batch=<id>` overwrite — the shape for a composed
    * index whose artifacts all derive row-locally from the same feed
    * (e.g. IVF-PQ: the coarse cell assignment AND the PQ codes of a
    * vector both depend on that vector alone). One stream, one
    * checkpoint lineage, no second pass over the input; a retried
    * batch re-overwrites every artifact's subdir, so the pair can
    * never diverge past one in-flight batch. NOTE the divergence
    * window IS reader-visible until redelivery: between a crash and
    * the retry, a reader of the first artifact already sees the
    * batch=<id> rows whose pair in the second artifact is missing
    * (and a torn parquet subdir can fail that read outright).
    * Redelivery re-overwrites every artifact before the checkpoint
    * records the batch, restoring pairing; readers needing
    * cross-artifact consistency DURING the window must intersect the
    * batch ids present in all paired artifacts.
    */
  def appendMaintainMulti(stream: DataFrame,
      sinks: Seq[(String, DataFrame => DataFrame)]): StreamingQuery =
    maintainWriter(stream, None) { (batch, id) =>
      val b = batch.localCheckpoint()
      sinks.foreach { case (path, transform) =>
        appendBatch(transform(b), path, id)
      }
    }

  /** One [[appendMaintain]] batch commit: overwrite of the
    * batchId-derived subdirectory — calling it twice with the same id
    * (the retry case) leaves exactly one copy of the batch's rows.
    */
  private[graft] def appendBatch(df: DataFrame, path: String,
      id: Long): Unit = {
    df.write.mode("overwrite").parquet(s"$path/batch=$id"); ()
  }

  /** Read a maintained table. A generation-layout dir resolves its
    * pointer and scans that one generation ([[readGenMaintained]]); an
    * [[appendMaintain]] table is the union of all committed batch
    * subdirectories, minus the synthetic `batch` partition column
    * (state layout, not table schema).
    */
  def readMaintained(spark: SparkSession, path: String): DataFrame =
    currentGenPath(path) match {
      case Some(p) => readState(spark, p)
      case None => readAppend(spark, path).drop("batch")
    }

  /** [[readMaintained]] for a table whose schema EVOLVED across batches
    * (a redeployed pipeline widened its extract and kept appending):
    * mergeSchema unions every footer's schema and pre-widening rows
    * surface the added columns as NULL. The plain reader would pick
    * ONE footer's schema and silently drop the column — use this
    * variant whenever batch schemas may differ. Cost: one footer read
    * per file at planning (why it is opt-in, not the default); at
    * production scale a transactional format's schema log replaces the
    * footer sweep.
    */
  def readMaintainedEvolving(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path).drop("batch")

  /** Horizon-aware compaction of an [[appendMaintain]] table: the
    * `batch=<id>` layout accretes one subdirectory (≥1 file) per
    * micro-batch — at production cadence that is the classic streaming
    * small-file problem, and scan planning degrades with file count
    * long before data size matters. This rewrites the batch subdirs
    * with id ≤ `horizon` into ONE consolidated segment. It is safe to
    * run CONCURRENTLY with an active appendMaintain stream, because it
    * only ever touches batch subdirs with id ≤ `horizon` and the
    * stream only ever (re)writes ids above it; on a quiesced table
    * `horizon = Long.MaxValue` compacts everything, and
    * [[readMaintained]] output is set-identical across compaction
    * (StreamsSpec asserts). `horizon` MUST be a
    * checkpoint-COMMITTED batch id (e.g. the previous run's last
    * progress): committed subdirs are immutable — a foreachBatch retry
    * only rewrites the CURRENT, uncommitted id — so the compaction's
    * inputs cannot change under it, and a retried append can never
    * resurrect a consumed subdir.
    *
    * Publish protocol (no whole-root rename — a concurrent append's new
    * subdir would vanish in it): the consolidated copy stages OUTSIDE
    * the table with its source-subdir list riding INSIDE it as an
    * underscore intent file (invisible to parquet, renames with the
    * data); one atomic rename brings it in as `batch=-<maxAbs>`
    * (negative = compacted segment — appendMaintain ids are checkpoint
    * batchIds ≥ 0, so the namespaces never collide, and maxAbs strictly
    * grows so successive compactions don't either); then each consumed
    * source renames into an underscore-prefixed trash dir (ignored by
    * readers) and the trash drops. Concurrent appends are never lost at
    * ANY interleaving; a crash at any point is repaired by
    * [[recoverCompaction]] (replay the intent: retire surviving
    * sources, clear trash and staging) — run it before the next
    * compaction or read after an unclean stop. Local-FS honesty: a
    * reader overlapping the publish window can transiently see
    * pre-compaction rows twice (consolidated + not-yet-retired source)
    * — bounded to the retire loop; at production scale this protocol is
    * a transactional table format's REPLACE commit, same as the other
    * sinks' disclosure.
    */
  def compactMaintainedBelow(spark: SparkSession, path: String,
      horizon: Long): Unit = {
    recoverCompaction(path)
    val dir = new java.io.File(path)
    val batches = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .filter(_.getName.stripPrefix("batch=").toLong <= horizon)
    if (batches.length <= 1) return
    val maxAbs = batches
      .map(f => math.abs(f.getName.stripPrefix("batch=").toLong)).max
    val staged = new java.io.File(path + "_compact")
    rmTree(staged)
    val data = new java.io.File(staged, "data")
    readAppend(spark, batches.map(_.getPath).toIndexedSeq: _*)
      .write.mode("overwrite").parquet(data.getPath)
    java.nio.file.Files.write(
      new java.io.File(data, CompactSources).toPath,
      batches.map(_.getName).sorted.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val target = new java.io.File(dir, s"batch=-$maxAbs")
    require(!target.exists(),
      s"compaction target $target already exists — horizon reuse?")
    require(data.renameTo(target),
      s"compaction publish failed: $data -> $target")
    retireCompacted(dir, target)
    rmTree(staged)
  }

  /** Intent file inside a consolidated segment: the batch subdirs it
    * replaced. Underscore-named so parquet readers never see it, and it
    * renames WITH the segment — which is what makes the publish
    * crash-recoverable at any point.
    */
  private val CompactSources = "_graft_compact_sources"

  private def retireCompacted(dir: java.io.File,
      consolidated: java.io.File): Unit = {
    val intent = new java.io.File(consolidated, CompactSources)
    if (!intent.exists()) return
    val names = new String(
      java.nio.file.Files.readAllBytes(intent.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty)
    val trash = new java.io.File(dir, "_graft_retired")
    trash.mkdirs()
    names.filter(_ != consolidated.getName).foreach { n =>
      val src = new java.io.File(dir, n)
      if (src.exists())
        require(src.renameTo(new java.io.File(trash, n)),
          s"retiring compacted source failed: $src")
    }
    rmTree(trash)
    intent.delete()
    ()
  }

  /** Crash recovery for [[compactMaintainedBelow]]: any published
    * segment still carrying its intent file has its surviving sources
    * retired (idempotent — the duplicate-visibility window ends here);
    * leftover trash and a staged-but-unpublished copy are dropped
    * (the intent rode the data, so an unpublished staging dir holds
    * nothing the table needs). A `<path>_old` stranded by the retired
    * quiesced compaction's rename-aside is restored first.
    */
  def recoverCompaction(path: String): Unit = {
    recoverState(path)
    val dir = new java.io.File(path)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        new java.io.File(f, CompactSources).exists())
      .foreach(f => retireCompacted(dir, f))
    rmTree(new java.io.File(dir, "_graft_retired"))
    rmTree(new java.io.File(path + "_compact"))
  }

  /** The type of the maintained rollups' `sv`: what Spark's re-sum of
    * a decimal(38,4) column yields, so the first batch's partial is
    * written with the type every later generation has. */
  private val RollupSum = "decimal(38,4)"

  /** Incremental rollup maintenance as a streaming sink — the
    * `l_rollup_merge` loop run CONTINUOUSLY: every micro-batch folds
    * into a materialized (day × event_type) aggregate table by
    * re-summing PARTIAL aggregates. The merge input per batch is
    * |rollup keys| + |batch keys| rows — days × types, never events —
    * and value sums stay exact decimals end-to-end, so after any number
    * of batches the table is bit-identical to a full recompute
    * (StreamsSpec proves it over a 2-batch time-split replay). The
    * generation commit keeps the table readable mid-maintenance; at
    * production scale the same shape lands on a transactional table
    * format, with the partial-agg merge unchanged.
    */
  def rollupMaintain(events: DataFrame, rollupPath: String,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      val part = batch
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.ops.roundf(col("value"), 4).cast("decimal(22,4)"))
            .cast(RollupSum).as("sv"))
      mergeKeyed(rollupPath, id, part)(_.unionByName(part)
        .groupBy("day", "event_type")
        .agg(sum("n").as("n"), sum("sv").as("sv")))
    }

  /** Retention vacuum for a merge-maintained table — the RETIREMENT
    * step of the maintenance lifecycle (serving tables must not grow
    * forever): rewrite state keeping only rows matching `keep`, behind
    * the generation-layout pointer-flip publish, preserving the
    * exactly-once batch marker so the retry guard survives the
    * rewrite. Offline (quiesced-table contract). SEMANTIC contract:
    * after vacuuming keys outside the retention window, the table
    * equals the full recompute RESTRICTED to the window only while
    * future batches never carry retired keys (the watermark
    * discipline) — a late out-of-window event would re-open a retired
    * group from zero, so pair the vacuum predicate with the source's
    * watermark.
    */
  def vacuumMaintained(spark: SparkSession, statePath: String,
      keep: org.apache.spark.sql.Column): Unit =
    // an empty dir is a no-op (legacy state already refused by
    // commitGen); otherwise the rewrite lands as a fresh generation
    // carrying the SAME batch marker — the exactly-once retry guard
    // survives the vacuum — and the pointer flip is the commit, so a
    // reader never sees a half-vacuumed table
    commitGen(statePath) { prev =>
      prev.map { p =>
        val id = lastAppliedBatch(p).getOrElse(
          sys.error(s"committed generation $p carries no batch marker"))
        (id, dir => readState(spark, p).filter(keep)
          .write.mode("overwrite").parquet(dir))
      }
    }

  /** Serialized bloom sketch of `delta`'s join keys, for prefiltering
    * an accumulated-side probe (the j_bloom runtime-filter lever
    * applied to IVM): KB-sized, built driver-side over the delta — the
    * SMALL side by construction — so at 100 TB the accumulated-side
    * scan drops non-joining rows inside whole-stage codegen BEFORE any
    * exchange, keeping per-batch probe cost delta-proportional instead
    * of accumulated-proportional. No false negatives (sketch property),
    * so the exact joins downstream are unchanged — the maintained-view
    * oracles prove it. None for non-integral keys (the sketch hashes
    * longs); callers then probe unfiltered, same correctness.
    */
  private[graft] def deltaKeyBloom(delta: DataFrame,
      key: String): Option[Array[Byte]] = {
    import org.apache.spark.sql.types._
    delta.schema(key).dataType match {
      case LongType | IntegerType | ShortType | ByteType =>
        val keyed = delta.select(col(key).cast("long").as("k"))
        // size from the true delta count (one scalar job over the
        // in-memory micro-batch); floor 1000 keeps fpp honest
        val n = keyed.count()
        // an EMPTY delta (a batch touching only the other base table —
        // routine for CDC) makes stat.bloomFilter return a null buffer
        // (NPE on serialize); skip the prefilter — every join against
        // the empty delta is empty regardless, so correctness and cost
        // are unchanged
        if (n == 0) None
        else {
          val bf = keyed.stat.bloomFilter("k", math.max(n, 1000L), 0.01)
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          Some(bos.toByteArray)
        }
      case _ => None
    }
  }

  /** Apply a [[deltaKeyBloom]] sketch to an accumulated side. Safe on
    * JOIN probes (false positives are removed by the exact join) AND
    * as the right side of an ANTI/SEMI whose probe keys are a subset
    * of the sketched delta keys: a row that would match is definitely
    * retained, so the anti result is unchanged.
    */
  private def bloomProbe(bloom: Option[Array[Byte]], acc: DataFrame,
      accKey: String): DataFrame =
    bloom.fold(acc)(b => acc.filter(
      org.apache.spark.sql.graftshim.BloomFilters
        .mightContain(b, col(accKey).cast("long"))))

  /** Two-sided incremental view maintenance for an equi-join — the
    * classic IVM identity Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB run as a
    * streaming sink over a TAGGED-UNION stream (each micro-batch may
    * carry deltas to BOTH base tables; `leftOf`/`rightOf` extract
    * them). State is three append-maintained tables under `basePath`
    * (left, right, view); for append-only inputs the join view is
    * itself append-only, so every batch lands exactly three
    * `batch=<id>` overwrite subdir writes and the sink is idempotent
    * under foreachBatch retry BY CONSTRUCTION — the prior-state reads
    * EXCLUDE the current batch id, so a retried batch recomputes the
    * identical view delta (no generation commit or marker needed; this is
    * the append discipline, not the merge discipline). Per batch the
    * work is ΔA⋈B + A⋈ΔB + ΔA⋈ΔB — delta-proportional probes of the
    * accumulated sides, never a recomputation of the view, and the
    * runtime-filter lever is APPLIED, not just named: each accumulated
    * side is prefiltered by a [[deltaKeyBloom]] sketch of the opposite
    * delta's keys before the join. Late deletes need the
    * signed-row discipline (rollupSignedMaintain) on top — out of this
    * sink's append-only contract.
    */
  def ivmJoinMaintain(stream: DataFrame, basePath: String,
      leftOf: DataFrame => DataFrame, rightOf: DataFrame => DataFrame,
      leftKey: String, rightKey: String,
      checkpoint: Option[String] = None,
      residual: (DataFrame, DataFrame) => Column =
        (_, _) => lit(true)): StreamingQuery =
    maintainWriter(stream, checkpoint) { (batch, id) =>
      ivmJoinBatch(leftOf(batch), rightOf(batch), basePath, id,
        leftKey, rightKey, residual)
    }

  /** An IVM base table's rows from every batch but `id` (empty, with
    * `schema`, before its first batch): the current-id-excluding prior
    * read that makes the append-layout IVM sinks retry-exact. */
  private def priorBatches(sp: SparkSession, path: String, id: Long,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (new java.io.File(path).exists())
      readAppend(sp, path).where(col("batch") =!= id).drop("batch")
    else sp.createDataFrame(
      sp.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** One [[ivmJoinMaintain]] batch commit, factored out so the
    * retry-exactness claim is directly testable: calling it twice with
    * the same (deltas, id) must leave all three tables unchanged
    * (StreamsSpec asserts) — the prior-state reads exclude the current
    * batch id, so a retry recomputes the identical view delta into the
    * same overwritten subdirs.
    */
  private[graft] def ivmJoinBatch(dA: DataFrame, dB: DataFrame,
      basePath: String, id: Long,
      leftKey: String, rightKey: String,
      residual: (DataFrame, DataFrame) => Column =
        (_, _) => lit(true)): Unit = {
    val sp = dA.sparkSession
    val aPath = s"$basePath/left"
    val bPath = s"$basePath/right"
    val jPath = s"$basePath/view"
    val aPrev = priorBatches(sp, aPath, id, dA.schema)
    val bPrev = priorBatches(sp, bPath, id, dB.schema)
    // the join is equi on (leftKey, rightKey) with an optional RESIDUAL
    // predicate — band/interval conditions ride on top of the equi
    // exchange (the IVM identity Δ(A⋈θB) = ΔA⋈θB ∪ A⋈θΔB ∪ ΔA⋈θΔB
    // holds for ANY θ: joins are additive over row sets), and the
    // bloom lever keys on the equi component unchanged
    def j(l: DataFrame, r: DataFrame) =
      l.join(r, l(leftKey) === r(rightKey) && residual(l, r))
    // runtime-filter lever: each accumulated side is prefiltered by a
    // bloom of the OPPOSITE delta's keys, so the probes stay
    // delta-proportional at any accumulated size (no false negatives —
    // the exact equi-joins below are unchanged)
    val bP = bloomProbe(deltaKeyBloom(dA, leftKey), bPrev, rightKey)
    val aP = bloomProbe(deltaKeyBloom(dB, rightKey), aPrev, leftKey)
    val jDelta = j(dA, bP)
      .unionByName(j(aP, dB))
      .unionByName(j(dA, dB))
    appendBatch(jDelta, jPath, id)
    appendBatch(dA, aPath, id)
    appendBatch(dB, bPath, id)
  }

  /** TWO-LEVEL incremental view maintenance — a maintained JOIN view
    * feeding a maintained AGGREGATE in the same batch commit (the
    * materialized star-join rollup, the lakehouse's most common
    * derived-table chain): level 1 is [[ivmJoinMaintain]]'s
    * delta-proportional join view; level 2 folds EXACTLY that batch's
    * view delta — re-read from the `batch=<id>` subdir the append just
    * materialized, so the delta is never recomputed — into a
    * (groupKeys → count, decimal-sum) table via the re-sum merge.
    * The composition is exact because aggregation is additive over the
    * view's row multiset and the view deltas partition it (the inner
    * IVM identity is a disjoint union for append-only inputs).
    *
    * Retry discipline — the two levels compose cleanly because their
    * idempotence mechanisms nest: the whole body is marker-guarded
    * ([[publishGen]]) on the AGG (committed last). A crash before the agg
    * commit re-runs level 1, whose `batch=<id>` overwrites and
    * current-id-excluding prior reads make the re-append a byte-exact
    * no-op, and level 2 then re-merges the identical delta against the
    * still-current previous generation. A crash after the agg's
    * pointer flip skips the whole body — the appends it would re-run
    * already committed. Generation-layout publish for the agg (it is
    * the |groupKeys|-sized serving artifact).
    */
  def ivmJoinAggMaintain(stream: DataFrame, basePath: String,
      leftOf: DataFrame => DataFrame, rightOf: DataFrame => DataFrame,
      leftKey: String, rightKey: String,
      aggKeys: Seq[String], valueCol: String,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(stream, checkpoint) { (batch, id) =>
      ivmJoinAggBatch(leftOf(batch), rightOf(batch), basePath, id,
        leftKey, rightKey, aggKeys, valueCol)
    }

  /** One [[ivmJoinAggMaintain]] batch commit, factored for the retry
    * spec: a double apply must leave view AND agg unchanged. */
  private[graft] def ivmJoinAggBatch(dA: DataFrame, dB: DataFrame,
      basePath: String, id: Long, leftKey: String, rightKey: String,
      aggKeys: Seq[String], valueCol: String): Unit = {
    val kc = aggKeys.map(col)
    // forced inside the agg's marker guard only: level 1 and the read
    // of the one view delta it wrote run for an uncommitted batch
    lazy val part = {
      ivmJoinBatch(dA, dB, basePath, id, leftKey, rightKey)
      readState(dA.sparkSession, s"$basePath/view/batch=$id")
        .groupBy(kc: _*)
        .agg(count(lit(1)).as("n"),
          sum(col(valueCol).cast("decimal(18,2)"))
            .cast("decimal(22,2)").as("sv"))
    }
    mergeKeyed(s"$basePath/agg", id, part)(_.unionByName(part)
      .groupBy(kc: _*)
      .agg(sum("n").as("n"), sum("sv").cast("decimal(22,2)").as("sv")))
  }

  /** Two-sided incremental view maintenance for a LEFT OUTER join —
    * the second IVM view shape, and the one that REQUIRES the signed
    * discipline even for append-only inputs: when a batch delivers the
    * FIRST right-side match for an already-published left row, the
    * outer view must RETRACT that row's null-padded form (an
    * append-only log cannot un-publish it). The view log therefore
    * carries `sign`: inner pairs and fresh null-padded rows land +1,
    * and the retraction of a previously-unmatched left row lands −1;
    * readers net Σsign per row (Flink's retract-stream model applied
    * to view maintenance). Per batch:
    *
    *   inner   = ΔA⋈B_prev ∪ A_prev⋈ΔB ∪ ΔA⋈ΔB           [+1]
    *   nullpad = ΔA ⋉̸ (B_prev ∪ ΔB), B columns null        [+1]
    *   retract = (A_prev ⋉ ΔB) ⋉̸ B_prev, B columns null    [−1]
    *
    * — retract is exactly the left rows whose first match just
    * arrived: they match ΔB but matched nothing before. All probes are
    * delta-proportional (ΔB drives the semi; the anti against the
    * accumulated side is the same probe shape as [[ivmJoinMaintain]],
    * and every accumulated-side touch — join, semi, AND anti — carries
    * the [[deltaKeyBloom]] prefilter, sound for anti/semi because the
    * probe keys are subsets of the sketched delta keys). State writes
    * are
    * batchId-keyed overwrites with current-id-excluding prior reads,
    * so the sink is retry-idempotent BY CONSTRUCTION like the inner
    * sink — StreamsSpec drives the double-apply.
    */
  def ivmLeftJoinMaintain(stream: DataFrame, basePath: String,
      leftOf: DataFrame => DataFrame, rightOf: DataFrame => DataFrame,
      leftKey: String, rightKey: String,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(stream, checkpoint) { (batch, id) =>
      ivmLeftJoinBatch(leftOf(batch), rightOf(batch), basePath, id,
        leftKey, rightKey)
    }

  /** One [[ivmLeftJoinMaintain]] batch commit, factored for the
    * retry-exactness spec (same contract as [[ivmJoinBatch]]).
    */
  private[graft] def ivmLeftJoinBatch(dA: DataFrame, dB: DataFrame,
      basePath: String, id: Long,
      leftKey: String, rightKey: String): Unit = {
    val sp = dA.sparkSession
    val aPath = s"$basePath/left"
    val bPath = s"$basePath/right"
    val vPath = s"$basePath/view"
    val aPrev = priorBatches(sp, aPath, id, dA.schema)
    val bPrev = priorBatches(sp, bPath, id, dB.schema)
    def j(l: DataFrame, r: DataFrame) =
      l.join(r, l(leftKey) === r(rightKey))
    // null-padding must be SHAPE-IDENTICAL between the insert and its
    // later retraction or the reader's netting cannot cancel them
    def padded(a: DataFrame): DataFrame =
      a.select(a.columns.map(col) ++ dB.schema.fields.map(f =>
        lit(null).cast(f.dataType).as(f.name)): _*)
    // runtime-filter lever (see ivmJoinBatch): every accumulated-side
    // touch is bloom-prefiltered by the relevant delta's keys. The
    // anti/semi uses are safe because their probe keys are subsets of
    // the sketched delta keys — a matching row is always retained.
    val aBloom = deltaKeyBloom(dA, leftKey)
    val bBloom = deltaKeyBloom(dB, rightKey)
    val bP = bloomProbe(aBloom, bPrev, rightKey)
    val aP = bloomProbe(bBloom, aPrev, leftKey)
    val inner = j(dA, bP)
      .unionByName(j(aP, dB))
      .unionByName(j(dA, dB))
      .withColumn("sign", lit(1))
    // ΔA's anti probes bFull on ΔA's own keys → prefilter by aBloom
    val bFull = bP.unionByName(dB)
    val newNull = padded(
      dA.join(bFull, dA(leftKey) === bFull(rightKey), "left_anti"))
      .withColumn("sign", lit(1))
    // retract's semi-survivors carry keys ⊆ ΔB's keys, so both the
    // accumulated semi side (aP) and the anti side prefilter by bBloom
    val bAnti = bloomProbe(bBloom, bPrev, rightKey)
    val retract = padded(
      aP.join(dB, aP(leftKey) === dB(rightKey), "left_semi")
        .join(bAnti, col(leftKey) === bAnti(rightKey), "left_anti"))
      .withColumn("sign", lit(-1))
    appendBatch(inner.unionByName(newNull).unionByName(retract),
      vPath, id)
    appendBatch(dA, aPath, id)
    appendBatch(dB, bPath, id)
  }

  /** DISTINCT view maintenance — the third IVM view shape, and the one
    * that needs MULTIPLICITY COUNTS even over a single base table:
    * DISTINCT is not distributive over deltas (a second insert of a
    * present key must NOT re-publish it; deleting one of two supporting
    * rows must NOT retract it). This is classical counting IVM
    * (Gupta & Mumick's count algorithm): state = per-key multiset
    * counts under `basePath/counts`, and the signed view log under
    * `basePath/view` emits +1 only on a key's 0→positive transition
    * and −1 only on positive→0 — readers net Σsign. Per batch the
    * dataflow is |batch keys|-proportional: the batch pre-aggregates
    * to per-key delta counts (map-side combine), the transition check
    * probes the count state through the [[deltaKeyBloom]] prefilter,
    * and the merge is countMaintain's re-sum (n=0 rows dropped;
    * negative residuals RETAINED so out-of-order delete-before-insert
    * nets correctly once the insert lands). Exactly-once: the view
    * append is a batchId-keyed overwrite computed from the PRE-commit
    * counts and both writes sit inside the counts marker guard, so a
    * crash between them replays to the identical bytes and a
    * fully-committed batch is skipped whole.
    */
  def ivmDistinctMaintain(stream: DataFrame, basePath: String,
      keys: Seq[String], signCol: String,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(stream, checkpoint) { (batch, id) =>
      ivmDistinctBatch(batch, basePath, id, keys, signCol)
    }

  /** One [[ivmDistinctMaintain]] batch commit, factored for the
    * retry-exactness and transition-semantics specs.
    */
  private[graft] def ivmDistinctBatch(batch: DataFrame, basePath: String,
      id: Long, keys: Seq[String], signCol: String): Unit = {
    val cPath = s"$basePath/counts"
    val vPath = s"$basePath/view"
    publishGen(cPath, id) { (prevGen, dir) =>
      val sp = batch.sparkSession
      val kc = keys.map(col)
      val d = batch.groupBy(kc: _*)
        .agg(sum(col(signCol).cast("long")).as("dn"))
      val prev = prevGen match {
        case Some(p) => readState(sp, p)
        case None => sp.createDataFrame(
          sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(d.schema.fields.map(f =>
            if (f.name == "dn") f.copy(name = "n") else f)))
      }
      val probe = bloomProbe(deltaKeyBloom(d, keys.head), prev, keys.head)
        .withColumnRenamed("n", "pn")
      val pj = d.join(probe, keys, "left")
        .select(kc ++ Seq(coalesce(col("pn"), lit(0L)).as("pn"),
          col("dn")): _*)
        .withColumn("nn", col("pn") + col("dn"))
      val viewDelta = pj
        .filter((col("pn") <= 0 && col("nn") > 0) ||
          (col("pn") > 0 && col("nn") <= 0))
        .select(kc :+
          when(col("nn") > 0, lit(1)).otherwise(lit(-1)).as("sign"): _*)
      appendBatch(viewDelta, vPath, id)
      val merged = prev.unionByName(d.withColumnRenamed("dn", "n"))
        .groupBy(kc: _*).agg(sum("n").as("n"))
        .filter(col("n") =!= 0)
      // counts publish through the generation layout (r14); the view
      // log keeps its idempotent batch=<id> append — the count state
      // is the key-space-sized artifact the pointer flip protects
      merged.write.mode("overwrite").parquet(dir)
    }
  }

  /** Incremental SCD2 history maintenance — the change-row LOG of the
    * validity-interval table (l_scd2) kept current per micro-batch.
    * State holds one row per (user, type-change): (user_id, event_type,
    * ts, event_id); the interval view (valid_from/valid_to/is_current)
    * derives from it by one lead window over |intervals| rows — the
    * compact representation, so closing an interval never rewrites
    * stored rows. Per batch: change detection runs over BATCH rows only
    * (the l_scd2 lag window, |batch| work), and the single stitching
    * rule handles the boundary — the batch's FIRST change row per user
    * is spurious when it matches the user's current open type, and is
    * dropped via a |users|-row join against the state's newest change
    * rows. Under the ORDERED-INGEST contract (each user's batch rows
    * are later than their state rows — true for event-time-ordered
    * CDC ingest and the time-split replay), batch-wise detection plus
    * this rule provably equals global change detection, which is
    * exactly what the shared l_scd2 oracle recomputes. Late
    * out-of-order data needs interval REWRITES — that is
    * [[scd2LateMaintain]], which keeps this sink's fast path for
    * in-order users and rewrites only the touched users' histories.
    * Generation-layout publish (r14 — the CDC family): the change log
    * grows with history, so the O(1) pointer flip keeps commit cost
    * independent of log size; same exactly-once retry marker as the
    * other merge sinks.
    */
  def scd2Maintain(events: DataFrame, statePath: String,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val bch = batch.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .drop("prev")
      mergeKeyed(statePath, id, bch) { st =>
        val wl = Window.partitionBy("user_id")
          .orderBy(desc("ts"), desc("event_id"))
        val open = st.withColumn("rn", row_number().over(wl))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("cur_type"))
        val keep = bch.withColumn("rn", row_number().over(w))
          .join(open, Seq("user_id"), "left")
          .filter(col("rn") =!= 1 || col("cur_type").isNull ||
            col("cur_type") =!= col("event_type"))
          .select("user_id", "event_type", "ts", "event_id")
        st.unionByName(keep)
      }
    }

  /** [[scd2Maintain]] WITHOUT the ordered-ingest contract: SCD2 history
    * maintenance that stays exact under arbitrarily late, out-of-order
    * batches, via targeted interval rewrites bounded to the touched
    * users. Why the change-row log alone cannot do this: a late event
    * inserted mid-history can resurrect a change at a later NON-change
    * event (history t1:A, t2:A keeps only (t1,A); a late t1.5:B makes
    * t2:A a change again), and non-change events are exactly what the
    * log discards — exactness under late data REQUIRES the full event
    * history. So state under `basePath` is three tables:
    *
    *   - `events`: the full feed, append-maintained (batch=<id>
    *     overwrite subdirs — idempotent). At production scale this is
    *     the bronze table the lake retains anyway (partitioned/bucketed
    *     by user), not new cost introduced by the sink.
    *   - `marks`: per-user newest (ts, event_id) ingest watermark —
    *     an argmax merge over |users| + |batch users| rows.
    *   - `log`: the change-row log (the queryable SCD2 state, same
    *     schema and read-side interval derivation as scd2Maintain).
    *
    * Layout (r14): marks and log live TOGETHER inside one generation
    * dir (`gen=N/marks`, `gen=N/log`) committed by [[publishGen]]'s
    * single pointer flip — the multi-artifact commit is atomic, so no
    * reader or retry can ever observe marks that absorbed a batch
    * whose log did not (the window two sequential commits would leave
    * open). `events` appends stay outside the generation dirs
    * (idempotent by construction, and rewriting the bronze table per
    * batch would be O(history)).
    *
    * Per batch: rows of users whose earliest batch row is strictly
    * after their watermark take the IN-ORDER path — |batch| change
    * detection + the boundary stitch, the scd2Maintain fast path,
    * provably exact because the watermark covers every prior event,
    * change or not. Users with any row at-or-before their watermark
    * are LATE: their entire log slice is rewritten by re-running
    * change detection over their full history (events semi-joined to
    * the late-user set — work proportional to the TOUCHED users'
    * histories, never the corpus; the one interval-split/merge rule
    * that is exact in every case). Classification costs one join
    * against the |users|-row marks table — delta-proportional.
    *
    * Retry safety: the body is guarded by the generation marker
    * ([[publishGen]]); a crash-retry before the pointer flipped re-runs the
    * whole body — the events re-append overwrites its own subdir, and
    * marks+log recompute from the still-current PREVIOUS generation
    * (the half-written orphan gen is invisible and gets re-overwritten).
    * StreamsSpec drives the double-apply and the orphan-gen crash
    * window.
    */
  def scd2LateMaintain(events: DataFrame, basePath: String,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      scd2LateBatch(batch, basePath, id)
    }

  /** One [[scd2LateMaintain]] batch commit, factored for the retry
    * spec: calling it twice with the same (batch, id) must leave all
    * three tables semantically unchanged.
    */
  private[graft] def scd2LateBatch(batch: DataFrame, basePath: String,
      id: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    val sp = batch.sparkSession
    val eventsPath = s"$basePath/events"
    publishGen(basePath, id) { (genPath, dir) =>
      // pre-r14 scd2Late state had top-level marks/log dirs and no
      // pointer — commitGen's top-level-parquet legacy check cannot
      // see those SUBDIRS, so guard here or the upgrade silently
      // restarts the log from empty while `events` keeps the full
      // history
      require(genPath.isDefined ||
        !new java.io.File(basePath, "log").isDirectory,
        s"$basePath holds pre-generation scd2Late state (top-level " +
          "marks/log, no pointer) — merging would silently restart the " +
          "log; move marks/ and log/ under a gen=0 dir with the log's " +
          "batch marker at the gen root and write '0' to " +
          "_graft_current, or delete the dir to genuinely restart " +
          "accumulation")
      val b = batch.select("user_id", "event_type", "ts", "event_id")
      appendBatch(b, eventsPath, id)
      val priorMarks = genPath.map(p => readState(sp, s"$p/marks"))
      val bAgg = b.groupBy("user_id").agg(
        min(struct(col("ts"), col("event_id"))).as("bmin"),
        max(struct(col("ts"), col("event_id"))).as("bmax"))
      // late = any batch row at-or-before the user's prior watermark
      // (<= not <: equality cannot happen with unique event ids, but
      // the exact rewrite path is the safe side of any tie)
      // eager localCheckpoint: lateUsers feeds THREE joins below, and
      // materializing |late users| ids once beats recomputing the
      // marks probe per consumer
      val lateUsers = priorMarks match {
        case None => bAgg.select("user_id").limit(0)
        case Some(m) => bAgg.join(m, "user_id")
          .filter(col("bmin") <= col("mark"))
          .select("user_id")
          .localCheckpoint(true)
      }
      val marksMerged = priorMarks match {
        case None => bAgg.select(col("user_id"), col("bmax").as("mark"))
        case Some(m) => m.unionByName(
            bAgg.select(col("user_id"), col("bmax").as("mark")))
          .groupBy("user_id").agg(max("mark").as("mark"))
      }
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      def changes(df: DataFrame): DataFrame =
        df.withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
          .drop("prev")
      val merged = genPath match {
        case None => changes(b)
        case Some(p) =>
          val st = readState(sp, s"$p/log")
          // in-order users: the scd2Maintain fast path
          val ib = b.join(lateUsers, Seq("user_id"), "left_anti")
          val wl = Window.partitionBy("user_id")
            .orderBy(desc("ts"), desc("event_id"))
          val open = st.withColumn("rn", row_number().over(wl))
            .filter(col("rn") === 1)
            .select(col("user_id"), col("event_type").as("cur_type"))
          val inKeep = changes(ib)
            .withColumn("rn", row_number().over(w))
            .join(open, Seq("user_id"), "left")
            .filter(col("rn") =!= 1 || col("cur_type").isNull ||
              col("cur_type") =!= col("event_type"))
            .select("user_id", "event_type", "ts", "event_id")
          // late users: targeted rewrite over their FULL history (the
          // current batch is already appended, so one scan sees all)
          val hist = readAppend(sp, eventsPath).drop("batch")
            .join(lateUsers, Seq("user_id"), "left_semi")
          st.join(lateUsers, Seq("user_id"), "left_anti")
            .unionByName(inKeep)
            .unionByName(changes(hist))
      }
      // ONE atomic commit for both artifacts: marks and log land in
      // the same generation dir and become visible via publishGen's
      // single pointer flip
      marksMerged.write.mode("overwrite").parquet(s"$dir/marks")
      merged.write.mode("overwrite").parquet(s"$dir/log")
    }
  }

  /** Keyed latest-record maintenance — the SCD1 MERGE as a streaming
    * sink (the maintained-dimension shape: newest record per key, e.g.
    * the latest profile per user). The first NON-additive maintained
    * state: the merge is an argmax under the total order
    * (modstamp DESC, tiebreak… DESC, key DESC), which is associative
    * and commutative, so ANY batch split yields the same table as a
    * one-shot newest-per-key over the whole stream
    * (l_latest_maintained shares l_latest's oracle verbatim). Each
    * batch first collapses to its own newest-per-key, so merge input
    * is |state keys| + |batch keys| rows — keys, never events.
    * Generation-layout publish (r14 — the CDC family): the dimension
    * table is |keys|-sized and grows with the key space, so the O(1)
    * pointer flip keeps the commit independent of that growth; same
    * exactly-once retry marker as the other merge sinks.
    */
  def latestMaintain(stream: DataFrame, statePath: String, key: String,
      modstamp: String, tiebreak: Seq[String] = Nil,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(stream, checkpoint) { (batch, id) =>
      val part = graft.etl.Load.latestByKey(batch, key, modstamp, tiebreak)
      mergeKeyed(statePath, id, part)(st => graft.etl.Load.latestByKey(
        st.unionByName(part), key, modstamp, tiebreak))
    }

  /** Retraction-capable rollup maintenance — [[rollupMaintain]] for
    * CDC-style SIGNED micro-batches (the Flink retract-stream model):
    * each row carries `sign` ∈ {+1, -1}; a correction arrives as the
    * retraction of the old row (sign -1, old value) plus the insertion
    * of the corrected one (sign +1, new value), and the maintained
    * (day × event_type) table nets them out through the SAME re-sum
    * merge — counts become Σsign (integer-exact) and value sums
    * Σ sign·round(value) (grid-decimal-exact), so after any batch
    * split the table is bit-identical to a recompute over the NET
    * rows. Append-only streams are the sign ≡ +1 special case of this
    * sink. Groups whose count nets to zero are dropped from state (a
    * fully-retracted group re-inserting later merges from absent = 0,
    * which is correct for additive aggregates). Generation-layout
    * publish (r14 — the CDC family, same argument as
    * [[rollupMaintain]]); same exactly-once retry marker as the other
    * merge sinks.
    */
  def rollupSignedMaintain(events: DataFrame, rollupPath: String,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      val part = batch
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(sum(col("sign").cast("long")).as("n"),
          sum((graft.ops.roundf(col("value"), 4) *
            col("sign").cast("double")).cast("decimal(22,4)"))
            .cast(RollupSum).as("sv"))
      // a group is dropped only when it nets to NOTHING: retract
      // discipline says a retraction carries the old row verbatim, so
      // n netting to 0 implies sv nets to 0 too. Keeping n=0 groups
      // with a non-zero sv residual (instead of filtering on n alone)
      // makes a contract-violating retraction SURFACE as a visible
      // residual row — and hash-red against the net recompute —
      // rather than silently discarding the mismatched sum.
      val dead = col("n") === 0 &&
        col("sv") === lit(0).cast("decimal(22,4)")
      mergeKeyed(rollupPath, id, part.filter(!dead))(_.unionByName(part)
        .groupBy("day", "event_type")
        .agg(sum("n").as("n"), sum("sv").as("sv"))
        .filter(!dead))
    }

  /** MIN/MAX view maintenance under deletions — the ONE aggregate
    * family signed deltas cannot maintain (ROADMAP r13 #3): deleting
    * the current minimum needs the runner-up, which Σsign state never
    * kept. State per group = the k smallest live rows (`lo`) and the k
    * largest (`hi`) as (value, rowKey) survivor arrays, plus
    * survivor-deletion counters `dlo`/`dhi` and the net count `n`.
    *
    * Correctness rests on the COVERED-PREFIX invariant: after any
    * batch sequence, the first (k − dlo) entries of `lo` are exactly
    * the (k − dlo) smallest live rows. Induction: every row absent
    * from the survivor list is ≥ the list's covered threshold (it was
    * truncated past it, or inserted above it), a batch's deletes
    * remove at most their survivor-matched count `dm` from the covered
    * prefix (non-survivor deletes can't touch it — they were already ≥
    * the threshold), and merging the batch's inserts (fully known)
    * into the list can only push covered entries right, never displace
    * them. So MIN is exact while dlo < k — the DISCLOSED k-deep
    * deletion contract: at most k−1 survivor deletions per group per
    * side between refreshes, enforced by a per-batch require (a 100 TB
    * deployment sizes k to its CDC delete rate, or schedules a
    * refresh). The counters RESET to 0 whenever a side's candidate set
    * provably equals the whole live group (candidate count == n —
    * possible only when every historical truncation victim has since
    * been deleted), so small groups self-heal to full knowledge.
    * Symmetric argument for MAX over `hi`. Per batch the merge touches
    * O(|groups|·k + |batch|) rows — never history. Generation-layout
    * publish (r13) with the usual exactly-once marker; deletes follow
    * the CDC contract (sign −1 rows reference live rowKeys).
    */
  def minmaxMaintain(stream: DataFrame, statePath: String,
      groupCols: Seq[String], valueCol: String, rowKeyCol: String,
      k: Int, checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(stream, checkpoint) { (batch, id) =>
      minmaxBatch(batch, statePath, groupCols, valueCol, rowKeyCol, k, id)
    }

  /** One [[minmaxMaintain]] batch merge, factored for the retry spec. */
  private[graft] def minmaxBatch(batch: DataFrame, statePath: String,
      groupCols: Seq[String], valueCol: String, rowKeyCol: String,
      k: Int, id: Long): Unit = publishGen(statePath, id) { (prevGen, dir) =>
    import org.apache.spark.sql.expressions.Window
    val sp = batch.sparkSession
    val g = groupCols.map(col)
    val ins = batch.filter(col("sign") === 1)
      .select(g :+ col(valueCol).cast("double").as("v")
        :+ col(rowKeyCol).cast("long").as("rk"): _*)
    val del = batch.filter(col("sign") === -1)
      .select(g :+ col(rowKeyCol).cast("long").as("rk"): _*)
    val prev: Option[DataFrame] = prevGen.map(p => readState(sp, p))
    def prevExpl(side: String): DataFrame = prev match {
      case Some(p) => p.select(g :+ explode(col(side)).as("s"): _*)
        .select(g :+ col("s.v").as("v") :+ col("s.rk").as("rk"): _*)
      case None => ins.limit(0)
    }
    // per side: surviving candidates (state survivors ∪ inserts, minus
    // deletes), the kept top-k array, the pre-truncation candidate
    // count (the full-knowledge reset test), and the survivor-matched
    // delete count (the covered-prefix debit)
    def side(name: String, asc: Boolean) = {
      val pe = prevExpl(name)
      val cand = pe.unionByName(ins)
        .join(del, groupCols :+ "rk", "left_anti")
      val ord = if (asc) Seq(col("v").asc, col("rk").asc)
        else Seq(col("v").desc, col("rk").desc)
      val kept = cand.withColumn("__rn", row_number().over(
          Window.partitionBy(g: _*).orderBy(ord: _*)))
        .filter(col("__rn") <= k).drop("__rn")
      val arr = kept.groupBy(g: _*)
        .agg(array_sort(collect_list(struct(col("v"), col("rk"))))
          .as(name))
      val cc = cand.groupBy(g: _*)
        .agg(count(lit(1)).as(s"cc_$name"))
      val dm = pe.join(del, groupCols :+ "rk", "left_semi")
        .groupBy(g: _*).agg(count(lit(1)).as(s"dm_$name"))
      (arr, cc, dm)
    }
    val (loA, loCc, loDm) = side("lo", asc = true)
    val (hiA, hiCc, hiDm) = side("hi", asc = false)
    val insCnt = ins.groupBy(g: _*).agg(count(lit(1)).as("ic"))
    val delCnt = del.groupBy(g: _*).agg(count(lit(1)).as("dc"))
    val prevCnt = prev
      .map(_.select(g :+ col("dlo").as("pdlo") :+ col("dhi").as("pdhi")
        :+ col("n").as("pn"): _*))
      .getOrElse(ins.limit(0).select(g: _*)
        .withColumn("pdlo", lit(0L)).withColumn("pdhi", lit(0L))
        .withColumn("pn", lit(0L)))
    val groups = prevCnt.select(g: _*)
      .unionByName(ins.select(g: _*)).unionByName(del.select(g: _*))
      .distinct()
    val z = lit(0L)
    val n2 = coalesce(col("pn"), z) + coalesce(col("ic"), z) -
      coalesce(col("dc"), z)
    def dNew(pd: String, dm: String, cc: String) =
      when(n2 === coalesce(col(cc), z), z)
        .otherwise(coalesce(col(pd), z) + coalesce(col(dm), z))
    val emptyArr = array().cast("array<struct<v:double,rk:bigint>>")
    val st = groups
      .join(loA, groupCols, "left").join(hiA, groupCols, "left")
      .join(loCc, groupCols, "left").join(hiCc, groupCols, "left")
      .join(loDm, groupCols, "left").join(hiDm, groupCols, "left")
      .join(insCnt, groupCols, "left").join(delCnt, groupCols, "left")
      .join(prevCnt, groupCols, "left")
      .select(g ++ Seq(
        coalesce(col("lo"), emptyArr).as("lo"),
        coalesce(col("hi"), emptyArr).as("hi"),
        dNew("pdlo", "dm_lo", "cc_lo").as("dlo"),
        dNew("pdhi", "dm_hi", "cc_hi").as("dhi"),
        n2.as("n")): _*)
      .localCheckpoint()
    // the disclosed contract, enforced LOUDLY: an exhausted survivor
    // window (or a delete against a never-inserted group) must fail
    // the batch, not publish a wrong MIN/MAX
    val viol = st.filter(col("dlo") >= k || col("dhi") >= k ||
      col("n") < 0).count()
    require(viol == 0,
      s"minmaxMaintain: $viol group(s) exhausted the k=$k survivor " +
        "window (≥ k survivor deletions since the last refresh) or " +
        "went count-negative — refusing to publish an unknowable " +
        "MIN/MAX; raise k or refresh the view")
    st.filter(col("n") > 0)
      .write.mode("overwrite").parquet(dir)
  }

  /** Streaming key-frequency maintenance: a (keyCol, cnt) table merged
    * across micro-batches — the corpus-global count statistic behind
    * incremental scrubbing (Text.t_scrub_maintained counts 60-bit
    * segment hashes) and incremental IDF (Text.t_tfidf_maintained
    * counts per-word document frequency). Same discipline as
    * rollupMaintain: per-batch partial counts (|batch vocab| rows after
    * map-side combine), re-sum merge against the stored table, one
    * generation commit ([[publishGen]]). `prep` shapes each
    * micro-batch into countable rows BEFORE the count (e.g. explode
    * to segments, or distinct (doc_id, word) pairs so each doc
    * contributes a word at most once — valid whenever batches
    * partition the doc space). The maintained table is
    * |vocabulary|-sized and lives entirely in DataFrames — never
    * driver state — so the sink scales to corpus-sized vocabularies. */
  def countMaintain(stream: DataFrame, keyCol: String, statePath: String,
      checkpoint: Option[String] = None)(
      prep: DataFrame => DataFrame = identity): StreamingQuery =
    maintainWriter(stream, checkpoint) { (batch, id) =>
      countBatch(prep(batch), keyCol, statePath, id)
    }

  /** One [[countMaintain]] batch merge, factored out so the retry
    * path is directly testable: calling it twice with the same id must
    * leave the counts unchanged (StreamsSpec asserts).
    */
  private[graft] def countBatch(batch: DataFrame, keyCol: String,
      statePath: String, id: Long): Unit = {
    val part = batch.groupBy(keyCol).agg(count(lit(1)).as("cnt"))
    mergeKeyed(statePath, id, part)(
      _.unionByName(part).groupBy(keyCol).agg(sum("cnt").as("cnt")))
  }

  /** Generic grouped ADDITIVE-statistics maintenance: state =
    * (keys..., sum columns...) merged across micro-batches by exact
    * re-sum — the discipline countMaintain special-cases to counts,
    * generalized so any family of sufficient statistics whose merge is
    * addition (counts, decimal sums, sums of squares/products — i.e.
    * the moments behind means, variances, regressions) can be
    * maintained without a bespoke sink. `prep` shapes each micro-batch
    * into (keys, partial-sum) rows — typically its own groupBy, so the
    * merge input is |batch keys| + |state keys| rows, never raw data.
    * Callers should cast sum columns to FIXED wide types in `prep`
    * (e.g. DECIMAL(38,2)) so the state schema cannot drift as Spark
    * widens sum precision across merges. Publishes through the r13
    * GENERATION layout (O(1) pointer flip) with the same exactly-once
    * marker as the other merge sinks.
    */
  def sumsMaintain(stream: DataFrame, keys: Seq[String],
      sums: Seq[String], statePath: String,
      checkpoint: Option[String] = None)(
      prep: DataFrame => DataFrame): StreamingQuery =
    maintainWriter(stream, checkpoint) { (batch, id) =>
      sumsBatch(prep(batch), keys, sums, statePath, id)
    }

  /** One [[sumsMaintain]] batch merge, factored for the retry spec. */
  private[graft] def sumsBatch(part: DataFrame, keys: Seq[String],
      sums: Seq[String], statePath: String, id: Long): Unit = {
    def agg(df: DataFrame): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(sum(sums.head).as(sums.head),
          sums.tail.map(c => sum(c).as(c)): _*)
    mergeKeyed(statePath, id, agg(part))(st => agg(st.unionByName(part)))
  }

  /** Streaming heavy-hitters: a Misra-Gries summary of a key column
    * maintained across micro-batches — the trending-keys shape. Each
    * batch computes its own k-bounded sketch DISTRIBUTED (the
    * HeavyHitters UDAF: per-partition partial sketches, one k-entry
    * final merge), and the batch sketch merges into the stored summary
    * with the same MG merge rule — both sides are ≤ k entries, so the
    * maintenance step is O(k) scalars no matter how much data the
    * stream has seen. By mergeable-summaries (Agarwal et al. 2012) the
    * stored summary carries the n/(k+1) guarantee against the WHOLE
    * stream prefix, for any batch boundaries — which is what the spec
    * asserts after a 2-batch replay. State on disk is ONE (n, summary)
    * row — the running total lives in its own column, out-of-band from
    * the summary map, so no key value (however adversarial) can collide
    * with it.
    */
  def heavyHittersMaintain(events: DataFrame, keyCol: String,
      statePath: String, k: Int,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      heavyHittersBatch(batch, keyCol, statePath, k, id)
    }

  /** One [[heavyHittersMaintain]] batch merge, factored for the retry
    * and crash specs. */
  private[graft] def heavyHittersBatch(batch: DataFrame, keyCol: String,
      statePath: String, k: Int, id: Long): Unit =
    mergeSketch[Map[String, Long]](statePath, id, batch, "mg",
      // a batch summary is an empty map, never a null one
      coalesce(graft.functions.HeavyHitters.mgSketchCol(col(keyCol), k),
        typedLit(Map.empty[String, Long])))(
      graft.functions.HeavyHitters.mergeSummaries(_, _, k))

  /** Streaming count-min: the CM grid maintained across micro-batches.
    * CM's merge is an elementwise SUM, so unlike the MG summary the
    * maintained sketch is not merely guarantee-equivalent but
    * BIT-IDENTICAL to a batch sketch over the whole stream prefix, for
    * any batch boundaries — StreamsSpec asserts array equality. Each
    * batch sketches distributed (per-partition partial grids, one
    * d×w final merge); the maintenance step adds two d×w arrays —
    * O(d·w) regardless of stream size. State = one (n, grid) row.
    */
  def countMinMaintain(events: DataFrame, keyCol: String,
      statePath: String, width: Int,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      countMinBatch(batch, keyCol, statePath, width, id)
    }

  /** One [[countMinMaintain]] batch merge, factored for the retry and
    * crash specs. */
  private[graft] def countMinBatch(batch: DataFrame, keyCol: String,
      statePath: String, width: Int, id: Long): Unit =
    mergeSketch[Array[Long]](statePath, id, batch, "grid",
      graft.functions.HeavyHitters.cmSketchCol(col(keyCol), width)) {
      (g, b) =>
        require(g.length == b.length,
          "count-min width/depth changed mid-stream")
        Array.tabulate(g.length)(i => g(i) + b(i))
    }

  /** Streaming top-k-per-group maintenance — the continuously-current
    * LEADERBOARD: the second NON-additive maintained state after
    * latestMaintain's argmax, and like it exact by algebra, not
    * approximation: top-k under a TOTAL order (tiebreak included) is a
    * semilattice — topk(A ∪ topk(B)) = topk(A ∪ B) — so merging
    * per-batch top-ks reproduces the one-shot top-k over the whole
    * stream for ANY batch split. Each batch first collapses to its own
    * per-group top-k (|batch| window work), then merges against state:
    * ≤ 2k rows per group enter the merge window regardless of stream
    * size. Generation-layout publish (r13) with the same exactly-once
    * marker as the other merge sinks.
    */
  def topkMaintain(stream: DataFrame, statePath: String,
      groupCol: String, k: Int, order: Seq[Column],
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(stream, checkpoint) { (batch, id) =>
      topkBatch(batch, statePath, groupCol, k, order, id)
    }

  /** One [[topkMaintain]] batch merge, factored for the retry spec. */
  private[graft] def topkBatch(batch: DataFrame, statePath: String,
      groupCol: String, k: Int, order: Seq[Column], id: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    def topOf(df: DataFrame): DataFrame =
      df.withColumn("__rn", row_number().over(
          Window.partitionBy(groupCol).orderBy(order: _*)))
        .filter(col("__rn") <= k).drop("__rn")
    val part = topOf(batch)
    mergeKeyed(statePath, id, part)(st => topOf(st.unionByName(part)))
  }

  /** Streaming distinct-cardinality maintenance: a Datasketches HLL
    * sketch of a key column maintained across micro-batches — the
    * statistic countMaintain CANNOT give: distinct counts are not
    * additive (the same key in two batches must count once), so the
    * merge is the HLL UNION, not a re-sum. Each batch sketches
    * DISTRIBUTED (`hll_sketch_agg`: per-partition sketches, one KB
    * final merge); maintenance unions two KB blobs — O(2^lgK)
    * regardless of stream size — through the same generation commit
    * and exactly-once marker as the other merge sinks. State = one
    * (n, hll binary) row; the union estimate carries the same
    * relative-error guarantee as a one-shot sketch over the whole
    * prefix (mergeability is the datasketches design point), which is
    * what the registered verdict checks against the exact distinct
    * count.
    */
  def hllMaintain(events: DataFrame, keyCol: String, statePath: String,
      lgConfigK: Int = 12,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      hllBatch(batch, keyCol, statePath, lgConfigK, id)
    }

  /** One [[hllMaintain]] batch merge, factored for the retry spec. */
  private[graft] def hllBatch(batch: DataFrame, keyCol: String,
      statePath: String, lgConfigK: Int, id: Long): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    mergeSketch[Array[Byte]](statePath, id, batch, "hll",
      hll_sketch_agg(col(keyCol), lit(lgConfigK))) { (a, b) =>
      // the union runs engine-side (same datasketches build both
      // times) over two KB blobs — one 1-row job, never a rescan
      Seq((a, b)).toDF("a", "b").select(hll_union(col("a"), col("b")))
        .head().getAs[Array[Byte]](0)
    }
  }

  /** PER-KEY distinct-cardinality maintenance — the GROUP BY form of
    * [[hllMaintain]]'s union argument: state is a (key, hll, n) table,
    * each batch sketches its keys distributed, and the cross-batch
    * merge is a per-key HLL UNION through a full-outer join (a key
    * seen by only one side keeps its sketch verbatim; a key seen by
    * both unions two KB blobs). The statistic a 100 TB pipeline
    * monitors per segment — distinct users per event type, distinct
    * docs per source — where countMaintain would double-count
    * cross-batch repeats. Publishes through the GENERATION layout
    * ([[publishGen]] — the second adopter after the t-digest sink):
    * O(1) pointer-flip commits on a |keys|-sized table.
    */
  def hllByKeyMaintain(events: DataFrame, keyCol: String,
      valCol: String, statePath: String, lgConfigK: Int = 12,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      hllByKeyBatch(batch, keyCol, valCol, statePath, lgConfigK, id)
    }

  /** One [[hllByKeyMaintain]] batch merge, factored for the retry spec. */
  private[graft] def hllByKeyBatch(batch: DataFrame, keyCol: String,
      valCol: String, statePath: String, lgConfigK: Int,
      id: Long): Unit = {
    val part = batch
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(hll_sketch_agg(col(valCol), lit(lgConfigK)).as("bh"),
        count(lit(1)).as("bn"))
    mergeKeyed(statePath, id,
      part.select(col("key"), col("bh").as("hll"), col("bn").as("n"))) {
      _.select(col("key"), col("hll").as("ph"), col("n").as("pn"))
        .join(part, Seq("key"), "full_outer")
        .select(col("key"),
          when(col("ph").isNull, col("bh"))
            .when(col("bh").isNull, col("ph"))
            .otherwise(hll_union(col("ph"), col("bh"))).as("hll"),
          (coalesce(col("pn"), lit(0L)) + coalesce(col("bn"), lit(0L)))
            .as("n"))
    }
  }

  /** Streaming quantile maintenance: a per-key mergeable quantile
    * sketch (KLL/MRL compactor levels with a self-accounted
    * deterministic rank-error bound — [[graft.functions.QuantileSketch]])
    * maintained across micro-batches. This closes the sketch family:
    * counts (countMaintain), frequent items (heavyHittersMaintain),
    * point frequencies (countMinMaintain), and now DISTRIBUTIONS — the
    * per-key latency/size/score percentile monitoring a 100 TB
    * pipeline runs continuously. Each batch sketches DISTRIBUTED (the
    * udaf: per-partition partial sketches, k·levels doubles each, one
    * per-key final merge); maintenance merges the batch sketch into
    * stored state per key — O(|keys| · k·levels) scalars regardless of
    * stream size. By mergeability the stored sketch's error bound
    * (carried IN the state as `err`) holds against the whole stream
    * prefix for any batch boundaries — the bound, not the contents, is
    * what the registered verdict checks (the MG precedent: contents
    * are merge-order-dependent). Generation-layout publish (r13) with
    * the same exactly-once marker as the other merge sinks.
    */
  def quantileMaintain(events: DataFrame, keyCol: String,
      valueCol: String, statePath: String, k: Int,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      quantileBatch(batch, keyCol, valueCol, statePath, k, id)
    }

  /** One [[quantileMaintain]] batch merge, factored out so the retry
    * path is directly testable: calling it twice with the same id must
    * leave the state unchanged (the [[publishGen]] marker guard).
    */
  private[graft] def quantileBatch(batch: DataFrame, keyCol: String,
      valueCol: String, statePath: String, k: Int, id: Long): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    import graft.functions.{QSketch, QuantileSketch}
    val part = batch
      .filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(QuantileSketch.qsketchCol(col(valueCol).cast("double"), k)
        .as("qs"))
      .as[(String, QSketch)]
    mergeKeyed(statePath, id, part.toDF("key", "qs"))(
      _.select("key", "qs").as[(String, QSketch)].union(part)
        .groupByKey(_._1)
        .mapGroups { (key, it) =>
          (key, it.map(_._2).reduce(QuantileSketch.merge))
        }
        .toDF("key", "qs"))
  }

  // ---- Generation-pointer state layout: the one commit protocol ----
  //
  // Every maintained merge table commits here, and publishing is O(1)
  // AT ANY STATE SIZE, with no dir renames (on an object store a
  // rename is copy-sized): state lives in
  // `statePath/gen=N/` subdirs, and the only mutation that commits a
  // batch is publishing a new value of the `_graft_current` pointer
  // through the pluggable [[GenPointerStore]]: the publisher reads the
  // pointer (value + version token), writes the next generation's
  // immutable data files, and commits with ONE CONDITIONAL PUT of the
  // pointer (If-Match on the token it read) — so on S3/GCS, where
  // rename is not atomic, the protocol needs only the store's native
  // conditional PUT; state files themselves are written once and never
  // renamed. A failed condition means a concurrent publisher committed
  // since the read — commitGen refuses LOUDLY instead of silently
  // orphaning the winner's generation (the lost-update rejection
  // GenPointerSpec races against a fake object store) — and because
  // every attempt writes into a publisher-unique `gen=N-<nonce>` dir
  // whose label the pointer records, the LOSER'S DATA WRITES land in
  // its own orphan dir, never inside the generation the winner
  // committed (r18 advice: with a shared `gen=N` dir the pointer race
  // was loud but the data-plane interleave was not). The default
  // binding is [[PosixGenPointer]] (pointer file + advisory-locked
  // compare-and-set). Each gen dir carries its own batch marker, so
  // the exactly-once retry guard reads through the SAME pointer read
  // that names the merge's previous generation and the flip's If-Match
  // token ([[commitGen]]). Crash
  // windows: before the flip, the old pointer stands, the retry
  // publishes a fresh uniquely-named gen, and the crashed attempt's
  // dir is unreferenced garbage; after the flip, the new state is live
  // and any stale gens are garbage. GC keeps the current AND previous
  // generation NUMBER (a reader that resolved the pointer just before
  // a flip still has its files) and deletes older ones — including
  // crash/loser orphans whose number has aged out — best-effort.
  //
  // Every read of a committed generation — a merge's previous state,
  // the registry readers, the vacuum — freezes its schema from one
  // footer ([[readState]]) instead of running Spark's schema-inference
  // job: the never-infer rule graft.etl.Tables keeps for input tables
  // holds for maintained state too.

  private def pointerOf(statePath: String): GenPointerStore =
    GenPointerStore.forPath(statePath)

  private[graft] def currentGen(statePath: String): Option[Long] =
    pointerOf(statePath).read(statePath)
      .map(c => GenPointerStore.genOf(c._1))

  private[graft] def currentGenPath(statePath: String): Option[String] =
    pointerOf(statePath).read(statePath)
      .map(c => s"$statePath/gen=${c._1}")

  /** Spark's row-schema key in the key-value metadata of every parquet
    * footer it writes (ParquetReadSupport.SPARK_METADATA_KEY). */
  private val SparkRowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Read one committed generation dir, or one artifact dir of it, with
    * the schema frozen from its own footer. A bare `read.parquet(dir)`
    * runs schema inference as a Spark job of its own, even for a
    * one-file dir; here the driver lists the dir, opens ONE footer and
    * takes the row schema Spark wrote under [[SparkRowSchemaKey]]. Every
    * file of a generation comes from one write, so that is the schema
    * Spark's inference (which reads one footer too) returns. A dir with
    * no data file, or a footer without Spark's key (state not written
    * by Spark), falls back to the bare read: its result or error is
    * unchanged. */
  private[graft] def readState(spark: SparkSession,
      genDir: String): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(genDir)
    val frozen = scala.util.Try {
      dir.getFileSystem(conf).listStatus(dir).find { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
        val kv = try r.getFooter.getFileMetaData.getKeyValueMetaData
          finally r.close()
        Option(kv.get(SparkRowSchemaKey)).map(DataType.fromJson)
      }
    }.toOption.flatten
    frozen match {
      case Some(s: StructType) => spark.read.schema(s).parquet(genDir)
      case _ => spark.read.parquet(genDir)
    }
  }

  /** Read an append-layout table (`batch=<id>` subdirs, or some of
    * them) by schema inference: its batches come from separate writes,
    * so no one footer speaks for the table. With [[readState]] and
    * [[readMaintainedEvolving]], the only schema-inferring reads of
    * maintained state (PlanAuditSpec scans for any other). */
  private def readAppend(spark: SparkSession, paths: String*): DataFrame =
    spark.read.parquet(paths: _*)

  /** Read a generation-layout maintained table: resolve the pointer,
    * scan that generation only. */
  def readGenMaintained(spark: SparkSession, statePath: String): DataFrame =
    readState(spark, currentGenPath(statePath).getOrElse(
      sys.error(s"no committed generation under $statePath — if this " +
        "dir holds pre-generation state, run " +
        "Streams.migrateToGenLayout(path) once")))

  /** Read ONE named artifact of a multi-artifact generation (e.g.
    * [[scd2LateMaintain]]'s `log` beside its `marks`): resolve the
    * pointer once, scan `gen=N/<artifact>` only — both artifacts a
    * reader resolves through the same pointer value are guaranteed to
    * come from the same atomic commit. */
  def readGenArtifact(spark: SparkSession, statePath: String,
      artifact: String): DataFrame =
    readState(spark, currentGenPath(statePath).map(p => s"$p/$artifact")
      .getOrElse(sys.error(
        s"no committed generation under $statePath — if this dir holds " +
          "pre-generation state, migrate it to the " +
          "generation layout first")))

  /** Batch marker of the CURRENT generation — [[lastAppliedBatch]]
    * through the pointer. */
  private[graft] def lastAppliedBatchGen(statePath: String): Option[Long] =
    currentGenPath(statePath).flatMap(lastAppliedBatch)

  /** A pointer-less state dir that predates the generation layout:
    * data files at the top level, or only the `<path>_old` copy a crash
    * stranded mid-rename. Treating it as empty would be SILENT STATE
    * LOSS on upgrade — refuse loudly instead (the HH legacy-layout
    * precedent) and point at [[migrateToGenLayout]]. Callers have
    * already read the pointer and found none. */
  private def requireNotLegacy(statePath: String): Unit = {
    val files = Option(new java.io.File(statePath).listFiles())
      .getOrElse(Array.empty)
    require(!files.exists(f => f.getName.endsWith(".parquet")) &&
      !new java.io.File(statePath + "_old").exists(),
      s"$statePath holds pre-generation-layout state (top-level " +
        "parquet or a stranded _old, no pointer) — merging would " +
        "silently restart from empty; run " +
        "Streams.migrateToGenLayout(path) once, or delete the dir to " +
        "genuinely restart accumulation")
  }

  /** One-time upgrade of a pre-generation (rename-aside era) state dir
    * to the
    * generation layout: the existing top-level state becomes gen=0
    * (batch marker carried along if present) and the pointer commits
    * it. Idempotent — a dir already carrying a pointer is left
    * untouched. */
  def migrateToGenLayout(statePath: String): Unit = {
    recoverState(statePath)
    val dir = new java.io.File(statePath)
    if (!dir.isDirectory ||
        pointerOf(statePath).read(statePath).isDefined) return
    val gen0 = new java.io.File(dir, "gen=0")
    require(gen0.mkdirs(), s"cannot create $gen0")
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName != "gen=0" &&
        !f.getName.startsWith(PosixGenPointer.Marker))
      .foreach { f =>
        require(f.renameTo(new java.io.File(gen0, f.getName)),
          s"migration move failed for ${f.getPath}")
      }
    require(pointerOf(statePath).putIf(statePath, "0", None),
      s"migration pointer flip lost a race under $statePath — " +
        "another publisher committed during the one-time migration")
  }

  /** GC depth: how many committed generations survive a flip — the
    * new one plus `genKeep - 1` predecessors. The default (2) gives
    * every reader one full publish interval of grace: a reader that
    * resolved the pointer just before a flip still has its files.
    * Deployments whose readers can straddle MORE than one flip (a
    * long analytic scan over the maintained table while a fast stream
    * commits every few seconds) raise it with -Dgraft.gen.keep=N —
    * disk cost is N×|state|, read cost is unchanged (readers scan one
    * generation). Values below 2 are refused: keep=1 would delete the
    * generation a just-resolved reader is scanning — the reader race
    * the layout exists to close. */
  private[graft] def genKeep: Int = {
    val k = Integer.getInteger("graft.gen.keep", 2).intValue()
    require(k >= 2, s"graft.gen.keep=$k — must be >= 2 (the current " +
      "generation plus at least one predecessor for in-flight readers)")
    k
  }

  /** THE commit of the generation layout — every maintained-state
    * write goes through here ([[publishGen]] for merges,
    * [[vacuumMaintained]] for the retention rewrite). It reads the
    * pointer ONCE, and that one read is all three inputs of the commit:
    * `plan` gets the committed generation's dir (None = empty state) —
    * from which it reads the exactly-once marker and the previous
    * state — and the flip is a CONDITIONAL PUT If-Match that read's
    * version token. So a publisher that committed anywhere after the
    * read makes the flip fail loudly: this commit can never merge onto
    * a generation older than the one it replaces (the lost update a
    * second pointer read would reopen — GenPointerSpec interleaves a
    * concurrent commit after every read a commit makes).
    *
    * `plan` returns None to skip, or the batch marker to record plus
    * `write`, which lands the new state into a PUBLISHER-UNIQUE
    * next-gen dir (`gen=N-<nonce>` — so a concurrent publisher racing
    * the same generation number, or a retry after a crash, physically
    * cannot write into a dir another attempt produced). The batch
    * marker lands inside it, and the pointer flip — committing this
    * attempt's dir LABEL — is the single atomic commit point. A failed
    * condition refuses loudly: the orphan gen dir is garbage, never
    * state — no pointer value ever names it — and the caller knows its
    * batch did NOT commit. Then GC generations whose numeric prefix
    * falls beyond the [[genKeep]] retention depth (which also sweeps
    * crash/loser orphans once the cutoff passes their generation
    * number). */
  private def commitGen(statePath: String)(
      plan: Option[String] => Option[(Long, String => Unit)]): Unit = {
    val keep = genKeep // validate the knob BEFORE any state mutation
    val store = pointerOf(statePath)
    val cur = store.read(statePath)
    if (cur.isEmpty) requireNotLegacy(statePath)
    plan(cur.map(c => s"$statePath/gen=${c._1}")).foreach {
      case (id, write) =>
        val next =
          cur.map(c => GenPointerStore.genOf(c._1) + 1).getOrElse(0L)
        val nonce = java.lang.Long.toHexString(
          java.util.concurrent.ThreadLocalRandom.current().nextLong())
        val label = s"$next-$nonce"
        val dir = s"$statePath/gen=$label"
        write(dir)
        markBatch(dir, id)
        require(store.putIf(statePath, label, cur.map(_._2)),
          s"generation pointer flip under $statePath lost a race: " +
            "another publisher committed after this batch resolved the " +
            "pointer — this batch's write is an uncommitted orphan " +
            "(two concurrent maintainers on one state dir)")
        val cutoff = next - (keep - 1)
        Option(new java.io.File(statePath).listFiles())
          .getOrElse(Array.empty)
          .filter { f =>
            f.getName.startsWith("gen=") &&
              scala.util.Try(
                GenPointerStore.genOf(f.getName.stripPrefix("gen=")))
                .toOption.exists(_ < cutoff)
          }
          .foreach(rmTree)
    }
  }

  /** Merge one batch `id` into generation-layout state, exactly once
    * under foreachBatch's at-least-once redelivery: a crash AFTER the
    * flip but BEFORE the streaming checkpoint recorded the batch
    * redelivers rows the state already includes, and a re-sum merge
    * would double-count them. `merge(prev, dir)` runs only when the
    * committed generation's marker is below `id`; it reads the
    * previous state from `prev` (None = first batch) and writes the
    * merged state into `dir`. A crash before the flip leaves the
    * previous marker, so the retry re-merges (correct); a crash after
    * leaves this id, so the retry skips (correct — StreamsSpec drives
    * both). BatchIds are monotone within ONE checkpoint lineage, which
    * is the scope of the guarantee: the maintained state and its
    * checkpoint must live and die together — restarting with a fresh
    * checkpoint against old state restarts ids at 0, so pair a fresh
    * statePath with any fresh checkpoint. */
  private[graft] def publishGen(statePath: String, id: Long)(
      merge: (Option[String], String) => Unit): Unit =
    commitGen(statePath) { prev =>
      if (prev.flatMap(lastAppliedBatch).exists(_ >= id)) None
      else Some((id, dir => merge(prev, dir)))
    }

  // ---- The two merge shapes of the summary sinks ----
  //
  // Every mergeable-summary sink folds a per-batch partial into its
  // committed state in one of two shapes. Each combinator owns the
  // whole read-merge-write body over [[publishGen]]: the first-batch
  // branch, the footer-schema read of the previous generation, the
  // column check of that stored state, and the write of the new
  // generation. A sink supplies only its partial and its merge.

  /** Keyed fold: the new generation is `first` when none is committed,
    * else `merge(stored)`, with `stored` the committed generation. Both
    * are lazy DataFrames the sink builds from its batch partial, and
    * `first`'s columns are the ones the sink writes. `first` is
    * evaluated only for a batch the marker has not seen, so a sink may
    * put guarded side effects in it ([[ivmJoinAggBatch]]'s level 1). */
  private def mergeKeyed(statePath: String, id: Long, first: => DataFrame)(
      merge: DataFrame => DataFrame): Unit =
    publishGen(statePath, id) { (prev, dir) =>
      val f = first
      prev.fold(f) { p =>
        merge(storedState(statePath, readState(f.sparkSession, p),
          f.columns.toSeq))
      }.write.mode("overwrite").parquet(dir)
    }

  /** One-row sketch: state is ONE `(n, <name>)` row — the rows the
    * stream delivered and a mergeable summary of them. The batch's
    * summary is `sketch` aggregated on the executors and collected with
    * the batch's row count (one job); the first batch keeps it, a later
    * one is folded into the stored summary on the driver by
    * `merge(stored, batch)`. The new generation is that one row, in one
    * file. */
  private def mergeSketch[S: scala.reflect.runtime.universe.TypeTag](
      statePath: String, id: Long, batch: DataFrame, name: String,
      sketch: Column)(merge: (S, S) => S): Unit =
    publishGen(statePath, id) { (prev, dir) =>
      val sp = batch.sparkSession
      import sp.implicits._
      val (b, bn) = batch.agg(sketch.as(name), count(lit(1)).as("n"))
        .as[(S, Long)].head()
      val (n, merged) = prev.fold((bn, b)) { p =>
        val (pn, stored) = storedState(statePath, readState(sp, p),
          Seq("n", name)).select("n", name).as[(Long, S)].head()
        (pn + bn, merge(stored, b))
      }
      Seq((n, merged)).toDF("n", name)
        .coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** `stored` when its columns are `writes` (in any order), else a
    * refusal naming the state dir and both column lists: a merge into
    * a legacy layout or another sink's state would otherwise fail as an
    * opaque analysis error, or union columns that merely share names. */
  private def storedState(statePath: String, stored: DataFrame,
      writes: Seq[String]): DataFrame = {
    def cols(c: Seq[String]) = c.mkString("(", ", ", ")")
    require(stored.columns.toSet == writes.toSet,
      s"maintained state at $statePath has columns " +
        s"${cols(stored.columns.toSeq)} but this sink writes " +
        s"${cols(writes)} — a legacy layout or another sink's state; " +
        "point the sink at its own dir, or delete the statePath to " +
        "restart accumulation")
    stored
  }

  /** Streaming t-digest maintenance: [[quantileMaintain]]'s discipline
    * with [[graft.functions.TDigest]] state — the OTHER mergeable
    * distribution summary (ROADMAP r13 #1): KLL gives uniform rank
    * accuracy with a worst-case theorem; the t-digest gives relative
    * (tail) accuracy with δ-bounded centroid counts and the min/max
    * rank BRACKET as its deterministic check. Maintaining both behind
    * the same verdict pattern is what makes the TDigestSpec
    * rank-error-per-byte head-to-head honest: same replay, same merge
    * discipline, same exactly-once marker.
    */
  def tdigestMaintain(events: DataFrame, keyCol: String,
      valueCol: String, statePath: String, delta: Int,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      tdigestBatch(batch, keyCol, valueCol, statePath, delta, id)
    }

  /** One [[tdigestMaintain]] batch merge, factored for the retry spec. */
  private[graft] def tdigestBatch(batch: DataFrame, keyCol: String,
      valueCol: String, statePath: String, delta: Int, id: Long): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    import graft.functions.{TDig, TDigest}
    val part = batch
      .filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(TDigest.tdigestCol(col(valueCol).cast("double"), delta)
        .as("td"))
      .as[(String, TDig)]
    mergeKeyed(statePath, id, part.toDF("key", "td"))(
      _.select("key", "td").as[(String, TDig)].union(part)
        .groupByKey(_._1)
        .mapGroups { (key, it) =>
          (key, it.map(_._2).reduce(TDigest.merge))
        }
        .toDF("key", "td"))
  }

  /** t-digest maintenance under DELETIONS: signed micro-batches split
    * into a paired INSERT digest and DELETE digest per key — deletions
    * cannot flow through centroids (means are lossy), but a second
    * digest of the deleted multiset subtracts at READ time
    * ([[graft.functions.TDigest.netQuantile]]: net rank = ins rank −
    * del rank, bracketed by the two straddle theorems). State costs
    * 2× the insert-only sink and stays δ-bounded per side regardless
    * of delete volume; the disclosed contract is the CDC one — deletes
    * reference previously-inserted values. Generation-layout publish
    * like its unsigned twin.
    */
  def tdigestSignedMaintain(events: DataFrame, keyCol: String,
      valueCol: String, statePath: String, delta: Int,
      checkpoint: Option[String] = None): StreamingQuery =
    maintainWriter(events, checkpoint) { (batch, id) =>
      tdigestSignedBatch(batch, keyCol, valueCol, statePath, delta, id)
    }

  /** One [[tdigestSignedMaintain]] batch merge, factored for the
    * retry spec. */
  private[graft] def tdigestSignedBatch(batch: DataFrame, keyCol: String,
      valueCol: String, statePath: String, delta: Int, id: Long): Unit = {
    val sp = batch.sparkSession
    import sp.implicits._
    import graft.functions.{TDig, TDigest}
    def sketch(df: DataFrame, tag: String) = df
      .filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("key"))
      .agg(TDigest.tdigestCol(col(valueCol).cast("double"), delta)
        .as("td"))
      .as[(String, TDig)]
      .map { case (k, t) => (k, tag, t) }
    val parts = sketch(batch.filter(col("sign") === 1), "i")
      .union(sketch(batch.filter(col("sign") === -1), "d"))
    def fold(rows: Dataset[(String, String, TDig)]): DataFrame = rows
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val rows = it.toSeq
        def of(tag: String): TDig = rows.collect {
          case (_, t, dig) if t == tag => dig
        }.reduceOption(TDigest.merge).getOrElse(TDigest.empty(delta))
        (key, of("i"), of("d"))
      }
      .toDF("key", "ti", "td")
    mergeKeyed(statePath, id, fold(parts))(st => fold(parts.union(
      st.select("key", "ti", "td").as[(String, TDig, TDig)]
        .flatMap { case (k, ti, td) => Seq((k, "i", ti), (k, "d", td)) })))
  }

  /** Run a streaming query to completion over the files currently present
    * (Trigger.AvailableNow — the batch-parity mode), writing to an
    * in-memory table. Returns the drained query. This is the "bulk job"
    * lifecycle: start → InProgress → JobComplete.
    */
  def runAvailableNow(df: DataFrame, name: String,
      outputMode: String = "append",
      timeoutMs: Long = 600000): StreamingQuery = {
    val q = startScaledToDelta(df.sparkSession) {
      df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // Bounded wait: stateful queries with processing-time timeouts may not
    // self-terminate under AvailableNow (observed on flatMapGroupsWithState)
    // — a hung unbounded await would wedge the caller.
    if (!q.awaitTermination(timeoutMs)) q.stop()
    q
  }
}
