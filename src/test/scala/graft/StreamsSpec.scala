package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Streaming behavior: file-source stream drained with AvailableNow must
  * agree with the oracle-checked batch formulations; stateful operators
  * (watermark dedup, flatMapGroupsWithState) exercised via MemoryStream.
  */
class StreamsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** Raw events scan in the file's NATIVE INT64 unit, shared by the
    * replay tests: `tsDiv` is the native→µs divisor (footer-detected —
    * the driver testdata switched from TIMESTAMP(NANOS) to micros
    * mid-project) and `msUnits` is one whole millisecond in native
    * units (replay cuts land on ms boundaries).
    */
  private def rawEvents: (org.apache.spark.sql.DataFrame, Long, Long) = {
    val (raw, div) = etl.Tables.eventsRawScan(spark, dir)
    (raw, div, 1000L * div)
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete(); ()
  }

  test("soqlExtract: raw SOQL text drives a streaming incremental " +
      "extract equal to the batch translation; query shapes refuse") {
    // the reference's poll-loop extract as one streaming declaration:
    // date-literal WHERE + a parent dot path (stream-static LEFT join)
    val t0 = Some(java.time.LocalDate.of(2024, 1, 25))
    val soql = "SELECT event_id, event_type, user.c_mktsegment" +
      " FROM events WHERE ts >= LAST_N_DAYS:7 AND ts < TODAY" +
      " AND user.c_acctbal >= 0"
    // two single-file halves -> two micro-batches, so the append path
    // genuinely crosses a batch boundary
    val ev = graft.etl.Tables.load(spark, dir, "events")
    val (_, stream0) = ops.Replay.twoBatchStream(spark, "soql_extract",
      dir, graft.etl.Tables.events, "ev",
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    val out = Streams.soqlExtract(stream0, dir, soql, today = t0)
    val q = Streams.runAvailableNow(out, "soql_extract_test")
    assert(!q.isActive)
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2,
      "replay must span two micro-batches")
    val streamed = spark.table("soql_extract_test")
    val batch = graft.soql.Soql.query(spark, dir, soql, today = t0)
    assert(streamed.count() > 0, "extract fixture selected nothing")
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "stream=batch parity broken")
    // query shapes refuse loudly: aggregates, ORDER BY, non-feed object
    intercept[IllegalArgumentException] {
      Streams.soqlExtract(stream0, dir, "SELECT COUNT() FROM events")
    }
    intercept[IllegalArgumentException] {
      Streams.soqlExtract(stream0, dir,
        "SELECT event_id FROM events ORDER BY event_id")
    }
    intercept[IllegalArgumentException] {
      Streams.soqlExtract(stream0, dir, "SELECT c_name FROM customer")
    }
  }

  test("soqlExtract: TYPEOF over the polymorphic actor streams with " +
      "stream=batch parity (discriminator-gated stream-static joins)") {
    val soql = "SELECT event_id, TYPEOF actor WHEN Customer THEN" +
      " c_mktsegment WHEN Supplier THEN s_acctbal END" +
      " FROM events WHERE value > 95"
    val ev = graft.etl.Tables.load(spark, dir, "events")
    val (_, stream0) = ops.Replay.twoBatchStream(spark, "soql_typeof_x",
      dir, graft.etl.Tables.events, "ev",
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    val out = Streams.soqlExtract(stream0, dir, soql)
    val q = Streams.runAvailableNow(out, "soql_typeof_test")
    assert(!q.isActive)
    val streamed = spark.table("soql_typeof_test")
    val batch = graft.soql.Soql.query(spark, dir, soql)
    assert(streamed.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "TYPEOF stream=batch parity broken")
    // both branch types occur in the streamed frame
    assert(spark.table("soql_typeof_test")
      .select("actor_type").distinct().count() == 2)
  }

  test("twoBatchStream refuses an EMPTY half loudly — the structural " +
      "two-NONEMPTY-batches guarantee every maintained replay " +
      "inherits (r17 verdict: an empty parquet half forms its own " +
      "trigger, so a batch-count check passes while the cross-batch " +
      "merge path silently goes untested)") {
    val ev = graft.etl.Tables.load(spark, dir, "events")
    val e = intercept[IllegalArgumentException] {
      ops.Replay.twoBatchStream(spark, "empty_half_t", dir,
        graft.etl.Tables.events, "ev",
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(lit(false)))
    }
    assert(e.getMessage.contains("NONEMPTY"),
      s"wrong failure: ${e.getMessage}")
    // and the passing shape still reports true footer counts
    val (_, stream) = ops.Replay.twoBatchStream(spark, "empty_half_t",
      dir, graft.etl.Tables.events, "ev",
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1))
    assert(stream.isStreaming)
  }

  test("windowedCounts over a drained stream equals the batch aggregation") {
    val stream = Streams.eventsStream(spark, dir)
    val q = Streams.runAvailableNow(Streams.windowedCounts(stream),
      "wc_test", outputMode = "complete")
    assert(q.lastProgress != null) // JobComplete
    assert(!q.isActive)
    val streamed = spark.table("wc_test")
    val batch = graft.ops.Events.queries("e_tumble")(spark, dir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("slidingCounts over a drained stream equals the batch e_slide") {
    val stream = Streams.eventsStream(spark, dir)
    val q = Streams.runAvailableNow(Streams.slidingCounts(stream),
      "slide_test", outputMode = "complete")
    assert(!q.isActive)
    val streamed = spark.table("slide_test")
    val batch = graft.ops.Events.queries("e_slide")(spark, dir)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("transitionsStreaming over a time-split 2-batch replay equals " +
      "batch e_transitions") {
    // two batches split at the median event time — NOT the duplicate-copy
    // replay runningPerUser uses, because transitions chain across the
    // batch boundary (the stored last event of batch 1 must link to the
    // first event of batch 2), so the replay has to respect event-time
    // order per user
    import spark.implicits._
    val (raw, tsDiv, msUnits) = rawEvents
    // cut on a whole-millisecond boundary (stricter than needed: the
    // handler re-sorts within a batch at full microsecond granularity,
    // matching batch e_transitions' (ts, event_id) lag window, so only a
    // same-microsecond tie group split across the two batches could chain
    // in file order — a whole-ms cut rules that out a fortiori)
    val tsSorted = raw.select("ts").orderBy("ts").collect().map(_.getLong(0))
    val cut = (tsSorted(tsSorted.length / 2) / msUnits) * msUnits
    val tmp = java.nio.file.Files.createTempDirectory("trans_stream")
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp.resolve(s"stage_$name")
      df.coalesce(1).write.parquet(stage.toString)
      val it = java.nio.file.Files.list(stage).iterator()
      var p: java.nio.file.Path = null
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) p = f
      }
      java.nio.file.Files.copy(p, tmp.resolve(name))
    }
    writeOne(raw.filter(col("ts") < cut), "a_events.parquet")
    writeOne(raw.filter(col("ts") >= cut), "b_events.parquet")
    val stream = spark.readStream.schema(etl.Tables.eventsRaw)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*_events.parquet")
      .parquet(tmp.toString)
      .withColumn("ts", expr(s"timestamp_micros(ts DIV $tsDiv)"))
    val batch = graft.ops.Events.queries("e_transitions")(spark, dir)
      .select("prev_type", "event_type", "n")
    val expected = batch.agg(sum("n")).head.getLong(0)
    // poll-with-deadline, not runAvailableNow: stateful FMGWS queries
    // under AvailableNow process everything but may never self-terminate
    // (see runningPerUser above) — awaiting termination burns the full
    // timeout
    val q = Streams.transitionsStreaming(spark, stream).toDF()
      .writeStream.format("memory").queryName("trans_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      val deadline = System.currentTimeMillis() + 180000
      while (spark.table("trans_test").count() < expected &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      assert(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must actually span two micro-batches")
      val streamed = spark.table("trans_test")
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("rollupMaintain over a 2-batch replay equals the full recompute") {
    // same time-split replay as transitionsStreaming: each batch folds
    // into the materialized rollup; after both, the table must be
    // bit-identical to aggregating all events at once
    val (raw, tsDiv, msUnits) = rawEvents
    val tsSorted = raw.select("ts").orderBy("ts").collect().map(_.getLong(0))
    val cut = (tsSorted(tsSorted.length / 2) / msUnits) * msUnits
    val tmp = java.nio.file.Files.createTempDirectory("rollup_stream")
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp.resolve(s"stage_$name")
      df.coalesce(1).write.parquet(stage.toString)
      val it = java.nio.file.Files.list(stage).iterator()
      var p: java.nio.file.Path = null
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) p = f
      }
      java.nio.file.Files.copy(p, tmp.resolve(name))
    }
    writeOne(raw.filter(col("ts") < cut), "a_events.parquet")
    writeOne(raw.filter(col("ts") >= cut), "b_events.parquet")
    val stream = spark.readStream.schema(etl.Tables.eventsRaw)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*_events.parquet")
      .parquet(tmp.toString)
      .withColumn("ts", expr(s"timestamp_micros(ts DIV $tsDiv)"))
    val rollupPath = tmp.resolve("rollup").toString
    val q = Streams.rollupMaintain(stream, rollupPath)
    assert(q.awaitTermination(180000), "foreachBatch query must terminate")
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2,
      "replay must span two micro-batches")
    val got = Streams.readGenMaintained(spark, rollupPath)
      .select(col("day"), col("event_type"), col("n"),
        col("sv").cast("double").as("sv"))
    val full = etl.Tables.load(spark, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(ops.roundf(col("value"), 4).cast("decimal(22,4)"))
          .cast("double").as("sv"))
    assert(got.exceptAll(full).count() == 0 &&
      full.exceptAll(got).count() == 0)
  }

  test("heavyHittersMaintain: MG guarantee holds against the whole " +
      "stream after a 2-batch replay") {
    import spark.implicits._
    val (raw, tsDiv, msUnits) = rawEvents
    val tsSorted = raw.select("ts").orderBy("ts").collect().map(_.getLong(0))
    val cut = (tsSorted(tsSorted.length / 2) / msUnits) * msUnits
    val keyed = (df: org.apache.spark.sql.DataFrame) => df.select(
      when(col("event_id") % 10 < 5,
        concat(lit("hot"), (col("event_id") % 7).cast("string")))
      .otherwise(concat(lit("cold"), col("event_id").cast("string")))
      .as("k"))
    val (base, events) = ops.Replay.twoBatchStream(spark, "spec_hh_stream",
      dir, etl.Tables.eventsRaw, "events",
      raw.filter(col("ts") < cut), raw.filter(col("ts") >= cut))
    val statePath = new java.io.File(base, "hh_state").getPath
    val k = 50
    val q = Streams.heavyHittersMaintain(keyed(events), "k", statePath, k)
    assert(q.awaitTermination(180000), "foreachBatch query must terminate")
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2,
      "replay must span two micro-batches")
    val (stateN, sketch) = Streams.readGenMaintained(spark, statePath)
      .as[(Long, Map[String, Long])].head()
    val truth = keyed(raw).groupBy("k").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = truth.values.sum
    assert(stateN == n, "running total must count the stream")
    assert(sketch.size <= k)
    val eps = n.toDouble / (k + 1)
    for ((key, c) <- truth if c > eps)
      assert(sketch.contains(key), s"heavy $key absent after merge")
    for ((key, est) <- sketch) {
      val c = truth(key)
      assert(est <= c && est >= c - eps,
        s"$key est $est outside [${c - eps}, $c]")
    }
  }

  test("countMinMaintain: maintained grid is bit-identical to the " +
      "batch sketch over the whole stream") {
    import spark.implicits._
    val (raw, tsDiv, msUnits) = rawEvents
    val tsSorted = raw.select("ts").orderBy("ts").collect().map(_.getLong(0))
    val cut = (tsSorted(tsSorted.length / 2) / msUnits) * msUnits
    val keyed = (df: org.apache.spark.sql.DataFrame) => df.select(
      concat(lit("u"), (col("event_id") % 97).cast("string")).as("k"))
    val (base, events) = ops.Replay.twoBatchStream(spark, "spec_cm_stream",
      dir, etl.Tables.eventsRaw, "events",
      raw.filter(col("ts") < cut), raw.filter(col("ts") >= cut))
    val statePath = new java.io.File(base, "cm_state").getPath
    val width = 256
    val q = Streams.countMinMaintain(keyed(events), "k", statePath, width)
    assert(q.awaitTermination(180000), "foreachBatch query must terminate")
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2,
      "replay must span two micro-batches")
    val (n, grid) = Streams.readGenMaintained(spark, statePath)
      .as[(Long, Array[Long])].head()
    // elementwise-sum mergeability: the maintained grid must EQUAL the
    // one-shot batch sketch — bit for bit, not just within guarantee
    val batchRow = keyed(raw).agg(
      graft.functions.HeavyHitters.cmSketchCol(col("k"), width),
      count(lit(1))).head()
    val batchGrid: Array[Long] = batchRow.getSeq[Long](0).toArray
    assert(grid.sameElements(batchGrid))
    assert(n == batchRow.getLong(1))
    // and the point-query guarantee holds against exact truth
    val truth = keyed(raw).groupBy("k").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val eps = 2.718281828459045 / width * n
    for ((key, c) <- truth) {
      val est = graft.functions.HeavyHitters.cmEstimate(grid, width, key)
      assert(est >= c && est <= c + eps, s"$key: $est vs $c (eps $eps)")
    }
  }

  test("countMinMaintain on one persistent checkpoint: a stranded " +
      "staged-swap _old migrates, a pre-flip orphan generation is " +
      "ignored, and a post-flip redelivery is skipped") {
    // Every crash window of the state's life on ONE checkpoint lineage
    // (a→batch 0, b→batch 1), so the exactly-once marker is exercised
    // across real restarts. Count-min is the sharpest probe: its merge
    // is elementwise sum, so the final grid must equal the one-shot
    // sketch over both halves bit for bit — a lost or doubled batch
    // shifts every hot counter.
    import spark.implicits._
    val (raw, _, msUnits) = rawEvents
    val tsSorted = raw.select("ts").orderBy("ts").collect().map(_.getLong(0))
    val cut = (tsSorted(tsSorted.length / 2) / msUnits) * msUnits
    val base = ops.Replay.scratchDir("spec_cm_crash", dir)
    // the source dir holds only landed files: a restarted file source
    // re-lists it, and must not see the state's gen=N dirs
    val src = new java.io.File(base, "src")
    src.mkdirs()
    val keyed = (df: org.apache.spark.sql.DataFrame) => df.select(
      concat(lit("u"), (col("event_id") % 97).cast("string")).as("k"))
    val statePath = new java.io.File(base, "cm_state").getPath
    val chk = new java.io.File(base, "chk").getPath
    def drain(): Seq[Long] = {
      val stream = keyed(spark.readStream.schema(etl.Tables.eventsRaw)
        .option("pathGlobFilter", "*_events.parquet")
        .parquet(src.getPath))
      val q = Streams.countMinMaintain(stream, "k", statePath, 256,
        checkpoint = Some(chk))
      assert(q.awaitTermination(180000), "foreachBatch query must terminate")
      q.exception.foreach(e => throw e)
      q.recentProgress.map(_.batchId).toSeq
    }
    def state() = Streams.readGenMaintained(spark, statePath)
      .as[(Long, Array[Long])].head()
    def oneShot(df: org.apache.spark.sql.DataFrame): (Long, Array[Long]) = {
      val r = keyed(df).agg(
        graft.functions.HeavyHitters.cmSketchCol(col("k"), 256),
        count(lit(1))).head()
      (r.getLong(1), r.getSeq[Long](0).toArray)
    }
    ops.Replay.writeOneFile(raw.filter(col("ts") < cut), src,
      "a_events.parquet")
    drain()
    // (1) upgrade from the retired staged-swap layout: rewrite batch
    // a's committed state the way that publish left it — (n, grid)
    // parquet and the batch marker at the dir's top level — stranded
    // as `_old` by a crash between its two renames
    val old = new java.io.File(statePath + "_old")
    assert(new java.io.File(Streams.currentGenPath(statePath).get)
      .renameTo(old))
    rmTree(new java.io.File(statePath))
    // without migration the merge must refuse, not restart from empty
    val refusal = intercept[IllegalArgumentException] {
      Streams.countMinBatch(keyed(raw), "k", statePath, 256, 1L)
    }
    assert(refusal.getMessage.contains("migrateToGenLayout"),
      s"wrong failure: ${refusal.getMessage}")
    Streams.migrateToGenLayout(statePath)
    assert(!old.exists(), "migration left the stranded _old behind")
    assert(Streams.lastAppliedBatchGen(statePath).contains(0L),
      "migration dropped the batch marker")
    val (nA, gridA) = oneShot(raw.filter(col("ts") < cut))
    assert(state()._1 == nA && state()._2.sameElements(gridA),
      "migration did not carry batch a's state forward")
    // (2) crash BEFORE the flip: batch b's attempt half-wrote its
    // generation (a poisoned grid, no marker) and died. The pointer
    // never named it, so the restart merges b onto gen 0 exactly once.
    val orphan = s"$statePath/gen=1-0dead"
    Seq((999L, Array.fill(gridA.length)(7L))).toDF("n", "grid")
      .write.parquet(orphan)
    ops.Replay.writeOneFile(raw.filter(col("ts") >= cut), src,
      "b_events.parquet")
    assert(drain().contains(1L), "batch b must run as batch 1")
    val committed = Streams.currentGenPath(statePath).get
    assert(committed != orphan, "the pointer resolved the orphan")
    val (nAll, gridAll) = oneShot(raw)
    assert(state()._2.sameElements(gridAll),
      "batch b did not merge exactly once onto the committed state")
    assert(state()._1 == nAll)
    assert(Streams.lastAppliedBatchGen(statePath).contains(1L))
    // (3) crash AFTER the flip, before the checkpoint recorded batch 1:
    // drop its commit-log entry so the restart redelivers it — the
    // marker must skip it (no new generation, grid unchanged)
    Seq("1", ".1.crc").foreach(f =>
      new java.io.File(s"$chk/commits/$f").delete())
    assert(drain().contains(1L), "batch 1 was not redelivered")
    assert(Streams.currentGenPath(statePath).contains(committed),
      "the redelivered batch committed a new generation")
    assert(state()._2.sameElements(gridAll) && state()._1 == nAll,
      "the redelivered batch merged twice")
  }

  test("merge sinks skip a redelivered batch — exactly-once under " +
      "foreachBatch retry") {
    // The redelivery window the batch marker closes: a crash AFTER the
    // pointer flip but BEFORE the checkpoint recorded the batch makes
    // foreachBatch re-run the same (batch, id) — and a blind re-sum
    // merge double-counts every row in it. Driven through the factored
    // batch body so the retry is byte-exact: same frame, same id.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("retry_merge")
    val statePath = tmp.resolve("segfreq").toString
    val segs = Seq(11L, 11L, 22L).toDF("h")
    Streams.countBatch(segs, "h", statePath, 0L)
    def state() = Streams.readGenMaintained(spark, statePath)
      .as[(Long, Long)].collect().toMap
    val once = state()
    assert(once == Map(11L -> 2L, 22L -> 1L))
    // redelivery: same batch, same id — the committed marker must make
    // this a no-op, not a double-merge
    Streams.countBatch(segs, "h", statePath, 0L)
    assert(state() == once, "retried batch double-merged into the state")
    // a genuinely new batch id still merges
    Streams.countBatch(Seq(22L).toDF("h"), "h", statePath, 1L)
    assert(state() == Map(11L -> 2L, 22L -> 2L))
    assert(Streams.lastAppliedBatchGen(statePath).contains(1L))
  }

  test("readMaintained resolves the generation pointer: one generation, " +
      "no synthetic gen column; append tables still union their batches") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("read_maint")
    val statePath = tmp.resolve("cnt").toString
    Streams.countBatch(Seq(1L, 1L).toDF("h"), "h", statePath, 0L)
    Streams.countBatch(Seq(1L).toDF("h"), "h", statePath, 1L)
    // two generations are retained on disk (graft.gen.keep = 2); a
    // reader must see only the committed one
    val gen = Streams.readMaintained(spark, statePath)
    assert(gen.columns.toSeq == Seq("h", "cnt"), gen.columns.mkString(","))
    assert(gen.as[(Long, Long)].collect().toSeq == Seq((1L, 3L)))
    val appendPath = tmp.resolve("log").toString
    Streams.appendBatch(Seq(1L, 2L).toDF("x"), appendPath, 0L)
    Streams.appendBatch(Seq(3L).toDF("x"), appendPath, 1L)
    val log = Streams.readMaintained(spark, appendPath)
    assert(log.columns.toSeq == Seq("x"))
    assert(log.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("appendMaintain over a 2-batch replay equals the batch-built bands") {
    // the append sink's invariant: because a document's band rows
    // depend on that document alone, appending per-batch band rows
    // yields EXACTLY the rows a one-shot batch build yields — no merge,
    // no dedup, no loss. Set-equality against the batch build proves
    // no batch was dropped and none appended twice.
    val docs = etl.Tables.load(spark, dir, "documents")
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val cut = maxId / 2
    val tmp = java.nio.file.Files.createTempDirectory("append_maint")
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp.resolve(s"stage_$name")
      df.coalesce(1).write.parquet(stage.toString)
      val it = java.nio.file.Files.list(stage).iterator()
      var p: java.nio.file.Path = null
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) p = f
      }
      java.nio.file.Files.copy(p, tmp.resolve(name))
    }
    writeOne(docs.filter(col("doc_id") < cut), "a_docs.parquet")
    writeOne(docs.filter(col("doc_id") >= cut), "b_docs.parquet")
    val stream = spark.readStream.schema(etl.Tables.documents)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*_docs.parquet")
      .parquet(tmp.toString)
    val idxPath = tmp.resolve("idx").toString
    val q = Streams.appendMaintain(stream, idxPath)(
      graft.ops.Dedup.minhashBandsOfDocs)
    assert(q.awaitTermination(180000), "append sink must drain")
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2,
      "replay must span two micro-batches")
    val maintained = Streams.readMaintained(spark, idxPath)
    val batch = graft.ops.Dedup.minhashBandsOfDocs(docs)
    assert(maintained.count() == batch.count())
    assert(maintained.exceptAll(batch).count() == 0 &&
      batch.exceptAll(maintained).count() == 0,
      "maintained index diverged from the batch build")
    // at-least-once redelivery: re-committing a batch with the SAME
    // batchId (the foreachBatch retry case) must replace, not append —
    // the total row count is unchanged after the duplicate commit
    val batchA = docs.filter(col("doc_id") < cut)
    Streams.appendBatch(
      graft.ops.Dedup.minhashBandsOfDocs(batchA), idxPath, 0L)
    val afterRetry = Streams.readMaintained(spark, idxPath)
    assert(afterRetry.count() == batch.count(),
      "a retried batch commit double-appended its rows")
    assert(afterRetry.exceptAll(batch).count() == 0,
      "a retried batch commit changed the maintained contents")
    // ---- compaction: the small-file lever for the batch=<id> layout.
    // The quiesced case (horizon = every id) rewrites all committed
    // batch subdirs into ONE consolidated segment; contents must be
    // SET-IDENTICAL across the compaction, and the segment's negative
    // id keeps it disjoint from every future (non-negative) batch id.
    Streams.compactMaintainedBelow(spark, idxPath, Long.MaxValue)
    val dirs = new java.io.File(idxPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(dirs.length == 1, s"compaction left ${dirs.length} batch dirs")
    assert(dirs.head.getName == "batch=-1",
      "consolidated segment must carry the max committed id, negated")
    val compacted = Streams.readMaintained(spark, idxPath)
    assert(compacted.exceptAll(batch).count() == 0 &&
      batch.exceptAll(compacted).count() == 0,
      "compaction changed the maintained contents")
    // idempotent: a second compaction of an already-compact table is a
    // no-op (the <=1 early return), not a failure or a rewrite
    Streams.compactMaintainedBelow(spark, idxPath, Long.MaxValue)
    assert(Streams.readMaintained(spark, idxPath).count() == batch.count())
  }

  test("startScaledToDelta: the stream clones the override; the session " +
      "conf is restored before the drain") {
    // r20: the maintenance sinks run their micro-batches at
    // delta-sized shuffle partitioning (spark.graft.replay.shuffle.
    // partitions, default 4) via a conf override scoped around
    // start() — legal because Structured Streaming clones the session
    // INSIDE start() and every micro-batch (and foreachBatch body)
    // plans against the clone's conf snapshot. This pins exactly that:
    // the batch-side session sees the override, while the caller's
    // session conf is already restored when start() returns (so no
    // batch query outside the stream can ever observe it).
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    val docs = etl.Tables.load(spark, dir, "documents")
    val (_, stream) = ops.Replay.twoBatchStream(spark, "ssd_conf", dir,
      etl.Tables.documents, "docs",
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    val seen = new java.util.concurrent.atomic.AtomicReference[String]
    val tmp = java.nio.file.Files.createTempDirectory("ssd_conf").toString
    val q = Streams.appendMaintain(stream, tmp) { b =>
      seen.set(b.sparkSession.conf.get(key))
      b.select("doc_id")
    }
    assert(spark.conf.get(key) == old,
      "session conf must be restored as soon as start() returns")
    assert(q.awaitTermination(180000), "replay must drain")
    assert(seen.get() == "4",
      s"sink batches must plan at the replay override, saw ${seen.get()}")
    assert(spark.conf.get(key) == old)
  }

  test("ivmJoinBatch: all three delta terms; retry leaves the view " +
      "unchanged") {
    // the IVM identity over two hand-built batches, then a byte-exact
    // retry of the LAST batch — the by-construction idempotence claim
    // (prior-state reads exclude the current id; all writes are
    // batch=<id> overwrites) asserted, not just documented
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ivm_retry")
    val base = tmp.resolve("ivm").toString
    def A(rows: (Long, Long)*) = rows.toSeq.toDF("ok", "ck")
    def B(rows: (Long, String)*) = rows.toSeq.toDF("ck2", "nm")
    // batch 0: order 1→cust 10, cust 10 → pair (1,10)
    Streams.ivmJoinBatch(A((1L, 10L)), B((10L, "a")), base, 0L,
      "ck", "ck2")
    // batch 1: order 2→cust 10 (ΔA⋈B_prev), cust 20 with order 3
    // (ΔA⋈ΔB), plus old cust 10 gains nothing new on the right
    Streams.ivmJoinBatch(A((2L, 10L), (3L, 20L)), B((20L, "b")), base,
      1L, "ck", "ck2")
    val view = () => Streams.readMaintained(spark, s"$base/view")
      .select("ok", "ck", "nm").as[(Long, Long, String)]
      .collect().toSet
    val expected = Set((1L, 10L, "a"), (2L, 10L, "a"), (3L, 20L, "b"))
    assert(view() == expected,
      "the three delta terms did not reconstruct the full join")
    // byte-exact retry of batch 1: all three tables must be unchanged
    Streams.ivmJoinBatch(A((2L, 10L), (3L, 20L)), B((20L, "b")), base,
      1L, "ck", "ck2")
    assert(view() == expected, "a retried batch changed the view")
    assert(Streams.readMaintained(spark, s"$base/left").count() == 3)
    assert(Streams.readMaintained(spark, s"$base/right").count() == 2)
  }

  test("appendMaintainMulti: one input pass lands every artifact as " +
      "paired batch=<id> appends; re-applied batch stays single-copy") {
    // the composed-index shape (IVF-PQ cells + codes): two derived
    // tables off one stream, each row-local, so the paired appends ARE
    // the merge and the artifacts cannot diverge past one in-flight
    // batch
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("amm")
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp.resolve(s"stage_$name")
      df.coalesce(1).write.parquet(stage.toString)
      val it = java.nio.file.Files.list(stage).iterator()
      var p: java.nio.file.Path = null
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet")) p = f
      }
      java.nio.file.Files.copy(p, tmp.resolve(name))
    }
    writeOne(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), "a_in.parquet")
    writeOne(Seq((3L, 30.0)).toDF("id", "v"), "b_in.parquet")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*_in.parquet")
      .parquet(tmp.toString)
    val evenPath = tmp.resolve("even").toString
    val dblPath = tmp.resolve("dbl").toString
    val q = Streams.appendMaintainMulti(stream, Seq(
      evenPath -> ((b: org.apache.spark.sql.DataFrame) =>
        b.select(col("id"), (col("id") % 2 === 0).as("even"))),
      dblPath -> ((b: org.apache.spark.sql.DataFrame) =>
        b.select(col("id"), (col("v") * 2).as("v2")))))
    assert(q.awaitTermination(180000), "multi-append stream must drain")
    assert(q.recentProgress.map(_.batchId).distinct.length >= 2,
      "replay must span two micro-batches")
    def even() = Streams.readMaintained(spark, evenPath)
      .as[(Long, Boolean)].collect().toSet
    def dbl() = Streams.readMaintained(spark, dblPath)
      .as[(Long, Double)].collect().toSet
    assert(even() == Set((1L, false), (2L, true), (3L, false)))
    assert(dbl() == Set((1L, 20.0), (2L, 40.0), (3L, 60.0)))
    // a redelivered batch re-overwrites BOTH artifacts' subdirs — no
    // double rows in either (the appendBatch idempotence, paired)
    Streams.appendBatch(Seq((3L, false)).toDF("id", "even"),
      evenPath, 1L)
    Streams.appendBatch(Seq((3L, 60.0)).toDF("id", "v2"), dblPath, 1L)
    assert(even() == Set((1L, false), (2L, true), (3L, false)),
      "redelivery duplicated artifact 1")
    assert(dbl() == Set((1L, 20.0), (2L, 40.0), (3L, 60.0)),
      "redelivery duplicated artifact 2")
  }

  test("ivmJoinAggBatch: the two-level commit folds exactly the batch's " +
      "view delta; retry and crash-between-levels both recover") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ivm_joinagg")
    val base = tmp.resolve("ivm").toString
    def A(rows: (Long, Long, Double)*) = rows.toSeq
      .toDF("ok", "ck", "price")
    def B(rows: (Long, String)*) = rows.toSeq.toDF("ck2", "seg")
    def agg() = Streams.readGenMaintained(spark, s"$base/agg")
      .select(col("seg"), col("n"), col("sv").cast("double"))
      .as[(String, Long, Double)].collect()
      .map { case (k, n, s) => k -> ((n, s)) }.toMap
    Streams.ivmJoinAggBatch(A((1L, 10L, 10.0), (2L, 20L, 5.0)),
      B((10L, "S1")), base, 0L, "ck", "ck2", Seq("seg"), "price")
    assert(agg() == Map("S1" -> ((1L, 10.0))))
    // batch 1 exercises all three level-1 delta terms feeding level 2:
    // ΔA⋈B_prev (order 3→cust 10), A_prev⋈ΔB (order 2 meets cust 20),
    // ΔA⋈ΔB (order 4→cust 20)
    val b1a = A((3L, 10L, 2.0), (4L, 20L, 7.0))
    val b1b = B((20L, "S2"))
    Streams.ivmJoinAggBatch(b1a, b1b, base, 1L, "ck", "ck2",
      Seq("seg"), "price")
    val expected = Map("S1" -> ((2L, 12.0)), "S2" -> ((2L, 12.0)))
    assert(agg() == expected,
      "level-2 fold of the three delta terms drifted from the recompute")
    // byte-exact retry of batch 1: the gen marker guards BOTH levels
    Streams.ivmJoinAggBatch(b1a, b1b, base, 1L, "ck", "ck2",
      Seq("seg"), "price")
    assert(agg() == expected, "a retried two-level batch changed the agg")
    // crash between levels: level 1 of batch 2 landed (view append),
    // the agg did not — the foreachBatch retry must re-run level 1
    // idempotently and then fold the SAME delta exactly once
    val b2a = A((5L, 10L, 1.0))
    val b2b = B()
    Streams.ivmJoinBatch(b2a, b2b, base, 2L, "ck", "ck2")
    Streams.ivmJoinAggBatch(b2a, b2b, base, 2L, "ck", "ck2",
      Seq("seg"), "price")
    assert(agg() == Map("S1" -> ((3L, 13.0)), "S2" -> ((2L, 12.0))),
      "crash-between-levels retry double-folded or lost the delta")
    assert(Streams.readMaintained(spark, s"$base/view").count() == 5,
      "the level-1 re-append was not idempotent")
  }

  test("sumsBatch: additive re-sum merge; marker-guarded retry leaves " +
      "the moments unchanged") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("sums_retry")
    val path = tmp.resolve("moments").toString
    def B(rows: (String, Long, java.math.BigDecimal)*) =
      rows.toSeq.toDF("g", "n", "sv")
        .select(col("g"), col("n"), col("sv").cast("decimal(38,2)")
          .as("sv"))
    def bd(v: String) = new java.math.BigDecimal(v)
    def state() = Streams.readGenMaintained(spark, path)
      .select("g", "n", "sv").as[(String, Long, java.math.BigDecimal)]
      .collect().map { case (g, n, sv) => g -> ((n, sv)) }.toMap
    Streams.sumsBatch(B(("a", 2L, bd("10.50")), ("b", 1L, bd("3.00"))),
      Seq("g"), Seq("n", "sv"), path, 0L)
    Streams.sumsBatch(B(("a", 3L, bd("4.50"))),
      Seq("g"), Seq("n", "sv"), path, 1L)
    val want = Map("a" -> ((5L, bd("15.00"))), "b" -> ((1L, bd("3.00"))))
    def norm(m: Map[String, (Long, java.math.BigDecimal)]) =
      m.map { case (g, (n, sv)) => (g, n, sv.stripTrailingZeros) }.toSet
    assert(norm(state()) == norm(want))
    // marker-guarded retry: re-applying batch 1 must not double-sum
    Streams.sumsBatch(B(("a", 3L, bd("4.50"))),
      Seq("g"), Seq("n", "sv"), path, 1L)
    assert(norm(state()) == norm(want), "a retried batch re-merged")
  }

  test("native watermarked stream-stream interval join equals the " +
      "batch band join") {
    // Spark's OWN stream-stream join operator (the complement of the
    // foreachBatch IVM family): both sides watermarked, condition =
    // equi on user + an event-time band — the watermark plus the band
    // is what lets the engine EVICT buffered state, which is the whole
    // point of the operator at scale. Drained with AvailableNow, the
    // append-mode result must equal the batch band join exactly.
    val clicks = Streams.eventsStream(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"),
        col("event_id").as("cid"))
      .withWatermark("cts", "1 hour")
    val purchases = Streams.eventsStream(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"),
        col("event_id").as("pid"))
      .withWatermark("pts", "1 hour")
    val joined = clicks.join(purchases,
      expr("cu = pu AND pts >= cts AND pts < cts + interval 1 day"))
      .select("cid", "pid")
    val q = Streams.runAvailableNow(joined, "ssj_test")
    assert(!q.isActive)
    val got = spark.table("ssj_test")
    val ev = graft.etl.Tables.load(spark, dir, "events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"),
        col("event_id").as("cid"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("pts"),
        col("event_id").as("pid"))
    val want = c.join(p,
      expr("cu = pu AND pts >= cts AND pts < cts + interval 1 day"))
      .select("cid", "pid")
    assert(want.count() > 0, "fixture has no band pairs — vacuous test")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
  }

  test("ivmDistinctBatch: only 0-positive transitions reach the log; " +
      "partial retraction absorbed; retry leaves both tables unchanged") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ivm_dist")
    val base = tmp.resolve("ivm").toString
    def B(rows: (Long, Int)*) = rows.toSeq.toDF("k", "sign")
    def view() = Streams.readMaintained(spark, s"$base/view")
      .groupBy("k").agg(sum("sign").as("m")).filter(col("m") > 0)
      .select("k").as[Long].collect().toSet
    def rawLog() = Streams.readMaintained(spark, s"$base/view")
      .select("k", "sign").as[(Long, Int)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    // batch 0: key 1 twice, key 2 once → view {1, 2}, ONE +1 per key
    // (the duplicate insert must not re-publish)
    Streams.ivmDistinctBatch(B((1L, 1), (1L, 1), (2L, 1)), base, 0L,
      Seq("k"), "sign")
    assert(view() == Set(1L, 2L))
    assert(rawLog() == Map((1L, 1) -> 1, (2L, 1) -> 1),
      "a duplicate insert re-published its key")
    // batch 1: retract ONE of key 1's two copies → count absorbs it,
    // no log row; key 3 arrives → +1
    Streams.ivmDistinctBatch(B((1L, -1), (3L, 1)), base, 1L,
      Seq("k"), "sign")
    assert(view() == Set(1L, 2L, 3L))
    assert(!rawLog().contains((1L, -1)),
      "a partial retraction leaked into the view log")
    // batch 2: retract key 1's LAST copy → a real −1
    Streams.ivmDistinctBatch(B((1L, -1)), base, 2L, Seq("k"), "sign")
    assert(view() == Set(2L, 3L))
    assert(rawLog()((1L, -1)) == 1)
    // byte-exact retry of batch 2: marker-guarded skip — the −1 must
    // not double and the counts must not re-merge
    Streams.ivmDistinctBatch(B((1L, -1)), base, 2L, Seq("k"), "sign")
    assert(view() == Set(2L, 3L), "a retried batch changed the view")
    assert(rawLog()((1L, -1)) == 1, "a retried batch duplicated a log row")
    // batch 3: key 1 returns → 0→positive again, a fresh +1
    Streams.ivmDistinctBatch(B((1L, 1)), base, 3L, Seq("k"), "sign")
    assert(view() == Set(1L, 2L, 3L))
    assert(rawLog()((1L, 1)) == 2, "re-publication after retraction lost")
  }

  test("ivmDistinctBatch: delete-before-insert retains the negative " +
      "residual and nets correctly once the insert lands") {
    // the out-of-order CDC contract the sink documents: a retraction
    // arriving BEFORE its insert leaves count −1 (retained, not
    // dropped — dropping would make the late insert re-publish a key
    // that should net to absent), emits NO view row (0→negative is
    // not a 0→positive transition), and two later inserts net the key
    // to +1 with exactly ONE +1 in the log
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ivm_dist_ooo")
    val base = tmp.resolve("ivm").toString
    def B(rows: (Long, Int)*) = rows.toSeq.toDF("k", "sign")
    def view() = Streams.readMaintained(spark, s"$base/view")
      .groupBy("k").agg(sum("sign").as("m")).filter(col("m") > 0)
      .select("k").as[Long].collect().toSet
    def counts() = Streams.readGenMaintained(spark, s"$base/counts")
      .drop("batch")
      .select("k", "n").as[(Long, Long)].collect().toMap
    Streams.ivmDistinctBatch(B((9L, -1)), base, 0L, Seq("k"), "sign")
    assert(view() == Set.empty, "a premature delete published a key")
    assert(counts() == Map(9L -> -1L),
      "the negative residual must be RETAINED for the late insert")
    Streams.ivmDistinctBatch(B((9L, 1), (9L, 1)), base, 1L,
      Seq("k"), "sign")
    assert(view() == Set(9L))
    assert(counts() == Map(9L -> 1L),
      "−1 + 2 inserts must net to exactly 1")
    val log = Streams.readMaintained(spark, s"$base/view")
      .select("k", "sign").as[(Long, Int)].collect().toSeq
    assert(log == Seq((9L, 1)),
      s"exactly one +1 expected after the residual netted: $log")
  }

  test("deltaKeyBloom: no false negatives, real pruning, and a " +
      "non-integral key opts out") {
    // the IVM runtime-filter lever's soundness contract: every
    // accumulated row whose key appears in the delta MUST survive the
    // prefilter (false negatives would silently drop view rows), and
    // on a disjoint-heavy accumulated side the 1% fpp sketch must
    // prune the overwhelming majority (the lever's entire point)
    import spark.implicits._
    val delta = (0L until 50L).map(i => i * 1000L).toDF("k")
    val bloom = Streams.deltaKeyBloom(delta, "k")
    assert(bloom.isDefined)
    val acc = (0L until 100000L).toDF("k")
    val kept = acc.filter(
      org.apache.spark.sql.graftshim.BloomFilters
        .mightContain(bloom.get, col("k"))).as[Long].collect().toSet
    val deltaKeys = (0L until 50L).map(_ * 1000L)
      .filter(_ < 100000L).toSet
    assert(deltaKeys.subsetOf(kept), "bloom dropped a true join key")
    // 100k candidates, 50 true keys, fpp 1% → expect ~1k kept; assert
    // a loose 5% bound so the test never flakes on sketch variance
    assert(kept.size < 5000,
      s"bloom pruned nothing: kept ${kept.size} of 100000")
    // string keys: the sketch hashes longs only — the lever must opt
    // out (None), leaving the probe unfiltered rather than wrong
    assert(Streams.deltaKeyBloom(
      Seq("a", "b").toDF("k"), "k").isEmpty)
  }

  test("legacy heavy-hitters state layout fails with a clear message") {
    // the state format changed from (key, est) rows + __n__ sentinel to
    // one (n, mg) row, and then moved under the generation pointer; an
    // old statePath must produce an actionable error naming the
    // remediation, not an opaque encoder analysis failure — first the
    // layout migration, then (once migrated) the column format
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hh_legacy")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      tmp.resolve("events.parquet"))
    // state outside the source dir: the second stream re-lists the
    // source, and must not see the migrated gen=0 dir
    val statePath = java.nio.file.Files.createTempDirectory("hh_legacy_st")
      .resolve("hh_state").toString
    Seq(("hot0", 5L), ("__n__", 7L)).toDF("key", "est")
      .coalesce(1).write.parquet(statePath)
    val stream = spark.readStream.schema(etl.Tables.eventsRaw)
      .option("pathGlobFilter", "events.parquet")
      .parquet(tmp.toString)
      .select(concat(lit("u"), (col("event_id") % 97).cast("string"))
        .as("k"))
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    def refusal(): Seq[String] = {
      val q = Streams.heavyHittersMaintain(stream, "k", statePath, 50)
      messages(intercept[
        org.apache.spark.sql.streaming.StreamingQueryException] {
        q.awaitTermination(180000)
      })
    }
    val preGen = refusal()
    assert(preGen.exists(_.contains("migrateToGenLayout")),
      s"expected the layout-migration remediation, got: $preGen")
    Streams.migrateToGenLayout(statePath)
    val migrated = refusal()
    assert(migrated.exists(_.contains("legacy layout")),
      s"expected the legacy-layout remediation message, got: $migrated")
  }

  test("dropDuplicatesWithinWatermark suppresses re-delivered events") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = Streams.dedupWithinWatermark(df).writeStream
      .format("memory").queryName("dedup_test").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    mem.addData((1L, t0, "a"), (1L, t0, "a"), (2L, t0, "b"))
    q.processAllAvailable()
    mem.addData((1L, t0, "a")) // re-delivery within watermark → dropped
    q.processAllAvailable()
    val got = spark.table("dedup_test").select("event_id")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("runningPerUser carries state across micro-batches") {
    // file source (2 copies of events => 2 micro-batches at
    // maxFilesPerTrigger=1); MemoryStream + flatMapGroupsWithState hits a
    // Spark internal NPE (SparkPlan.session null) — file source does not.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ev2")
    for (n <- Seq("a", "b"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        tmp.resolve(s"events_$n.parquet"))
    val tsDiv = etl.Tables.eventsTsDivisor(spark, dir)
    val stream = spark.readStream.schema(etl.Tables.eventsRaw)
      .option("maxFilesPerTrigger", 1).parquet(tmp.toString)
      .withColumn("ts", expr(s"timestamp_micros(ts DIV $tsDiv)"))
    val plan = Streams.runningPerUser(spark, stream)
    val q = plan.writeStream
      .format("memory").queryName("run_test").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // poll-with-deadline instead of processAllAvailable: stateful FMGWS
    // queries under AvailableNow process all data but may not terminate
    // (processing-time timeout keeps the query alive), and
    // processAllAvailable has been observed to wedge on them.
    val deadline = System.currentTimeMillis() + 180000
    while (spark.table("run_test").count() < 2000 &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(500)
    val out = spark.table("run_test")
    val total = out.count()
    // one emitted row per input event across both batches
    assert(total == 2000, s"got $total")
    // cumulative counter reaches 2x the per-user event count
    val batchCounts = etl.Tables.load(spark, dir, "events")
      .groupBy("user_id").count()
    val maxN = out.groupBy("user_id").agg(max("n").as("maxn"))
    val mismatches = maxN.join(batchCounts, "user_id")
      .filter(col("maxn") =!= col("count") * 2).count()
    q.stop()
    assert(mismatches == 0)
  }

  test("nearDupSuppress drops near-identical re-arrivals within watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = Streams.nearDupSuppress(df, "text", "ts").writeStream
      .format("memory").queryName("neardup_test").outputMode("append")
      .start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val doc = "the fast key order sort table scan merge part window"
    mem.addData((1L, t0, doc), (2L, t0, "completely different words here"))
    q.processAllAvailable()
    // identical text, new doc_id: same signature → suppressed
    mem.addData((3L, t0, doc))
    q.processAllAvailable()
    val ids = spark.table("neardup_test").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(1L, 2L), ids.toSeq.toString)
  }

  test("transformWithState running aggregate matches the FMGWS contract") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ev3")
    for (n <- Seq("a", "b"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        tmp.resolve(s"events_$n.parquet"))
    val tsDiv = etl.Tables.eventsTsDivisor(spark, dir)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(etl.Tables.eventsRaw)
        .option("maxFilesPerTrigger", 1).parquet(tmp.toString)
        .withColumn("ts", expr(s"timestamp_micros(ts DIV $tsDiv)"))
      val q = Streams.runningPerUserTws(spark, stream).writeStream
        .format("memory").queryName("tws_test").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val deadline = System.currentTimeMillis() + 180000
      while (spark.table("tws_test").count() < 2000 &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      val out = spark.table("tws_test")
      assert(out.count() == 2000)
      val batchCounts = etl.Tables.load(spark, dir, "events")
        .groupBy("user_id").count()
      val mismatches = out.groupBy("user_id").agg(max("n").as("maxn"))
        .join(batchCounts, "user_id")
        .filter(col("maxn") =!= col("count") * 2).count()
      q.stop()
      assert(mismatches == 0)
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  private def withRocksDb[T](body: => T): T = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try body
    finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  private def drainToTable(df: org.apache.spark.sql.Dataset[_],
      name: String, atLeast: Long): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val deadline = System.currentTimeMillis() + 180000
    while (spark.table(name).count() < atLeast &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(500)
    q.stop()
  }

  test("TTL session state: gap opens a successor, closed session emitted") {
    import spark.implicits._
    // one file => one micro-batch holding each user's full history, so
    // every session except a user's last is closed and emitted; their
    // (user, start) pairs must match the batch gaps-and-islands answer
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      tmp.resolve("events.parquet"))
    val tsDiv = etl.Tables.eventsTsDivisor(spark, dir)
    withRocksDb {
      val stream = spark.readStream.schema(etl.Tables.eventsRaw)
        .option("maxFilesPerTrigger", 1).parquet(tmp.toString)
        .withColumn("ts", expr(s"timestamp_micros(ts DIV $tsDiv)"))
      drainToTable(Streams.sessionsTtl(spark, stream), "sess_ttl", 1)
      val out = spark.table("sess_ttl")
      assert(out.count() > 0, "no closed sessions emitted")
      // every closed session respects the gap invariant internally
      assert(out.filter(col("last_ms") < col("start_ms")).count() == 0)
      assert(out.filter(col("n") < 1).count() == 0)
      // closed sessions agree with the batch gaps-and-islands answer:
      // each (user, start) emitted must exist in e_session's output
      val batch = graft.ops.Events.queries("e_session")(spark, dir)
        .select(col("user_id"),
          (col("session_start").cast("double") * 1000).cast("long")
            .as("start_ms"))
      val unmatched = out.select("user_id", "start_ms").distinct()
        .join(batch, Seq("user_id", "start_ms"), "left_anti").count()
      assert(unmatched == 0,
        s"$unmatched closed sessions not in the batch answer")
    }
  }

  test("initial-state bootstrap: stream continues from the batch snapshot") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-boot")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      tmp.resolve("events.parquet"))
    val tsDiv = etl.Tables.eventsTsDivisor(spark, dir)
    withRocksDb {
      // snapshot: pretend history already counted 100 events / 500.0 value
      // per user for every user in the table
      val snapshot = etl.Tables.load(spark, dir, "events")
        .select(col("user_id")).distinct()
        .select(col("user_id"), lit(100L).as("n"), lit(500.0).as("total"))
        .as[Streams.UserRunning]
      val stream = spark.readStream.schema(etl.Tables.eventsRaw)
        .option("maxFilesPerTrigger", 1).parquet(tmp.toString)
        .withColumn("ts", expr(s"timestamp_micros(ts DIV $tsDiv)"))
      drainToTable(
        Streams.runningPerUserBootstrapped(spark, stream, snapshot),
        "boot_test", 1000)
      val out = spark.table("boot_test")
      assert(out.count() == 1000)
      // final n per user = snapshot 100 + that user's streamed events
      val batchCounts = etl.Tables.load(spark, dir, "events")
        .groupBy("user_id").count()
      val mismatches = out.groupBy("user_id").agg(max("n").as("maxn"))
        .join(batchCounts, "user_id")
        .filter(col("maxn") =!= col("count") + 100).count()
      assert(mismatches == 0, "bootstrap state not carried into the stream")
    }
  }

  test("band-level evidence flags sub-identity near-dups") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-band")
    // batch 1: original docs; batch 2: one exact copy (all bands match)
    // and one fresh doc (no bands match)
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(tmp.resolve("b1").toString)
    Seq((3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "totally different words with no overlap at all whatsoever"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(tmp.resolve("b2").toString)
    withRocksDb {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(tmp.toString)
      drainToTable(
        Streams.bandDupEvidence(spark, stream, "text", "doc_id"),
        "band_test", 16)
      val verdict = Streams
        .bandSuppressVerdict(spark.table("band_test"), minBands = 4)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(!verdict(1L) && !verdict(2L), "originals must survive")
      assert(verdict(3L), "exact re-arrival must be suppressed")
      assert(!verdict(4L), "fresh doc must survive")
    }
  }

  test("one-query band suppression: verdicts inside foreachBatch") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-band2")
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(tmp.resolve("b1").toString)
    Seq((3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "totally different words with no overlap at all whatsoever"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(tmp.resolve("b2").toString)
    val out = tmp.resolve("verdicts").toString
    withRocksDb {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(tmp.toString)
      val q = Streams.bandSuppressionQuery(spark, stream, "text",
        "doc_id", minBands = 4,
        sink = df => df.write.mode("append").parquet(out))
      q.awaitTermination(180000)
      val verdict = spark.read.parquet(out)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(verdict.size == 4)
      assert(!verdict(1L) && !verdict(2L) && !verdict(4L))
      assert(verdict(3L), "cross-batch re-arrival must be suppressed")
    }
  }

  test("stream-static contamination gate equals the batch t_contam") {
    // Online form of the eval-leakage pass: documents stream, benchmark
    // n-grams static+broadcast, per-doc verdicts folded in foreachBatch.
    // Parity contract: the drained gate must produce EXACTLY the batch
    // t_contam answer on the same corpus.
    val docsB = etl.Tables.load(spark, dir, "documents")
    val grams4 = {
      val w = split(col("text"), " ")
      array_distinct(transform(
        sequence(lit(1), greatest(size(w) - 3, lit(1))),
        i => concat_ws(" ", slice(w, i, lit(4)))))
    }
    val benchGrams = docsB.filter(col("doc_id") % 97 === 0)
      .select(explode(grams4).as("ng")).distinct()
    val out = java.nio.file.Files.createTempDirectory("graft-contam")
      .resolve("v").toString
    val stream = Streams.documentsStream(spark, dir)
      .filter(col("doc_id") % 97 =!= 0)
    val q = Streams.contamGateQuery(spark, stream, benchGrams,
      "text", "doc_id",
      sink = df => df.write.mode("append").parquet(out))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(out)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.ops.Text.queries("t_contam")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.nonEmpty, "expected contaminated docs in the fixture")
    assert(streamed == batch,
      s"gate=${streamed.toSeq.sorted} batch=${batch.toSeq.sorted}")
  }

  test("stream-stream interval join equals the batch formulation") {
    val stream = Streams.eventsStream(spark, dir)
    val q = Streams.clickToPurchase(stream).writeStream
      .format("memory").queryName("ssj_test").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val streamed = spark.table("ssj_test")
    // batch twin: same join over the batch read
    val ev = etl.Tables.load(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("interval 1 hour"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
    assert(batch.count() > 0)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("ivmLeftJoinBatch: first-match retraction of a null-padded row; " +
      "persistent nulls survive; retry leaves the view unchanged") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ivm_left")
    val base = tmp.resolve("ivml").toString
    def A(rows: (Long, Long)*) = rows.toSeq.toDF("ok", "ck")
    def B(rows: (Long, String)*) = rows.toSeq.toDF("ck2", "nm")
    // batch 0: order 1→cust 10 matched; order 2→cust 20 UNMATCHED
    // (null-padded); order 3→cust 30 unmatched FOREVER (persistent)
    Streams.ivmLeftJoinBatch(A((1L, 10L), (2L, 20L), (3L, 30L)),
      B((10L, "a")), base, 0L, "ck", "ck2")
    def view() = Streams.readMaintained(spark, s"$base/view")
      .groupBy("ok", "ck", "ck2", "nm").agg(sum("sign").as("m"))
      .filter(col("m") > 0)
      .select("ok", "ck", "ck2", "nm")
      .as[(Long, Long, Option[Long], Option[String])].collect().toSet
    assert(view() == Set(
      (1L, 10L, Some(10L), Some("a")),
      (2L, 20L, None, None),
      (3L, 30L, None, None)))
    // batch 1: cust 20 ARRIVES — order 2's null row must retract and
    // its inner pair appear; order 4→cust 20 is ΔA⋈ΔB; order 3 stays
    // null-padded (no batch ever brings cust 30)
    val b1a = A((4L, 20L))
    val b1b = B((20L, "b"))
    Streams.ivmLeftJoinBatch(b1a, b1b, base, 1L, "ck", "ck2")
    val expected = Set(
      (1L, 10L, Some(10L), Some("a")),
      (2L, 20L, Some(20L), Some("b")),
      (4L, 20L, Some(20L), Some("b")),
      (3L, 30L, None, None))
    assert(view() == expected,
      "first-match retraction or a delta term failed")
    // the raw log must actually CONTAIN the signed retraction (not
    // reach the right answer some other way)
    val raw = Streams.readMaintained(spark, s"$base/view")
      .as[(Long, Long, Option[Long], Option[String], Int)]
      .collect().toSet
    assert(raw.contains((2L, 20L, None, None, -1)),
      "expected an explicit -1 retraction of order 2's null pad")
    // byte-exact retry of batch 1: all three tables unchanged
    Streams.ivmLeftJoinBatch(b1a, b1b, base, 1L, "ck", "ck2")
    assert(view() == expected, "retried batch changed the netted view")
  }

  test("compactMaintainedBelow: online compaction with interleaved " +
      "appends — set identity at every step; crash publish recovers") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("compact_online")
    val path = tmp.resolve("tbl").toString
    def bdf(vs: Long*) = vs.toSeq.toDF("v")
    def contents() = Streams.readMaintained(spark, path)
      .as[Long].collect().toSet
    def dirs() = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    Streams.appendBatch(bdf(1L, 2L), path, 0L)
    Streams.appendBatch(bdf(3L), path, 1L)
    // a batch BEYOND the horizon has landed concurrently — the online
    // contract: compaction must consolidate {0,1} and leave it alone
    Streams.appendBatch(bdf(4L), path, 2L)
    Streams.compactMaintainedBelow(spark, path, horizon = 1L)
    assert(contents() == Set(1L, 2L, 3L, 4L))
    assert(dirs() == Set("batch=-1", "batch=2"),
      s"expected consolidated prefix + untouched live batch, got ${dirs()}")
    // appends continue against the compacted layout
    Streams.appendBatch(bdf(5L), path, 3L)
    assert(contents() == Set(1L, 2L, 3L, 4L, 5L))
    // second round consolidates the prior segment too (maxAbs grows)
    Streams.compactMaintainedBelow(spark, path, horizon = 3L)
    assert(contents() == Set(1L, 2L, 3L, 4L, 5L))
    assert(dirs() == Set("batch=-3"), s"got ${dirs()}")
    // crash mid-publish: consolidated segment landed, one source not
    // yet retired — readers see duplicates until recovery replays the
    // intent file that rode inside the segment
    Streams.appendBatch(bdf(6L), path, 4L)
    Streams.appendBatch(bdf(7L), path, 5L)
    Streams.compactMaintainedBelow(spark, path, horizon = 5L)
    assert(dirs() == Set("batch=-5"))
    val seg = new java.io.File(path, "batch=-5")
    val resurrect = new java.io.File(path, "batch=4")
    // simulate the crash window by recreating a consumed source and
    // re-arming the intent (the file was cleared on clean completion)
    Streams.appendBatch(bdf(6L), path, 4L)
    java.nio.file.Files.write(
      new java.io.File(seg, "_graft_compact_sources").toPath,
      "batch=-3\nbatch=4\nbatch=5\nbatch=-5".getBytes("UTF-8"))
    assert(resurrect.exists())
    Streams.recoverCompaction(path)
    assert(dirs() == Set("batch=-5"),
      "recovery must retire the surviving consumed source")
    assert(contents() == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    // no-op guards: single-dir table and empty-horizon both return
    Streams.compactMaintainedBelow(spark, path, horizon = 100L)
    assert(contents() == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
  }

  test("compactMaintainedBelow: concurrent with a LIVE appendMaintain " +
      "stream — final contents set-identical to the batch build") {
    // the genuinely-concurrent smoke: compaction fires from the test
    // thread while the 2-batch replay stream is appending; whatever
    // the interleaving, no append is lost and no row duplicates,
    // because compaction only touches ids <= the horizon observed
    // BEFORE the stream started its next batch
    import spark.implicits._
    val docs = etl.Tables.load(spark, dir, "documents")
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val cut = maxId / 2
    val tmp = java.nio.file.Files.createTempDirectory("compact_live")
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val stage = tmp.resolve(s"stage_$name").toString
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, tmp.resolve(name))
      ()
    }
    writeOne(docs.filter(col("doc_id") < cut), "a_docs.parquet")
    writeOne(docs.filter(col("doc_id") >= cut), "b_docs.parquet")
    val stream = spark.readStream.schema(etl.Tables.documents)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*_docs.parquet")
      .parquet(tmp.toString)
    val idxPath = tmp.resolve("idx").toString
    val q = Streams.appendMaintain(stream, idxPath)(
      b => b.select("doc_id", "lang"))
    // poke compaction while the stream runs: horizon = whatever id a
    // COMPLETED progress event has reported so far (committed by the
    // time the next batch starts; AvailableNow drains fast, so most
    // calls see <=1 eligible dir and no-op — the race-freedom, not the
    // compaction yield, is what this test is for)
    while (q.isActive) {
      val committed = q.recentProgress.map(_.batchId)
      if (committed.nonEmpty)
        Streams.compactMaintainedBelow(spark, idxPath, committed.max - 1)
      Thread.sleep(50)
    }
    assert(q.awaitTermination(180000), "append sink must drain")
    // and one final offline pass for determinism of the layout check
    Streams.compactMaintainedBelow(spark, idxPath, Long.MaxValue)
    val got = Streams.readMaintained(spark, idxPath)
    val want = docs.select("doc_id", "lang")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 &&
      want.exceptAll(got).count() == 0,
      "online compaction lost or duplicated an appended row")
  }

  test("topkBatch: semilattice merge equals the one-shot top-k for " +
      "any split; retry is a marker-guarded no-op") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("topk_maint")
    val statePath = tmp.resolve("topk").toString
    val order = Seq(desc("v"), asc("id"))
    // group A's final top-2 straddles the batches; group B's batch-2
    // rows all lose — the merge must both ADMIT and REJECT across state
    val b1 = Seq(("A", 10, 1L), ("A", 8, 2L), ("A", 7, 3L),
      ("B", 5, 4L), ("B", 4, 5L)).toDF("g", "v", "id")
    val b2 = Seq(("A", 9, 6L), ("B", 1, 7L), ("B", 2, 8L))
      .toDF("g", "v", "id")
    Streams.topkBatch(b1, statePath, "g", 2, order, 0L)
    Streams.topkBatch(b2, statePath, "g", 2, order, 1L)
    def state() = Streams.readGenMaintained(spark, statePath)
      .as[(String, Int, Long)].collect().toSet
    val expected = Set(("A", 10, 1L), ("A", 9, 6L),
      ("B", 5, 4L), ("B", 4, 5L))
    assert(state() == expected,
      "maintained top-k diverged from the one-shot top-k")
    // tie on v must break on id ASC — the total order the semilattice
    // identity depends on
    Streams.topkBatch(Seq(("B", 5, 3L)).toDF("g", "v", "id"),
      statePath, "g", 2, order, 2L)
    assert(state() == Set(("A", 10, 1L), ("A", 9, 6L),
      ("B", 5, 3L), ("B", 5, 4L)))
    // redelivery: the committed marker must skip the duplicate
    Streams.topkBatch(Seq(("B", 5, 3L)).toDF("g", "v", "id"),
      statePath, "g", 2, order, 2L)
    assert(state() == Set(("A", 10, 1L), ("A", 9, 6L),
      ("B", 5, 3L), ("B", 5, 4L)))
    assert(Streams.lastAppliedBatchGen(statePath).contains(2L))
  }

  test("minmaxBatch: survivor rewind under extreme deletions; " +
      "non-survivor deletes don't debit; retry no-op") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("minmax_maint")
    val statePath = tmp.resolve("mm").toString
    def batch(rows: Seq[(String, Double, Long, Int)], id: Long): Unit =
      Streams.minmaxBatch(rows.toDF("g", "v", "id", "sign"), statePath,
        Seq("g"), "v", "id", k = 3, id)
    def state() = Streams.readGenMaintained(spark, statePath)
      .select(col("g"), element_at(col("lo"), 1).getField("v"),
        element_at(col("hi"), size(col("hi"))).getField("v"),
        col("dlo"), col("dhi"), col("n"))
      .as[(String, Double, Double, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    batch((1 to 10).map(i => ("A", i.toDouble, i.toLong, 1)), 0L)
    assert(state()("A") == (1.0, 10.0, 0L, 0L, 10L))
    // delete the current MIN and MAX (both survivors) while inserting
    // new extremes — both sides must rewind through the survivor lists
    batch(Seq(("A", 1.0, 1L, -1), ("A", 10.0, 10L, -1),
      ("A", 0.5, 11L, 1), ("A", 20.0, 12L, 1)), 1L)
    assert(state()("A") == (0.5, 20.0, 1L, 1L, 10L),
      "extreme deletion must debit the covered prefix exactly once " +
        "per matched survivor")
    // a delete OUTSIDE both survivor windows (value 5, rank 4 from
    // either end at k=3) decrements n but debits neither counter
    batch(Seq(("A", 5.0, 5L, -1)), 2L)
    assert(state()("A") == (0.5, 20.0, 1L, 1L, 9L))
    // redelivery: the committed marker must skip the duplicate
    batch(Seq(("A", 5.0, 5L, -1)), 2L)
    assert(state()("A") == (0.5, 20.0, 1L, 1L, 9L))
    assert(Streams.lastAppliedBatchGen(statePath).contains(2L))
  }

  test("minmaxBatch: full-knowledge reset self-heals one side; " +
      "exhausting the k-window fails loudly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("minmax_reset")
    val statePath = tmp.resolve("mm").toString
    def batch(rows: Seq[(String, Double, Long, Int)], id: Long): Unit =
      Streams.minmaxBatch(rows.toDF("g", "v", "id", "sign"), statePath,
        Seq("g"), "v", "id", k = 3, id)
    batch((1 to 5).map(i => ("A", i.toDouble, i.toLong, 1)), 0L)
    batch(Seq(("A", 1.0, 1L, -1)), 1L)            // dlo -> 1
    // deleting 4 and 5 shrinks the group to {2,3}: the lo candidate
    // set now EQUALS the live group (cc == n), so dlo resets to 0 —
    // while the hi side (candidates {3} ⊂ {2,3}) keeps its debit of 2.
    // The per-side independence is the point: resets are provable full
    // knowledge, never a blanket amnesty.
    batch(Seq(("A", 4.0, 4L, -1), ("A", 5.0, 5L, -1)), 2L)
    val st = Streams.readGenMaintained(spark, statePath)
      .select(col("dlo"), col("dhi"), col("n"),
        element_at(col("lo"), 1).getField("v"),
        element_at(col("hi"), size(col("hi"))).getField("v"))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(st == (0L, 2L, 2L, 2.0, 3.0),
      s"expected lo reset + hi debit, got $st")
    // a third hi-survivor deletion would make dhi = 3 = k with live
    // rows the state cannot see — the disclosed contract must refuse
    val ex = intercept[IllegalArgumentException] {
      batch(Seq(("A", 3.0, 3L, -1)), 3L)
    }
    assert(ex.getMessage.contains("survivor window"),
      s"wrong failure: ${ex.getMessage}")
  }

  test("hllBatch: cross-batch union counts overlapping keys ONCE; " +
      "retry is a marker-guarded no-op") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hll_maint")
    val statePath = tmp.resolve("hll").toString
    // 600 distinct keys, every batch carries HALF the keyspace with a
    // 200-key OVERLAP — a re-sum merge would report ~800, the union
    // must stay within the sketch bound of 600 (the non-additivity
    // point of the sink)
    val b1 = (1 to 400).map(i => s"k$i").toDF("k")
    val b2 = (201 to 600).map(i => s"k$i").toDF("k")
    Streams.hllBatch(b1, "k", statePath, 12, 0L)
    Streams.hllBatch(b2, "k", statePath, 12, 1L)
    def state() = Streams.readGenMaintained(spark, statePath)
      .select(col("n"), hll_sketch_estimate(col("hll")).as("est"))
      .as[(Long, Long)].head()
    val (n, est) = state()
    assert(n == 800L, "n tracks ROWS seen (additive), not distincts")
    assert(math.abs(est - 600L) <= 0.05 * 600,
      s"union estimate $est outside 5% of 600 true distincts")
    // redelivery of the last batch: the committed marker must skip it
    // (a blind re-union would be harmless for the sketch but n would
    // double-count — the marker protects both)
    Streams.hllBatch(b2, "k", statePath, 12, 1L)
    assert(state() == ((n, est)), "retried batch changed the HLL state")
    assert(Streams.lastAppliedBatchGen(statePath).contains(1L))
  }

  test("gen GC depth knob: -Dgraft.gen.keep=3 keeps a slow reader's " +
      "generation alive across TWO pointer flips; keep<2 refuses") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gen_keep")
    val statePath = tmp.resolve("cnt").toString
    def put(id: Long): Unit =
      Streams.countBatch(Seq(1L).toDF("h"), "h", statePath, id)
    def gens(): Seq[Long] = Option(
        new java.io.File(statePath).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("gen="))
      .map(_.getName.stripPrefix("gen=").takeWhile(_.isDigit).toLong)
      .sorted.toSeq
    // default depth 2: after three publishes only {current, previous}
    // remain — one flip of reader grace
    put(0L); put(1L); put(2L)
    assert(gens() == Seq(1L, 2L), s"default GC kept ${gens()}")
    // keep=3: a reader resolves the pointer (gen=2), then TWO more
    // batches flip to gen=4 — the resolved generation must still be on
    // disk and scannable with its as-of contents (count 3 = batches
    // 0..2), which the default depth would have GC'd
    System.setProperty("graft.gen.keep", "3")
    try {
      val resolved = Streams.currentGenPath(statePath).get
      val slowReader = spark.read.parquet(resolved)
      put(3L); put(4L)
      assert(gens() == Seq(2L, 3L, 4L), s"keep=3 GC kept ${gens()}")
      assert(slowReader.as[(Long, Long)].collect().toMap ==
        Map(1L -> 3L),
        "slow reader's generation was GC'd or rewritten mid-scan")
      // the live pointer meanwhile serves the newest state
      assert(Streams.readGenMaintained(spark, statePath)
        .as[(Long, Long)].collect().toMap == Map(1L -> 5L))
    } finally System.clearProperty("graft.gen.keep")
    // keep=1 would delete the generation a just-resolved reader is
    // scanning — refused before any write happens
    System.setProperty("graft.gen.keep", "1")
    try {
      val ex = intercept[IllegalArgumentException] { put(5L) }
      assert(ex.getMessage.contains("graft.gen.keep"))
    } finally System.clearProperty("graft.gen.keep")
  }

  test("legacy staged-swap state refuses gen merges until migrated; " +
      "migrateToGenLayout carries state and marker forward") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gen_migrate")
    val statePath = tmp.resolve("cnt").toString
    // fabricate a staged-swap-era state dir: top-level parquet + the
    // in-dir batch marker, no pointer
    Seq((11L, 2L), (22L, 1L)).toDF("h", "cnt")
      .coalesce(1).write.parquet(statePath)
    java.nio.file.Files.write(
      new java.io.File(statePath, "_graft_last_batch").toPath,
      "0".getBytes)
    // a gen merge against it must refuse LOUDLY, not restart from zero
    val ex = intercept[IllegalArgumentException] {
      Streams.countBatch(Seq(22L).toDF("h"), "h", statePath, 1L)
    }
    assert(ex.getMessage.contains("migrateToGenLayout"),
      s"wrong failure: ${ex.getMessage}")
    // one-time migration: state becomes gen=0, pointer commits it,
    // the carried batch marker keeps the retry guard intact
    Streams.migrateToGenLayout(statePath)
    assert(Streams.currentGen(statePath).contains(0L))
    assert(Streams.lastAppliedBatchGen(statePath).contains(0L))
    def state() = Streams.readGenMaintained(spark, statePath)
      .as[(Long, Long)].collect().toMap
    assert(state() == Map(11L -> 2L, 22L -> 1L),
      "migration must carry the accumulated counts")
    // idempotent re-run is a no-op, and accumulation continues
    Streams.migrateToGenLayout(statePath)
    Streams.countBatch(Seq(22L).toDF("h"), "h", statePath, 1L)
    assert(state() == Map(11L -> 2L, 22L -> 2L))
    assert(Streams.lastAppliedBatchGen(statePath).contains(1L))
  }

  test("hllByKeyBatch: per-key union counts cross-batch repeats once, " +
      "single-side keys keep their sketch; retry no-op") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hllk_maint")
    val statePath = tmp.resolve("hk").toString
    // key A: 400 distincts split with a 200-value overlap (union must
    // say ~600, a re-sum would say 800); key B only in batch 1; key C
    // only in batch 2 — the full-outer merge must keep both verbatim
    val b1 = ((1 to 400).map(i => ("A", i.toLong)) ++
      (1 to 50).map(i => ("B", i.toLong))).toDF("g", "u")
    val b2 = ((201 to 600).map(i => ("A", i.toLong)) ++
      (1 to 70).map(i => ("C", i.toLong))).toDF("g", "u")
    Streams.hllByKeyBatch(b1, "g", "u", statePath, 12, 0L)
    Streams.hllByKeyBatch(b2, "g", "u", statePath, 12, 1L)
    def state() = Streams.readGenMaintained(spark, statePath)
      .select(col("key"), col("n"),
        hll_sketch_estimate(col("hll")).as("est"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val st = state()
    assert(st("A")._1 == 800L, "n tracks rows (additive)")
    assert(math.abs(st("A")._2 - 600L) <= 0.05 * 600,
      s"key A union estimate ${st("A")._2} outside 5% of 600")
    assert(st("B") == ((50L, 50L)) && st("C") == ((70L, 70L)),
      "single-side keys must pass through the full-outer merge verbatim")
    Streams.hllByKeyBatch(b2, "g", "u", statePath, 12, 1L)
    assert(state() == st, "retried batch changed the per-key HLL state")
    assert(Streams.lastAppliedBatchGen(statePath).contains(1L))
  }

  test("scd2LateBatch: a late event resurrects the change at a later " +
      "non-change event; retry of the last batch is exact") {
    // THE case the change-row log alone cannot handle (why the sink
    // keeps the full event history): history t1:A, t2:A retains only
    // (t1,A) — a late t1.5:B must both insert ITS change and resurrect
    // (t2,A), which was a non-change before. Also covers: late row
    // that is NOT a change (t0.5:A before t1:A... after), and an
    // in-order user flowing through the fast path in the same batch.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("scd2_late")
    val basePath = tmp.resolve("scd2l").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    def df(rows: (Long, String, Int, Long)*) = rows
      .map { case (u, t, m, id) => (u, t, ts(m), id) }
      .toDF("user_id", "event_type", "ts", "event_id")
    // batch 0: user 1 = t1:A, t2:A (non-change retained only in
    // events); user 2 = in-order control
    Streams.scd2LateBatch(
      df((1L, "A", 10, 100L), (1L, "A", 20, 101L),
        (2L, "X", 10, 200L)), basePath, 0L)
    def log() = Streams.readGenArtifact(spark, basePath, "log")
      .select("user_id", "event_type", "event_id")
      .as[(Long, String, Long)].collect().toSet
    assert(log() == Set((1L, "A", 100L), (2L, "X", 200L)))
    // batch 1: user 1 gets the LATE t1.5:B (late path: split +
    // resurrect); user 2 gets an in-order change (fast path)
    val b1 = df((1L, "B", 15, 102L), (2L, "Y", 20, 201L))
    Streams.scd2LateBatch(b1, basePath, 1L)
    val expected = Set((1L, "A", 100L), (1L, "B", 102L),
      (1L, "A", 101L), // the resurrected change at the non-change event
      (2L, "X", 200L), (2L, "Y", 201L))
    assert(log() == expected)
    // foreachBatch redelivery of the same (batch, id): the mergeOnce
    // marker on the log must make the whole body a no-op
    Streams.scd2LateBatch(b1, basePath, 1L)
    assert(log() == expected, "retried late batch changed the log")
    assert(Streams.lastAppliedBatchGen(basePath).contains(1L))
    // the late rewrite must equal the global batch recompute — the
    // oracle identity, asserted here structurally on the full log
    val all = df((1L, "A", 10, 100L), (1L, "A", 20, 101L),
      (2L, "X", 10, 200L), (1L, "B", 15, 102L), (2L, "Y", 20, 201L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val recompute = all
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select("user_id", "event_type", "event_id")
      .as[(Long, String, Long)].collect().toSet
    assert(log() == recompute)
  }

  test("scd2LateBatch crash window: a half-written orphan generation " +
      "is invisible to readers and re-overwritten on retry; marks and " +
      "log flip together") {
    // the r14 atomicity claim under test: the multi-artifact commit
    // (marks + log) is ONE pointer rename. Simulate a crash that
    // landed AFTER the gen dir started materializing but BEFORE the
    // pointer flip — the worst interleaving for the old sequential
    // staged-swaps (marks committed, log not) — by fabricating an
    // orphan gen=1 carrying only a poisoned marks table. Readers must
    // keep resolving gen 0 for BOTH artifacts, and the retried batch
    // must overwrite the orphan wholesale.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("scd2_late_crash")
    val basePath = tmp.resolve("scd2l").toString
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    def df(rows: (Long, String, Int, Long)*) = rows
      .map { case (u, t, m, id) => (u, t, ts(m), id) }
      .toDF("user_id", "event_type", "ts", "event_id")
    Streams.scd2LateBatch(
      df((1L, "A", 10, 100L), (1L, "A", 20, 101L)), basePath, 0L)
    assert(Streams.currentGen(basePath).contains(0L))
    // fabricate the crashed attempt: orphan gen=1 with ONLY marks (a
    // poisoned watermark that would misclassify user 1 as in-order if
    // any reader ever resolved it)
    val orphanMarks = s"$basePath/gen=1/marks"
    Seq((1L, ts(99), 999L)).toDF("user_id", "mts", "mid")
      .select(col("user_id"),
        struct(col("mts").as("ts"), col("mid").as("event_id")).as("mark"))
      .write.parquet(orphanMarks)
    // pointer still at gen 0: both artifacts resolve pre-crash state
    assert(Streams.currentGen(basePath).contains(0L),
      "an uncommitted generation moved the pointer")
    assert(Streams.readGenArtifact(spark, basePath, "log")
      .count() == 1, "reader saw past the committed generation")
    assert(Streams.readGenArtifact(spark, basePath, "marks")
      .as[(Long, (java.sql.Timestamp, Long))].head()._2._2 == 101L,
      "reader resolved the orphan marks instead of the committed ones")
    // the foreachBatch retry redelivers batch 1: the late t1.5:B must
    // classify against the COMMITTED gen-0 marks (late path → split +
    // resurrect); the real publish lands in its own uniquely-named
    // gen-1 dir and the poisoned orphan stays unreferenced garbage
    Streams.scd2LateBatch(df((1L, "B", 15, 102L)), basePath, 1L)
    assert(Streams.currentGen(basePath).contains(1L))
    val logRows = Streams.readGenArtifact(spark, basePath, "log")
      .select("user_id", "event_type", "event_id")
      .as[(Long, String, Long)].collect().toSet
    assert(logRows == Set((1L, "A", 100L), (1L, "B", 102L),
      (1L, "A", 101L)),
      s"retry over the orphan generation produced $logRows")
    // atomic pair: the committed generation's marks were rebuilt from
    // gen 0 + the batch — the poisoned orphan mark (999) is invisible
    // through the pointer, and the watermark stays at the newest event
    // (101 — the late row is OLDER, so it must NOT advance the mark)
    assert(Streams.readGenArtifact(spark, basePath, "marks")
      .as[(Long, (java.sql.Timestamp, Long))].head()._2._2 == 101L,
      "retry absorbed the orphan marks instead of rebuilding from the " +
        "committed generation")
    // and both artifacts live inside the SAME committed gen dir (the
    // pointer-resolved one — NOT the fabricated orphan `gen=1`)
    val committed = Streams.currentGenPath(basePath).get
    assert(committed != s"$basePath/gen=1",
      "retry reused the crashed attempt's dir instead of a unique one")
    assert(new java.io.File(s"$committed/marks").isDirectory &&
      new java.io.File(s"$committed/log").isDirectory,
      "marks and log did not commit together in one generation")
    assert(Streams.lastAppliedBatchGen(basePath).contains(1L))
  }

  test("scd2LateBatch refuses pre-generation legacy state loudly") {
    // pre-r14 layout: top-level marks/ and log/ with no pointer.
    // Merging over it would silently restart the log from empty while
    // events/ keeps history — the guard must refuse with remediation.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("scd2_late_legacy")
    val basePath = tmp.resolve("scd2l").toString
    Seq((1L, "A")).toDF("user_id", "event_type")
      .write.parquet(s"$basePath/log")
    val ex = intercept[IllegalArgumentException] {
      Streams.scd2LateBatch(
        Seq((1L, "B", java.sql.Timestamp.valueOf("2024-01-01 00:01:00"),
          1L)).toDF("user_id", "event_type", "ts", "event_id"),
        basePath, 0L)
    }
    assert(ex.getMessage.contains("pre-generation"),
      s"legacy guard fired without remediation text: ${ex.getMessage}")
  }

  test("quantileBatch: cross-batch merge keeps the carried bound " +
      "against the WHOLE prefix; retry is a marker-guarded no-op") {
    import graft.functions.{QSketch, QuantileSketch => QS}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("qsk_maint")
    val statePath = tmp.resolve("qsk").toString
    val rnd = new scala.util.Random(5)
    val all = Seq.fill(6000)(("g", rnd.nextDouble() * 100.0))
    val (h1, h2) = all.splitAt(3000)
    Streams.quantileBatch(h1.toDF("k", "v"), "k", "v", statePath, 64, 0L)
    Streams.quantileBatch(h2.toDF("k", "v"), "k", "v", statePath, 64, 1L)
    def state(): (String, QSketch) =
      Streams.readGenMaintained(spark, statePath)
        .select("key", "qs").as[(String, QSketch)].head()
    val (key, merged) = state()
    assert(key == "g" && merged.n == all.length)
    // the stored err bound must hold against the FULL stream prefix —
    // the mergeable-summaries claim, checked by brute force
    val xs = all.map(_._2)
    for (p <- Seq(0.1, 0.5, 0.9)) {
      val est = QS.quantile(merged, p)
      val b = QS.rankErrorBound(merged)
      assert(xs.count(_ < est) + 1 <= p * xs.length + b)
      assert(xs.count(_ <= est) >= p * xs.length - b)
    }
    // redelivery of the last batch: the mergeOnce marker must skip it
    Streams.quantileBatch(h2.toDF("k", "v"), "k", "v", statePath, 64, 1L)
    assert(state()._2 == merged,
      "retried batch re-merged into the quantile state")
    assert(Streams.lastAppliedBatchGen(statePath).contains(1L))
  }

  test("bulk-job lifecycle: stop() maps to Aborted semantics") {
    val stream = Streams.eventsStream(spark, dir)
    val q = stream.writeStream.format("memory").queryName("abort_test")
      .outputMode("append").start()
    assert(q.isActive) // InProgress
    q.stop() // Aborted
    assert(!q.isActive)
  }

  test("readState: every generation sink's footer schema equals the " +
      "inferred one after a two-batch replay, zero-row state included; " +
      "a footer Spark did not write falls back to inference") {
    import org.apache.spark.sql.types._
    val (raw, tsDiv, msUnits) = rawEvents
    val tsSorted = raw.select("ts").orderBy("ts").collect().map(_.getLong(0))
    val cut = (tsSorted(tsSorted.length / 2) / msUnits) * msUnits
    def toTs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", expr(s"timestamp_micros(ts DIV $tsDiv)"))
    val halves = Seq(raw.filter(col("ts") < cut), raw.filter(col("ts") >= cut))
    // state outside the replay's source dir: each query re-lists it
    val st = java.nio.file.Files.createTempDirectory("footer_parity")
      .toString
    def path(n: String) = s"$st/$n"
    // the sinks with no factored batch body run as two-batch streams
    val (_, events) = ops.Replay.twoBatchStream(spark, "spec_footer_parity",
      dir, etl.Tables.eventsRaw, "events", halves(0), halves(1))
    val ev = toTs(events)
    def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      assert(q.awaitTermination(180000), "foreachBatch query must terminate")
      assert(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches")
    }
    drain(Streams.rollupMaintain(ev, path("rollup")))
    drain(Streams.rollupSignedMaintain(ev.withColumn("sign", lit(1)),
      path("rollupSigned")))
    drain(Streams.latestMaintain(ev, path("latest"), "user_id", "ts",
      Seq("event_id")))
    drain(Streams.scd2Maintain(ev, path("scd2")))
    for ((half, i) <- halves.map(toTs).zipWithIndex) {
      val id = i.toLong
      val signed = half.withColumn("sign",
        when(col("event_id") % 5 === 0, -1).otherwise(1))
      Streams.countBatch(half, "event_type", path("count"), id)
      Streams.sumsBatch(half.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(38,2)")).cast("decimal(38,2)")
              .as("sv")),
        Seq("event_type"), Seq("n", "sv"), path("sums"), id)
      Streams.topkBatch(half, path("topk"), "event_type", 3,
        Seq(col("value").desc, col("event_id").asc), id)
      Streams.minmaxBatch(half.withColumn("sign", lit(1)), path("minmax"),
        Seq("event_type"), "value", "event_id", 4, id)
      Streams.heavyHittersBatch(half, "event_type", path("hh"), 5, id)
      Streams.countMinBatch(half, "event_type", path("cm"), 64, id)
      Streams.hllBatch(half, "user_id", path("hll"), 12, id)
      Streams.hllByKeyBatch(half, "event_type", "user_id", path("hllByKey"),
        12, id)
      Streams.quantileBatch(half, "event_type", "value", path("quantile"),
        32, id)
      Streams.tdigestBatch(half, "event_type", "value", path("tdigest"), 50,
        id)
      Streams.tdigestSignedBatch(signed, "event_type", "value",
        path("tdigestSigned"), 50, id)
      Streams.ivmJoinAggBatch(half.select("event_id", "user_id", "value"),
        half.select(col("event_id").as("eid"), col("event_type")),
        path("ivm"), id, "event_id", "eid", Seq("event_type"), "value")
      Streams.ivmDistinctBatch(half.withColumn("sign", lit(1)),
        path("distinct"), id, Seq("event_type"), "sign")
      Streams.scd2LateBatch(half, path("scd2Late"), id)
    }
    Streams.vacuumMaintained(spark, path("count"),
      col("event_type") =!= "view")
    // a merge that leaves zero rows: retract every row of both batches
    Streams.ivmDistinctBatch(toTs(raw).withColumn("sign", lit(-1)),
      path("distinct"), 2L, Seq("event_type"), "sign")
    def gen(n: String) = Streams.currentGenPath(path(n)).getOrElse(
      fail(s"$n committed no generation"))
    val dirs = Seq("rollup", "rollupSigned", "latest", "scd2", "count",
        "sums", "topk", "minmax", "hh", "cm", "hll", "hllByKey", "quantile",
        "tdigest", "tdigestSigned", "ivm/agg", "distinct/counts")
      .map(n => n -> gen(n)) ++
      Seq("marks", "log").map(a => s"scd2Late/$a" -> s"${gen("scd2Late")}/$a")
    for ((n, p) <- dirs :+
        ("ivm/view/batch=1" -> path("ivm/view/batch=1"))) {
      val frozen = Streams.readState(spark, p)
      val inferred = spark.read.parquet(p)
      assert(frozen.schema == inferred.schema,
        s"$n: footer ${frozen.schema.simpleString} vs inferred " +
          inferred.schema.simpleString)
      assert(frozen.count() == inferred.count(), n)
    }
    assert(Streams.lastAppliedBatchGen(path("count")).contains(1L),
      "the vacuum must carry the batch marker")
    assert(Streams.readState(spark, gen("distinct/counts")).count() == 0)
    def typeOf(n: String, c: String): DataType =
      Streams.readState(spark, gen(n)).schema(c).dataType
    assert(typeOf("sums", "sv") == DecimalType(38, 2))
    assert(typeOf("tdigest", "td").isInstanceOf[StructType])
    assert(typeOf("hh", "mg").isInstanceOf[MapType])
    assert(typeOf("cm", "grid").isInstanceOf[ArrayType])
    assert(typeOf("hll", "hll") == BinaryType)
    // a DuckDB-written footer carries no Spark row schema: the reader
    // must take the inferring path, not guess
    val duck = java.nio.file.Files.createTempDirectory("footer_duck")
    java.nio.file.Files.copy(
      getClass.getResourceAsStream("/graft/duckdb_state.parquet"),
      duck.resolve("part-0.parquet"))
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(duck.resolve("part-0.parquet").toString),
        new org.apache.hadoop.conf.Configuration()))
    val kv = try rdr.getFooter.getFileMetaData.getKeyValueMetaData
      finally rdr.close()
    assert(!kv.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    val duckRead = Streams.readState(spark, duck.toString)
    assert(duckRead.schema == spark.read.parquet(duck.toString).schema)
    assert(duckRead.schema("sv").dataType == DecimalType(38, 2))
    assert(duckRead.count() == 3)
  }

  test("merge combinator sinks: batch 0 then batch 1; a redelivered " +
      "batch 1 leaves the pointer and the rows unchanged; a merge into " +
      "existing state runs no more jobs than before the combinators") {
    // One table over every sink that commits through the keyed-fold or
    // the one-row-sketch combinator. The four sinks with no factored
    // batch body run as two-batch streams on a persistent checkpoint;
    // their redelivery drops commits/1 and restarts, as a crash after
    // the pointer flip would. Job bounds: measured per merge into
    // existing state before the combinators existed, except ivmJoinAgg
    // (20 then): its view delta is now read with its footer schema,
    // which drops Spark's schema-inference job. A count over its bound
    // is re-measured on fresh state (leastOfThree).
    import org.apache.spark.sql.DataFrame
    val (raw, tsDiv, msUnits) = rawEvents
    val tsSorted = raw.select("ts").orderBy("ts").collect().map(_.getLong(0))
    val cut = (tsSorted(tsSorted.length / 2) / msUnits) * msUnits
    def toTs(df: DataFrame) =
      df.withColumn("ts", expr(s"timestamp_micros(ts DIV $tsDiv)"))
    val halves = Seq(raw.filter(col("ts") < cut), raw.filter(col("ts") >= cut))
      .map(toTs)
    // state and checkpoints outside the replay's source dir: a
    // restarted file source re-lists it
    val st = java.nio.file.Files.createTempDirectory("combinator_sinks")
      .toString
    def rows(statePath: String): Seq[String] =
      Streams.readGenMaintained(spark, statePath).toJSON.collect().sorted
        .toSeq
    def unchangedOnRetry(name: String, statePath: String)(
        retry: => Unit): Unit = {
      val ptr = Streams.currentGenPath(statePath)
      val before = rows(statePath)
      retry
      assert(Streams.currentGenPath(statePath) == ptr,
        s"$name: the redelivered batch committed a new generation")
      assert(rows(statePath) == before, s"$name: the redelivered batch " +
        "changed the rows")
      assert(Streams.lastAppliedBatchGen(statePath).contains(1L), name)
    }
    val measured = Seq.newBuilder[(String, Int, Int)]
    val keyed = Seq.newBuilder[(String, String)] // (name, state path)
    // (name, jobs per merge before the combinators, state subdir, apply)
    val direct: Seq[(String, Int, String, (DataFrame, String, Long) => Unit)] =
      Seq(
        ("count", 3, "", (b, p, id) =>
          Streams.countBatch(b, "event_type", p, id)),
        ("sums", 3, "", (b, p, id) => Streams.sumsBatch(
          b.groupBy("event_type").agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(38,2)")).cast("decimal(38,2)")
              .as("sv")),
          Seq("event_type"), Seq("n", "sv"), p, id)),
        ("topk", 3, "", (b, p, id) => Streams.topkBatch(b, p, "event_type",
          3, Seq(col("value").desc, col("event_id").asc), id)),
        ("hllByKey", 3, "", (b, p, id) => Streams.hllByKeyBatch(b,
          "event_type", "user_id", p, 12, id)),
        ("quantile", 3, "", (b, p, id) => Streams.quantileBatch(b,
          "event_type", "value", p, 32, id)),
        ("tdigest", 3, "", (b, p, id) => Streams.tdigestBatch(b,
          "event_type", "value", p, 50, id)),
        ("tdigestSigned", 4, "", (b, p, id) => Streams.tdigestSignedBatch(
          b.withColumn("sign",
            when(col("event_id") % 5 === 0, -1).otherwise(1)),
          "event_type", "value", p, 50, id)),
        ("ivmJoinAgg", 19, "/agg", (b, p, id) => Streams.ivmJoinAggBatch(
          b.select("event_id", "user_id", "value"),
          b.select(col("event_id").as("eid"), col("event_type")),
          p, id, "event_id", "eid", Seq("event_type"), "value")),
        ("hh", 4, "", (b, p, id) => Streams.heavyHittersBatch(b,
          "event_type", p, 5, id)),
        ("cm", 4, "", (b, p, id) => Streams.countMinBatch(b, "event_type",
          p, 64, id)),
        ("hll", 4, "", (b, p, id) => Streams.hllBatch(b, "user_id", p, 12,
          id)))
    for ((name, bound, sub, apply) <- direct) {
      val base = s"$st/$name"
      val statePath = base + sub
      // a re-measured merge runs into state of its own
      val jobs = leastOfThree(bound) { i =>
        val b = if (i == 0) base else s"$st/${name}_$i"
        apply(halves(0), b, 0L)
        jobsOf(apply(halves(1), b, 1L))
      }
      measured += ((name, jobs, bound))
      unchangedOnRetry(name, statePath)(apply(halves(1), base, 1L))
      if (!Set("hh", "cm", "hll")(name)) keyed += ((name, statePath))
    }
    val (_, events) = ops.Replay.twoBatchStream(spark, "spec_combinators",
      dir, etl.Tables.eventsRaw, "events", raw.filter(col("ts") < cut),
      raw.filter(col("ts") >= cut))
    val ev = toTs(events)
    val streamed: Seq[(String, Int,
        (String, String) => org.apache.spark.sql.streaming.StreamingQuery)] =
      Seq(
        ("rollup", 3, (p, chk) => Streams.rollupMaintain(ev, p, Some(chk))),
        ("rollupSigned", 3, (p, chk) => Streams.rollupSignedMaintain(
          ev.withColumn("sign", lit(1)), p, Some(chk))),
        ("latest", 3, (p, chk) => Streams.latestMaintain(ev, p, "user_id",
          "ts", Seq("event_id"), Some(chk))),
        ("scd2", 4, (p, chk) => Streams.scd2Maintain(ev, p, Some(chk))))
    for ((name, bound, start) <- streamed) {
      val statePath = s"$st/$name"
      val chk = s"$st/${name}_chk"
      def drain(statePath: String, chk: String): Seq[Long] = {
        val q = start(statePath, chk)
        assert(q.awaitTermination(180000), s"$name: query must terminate")
        q.exception.foreach(e => throw e)
        q.recentProgress.map(_.batchId).toSeq
      }
      // a re-measured replay runs into state and a checkpoint of its own
      val jobs = leastOfThree(bound) { i =>
        val sfx = if (i == 0) "" else s"_$i"
        var ids = Seq.empty[Long]
        val jobs = jobsWhere(_.getProperty("streaming.sql.batchId") == "1") {
          ids = drain(statePath + sfx, chk + sfx)
        }
        assert(ids.contains(0L) && ids.contains(1L),
          s"$name: the replay must run batches 0 and 1, ran $ids")
        jobs
      }
      measured += ((name, jobs, bound))
      keyed += ((name, statePath))
      unchangedOnRetry(name, statePath) {
        Seq("1", ".1.crc").foreach(f =>
          new java.io.File(s"$chk/commits/$f").delete())
        assert(drain(statePath, chk).contains(1L),
          s"$name: batch 1 was not redelivered")
      }
    }
    val all = measured.result()
    info(all.map { case (n, j, b) => s"$n $j/$b" }.mkString(", "))
    val over = all.filter { case (_, j, b) => j > b }
    assert(over.isEmpty, s"jobs per merge above the bound: $over")
    // a keyed sink's state has one schema at every generation: gen 0
    // holds the first batch's partial, gen 1 the merge of it with batch 1
    def genTypes(statePath: String, gen: Int) = {
      val dir = new java.io.File(statePath).listFiles()
        .find(_.getName.startsWith(s"gen=$gen-"))
        .getOrElse(fail(s"no gen=$gen dir under $statePath")).getPath
      Streams.readState(spark, dir).schema.map(f => f.name -> f.dataType)
        .sortBy(_._1)
    }
    val drift = keyed.result().flatMap { case (name, statePath) =>
      val (g0, g1) = (genTypes(statePath, 0), genTypes(statePath, 1))
      if (g0 == g1) None else Some(s"$name: gen 0 $g0, gen 1 $g1")
    }
    assert(drift.isEmpty, s"generation-dependent state schema: $drift")
  }

  test("a sink merging into another sink's state fails with a named " +
      "cause: count-min over HLL state, sums over count state") {
    // Both merge shapes check the stored generation's columns against
    // the ones the sink writes before any typed decode or union —
    // otherwise the failure is an opaque analysis error far from the
    // misconfigured statePath.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("foreign_state")
    val keys = Seq("a", "b", "a").toDF("k")
    val hll = tmp.resolve("hll").toString
    Streams.hllBatch(keys, "k", hll, 12, 0L)
    val cm = intercept[IllegalArgumentException] {
      Streams.countMinBatch(keys, "k", hll, 64, 1L)
    }.getMessage
    for (part <- Seq(hll, "(n, hll)", "(n, grid)", "legacy layout",
        "delete the statePath"))
      assert(cm.contains(part), s"'$part' missing from: $cm")
    val cnt = tmp.resolve("cnt").toString
    Streams.countBatch(keys, "k", cnt, 0L)
    val sums = intercept[IllegalArgumentException] {
      Streams.sumsBatch(keys.groupBy("k").agg(count(lit(1)).as("n")),
        Seq("k"), Seq("n"), cnt, 1L)
    }.getMessage
    for (part <- Seq(cnt, "(k, cnt)", "(k, n)", "delete the statePath"))
      assert(sums.contains(part), s"'$part' missing from: $sums")
    // a refused merge commits nothing
    assert(Streams.lastAppliedBatchGen(hll).contains(0L))
    assert(Streams.lastAppliedBatchGen(cnt).contains(0L))
  }
}
