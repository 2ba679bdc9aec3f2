package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.{Bulk, Load}

/** ETL-surface queries (SURVEY §2.1 S3/S6/S7, load-side semantics):
  * bulk CSV extract round-trip, AnyType/JSON column evaluation,
  * multipicklist decode, load defaults, latest-record compaction.
  * Each is oracle-checked end-to-end against DuckDB.
  */
object Etl {

  val queries: Map[String, Q] = Map(

    // S3+S6: bulk CSV extract job round-trip — write orders as a COMMA/LF
    // CSV extract (the job format of response.rs:40-43), read it back with
    // the frozen schema, and prove losslessness against the parquet oracle.
    "s3_csv_roundtrip" -> ((s, d) => {
      // the sanitized name must NOT begin with "_" — Spark's file listing
      // treats _-prefixed paths as hidden metadata and silently ignores
      // them ("All paths were ignored"), turning the read-back into an
      // empty scan
      val path =
        s"/tmp/graft_csv_extract/x${d.replaceAll("[^0-9a-zA-Z.]", "_")}"
      Bulk.writeExtract(t(s, d, "orders"), path)
      val back = Bulk.readExtract(s, path, graft.etl.Tables.orders)
      require(!back.isEmpty, s"CSV extract read-back empty at $path")
      back
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // S6b: second columnar sink/source format — ORC round-trip with the
    // frozen schema plus a pushable predicate on read-back (ORC carries
    // stripe-level min/max like parquet row groups, so the same layout
    // levers apply). The extract surface is format-pluggable: CSV for
    // the reference's Bulk-API wire shape, parquet as the lake default,
    // ORC where the downstream warehouse prefers it.
    "s6_orc_roundtrip" -> ((s, d) => {
      val path =
        s"/tmp/graft_orc_extract/x${d.replaceAll("[^0-9a-zA-Z.]", "_")}"
      t(s, d, "orders").write.mode("overwrite").orc(path)
      s.read.schema(graft.etl.Tables.orders).orc(path)
        .filter(col("o_totalprice") > 1000.0)
        .select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
    }),

    // S6 (third row format): JSON-lines extract round-trip — the
    // interchange format every downstream tokenizer/labeling tool reads.
    // Write orders as JSONL, read back against the SAME frozen schema
    // (no inference pass — at 100 TB schema inference would be a full
    // extra scan), then filter+project. Timestamps survive via the ISO
    // writer/parser pair; doubles survive via shortest-decimal
    // round-trip (both Spark-side, engine-independent). The oracle is
    // the same query on the parquet original: any loss in the
    // write→read hop goes hash-red.
    "s6_jsonl_roundtrip" -> ((s, d) => {
      val path =
        s"/tmp/graft_jsonl_extract/x${d.replaceAll("[^0-9a-zA-Z.]", "_")}"
      t(s, d, "orders").write.mode("overwrite").json(path)
      s.read.schema(graft.etl.Tables.orders).json(path)
        .filter(col("o_custkey") % 7 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
          "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // S7: AnyType→jsonb columns (main.rs:91) — extract a JSON property and
    // aggregate over it (get_json_object keeps the scan codegen'd).
    "f_json" -> ((s, d) => {
      t(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
          col("value"))
        .groupBy("k")
        .agg(count("*").as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("k")
    }),

    // MultiPicklist decode (main.rs:88): wire "a;b" → array(varchar) at
    // load, then relational use via explode.
    "e_multipick" -> ((s, d) => {
      t(s, d, "lineitem")
        .select(Load.splitMultiPicklist(
          concat_ws(";", col("l_returnflag"), col("l_linestatus")))
          .as("picks"))
        .select(explode(col("picks")).as("pick"))
        .groupBy("pick").agg(count("*").as("n"))
        .orderBy("pick")
    }),

    // Load defaults (pg.rs:44-47 DEFAULT clause → load-time coalesce):
    // nulls injected where status='P' stand in for missing wire values.
    "l_defaults" -> ((s, d) => {
      val withNulls = t(s, d, "orders").withColumn("o_orderpriority",
        when(col("o_orderstatus") === "P", lit(null))
          .otherwise(col("o_orderpriority")))
      Load.applyDefaults(withNulls, Map("o_orderpriority" -> "UNSPECIFIED"))
        .groupBy("o_orderpriority").agg(count("*").as("n"))
        .orderBy("o_orderpriority")
    }),

    // Schema-evolution union: two extracts with different column order
    // and a column added mid-stream merge by NAME with null-fill — the
    // real shape of multi-day Salesforce extracts after a field is added
    // (positional union would silently mis-align columns).
    "e_union_evolve" -> ((s, d) => {
      val o = t(s, d, "orders")
      val day1 = o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderstatus", "o_orderkey") // old extract: 2 cols
      val day2 = o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus")) // new extract: +o_custkey, reordered
      day1.unionByName(day2, allowMissingColumns = true)
        .groupBy("o_orderstatus")
        .agg(count("*").as("n"),
          count(col("o_custkey")).as("n_with_cust"))
        .orderBy("o_orderstatus")
    }),

    // SCHEMA EVOLUTION through the maintained-table append sink —
    // e_union_evolve's maintenance twin: a redeployed pipeline widens
    // its schema and CONTINUES appending to the same maintained table
    // (batch 0 lands the narrow extract, batch 1 the widened one with
    // o_orderstatus added). Driven through the factored appendBatch
    // body because one file-source stream cannot change schema
    // mid-flight — at production the redeployed job continues the same
    // checkpoint lineage, which is exactly the continued batch-id
    // sequence used here. The reader is readMaintainedEvolving
    // (mergeSchema): pre-widening rows surface the new column as NULL.
    // A plain readMaintained would pick ONE footer's schema and
    // silently drop or fabricate the column — the failure mode this
    // row pins down. Oracle = the full table with o_orderstatus
    // nulled out below the widening point.
    "l_evolve_maintained" -> ((s, d) => {
      val o = t(s, d, "orders")
      val mid = o.agg(max("o_orderkey")).head.getLong(0) / 2
      val path = new java.io.File(
        Replay.scratchDir("evolve", d), "tbl").getPath
      graft.streaming.Streams.appendBatch(
        o.filter(col("o_orderkey") < mid)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        path, 0L)
      graft.streaming.Streams.appendBatch(
        o.filter(col("o_orderkey") >= mid)
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderstatus"),
        path, 1L)
      graft.streaming.Streams.readMaintainedEvolving(s, path)
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // S6+layout: sorted-layout scan registered end-to-end — write events
    // range-partitioned AND sorted on ts (Load.writeSorted), read back
    // with a narrow time-range predicate (8 h of a 30-day table, ~1%).
    // Result-invariant vs the unsorted table — the oracle runs the same
    // range query on raw events — but the sorted layout's near-disjoint
    // per-row-group [min,max] ts ranges let the pushed predicate prune
    // at the footer level, so the scan emits ~1% of rows instead of all
    // of them (PlanAuditSpec executes this query and asserts the scan
    // metric; LayoutSpec proves the same property from raw footers).
    // At 100 TB this is the ingest-side lever for time-filtered scans.
    "l_sorted_scan" -> ((s, d) => {
      val path =
        s"/tmp/graft_sorted_layout/x${d.replaceAll("[^0-9a-zA-Z.]", "_")}"
      Load.writeSorted(
        t(s, d, "events").select("event_id", "user_id", "event_type", "ts"),
        path, "ts", partitions = 16)
      // probe window DERIVED from the data's own time range (~1.1%
      // interior slice at 45% depth; integer-µs arithmetic mirrored by
      // the oracle) — a hardcoded date goes vacuous-but-green when the
      // driver regenerates the calendar. The min/max fetch is two
      // footer-stat scalars; embedding them as literals keeps the
      // filter PUSHABLE (PlanAuditSpec asserts PushedFilters).
      val mm = t(s, d, "events").agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      val lo = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 45 / 100
      val hi = lo + (mm.getLong(1) - mm.getLong(0)) / 90
      // no orderBy: the compare sorts rows, and a global sort would both
      // add an exchange and double-execute the scan (the range
      // partitioner samples its child), polluting the pruning metric
      s.read.parquet(path)
        .filter(col("ts") >= expr(s"timestamp_micros(${lo}L)") &&
          col("ts") < expr(s"timestamp_micros(${hi}L)"))
        .select("event_id", "user_id", "event_type", "ts")
    }),

    // Bucketed co-located join, driven end-to-end through the registered
    // surface: both sides written bucketBy(8, custkey) + sortBy (Spark
    // metastore bucketing), then joined with NO exchange on either side
    // — the only hash exchange in the whole plan is the final group-by's
    // (PlanAuditSpec asserts the count). At 100 TB this is THE repeated
    // fact⋈fact lever broadcast can't cover: pay one bucketed write at
    // ingest, every later same-key join (and same-key aggregation) is
    // shuffle-free. The merge hint pins SMJ so the small sf doesn't
    // broadcast away the property under test. Oracle = the same join+agg
    // on the raw parquet — bucketing must never change results.
    "l_bucket_join" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_") // no '.': table name
      val base = s"/tmp/graft_bucketed/$tag"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val (ot, ct) = (s"orders_bk_$tag", s"customer_bk_$tag")
      Seq(ot, ct).foreach(tb => s.sql(s"DROP TABLE IF EXISTS $tb"))
      Load.writeBucketed(
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        ot, "o_custkey", 8, Some(s"$base/$ot"))
      Load.writeBucketed(
        t(s, d, "customer").select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment")),
        ct, "o_custkey", 8, Some(s"$base/$ct"))
      s.table(ot).hint("merge")
        .join(s.table(ct).hint("merge"), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_total"))
        .orderBy("c_mktsegment")
    }),

    // Z-order clustered layout, driven end-to-end: write events
    // clustered on the (user_id, ts) Morton curve, read back with a
    // predicate on BOTH dimensions. One copy of the data serves
    // key-range scans and time-range scans alike — the layout lever
    // `l_sorted_scan` can only offer one dimension at a time. Oracle =
    // the same predicate on the original table (pruning must never
    // change results); PlanAuditSpec asserts the executed scan emitted
    // a small fraction of the table, and LayoutSpec proves each
    // single-dimension predicate prunes on its own.
    "l_zorder_scan" -> ((s, d) => {
      val path =
        s"/tmp/graft_zorder_layout/x${d.replaceAll("[^0-9a-zA-Z.]", "_")}"
      Load.writeZOrdered(
        t(s, d, "events").select("event_id", "user_id", "event_type", "ts"),
        path, "user_id", "ts", partitions = 16)
      // both probe dimensions derive from the data (user slice 10–35%
      // — wide enough to stay non-degenerate even on sf0.001's ~16-id
      // domain; time slice 33–67% — the z-curve must prune each from
      // ONE copy)
      val r = t(s, d, "events").agg(
        min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
        min(col("user_id")), max(col("user_id"))).head()
      val (tlo, thi) = (r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 3,
        r.getLong(0) + (r.getLong(1) - r.getLong(0)) * 2 / 3)
      val (ulo, uhi) = (r.getLong(2) + (r.getLong(3) - r.getLong(2)) * 10 / 100,
        r.getLong(2) + (r.getLong(3) - r.getLong(2)) * 35 / 100)
      s.read.parquet(path)
        .filter(col("user_id") >= ulo && col("user_id") < uhi &&
          col("ts") >= expr(s"timestamp_micros(${tlo}L)") &&
          col("ts") < expr(s"timestamp_micros(${thi}L)"))
        .select("event_id", "user_id", "event_type", "ts")
    }),

    // Latest-record compaction (W4): newest event per user by (ts, id) —
    // the SystemModstamp upsert-dedup every SF pipeline runs.
    "l_latest" -> ((s, d) => {
      Load.latestByKey(t(s, d, "events"), "user_id", "ts",
          tiebreak = Seq("event_id"))
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    }),

    // SCD1 upsert / MERGE on files: a late batch of corrections (every
    // 50th event re-emitted 1 h later as 'corrected') plus inserts
    // (every 77th event mirrored under a negated id — new keys that
    // can't collide with base ids) merged into the base table keeping
    // the NEWEST record per key via Load.latestByKey — the
    // MERGE-without-a-metastore every parquet-lake ingest runs. One
    // hash shuffle on the key at any scale; union is by name (schema
    // evolution safe).
    "l_upsert" -> ((s, d) => {
      val cols = Seq("event_id", "user_id", "event_type", "ts", "value")
      val base = t(s, d, "events").select(cols.map(col): _*)
      val corrections = base.filter(col("event_id") % 50 === 0)
        .withColumn("event_type", lit("corrected"))
        .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
      val inserts = base
        .filter(col("event_id") % 77 === 0 && col("event_id") > 0)
        .withColumn("event_id", -col("event_id"))
        .withColumn("event_type", lit("insert"))
      Load.latestByKey(
          base.unionByName(corrections).unionByName(inserts),
          "event_id", "ts")
        .select(cols.map(col): _*)
        .orderBy("event_id")
    }),

    // Incremental aggregate maintenance — the production rollup shape:
    // a daily (day × type) aggregate table is MATERIALIZED (parquet),
    // and a new-batch delta (last fifth of event time; split = one
    // integer scalar from min/max micros) merges into it by re-summing
    // PARTIAL aggregates, never rescanning base events. At 100 TB the
    // merge input is |rollup keys| + |delta keys| rows — days × types,
    // not events. Counts add; value sums stay exact decimals end-to-end
    // (grid-round → decimal partials → decimal merge → one final double
    // cast), so the incremental result is bit-identical to the oracle's
    // full recompute — the invariant that makes incremental ETL safe to
    // run forever.
    "l_rollup_merge" -> ((s, d) => {
      val ev = t(s, d, "events")
      val mm = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 4 / 5
      val rollup = (df: DataFrame) => df
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(roundf(col("value"), 4).cast("decimal(22,4)")).as("sv"))
      val basePath =
        s"/tmp/graft_rollup/x${d.replaceAll("[^0-9a-zA-Z.]", "_")}"
      // split on the RAW INT64 column (the eventsSince move): the
      // loaded `ts` is timestamp_micros(raw DIV d) — derived, so a
      // predicate on it can never reach PushedFilters, and the delta
      // scan pruning IS the incremental win. µs-cut ⟺ raw bound:
      // trunc_µs(raw) >= cut ⟺ raw >= cut·d for positive epochs.
      val (raw, div) = graft.etl.Tables.eventsRawScan(s, d)
      val withTs = (df: DataFrame) =>
        df.withColumn("ts", expr(s"timestamp_micros(ts DIV $div)"))
      rollup(withTs(raw.filter(col("ts") < lit(cut * div))))
        .write.mode("overwrite").parquet(basePath)
      s.read.parquet(basePath)
        .unionByName(rollup(withTs(raw.filter(col("ts") >= lit(cut * div)))))
        .groupBy("day", "event_type")
        .agg(sum("n").as("n"),
          sum("sv").cast("double").as("sum_value"))
        .orderBy("day", "event_type")
    }),

    // The streaming maintenance sink driven THROUGH the oracle gate:
    // l_rollup_merge's (day × event_type) aggregate maintained by the
    // actual Structured Streaming sink (Streams.rollupMaintain) over a
    // 2-batch time-split file replay, then the MAINTAINED TABLE — not
    // the source events — is what the oracle checks against a full
    // recompute. This closes the loop the StreamsSpec-only coverage
    // left open: the hash-red surface now includes the foreachBatch
    // partial-agg merge, the generation commit, and the pointer-resolved
    // read path, end to end. Merge input per batch stays |rollup keys| +
    // |batch keys| rows (days × types, never events), and decimal sums
    // are exact, so any batch split yields a bit-identical table.
    "l_rollup_maintained" -> ((s, d) => {
      val (base, stream) = replayEventsTwoBatches(s, d, "rollup_maint")
      val rollupPath = new java.io.File(base, "rollup").getPath
      val q = graft.streaming.Streams.rollupMaintain(stream, rollupPath)
      require(q.awaitTermination(600000),
        "rollup maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the merge path is untested")
      graft.streaming.Streams.readGenMaintained(s, rollupPath)
        .select(col("day"), col("event_type"), col("n"),
          col("sv").cast("double").as("sum_value"))
        .orderBy("day", "event_type")
    }),

    // Two-sided INCREMENTAL VIEW MAINTENANCE on the oracle surface:
    // the orders⋈customer join view maintained by Streams.ivmJoinMaintain
    // under deltas to BOTH base tables — each replay batch carries half
    // of orders AND half of customers (tagged union), so batch 2
    // exercises all three IVM delta terms (ΔA⋈B_prev, A_prev⋈ΔB,
    // ΔA⋈ΔB) including join pairs whose two sides arrived in DIFFERENT
    // batches. The ORACLE is the plain join recompute, so a missed
    // delta term, a double-counted ΔA⋈ΔB, or a retry duplication goes
    // hash-red. At 100 TB this is how a materialized join view absorbs
    // CDC appends: delta-proportional probes, never a view rebuild.
    "l_ivm_join" -> ((s, d) => {
      val ivmBase = ivmJoinRig(s, d, "ivm_join")
      graft.streaming.Streams.readMaintained(s, s"$ivmBase/view")
        .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment",
          "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // TWO-LEVEL IVM in ONE batch commit — the maintained join view
    // feeding a maintained aggregate inside the SAME foreachBatch body
    // (Streams.ivmJoinAggBatch), vs l_ivm_rollup's medallion form
    // where a SECOND streaming pipeline replays the view log into
    // countMaintain: here the agg folds exactly the batch's view
    // delta (re-read from the batch=<id> subdir level 1 just wrote —
    // never recomputed, never a second pipeline's latency), carries a
    // decimal SUM beside the count, and the retry guard spans both
    // levels (a crash between them re-runs level 1 idempotently). The
    // ORACLE is the full join-then-aggregate recompute, so a delta
    // term missed at EITHER level, a double-fold on retry, or a
    // level-2 merge drift goes hash-red. At 100 TB the chain is the
    // point: the rollup absorbs CDC appends at delta-proportional cost
    // without ever rebuilding the join view it derives from, and the
    // agg commit is one O(1) pointer flip.
    "l_ivm_joinagg" -> ((s, d) => {
      val ivmBase = ivmJoinRig(s, d, "ivm_joinagg", joinAgg = true)
      graft.streaming.Streams.readGenMaintained(s, s"$ivmBase/agg")
        .select(col("c_mktsegment"), col("n"),
          col("sv").cast("double").as("sum_total"))
        .orderBy("c_mktsegment")
    }),

    // LEFT OUTER view maintenance — the second IVM view shape, the one
    // an append-only view log CANNOT express: when batch 2 delivers
    // the first customer for an order published null-padded in batch
    // 1, the view must RETRACT the null row. Streams.ivmLeftJoinMaintain
    // signs the view log (+1 inner pairs and fresh null rows, −1
    // retraction of a previously-unmatched left row) and the reader
    // nets Σsign per row. The rig withholds every c_custkey % 7 == 0
    // customer entirely, so ~1/7 of orders keep PERSISTENT null rows —
    // proving null-padding survives netting — while batch-1 orders
    // referencing batch-2 customers exercise the retract term. The
    // oracle is the plain LEFT JOIN recompute against the withheld-
    // customer table: a missed retraction leaves a phantom null row
    // (hash-red), a lost null-pad drops an order (rows-red).
    "l_ivm_leftjoin" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val o = t(s, d, "orders")
      val c = t(s, d, "customer").filter(col("c_custkey") % 7 =!= 0)
      val midO = o.agg(max("o_orderkey")).head.getLong(0) / 2
      val midC = c.agg(max("c_custkey")).head.getLong(0) / 2
      def tagO(df: DataFrame) = df.select(lit("o").as("side"),
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lit(null).cast("long").as("c_custkey"),
        lit(null).cast("string").as("c_name"),
        lit(null).cast("string").as("c_mktsegment"))
      def tagC(df: DataFrame) = df.select(lit("c").as("side"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("long").as("o_custkey"),
        lit(null).cast("double").as("o_totalprice"),
        col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val b1 = tagO(o.filter(col("o_orderkey") < midO))
        .unionByName(tagC(c.filter(col("c_custkey") < midC)))
      val b2 = tagO(o.filter(col("o_orderkey") >= midO))
        .unionByName(tagC(c.filter(col("c_custkey") >= midC)))
      val schema = StructType(Seq(
        StructField("side", StringType),
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType),
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_mktsegment", StringType)))
      val (base, stream) = Replay.twoBatchStream(s, "ivm_lj", d,
        schema, "rows", b1, b2)
      val ivmBase = new java.io.File(base, "ivm").getPath
      val q = graft.streaming.Streams.ivmLeftJoinMaintain(stream,
        ivmBase,
        b => b.filter(col("side") === "o")
          .select("o_orderkey", "o_custkey", "o_totalprice"),
        b => b.filter(col("side") === "c")
          .select("c_custkey", "c_name", "c_mktsegment"),
        "o_custkey", "c_custkey")
      require(q.awaitTermination(600000),
        "left-outer IVM maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the retract term is " +
          "untested")
      // the retract-stream reader: net multiplicity per row; the net
      // is 0 (retracted null pad) or 1 here because o_orderkey is
      // unique — the general n>1 case would explode n copies
      graft.streaming.Streams.readMaintained(s, s"$ivmBase/view")
        .groupBy("o_orderkey", "o_custkey", "c_custkey", "c_name",
          "c_mktsegment", "o_totalprice")
        .agg(sum("sign").as("m"))
        .filter(col("m") > 0)
        .select("o_orderkey", "o_custkey", "c_custkey", "c_name",
          "c_mktsegment", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // INTERVAL/BAND view maintenance — the IVM join sink generalized
    // past equi conditions: the view is the attribution touch join
    // (every click→purchase pair of the same user within a 7-day
    // window — e_attribution's join, MAINTAINED), and the sink is the
    // UNCHANGED ivmJoinMaintain with the band as a residual predicate:
    // the IVM identity Δ(A⋈θB) = ΔA⋈θB ∪ A⋈θΔB ∪ ΔA⋈θΔB holds for any
    // θ because joins are additive over row sets, the equi component
    // (user_id) still carries the exchange AND the deltaKeyBloom
    // lever, and the band evaluates as a residual inside the hash
    // join. The replay splits events at the time midpoint, so 605
    // pairs (sf0.01) straddle the batches — a click published in
    // batch 1 finding its purchase in batch 2 exercises A_prev⋈θΔB
    // with a genuinely non-equi θ. Oracle = the plain band-join
    // recompute: a missed straddling pair or a band boundary
    // off-by-one goes hash-red.
    "l_ivm_interval" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val ev = t(s, d, "events")
        .filter(col("event_type").isin("click", "purchase"))
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      def tag(df: DataFrame) = df.select(
        col("event_type").as("side"),
        when(col("event_type") === "click", col("user_id")).as("user_id"),
        when(col("event_type") === "click", col("event_id"))
          .as("click_id"),
        when(col("event_type") === "click", col("ts")).as("click_ts"),
        when(col("event_type") === "purchase", col("user_id"))
          .as("p_user"),
        when(col("event_type") === "purchase", col("event_id"))
          .as("p_id"),
        when(col("event_type") === "purchase", col("ts")).as("p_ts"))
      val b1 = tag(ev.filter(unix_micros(col("ts")) < cut))
      val b2 = tag(ev.filter(unix_micros(col("ts")) >= cut))
      val schema = StructType(Seq(
        StructField("side", StringType),
        StructField("user_id", LongType),
        StructField("click_id", LongType),
        StructField("click_ts", TimestampType),
        StructField("p_user", LongType),
        StructField("p_id", LongType),
        StructField("p_ts", TimestampType)))
      val (base, stream) = Replay.twoBatchStream(s, "ivm_iv", d,
        schema, "rows", b1, b2)
      val ivmBase = new java.io.File(base, "ivm").getPath
      val q = graft.streaming.Streams.ivmJoinMaintain(stream, ivmBase,
        b => b.filter(col("side") === "click")
          .select("user_id", "click_id", "click_ts"),
        b => b.filter(col("side") === "purchase")
          .select("p_user", "p_id", "p_ts"),
        "user_id", "p_user",
        residual = (l, r) => r("p_ts") >= l("click_ts") &&
          r("p_ts") < l("click_ts") + expr("INTERVAL 7 DAYS"))
      require(q.awaitTermination(600000),
        "interval IVM maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the straddling band " +
          "pairs are untested")
      graft.streaming.Streams.readMaintained(s, s"$ivmBase/view")
        .select("click_id", "p_id", "user_id", "click_ts", "p_ts")
        .orderBy("click_id", "p_id")
    }),

    // DISTINCT view maintenance — the third IVM view shape, needing
    // MULTIPLICITY COUNTS even over one base table: a second insert of
    // a present key must not re-publish it, deleting one of two
    // supporting rows must not retract it, and only the 0↔positive
    // transitions reach the signed view log (Gupta & Mumick's counting
    // algorithm — see Streams.ivmDistinctMaintain). The rig replays
    // orders as (o_custkey, o_orderpriority, sign) rows in two
    // batches; batch 2 retracts every batch-1 row of customers with
    // custkey % 13 == 0, so keys whose support was entirely in batch 1
    // make the positive→0 transition (a real −1 in the log), keys with
    // batch-2 support survive the partial retraction (no log row — the
    // count absorbs it), and fresh batch-2 keys make 0→positive. The
    // oracle is DISTINCT over the NET rows: a phantom retraction, a
    // re-published duplicate, or a double-counted retry goes hash-red.
    "l_ivm_distinct" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val o = t(s, d, "orders")
      val mid = o.agg(max("o_orderkey")).head.getLong(0) / 2
      def tag(df: DataFrame, sign: Int) = df.select(
        col("o_custkey"), col("o_orderpriority"), lit(sign).as("sign"))
      val b1 = tag(o.filter(col("o_orderkey") < mid), 1)
      val b2 = tag(o.filter(col("o_orderkey") >= mid), 1)
        .unionByName(tag(o.filter(col("o_orderkey") < mid &&
          col("o_custkey") % 13 === 0), -1))
      val schema = StructType(Seq(
        StructField("o_custkey", LongType),
        StructField("o_orderpriority", StringType),
        StructField("sign", IntegerType)))
      val (base, stream) = Replay.twoBatchStream(s, "ivm_dist", d,
        schema, "rows", b1, b2)
      val ivmBase = new java.io.File(base, "ivm").getPath
      val q = graft.streaming.Streams.ivmDistinctMaintain(stream,
        ivmBase, Seq("o_custkey", "o_orderpriority"), "sign")
      require(q.awaitTermination(600000),
        "distinct IVM maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the transition log is " +
          "untested")
      graft.streaming.Streams.readMaintained(s, s"$ivmBase/view")
        .groupBy("o_custkey", "o_orderpriority")
        .agg(sum("sign").as("m"))
        .filter(col("m") > 0)
        .select("o_custkey", "o_orderpriority")
        .orderBy("o_custkey", "o_orderpriority")
    }),

    // DELETES through the IVM join — with ZERO sink changes: each
    // side's rows carry a sign column (the rollupSignedMaintain
    // discipline composed with the delta terms), the generic join
    // sink propagates both signs into the view log, and the READER
    // nets multiplicities: Σ sA·sB over copies of a pair equals
    // (net A)·(net B), so a pair survives iff both sides net to
    // present. Batch 2 retracts some batch-1 orders AND some batch-1
    // customers — a deleted customer must remove ALL its joined
    // orders from the view, the sharpest cross-side effect. The
    // oracle joins the NET base tables, so a missed retraction
    // propagation on either side goes hash-red.
    "l_ivm_deletes" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val midO = o.agg(max("o_orderkey")).head.getLong(0) / 2
      val midC = c.agg(max("c_custkey")).head.getLong(0) / 2
      def tagO(df: DataFrame, sign: Int) = df.select(
        lit("o").as("side"), lit(sign).as("sign"),
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        lit(null).cast("long").as("c_custkey"),
        lit(null).cast("string").as("c_name"),
        lit(null).cast("string").as("c_mktsegment"))
      def tagC(df: DataFrame, sign: Int) = df.select(
        lit("c").as("side"), lit(sign).as("sign"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("long").as("o_custkey"),
        lit(null).cast("double").as("o_totalprice"),
        col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val b1 = tagO(o.filter(col("o_orderkey") < midO), 1)
        .unionByName(tagC(c.filter(col("c_custkey") < midC), 1))
      val b2 = tagO(o.filter(col("o_orderkey") >= midO), 1)
        .unionByName(tagC(c.filter(col("c_custkey") >= midC), 1))
        .unionByName(tagO(o.filter(col("o_orderkey") < midO &&
          col("o_orderkey") % 21 === 0), -1))
        .unionByName(tagC(c.filter(col("c_custkey") < midC &&
          col("c_custkey") % 17 === 0), -1))
      val schema = StructType(Seq(
        StructField("side", StringType),
        StructField("sign", IntegerType),
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType),
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_mktsegment", StringType)))
      val (base, stream) = Replay.twoBatchStream(s, "ivm_del", d,
        schema, "rows", b1, b2)
      val ivmBase = new java.io.File(base, "ivm").getPath
      val q = graft.streaming.Streams.ivmJoinMaintain(stream, ivmBase,
        b => b.filter(col("side") === "o")
          .select(col("sign").as("o_sign"), col("o_orderkey"),
            col("o_custkey"), col("o_totalprice")),
        b => b.filter(col("side") === "c")
          .select(col("sign").as("c_sign"), col("c_custkey"),
            col("c_name"), col("c_mktsegment")),
        "o_custkey", "c_custkey")
      require(q.awaitTermination(600000),
        "signed IVM maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the retraction terms " +
          "are untested")
      graft.streaming.Streams.readMaintained(s, s"$ivmBase/view")
        .groupBy("o_orderkey", "o_custkey", "c_name", "c_mktsegment",
          "o_totalprice")
        .agg(sum(col("o_sign") * col("c_sign")).as("m"))
        .filter(col("m") > 0)
        .select("o_orderkey", "o_custkey", "c_name", "c_mktsegment",
          "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // Medallion COMPOSITION of maintained artifacts: the silver join
    // view l_ivm_join maintains is itself a replayable stream — its
    // batch=<id> layout IS the delta log — so a downstream gold
    // aggregate (orders per market segment) maintains itself by
    // STREAMING FROM THE VIEW through countMaintain, never touching
    // the base tables. This is the incremental lakehouse pipeline
    // shape end to end: base deltas → maintained join view → maintained
    // rollup, every hop delta-proportional. The oracle recomputes the
    // segment counts from the raw join, so a lost view delta OR a lost
    // downstream merge goes hash-red through two composed sinks.
    "l_ivm_rollup" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val ivmBase = ivmJoinRig(s, d, "ivm_rollup")
      val viewSchema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType),
        StructField("o_totalprice", DoubleType),
        StructField("c_custkey", LongType),
        StructField("c_name", StringType),
        StructField("c_mktsegment", StringType)))
      val silver = s.readStream.schema(viewSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$ivmBase/view")
      val goldPath = s"$ivmBase/gold"
      val q = graft.streaming.Streams.countMaintain(
        silver, "c_mktsegment", goldPath)()
      require(q.awaitTermination(600000),
        "gold rollup maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "view replay must span two micro-batches or the downstream " +
          "merge is untested")
      graft.streaming.Streams.readGenMaintained(s, goldPath)
        .select(col("c_mktsegment"), col("cnt").as("n_orders"))
        .orderBy("c_mktsegment")
    }),

    // Incremental SCD2 on the oracle surface: the validity-interval
    // history maintained as a change-row LOG by Streams.scd2Maintain —
    // per batch, change detection runs over batch rows only plus one
    // |users|-row boundary stitch against the state's open types; the
    // interval view (valid_from / valid_to / is_current) derives from
    // the compact log with one lead window over |intervals| rows. The
    // ORACLE IS l_scd2's VERBATIM (the full-history recompute), so a
    // missed change, a spurious boundary interval, or a mis-stitched
    // open row goes hash-red. Contract: ordered ingest per user (the
    // CDC norm; late data needs the batch recompute — disclosed in the
    // sink doc). At 100 TB each batch pays |batch| change detection +
    // a |users| join — history is never rescanned.
    "l_scd2_maintained" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (base, stream) = replayEventsTwoBatches(s, d, "scd2_maint")
      val statePath = new java.io.File(base, "scd2").getPath
      val q = graft.streaming.Streams.scd2Maintain(stream, statePath)
      require(q.awaitTermination(600000),
        "SCD2 maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the boundary stitch is " +
          "untested")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      graft.streaming.Streams.readGenMaintained(s, statePath)
        .withColumn("valid_to", lead("ts", 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.cast("int").as("is_current"))
        .orderBy("user_id", "valid_from")
    }),

    // SCD2 maintenance under LATE OUT-OF-ORDER data — the contract
    // l_scd2_maintained discloses away, removed: the replay is
    // deliberately time-shuffled (batch 1 = event_id % 3 != 0, batch 2
    // = the rest — BOTH span the full time range, so nearly every
    // batch-2 user has rows OLDER than its batch-1 watermark and takes
    // the late path: a targeted interval rewrite over that user's full
    // retained history, while genuinely in-order users keep the cheap
    // boundary-stitch path). The ORACLE is l_scd2's recompute VERBATIM
    // — a missed mid-history change resurrection (the t1:A, t2:A,
    // late-t1.5:B case), a dropped split, or a retry duplication goes
    // hash-red. At 100 TB: classification is one join against the
    // |users|-row watermark table, rewrite work is proportional to
    // touched users' histories, never the corpus.
    "l_scd2_late" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (base, stream) = replayEventsShuffled(s, d, "scd2_late")
      val basePath = new java.io.File(base, "scd2l").getPath
      val q = graft.streaming.Streams.scd2LateMaintain(stream, basePath)
      require(q.awaitTermination(600000),
        "late-SCD2 maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the late path is untested")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      graft.streaming.Streams.readGenArtifact(s, basePath, "log")
        .withColumn("valid_to", lead("ts", 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.cast("int").as("is_current"))
        .orderBy("user_id", "valid_from")
    }),

    // The first NON-additive maintained state on the oracle surface:
    // newest-record-per-key (the SCD1 maintained dimension — latest
    // event per user) kept current by Streams.latestMaintain over the
    // 2-batch replay. The merge is an argmax under the total order
    // (ts DESC, event_id DESC, key DESC) — associative/commutative, so
    // any batch split reproduces the one-shot newest-per-key table,
    // which is exactly what the oracle computes: l_latest's SQL
    // VERBATIM. Merge input is |users| + |batch users| rows (each
    // batch pre-collapses to its own latest), never events — the
    // 100 TB shape for a continuously-current dimension table.
    "l_latest_maintained" -> ((s, d) => {
      val (base, stream) = replayEventsTwoBatches(s, d, "latest_maint")
      val statePath = new java.io.File(base, "latest").getPath
      val q = graft.streaming.Streams.latestMaintain(stream, statePath,
        "user_id", "ts", tiebreak = Seq("event_id"))
      require(q.awaitTermination(600000),
        "latest-record maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the argmax merge is " +
          "untested")
      graft.streaming.Streams.readGenMaintained(s, statePath)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    }),

    // TOMBSTONE deletes through the same argmax sink — the log-
    // compaction discipline (Kafka compacted topics, Delta MERGE
    // DELETE): a delete is just a NEWER row with deleted = true, so
    // latestMaintain needs no changes — argmax keeps the tombstone as
    // the key's current record, the READER filters deleted rows, and
    // state RETAINS tombstones so a late-arriving older row cannot
    // resurrect a deleted key. A genuinely newer insert CAN: users
    // % 26 == 0 get a reinsert after their tombstone and must
    // reappear, while % 13 (but not % 26) users must vanish — both
    // cases cross the batch boundary, and the oracle replays the same
    // synthesized union, so a lost tombstone, a resurrection bug, or
    // an argmax drift goes hash-red.
    "l_latest_tombstone" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val cols = Seq("user_id", "event_id", "event_type", "ts")
      val ev = graft.etl.Tables.load(s, d, "events")
        .select(cols.map(col): _*).withColumn("deleted", lit(false))
      val mx = ev.agg(max(col("ts")).as("mt"))
      val users = ev.select("user_id").distinct()
      def synth(pred: org.apache.spark.sql.Column, idOff: Long,
          tag: String, hours: String, del: Boolean) =
        users.filter(pred).crossJoin(broadcast(mx))
          .select(col("user_id"),
            (-col("user_id") - lit(idOff)).as("event_id"),
            lit(tag).as("event_type"),
            (col("mt") + expr(s"INTERVAL $hours HOUR")).as("ts"),
            lit(del).as("deleted"))
      val tomb = synth(col("user_id") % 13 === 0, 1L, "tombstone",
        "1", del = true)
      val re = synth(col("user_id") % 26 === 0, 1000000L, "reinsert",
        "2", del = false)
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val b1 = ev.filter(unix_micros(col("ts")) < lit(cut))
      val b2 = ev.filter(unix_micros(col("ts")) >= lit(cut))
        .unionByName(tomb).unionByName(re)
      val schema = StructType(Seq(
        StructField("user_id", LongType),
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("ts", TimestampType),
        StructField("deleted", BooleanType)))
      val (base, stream) = Replay.twoBatchStream(s, "latest_tomb", d,
        schema, "ev", b1, b2)
      val statePath = new java.io.File(base, "latest").getPath
      val q = graft.streaming.Streams.latestMaintain(stream, statePath,
        "user_id", "ts", tiebreak = Seq("event_id"))
      require(q.awaitTermination(600000),
        "tombstone maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the tombstone merge is " +
          "untested")
      // state RETAINS tombstones; visibility filtering is the reader's
      graft.streaming.Streams.readGenMaintained(s, statePath)
        .filter(!col("deleted"))
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    }),

    // RETRACTION-capable rollup maintenance on the oracle surface —
    // the CDC/correction shape l_rollup_maintained cannot express:
    // micro-batch 2 carries, besides its own new events, CORRECTIONS
    // to batch-1 rows (every event_id % 37 == 0 first-half event gets
    // value += 10) as Flink-style retract pairs — the old row at
    // sign -1 and the corrected row at sign +1 — and the maintained
    // table nets them through the same re-sum merge (Σsign counts,
    // Σ sign·round(value) grid-decimal sums, both exact). The ORACLE
    // is the full recompute over the NET rows (corrected values
    // substituted in place), so a dropped retraction, a double-applied
    // correction, or any merge drift goes hash-red. The time cut is
    // the epoch-µs midpoint (the g_labelprop_incr discipline). At
    // 100 TB this is how late corrections reach a materialized rollup
    // without rescanning history: each correction costs two signed
    // rows through a |keys|-sized merge.
    "l_rollup_corrected" -> ((s, d) => {
      val ev = graft.etl.Tables.load(s, d, "events")
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val firstHalf = unix_micros(col("ts")) < lit(cut)
      val corrected = col("event_id") % 37 === 0
      val b1 = ev.filter(firstHalf).withColumn("sign", lit(1))
      val b2 = ev.filter(unix_micros(col("ts")) >= lit(cut))
        .withColumn("sign", lit(1))
        .unionByName(ev.filter(firstHalf && corrected)
          .withColumn("sign", lit(-1)))
        .unionByName(ev.filter(firstHalf && corrected)
          .withColumn("value", col("value") + lit(10.0))
          .withColumn("sign", lit(1)))
      val (base, stream) = Replay.twoBatchStream(s, "rollup_corr", d,
        graft.etl.Tables.events.add("sign", "int"), "ev", b1, b2)
      val rollupPath = new java.io.File(base, "rollup").getPath
      val q = graft.streaming.Streams.rollupSignedMaintain(
        stream, rollupPath)
      require(q.awaitTermination(600000),
        "signed rollup maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the retraction path is " +
          "untested")
      graft.streaming.Streams.readGenMaintained(s, rollupPath)
        .select(col("day"), col("event_type"), col("n"),
          col("sv").cast("double").as("sum_value"))
        .orderBy("day", "event_type")
    }),

    // MIN/MAX view maintenance under deletions — the aggregate family
    // Σsign state CANNOT maintain (deleting the current minimum needs
    // the runner-up, which additive state never kept; ROADMAP r13 #3):
    // per-(day × event_type) k-survivor state through
    // Streams.minmaxMaintain (k = 8) over the signed 2-batch replay.
    // Batch 2 deletes, besides the event_id % 37 bulk rows, EVERY
    // group's batch-1 argmin AND argmax rows — so each group's MIN and
    // MAX must rewind to a survivor, exercising the covered-prefix
    // invariant in all first-half groups (StreamsSpec pins the dlo/dhi
    // debits, retry idempotence, and the loud contract-exhaustion
    // path). The oracle recomputes count/min/max over the NET rows, so
    // a lost delete, a wrong survivor pick, or a stale counter goes
    // hash-red. MIN/MAX of doubles are exact picks of original values
    // — no decimal grid needed, unlike every sum on this surface.
    "l_ivm_minmax" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.etl.Tables.load(s, d, "events")
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val b1raw = ev.filter(unix_micros(col("ts")) < lit(cut))
      val wG = Window.partitionBy(date_trunc("day", col("ts")),
        col("event_type"))
      val extremes = b1raw
        .withColumn("rlo", row_number().over(
          wG.orderBy(col("value").asc, col("event_id").asc)))
        .withColumn("rhi", row_number().over(
          wG.orderBy(col("value").desc, col("event_id").desc)))
        .filter(col("rlo") === 1 || col("rhi") === 1)
        .drop("rlo", "rhi")
      val bulk = b1raw.filter(col("event_id") % 37 === 0)
      // duplicates across the two delete reasons are identical source
      // rows, so the dedup is deterministic
      val dels = extremes.unionByName(bulk).dropDuplicates("event_id")
      val b1 = b1raw.withColumn("sign", lit(1))
      val b2 = ev.filter(unix_micros(col("ts")) >= lit(cut))
        .withColumn("sign", lit(1))
        .unionByName(dels.withColumn("sign", lit(-1)))
      val (base, stream) = Replay.twoBatchStream(s, "minmax", d,
        graft.etl.Tables.events.add("sign", "int"), "ev", b1, b2)
      val statePath = new java.io.File(base, "mm").getPath
      val prepped = stream.select(
        date_trunc("day", col("ts")).as("day"), col("event_type"),
        col("value"), col("event_id"), col("sign"))
      val q = graft.streaming.Streams.minmaxMaintain(prepped, statePath,
        Seq("day", "event_type"), "value", "event_id", k = 8)
      require(q.awaitTermination(600000),
        "minmax maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the survivor-rewind " +
          "path is untested")
      // the argmin/argmax deletions must actually have debited covered
      // prefixes — otherwise this row silently stops testing the
      // rewind path (fixture-shape guard, scale-independent)
      val mmState = graft.streaming.Streams
        .readGenMaintained(s, statePath)
      require(mmState
          .filter(col("dlo") >= 1 && col("dhi") >= 1).count() > 0,
        "no group exercised the survivor-rewind path")
      mmState
        .select(col("day"), col("event_type"), col("n"),
          element_at(col("lo"), 1).getField("v").as("min_value"),
          element_at(col("hi"), size(col("hi"))).getField("v")
            .as("max_value"))
        .orderBy("day", "event_type")
    }),

    // RETENTION on the oracle surface — the retirement step of the
    // maintenance lifecycle: the rollup table is maintained by the
    // real sink, then VACUUMED to the retention window (days >= the
    // epoch-midpoint day, a derived integer both engines compute
    // identically), and the oracle recomputes the rollup RESTRICTED to
    // the window — so an over- or under-pruning vacuum, or one that
    // corrupts retained rows, goes hash-red. The vacuum preserves the
    // exactly-once batch marker (spec'd contract in vacuumMaintained).
    "l_rollup_retained" -> ((s, d) => {
      val (base, stream) = replayEventsTwoBatches(s, d, "rollup_ret")
      val rollupPath = new java.io.File(base, "rollup").getPath
      val q = graft.streaming.Streams.rollupMaintain(stream, rollupPath)
      require(q.awaitTermination(600000),
        "rollup maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the merge path is untested")
      val ev = graft.etl.Tables.load(s, d, "events")
      val mm = ev.agg(unix_micros(min(col("ts"))),
        unix_micros(max(col("ts")))).head()
      val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
      val cutDay = (cut / 86400000000L) * 86400000000L
      graft.streaming.Streams.vacuumMaintained(s, rollupPath,
        col("day") >= expr(s"timestamp_micros(${cutDay}L)"))
      graft.streaming.Streams.readGenMaintained(s, rollupPath)
        .select(col("day"), col("event_type"), col("n"),
          col("sv").cast("double").as("sum_value"))
        .orderBy("day", "event_type")
    }),

    // The SECOND maintenance sink on the oracle surface, via MG's
    // exactness regime: when the summary capacity k EXCEEDS the number
    // of distinct keys, Misra-Gries never decrements, so the maintained
    // summary holds EXACT per-key counts and a plain GROUP BY is the
    // oracle — no sketch math on the DuckDB side, no tautology. The key
    // space is user_id mod 97 (97 keys < k = 256); the stream is the
    // same 2-batch time-split replay, so the distributed per-batch
    // sketch, the O(k) cross-batch merge, the out-of-band running
    // total, the generation commit, and the pointer-resolved read all
    // sit on the hash-red path. (The sub-capacity regime — where est
    // is a lower bound, not a count — stays covered by StreamsSpec's k=50
    // guarantee proof; it is deliberately NOT oracle-material since
    // eviction order depends on merge grouping.)
    "l_hh_maintained" -> ((s, d) => {
      val (base, stream) = replayEventsTwoBatches(s, d, "hh_maint")
      val keyed = stream.select(
        concat(lit("u"), (col("user_id") % 97).cast("string")).as("k"))
      val statePath = new java.io.File(base, "hh_state").getPath
      val q = graft.streaming.Streams
        .heavyHittersMaintain(keyed, "k", statePath, k = 256)
      require(q.awaitTermination(600000),
        "heavy-hitters maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the merge path is untested")
      graft.streaming.Streams.readGenMaintained(s, statePath)
        .select(col("n").as("n_total"), explode(col("mg")).as(Seq("key", "est_n")))
        .select(col("key"), col("est_n"), col("n_total"))
        .orderBy("key")
    }),

    // The THIRD (and last) maintenance sink on the oracle surface —
    // count-min — via the verdict-column pattern (the a3_approx /
    // x_countmin precedent), NOT a rows-only row: xxhash64 makes a
    // DuckDB grid mirror impossible, so the registered query computes
    // BOTH sketches in Spark — the grid MAINTAINED by the real
    // streaming sink (Streams.countMinMaintain over the 2-batch
    // replay: distributed per-batch sketch, elementwise O(d·w) merge,
    // generation commit, pointer-resolved read) and a one-shot batch
    // grid over the whole table — and emits checkable facts:
    // cells_diff (CM's merge is elementwise sum, so the maintained grid
    // must be BIT-IDENTICAL to the batch grid — 0 differing cells),
    // n_total (vs the oracle's COUNT(*) — an exact value, not a
    // verdict), and per-probe
    // no_underestimate / within_2eps point-query verdicts against
    // DISTRIBUTED exact counts (est ≥ exact always — counters only
    // add; est ≤ exact + 2·(e/w)·n with the documented 2× Markov
    // margin, deterministic-in-practice with the fixed hash family).
    // A lost batch, a double merge, or recovery drift shows up as
    // cells_diff > 0 / n_total off / an underestimate — all hash-red.
    // Key space: constructed skew on user_id (7 hot keys + long cold
    // tail), probes mix hot and cold, same shape as x_countmin.
    "l_cm_maintained" -> ((s, d) => {
      val hh = graft.functions.HeavyHitters
      val width = 2048
      val key = when(col("user_id") % 10 < 5,
          concat(lit("hot"), (col("user_id") % 7).cast("string")))
        .otherwise(concat(lit("cold"), col("user_id").cast("string")))
      val (base, stream) = replayEventsTwoBatches(s, d, "cm_maint")
      val statePath = new java.io.File(base, "cm_state").getPath
      val q = graft.streaming.Streams.countMinMaintain(
        stream.select(key.as("k")), "k", statePath, width)
      require(q.awaitTermination(600000),
        "count-min maintenance stream must drain (AvailableNow)")
      require(q.recentProgress.map(_.batchId).distinct.length >= 2,
        "replay must span two micro-batches or the merge path is untested")
      import s.implicits._
      val (nMaint, gridMaint) = graft.streaming.Streams
        .readGenMaintained(s, statePath).as[(Long, Array[Long])].head()
      val ev = t(s, d, "events").select(key.as("k"))
      val bRow = ev.agg(hh.cmSketchCol(col("k"), width).as("cm"),
        count(lit(1)).as("n")).head()
      val gridBatch = bRow.getSeq[Long](0).toArray
      // both grids are O(d·w) driver scalars (the 64 KB bounded fetch
      // of x_countmin); the comparison is per-cell, reported as a count
      val cellsDiff: Long =
        gridMaint.zip(gridBatch).count { case (a, b) => a != b }.toLong +
          math.abs(gridMaint.length - gridBatch.length).toLong
      val eps = 2.718281828459045 / width * nMaint
      val probes = (0 to 6).map(i => s"hot$i") ++
        Seq("cold5", "cold7", "cold9")
      val estDf = probes.map(p => (p, hh.cmEstimate(gridMaint, width, p)))
        .toDF("k", "est")
      ev.filter(col("k").isin(probes: _*))
        .groupBy("k").agg(count(lit(1)).as("exact_n"))
        .join(broadcast(estDf), "k")
        .select(col("k"), col("exact_n"),
          lit(nMaint).as("n_total"),
          lit(cellsDiff).as("cells_diff"),
          (col("est") >= col("exact_n")).as("no_underestimate"),
          (col("est").cast("double") <=
            col("exact_n").cast("double") + lit(2.0 * eps))
            .as("within_2eps"))
        .orderBy("k")
    }),

    // DecimalType fidelity mode on the CORRECTNESS surface (ROADMAP r2
    // item 6 — the last open candidate): the reference flattens
    // Currency/Percent to sized varchar and DISCARDS describe
    // precision/scale (main.rs:99), so downstream money aggregation is
    // string-or-double and inexact. Mapping.dataTypeOf(field,
    // decimalMode = true) maps them to DecimalType(p,s) from the
    // carried describe metadata instead; here a Currency describe
    // field (precision 18, scale 2) drives the mapped type, the fact
    // column is cast to it, and the aggregation runs in EXACT decimal
    // arithmetic end-to-end — the oracle's DECIMAL sums must
    // value-match exactly, which double accumulation cannot promise
    // (order-dependent last-ulp drift is why the mode exists). The
    // DDL/CLI halves of the mode are golden-spec'd in SchemaSpec.
    "l_decimal_mode" -> ((s, d) => {
      val money = graft.schema.SfField("Amount",
        graft.schema.FieldType.Currency, precision = 18, scale = 2)
      val dt = graft.schema.Mapping.dataTypeOf(money, decimalMode = true)
      require(dt == org.apache.spark.sql.types.DecimalType(18, 2),
        s"decimal mode mapped Currency(18,2) to $dt")
      // storage round-trip: the decimal-typed frame lands in parquet
      // (FIXED_LEN_BYTE_ARRAY DECIMAL(18,2) logical type) and is read
      // back before aggregating — a sink that silently widened,
      // narrowed, or re-floated the type would shift declared types or
      // values and go hash-red
      val path = new java.io.File(
        Replay.scratchDir("decimal_mode", d), "amounts").getPath
      t(s, d, "orders")
        .select(col("o_orderstatus"), col("o_totalprice").cast(dt).as("amt"))
        .write.mode("overwrite").parquet(path)
      val back = s.read.parquet(path)
      require(back.schema("amt").dataType == dt,
        s"decimal round-trip changed the type: ${back.schema("amt").dataType}")
      back
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          // the aggregation itself runs in EXACT decimal arithmetic
          // (sum over DecimalType(18,2) — no double accumulation);
          // only the OUTPUT surface converts to integer cents, which
          // is lossless at scale 2 and keeps the hash surface in the
          // int64 family (raw DECIMAL columns trip the driver hash's
          // physical-encoding strictness — the HUGEINT/BIGINT
          // precedent, tools/compare_oracle.py)
          (sum("amt") * 100).cast("long").as("sum_cents"),
          (min("amt") * 100).cast("long").as("min_cents"),
          (max("amt") * 100).cast("long").as("max_cents"))
        .orderBy("o_orderstatus")
    }),

    // SCD Type-2 history build: collapse each user's event stream into
    // validity intervals of its changing attribute (event_type) — change
    // detection via lag, interval close via lead, open interval =
    // current row. THE load-side transform for dimension history
    // (warehouse upserts keep only l_latest; auditing/replay needs the
    // full interval table). One shuffle on user_id serves both window
    // passes (same partitioning, Exchange reused); ties on ts break on
    // event_id in BOTH engines, so intervals are deterministic.
    "l_scd2" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead("ts", 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.cast("int").as("is_current"))
        .orderBy("user_id", "valid_from")
    }))

  /** The l_ivm_join rig, shared with l_ivm_rollup: replay orders and
    * customers as a 2-batch tagged-union stream (each batch carries
    * half of BOTH tables, so all three IVM delta terms are exercised
    * cross-batch) through Streams.ivmJoinMaintain; returns the IVM
    * base path whose left/right/view subdirs hold the maintained
    * state.
    */
  /** Shared orders⋈customer tagged-union two-batch replay driving an
    * IVM sink; `joinAgg = true` drives the two-level
    * [[graft.streaming.Streams.ivmJoinAggMaintain]] composition
    * (same replay, same delta terms, plus the maintained rollup). */
  private def ivmJoinRig(s: org.apache.spark.sql.SparkSession,
      d: String, tag: String, joinAgg: Boolean = false): String = {
    import org.apache.spark.sql.types._
    val o = t(s, d, "orders")
    val c = t(s, d, "customer")
    val midO = o.agg(max("o_orderkey")).head.getLong(0) / 2
    val midC = c.agg(max("c_custkey")).head.getLong(0) / 2
    def tagO(df: DataFrame) = df.select(lit("o").as("side"),
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      lit(null).cast("long").as("c_custkey"),
      lit(null).cast("string").as("c_name"),
      lit(null).cast("string").as("c_mktsegment"))
    def tagC(df: DataFrame) = df.select(lit("c").as("side"),
      lit(null).cast("long").as("o_orderkey"),
      lit(null).cast("long").as("o_custkey"),
      lit(null).cast("double").as("o_totalprice"),
      col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val b1 = tagO(o.filter(col("o_orderkey") < midO))
      .unionByName(tagC(c.filter(col("c_custkey") < midC)))
    val b2 = tagO(o.filter(col("o_orderkey") >= midO))
      .unionByName(tagC(c.filter(col("c_custkey") >= midC)))
    val schema = StructType(Seq(
      StructField("side", StringType),
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_totalprice", DoubleType),
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_mktsegment", StringType)))
    val (base, stream) = Replay.twoBatchStream(s, tag, d,
      schema, "rows", b1, b2)
    val ivmBase = new java.io.File(base, "ivm").getPath
    val leftOf = (b: DataFrame) => b.filter(col("side") === "o")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val rightOf = (b: DataFrame) => b.filter(col("side") === "c")
      .select("c_custkey", "c_name", "c_mktsegment")
    val q =
      if (joinAgg) graft.streaming.Streams.ivmJoinAggMaintain(stream,
        ivmBase, leftOf, rightOf, "o_custkey", "c_custkey",
        Seq("c_mktsegment"), "o_totalprice")
      else graft.streaming.Streams.ivmJoinMaintain(stream, ivmBase,
        leftOf, rightOf, "o_custkey", "c_custkey")
    require(q.awaitTermination(600000),
      "IVM join maintenance stream must drain (AvailableNow)")
    require(q.recentProgress.map(_.batchId).distinct.length >= 2,
      "replay must span two micro-batches or the cross-batch delta " +
        "terms are untested")
    ivmBase
  }

  /** Events 2-batch replay: splits the events table at the raw
    * event-time midpoint (two footer-stat scalars, no sort/collect)
    * and hands the halves to the shared [[Replay]] rig. The a/b files
    * carry the SOURCE's raw INT64 unit; the stream converts with the
    * footer-detected divisor, same as the batch reader.
    */
  private[ops] def replayEventsTwoBatches(
      s: org.apache.spark.sql.SparkSession, d: String,
      tag: String): (java.io.File, DataFrame) = {
    val (raw, div) = graft.etl.Tables.eventsRawScan(s, d)
    val mm = raw.agg(min(col("ts")), max(col("ts"))).head()
    val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val (base, stream) = Replay.twoBatchStream(s, tag, d,
      graft.etl.Tables.eventsRaw, "events",
      raw.filter(col("ts") < cut), raw.filter(col("ts") >= cut))
    (base, stream.withColumn("ts", expr(s"timestamp_micros(ts DIV $div)")))
  }

  /** Time-SHUFFLED 2-batch events replay for the late-data sinks: the
    * split is on event_id (% 3), NOT time, so both batches span the
    * full time range and batch 2 is massively out-of-order relative to
    * batch 1 — the adversarial ingest order the ordered-contract sinks
    * exclude.
    */
  private[ops] def replayEventsShuffled(
      s: org.apache.spark.sql.SparkSession, d: String,
      tag: String): (java.io.File, DataFrame) = {
    val (raw, div) = graft.etl.Tables.eventsRawScan(s, d)
    val (base, stream) = Replay.twoBatchStream(s, tag, d,
      graft.etl.Tables.eventsRaw, "events",
      raw.filter(col("event_id") % 3 =!= 0),
      raw.filter(col("event_id") % 3 === 0))
    (base, stream.withColumn("ts", expr(s"timestamp_micros(ts DIV $div)")))
  }

  private val latestSql: String =
    """SELECT user_id, event_id, event_type
         FROM (SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC, user_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id"""

  val oracles: Map[String, String] = Map(
    "s3_csv_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
         FROM orders ORDER BY o_orderkey""",
    // the merged-schema read must equal the full table with the added
    // column NULL below the widening point — a dropped or fabricated
    // column (the plain reader's failure modes) cannot match
    "l_evolve_maintained" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN o_orderkey >= (SELECT MAX(o_orderkey) // 2
                                    FROM orders)
                THEN o_orderstatus ELSE NULL END AS o_orderstatus
         FROM orders ORDER BY o_orderkey""",
    "e_union_evolve" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           COUNT(o_custkey) AS n_with_cust
         FROM (
           SELECT o_orderstatus, o_orderkey FROM orders
           WHERE o_orderkey % 2 = 0
           UNION ALL BY NAME
           SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
           WHERE o_orderkey % 2 = 1)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "f_json" ->
      """SELECT json_extract_string(props, '$.k')::INT AS k, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1 ORDER BY k""",
    "e_multipick" ->
      """SELECT pick, COUNT(*) AS n
         FROM (SELECT unnest(string_split(
                 concat(l_returnflag, ';', l_linestatus), ';')) AS pick
               FROM lineitem)
         GROUP BY pick ORDER BY pick""",
    "l_defaults" ->
      """SELECT COALESCE(CASE WHEN o_orderstatus = 'P' THEN NULL
                  ELSE o_orderpriority END, 'UNSPECIFIED') AS o_orderpriority,
           COUNT(*) AS n
         FROM orders GROUP BY 1 ORDER BY o_orderpriority""",
    // same integer-µs window arithmetic as the Spark side (// is
    // integer division, matching Long truncation for positive epochs)
    "l_sorted_scan" ->
      """WITH mm AS (SELECT epoch_us(MIN(ts)) AS l0, epoch_us(MAX(ts)) AS h0
                     FROM events),
         w AS (SELECT l0 + (h0 - l0) * 45 // 100 AS lo,
                      l0 + (h0 - l0) * 45 // 100 + (h0 - l0) // 90 AS hi
               FROM mm)
         SELECT event_id, user_id, event_type, ts
         FROM events, w
         WHERE epoch_us(ts) >= w.lo AND epoch_us(ts) < w.hi
         ORDER BY event_id""",
    "s6_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate
         FROM orders WHERE o_totalprice > 1000.0
         ORDER BY o_orderkey""",
    "s6_jsonl_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
           o_orderpriority
         FROM orders WHERE o_custkey % 7 = 0
         ORDER BY o_orderkey""",
    "l_zorder_scan" ->
      """WITH r AS (SELECT epoch_us(MIN(ts)) AS tl0, epoch_us(MAX(ts)) AS th0,
                      MIN(user_id) AS ul0, MAX(user_id) AS uh0
                    FROM events),
         w AS (SELECT tl0 + (th0 - tl0) // 3 AS tlo,
                      tl0 + (th0 - tl0) * 2 // 3 AS thi,
                      ul0 + (uh0 - ul0) * 10 // 100 AS ulo,
                      ul0 + (uh0 - ul0) * 35 // 100 AS uhi
               FROM r)
         SELECT event_id, user_id, event_type, ts
         FROM events, w
         WHERE user_id >= w.ulo AND user_id < w.uhi
           AND epoch_us(ts) >= w.tlo AND epoch_us(ts) < w.thi
         ORDER BY event_id""",
    "l_upsert" ->
      """WITH u AS (
           SELECT event_id, user_id, 'corrected' AS event_type,
             ts + INTERVAL 1 HOUR AS ts, value
           FROM events WHERE event_id % 50 = 0
           UNION ALL
           SELECT -event_id AS event_id, user_id, 'insert' AS event_type,
             ts, value
           FROM events WHERE event_id % 77 = 0 AND event_id > 0),
         a AS (
           SELECT event_id, user_id, event_type, ts, value FROM events
           UNION ALL SELECT * FROM u)
         SELECT event_id, user_id, event_type, ts, value FROM (
           SELECT *, row_number() OVER (PARTITION BY event_id
             ORDER BY ts DESC) AS rn FROM a)
         WHERE rn = 1 ORDER BY event_id""",
    // l_latest_maintained shares this oracle VERBATIM: the argmax
    // merge must reproduce the one-shot newest-per-key table exactly
    "l_latest" -> latestSql,
    "l_latest_maintained" -> latestSql,
    // the same synthesized union replayed: newest-per-key over
    // base ∪ tombstones ∪ reinserts, deleted keys filtered at the end
    "l_latest_tombstone" ->
      """WITH mx AS (SELECT MAX(ts) AS mt FROM events),
         base AS (SELECT user_id, event_id, event_type, ts,
                    FALSE AS deleted FROM events),
         tomb AS (SELECT DISTINCT user_id, -user_id - 1 AS event_id,
                    'tombstone' AS event_type,
                    mx.mt + INTERVAL 1 HOUR AS ts, TRUE AS deleted
                  FROM events, mx WHERE user_id % 13 = 0),
         re AS (SELECT DISTINCT user_id, -user_id - 1000000 AS event_id,
                  'reinsert' AS event_type,
                  mx.mt + INTERVAL 2 HOUR AS ts, FALSE AS deleted
                FROM events, mx WHERE user_id % 26 = 0),
         allr AS (SELECT * FROM base UNION ALL
                  SELECT * FROM tomb UNION ALL SELECT * FROM re)
         SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type, deleted,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC, user_id DESC) AS rn
           FROM allr)
         WHERE rn = 1 AND NOT deleted ORDER BY user_id""",
    "l_bucket_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment""",
    "l_rollup_merge" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(floor(value * 10000.0 + 0.5) / 10000.0
             AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // identical oracle to l_rollup_merge — the full recompute IS the
    // invariant the maintained table must hit, whatever the batch split
    "l_rollup_maintained" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(floor(value * 10000.0 + 0.5) / 10000.0
             AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // the full recompute RESTRICTED to the retention window: the
    // vacuumed table must hold exactly the in-window rollup rows
    "l_rollup_retained" ->
      """WITH mm AS (SELECT epoch_us(MIN(ts)) AS t0, epoch_us(MAX(ts)) AS t1
                     FROM events),
         cw AS (SELECT ((t0 + (t1 - t0) // 2) // 86400000000)
                  * 86400000000 AS cd FROM mm)
         SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(floor(value * 10000.0 + 0.5) / 10000.0
             AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
         FROM events, cw
         WHERE CAST(date_trunc('day', ts) AS TIMESTAMP)
           >= make_timestamp(cw.cd)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // the NET recompute: corrected first-half values substituted in
    // place — a dropped retraction or double-applied correction makes
    // the maintained sums diverge from this truth
    "l_rollup_corrected" ->
      """WITH mm AS (SELECT epoch_us(MIN(ts)) AS t0, epoch_us(MAX(ts)) AS t1
                     FROM events),
         cw AS (SELECT t0 + (t1 - t0) // 2 AS cut FROM mm),
         net AS (
           SELECT ts, event_type,
             CASE WHEN event_id % 37 = 0 AND epoch_us(ts) < cw.cut
                  THEN value + 10 ELSE value END AS value
           FROM events, cw)
         SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(floor(value * 10000.0 + 0.5) / 10000.0
             AS DECIMAL(22,4))) AS DOUBLE) AS sum_value
         FROM net GROUP BY 1, 2 ORDER BY 1, 2""",
    // the NET recompute over surviving rows: deletes are each
    // first-half group's argmin/argmax (the same (value, event_id)
    // total order as the fixture) plus the %37 bulk rows — a lost
    // delete, a wrong survivor pick, or a stale net count diverges
    "l_ivm_minmax" ->
      """WITH mm AS (SELECT epoch_us(MIN(ts)) AS t0, epoch_us(MAX(ts)) AS t1
                     FROM events),
         cw AS (SELECT t0 + (t1 - t0) // 2 AS cut FROM mm),
         b1 AS (SELECT * FROM events, cw WHERE epoch_us(ts) < cut),
         ranked AS (
           SELECT event_id,
             row_number() OVER (PARTITION BY date_trunc('day', ts),
               event_type ORDER BY value ASC, event_id ASC) AS rlo,
             row_number() OVER (PARTITION BY date_trunc('day', ts),
               event_type ORDER BY value DESC, event_id DESC) AS rhi
           FROM b1),
         dels AS (
           SELECT event_id FROM ranked WHERE rlo = 1 OR rhi = 1
           UNION
           SELECT event_id FROM b1 WHERE event_id % 37 = 0),
         net AS (
           SELECT * FROM events
           WHERE event_id NOT IN (SELECT event_id FROM dels))
         SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type, COUNT(*) AS n,
           MIN(value) AS min_value, MAX(value) AS max_value
         FROM net GROUP BY 1, 2 ORDER BY 1, 2""",
    // MG above capacity is exact, so the oracle is the plain GROUP BY
    // truth — any eviction, lost merge, or running-total drift in the
    // maintained sketch goes hash-red
    "l_hh_maintained" ->
      """SELECT 'u' || CAST(user_id % 97 AS VARCHAR) AS key,
           COUNT(*) AS est_n,
           (SELECT COUNT(*) FROM events) AS n_total
         FROM events GROUP BY 1 ORDER BY 1""",
    // Verdict-column oracle (x_countmin precedent): exact_n and
    // n_total are exact truths recomputed here; the sketch facts —
    // grid bit-identity and the point-query bounds — are Spark-side
    // verdict columns this side pins to their expected constants.
    "l_cm_maintained" ->
      """WITH keyed AS (
           SELECT CASE WHEN user_id % 10 < 5
             THEN 'hot' || CAST(user_id % 7 AS VARCHAR)
             ELSE 'cold' || CAST(user_id AS VARCHAR) END AS k
           FROM events)
         SELECT k, COUNT(*) AS exact_n,
           (SELECT COUNT(*) FROM keyed) AS n_total,
           CAST(0 AS BIGINT) AS cells_diff,
           TRUE AS no_underestimate, TRUE AS within_2eps
         FROM keyed
         WHERE k IN ('hot0', 'hot1', 'hot2', 'hot3', 'hot4', 'hot5',
           'hot6', 'cold5', 'cold7', 'cold9')
         GROUP BY k ORDER BY k""",
    // exact decimal truth: both engines aggregate in DECIMAL(18,2)
    // (DuckDB natively sums decimals in integer cents) — any double
    // drift or rounding-rule mismatch on the Spark side goes hash-red.
    // The OUTPUT is integer cents (BIGINT): lossless at scale 2, and
    // raw DECIMAL output columns are hash-type-fragile (r11 verdict —
    // values bit-identical, hash red on the physical encoding). The
    // outer CAST on the sum matters: DuckDB SUM(BIGINT) is HUGEINT.
    "l_decimal_mode" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) * 100
             AS BIGINT) AS min_cents,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) * 100
             AS BIGINT) AS max_cents
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // l_scd2_maintained AND l_scd2_late share this oracle VERBATIM:
    // the incremental change log (boundary stitch for in-order ingest;
    // targeted per-user rewrites under the time-shuffled replay) must
    // reproduce the full-history recompute exactly
    "l_scd2" -> scd2Sql,
    "l_scd2_maintained" -> scd2Sql,
    "l_scd2_late" -> scd2Sql,
    // the netted outer view must equal the plain LEFT JOIN recompute
    // against the withheld-customer table: phantom un-retracted null
    // rows or lost null pads cannot hash-match
    "l_ivm_leftjoin" ->
      """WITH nc AS (SELECT * FROM customer WHERE c_custkey % 7 <> 0)
         SELECT o_orderkey, o_custkey, c_custkey, c_name, c_mktsegment,
           o_totalprice
         FROM orders LEFT JOIN nc ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    // the maintained band view must equal the plain band-join
    // recompute — boundary semantics [ts, ts+7d) exactly
    "l_ivm_interval" ->
      """SELECT c.event_id AS click_id, p.event_id AS p_id,
           c.user_id, c.ts AS click_ts, p.ts AS p_ts
         FROM events c JOIN events p ON p.user_id = c.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 7 DAY
         ORDER BY click_id, p_id""",
    // DISTINCT over the NET rows (counting semantics): a key is
    // present iff its inserts minus retractions stay positive
    "l_ivm_distinct" ->
      """WITH mo AS (SELECT MAX(o_orderkey) // 2 AS m FROM orders),
         u AS (
           SELECT o_custkey, o_orderpriority, 1 AS sign FROM orders
           UNION ALL
           SELECT o_custkey, o_orderpriority, -1 FROM orders, mo
           WHERE o_orderkey < mo.m AND o_custkey % 13 = 0),
         net AS (
           SELECT o_custkey, o_orderpriority, SUM(sign) AS n
           FROM u GROUP BY 1, 2)
         SELECT o_custkey, o_orderpriority FROM net WHERE n > 0
         ORDER BY o_custkey, o_orderpriority""",
    // the maintained view must equal the plain join recompute exactly
    "l_ivm_join" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment,
           o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    // the single-commit two-level composition vs the same plain
    // recompute — a drift at either level (or between them) is a
    // hash mismatch
    "l_ivm_joinagg" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    // two composed sinks vs one plain recompute: the gold counts must
    // survive view maintenance AND the downstream merge unchanged
    "l_ivm_rollup" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY 1""",
    // the NET base tables joined: first-half orders %21 and first-half
    // customers %17 were retracted, so they (and every join pair they
    // touched) must be absent from the netted view
    "l_ivm_deletes" ->
      """WITH mo AS (SELECT MAX(o_orderkey) // 2 AS m FROM orders),
         mc AS (SELECT MAX(c_custkey) // 2 AS m FROM customer),
         no_ AS (SELECT o.* FROM orders o, mo
                 WHERE NOT (o_orderkey < mo.m AND o_orderkey % 21 = 0)),
         nc AS (SELECT c.* FROM customer c, mc
                WHERE NOT (c_custkey < mc.m AND c_custkey % 17 = 0))
         SELECT o_orderkey, o_custkey, c_name, c_mktsegment,
           o_totalprice
         FROM no_ JOIN nc ON o_custkey = c_custkey
         ORDER BY o_orderkey""")

  private lazy val scd2Sql: String =
    """WITH c AS (
           SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev
           FROM events),
         ch AS (
           SELECT user_id, event_type, ts, event_id FROM c
           WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS valid_to,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END AS is_current
         FROM ch ORDER BY user_id, valid_from"""
}
