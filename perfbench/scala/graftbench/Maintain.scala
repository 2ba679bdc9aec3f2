package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.etl.Tables
import graft.functions.{TDig, TDigest}
import graft.streaming.Streams

/** `maintain`: a closed loop of ticks. Each tick lands one seeded tick
  * file of `events` rows in the stream source directory, then runs six
  * maintained sinks in a fixed order, each under Trigger.AvailableNow
  * with its own persistent checkpoint, and reads every sink's committed
  * state back, materialized. Four sinks commit through the generation
  * pointer, two through the staged swap.
  *
  * The untimed warm-up commits the first two ticks on the same
  * directories: tick 0 is the backlog (most of the rows), tick 1 an
  * average tick. So every timed tick merges into state that already holds
  * most users, and no timed tick is a sink's first batch.
  */
final class Maintain(c: Ctx) extends Workload {
  import c.{rec, spark, trace}
  val sinks: Seq[String] = Seq("count", "sums", "tdigest", "latest", "hh", "hll")
  private val genSinks = Set("count", "sums", "tdigest", "latest")
  private val HhK = 20
  private val TdDelta = 200
  private val tickDir = new File(s"${c.data}/ticks")
  private val ticks = Option(tickDir.listFiles()).getOrElse(Array.empty)
    .filter(f => f.getName.startsWith("tick_")).sortBy(_.getName).toSeq
  private val landed = mutable.ArrayBuffer[String]()

  private val base = s"${c.work}/maintain"
  private val src = s"$base/src"
  private def state(s: String) = s"$base/state/$s"
  private def ckpt(s: String) = s"$base/ckpt/$s"
  new File(src).mkdirs()
  private lazy val stream: DataFrame =
    spark.readStream.schema(Tables.events).parquet(src)

  private def start(sink: String): StreamingQuery = {
    val st = state(sink)
    val ck = Some(ckpt(sink))
    sink match {
      case "count" => Streams.countMaintain(stream, "event_type", st, ck)()
      case "sums" => Streams.sumsMaintain(stream, Seq("user_id"),
          Seq("v", "n"), st, ck)(_.groupBy("user_id").agg(
          sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)")
            .as("v"), count(lit(1)).as("n")))
      case "tdigest" => Streams.tdigestMaintain(stream, "event_type",
          "value", st, TdDelta, ck)
      case "latest" => Streams.latestMaintain(stream, st, "user_id", "ts",
          Seq("event_id"), ck)
      case "hh" => Streams.heavyHittersMaintain(
          stream.withColumn("user", col("user_id").cast("string")),
          "user", st, HhK, ck)
      case "hll" => Streams.hllMaintain(stream, "user_id", st, 12, ck)
    }
  }

  private def read(sink: String): DataFrame =
    if (genSinks(sink)) Streams.readGenMaintained(spark, state(sink))
    else Streams.readMaintained(spark, state(sink))

  /** Lands `f` in the source dir atomically (file sources skip names
    * starting with `_` while the copy is in flight). */
  private def land(f: File): Unit = {
    val tmp = new File(src, s"_landing_${f.getName}").toPath
    Files.copy(f.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, new File(src, f.getName).toPath,
      StandardCopyOption.ATOMIC_MOVE)
    landed += f.getName
  }

  private val queryOp = mutable.Map[String, String]()

  private def tick(op: String, sink: String, timed: Boolean): Boolean = {
    val ok = rec.attempt(op) {
      val t0 = System.nanoTime()
      trace.op(op, "maintain.tick") {
        val q = start(sink)
        queryOp(q.runId.toString) = op
        require(q.awaitTermination(600000), s"$sink did not drain")
        q.exception.foreach(e => throw e)
      }
      if (timed) rec.add("op_ms", (System.nanoTime() - t0) / 1e6)
    }.isDefined
    rec.attempt(s"$op:read") {
      val t0 = System.nanoTime()
      trace.op(s"$op:read", "maintain.read")(read(sink).collect())
      if (timed) rec.add("mat_ms", (System.nanoTime() - t0) / 1e6)
    }.isDefined && ok
  }

  def warmup(): Unit = ticks.take(2).zipWithIndex.foreach { case (f, t) =>
    land(f)
    sinks.foreach(s => tick(s"w:$t:$s", s, timed = false))
  }

  private val written = mutable.ArrayBuffer[Double]()
  private var inputBytes = 0.0

  private def files(root: String): Map[String, (Long, Long)] = {
    val base = new File(root)
    if (!base.exists()) Map.empty
    else {
      val it = Files.walk(base.toPath).iterator()
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val f = it.next().toFile
        if (f.isFile) b += f.getPath -> ((f.length, f.lastModified))
      }
      b.result()
    }
  }

  private def stateFiles() = files(s"$base/state") ++ files(s"$base/ckpt")

  /** The ticks after the warm-up: `reps` complementary-size pairs, so
    * every run commits the same row count. */
  def timed(): Unit = {
    val t0 = System.nanoTime()
    var before = if (trace.enabled) stateFiles() else Map.empty[String, (Long, Long)]
    var rows = 0.0
    val tickRows = Manifest.rows(tickDir)
    for (t <- 2 until ticks.size) {
      val r0 = System.nanoTime()
      val f = ticks(t)
      land(f)
      val ok = sinks.map(s => tick(s"x:$t:$s", s, timed = true))
        .forall(identity)
      if (ok) {
        rec.add("pass_s", (System.nanoTime() - r0) / 1e9)
        rows += tickRows(f.getName) * sinks.size
      }
      if (trace.enabled) {
        val after = stateFiles()
        written += after.collect { case (p, v) if !before.get(p).contains(v) =>
          v._1.toDouble }.sum
        inputBytes += f.length
        before = after
      }
    }
    rec.count("loop_s", (System.nanoTime() - t0) / 1e9)
    rec.count("rows_committed", rows)
  }

  def verify(): Unit = {
    import spark.implicits._
    rec.checks += Map("kind" -> "maintain_landed", "ticks" -> landed.toSeq)
    sinks.foreach { s =>
      rec.attempt(s"verify:$s") {
        val df = read(s)
        val evidence: Map[String, Any] = s match {
          case "count" | "sums" | "latest" => Map("files" -> df.inputFiles.toSeq)
          case "tdigest" => Map("keys" -> df.select("key", "td")
            .as[(String, TDig)].collect().toSeq.map { case (k, td) =>
              val est = TDigest.quantile(td, 0.5)
              Map("key" -> k, "est" -> est, "n" -> td.n,
                "bound" -> TDigest.rankErrorBound(td, est))
            })
          case "hh" =>
            val row = df.as[(Long, Map[String, Long])].head()
            Map("n" -> row._1, "k" -> HhK, "mg" -> row._2)
          case "hll" =>
            val row = df.select(col("n"), hll_sketch_estimate(col("hll")))
              .head()
            Map("n" -> row.getLong(0), "est" -> row.getLong(1))
        }
        rec.checks += Map("kind" -> "maintain", "sink" -> s) ++ evidence
      }
    }
  }

  def layers(wallMs: Double): Map[String, Double] = {
    val timedOp = (o: String) => o.startsWith("x:")
    val spans = trace.spans.toSeq.filter(s => timedOp(s.op) && s.parent < 0)
    val byOp = spans.map(s => s.op -> s).toMap
    val prog = trace.progress.toSeq.flatMap { case (q, ts, d) =>
      queryOp.get(q).filter(timedOp).map(op => (op, ts, d))
    }
    val nTicks = math.max(1, ticks.size - 2).toDouble
    def sumBytes(fs: Iterable[String]) =
      fs.map(p => new File(p).length.toDouble).sum
    val live = sinks.map { s =>
      if (genSinks(s)) sumBytes(read(s).inputFiles
        .map(u => new File(new java.net.URI(u)).getPath))
      else sumBytes(files(state(s)).keys)
    }.sum
    val stateBytes = sinks.map(s => sumBytes(files(state(s)).keys)).sum
    trace.execMetrics(timedOp, spans, wallMs, c.cores) ++ Map(
      "maintain.jobs_per_tick" -> trace.jobsOf(timedOp).size / nTicks,
      "maintain.bytes_written_per_input_byte" ->
        (if (inputBytes > 0) written.sum / inputBytes else 0.0),
      "maintain.state_bytes_per_live_byte" ->
        (if (live > 0) stateBytes / live else 0.0)) ++ sinks.flatMap { s =>
      val ticksOf = spans.filter(x => x.op.endsWith(s":$s"))
      val mine = prog.filter(_._1.endsWith(s":$s"))
      val first = mine.groupBy(_._1).values.map(_.minBy(_._2)).toSeq
      def dur(keys: String*) = Stats.median(mine.map(p =>
        keys.map(k => p._3.getOrElse(k, 0L)).sum.toDouble))
      Seq(
        s"maintain.$s.start_ms" -> Stats.median(first.flatMap(p =>
          byOp.get(p._1).map(sp => p._2 - sp.start))),
        s"maintain.$s.add_batch_ms" -> dur("addBatch"),
        s"maintain.$s.commit_log_ms" -> dur("walCommit", "commitOffsets"),
        s"maintain.$s.tick_ms" -> Stats.median(ticksOf.map(_.ms)),
        s"maintain.$s.read_ms" -> Stats.median(spans
          .filter(x => x.op.endsWith(s":$s:read")).map(_.ms)))
    }
  }
}

/** Row counts of the tick files, written by perfbench/gen.py. */
object Manifest {
  def rows(tickDir: File): Map[String, Double] = {
    val txt = new String(Files.readAllBytes(
      new File(tickDir, "manifest.tsv").toPath), "UTF-8")
    txt.linesIterator.filter(_.nonEmpty).map { l =>
      val Array(name, n) = l.split("\t")
      name -> n.toDouble
    }.toMap
  }
}
