package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** What one run records. Samples are raw; perfbench/run.py turns them
  * into the reported metrics after checking `checks` against DuckDB. */
final class Rec {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val counters = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  val failures = mutable.ArrayBuffer[(String, String)]()
  var attempted = 0L

  def add(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer[Double]()) += v
  def count(key: String, v: Double = 1.0): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + v

  /** Runs one benchmark op; an exception is a failed op, named with its
    * cause, and the loop goes on. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        val cause = Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(3).mkString(" | ")
        failures += ((op, s"${e.getClass.getSimpleName}: $cause"))
        None
    }
  }
}

/** Everything a workload needs. `data` is the seeded corpus directory,
  * `work` the run's own scratch directory (empty at start). */
final case class Ctx(spark: SparkSession, trace: Trace, data: String,
    work: String, seed: Long, reps: Int, cores: Int, rec: Rec)

trait Workload {
  /** One untimed pass of every template, step or sink. */
  def warmup(): Unit
  /** The measured closed loop: `ctx.reps` whole cycles of the workload's
    * op mix, a fixed amount of work so every run measures the same mix. */
  def timed(): Unit
  /** Untimed correctness evidence for the checks run.py makes. */
  def verify(): Unit
  /** Per-layer metrics of the traced run (after the bus is drained). */
  def layers(timedWallMs: Double): Map[String, Double]
}

/** `graftbench.Main --workload W --seed N --reps R --trace 0|1
  *   --data DIR --work DIR --out FILE`
  *
  * Builds one local[N] session, warms the workload up untimed, runs the
  * timed loop, gathers correctness evidence untimed, and writes one JSON
  * result file (plus the span file of a traced run).
  */
object Main {
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val work = a("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val traced = a.getOrElse("trace", "0") == "1"

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/ckpt-default")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUpMs = System.currentTimeMillis()
    val trace = new Trace(spark, traced)
    val rec = new Rec
    val ctx = Ctx(spark, trace, a("data"), work, a("seed").toLong,
      a("reps").toInt, cores, rec)
    val w: Workload = workload match {
      case "extract" => new Extract(ctx)
      case "curate" => new Curate(ctx)
      case "maintain" => new Maintain(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    w.warmup()
    val setupEndMs = System.currentTimeMillis()
    val before = TmpWatch.snapshot()
    val jvm0 = JvmCounters.read()
    val t0 = System.nanoTime()
    w.timed()
    val timedWallMs = (System.nanoTime() - t0) / 1e6
    JvmCounters.read().foreach { case (k, v) =>
      rec.counters(s"timed_$k") = v - jvm0(k) }
    val changed = TmpWatch.changed(before, TmpWatch.snapshot())
    if (changed.nonEmpty)
      rec.failures += (("isolation",
        s"timed pass touched ${changed.take(5).mkString(", ")}"))
    w.verify()
    trace.drain()
    if (traced) rec.layer ++= w.layers(timedWallMs)

    val out = Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "cores" -> cores,
      "traced" -> traced,
      "jvm_start_ms" -> java.lang.management.ManagementFactory
        .getRuntimeMXBean.getStartTime,
      "session_up_ms" -> sessionUpMs,
      "setup_end_ms" -> setupEndMs,
      "timed_wall_ms" -> timedWallMs,
      "attempted" -> rec.attempted,
      "failures" -> rec.failures.map { case (o, c) =>
        Map("op" -> o, "cause" -> c) },
      "samples" -> rec.samples,
      "counters" -> rec.counters,
      "layer" -> rec.layer,
      "checks" -> rec.checks)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")),
      Json.render(out))
    if (traced)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(a("out") + ".spans.json"),
        Json.render(trace.spansJson))
    spark.stop()
  }
}

/** Detects program state written under /tmp/graft_* (the registry's
  * Replay dirs persist across JVMs, so state left there by an earlier run
  * would let a later run skip work). Directory mtimes, three levels. */
object TmpWatch {
  def snapshot(): Map[String, Long] = {
    val tmp = new java.io.File("/tmp")
    val roots = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
    def walk(f: java.io.File, depth: Int): Seq[(String, Long)] =
      (f.getPath -> f.lastModified) +: (if (depth == 0) Nil else
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .filter(_.isDirectory).flatMap(walk(_, depth - 1)))
    roots.toSeq.flatMap(walk(_, 2)).toMap
  }

  def changed(a: Map[String, Long], b: Map[String, Long]): Seq[String] =
    (a.keySet ++ b.keySet).toSeq.sorted.filter(k => a.get(k) != b.get(k))
}

/** JVM-wide counters read around the timed window, kept in the result
  * file: they show how much of the window went to JIT compilation and
  * GC rather than to the workload. */
object JvmCounters {
  import java.lang.management.ManagementFactory
  def read(): Map[String, Double] = Map(
    "jit_ms" -> ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime.toDouble,
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
        .getCollectionTime).sum.toDouble,
    "cpu_ms" -> ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e6)
}
