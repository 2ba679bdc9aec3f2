package graftbench

import graft.SparkEntry

/** `curate`: one pass is a fixed LLM-curation pipeline over the seeded
  * corpus, each step a registry query fully materialized to the `noop`
  * format (never `.count()`, which lets Catalyst prune the computed
  * columns). The untimed warm-up pass writes each step to parquet
  * instead, and run.py checks those files against the step's
  * `SparkEntry.oracleSql` entry in DuckDB.
  */
final class Curate(c: Ctx) extends Workload {
  import c.{rec, spark, trace}
  val steps: Seq[(String, String)] = Seq(
    "quality" -> "t_quality", "exact" -> "d_exact",
    "minhash" -> "d_minhash_pairs", "clusters" -> "d_clusters",
    "simhash" -> "d_simhash_hamming", "kmeans" -> "v_kmeans_conv",
    "semdedup" -> "d_semdedup", "lmscore" -> "t_lmscore",
    "bpe" -> "t_bpe_encode", "ann" -> "v_ann_ivf4")
  private val queries = SparkEntry.queries

  def warmup(): Unit = steps.foreach { case (step, q) =>
    val out = s"${c.work}/curate/$q"
    rec.attempt(s"w:$step") {
      queries(q)(spark, c.data).write.mode("overwrite").parquet(out)
      rec.checks += Map("kind" -> "curate", "op" -> s"w:$step",
        "step" -> step, "query" -> q, "sql" -> SparkEntry.oracleSql(q),
        "path" -> out)
    }
    spark.catalog.clearCache()
  }

  def timed(): Unit =
    for (pass <- 0 until c.reps) {
      val p0 = System.nanoTime()
      var ok = true
      steps.foreach { case (step, q) =>
        val op = s"x:$pass:$step"
        ok &= rec.attempt(op) {
          val t0 = System.nanoTime()
          val t1 = trace.op(op, "curate.step") {
            val df = trace.span("build")(queries(q)(spark, c.data))
            val t1 = System.nanoTime()
            trace.span("exec")(
              df.write.format("noop").mode("overwrite").save())
            t1
          }
          val t2 = System.nanoTime()
          rec.add("op_ms", (t2 - t0) / 1e6)
          rec.add("mat_ms", (t2 - t1) / 1e6)
        }.isDefined
        spark.catalog.clearCache()
      }
      if (ok) rec.add("pass_s", (System.nanoTime() - p0) / 1e9)
    }

  def verify(): Unit = ()

  def layers(wallMs: Double): Map[String, Double] = {
    val timedOp = (o: String) => o.startsWith("x:")
    val spans = trace.spans.toSeq.filter(s => timedOp(s.op))
    val roots = spans.filter(_.parent < 0)
    val jobsByOp = trace.jobsOf(timedOp).groupBy(_.op)
    trace.execMetrics(timedOp, roots, wallMs, c.cores) ++ steps.flatMap {
      case (step, _) =>
        val mine = spans.filter(_.op.endsWith(s":$step"))
        def med(name: String) =
          Stats.median(mine.filter(_.name == name).map(_.ms))
        Seq(
          s"curate.$step.build_ms" -> med("build"),
          s"curate.$step.exec_ms" -> med("exec"),
          s"curate.$step.jobs" -> Stats.median(mine.filter(_.parent < 0)
            .map(r => jobsByOp.getOrElse(r.op, Nil).size.toDouble)))
    }
  }
}
