package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ops.{Dedup, Extras, Fixpoint, Vectors}

/** The convergent loops on their one driver: a loop still moving at its
  * cap fails with its own cause instead of returning a non-fixpoint, and
  * every loop stays within the Spark jobs per round it ran before it was
  * moved onto [[Fixpoint]].
  */
class FixpointSpec extends SparkTestBase {
  import spark.implicits._

  private def sym(p: Seq[(Long, Long)]): DataFrame =
    (p ++ p.map(e => (e._2, e._1))).toDF("u", "v")

  /** The progress lines `body` prints for `tag`, one per round. */
  private def roundsOf(tag: String)(body: => Unit): Int = {
    val err = new java.io.ByteArrayOutputStream
    Console.withErr(new java.io.PrintStream(err, true, "UTF-8"))(body)
    err.toString("UTF-8").linesIterator.count(_.startsWith(s"[$tag] round="))
  }

  test("Fixpoint.run: a step still moving at the cap fails with the " +
      "loop's cause after exactly cap rounds; zero progress runs none") {
    var calls = 0
    val e = intercept[IllegalArgumentException] {
      Fixpoint.run("spec", 3, "spec loop still moving")(0, 1L) { s =>
        calls += 1
        (s + 1, 1L)
      }
    }
    assert(e.getMessage == "requirement failed: spec loop still moving")
    assert(calls == 3)
    assert(Fixpoint.run("spec", 3, "unreachable")("s0", 0L) { s =>
      fail("an empty initial frontier must run no round")
    } == (("s0", 0)))
  }

  test("ssspBfs refuses to return truncated distances past its round cap") {
    // path 1-2-3-4: depth 3 from landmark 1, so one round leaves a live
    // frontier
    val edges = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val seeds = Seq((1L, 1L, 0)).toDF("lm", "u", "dist")
    val e = intercept[IllegalArgumentException] {
      Extras.ssspBfs(edges, seeds, maxRounds = 1)
    }
    assert(e.getMessage.contains("BFS frontier still alive after 1 rounds"),
      e.getMessage)
    assert(Extras.ssspBfs(edges, seeds).count() == 4)
  }

  test("every convergent loop stays within its jobs per round") {
    // Bounds: the jobs each loop ran on the same fixture before it moved
    // onto Fixpoint (its rounds plus one-off setup; AQE runs each shuffle
    // stage as a job of its own), and the rounds it took. An extra action
    // per round breaks the bound. lpaFrontier runs 38 jobs on Fixpoint:
    // its delta settles in one action instead of a checkpoint and a count.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val weighted = sym(k4).withColumn("w", lit(1L))
    val identity = Seq(1L, 2L, 3L, 4L).toDF("u").withColumn("lab", col("u"))
    // shortcut (1, 5) inserted into a path with an appendage: from node
    // 5's improvement, round one improves 4 and 6, round two nothing
    val pathE = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (2L, 7L))
    val seeds = Seq((1L, 1L, 0)).toDF("lm", "u", "dist")
    val prev = Extras.ssspBfs(sym(pathE), seeds).localCheckpoint()
    val relaxFrontier = Seq((1L, 5L, 1)).toDF("lm", "u", "dist")
    // two direction clusters, labelled so the first centroids straddle
    // them: Lloyd moves points between cells before it settles
    val emb = spark.createDataFrame(java.util.Arrays.asList(
      (0 until 24).map { i =>
        val deg = if (i < 12) i * 3.0 else 80.0 + (i - 12) * 3.0
        val r = math.toRadians(deg)
        Row(i.toLong, Seq(java.lang.Float.valueOf(math.cos(r).toFloat),
          java.lang.Float.valueOf(math.sin(r).toFloat)),
          if (i < 16) 0 else 1)
      }: _*), StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
    // (loop, progress tag, rounds, jobs before Fixpoint, run)
    val loops: Seq[(String, String, Int, Int, () => Unit)] = Seq(
      ("connectedComponents", "cc", 4, 50, () =>
        Dedup.connectedComponents(
          (1L until 10L).map(i => (i, i + 1)).toDF("a", "b"))),
      ("ssspBfs", "g_sssp", 5, 35, () =>
        Extras.ssspBfs(sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))),
          seeds)),
      ("ssspRelax", "g_sssp_incr", 2, 18, () =>
        Extras.ssspRelax(sym(pathE :+ ((1L, 5L))), prev, relaxFrontier)),
      ("lpaFixpoint", "g_labelprop_conv", 3, 19, () =>
        Extras.lpaFixpoint(weighted, identity)),
      ("lpaFrontier", "g_labelprop_incr", 3, 41, () =>
        Extras.lpaFrontier(weighted, identity.localCheckpoint(),
          identity.select("u"))),
      ("kcorePeel", "g_kcore", 3, 21, () =>
        Extras.kcorePeel(sym(k4 ++ Seq((5L, 1L), (5L, 2L), (5L, 6L),
          (6L, 7L))))),
      ("kmeansLoop", "spec_kmeans", 2, 6, () =>
        Vectors.kmeansLoop(emb, "spec_kmeans")))
    // One job group per loop run. AQE launches an occasional extra job
    // (1 of 12 k-core runs, at the parent too), so a loop's count is the
    // least of three runs; an extra action per round shows in every run.
    val sc = spark.sparkContext
    val measured = loops.map { case (name, tag, rounds, bound, run) =>
      val (r, jobs) = (1 to 3).map { i =>
        var r = 0
        val group = s"fixpoint-$name-$i"
        val jobs = jobsWhere(_.getProperty("spark.jobGroup.id") == group) {
          sc.setJobGroup(group, name)
          try r = roundsOf(tag)(run()) finally sc.clearJobGroup()
        }
        (r, jobs)
      }.minBy(_._2)
      (name, r, rounds, jobs, bound)
    }
    info(measured.map { case (n, r, _, j, b) =>
      f"$n: $r rounds, $j jobs (${j.toDouble / r}%.1f/round; bound $b)"
    }.mkString("; "))
    val off = measured.filter { case (_, r, rounds, jobs, bound) =>
      r != rounds || jobs > bound
    }
    assert(off.isEmpty, "(loop, rounds, rounds before, jobs, jobs before) " +
      s"off their bounds: $off")
  }
}
