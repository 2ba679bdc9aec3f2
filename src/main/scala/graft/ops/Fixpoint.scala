package graft.ops

import org.apache.spark.sql.DataFrame

/** The driver of every convergent loop — k-means, connected components,
  * landmark BFS and its incremental relaxation, full-sync and frontier
  * LPA, the k-core peel: Pregel-style iteration to a CHECKED fixpoint.
  * A loop still moving at its cap fails with its own named cause rather
  * than return a non-fixpoint, and every round prints one progress line
  * in one format.
  *
  * Kept out on purpose: `Text.bpeTrainRounds` and g_modularity's
  * three-round chains have a fixed depth and no convergence test; a
  * fixed-round mode here would be a second code path around a `map`.
  */
object Fixpoint {

  /** Iterate `step` from `s0` while the last progress (`progress0`
    * before the first round; 0 runs no round) is positive and fewer than
    * `cap` rounds have run, then require zero progress, failing with
    * `cause`. Returns the final state and the rounds run. Each round
    * prints `[tag] round=N progress=M wall=…s` on stderr: CPU steal
    * shows as one slow round, plan regrowth as rounds slowing steadily.
    */
  def run[S](tag: String, cap: Int, cause: => String)(s0: S,
      progress0: Long)(step: S => (S, Long)): (S, Int) = {
    var s = s0
    var progress = progress0
    var rounds = 0
    while (progress > 0 && rounds < cap) {
      val t0 = System.nanoTime()
      val (next, p) = step(s)
      s = next
      progress = p
      rounds += 1
      Console.err.println(f"[$tag] round=$rounds progress=$progress " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    require(progress == 0, cause)
    (s, rounds)
  }

  /** One action per round: a LAZY checkpoint of `df` (`ckpt`, swappable
    * for a reliable checkpoint), filled by the one `count()` of `counted`
    * over it — so an eager checkpoint's (checkpoint, count) job pair
    * folds into one job, and later readers hit the cache. `counted` must
    * read the checkpoint once: a lazy checkpoint read twice inside one
    * job could compute partitions twice.
    *
    * Measured and rejected: an eager checkpoint carrying the count in
    * `Dataset.observe` ran the same 2 jobs on a 100k-row join-shaped
    * round and was slower (median 289 vs 208 ms, Spark 4.1.2 `local[4]`).
    */
  def settle(df: DataFrame,
      ckpt: DataFrame => DataFrame = _.localCheckpoint(false))(
      counted: DataFrame => DataFrame = identity): (DataFrame, Long) = {
    val c = ckpt(df)
    (c, counted(c).count())
  }
}
