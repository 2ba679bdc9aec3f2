package graft

import org.apache.spark.sql.functions._
import graft.streaming.{GenPointerStore, PosixGenPointer, Streams}

/** An in-memory object store for the generation pointer: one object
  * per key, a fresh etag on every successful put, and a CONDITIONAL
  * PUT that fails whenever the caller's If-Match token is stale —
  * the S3/GCS consistency model the gen layout's commit protocol is
  * written against. Mutations are serialized (object stores linearize
  * per-key metadata ops); the etag is content-INDEPENDENT, like a
  * real store's, so the fake is stricter than the POSIX
  * content-as-token impl. */
final class FakeObjectStore extends GenPointerStore {
  private val objects =
    scala.collection.mutable.Map[String, (String, String)]()
  private var etagSeq = 0L
  /** Conditional failures observed — the lost-update rejections. */
  @volatile var rejected = 0

  def read(statePath: String): Option[(String, String)] =
    synchronized(objects.get(statePath))

  def putIf(statePath: String, label: String,
      expect: Option[String]): Boolean = synchronized {
    if (objects.get(statePath).map(_._2) != expect) {
      rejected += 1; false
    } else {
      etagSeq += 1
      objects(statePath) = (label, s"etag-$etagSeq")
      true
    }
  }

  /** Committed generation NUMBER (the label's numeric prefix). */
  def genNum(statePath: String): Long =
    read(statePath).map(c => c._1.takeWhile(_.isDigit).toLong).get
}

/** A pointer-store wrapper that counts `read`s and, once armed, runs a
  * concurrent commit right after the N-th one — the caller still gets
  * the value read BEFORE that commit, which is exactly a publisher
  * being overtaken between two of its own steps. Single-threaded: the
  * interleaved commit runs inline and its own reads do not re-fire. */
final class InterleavingStore(inner: GenPointerStore) extends GenPointerStore {
  var reads = 0
  private var fireAt = 0
  private var concurrent: () => Unit = () => ()

  /** Reset the count; after the `n`-th read from now, run `commit`
    * once (n = 0: never). */
  def arm(n: Int)(commit: => Unit): Unit = {
    reads = 0; fireAt = n; concurrent = () => commit
  }

  def read(statePath: String): Option[(String, String)] = {
    val r = inner.read(statePath)
    reads += 1
    if (reads == fireAt) { fireAt = 0; concurrent() }
    r
  }

  def putIf(statePath: String, label: String,
      expect: Option[String]): Boolean = inner.putIf(statePath, label, expect)
}

/** The gen layout's object-store contract: commits go through ONE
  * conditional PUT of the pointer, lost updates are rejected (not
  * silently absorbed), and a maintained table stays byte-identical to
  * its POSIX-pointer twin when the pointer lives in an object store —
  * i.e. the data plane never depended on rename atomicity. */
class GenPointerSpec extends SparkTestBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("conditional PUT: a stale If-Match token is rejected — of two " +
      "publishers that read the same version, exactly one commits") {
    val store = new FakeObjectStore
    val key = "/state/counts"
    assert(store.putIf(key, "0", None), "create-if-absent must succeed")
    val a = store.read(key).get
    val b = store.read(key).get
    assert(a == b)
    // both writers resolved gen 0; writer A flips first — note the
    // DISTINCT nonce-suffixed labels: racing publishers name distinct
    // dirs even for the same generation number
    assert(store.putIf(key, "1-aaaa", Some(a._2)))
    // writer B holds a now-stale token: must be rejected even though
    // it proposes the SAME generation number (version check, not
    // value check)
    assert(!store.putIf(key, "1-bbbb", Some(b._2)),
      "a stale token committed — lost update")
    // and a blind create against an existing pointer is rejected too
    assert(!store.putIf(key, "2", None))
    assert(store.read(key).get._1 == "1-aaaa")
    assert(store.genNum(key) == 1L)
    assert(store.rejected == 2)
  }

  test("publishGen commits through a bound object store and refuses " +
      "loudly when a concurrent publisher wins the race") {
    val base = tmpDir("genstore_race")
    val statePath = s"$base/st"
    val store = new FakeObjectStore
    GenPointerStore.bind(statePath, store)
    try {
      def writeMarkerFileOnly(tag: String)(
          prev: Option[String], dir: String): Unit = {
        new java.io.File(dir).mkdirs()
        java.nio.file.Files.write(
          new java.io.File(dir, s"$tag.txt").toPath,
          tag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      Streams.publishGen(statePath, 0L)(writeMarkerFileOnly("base"))
      assert(store.genNum(statePath) == 0L)
      assert(!new java.io.File(statePath, PosixGenPointer.Marker)
        .exists(), "a bound object store still wrote the POSIX pointer")
      // interleave: publisher A resolves the pointer, and DURING its
      // data write a second publisher commits the next generation. A's
      // conditional flip must fail loudly — its generation is an
      // uncommitted orphan, never silently "committed over" B's.
      val e = intercept[IllegalArgumentException] {
        Streams.publishGen(statePath, 1L) { (prev, dir) =>
          writeMarkerFileOnly("a")(prev, dir)
          Streams.publishGen(statePath, 1L)(writeMarkerFileOnly("b"))
        }
      }
      assert(e.getMessage.contains("lost a race"))
      assert(store.rejected == 1)
      // the winner's commit stands and readers resolve it
      val label = store.read(statePath).get._1
      assert(label.takeWhile(_.isDigit).toLong == 1L)
      val winDir = new java.io.File(s"$statePath/gen=$label")
      assert(new java.io.File(winDir, "b.txt").exists(),
        "pointer does not resolve the winning publisher's generation")
      // the r18-advice data-plane guarantee: the LOSER'S writes went
      // into its own uniquely-named orphan dir, so the committed
      // generation holds ONLY the winner's files — a shared gen=N dir
      // would have let A's overwrite clobber B's committed data
      assert(!new java.io.File(winDir, "a.txt").exists(),
        "the losing publisher's data interleaved into the committed " +
          "generation")
      val loserDirs = new java.io.File(statePath).listFiles()
        .filter(f => f.getName.startsWith("gen=1") &&
          f.getName != s"gen=$label")
      assert(loserDirs.length == 1 &&
        new java.io.File(loserDirs.head, "a.txt").exists(),
        "the losing attempt's orphan dir is missing — where did its " +
          "write land?")
    } finally GenPointerStore.unbind(statePath)
  }

  test("a maintained count table through the object-store pointer is " +
      "byte-identical to the POSIX-pointer twin (the data plane never " +
      "relies on rename)") {
    import spark.implicits._
    val base = tmpDir("genstore_counts")
    val posixPath = s"$base/posix"
    val storePath = s"$base/fake"
    GenPointerStore.bind(storePath, new FakeObjectStore)
    try {
      val b1 = Seq("a", "a", "b").toDF("k")
      val b2 = Seq("b", "c").toDF("k")
      for (p <- Seq(posixPath, storePath)) {
        Streams.countBatch(b1, "k", p, 0L)
        Streams.countBatch(b2, "k", p, 1L)
        // retry redelivery: the exactly-once marker reads through the
        // bound pointer store too
        Streams.countBatch(b2, "k", p, 1L)
      }
      def state(p: String) = Streams.readGenMaintained(spark, p)
        .as[(String, Long)].collect().toMap
      val want = Map("a" -> 2L, "b" -> 2L, "c" -> 1L)
      assert(state(posixPath) == want)
      assert(state(storePath) == want)
      // POSIX twin committed via the marker file; object-store twin
      // committed via the store — and GC ran identically on both
      assert(new java.io.File(posixPath, PosixGenPointer.Marker).exists())
      assert(!new java.io.File(storePath, PosixGenPointer.Marker).exists())
      // compare generation NUMBERS — the nonce suffix is
      // publisher-unique by design, so raw dir names differ
      def gens(p: String) = new java.io.File(p).listFiles()
        .map(_.getName).filter(_.startsWith("gen="))
        .map(_.stripPrefix("gen=").takeWhile(_.isDigit).toLong)
        .sorted.toSeq
      assert(gens(posixPath) == gens(storePath))
    } finally GenPointerStore.unbind(storePath)
  }

  test("lost-update window: a commit that lands after ANY of a merge's " +
      "pointer reads is either counted or refused — never silently " +
      "dropped") {
    // The commit's reads of the pointer are all its inputs: the
    // exactly-once marker, the previous generation it merges onto, and
    // the If-Match token of the flip. If those came from DIFFERENT
    // reads, a publisher committing between them would have its batch
    // merged away while the flip still succeeds on the fresh token. So
    // interleave a concurrent commit (batch 1) after EVERY read the
    // victim's commit (batch 2) makes: each outcome must either count
    // both batches, or refuse the victim loudly so its retry does.
    import spark.implicits._
    val b0 = Seq("a").toDF("k")
    val b1 = Seq("b", "b").toDF("k")
    val b2 = Seq("c").toDF("k")
    def fresh(): (String, InterleavingStore) = {
      val p = tmpDir("genstore_lost") + "/st"
      val store = new InterleavingStore(new FakeObjectStore)
      GenPointerStore.bind(p, store)
      Streams.countBatch(b0, "k", p, 0L)
      (p, store)
    }
    def state(p: String) = Streams.readGenMaintained(spark, p)
      .as[(String, Long)].collect().toMap
    val (probe, probeStore) = fresh()
    val readsPerCommit = try {
      probeStore.arm(0)(())
      Streams.countBatch(b2, "k", probe, 2L)
      probeStore.reads
    } finally GenPointerStore.unbind(probe)
    assert(readsPerCommit >= 1)
    for (n <- 1 to readsPerCommit) {
      val (p, store) = fresh()
      try {
        store.arm(n)(Streams.countBatch(b1, "k", p, 1L))
        val refused = try { Streams.countBatch(b2, "k", p, 2L); None }
        catch { case e: IllegalArgumentException => Some(e.getMessage) }
        refused.foreach { msg =>
          assert(msg.contains("lost a race"), s"read $n: $msg")
          Streams.countBatch(b2, "k", p, 2L) // the foreachBatch retry
        }
        assert(state(p) == Map("a" -> 1L, "b" -> 2L, "c" -> 1L),
          s"a commit after read $n of $readsPerCommit was lost")
      } finally GenPointerStore.unbind(p)
    }
  }

  test("list-after-put: a reader of a just-flipped pointer sees the " +
      "FULL generation under a strong-list store, for every " +
      "publisher/reader interleaving — and the legacy eventual-LIST " +
      "model has a concrete counter-example (the REQUIRED guarantee)") {
    // The gen layout's data plane is write-once files + pointer-LAST:
    // every gen=N object is PUT strictly before the pointer flip, and
    // a reader only lists gen=N after it has READ a pointer naming N.
    // That protocol is safe iff the store guarantees list-after-put
    // ORDERING across keys: a LIST issued after a GET that returned
    // the pointer must include every object PUT before the pointer's
    // PUT. S3 (since its Dec 2020 strong-consistency change) and GCS
    // both provide this; the legacy eventual-LIST model does NOT, and
    // under it a reader can resolve gen=N yet list a PARTIAL
    // generation — which is why the layout's store contract REQUIRES
    // strong list-after-put (documented on GenPointerStore), not just
    // the conditional PUT.
    final class ModelDataPlane(strongList: Boolean) {
      private val objects = scala.collection.mutable.Set[String]()
      private val unlisted = scala.collection.mutable.Set[String]()
      def put(k: String): Unit = synchronized {
        objects += k; if (!strongList) unlisted += k; ()
      }
      def list(prefix: String): Set[String] = synchronized {
        objects.diff(unlisted).filter(_.startsWith(prefix)).toSet
      }
      def settle(): Unit = synchronized { unlisted.clear() }
    }
    val files = (1 to 4).map(i => s"gen=1/part-$i.parquet")
    // STRONG model: enumerate every reader position relative to the
    // publisher's steps (after each put, and after the flip). The
    // reader proceeds only once the pointer names gen 1 — and must
    // then list ALL four files. Write-once + pointer-last makes this
    // a theorem under the strong model; the loop checks every
    // interleaving anyway (the proof obligation, made executable).
    for (readerAt <- 0 to files.size) {
      val plane = new ModelDataPlane(strongList = true)
      val ptr = new FakeObjectStore
      var readerSawGen = Option.empty[String]
      files.zipWithIndex.foreach { case (f, i) =>
        plane.put(f)
        // reader polls the pointer mid-publish: sees nothing yet
        if (i == readerAt && readerSawGen.isEmpty)
          readerSawGen = ptr.read("/p").map(_._1)
      }
      assert(readerSawGen.isEmpty,
        "reader resolved a generation before the flip")
      assert(ptr.putIf("/p", "1", None))
      // reader now observes the flipped pointer, then lists
      val gen = ptr.read("/p").get._1
      assert(gen == "1")
      assert(plane.list(s"gen=$gen/") == files.toSet,
        s"strong-list reader saw a partial generation at $readerAt")
    }
    // WEAK model: same protocol, eventual LIST — the reader resolves
    // the pointer but the list misses every file until the plane
    // settles. This is the counter-example that makes the strong
    // guarantee a REQUIREMENT, not an optimization.
    val plane = new ModelDataPlane(strongList = false)
    val ptr = new FakeObjectStore
    files.foreach(plane.put)
    assert(ptr.putIf("/p", "1", None))
    assert(ptr.read("/p").get._1 == "1")
    assert(plane.list("gen=1/").isEmpty,
      "the weak model unexpectedly listed fresh puts — the " +
        "counter-example this test documents no longer demonstrates")
    plane.settle()
    assert(plane.list("gen=1/") == files.toSet)
  }

  test("raced graph-row publisher: two concurrent cold builders of " +
      "one maintainedGen state dir — exactly one commit wins, the " +
      "loser fails loudly (the g_sssp_incr / g_labelprop_incr / " +
      "g_wpagerank_incr commit shape after the r18 unification)") {
    import spark.implicits._
    // wipe the tag dir so reruns of this suite start unbuilt
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File("/tmp/graft_spec_graph_race"))
    val (statePath, built) = ops.Replay.maintainedGen(
      "spec_graph_race", "/spec", "k1-race")
    assert(!built, "fresh key reported built")
    val store = new FakeObjectStore
    GenPointerStore.bind(statePath, store)
    try {
      val dists = Seq((1L, 1L, 0)).toDF("lm", "u", "dist")
      // builder A resolves the (absent) pointer; DURING its artifact
      // writes, builder B completes the same cold build and flips
      // first. A's conditional flip must fail loudly — the
      // single-publisher ASSUMPTION a marker-file build would rest on
      // is an ENFORCED guarantee under the generation layout.
      val e = intercept[IllegalArgumentException] {
        Streams.publishGen(statePath, 0L) { (_, g) =>
          dists.write.mode("overwrite").parquet(s"$g/dists")
          Streams.publishGen(statePath, 0L) { (_, g2) =>
            dists.write.mode("overwrite").parquet(s"$g2/dists")
          }
        }
      }
      assert(e.getMessage.contains("lost a race"))
      assert(store.rejected == 1)
      // the winner's state is committed, readable through the
      // pointer, and the same key now reports built
      assert(Streams.readGenArtifact(spark, statePath, "dists")
        .count() == 1L)
      assert(ops.Replay.maintainedGen(
        "spec_graph_race", "/spec", "k1-race")._2,
        "committed generation not visible to maintainedGen")
    } finally GenPointerStore.unbind(statePath)
  }

  test("POSIX pointer compare-and-set: a stale content token is " +
      "rejected the same way (the default store honors the contract)") {
    val statePath = tmpDir("genstore_posix") + "/st"
    assert(PosixGenPointer.putIf(statePath, "0", None))
    val tok = PosixGenPointer.read(statePath).get._2
    assert(PosixGenPointer.putIf(statePath, "1-cafe", Some(tok)))
    assert(!PosixGenPointer.putIf(statePath, "2", Some(tok)),
      "stale POSIX token committed — the advisory-locked CAS is not " +
        "a CAS")
    assert(!PosixGenPointer.putIf(statePath, "2", None))
    assert(PosixGenPointer.read(statePath).get._1 == "1-cafe")
  }

  test("a committed generation is read with its footer schema: no " +
      "schema-inference job on a read or on a merge's prev read") {
    import spark.implicits._
    // two committed generations; a re-measured merge gets its own
    def twoGens(): String = {
      val statePath = tmpDir("footer_jobs") + "/cnt"
      Streams.countBatch(Seq(1L, 2L, 2L).toDF("h"), "h", statePath, 0L)
      // warm-up: code generation and the first listing are not measured
      Streams.readGenMaintained(spark, statePath).collect()
      Streams.countBatch(Seq(1L).toDF("h"), "h", statePath, 1L)
      statePath
    }
    val statePath = twoGens()
    val read = leastOfThree(1)(_ =>
      jobsOf(Streams.readGenMaintained(spark, statePath).collect()))
    val merge = leastOfThree(3)(i => jobsOf(Streams.countBatch(
      Seq(2L, 3L).toDF("h"), "h", if (i == 0) statePath else twoGens(), 2L)))
    info(s"generation read: $read jobs; countBatch merge: $merge jobs")
    assert(read == 1, s"a generation read ran $read jobs")
    assert(merge == 3, s"a countBatch merge ran $merge jobs")
    assert(Streams.readGenMaintained(spark, statePath).as[(Long, Long)]
      .collect().toMap == Map(1L -> 2L, 2L -> 3L, 3L -> 1L))
    // a footer Spark did not write (DuckDB's) keeps its inference job
    val duck = java.nio.file.Files.createTempDirectory("footer_jobs_duck")
    java.nio.file.Files.copy(
      getClass.getResourceAsStream("/graft/duckdb_state.parquet"),
      duck.resolve("part-0.parquet"))
    Streams.readState(spark, duck.toString).collect()
    assert(leastOfThree(2)(_ =>
      jobsOf(Streams.readState(spark, duck.toString).collect())) == 2,
      "a DuckDB-written dir must fall back to schema inference")
  }
}
