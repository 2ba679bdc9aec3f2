package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared 2-batch file-replay rig for the maintained-table queries
  * (l_rollup_maintained, l_hh_maintained, l_cm_maintained,
  * d_index_maintained): the test-scale stand-in for a real stream is a
  * file source fed two single-file halves of a batch table, with
  * `maxFilesPerTrigger = 1` forcing one micro-batch per half so the
  * sink's cross-batch merge/append path is genuinely exercised.
  *
  * Factoring note: the `coalesce(1)` staging write below is a
  * TEST-SCALE convenience — each half must be exactly ONE file for the
  * one-file-per-trigger split to mean one micro-batch per half — and
  * lives here, behind the rig boundary, so no registered query body
  * carries a coalesce. At production scale the replay rig does not
  * exist at all: the stream is a real source (files as they land,
  * Kafka, CDC) and the sinks are exactly as registered.
  */
private[graft] object Replay {

  /** Scratch dir for `tag` scoped to the sf dir `d` — wiped first, so
    * re-runs cannot double-count stale parts into maintained state.
    */
  def scratchDir(tag: String, d: String): java.io.File = {
    val base = new java.io.File(
      s"/tmp/graft_$tag/x${d.replaceAll("[^0-9a-zA-Z.]", "_")}")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(base)
    base.mkdirs()
    base
  }

  /** PERSISTENT maintained-state dir for `tag`/`d`, keyed by a caller-
    * supplied fingerprint — the deployment shape of maintenance: the
    * state table OUTLIVES a run, and the next tick pays only the
    * delta. Returns (statePath, alreadyBuilt): alreadyBuilt is true iff
    * a generation has been COMMITTED (the pointer resolves), in which
    * case the caller skips its build phase and reads the state as-is —
    * exactly what the steady passes of a bench measure. The key must
    * encode every input the state depends on (data cut, thresholds,
    * algorithm caps); a key change lands in a fresh dir so stale state
    * from another configuration can never be read, and the registered
    * row's full-graph oracle still hash-checks whatever is read. The
    * raw triple's hash is appended to the sanitized path, so the
    * mapping stays injective up to hash collision.
    *
    * Commitment goes through [[graft.streaming.GenPointerStore]]'s
    * conditional-PUT generation layout, so the loud-lost-update
    * guarantee is UNIFORM across every maintained artifact in the repo:
    * two concurrent builders of the same key race the pointer flip and
    * exactly one wins; the loser fails loudly, and because each publish
    * attempt writes into its own uniquely-named gen dir
    * (`gen=N-<nonce>`, the label recorded in the pointer), the loser's
    * parquet writes land in an orphan dir and can never interleave
    * with — or clobber — the generation the winner committed. Callers
    * build cold state via
    * `Streams.publishGen(statePath, 0L) { (_, gen) => ...writes... }`,
    * fold a tick via `Streams.publishGen(statePath, 1L) { (prev, gen) =>
    * ... }` (prev is the committed generation the tick reads), and read
    * artifacts via `Streams.readGenArtifact`.
    */
  def maintainedGen(tag: String, d: String,
      key: String): (String, Boolean) = {
    val fp = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s"$tag $d $key"))
    val base = new java.io.File(
      s"/tmp/graft_$tag/x${d.replaceAll("[^0-9a-zA-Z.]", "_")}_" +
        s"k${key.replaceAll("[^0-9a-zA-Z.-]", "_")}_h$fp")
    base.mkdirs()
    (base.getPath,
      graft.streaming.Streams.currentGen(base.getPath).isDefined)
  }

  /** Write `df` as exactly one parquet file named `name` under `base`
    * (staged single-part write, then the part file is copied to the
    * target name so the glob filter can address it). Returns the
    * written row count, read from the parquet footer — metadata only,
    * no second Spark job — so callers can assert non-emptiness for
    * the cost of a footer read.
    */
  def writeOneFile(df: DataFrame, base: java.io.File,
      name: String): Long = {
    val stage = new java.io.File(base, s"stage_$name")
    df.coalesce(1).write.parquet(stage.getPath)
    val part = stage.listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part under $stage"))
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(base, name).toPath)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(part.getPath),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** The full rig: wipe+create the scratch dir, land the two halves as
    * `a_<fileTag>.parquet` / `b_<fileTag>.parquet`, and return the dir
    * plus a file-source stream that replays them as two micro-batches.
    * `schema` must be the halves' schema (streaming sources need it
    * upfront); rows outside the glob (sink state written later under
    * the same dir) are invisible to the source.
    *
    * STRUCTURAL GUARANTEE: both halves must be NONEMPTY, enforced
    * here (loud require on the written footer counts) rather than at
    * each call site. An empty parquet half still forms its own
    * trigger, so a downstream `batchId >= 2` check passes while all
    * data flows through one micro-batch and the sink's cross-batch
    * merge path silently goes untested; with one-file-per-trigger, a
    * nonempty file IS a nonempty micro-batch, so requiring both
    * halves nonempty at write time gives every replay caller the
    * two-nonempty-batches guarantee for free.
    */
  def twoBatchStream(s: SparkSession, tag: String, d: String,
      schema: StructType, fileTag: String,
      a: DataFrame, b: DataFrame): (java.io.File, DataFrame) = {
    val base = scratchDir(tag, d)
    val na = writeOneFile(a, base, s"a_$fileTag.parquet")
    val nb = writeOneFile(b, base, s"b_$fileTag.parquet")
    require(na > 0 && nb > 0,
      s"twoBatchStream($tag): both replay halves must be NONEMPTY " +
        s"(got a=$na, b=$nb rows) — an empty half forms its own " +
        "trigger and the cross-batch merge path would go untested")
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", s"*_$fileTag.parquet")
      .parquet(base.getPath)
    (base, stream)
  }
}
