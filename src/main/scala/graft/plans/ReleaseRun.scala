package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The DURABLE, RESUMABLE release run: day 0 released as batch 0 of
  * the incremental runner. Three steps:
  *
  *   1. the run fingerprint check ([[verifyRunFingerprint]]): a re-run
  *      must be re-running THE SAME run;
  *   2. [[IncrementalRelease.runDeltas]] over an empty state at
  *      `<outDir>/state` — every state delta and store segment
  *      publishes idempotently at `seg=0`, so a run that dies
  *      (executor loss, OOM, preemption) RESUMES by re-running: each
  *      publish that already landed is a no-op, and a resumed day 0
  *      neither retrains nor re-appends the frozen semantic model. A
  *      day 0 that published everything
  *      ([[IncrementalRelease.released]]) is not recomputed at all;
  *   3. the digest-verified artifact: [[IncrementalRelease.artifact]]
  *      written through the [[graft.sources.ParquetDirIO]] staged
  *      write plus the [[graft.operators.Reconcile.assertClean]]
  *      digest gate, read back as a consumer reads it.
  *
  * The state is the release's queryable audit surface — its `ledger`
  * records why every rejected doc left and at which stage — and
  * [[IncrementalRelease.bootstrap]] adopts it as the standing state
  * later batches release against. The catalog gates this form
  * (`q_pipeline_release_run`) under the same DuckDB CTE-pyramid oracle
  * as the from-scratch [[graft.operators.Release.pipeline]]
  * (`q_pipeline_release`), so the two are pinned row-identical.
  */
object ReleaseRun {

  /** Execute (or resume) a durable release run. Returns the
    * digest-verified artifact as a consumer reads it, or None when
    * `stopAfter` halted the run (the crash simulation).
    *
    * @param rawInput   (doc_id, source, raw) crawl rows
    * @param embeddings (vec_id, embedding) side table
    * @param outDir     the run directory: the released state under
    *                   `state/`, the artifact under `release.parquet`
    * @param stopAfter  halt once the named
    *                   [[IncrementalRelease.StageLabels]] stage
    *                   completed (`incr 5`) — spec-only crash
    *                   injection; an unknown label refuses */
  def run(
      spark: SparkSession,
      rawInput: DataFrame,
      embeddings: DataFrame,
      transcriptsOf: DataFrame => DataFrame,
      merges: () => Seq[(String, String)],
      outDir: String,
      cfg: graft.plans.ReleaseConfig = graft.plans.ReleaseConfig(),
      stopAfter: Option[String] = None): Option[DataFrame] = {
    stopAfter.foreach(IncrementalRelease.requireStageLabel)
    verifyRunFingerprint(spark, rawInput, embeddings, outDir, cfg)
    val state = s"$outDir/state"
    // a day 0 that published every delta completed every stage: a
    // re-run goes straight to the artifact
    val done = IncrementalRelease.released(spark, state)
    if (done && stopAfter.isDefined) return None
    if (!done) try IncrementalRelease.runDeltasAt(spark, rawInput, embeddings,
      transcriptsOf, merges, state, cfg, segId = Some(0L), stopAfter)
    catch { case _: ReleaseHalted => return None }
    // terminal: the digest-verified artifact, persisted once for the
    // write + checksum + read-back triple (its inputs are state-table
    // scans, so the persist is parts-sized, never corpus lineage)
    val out = IncrementalRelease.artifact(spark, state, cfg.pack.numShards)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val io = new graft.sources.ParquetDirIO(spark, outDir, outDir)
      io.writeTarget("release", out)
      graft.operators.Reconcile.assertClean(io, Map("release" -> out))
      Some(io.readTarget("release"))
    } finally out.unpersist()
  }

  /** A resumed run must be resuming THE SAME run: the state already
    * published froze the original input, but a resume re-reads the
    * live inputs — resuming yesterday's run dir against today's
    * corpus would silently return (or mix into) the old release, and
    * the terminal digest gate (which checks write-vs-read consistency,
    * not freshness) would bless it. So the first run records, and
    * every resume re-verifies against the LIVE inputs: a CONTENT
    * digest of the crawl rows (count + id sum + an xxhash64 fold over
    * (source, raw) — a re-crawl that keeps ids but changes text must
    * refuse, not just an id-set change), the same for the embeddings
    * side table (swapped vectors would silently re-score stage 5), and
    * the config knobs. Two aggregate scans, the price of refusing the
    * worst silent failure a resumable pipeline has. Mismatch refuses
    * typed: use a fresh run dir. */
  private def verifyRunFingerprint(
      spark: SparkSession,
      rawInput: DataFrame,
      embeddings: DataFrame,
      outDir: String,
      cfg: graft.plans.ReleaseConfig): Unit = {
    import org.apache.spark.sql.functions.{col, count, sum, xxhash64}
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$outDir/run_fingerprint")
    def digest(df: DataFrame, idC: String, contentHash: org.apache.spark.sql.Column): String = {
      // the hash fold sums as decimal(38,0): a long sum of xxhash64
      // values overflows almost immediately under ANSI arithmetic
      val r = df.agg(count(col(idC)).as("n"), sum(col(idC)).as("s"),
        sum(contentHash.cast("decimal(38,0)")).as("h")).head()
      def v(i: Int) = if (r.isNullAt(i)) "0" else r.get(i).toString
      s"${r.getLong(0)}:${v(1)}:${v(2)}"
    }
    val now = digest(rawInput, "doc_id",
      xxhash64(col("source"), col("raw"))) + ":" +
      digest(embeddings, "vec_id",
        xxhash64(col("vec_id"), col("embedding"))) +
      s":${cfg.canonical}"
    if (!fs.exists(p)) {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$outDir/_fingerprint.tmp-${java.util.UUID.randomUUID()}")
      val out = fs.create(tmp, true)
      try out.write(now.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, p)) { // a concurrent first run won — compare
        fs.delete(tmp, false)
        require(fs.exists(p), s"ReleaseRun: could not record fingerprint $p")
      } else return
    }
    val in = fs.open(p)
    val recorded =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8).trim
      } finally in.close()
    require(recorded == now,
      s"ReleaseRun: refusing to resume $outDir — the live input/config " +
        s"fingerprint ($now) does not match the run's recorded one " +
        s"($recorded). Resuming would silently mix the original run's " +
        "published state with a different corpus; use a fresh run " +
        "directory (or --fresh=true).")
  }
}
