package graft

import org.apache.spark.sql.DataFrame
import graft.plans.{IncrementalRelease, ReleaseRun}

/** The durable release run's contracts ([[graft.plans.ReleaseRun]]:
  * day 0 released as batch 0 of
  * [[graft.plans.IncrementalRelease.runDeltas]] over an empty state):
  *
  *   1. EQUIVALENCE — the run's digest-verified artifact is
  *      row-for-row the from-scratch [[graft.operators.Release.pipeline]]
  *      artifact (`q_pipeline_release`; the driver's oracle
  *      additionally pins both to the same DuckDB pyramid at sf0.01);
  *   2. HALT-AFTER-EVERY-STAGE RESUME — a run halted after ANY
  *      `runDeltas` stage and then re-run over the same run dir
  *      completes to the identical artifact, every store and state
  *      table holding exactly its one `seg=0` (no segment published
  *      twice, the frozen models built once); a finished run re-runs
  *      idempotently without recomputing day 0, a crash mid-publish
  *      (staging written, no rename) is invisible to the re-run, and
  *      `bootstrap` refuses a day 0 that has not published everything;
  *      the same holds above the bucket-cap knee;
  *   3. REFUSALS — a re-run over a changed corpus or config refuses
  *      typed before any work, and so does an unknown stop label.
  */
class ReleaseRunSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def rawInput = graft.queries.ExtensionQueries.releaseRawInput(spark, sfDir)
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private def transcripts(keep: DataFrame): DataFrame =
    graft.queries.ExtensionQueries.sftTranscriptsOf(spark, keep)
  // memoized: the frozen tokenizer is per-corpus, train it once
  private lazy val merges = graft.queries.ExtensionQueries.releaseMerges(spark, sfDir)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/run"
  private def rows(df: DataFrame): Set[(String, String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
  private lazy val fromScratch =
    rows(graft.SparkEntry.queries("q_pipeline_release")(spark, sfDir))

  // how many times a run pulled the merges thunk
  private val mergesPulled = new java.util.concurrent.atomic.AtomicInteger
  private def runWith(
      outDir: String,
      stopAfter: Option[String] = None,
      raw: DataFrame = rawInput,
      cfg: graft.plans.ReleaseConfig = graft.plans.ReleaseConfig()): Option[DataFrame] =
    ReleaseRun.run(spark, raw, emb, transcripts _,
      () => { mergesPulled.incrementAndGet(); merges }, outDir, cfg, stopAfter)

  private def children(dir: java.io.File): Set[String] =
    Option(dir.listFiles()).toSeq.flatten.map(_.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet

  /** Every published segment of the run's state: table → its `seg=N`
    * children plus its count of version trees (a store's segments are
    * its live tree's `bands` / `assigned` children). */
  private def published(outDir: String): Map[String, Set[String]] = {
    val state = new java.io.File(s"$outDir/state")
    Option(state.listFiles()).toSeq.flatten.filter(_.isDirectory).map { t =>
      val trees = children(t).filter(_.startsWith("v-"))
      val segs = trees.toSeq match {
        case Seq(v) =>
          val seg = if (t.getName == "holdout_ann") "assigned" else "bands"
          children(new java.io.File(t, s"$v/$seg"))
        case _ => children(new java.io.File(t, "rows"))
      }
      t.getName -> (segs + s"trees=${trees.size}")
    }.toMap
  }

  test("durable run ≡ the from-scratch pipeline; halting after EVERY " +
    "runDeltas stage and re-running the same run dir gives the " +
    "identical artifact with no segment published twice; a finished " +
    "run re-runs idempotently") {

    // ---- the halt drill over ONE run dir: iteration k re-runs day 0
    // and halts after stage k; everything stages < k published is a
    // no-op on the re-run
    val outDir = tmp("graft_release_drill")
    IncrementalRelease.StageLabels.foreach { stage =>
      assert(runWith(outDir, stopAfter = Some(stage)).isEmpty,
        s"stopAfter=$stage must halt the run")
    }
    assert(!new java.io.File(s"$outDir/release.parquet").exists,
      "a halted run must not write the artifact")
    val done = runWith(outDir)
    val artifact = rows(done.get)
    assert(artifact == fromScratch,
      "the durable run must equal the from-scratch pipeline row for row")

    // 4 stores (one version tree each — built once, never rebuilt or
    // retrained) and 11 state tables, every one holding exactly seg=0
    val state = published(outDir)
    assert(state.keySet == IncrementalRelease.StateTables.toSet ++
      Set("corpus_minhash", "holdout_minhash", "conv_minhash", "holdout_ann"),
      s"unexpected state layout: ${state.keySet}")
    state.foreach { case (t, segs) =>
      val want = if (t.endsWith("_minhash") || t == "holdout_ann")
        Set("seg=0", "trees=1") else Set("seg=0", "trees=0")
      assert(segs == want, s"$t must hold exactly one seg=0, got $segs")
    }

    // ---- a fresh run matches the drilled one, and a finished run
    // re-runs to the identical artifact without publishing anything or
    // recomputing day 0 (the merges thunk is never pulled)
    val fresh = tmp("graft_release_fresh")
    assert(rows(runWith(fresh).get) == artifact)
    val pulled = mergesPulled.get
    assert(rows(runWith(outDir).get) == artifact)
    assert(published(outDir) == state,
      "re-running a finished run must publish nothing")
    assert(mergesPulled.get == pulled, "a finished run must not recompute day 0")
    assert(runWith(outDir, stopAfter = Some("incr 1")).isEmpty,
      "every stage of a finished run completed, so a stop-after still halts")
  }

  test("bootstrap refuses a day 0 that halted before publishing every " +
    "delta, and adopts it once the re-run finishes") {
    val (outDir, standing) = (tmp("graft_release_boot"), tmp("graft_release_standing"))
    // halted before the stage-9 deltas, with every store already built
    assert(runWith(outDir, stopAfter = Some("incr 7")).isEmpty)
    val e = intercept[IllegalArgumentException] {
      IncrementalRelease.bootstrap(spark, outDir, standing)
    }
    assert(e.getMessage.contains("no completely released day-0 state"))
    assert(published(outDir).contains("holdout_ann") && !new java.io.File(standing).exists)
    assert(rows(runWith(outDir).get) == fromScratch)
    IncrementalRelease.bootstrap(spark, outDir, standing)
    assert(!new java.io.File(s"$outDir/state").exists &&
      new java.io.File(s"$standing/ledger").isDirectory)
  }

  test("above the bucket-cap knee day 0 still equals the from-scratch " +
    "pipeline: both cap the same batch-internal buckets") {
    val cfg = graft.plans.ReleaseConfig(
      dedup = graft.plans.ReleaseConfig.Dedup(maxBucketSize = Some(2)),
      decontam = graft.plans.ReleaseConfig.Decontam(semanticMaxCluster = Some(2)))
    val capped = rows(runWith(tmp("graft_release_knee"), cfg = cfg).get)
    assert(capped == rows(graft.operators.Release.pipeline(spark, rawInput, emb,
      transcripts _, () => merges, cfg)))
    assert(capped != rows(runWith(tmp("graft_release_knee_default")).get),
      "the caps must bind at this knee, or the case proves nothing")
  }

  test("re-running against a CHANGED corpus or config refuses typed " +
    "before any work — never a silent mixture with the published state") {
    val outDir = tmp("graft_release_fp")
    runWith(outDir, stopAfter = Some("incr 3b"))
    val before = published(outDir)
    assert(before.contains("corpus_minhash"), "incr 3b publishes the corpus stores")
    // corpus changed between the crash and the resume: the published
    // state froze the original input — the resume must refuse, not
    // bless the mixture
    val changed = rawInput.filter(org.apache.spark.sql.functions
      .col("doc_id") % 2 === 0)
    val e = intercept[IllegalArgumentException](runWith(outDir, raw = changed))
    assert(e.getMessage.contains("refusing to resume"))
    // a config change refuses the same way
    intercept[IllegalArgumentException] {
      runWith(outDir, cfg = graft.plans.ReleaseConfig(
        pack = graft.plans.ReleaseConfig.Pack(capacity = 256)))
    }
    assert(published(outDir) == before, "the refusals must precede any work")
    // the true resume still completes
    assert(rows(runWith(outDir).get) == fromScratch)
  }

  test("a crash MID-stage (staging written, publish never ran) is " +
    "invisible to the resume, which recomputes that stage") {
    val outDir = tmp("graft_release_midcrash")
    runWith(outDir, stopAfter = Some("incr 2"))
    // the crash inside incr 3b: the first `corpus_texts` publish wrote
    // its staging tree but the rename never ran — the re-run reads the
    // table (before appending it) as empty and publishes its seg=0
    val junk = new java.io.File(s"$outDir/state/corpus_texts/rows/_append.staging-crashed")
    assert(junk.mkdirs())
    java.nio.file.Files.write(junk.toPath.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3))
    assert(rows(runWith(outDir).get) == fromScratch)
    assert(published(outDir)("corpus_texts") == Set("seg=0", "trees=0"))
  }

  test("an unknown stop-after stage refuses, naming the value and " +
    "listing the valid stages, before the run starts") {
    val outDir = tmp("graft_release_label")
    val e = intercept[IllegalArgumentException] {
      runWith(outDir, stopAfter = Some("s5_keep"))
    }
    assert(e.getMessage.contains("'s5_keep'") &&
      e.getMessage.contains(IncrementalRelease.StageLabels.mkString(", ")),
      s"the refusal must name the value and the valid stages: ${e.getMessage}")
    assert(!new java.io.File(outDir).exists, "nothing may run before the refusal")
  }
}
