package graft

import graft.plans.ReleaseConfig

/** [[graft.plans.ReleaseConfig]] — the release gates as reviewable
  * data: parse round-trips, default-preserving partial configs,
  * fail-fast unknown keys, and the config actually steering the
  * pipeline (a changed knob changes the artifact; the DEFAULT object
  * is observation-equivalent to the pre-config literals, which the
  * catalog oracles `q_pipeline_release*` gate at sf0.01). */
class ReleaseConfigSpec extends SparkSpec {

  test("empty JSON parses to the default config (the values the " +
    "pipeline always ran with)") {
    assert(ReleaseConfig.parse("{}") == ReleaseConfig())
  }

  test("a full config round-trips every documented key") {
    val parsed = ReleaseConfig.parse("""{
      "lang": "de", "min_quality": 0.7, "min_tokens": 10, "max_tokens": 200,
      "dedup": { "shingle_n": 4, "num_hashes": 32, "bands": 8,
                 "jaccard_threshold": 0.6, "max_bucket_size": 20 },
      "split": { "train_pct": 70, "val_pct": 20 },
      "decontam": { "bands": 16, "jaccard_threshold": 0.25,
                    "semantic_nlist": 4, "semantic_iters": 3,
                    "semantic_threshold": 0.5, "semantic_max_cluster": 9 },
      "sft": { "tool_names": ["lookup"], "groups": 4, "turn_overhead": 2 },
      "pack": { "capacity": 256, "num_shards": 2 } }""")
    assert(parsed == ReleaseConfig(
      lang = "de", minQuality = 0.7, minTokens = 10L, maxTokens = 200L,
      dedup = ReleaseConfig.Dedup(4, 32, 8, 0.6, Some(20)),
      split = ReleaseConfig.Split(70, 20),
      decontam = ReleaseConfig.Decontam(16, 0.25, 4, 3, 0.5, Some(9)),
      sft = ReleaseConfig.Sft(Seq("lookup"), 4L, 2L),
      pack = ReleaseConfig.Pack(256, 2)))
  }

  test("partial configs keep defaults for absent keys; unknown keys " +
    "refuse loudly (a typo'd threshold must never be silently ignored)") {
    val partial = ReleaseConfig.parse("""{"pack": {"capacity": 128}}""")
    assert(partial == ReleaseConfig(
      pack = ReleaseConfig.Pack(capacity = 128, numShards = 4)))
    val e = intercept[IllegalArgumentException] {
      ReleaseConfig.parse("""{"dedup": {"jacard_threshold": 0.4}}""")
    }
    assert(e.getMessage.contains("jacard_threshold"))
    val e2 = intercept[IllegalArgumentException] {
      ReleaseConfig.parse("""{"min_qualty": 0.4}""")
    }
    assert(e2.getMessage.contains("min_qualty"))
  }

  test("groupsFor derives production packing parallelism from corpus " +
    "cardinality, floored at the fixture default") {
    import graft.plans.ReleaseConfig
    assert(ReleaseConfig.groupsFor(0L) == 8L)
    assert(ReleaseConfig.groupsFor(500L) == 8L)
    assert(ReleaseConfig.groupsFor(100000L) == 8L)
    assert(ReleaseConfig.groupsFor(1000001L) == 11L)
    // a billion conversations → ~10k groups ("thousands at 100 TB")
    assert(ReleaseConfig.groupsFor(1000000000L) == 10000L)
    assert(intercept[IllegalArgumentException](
      ReleaseConfig.groupsFor(1L, perGroup = 0L))
      .getMessage.contains("perGroup"))
  }

  test("distinct configs render distinct canonical fingerprints — " +
    "the durable run's resume guard distinguishes every knob") {
    val base = ReleaseConfig()
    val variants = Seq(
      base.copy(lang = "de"),
      base.copy(minQuality = 0.6),
      base.copy(dedup = base.dedup.copy(bands = 8)),
      base.copy(split = base.split.copy(trainPct = 70)),
      base.copy(decontam = base.decontam.copy(jaccardThreshold = 0.2)),
      base.copy(sft = base.sft.copy(toolNames = Seq("x"))),
      base.copy(pack = base.pack.copy(capacity = 256)))
    val all = (base +: variants).map(_.canonical)
    assert(all.distinct.length == all.length,
      "every knob must move the canonical fingerprint")
  }

  test("the config steers the pipeline: halving the pack capacity " +
    "yields more bins over the same corpus, all else equal") {
    val sfDir = "/root/testdata/sf0.001"
    def binCount(cfg: ReleaseConfig): Long =
      graft.operators.Release.pipeline(spark,
          graft.queries.ExtensionQueries.releaseRawInput(spark, sfDir),
          spark.read.parquet(s"$sfDir/embeddings.parquet"),
          keep => graft.queries.ExtensionQueries.sftTranscriptsOf(spark, keep),
          () => graft.queries.ExtensionQueries.releaseMerges(spark, sfDir),
          cfg)
        .filter(org.apache.spark.sql.functions.col("part") === "shard")
        .count()
    val wide = binCount(ReleaseConfig())
    val narrow = binCount(ReleaseConfig(
      pack = ReleaseConfig.Pack(capacity = 128, numShards = 4)))
    assert(narrow > wide,
      s"capacity 128 must open more bins than 512 ($narrow vs $wide)")
  }
}
