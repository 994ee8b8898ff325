package graft

import java.nio.file.Files

import graft.capsule.CapsuleBuilder
import graft.config.{CapsuleConfig, Config, Toml}
import graft.graph.Lineage
import graft.patterns.Patterns
import graft.search.HybridSearch

/** S10 TOML config surface (mirrors config.py:88-160 semantics):
  * upward discovery, defaults, field-level overrides, intent-depth
  * merge — and the capsule actually honoring the loaded knobs. */
class ConfigSpec extends SparkSuite {

  private val sampleToml =
    """# graft engine config
      |[project]
      |target_dir = "target"  # trailing comment
      |
      |[capsule]
      |default_token_budget = 4_000
      |max_pivots = 2
      |
      |[capsule.intent_depths.debug]
      |upstream = 0
      |downstream = 0
      |
      |[generator]
      |generate_skills = false
      |targets = ["claude_code", "cursor"]
      |
      |[scale]
      |shard_bits = 16
      |embed_band_bits = 16
      |embed_rotations = 8
      |ivf_fit_check_every = 100
      |ivf_retrain_below_cos = 0.8
      |probe_bucket_prune_keys = 4096
      |""".stripMargin

  test("toml subset parses sections, ints, bools, arrays, comments") {
    val t = Toml.parse(sampleToml)
    val capsule = t("capsule").asInstanceOf[Map[String, Any]]
    assert(capsule("default_token_budget") == 4000L)
    assert(capsule("max_pivots") == 2L)
    val depths = capsule("intent_depths").asInstanceOf[Map[String, Any]]
      .apply("debug").asInstanceOf[Map[String, Any]]
    assert(depths("upstream") == 0L && depths("downstream") == 0L)
    val gen = t("generator").asInstanceOf[Map[String, Any]]
    assert(gen("generate_skills") == false)
    assert(gen("targets") == Seq("claude_code", "cursor"))
  }

  test("digits-led decimal/exponent bare values parse as floats; other bare values stay strings") {
    // r11 ADVICE: a blanket toDouble fallback silently coerced bare
    // strings Scala's parser happens to accept — "NaN", "Infinity" —
    // into Doubles for every config consumer. r12 ADVICE: the first
    // fix overshot and ALSO dropped valid TOML exponent-only floats
    // (8e-1, 1e3) to strings, a silent-misconfiguration path. The
    // fallback now accepts exactly the digits-led decimal/exponent
    // forms and nothing else.
    val t = Toml.parse(
      """[x]
        |f = 0.8
        |fneg = -2.5
        |fexp = 6.02e2
        |funder = 1_000.5
        |exp_only = 1e3
        |exp_neg = 8e-1
        |nan = NaN
        |inf = Infinity
        |neginf = -Infinity
        |suffixed = 7d
        |hexish = 0x10
        |""".stripMargin)
    val x = t("x").asInstanceOf[Map[String, Any]]
    assert(x("f") == 0.8)
    assert(x("fneg") == -2.5)
    assert(x("fexp") == 602.0)
    assert(x("funder") == 1000.5)
    assert(x("exp_only") == 1000.0)
    assert(x("exp_neg") == 0.8)
    assert(x("nan") == "NaN")
    assert(x("inf") == "Infinity")
    assert(x("neginf") == "-Infinity")
    assert(x("suffixed") == "7d")
    assert(x("hexish") == "0x10")
  }

  test("an exponent-only float reaches a double [scale] knob (r12 ADVICE)") {
    val cfg = Config.fromToml(
      Toml.parse("[scale]\nivf_retrain_below_cos = 8e-1\n"),
      java.nio.file.Paths.get("."))
    assert(cfg.scale.ivfRetrainBelowCos == 0.8)
  }

  test("config discovery walks upward and merges depths over defaults") {
    val root = Files.createTempDirectory("graft_cfg")
    val nested = Files.createDirectories(root.resolve("models/staging"))
    Files.writeString(root.resolve(Config.ConfigFilename), sampleToml)

    val cfg = Config.load(nested) // found two levels up
    assert(cfg.capsule.defaultTokenBudget == 4000)
    assert(cfg.capsule.maxPivots == 2)
    assert(cfg.capsule.intentDepths("debug") == ((0, 0)), "overridden")
    assert(cfg.capsule.intentDepths("refactor") == ((1, 3)), "default preserved")
    assert(cfg.generator.targets == Seq("claude_code", "cursor"))
    assert(cfg.manifestPath.endsWith("target/manifest.json"))
    // [scale] production-width knobs (r9 VERDICT #8): overridden fields
    // load, unlisted fields keep their gate-pinned defaults.
    assert(cfg.scale.shardBits == 16)
    assert(cfg.scale.embedBandBits == 16)
    assert(cfg.scale.embedRotations == 8)
    assert(cfg.scale.seqPackShards == 8, "unset knob keeps its default")
    // [scale] drift-retrain cadence (round 11): double knob parses,
    // int knob parses, defaults stay off.
    assert(cfg.scale.ivfFitCheckEvery == 100)
    assert(cfg.scale.ivfRetrainBelowCos == 0.8)
    assert(cfg.scale.compactEveryAppends == 0, "unset cadence stays off")
    assert(cfg.scale.embedActCos == 0.9, "unset acting tier keeps the gate-pinned 0.9")
    // round 15: probe bucket pruning (int, default 0 = off) reaches
    // the config.
    assert(cfg.scale.probeBucketPruneKeys == 4096)
    assert(cfg.scale.indexBuckets == 32, "unset bucket sizing keeps the gate layout")
  }

  test("the shipped production preset (examples/graft.toml) loads with its documented values") {
    // Anchor on the repo root by walking up from the test JVM's CWD
    // until examples/graft.toml appears (r12 ADVICE: a bare relative
    // Paths.get("examples") breaks under runners that fork with a
    // different working directory).
    val start = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
    val examples = Iterator.iterate(start)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("examples"))
      .find(p => Files.exists(p.resolve(Config.ConfigFilename)))
      .getOrElse(fail(s"examples/graft.toml not found walking up from $start"))
    val cfg = Config.load(examples)
    assert(cfg.scale.embedBandBits == 16)
    assert(cfg.scale.embedRotations == 16)
    assert(cfg.scale.embedActCos == 0.9)
    assert(cfg.scale.shardBits == 16)
    assert(cfg.scale.seqPackShards == 64)
    assert(cfg.scale.compactEveryAppends == 24)
    assert(cfg.scale.ivfFitCheckEvery == 24)
    assert(cfg.scale.ivfRetrainBelowCos == 0.8)
    assert(cfg.scale.sq8Cands == 50)
    assert(cfg.scale.pqCands == 50)
    assert(cfg.scale.pqWide, "the preset serves the measured G8 recall rung")
    assert(cfg.scale.ivfPairBucket == 512)
    assert(cfg.scale.probeBucketPruneKeys == 512,
      "the preset cap equals the index_buckets/4 win-condition clamp")
    assert(cfg.scale.indexBuckets == 2048, "the preset sizes buckets for TB-scale corpora")
    assert(cfg.capsule.defaultTokenBudget == 10000)
  }

  test("missing config file yields pure defaults") {
    val cfg = Config.load(Files.createTempDirectory("graft_cfg_empty"))
    assert(cfg.capsule == CapsuleConfig())
    assert(cfg.scale == graft.config.ScaleConfig())
    assert(cfg.scale.shardBits == 10 && cfg.scale.seqPackShards == 8 &&
      cfg.scale.embedBandBits == graft.queries.Dedup.EmbedBandBits &&
      cfg.scale.embedRotations == 4)
  }

  test("capsule honors TOML-loaded depths and budget") {
    val cat = SparkSuite.catalog
    val zeroDebug = CapsuleConfig(
      defaultTokenBudget = 4000,
      intentDepths = CapsuleConfig.DefaultDepths + ("debug" -> ((0, 0))))
    val builder = new CapsuleBuilder(cat, new HybridSearch(cat),
      new Lineage(cat), new Patterns(cat), zeroDebug)

    val c = builder.build("debug wrong totals", focusModel = Some("fct_orders"))
    assert(c.upstreamModels.isEmpty, "debug upstream depth overridden to 0")
    assert(c.downstreamModels.isEmpty, "debug downstream depth overridden to 0")
    assert(c.tokenBudget == 4000, "TOML default budget applied")

    // same task through the default config still expands upstream
    val dflt = new CapsuleBuilder(cat, new HybridSearch(cat),
      new Lineage(cat), new Patterns(cat))
    assert(dflt.build("debug wrong totals", focusModel = Some("fct_orders"))
      .upstreamModels.nonEmpty)
  }
}
