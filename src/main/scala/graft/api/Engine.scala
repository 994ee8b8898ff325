package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.capsule.CapsuleBuilder
import graft.graph.Lineage
import graft.ingest.ManifestReader
import graft.model.{Catalog, ContextCapsule, DiscoverEntry, SearchHit, ToolRows}
import graft.patterns.Patterns
import graft.search.HybridSearch
import graft.usage.UsageLog

/** Capability facade mirroring the reference's 9 MCP tools + CLI verbs
  * (`/root/reference/src/ariadne_dbt/server.py:54-518`,
  * `cli.py:26-365`) — the contract a user of the reference programs
  * against, minus the stdio transport:
  *
  *   get_context_capsule, discover_models, get_model_details,
  *   get_lineage, get_impact_analysis, search_models,
  *   find_models_by_column, find_models_by_path, refresh_index,
  *   rate_capsule.
  *
  * Parameter clamps (limit ≤ 50, depth ≤ 10 — server.py:148,266,338,363)
  * live here, at the API boundary, exactly as in the reference.
  *
  * The row-valued tools come in two forms: `xxxRows` returns the
  * driver-side rows the serve transports render (no DataFrame, no
  * Catalyst plan), and the DataFrame method of the same name wraps
  * those rows for Spark consumers.
  *
  * Telemetry: every tool call appends a usage row (server.py:101-110),
  * and [[rateCapsule]] attaches a 1–5 rating to the most recent capsule
  * call (server.py:496-520) — so the A10/A11 usage analytics run over
  * the engine's OWN log, not just synthetic events.
  */
class Engine private (spark: SparkSession, manifestPath: String,
    usagePath: String, config: graft.config.EngineConfig, var catalog: Catalog) {

  private var hybrid = new HybridSearch(catalog)
  private var lineageOps = new Lineage(catalog)
  private var patternsOps = new Patterns(catalog)
  private var capsules = new CapsuleBuilder(catalog, hybrid, lineageOps, patternsOps,
    config.capsule)

  /** The engine's session, for the serve tier's per-dispatch
    * checkpoint scope (see [[graft.serve.JsonLineServer.dispatch]]). */
  private[graft] def session: SparkSession = spark

  /** The engine's own telemetry sink (usage.py UsageLogger). */
  val usage = new UsageLog(spark, usagePath)
  private var lastCapsuleLogId: Option[Long] = None

  private def clampLimit(l: Int, cap: Int = 50): Int = math.min(math.max(1, l), cap)
  private def clampDepth(d: Int): Int = math.min(math.max(0, d), 10)

  /** Time + log one tool call (server.py:101-110 shape). */
  private def logged[A](tool: String, taskText: String, intent: String = "",
      focusModel: Option[String] = None)(body: => A)(
      tokens: A => Long, pivots: A => Long = (_: A) => 0L): A = {
    val t0 = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - t0) / 1000000
    val id = usage.log(tool, taskText, intent, tokens(out), ms,
      focusModel = focusModel, pivotCount = pivots(out))
    if (tool == "get_context_capsule") lastCapsuleLogId = Some(id)
    out
  }

  /** Time + log a row-valued tool call; the token estimate is the row
    * count. The rows are computed once, driver-side, on the snapshot:
    * the serve transports render them as they are, and the DataFrame
    * methods below wrap them with one `toDF` (tool results are clamped
    * to ≤ ~100 rows, so driver residency is the serving contract, not
    * a scale hazard — distributed consumers use the query tier). */
  private def loggedRows[T <: Product](tool: String, taskText: String, intent: String = "")(
      body: => ToolRows[T]): ToolRows[T] =
    logged(tool, taskText, intent)(body)(tokens = _.rows.size.toLong)

  def getContextCapsule(task: String, focusModel: Option[String] = None,
      entryModels: Seq[String] = Nil, entryPaths: Seq[String] = Nil,
      tokenBudget: Option[Int] = None): ContextCapsule =
    logged("get_context_capsule", task, CapsuleBuilder.detectIntent(task), focusModel) {
      capsules.build(task, focusModel, entryModels, entryPaths, tokenBudget)
    }(tokens = _.tokenEstimate.toLong, pivots = _.pivotModels.size.toLong)

  /** Rate the most recent capsule call 1–5 (server.py:496-520).
    * Returns the rated log_id, or None when no capsule was built yet. */
  def rateCapsule(rating: Int, notes: Option[String] = None): Option[Long] = {
    lastCapsuleLogId.foreach(id => usage.rate(id, rating, notes))
    lastCapsuleLogId
  }

  def discoverModels(task: String, focusModel: Option[String] = None,
      entryModels: Seq[String] = Nil, entryPaths: Seq[String] = Nil,
      limit: Int = 40): Seq[DiscoverEntry] =
    logged("discover_models", task, CapsuleBuilder.detectIntent(task), focusModel) {
      capsules.discover(task, focusModel, entryModels, entryPaths, clampLimit(limit, 80))
    }(tokens = _.size.toLong * 12) // ~12 tokens/entry (server.py:35,124)

  def getModelDetails(modelName: String): DataFrame =
    loggedRows("get_model_details", modelName)(hybrid.lookupRows(modelName)).toDF(spark)

  def getColumns(modelId: String): DataFrame = hybrid.columnsWithTests(modelId)

  /** Full composite details payload (server.py:180-236): SQL, columns,
    * tests, coverage summary + suggestions, 1-hop neighbors, sources,
    * macros. None when the model doesn't resolve. */
  def getModelContext(modelName: String): Option[graft.model.ModelContext] =
    logged("get_model_details", modelName) {
      hybrid.modelContext(modelName)
    }(tokens = _.map(graft.util.Json.estimateTokens(_).toLong).getOrElse(0L))

  def getTestCoverageSummary(modelId: String): graft.model.CoverageSummary =
    hybrid.coverageSummary(modelId)

  def getLineageRows(modelId: String, upDepth: Int = 3,
      downDepth: Int = 3): ToolRows[Lineage.LineageRow] =
    loggedRows("get_lineage", modelId) {
      lineageOps.lineageRows(modelId, clampDepth(upDepth), clampDepth(downDepth))
    }

  def getLineage(modelId: String, upDepth: Int = 3, downDepth: Int = 3): DataFrame =
    getLineageRows(modelId, upDepth, downDepth).toDF(spark)

  def getImpactAnalysisRows(modelId: String, depth: Int = 5): ToolRows[Lineage.ImpactRow] =
    loggedRows("get_impact_analysis", modelId)(lineageOps.impactRows(modelId, clampDepth(depth)))

  def getImpactAnalysis(modelId: String, depth: Int = 5): DataFrame =
    getImpactAnalysisRows(modelId, depth).toDF(spark)

  def searchModelsRows(query: String, limit: Int = 10, intent: String = "explore",
      layer: Option[String] = None): ToolRows[SearchHit] =
    loggedRows("search_models", query, intent) {
      val res = hybrid.searchRows(query, intent, clampLimit(limit) * 2)
      res.copy(rows = layer.fold(res.rows)(l => res.rows.filter(_.layer == l))
        .take(clampLimit(limit)))
    }

  def searchModels(query: String, limit: Int = 10, intent: String = "explore",
      layer: Option[String] = None): DataFrame =
    searchModelsRows(query, limit, intent, layer).toDF(spark)

  def findModelsByColumnRows(columnName: String,
      limit: Int = 20): ToolRows[HybridSearch.ColumnMatch] =
    loggedRows("find_models_by_column", columnName) {
      hybrid.findByColumnRows(columnName, clampLimit(limit))
    }

  def findModelsByColumn(columnName: String, limit: Int = 20): DataFrame =
    findModelsByColumnRows(columnName, limit).toDF(spark)

  def findModelsByPathRows(pathPattern: String,
      limit: Int = 20): ToolRows[HybridSearch.PathMatch] =
    loggedRows("find_models_by_path", pathPattern) {
      hybrid.findByPathRows(pathPattern, clampLimit(limit))
    }

  def findModelsByPath(pathPattern: String, limit: Int = 20): DataFrame =
    findModelsByPathRows(pathPattern, limit).toDF(spark)

  def getProjectStats(): DataFrame = patternsOps.stats()

  // Exposure count for the serving-tier summary, cached per catalog
  // instance (refreshIndex swaps `catalog`, invalidating it naturally).
  private var exposuresCache: Option[(Catalog, Long)] = None
  private def exposuresCount: Long = exposuresCache match {
    case Some((c, n)) if c eq catalog => n
    case _ =>
      val n = catalog.exposures.count()
      exposuresCache = Some((catalog, n))
      n
  }

  /** Serving-tier stats + patterns in one driver-side pass — the
    * reference's pattern-extraction benchmark workload (get_stats +
    * get_patterns) at interactive latency; the distributed
    * [[Patterns]] formulations above remain the scale path. */
  def getPatternsSummary(): scala.collection.immutable.ListMap[String, Any] =
    catalog.snapshot.patternsSummary(exposuresCount)
  def getPatterns(): Patterns = patternsOps
  def getTopCentral(k: Int = 10): DataFrame = lineageOps.topCentral(k)
  def sourceDeps(modelId: String): DataFrame = lineageOps.sourceDeps(modelId)
  def testCoverage(modelId: String): DataFrame = hybrid.testCoverage(modelId)

  /** Full re-ingest (always a full rebuild — server.py:450-458). */
  def refreshIndex(): Unit = {
    catalog = ManifestReader.read(spark, manifestPath)
    hybrid = new HybridSearch(catalog)
    lineageOps = new Lineage(catalog)
    patternsOps = new Patterns(catalog)
    capsules = new CapsuleBuilder(catalog, hybrid, lineageOps, patternsOps,
      config.capsule)
  }

  /** End of a serving session: waits until every usage row logged so
    * far is written ([[UsageLog.close]]). */
  def close(): Unit = usage.close()
}

object Engine {
  /** `ariadne init`-equivalent: ingest a manifest and serve queries.
    * `usagePath` is the engine's telemetry parquet (a temp dir when
    * unspecified, as in the reference's per-db-path SQLite log);
    * `config` carries the TOML-loaded capsule tuning (S10). */
  def fromManifest(spark: SparkSession, manifestPath: String,
      usagePath: Option[String] = None,
      config: graft.config.EngineConfig = graft.config.EngineConfig()): Engine = {
    val up = usagePath.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_usage").toString + "/log")
    new Engine(spark, manifestPath, up, config, ManifestReader.read(spark, manifestPath))
  }

  /** Config-driven entry (config.py:88-160): discover `graft.toml`
    * upward from `searchRoot`, resolve the manifest from it, and apply
    * the capsule section. */
  def fromConfig(spark: SparkSession, searchRoot: java.nio.file.Path): Engine = {
    val cfg = graft.config.Config.load(searchRoot)
    // Runtime knobs that live OUTSIDE the engine instance: the
    // persisted indexes' auto-compaction cadence ([scale]
    // compact_every_appends) applies process-wide.
    graft.queries.IndexMaintenance.configure(cfg)
    fromManifest(spark, cfg.manifestPath.toString, config = cfg)
  }
}
