package graft.model

import org.apache.spark.sql.DataFrame

/** The relational catalog produced by ingesting dbt build artifacts —
  * Spark re-expression of the reference's SQLite store
  * (`/root/reference/src/ariadne_dbt/schema.sql:16-210`). JSON-in-TEXT
  * columns of the reference become first-class array/struct columns.
  *
  * All frames are small relative to cluster memory (10³–10⁵ rows even
  * for giant dbt projects), so they are cached and broadcast into
  * joins; the heavy distributed work is the posting-list index and the
  * DAG traversals built on top.
  */
final case class Catalog(
    metadata: DataFrame, // key, value
    models: DataFrame, // unique_id, name, fqn, package_name, database, schema, alias, file_path, raw_code, compiled_code, language, description, layer, materialization, tags, depends_on_nodes, refs, sources, upstream_count, downstream_count, centrality
    columns: DataFrame, // model_id, name, data_type, description, tags, is_primary_key, is_foreign_key
    tests: DataFrame, // unique_id, name, test_type, model_id, column_name, severity
    sources: DataFrame, // unique_id, name, source_name, schema, database, description, loader
    macros: DataFrame, // unique_id, name, package_name, file_path, description, macro_sql
    exposures: DataFrame, // unique_id, name, label, type, url, description, owner_name, owner_email, depends_on, tags
    edges: DataFrame, // parent_id, child_id
    searchIndex: DataFrame // unique_id, name, description, column_names, sql_text, tags_text
) {
  def cacheAll(): Catalog = {
    Seq(models, columns, tests, sources, macros, exposures, edges, searchIndex)
      .foreach(_.cache())
    this
  }

  /** Driver-side serving snapshot (bounded catalog metadata + collected
    * inverted index) — built once, memoized, backing the interactive
    * latency tier. See [[graft.serve.Snapshot]] for the scale rationale. */
  lazy val snapshot: graft.serve.Snapshot = graft.serve.Snapshot.build(this)
}

/** One search hit with its score decomposition — mirror of the
  * reference's SearchResult (`models.py:111-121`). */
final case class SearchHit(
    uniqueId: String,
    name: String,
    layer: String,
    description: String,
    bm25Score: Double,
    centrality: Double,
    layerBoost: Double,
    nameBonus: Double,
    score: Double)

/** The driver-side rows of a row-valued tool, with their column names.
  * The serve transports render them as ordered objects; the DataFrame
  * API wraps them with one [[toDF]] (a LocalRelation: no job). */
final case class ToolRows[T <: Product](columns: Seq[String], rows: Seq[T]) {

  def toDF(spark: org.apache.spark.sql.SparkSession)(
      implicit tt: scala.reflect.runtime.universe.TypeTag[T]): DataFrame =
    spark.createDataFrame(rows).toDF(columns: _*)

  /** The first `n` rows as insertion-ordered objects; a `None` field is
    * null, exactly what a collected Row carries for it. */
  def objects(n: Int): Seq[Map[String, Any]] = rows.take(n).map { r =>
    scala.collection.immutable.ListMap(columns.zip(r.productIterator.map {
      case o: Option[_] => o.getOrElse(null)
      case v => v
    }): _*)
  }
}

/** Skeletonization levels (`models.py:133-162`). */
final case class SkeletonColumn(name: String, dataType: String, description: String, tests: Seq[String])
final case class FullModelContext(
    uniqueId: String, name: String, layer: String, materialization: String,
    filePath: String, compiledSql: String, description: String,
    columns: Seq[SkeletonColumn], tags: Seq[String], dependsOn: Seq[String])
final case class SkeletonModelContext(
    uniqueId: String, name: String, layer: String, materialization: String,
    columns: Seq[(String, String)])
final case class MinimalModelContext(
    uniqueId: String, name: String, layer: String, columnCount: Long, keyColumns: Seq[String])

final case class ContextCapsule(
    task: String,
    intent: String,
    pivotModels: Seq[FullModelContext],
    upstreamModels: Seq[SkeletonModelContext],
    downstreamModels: Seq[MinimalModelContext],
    relevantTests: Seq[Map[String, String]],
    relevantMacros: Seq[Map[String, String]],
    relevantSources: Seq[Map[String, String]],
    projectPatterns: Map[String, String],
    similarModels: Seq[String],
    confidence: String,
    suggestedRefinements: Seq[String],
    tokenEstimate: Int,
    tokenBudget: Int)

final case class DiscoverEntry(
    uniqueId: String, name: String, layer: String, filePath: String,
    relationship: String, distance: Int)

/** Test-coverage summary with suggestions (`search.py:295-328`). */
final case class CoverageSummary(
    modelId: String, totalColumns: Int, testedColumns: Int, coveragePct: Int,
    untestedColumns: Seq[String], suggestions: Seq[String])

/** The full get_model_details payload (`server.py:180-236`). */
final case class ModelContext(
    uniqueId: String, name: String, layer: String, materialization: String,
    filePath: String, description: String, compiledSql: String,
    columns: Seq[SkeletonColumn], tests: Seq[Map[String, String]],
    testCoverage: CoverageSummary,
    upstreamModels: Seq[String], downstreamModels: Seq[String],
    sources: Seq[Map[String, String]], macrosUsed: Seq[Map[String, String]])
