package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

import graft.model.{Catalog, SearchHit, ToolRows}
import graft.serve.{ModelInfo, Posting}

/** Hybrid model search: field-weighted BM25 recall + graph-centrality
  * re-ranking — the Spark re-expression of the reference's FTS5
  * pipeline (`/root/reference/src/ariadne_dbt/search.py:48-126`).
  *
  * Two tiers, mirroring the reference's build-once/query-many split:
  *
  *   - INDEX BUILD (distributed): [[HybridSearch.buildPostings]] explodes
  *     the five index fields into a posting-list DataFrame `(term,
  *     unique_id, field, tf, fieldlen)` — the shape that shards across a
  *     cluster for an unbounded corpus; [[bm25]] scores against it with
  *     the corpus statistics (N, per-field avglen, per-term df)
  *     PRE-COMPUTED at build time instead of re-aggregated per query.
  *   - SERVE (driver-side): queries run against the collected
  *     [[graft.serve.Snapshot]] inverted index — the catalog is bounded
  *     project metadata (reference envelope: ≤10k models), so per-query
  *     scoring is pure in-memory compute with zero job-scheduling
  *     latency, matching FTS5's warm-connection behavior.
  *
  * Field weights ×5/×3/×2/×1/×1 mirror `-bm25(search_index, 5,3,2,1,1)`.
  * Exact FTS5 score parity is out of scope (different length
  * accounting); the reference's own tests assert recall/ordering
  * properties, which this preserves (SURVEY.md §7.5).
  */
class HybridSearch(catalog: Catalog) {

  import HybridSearch._

  private def snap = catalog.snapshot
  private def spark = catalog.models.sparkSession

  /** Distributed posting lists — the scale path, cached for reuse. */
  lazy val postings: DataFrame = buildPostings(catalog.searchIndex).cache()

  /** Weighted multi-field BM25 for an OR-semantics stemmed term set:
    * Σ_field weight_f · Σ_term idf·tf/(tf + k1(1-b+b·len/avglen)) —
    * distributed scoring with the index-time statistics broadcast from
    * the snapshot (no per-query aggregation over the postings). */
  def bm25(terms: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    if (terms.isEmpty) return Seq.empty[(String, Double)].toDF("unique_id", "bm25_score")
    val q = terms.distinct.toDF("term")
    val n = snap.nDocs.toDouble
    val dfs = (for {
      t <- terms.distinct
      (f, _) <- fieldWeights
      d <- snap.dfByTermField.get((t, f))
    } yield (t, f, d)).toDF("term", "field", "df")
    val avgLen = snap.avgFieldLen.toSeq.toDF("field", "avglen")
    val weightMap = typedLit(fieldWeights.toMap)

    postings
      .join(broadcast(q), "term")
      .join(broadcast(dfs), Seq("term", "field"))
      .join(broadcast(avgLen), "field")
      .select(col("unique_id"),
        (element_at(weightMap, col("field")) *
          log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") / (col("tf") +
            lit(K1) * (lit(1.0) - B + lit(B) * col("fieldlen") / col("avglen"))))).as("s"))
      .groupBy("unique_id").agg(sum("s").as("bm25_score"))
  }

  /** Serving-tier BM25: same formula, same statistics, evaluated over
    * the snapshot's inverted index — O(Σ postings of the query terms)
    * driver-side, deterministic left-to-right accumulation.
    * Package-visible so the parity spec can diff it against the
    * distributed [[bm25]]. */
  private[graft] def bm25Scores(terms: Seq[String]): Seq[(String, Double)] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val n = snap.nDocs.toDouble
    for (t <- terms.distinct; p <- snap.postings.getOrElse(t, emptyPostings)) {
      val df = snap.dfByTermField((t, p.field)).toDouble
      val avg = snap.avgFieldLen(p.field)
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      val s = fieldWeightMap(p.field) * idf *
        (p.tf / (p.tf + K1 * (1.0 - B + B * p.fieldlen / avg)))
      acc(p.uid) = acc.getOrElse(p.uid, 0.0) + s
    }
    acc.toSeq
  }

  /** Full hybrid search (search.py:54-104): BM25 recall at 4×limit,
    * LIKE fallback when empty, then re-ranking (exclusion, min-max
    * normalize, 0.55/0.20/0.10/0.15 blend) — entirely on the serving
    * snapshot; the candidate set is bounded by 4×limit ≤ 200 rows,
    * exactly the reference's two-phase design. */
  def searchHits(query: String, intent: String = "explore", limit: Int = 10,
      excludeIds: Seq[String] = Nil): Seq[SearchHit] = {
    val terms = tokenizeQuery(query)
    val qLower = query.toLowerCase

    var cands: Seq[(ModelInfo, Double)] =
      if (terms.isEmpty) Nil
      else bm25Scores(terms)
        .flatMap { case (uid, s) => snap.modelById.get(uid).map(m => (m, s)) }
        .sortBy { case (m, s) => (-s, m.uniqueId) }
        .take(limit * 4)
    if (cands.isEmpty) // LIKE fallback (search.py:130-144)
      cands = snap.models
        .filter(m => m.name.toLowerCase.contains(qLower) ||
          (m.description != null && m.description.toLowerCase.contains(qLower)))
        .sortBy(m => (-m.centrality, m.uniqueId))
        .take(limit * 4)
        .map(m => (m, 0.5))

    val excl = excludeIds.toSet
    val kept = cands.filterNot { case (m, _) => excl(m.uniqueId) }
    val scores = kept.map(_._2)
    val (mn, mx) = if (scores.isEmpty) (0.0, 0.0) else (scores.min, scores.max)
    val layerW = intentLayerWeights.getOrElse(intent, Map.empty[String, Double])

    kept.map { case (m, bm) =>
      val norm = if (mx == mn) 1.0 else (bm - mn) / (mx - mn)
      val layer = m.layerOrOther
      val layerBoost = layerW.getOrElse(layer, 0.0)
      val nameBonus = if (m.name.toLowerCase.contains(qLower)) 0.15 else 0.0
      SearchHit(m.uniqueId, m.name, layer, Option(m.description).getOrElse(""),
        bm, m.centrality, layerBoost, nameBonus,
        norm * 0.55 + m.centrality * 0.20 + layerBoost * 0.10 + nameBonus * 0.15)
    }.sortBy(h => (-h.score, h.uniqueId)).take(limit)
  }

  /** [[searchHits]] under the search_models column names. */
  def searchRows(query: String, intent: String = "explore", limit: Int = 10,
      excludeIds: Seq[String] = Nil): ToolRows[SearchHit] =
    ToolRows(SearchColumns, searchHits(query, intent, limit, excludeIds))

  def search(query: String, intent: String = "explore", limit: Int = 10,
      excludeIds: Seq[String] = Nil): DataFrame =
    searchRows(query, intent, limit, excludeIds).toDF(spark)

  /** Per-model macro containment for a pivot set, driver-side. */
  def macroRowsForModels(modelIds: Seq[String]): Seq[(String, graft.serve.MacroInfo)] =
    for {
      mid <- modelIds
      sqlText = snap.modelById.get(mid).map(_.sqlText).getOrElse("")
      mac <- snap.macros if mac.name.nonEmpty && sqlText.contains(mac.name)
    } yield (mid, mac)

  /** Batched per-model macro containment (search.py macro scan). */
  def macrosForModels(modelIds: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    macroRowsForModels(modelIds)
      .map { case (mid, m) => (mid, m.uniqueId, m.name, m.packageName, m.description) }
      .sortBy { case (mid, _, name, _, _) => (mid, name) }
      .toDF("model_id", "unique_id", "name", "package_name", "description")
  }

  /** Direct upstream sources for a pivot set, driver-side. */
  def sourceRowsForModels(modelIds: Seq[String]): Seq[(String, graft.serve.SourceInfo)] =
    for {
      mid <- modelIds
      pid <- snap.parents.getOrElse(mid, Vector.empty).sorted
      src <- snap.sources.get(pid)
    } yield (mid, src)

  /** Batched direct upstream sources for a pivot set. */
  def sourcesForModels(modelIds: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    sourceRowsForModels(modelIds)
      .map { case (mid, src) => (mid, src.uniqueId, src.name, src.sourceName) }
      .sortBy { case (mid, uid, _, _) => (mid, uid) }
      .toDF("model_id", "unique_id", "name", "source_name")
  }

  // ── Finders / lookups (search.py:148-328) — all serving-tier ────────

  /** Models having a column whose name contains `columnName` (O6). */
  def findByColumnRows(columnName: String, limit: Int = 10): ToolRows[ColumnMatch] = {
    val needle = columnName.toLowerCase
    ToolRows(Seq("unique_id", "name", "layer", "file_path", "centrality"),
      snap.models
        .filter(m => snap.columnNamesLower.getOrElse(m.uniqueId, Vector.empty)
          .exists(_.contains(needle)))
        .sortBy(m => (-m.centrality, m.uniqueId))
        .take(limit)
        .map(m => (m.uniqueId, m.name, m.layer, m.filePath, m.centrality)))
  }

  def findByColumn(columnName: String, limit: Int = 10): DataFrame =
    findByColumnRows(columnName, limit).toDF(spark)

  /** Models under a path LIKE pattern (O7); '%' supplied by caller. */
  def findByPathRows(pattern: String, limit: Int = 20): ToolRows[PathMatch] = {
    val re = likeToRegex(pattern)
    ToolRows(Seq("unique_id", "name", "layer", "file_path"),
      snap.models
        .filter(m => m.filePath != null && re.matches(m.filePath))
        .sortBy(_.name)
        .take(limit)
        .map(m => (m.uniqueId, m.name, m.layer, m.filePath)))
  }

  def findByPath(pattern: String, limit: Int = 20): DataFrame =
    findByPathRows(pattern, limit).toDF(spark)

  /** Point lookup by case-insensitive name, else by unique_id (O8). */
  def lookupRows(nameOrId: String): ToolRows[ModelDetails] =
    ToolRows(Seq("unique_id", "name", "layer", "materialization", "file_path",
        "description", "upstream_count", "downstream_count", "centrality"),
      snap.idByNameLower.get(nameOrId.toLowerCase)
        .orElse(if (snap.modelById.contains(nameOrId)) Some(nameOrId) else None)
        .flatMap(snap.modelById.get).toSeq
        .map(m => (m.uniqueId, m.name, m.layer, m.materialization, m.filePath,
          m.description, m.upstreamCount, m.downstreamCount, m.centrality)))

  def lookup(nameOrId: String): DataFrame = lookupRows(nameOrId).toDF(spark)

  /** File-path resolution (P6) as ids: exact file_path match unioned
    * with case-insensitive basename-minus-.sql name match; yml skipped. */
  def resolvePathIds(paths: Seq[String]): Seq[String] = {
    val keep = paths.filterNot(p => p.endsWith(".yml") || p.endsWith(".yaml"))
    keep.flatMap { p =>
      val base = p.split("/").last.replaceAll("\\.sql$", "").toLowerCase
      snap.models.filter(_.filePath == p).map(_.uniqueId) ++
        snap.models.filter(_.name.toLowerCase == base).map(_.uniqueId)
    }.distinct
  }

  /** [[resolvePathIds]] as a single-column DataFrame. */
  def resolvePaths(paths: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    resolvePathIds(paths).toDF("unique_id")
  }

  /** Columns of a model with their attached test types (O9). */
  def columnsWithTests(modelId: String): DataFrame = {
    val s = spark
    import s.implicits._
    val testsByCol = snap.testsByModel.getOrElse(modelId, Vector.empty)
      .filter(_.columnName.nonEmpty)
      .groupBy(_.columnName)
      .map { case (k, v) => k -> v.map(_.testType).sorted }
    snap.columnsByModel.getOrElse(modelId, Vector.empty)
      .map(c => (c.name, c.dataType, c.description,
        testsByCol.getOrElse(c.name, Vector.empty[String]).toSeq,
        c.isPrimaryKey, c.isForeignKey))
      .toDF("name", "data_type", "description", "tests",
        "is_primary_key", "is_foreign_key")
  }

  /** Macros referenced by a model's SQL — compiled-first containment
    * scan over the bounded macro set (O10). */
  def macrosForModel(modelId: String): DataFrame = {
    val s = spark
    import s.implicits._
    val sqlText = snap.modelById.get(modelId).map(_.sqlText).getOrElse("")
    snap.macros
      .filter(m => m.name.nonEmpty && sqlText.contains(m.name))
      .map(m => (m.uniqueId, m.name, m.packageName, m.description))
      .toDF("unique_id", "name", "package_name", "description")
  }

  /** Direct upstream sources of a model (O11). */
  def sourcesForModel(modelId: String): DataFrame = {
    val s = spark
    import s.implicits._
    snap.parents.getOrElse(modelId, Vector.empty).sorted
      .flatMap(snap.sources.get)
      .map(src => (src.uniqueId, src.name, src.sourceName, src.schema, src.loader))
      .toDF("unique_id", "name", "source_name", "schema", "loader")
  }

  /** Test-coverage summary with suggestions (search.py:295-328). */
  def coverageSummary(modelId: String): graft.model.CoverageSummary = {
    val columns = snap.columnsByModel.getOrElse(modelId, Vector.empty)
    val tests = snap.testsByModel.getOrElse(modelId, Vector.empty)
    val testedCols = tests.filter(_.columnName.nonEmpty).map(_.columnName).toSet
    val testedCount = columns.count(c => testedCols(c.name))
    val untested = columns.map(_.name).filterNot(testedCols)
    val coveragePct =
      if (columns.isEmpty) 0 else testedCount * 100 / columns.size
    val testedTypes = tests.map(_.testType).toSet
    val suggestions = Seq.newBuilder[String]
    if (!testedTypes("not_null"))
      suggestions += "Add not_null tests to key columns"
    if (!testedTypes("unique")) {
      val pks = columns
        .filter(c => c.name.toLowerCase.contains("id") || c.isPrimaryKey)
        .map(_.name)
      if (pks.nonEmpty) suggestions += s"Add unique test to: ${pks.take(3).mkString(", ")}"
    }
    if (untested.nonEmpty && columns.size > 5)
      suggestions += s"Untested columns (${untested.size}): ${untested.take(5).mkString(", ")}"
    graft.model.CoverageSummary(modelId, columns.size, testedCount, coveragePct,
      untested, suggestions.result())
  }

  /** The composite get_model_details payload (server.py:180-236):
    * SQL, columns+tests, coverage summary, 1-hop neighbor names,
    * direct sources, contained macros — all from the snapshot. */
  def modelContext(nameOrId: String): Option[graft.model.ModelContext] = {
    val uid = snap.idByNameLower.get(nameOrId.toLowerCase)
      .orElse(if (snap.modelById.contains(nameOrId)) Some(nameOrId) else None)
    uid.flatMap(snap.modelById.get).map { m =>
      val tests = snap.testsByModel.getOrElse(m.uniqueId, Vector.empty)
      val testsByCol = tests.filter(_.columnName.nonEmpty)
        .groupBy(_.columnName).map { case (k, v) => k -> v.map(_.testType).sorted.toSeq }
      def neighborNames(adj: Map[String, Vector[String]]): Seq[String] =
        adj.getOrElse(m.uniqueId, Vector.empty).sorted
          .flatMap(snap.modelById.get).map(_.name)
      graft.model.ModelContext(
        m.uniqueId, m.name, m.layerOrOther, m.materialization, m.filePath,
        Option(m.description).getOrElse(""), m.sqlText,
        snap.columnsByModel.getOrElse(m.uniqueId, Vector.empty)
          .map(c => graft.model.SkeletonColumn(c.name, c.dataType, c.description,
            testsByCol.getOrElse(c.name, Nil))),
        tests.map(t => Map("name" -> t.name, "test_type" -> t.testType,
          "column_name" -> t.columnName, "severity" -> t.severity)),
        coverageSummary(m.uniqueId),
        neighborNames(snap.parents), neighborNames(snap.children),
        sourceRowsForModels(Seq(m.uniqueId)).map { case (_, src) =>
          Map("unique_id" -> src.uniqueId, "name" -> src.name,
            "source_name" -> src.sourceName)
        },
        macroRowsForModels(Seq(m.uniqueId)).map { case (_, mac) =>
          Map("unique_id" -> mac.uniqueId, "name" -> mac.name,
            "package_name" -> mac.packageName)
        })
    }
  }

  /** Test-coverage report for a model (O12). */
  def testCoverage(modelId: String): DataFrame = {
    val s = spark
    import s.implicits._
    val tested = snap.testsByModel.getOrElse(modelId, Vector.empty)
      .filter(_.columnName.nonEmpty).map(_.columnName).toSet
    snap.columnsByModel.getOrElse(modelId, Vector.empty)
      .map(c => (c.name, tested(c.name), c.isPrimaryKey))
      .toDF("name", "is_tested", "is_primary_key")
  }
}

object HybridSearch {
  val K1 = 1.2
  val B = 0.75

  /** field → BM25 weight (schema.sql:202-210 column order). */
  val fieldWeights: Seq[(String, Double)] = Seq(
    "name" -> 5.0, "description" -> 3.0, "column_names" -> 2.0,
    "sql_text" -> 1.0, "tags_text" -> 1.0)
  private val fieldWeightMap: Map[String, Double] = fieldWeights.toMap

  private val emptyPostings = Array.empty[Posting]

  /** (unique_id, name, layer, file_path, centrality). */
  type ColumnMatch = (String, String, String, String, Double)
  /** (unique_id, name, layer, file_path). */
  type PathMatch = (String, String, String, String)
  /** (unique_id, name, layer, materialization, file_path, description,
    * upstream_count, downstream_count, centrality). */
  type ModelDetails = (String, String, String, String, String, String, Long, Long, Double)

  /** search_models columns, in [[SearchHit]] field order. */
  val SearchColumns: Seq[String] = Seq("unique_id", "name", "layer", "description",
    "bm25_score", "centrality", "layer_boost", "name_bonus", "score")

  val stopwords: Set[String] = Set("a", "an", "the", "to", "for", "in", "of",
    "on", "at", "with", "and", "or", "is", "it")

  val stemUdf: UserDefinedFunction = udf((s: String) => Porter.stem(s))

  /** Posting lists over all five index fields, stemmed — the
    * distributed index build. The stem UDF is applied on the exploded
    * column (Spark disallows UDF calls inside higher-order-function
    * lambdas). */
  def buildPostings(searchIndex: DataFrame): DataFrame = {
    val perField = fieldWeights.map { case (field, _) =>
      searchIndex
        .select(col("unique_id"), lit(field).as("field"),
          split(lower(regexp_replace(col(field), "[^A-Za-z0-9\\s]", " ")), "\\s+").as("toks"))
        .select(col("unique_id"), col("field"),
          size(filter(col("toks"), t => length(t) > 0)).as("fieldlen"),
          explode(col("toks")).as("tok"))
        .filter(length(col("tok")) > 0)
        .select(col("unique_id"), col("field"), col("fieldlen"),
          stemUdf(col("tok")).as("term"))
    }
    perField.reduce(_ unionByName _)
      .groupBy("unique_id", "field", "fieldlen", "term")
      .agg(count(lit(1)).as("tf"))
  }

  /** SQL LIKE → anchored regex ('%' = any run, '_' = single char). */
  def likeToRegex(pattern: String): scala.util.matching.Regex = {
    val sb = new StringBuilder("(?s)")
    pattern.foreach {
      case '%' => sb.append(".*")
      case '_' => sb.append(".")
      case c => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    sb.toString.r
  }

  /** Query tokenizer (search.py:23-35): strip non-word, split, drop
    * stopwords and single chars, stem. */
  def tokenizeQuery(query: String): Seq[String] =
    query.replaceAll("[^A-Za-z0-9\\s]", " ").split("\\s+").toSeq
      .filter(t => t.length > 1 && !stopwords.contains(t.toLowerCase))
      .map(t => Porter.stem(t.toLowerCase))

  /** Intent → layer affinity (search.py:13-20). */
  val intentLayerWeights: Map[String, Map[String, Double]] = Map(
    "debug" -> Map("staging" -> 0.10, "intermediate" -> 0.05),
    "add_feature" -> Map("intermediate" -> 0.05, "marts" -> 0.10),
    "refactor" -> Map("intermediate" -> 0.10, "marts" -> 0.05),
    "test" -> Map("staging" -> 0.05, "intermediate" -> 0.05, "marts" -> 0.05),
    "document" -> Map.empty,
    "explore" -> Map.empty)
}
