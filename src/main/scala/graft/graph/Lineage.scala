package graft.graph

import org.apache.spark.sql.DataFrame

import graft.model.{Catalog, ToolRows}

/** DAG analytics over the catalog edge list — lineage, impact, source
  * dependencies, centrality ranking
  * (`/root/reference/src/ariadne_dbt/graph.py:10-188`).
  *
  * Serving tier: traversal runs on the [[graft.serve.Snapshot]]
  * adjacency maps (the catalog graph is bounded project metadata — the
  * reference walks the same edges with a Python queue over SQLite
  * rows), so a depth-3 lineage is microseconds of driver compute
  * instead of a Spark job per hop. The DISTRIBUTED traversal for
  * unbounded graphs is [[Bfs]], which the gate queries
  * (`graft.queries.Graph`) exercise end-to-end.
  */
class Lineage(catalog: Catalog) {

  import Lineage._

  private def snap = catalog.snapshot
  private def spark = catalog.models.sparkSession

  private def enriched(reach: Seq[(String, Int)])
      : Seq[(String, Int, Option[String], Option[String], Option[String])] =
    reach.map { case (id, d) =>
      val m = snap.modelById.get(id)
      (id, d, m.map(_.name), m.flatMap(x => Option(x.layer)),
        m.flatMap(x => Option(x.materialization)))
    }

  /** Upstream traversal with distances, enriched with model fields. */
  def upstream(id: String, depth: Int): DataFrame = {
    val s = spark
    import s.implicits._
    enriched(snap.bfs(Seq(id), depth, up = true))
      .sortBy { case (nid, d, _, _, _) => (d, nid) }
      .toDF("id", "distance", "name", "layer", "materialization")
  }

  /** Downstream traversal with distances. */
  def downstream(id: String, depth: Int): DataFrame = {
    val s = spark
    import s.implicits._
    enriched(snap.bfs(Seq(id), depth, up = false))
      .sortBy { case (nid, d, _, _, _) => (d, nid) }
      .toDF("id", "distance", "name", "layer", "materialization")
  }

  /** Both directions tagged with direction, ordered (direction,
    * distance, id) — `get_lineage` (server.py:240-307). */
  def lineageRows(id: String, upDepth: Int, downDepth: Int): ToolRows[LineageRow] = {
    val rows =
      enriched(snap.bfs(Seq(id), upDepth, up = true)).map { case (nid, d, n, l, m) =>
        (nid, d, "upstream", n, l, m)
      } ++
      enriched(snap.bfs(Seq(id), downDepth, up = false)).map { case (nid, d, n, l, m) =>
        (nid, d, "downstream", n, l, m)
      }
    ToolRows(Seq("id", "distance", "direction", "name", "layer", "materialization"),
      rows.sortBy { case (nid, d, dir, _, _, _) => (dir, d, nid) })
  }

  def lineage(id: String, upDepth: Int, downDepth: Int): DataFrame =
    lineageRows(id, upDepth, downDepth).toDF(spark)

  /** Impact analysis (graph.py:79-132): downstream reach split by node
    * type, test count, rule-based risk level — one aggregation pass
    * over the reach set. */
  def impactRows(id: String, depth: Int = 5): ToolRows[ImpactRow] = {
    val reach = snap.bfs(Seq(id), math.min(depth, 10), up = false).map(_._1)
    val modelsReached = reach.filter(_.startsWith("model."))
    val nExposures = reach.count(_.startsWith("exposure.")).toLong
    val nTests = modelsReached
      .map(m => snap.testsByModel.getOrElse(m, Vector.empty).size.toLong).sum
    val nMarts = modelsReached
      .count(m => snap.modelById.get(m).exists(_.layer == "marts")).toLong
    val nModels = modelsReached.size.toLong
    val risk =
      if (nExposures > 0 || (nMarts > 0 && nModels > 5)) "high"
      else if (nModels > 3 || nMarts > 0) "medium"
      else "low"
    ToolRows(Seq("n_models", "n_exposures", "n_tests", "n_marts", "risk"),
      Seq((nModels, nExposures, nTests, nMarts, risk)))
  }

  def impact(id: String, depth: Int = 5): DataFrame = impactRows(id, depth).toDF(spark)

  /** Source dependencies (graph.py:136-150): upstream depth 10, keep
    * source.* ids, enrich from sources. */
  def sourceDeps(id: String): DataFrame = {
    val s = spark
    import s.implicits._
    snap.bfs(Seq(id), 10, up = true)
      .collect { case (nid, d) if nid.startsWith("source.") =>
        snap.sources.get(nid).map(src => (nid, src.name, src.sourceName, d))
      }
      .flatten
      .sortBy { case (nid, _, _, d) => (d, nid) }
      .toDF("id", "name", "source_name", "distance")
  }

  /** Top-k models by centrality (graph.py:178-188). */
  def topCentral(k: Int = 10): DataFrame = {
    val s = spark
    import s.implicits._
    snap.models
      .sortBy(m => (-m.centrality, -m.downstreamCount, m.uniqueId))
      .take(k)
      .map(m => (m.uniqueId, m.name, m.layer, m.centrality, m.downstreamCount))
      .toDF("unique_id", "name", "layer", "centrality", "downstream_count")
  }
}

object Lineage {
  /** (id, distance, direction, name, layer, materialization). */
  type LineageRow = (String, Int, String, Option[String], Option[String], Option[String])
  /** (n_models, n_exposures, n_tests, n_marts, risk). */
  type ImpactRow = (Long, Long, Long, Long, String)
}
