package graft.serve

import java.io.{BufferedReader, PrintStream}

import graft.api.Engine
import graft.model.ToolRows
import graft.util.{Json, JsonParse}

/** The CLI `serve` transport: a long-running JSON-lines loop over the
  * [[Engine]] facade — the stdio front door a reference user gets from
  * `ariadne serve` (`/root/reference/src/ariadne_dbt/cli.py:154-161`,
  * `server.py:26-520`), without an MCP dependency.
  *
  * Protocol: one request object per stdin line,
  * `{"tool": "<name>", "args": {...}}`; one response object per stdout
  * line, `{"result": ...}` or `{"error": "..."}`. The 10-tool contract
  * and argument names mirror server.py; `exit` (or EOF) ends the loop.
  * Row-valued tools return their rows as ordered objects, capped at 200
  * rows — serve is the bounded interactive tier, the unbounded path
  * stays in the distributed queries. The rows come straight from the
  * engine's driver-side snapshot: no DataFrame is built per call.
  */
object JsonLineServer {

  private val RowCap = 200

  def loop(engine: Engine, in: BufferedReader, out: PrintStream): Int = {
    out.println(Json.render(Map("status" -> "ready", "tools" -> toolNames)))
    var line = in.readLine()
    while (line != null && line.trim != "exit") {
      if (line.trim.nonEmpty) {
        val resp =
          try Map("result" -> dispatch(engine, JsonParse.parse(line)))
          catch { case e: Exception =>
            Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        out.println(Json.render(resp))
      }
      line = in.readLine()
    }
    0
  }

  val toolNames: Seq[String] = Seq(
    "get_context_capsule", "discover_models", "get_model_details",
    "get_lineage", "get_impact_analysis", "search_models",
    "find_models_by_column", "find_models_by_path", "refresh_index",
    "rate_capsule")

  /** One tool call: request object in, renderable result out.
    *
    * The whole call runs inside a [[graft.util.CheckpointHygiene]]
    * scope (r11 VERDICT): every result below is fully materialized
    * driver-side before the scope exits (row tools return snapshot rows,
    * capsule/details return driver maps), so the scope's
    * consume contract holds — and, more importantly, a dispatch that
    * RACES another scoped invocation on the same session (a bench
    * round, an evolving stream's micro-batch) now MERGES with it
    * instead of being an unprotected bystander whose in-flight
    * localCheckpoint blocks the other scope's exit sweep could
    * unpersist mid-computation (unrecoverable — local checkpoints
    * cannot be recomputed). */
  def dispatch(engine: Engine, req: Any): Any =
    graft.util.CheckpointHygiene.scoped(engine.session) {
      dispatchImpl(engine, req)
    }

  private def dispatchImpl(engine: Engine, req: Any): Any = {
    val r = asMap(req, "request")
    val args = r.get("args").map(asMap(_, "args")).getOrElse(Map.empty[String, Any])
    def str(k: String): String = args.get(k) match {
      case Some(s: String) => s
      case _ => throw new IllegalArgumentException(s"missing string arg '$k'")
    }
    def optStr(k: String): Option[String] =
      args.get(k).collect { case s: String => s }
    def int(k: String, dflt: Int): Int = args.get(k) match {
      case Some(l: Long) => l.toInt
      case Some(d: Double) => d.toInt
      case _ => dflt
    }
    def strs(k: String): Seq[String] = args.get(k) match {
      case Some(xs: List[_]) => xs.collect { case s: String => s }
      case _ => Nil
    }

    r.getOrElse("tool", "") match {
      case "get_context_capsule" =>
        engine.getContextCapsule(str("task"), optStr("focus_model"),
          strs("entry_models"), strs("entry_paths"),
          args.get("token_budget").collect {
            case l: Long => l.toInt
            case d: Double => d.toInt
          })
      case "discover_models" =>
        engine.discoverModels(str("task"), optStr("focus_model"),
          strs("entry_models"), strs("entry_paths"), int("limit", 40))
      case "get_model_details" =>
        engine.getModelContext(str("model_name"))
          .getOrElse(throw new IllegalArgumentException(
            s"model not found: ${str("model_name")}"))
      case "get_lineage" =>
        rows(engine.getLineageRows(str("model_id"),
          int("up_depth", 3), int("down_depth", 3)))
      case "get_impact_analysis" =>
        rows(engine.getImpactAnalysisRows(str("model_id"), int("depth", 5)))
      case "search_models" =>
        rows(engine.searchModelsRows(str("query"), int("limit", 10),
          optStr("intent").getOrElse("explore"), optStr("layer")))
      case "find_models_by_column" =>
        rows(engine.findModelsByColumnRows(str("column_name"), int("limit", 20)))
      case "find_models_by_path" =>
        rows(engine.findModelsByPathRows(str("path_pattern"), int("limit", 20)))
      case "refresh_index" =>
        engine.refreshIndex()
        Map("status" -> "ok")
      case "rate_capsule" =>
        Map("log_id" -> engine.rateCapsule(int("rating", 3), optStr("notes")))
      case other =>
        throw new IllegalArgumentException(s"unknown tool: $other")
    }
  }

  private def asMap(v: Any, what: String): Map[String, Any] = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> x }.toMap
    case _ => throw new IllegalArgumentException(s"$what must be a JSON object")
  }

  /** Tool rows as insertion-ordered objects (serve-tier cap). */
  private def rows(r: ToolRows[_]): Seq[Map[String, Any]] = r.objects(RowCap)
}
