package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import scala.collection.immutable.ListMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.api.Engine
import graft.serve.McpServer
import graft.util.{Json, JsonParse}

/** MCP stdio framing (`serve --mcp`): JSON-RPC 2.0 handshake,
  * tools/list catalog parity with the JSON-lines transport, tools/call
  * content framing, and the protocol-vs-tool error split. The tool
  * SEMANTICS are JsonLineServer.dispatch's (covered by CliSpec /
  * ServeParitySpec) — this spec pins the framing only. */
class McpSpec extends SparkSuite {

  private def serveMcp(requests: Seq[String]): Vector[Map[String, Any]] = {
    val root = Files.createTempDirectory("graft_mcp")
    Files.createDirectories(root.resolve("target"))
    for (f <- Seq("manifest.json", "catalog.json", "run_results.json"))
      Files.copy(java.nio.file.Paths.get(fixturePath(f)), root.resolve(s"target/$f"))
    val buf = new ByteArrayOutputStream()
    val code = Cli.run(spark, Seq("serve", root.toString, "--mcp"),
      new PrintStream(buf, true),
      new java.io.BufferedReader(new java.io.StringReader(requests.mkString("\n"))))
    assert(code == 0, buf.toString)
    buf.toString.linesIterator.toVector
      .map(l => JsonParse.parse(l).asInstanceOf[Map[String, Any]])
  }

  test("initialize -> initialized -> tools/list -> tools/call round-trip") {
    val responses = serveMcp(Seq(
      """{"jsonrpc":"2.0","id":1,"method":"initialize","params":{"protocolVersion":"2024-11-05","capabilities":{},"clientInfo":{"name":"spec","version":"0"}}}""",
      """{"jsonrpc":"2.0","method":"notifications/initialized"}""",
      """{"jsonrpc":"2.0","id":2,"method":"tools/list"}""",
      """{"jsonrpc":"2.0","id":3,"method":"tools/call","params":{"name":"search_models","arguments":{"query":"orders","limit":5}}}""",
      """{"jsonrpc":"2.0","id":4,"method":"ping"}"""))
    // the notification produced no response line
    assert(responses.size == 4)
    assert(responses.forall(_("jsonrpc") == "2.0"))

    val init = responses(0)("result").asInstanceOf[Map[String, Any]]
    assert(init("protocolVersion") == McpServer.ProtocolVersion)
    assert(init("serverInfo").asInstanceOf[Map[String, Any]]("name") == "graft")
    assert(init("capabilities").asInstanceOf[Map[String, Any]].contains("tools"))

    val tools = responses(1)("result").asInstanceOf[Map[String, Any]]("tools")
      .asInstanceOf[List[Map[String, Any]]]
    assert(tools.map(_("name")) == graft.serve.JsonLineServer.toolNames.toList,
      "tools/list must carry exactly the JSON-lines transport's 10 tools, same order")
    tools.foreach { t =>
      val s = t("inputSchema").asInstanceOf[Map[String, Any]]
      assert(s("type") == "object" && s.contains("properties") && s.contains("required"),
        s"tool ${t("name")} needs a JSON-Schema inputSchema")
    }

    val call = responses(2)("result").asInstanceOf[Map[String, Any]]
    assert(call("isError") == false)
    val content = call("content").asInstanceOf[List[Map[String, Any]]]
    assert(content.head("type") == "text")
    assert(content.head("text").toString.contains("fct_orders"),
      "search result text must surface the fixture's order model")

    assert(responses(3)("id") == 4L && responses(3).contains("result"))
  }

  test("protocol errors are JSON-RPC errors; tool failures are isError results") {
    val responses = serveMcp(Seq(
      """this is not json""",
      """{"jsonrpc":"2.0","id":7,"method":"no/such/method"}""",
      """{"jsonrpc":"2.0","id":8,"method":"tools/call","params":{"name":"no_such_tool","arguments":{}}}""",
      """{"jsonrpc":"2.0","id":9,"method":"tools/call","params":{"name":"get_model_details","arguments":{"model_name":"nope_not_there"}}}""",
      """{"jsonrpc":"2.0","id":10,"method":42}"""))
    assert(responses.size == 5)
    val parseErr = responses(0)("error").asInstanceOf[Map[String, Any]]
    assert(parseErr("code") == -32700L)
    val unknownMethod = responses(1)("error").asInstanceOf[Map[String, Any]]
    assert(unknownMethod("code") == -32601L && responses(1)("id") == 7L)
    // an UNKNOWN TOOL NAME is a protocol error (-32602, MCP 2024-11-05)
    val unknownTool = responses(2)("error").asInstanceOf[Map[String, Any]]
    assert(unknownTool("code") == -32602L && responses(2)("id") == 8L)
    assert(unknownTool("message").toString.contains("Unknown tool"))
    // a well-formed call to a KNOWN tool that fails is a RESULT with isError
    val toolFail = responses(3)
    assert(!toolFail.contains("error"), s"tool failure must not be a protocol error: $toolFail")
    assert(toolFail("result").asInstanceOf[Map[String, Any]]("isError") == true)
    // a non-string method carrying an id is Invalid Request, not a silent drop
    val badMethod = responses(4)("error").asInstanceOf[Map[String, Any]]
    assert(badMethod("code") == -32600L && responses(4)("id") == 10L)
  }

  test("tools/call answers match the JSON-lines transport verbatim") {
    val root = Files.createTempDirectory("graft_mcp_parity")
    Files.createDirectories(root.resolve("target"))
    for (f <- Seq("manifest.json", "catalog.json", "run_results.json"))
      Files.copy(java.nio.file.Paths.get(fixturePath(f)), root.resolve(s"target/$f"))
    def run(args: Seq[String], reqs: Seq[String]): Vector[String] = {
      val buf = new ByteArrayOutputStream()
      Cli.run(spark, args, new PrintStream(buf, true),
        new java.io.BufferedReader(new java.io.StringReader(reqs.mkString("\n"))))
      buf.toString.linesIterator.toVector
    }
    val viaMcp = run(Seq("serve", root.toString, "--mcp"), Seq(
      """{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"get_lineage","arguments":{"model_id":"model.shoply.fct_orders"}}}"""))
    val viaLines = run(Seq("serve", root.toString), Seq(
      """{"tool":"get_lineage","args":{"model_id":"model.shoply.fct_orders"}}""", "exit"))
    val mcpText = JsonParse.parse(viaMcp.head).asInstanceOf[Map[String, Any]]("result")
      .asInstanceOf[Map[String, Any]]("content")
      .asInstanceOf[List[Map[String, Any]]].head("text").toString
    val linesResult = JsonParse.parse(viaLines(1)).asInstanceOf[Map[String, Any]]("result")
    assert(JsonParse.parse(mcpText) == linesResult,
      "the MCP content text must be the JSON-lines result, rendered")
  }

  /** The fixture manifest plus `misc_orders`, a model under a path with
    * no layer keyword (so its layer is null), downstream of stg_orders. */
  private def manifestWithNullLayer(): String = {
    val m = JsonParse.parse(Files.readString(java.nio.file.Paths.get(fixturePath("manifest.json"))))
      .asInstanceOf[Map[String, Any]]
    val nodes = m("nodes").asInstanceOf[Map[String, Any]]
    val stg = nodes("model.shoply.stg_orders").asInstanceOf[Map[String, Any]]
    val misc = stg ++ Map(
      "unique_id" -> "model.shoply.misc_orders", "name" -> "misc_orders",
      "fqn" -> Seq("shoply", "misc", "misc_orders"),
      "original_file_path" -> "models/misc/misc_orders.sql", "sources" -> Nil,
      "depends_on" -> Map("nodes" -> Seq("model.shoply.stg_orders")))
    val parents = m("parent_map").asInstanceOf[Map[String, Any]]
    val out = Files.createTempDirectory("graft_mcp_rows").resolve("manifest.json")
    Files.writeString(out, Json.render(m ++ Map(
      "nodes" -> (nodes + ("model.shoply.misc_orders" -> misc)),
      "parent_map" -> (parents + ("model.shoply.misc_orders" -> Seq("model.shoply.stg_orders"))))))
    out.toString
  }

  private def callText(engine: Engine, tool: String, args: String): String = {
    val line = s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"$tool","arguments":$args}}"""
    val result = JsonParse.parse(McpServer.handle(engine, line).get)
      .asInstanceOf[Map[String, Any]]("result").asInstanceOf[Map[String, Any]]
    assert(result("isError") == false, result)
    result("content").asInstanceOf[List[Map[String, Any]]].head("text").toString
  }

  /** A tool's DataFrame, rendered the way the transports rendered row
    * tools before they answered from driver rows. */
  private def dfText(df: DataFrame): String = {
    val names = df.schema.fieldNames
    Json.render(df.limit(200).collect().toSeq.map { r =>
      ListMap(names.zipWithIndex.map { case (n, j) => n -> r.get(j) }: _*)
    })
  }

  test("row tools: MCP reply text is byte-equal to the DataFrame rendering") {
    val usage = Files.createTempDirectory("graft_mcp_rows_usage").toString + "/log"
    val engine = Engine.fromManifest(spark, manifestWithNullLayer(), Some(usage))
    val stg = "model.shoply.stg_orders"
    val cases: Seq[(String, String, () => DataFrame)] = Seq(
      ("search_models", """{"query":"orders","limit":5}""", () => engine.searchModels("orders", 5)),
      ("search_models", """{"query":"orders","layer":"marts"}""",
        () => engine.searchModels("orders", layer = Some("marts"))),
      ("search_models", """{"query":"customer payments","intent":"debug","limit":50}""",
        () => engine.searchModels("customer payments", 50, "debug")),
      ("search_models", """{"query":"zzznothing"}""", () => engine.searchModels("zzznothing")),
      ("get_lineage", s"""{"model_id":"$stg"}""", () => engine.getLineage(stg)),
      ("get_lineage", s"""{"model_id":"$stg","up_depth":0,"down_depth":0}""",
        () => engine.getLineage(stg, 0, 0)),
      ("get_lineage", """{"model_id":"model.shoply.nope"}""",
        () => engine.getLineage("model.shoply.nope")),
      ("get_impact_analysis", s"""{"model_id":"$stg"}""", () => engine.getImpactAnalysis(stg)),
      ("get_impact_analysis", s"""{"model_id":"$stg","depth":0}""",
        () => engine.getImpactAnalysis(stg, 0)),
      ("get_impact_analysis", """{"model_id":"model.shoply.nope"}""",
        () => engine.getImpactAnalysis("model.shoply.nope")),
      ("find_models_by_column", """{"column_name":"order_id"}""",
        () => engine.findModelsByColumn("order_id")),
      ("find_models_by_column", """{"column_name":"no_such_col","limit":3}""",
        () => engine.findModelsByColumn("no_such_col", 3)),
      ("find_models_by_path", """{"path_pattern":"models/%"}""",
        () => engine.findModelsByPath("models/%")),
      ("find_models_by_path", """{"path_pattern":"models/misc/%"}""",
        () => engine.findModelsByPath("models/misc/%")))
    try {
      cases.foreach { case (tool, args, df) =>
        assert(callText(engine, tool, args) == dfText(df()), s"$tool $args")
      }
      // the null cases were exercised: a null-layer model and a source
      // row (no model fields) in the lineage, the null layer in a finder
      val lineage = callText(engine, "get_lineage", s"""{"model_id":"$stg"}""")
      assert(lineage.contains(""""id": "model.shoply.misc_orders", "distance": 1, """ +
        """"direction": "downstream", "name": "misc_orders", "layer": null"""), lineage)
      assert(lineage.contains(""""id": "source.shoply.raw.orders", "distance": 1, """ +
        """"direction": "upstream", "name": null, "layer": null, "materialization": null"""), lineage)
      assert(callText(engine, "find_models_by_path", """{"path_pattern":"models/misc/%"}""")
        .contains(""""layer": null"""))
    } finally engine.close()
  }

  test("row tools start no Spark job and no SQL execution") {
    val usage = Files.createTempDirectory("graft_mcp_nojob_usage").toString + "/log"
    val engine = Engine.fromManifest(spark, fixturePath("manifest.json"), Some(usage))
    val calls = Seq(
      "search_models" -> """{"query":"orders","limit":5}""",
      "search_models" -> """{"query":"orders","layer":"marts"}""",
      "get_lineage" -> """{"model_id":"model.shoply.stg_orders"}""",
      "get_impact_analysis" -> """{"model_id":"model.shoply.stg_orders","depth":3}""",
      "find_models_by_column" -> """{"column_name":"customer_id"}""",
      "find_models_by_path" -> """{"path_pattern":"models/staging/%"}""")
    engine.catalog.snapshot // the lazy snapshot build runs jobs; keep it outside
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sqls = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "mcp-nojob-marker"))
          marker.countDown()
        else jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => sqls.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // 3 × 6 = 18 calls: under UsageLog.FlushEvery, so no flush is due
      for (_ <- 1 to 3; (tool, args) <- calls) callText(engine, tool, args)
      // an RDD job (no SQL execution) after the calls: once the listener
      // sees it, it has seen every event posted before it
      spark.sparkContext.setJobDescription("mcp-nojob-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get == 0, "row tools must not run Spark jobs")
      assert(sqls.get == 0, "row tools must not start SQL executions")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      engine.close()
    }
  }
}
