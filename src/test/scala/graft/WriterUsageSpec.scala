package graft

import java.nio.file.Files

import graft.ingest.Writer
import graft.usage.UsageLog

/** Round-trip persistence (S9) and usage-log analytics (A10/A11). */
class WriterUsageSpec extends SparkSuite {

  test("catalog round-trips through partitioned parquet, overwrite is idempotent") {
    val dir = Files.createTempDirectory("graft_writer").toString
    Writer.write(SparkSuite.catalog, dir)
    Writer.write(SparkSuite.catalog, dir) // overwrite = full-refresh idempotence
    val back = Writer.read(spark, dir)
    assert(back.models.count() == 6)
    assert(back.edges.count() == 18)
    assert(back.models.select("layer").distinct().count() == 3)
    // layer partition column survives the round trip for pruning
    assert(back.models.filter(org.apache.spark.sql.functions.col("layer") === "marts").count() == 2)
  }

  test("layer-filtered read of the partitioned models table prunes partitions") {
    val dir = Files.createTempDirectory("graft_writer_prune").toString
    Writer.write(SparkSuite.catalog, dir)
    val filtered = Writer.read(spark, dir).models
      .filter(org.apache.spark.sql.functions.col("layer") === "marts")
    val plan = filtered.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val m = """PartitionFilters: \[([^\]]*)\]""".r.findFirstMatchIn(plan)
    assert(m.isDefined, "scan must report partition filters:\n" + plan)
    assert(m.get.group(1).trim.nonEmpty,
      "layer filter must land in PartitionFilters (partition pruning), " +
        "not in the data filters:\n" + plan)
    // and the pruned read returns exactly the marts rows
    assert(filtered.count() == 2)
  }

  test("usage log appends and aggregates") {
    val dir = Files.createTempDirectory("graft_usage").toString + "/log"
    val log = new UsageLog(spark, dir)
    log.log("search_models", "find revenue", "explore", 120, 35)
    log.log("get_context_capsule", "debug totals", "debug", 8000, 420, rating = Some(5))
    log.log("search_models", "orders", "explore", 90, 12)

    assert(log.all().count() == 3)
    val byTool = log.byTool().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTool("search_models") == 2L)
    val st = log.stats().collect().head
    assert(st.getAs[Long]("total_calls") == 3L)
    assert(st.getAs[Double]("avg_rating") == 5.0)
    assert(log.recent(2).count() == 2)
    assert(log.daily().collect().map(_.getAs[Long]("n")).sum == 3L)
  }

  test("rating events override the log-time rating, newest wins") {
    val dir = Files.createTempDirectory("graft_usage").toString + "/log"
    val log = new UsageLog(spark, dir)
    val id = log.log("get_context_capsule", "debug x", "debug", 5000, 300)
    log.rate(id, 2)
    log.rate(id, 9, notes = Some("actually perfect")) // clamps to 5
    val row = log.all().filter(org.apache.spark.sql.functions.col("log_id") === id)
      .collect().head
    assert(row.getAs[Long]("rating") == 5L)
    assert(row.getAs[String]("notes") == "actually perfect")
  }

  test("engine telemetry loop: tool calls log rows, rate_capsule lands, A10/A11 run over them") {
    val usagePath = Files.createTempDirectory("graft_engine_usage").toString + "/log"
    val engine = graft.api.Engine.fromManifest(spark,
      fixturePath("manifest.json"), usagePath = Some(usagePath))

    val capsule = engine.getContextCapsule("debug the revenue totals",
      focusModel = Some("fct_orders"))
    engine.searchModels("orders", limit = 5).collect()
    engine.getLineage("model.shoply.fct_orders").collect()
    val ratedId = engine.rateCapsule(4, Some("good context"))
    assert(ratedId.nonEmpty, "capsule call must be rateable")

    val byTool = engine.usage.byTool().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTool("get_context_capsule") == 1L)
    assert(byTool("search_models") == 1L)
    assert(byTool("get_lineage") == 1L)

    // the capsule row carries its real token estimate + the rating
    val capsuleRow = engine.usage.all()
      .filter(org.apache.spark.sql.functions.col("log_id") === ratedId.get)
      .collect().head
    assert(capsuleRow.getAs[Long]("token_estimate") == capsule.tokenEstimate.toLong)
    assert(capsuleRow.getAs[Long]("rating") == 4L)
    assert(capsuleRow.getAs[Long]("pivot_count") == capsule.pivotModels.size.toLong)

    // A10 daily rollup + A11 recent over the engine's own telemetry
    assert(engine.usage.daily().collect().map(_.getAs[Long]("n")).sum == 3L)
    assert(engine.usage.recent(2).count() == 2)
  }

  test("all() sees every row logged before it, written batches and buffered rows alike") {
    val dir = Files.createTempDirectory("graft_usage").toString + "/log"
    val log = new UsageLog(spark, dir)
    val n = 2 * UsageLog.FlushEvery + 5 // two batches handed to the writer + 5 buffered
    val ids = (1 to n).map(i => log.log("search_models", s"q$i", "explore", i, 1))
    val back = log.all().select("log_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(back == ids)
    log.close()
  }

  test("a failed usage write surfaces on the next call, once") {
    // the log's directory sits under a regular file: every write fails
    val file = Files.createTempFile("graft_usage_blocker", "")
    val log = new UsageLog(spark, file.resolve("log").toString)
    (1 to UsageLog.FlushEvery).foreach(i => log.log("search_models", s"q$i", "", 1, 1))
    val viaFlush = intercept[IllegalStateException](log.flush())
    assert(viaFlush.getMessage.contains(s"${UsageLog.FlushEvery} rows not written"), viaFlush)
    log.flush() // reported once: nothing new failed since

    // a batch that fails on the writer thread is rethrown by the next log()
    (1 to UsageLog.FlushEvery).foreach(i => log.log("search_models", s"r$i", "", 1, 1))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var viaLog: Option[IllegalStateException] = None
    while (viaLog.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(20)
      try log.rate(1, 3)
      catch { case e: IllegalStateException => viaLog = Some(e) }
    }
    assert(viaLog.exists(_.getMessage.contains("rows not written")), viaLog)
  }

  test("each flush writes one parquet file") {
    val dir = Files.createTempDirectory("graft_usage").toString + "/log"
    val log = new UsageLog(spark, dir)
    for (flush <- 1 to 2) {
      (1 to 8).foreach(i => log.log("search_models", s"f$flush q$i", "", 1, 1))
      log.flush()
    }
    val parts = Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
      .filter(p => p.contains("part-") && p.endsWith(".parquet"))
    assert(parts.length == 2, parts.mkString(", "))
    assert(log.all().count() == 16)
    log.close()
  }

  test("a serve session's usage rows are all written at exit") {
    val root = Files.createTempDirectory("graft_serve_usage")
    Files.createDirectories(root.resolve("target"))
    Files.copy(java.nio.file.Paths.get(fixturePath("manifest.json")),
      root.resolve("target/manifest.json"))
    val requests = Seq(
      """{"tool":"search_models","args":{"query":"orders"}}""",
      """{"tool":"get_lineage","args":{"model_id":"model.shoply.fct_orders"}}""",
      """{"tool":"find_models_by_path","args":{"path_pattern":"models/%"}}""",
      "exit")
    val buf = new java.io.ByteArrayOutputStream()
    val code = Cli.run(spark, Seq("serve", root.toString), new java.io.PrintStream(buf, true),
      new java.io.BufferedReader(new java.io.StringReader(requests.mkString("\n"))))
    assert(code == 0, buf.toString)
    val log = new UsageLog(spark, root.resolve(".graft/usage/log").toString)
    assert(log.all().count() == 3)
    // and the `usage` verb reads the log `serve` wrote
    val usageOut = new java.io.ByteArrayOutputStream()
    Cli.run(spark, Seq("usage", root.toString), new java.io.PrintStream(usageOut, true),
      new java.io.BufferedReader(new java.io.StringReader("")))
    assert(usageOut.toString.contains("total calls      3"), usageOut.toString)
  }
}
