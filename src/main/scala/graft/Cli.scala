package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.config.Config
import graft.generate.ContextGenerator
import graft.ingest.{ManifestReader, Writer}
import graft.patterns.Patterns
import graft.usage.UsageLog

/** CLI verbs mirroring the reference's Typer app
  * (`/root/reference/src/ariadne_dbt/cli.py:26-365`):
  *
  *   init  [root] [--target t]... [--skip-generate]  — index + generate
  *   sync  [root] [--skip-generate]                  — full re-index
  *   stats [root]                                    — project stats table
  *   usage [root] [--days n]                         — telemetry rollup
  *   serve [root] [--mcp] [--sse[=port]]             — tool loop (JSON-lines,
  *                                                     MCP stdio, or MCP SSE)
  *
  * `serve` (cli.py:154-161) runs [[graft.serve.JsonLineServer]] over
  * the [[graft.api.Engine]] facade: the reference's 10-tool contract on
  * a JSON-lines stdin/stdout transport; `--mcp` selects the MCP
  * JSON-RPC 2.0 framing ([[graft.serve.McpServer]]) over the same
  * dispatch, and `--sse[=port]` the MCP HTTP+SSE transport
  * ([[graft.serve.McpSseServer]], loopback; the reference's
  * `transport="sse"` mode) — the server runs until stdin closes.
  *
  * The "index" is the catalog parquet written by [[Writer]] under
  * `<root>/.graft/index` (the reference's `.ariadne/index.db`), and
  * configuration comes from upward `graft.toml` discovery exactly as
  * `load_config` does.
  */
object Cli {

  def main(args: Array[String]): Unit = {
    val spark = Tables.configure(SparkSession.builder())
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code = run(spark, args.toSeq, Console.out)
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Testable entry: returns a process exit code. */
  def run(spark: SparkSession, args: Seq[String], out: java.io.PrintStream): Int =
    run(spark, args, out,
      new java.io.BufferedReader(new java.io.InputStreamReader(System.in)))

  /** Testable entry with an explicit request stream (for `serve`). */
  def run(spark: SparkSession, args: Seq[String], out: java.io.PrintStream,
      in: java.io.BufferedReader): Int = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val targets = {
      val ts = flags.filter(_.startsWith("--target=")).map(_.stripPrefix("--target="))
      if (ts.isEmpty) Seq("claude_code") else ts
    }
    val skipGenerate = flags.contains("--skip-generate")
    // Numeric flag values fall through to the usage message on garbage
    // (never an uncaught NumberFormatException stack trace).
    val days = flags.find(_.startsWith("--days="))
      .map(f => scala.util.Try(f.stripPrefix("--days=").toInt).toOption)
    val ssePort = flags.collectFirst {
      case f if f == "--sse" => Some(0) // ephemeral; port printed on ready
      case f if f.startsWith("--sse=") =>
        scala.util.Try(f.stripPrefix("--sse=").toInt).toOption
          .filter(p => p >= 0 && p <= 65535) // out-of-range → usage, not an ISA throw
    }
    def usage(got: Option[String]): Int = {
      out.println(s"usage: graft.Cli (init|sync|stats|usage|serve) [project_root] " +
        s"[--target=t] [--skip-generate] [--days=n] [--mcp] [--sse[=port]]" +
        got.fold("")(v => s"  (got: $v)"))
      2
    }

    positional.toList match {
      case _ if days.contains(None) => usage(flags.find(_.startsWith("--days=")))
      case _ if ssePort.contains(None) => usage(flags.find(_.startsWith("--sse=")))
      case verb :: rest if Set("init", "sync")(verb) =>
        initOrSync(spark, rootOf(rest), targets, skipGenerate, out)
      case "stats" :: rest => stats(spark, rootOf(rest), out)
      case "usage" :: rest => usageStats(spark, rootOf(rest), days.flatten.getOrElse(30), out)
      case "serve" :: rest =>
        serve(spark, rootOf(rest), out, in, mcp = flags.contains("--mcp"),
          ssePort = ssePort.flatten)
      case other => usage(other.headOption)
    }
  }

  /** `ariadne serve` equivalent: ingest the project's manifest, then
    * answer tool requests until EOF/`exit`. Default transport is
    * JSON-lines ([[graft.serve.JsonLineServer]]); `--mcp` selects MCP
    * stdio framing ([[graft.serve.McpServer]] — JSON-RPC 2.0 with
    * initialize/tools/list/tools/call, the reference's wire protocol). */
  private def serve(spark: SparkSession, root: Path,
      out: java.io.PrintStream, in: java.io.BufferedReader,
      mcp: Boolean = false, ssePort: Option[Int] = None): Int = {
    val cfg = Config.load(root)
    val manifest =
      if (cfg.manifestPath.isAbsolute) cfg.manifestPath
      else root.resolve(cfg.manifestPath)
    if (!Files.exists(manifest)) {
      out.println(s"Error: manifest.json not found at $manifest — run `dbt compile` first.")
      return 1
    }
    val engine = graft.api.Engine.fromManifest(spark, manifest.toString,
      Some(usageLogPath(root)), cfg)
    // close() writes the usage rows still buffered when the session ends.
    try ssePort match {
      case Some(p) =>
        val server = graft.serve.McpSseServer.start(engine, p)
        out.println(s"""{"status":"ready","transport":"sse",""" +
          s""""port":${server.getAddress.getPort}}""")
        try { while (in.readLine() != null) () } // runs until stdin closes
        finally graft.serve.McpSseServer.stop(server)
        0
      case None =>
        if (mcp) graft.serve.McpServer.loop(engine, in, out)
        else graft.serve.JsonLineServer.loop(engine, in, out)
    } finally engine.close()
  }

  /** The usage log `serve` writes and `usage` reads. */
  private def usageLogPath(root: Path): String = root.resolve(".graft/usage/log").toString

  private def rootOf(rest: List[String]): Path =
    rest.headOption.map(Paths.get(_)).getOrElse(Paths.get("."))
      .toAbsolutePath.normalize()

  private def indexDir(root: Path): Path = root.resolve(".graft/index")

  private def initOrSync(spark: SparkSession, root: Path, targets: Seq[String],
      skipGenerate: Boolean, out: java.io.PrintStream): Int = {
    val cfg = Config.load(root)
    val manifest =
      if (cfg.manifestPath.isAbsolute) cfg.manifestPath
      else root.resolve(cfg.manifestPath)
    if (!Files.exists(manifest)) {
      out.println(s"Error: manifest.json not found at $manifest — run `dbt compile` first.")
      return 1
    }
    var catalog = ManifestReader.read(spark, manifest.toString)
    // catalog.json / run_results.json enrichment when present (cli.py sync)
    val catalogJson = manifest.getParent.resolve("catalog.json")
    if (Files.exists(catalogJson)) {
      catalog = graft.ingest.Enrichment.withCatalog(catalog, spark, catalogJson.toString)
      out.println("  enriched from catalog.json")
    }
    val runResults = manifest.getParent.resolve("run_results.json")
    if (Files.exists(runResults)) {
      catalog = graft.ingest.Enrichment.withRunResults(catalog, spark, runResults.toString)
      out.println("  enriched from run_results.json")
    }
    Writer.write(catalog, indexDir(root).toString)
    val nModels = catalog.snapshot.models.size
    out.println(s"Indexed $nModels models into ${indexDir(root)}")
    if (!skipGenerate) {
      val written = new ContextGenerator(catalog)
        .generateAll(root, (cfg.generator.targets ++ targets).distinct)
      written.foreach(p => out.println(s"  wrote $p"))
    }
    out.println("Sync complete. Index and context files are up to date.")
    0
  }

  private def stats(spark: SparkSession, root: Path, out: java.io.PrintStream): Int = {
    if (!Files.exists(indexDir(root))) {
      out.println("Error: index not found. Run `init` first.")
      return 1
    }
    val catalog = Writer.read(spark, indexDir(root).toString)
    val s = new Patterns(catalog).stats().collect().head
    val name = catalog.metadata.filter(org.apache.spark.sql.functions.col("key") === "project_name")
      .collect().headOption.map(_.getString(1)).getOrElse("Unknown")
    out.println(s"Project: $name")
    Seq(
      "Total models" -> s.getAs[Long]("models"),
      "Sources" -> s.getAs[Long]("sources"),
      "Tests" -> s.getAs[Long]("tests"),
      "Macros" -> s.getAs[Long]("macros"),
      "Exposures" -> s.getAs[Long]("exposures"))
      .foreach { case (k, v) => out.println(f"  $k%-16s $v%6d") }
    out.println(f"  Column coverage  ${s.getAs[Double]("column_coverage_pct")}%5.1f%%")
    0
  }

  private def usageStats(spark: SparkSession, root: Path, days: Int,
      out: java.io.PrintStream): Int = {
    val log = new UsageLog(spark, usageLogPath(root))
    val st = try log.stats(days).collect().head
      catch { case _: Throwable => out.println("No usage recorded yet."); return 0 }
    out.println(s"Usage, trailing $days days:")
    out.println(s"  total calls      ${st.getAs[Long]("total_calls")}")
    out.println(f"  avg tokens       ${Option(st.getAs[java.lang.Double]("avg_tokens")).fold(0.0)(_.toDouble)}%.0f")
    out.println(f"  avg duration     ${Option(st.getAs[java.lang.Double]("avg_duration_ms")).fold(0.0)(_.toDouble)}%.0f ms")
    log.byTool(days).collect().foreach { r =>
      out.println(f"  ${r.getString(0)}%-24s ${r.getLong(1)}%5d calls")
    }
    0
  }
}
