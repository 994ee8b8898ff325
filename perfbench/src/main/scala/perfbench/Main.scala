package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.util.{Json, JsonParse}

/** Entry point of one benchmark run (started by `perfbench/run.py`):
  *
  *   --workload serve_mix|spark_ops --seed N --seconds S
  *   --trace 0|1 --work DIR --data DIR --pins FILE --spec BENCHMARK.json
  *   --cpus N --result FILE
  *
  * Runs the workload on `local[cpus]`, checks every output, and writes the
  * result object (the metrics declared in the spec for this trace mode)
  * to `--result`. Exits 1 when any operation failed or was wrong.
  */
object Main {

  private val TimeUnits = Set("s", "ms", "us", "ns")

  private def declared(spec: Path, key: String): Seq[(String, String)] =
    JsonParse.parse(Files.readString(spec)) match {
      case m: scala.collection.Map[_, _] =>
        m.asInstanceOf[scala.collection.Map[String, Any]](key).asInstanceOf[List[Any]].map { e =>
          val x = e.asInstanceOf[scala.collection.Map[String, Any]]
          (x("name").toString, x("unit").toString)
        }
      case _ => throw new IllegalArgumentException(s"bad spec $spec")
    }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = graft.Tables.configure(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val trace = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val cpus = args("cpus").toInt
    Files.createDirectories(work)
    val loadStart = Host.loadAvg1()
    val jvmsStart = Host.foreignJvms()

    val (spark, sessionNs) = Clock.timed(session(cpus, work))
    val ctx = new Ctx(spark, args("seed").toLong, args("seconds").toInt, trace, work,
      args("data"), Paths.get(args("pins")), sessionNs / 1e9)
    val out = workload match {
      case "serve_mix" => ServeMix.run(ctx)
      case "spark_ops" => SparkOpsBench.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.spans.write(work.resolve("spans.jsonl"))
    val loadEnd = Host.loadAvg1()
    val jvmsEnd = Host.foreignJvms()
    val heapMb = Runtime.getRuntime.maxMemory() >> 20
    System.err.println(s"[perfbench] $workload seed=${ctx.seed} local[$cpus] heap=${heapMb}MB " +
      s"loadavg1 $loadStart -> $loadEnd, foreign JVMs $jvmsStart -> $jvmsEnd")

    val stamp = Seq(
      Metric("setup.session_s", ctx.sessionStartS, "s"),
      Metric("run.loadavg1_start", loadStart, "load"),
      Metric("run.loadavg1_end", loadEnd, "load"),
      Metric("run.foreign_jvms_start", jvmsStart.toDouble, "count"),
      Metric("run.foreign_jvms_end", jvmsEnd.toDouble, "count"))
    val measured = (if (trace) out.layers ++ stamp else out.e2e).map(m => m.name -> m).toMap
    val spec = declared(Paths.get(args("spec")), if (trace) "per_layer" else "end_to_end")
    // Every declared metric is printed. A layer this workload never
    // enters reads 0 — allowed only for counts and shares, never times.
    val metrics = spec.map { case (name, unit) =>
      val m = measured.getOrElse(name, {
        require(!TimeUnits(unit), s"$workload did not measure time metric $name")
        Metric(name, 0.0, unit)
      })
      require(m.unit == unit, s"$name measured in ${m.unit}, declared in $unit")
      require(!m.value.isNaN && !m.value.isInfinite, s"$name is ${m.value}")
      name -> m
    }
    val extra = measured.keySet -- spec.map(_._1)
    require(extra.isEmpty, s"measured but not declared: ${extra.toSeq.sorted.mkString(", ")}")
    val correct = out.failed == 0
    val json = s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": """ +
      metrics.map { case (n, m) => s"""${Json.escape(n)}: {"value": ${m.value}, "unit": ${Json.escape(m.unit)}}""" }
        .mkString("{", ", ", "}") + "}"
    Files.writeString(Paths.get(args("result")), json + "\n")
    spark.stop()
    System.exit(if (correct) 0 else 1)
  }
}
