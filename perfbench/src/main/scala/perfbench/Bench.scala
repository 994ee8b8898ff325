package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: operations attempted and failed (a wrong
  * answer is a failure), its end-to-end metrics, and, in a traced run,
  * its per-layer metrics. */
final case class Outcome(attempted: Int, failed: Int, e2e: Seq[Metric], layers: Seq[Metric])

/** Everything a workload needs from the command line and the session. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path, val dataDir: String, val pins: Path,
    val sessionStartS: Double) {

  val spans = new Spans(trace)
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Record a failed or wrong operation; printed to stderr as it happens. */
  def fail(what: String): Unit = synchronized {
    failures += what
    System.err.println(s"[perfbench] FAIL $what")
  }
  def failed: Int = synchronized(failures.size)

  def deadlineAfter(startNs: Long): Long = startNs + seconds * 1000000000L
}

/** Index builds seen inside a timed call fail that call: a timed call
  * must never pay a corpus-sized build that set-up should have done.
  * Branch, snapshot and per-invocation (`-fresh`) events are part of an
  * operator's own work and do not count. */
object BuildGuard {
  /** The persisted-index kinds whose builds `BuildLog` records. */
  val Kinds: Seq[String] = Seq("postings", "ivf", "minhash", "digest", "embed")

  def isBuild(e: graft.util.BuildLog.Event): Boolean =
    Kinds.contains(e.what.takeWhile(_ != ':'))

  /** Builds logged since the last drain. */
  def builds(): Seq[graft.util.BuildLog.Event] = graft.util.BuildLog.drain().filter(isBuild)
}

/** Process-level readings: peak resident memory and the load stamp. */
object Host {
  /** VmHWM of this JVM in MB (peak resident set). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(throw new IllegalStateException("no VmHWM"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadAvg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: java.io.IOException => -1.0 }

  /** JVMs running on the machine other than this one and its ancestors. */
  def foreignJvms(): Long = {
    val self = ProcessHandle.current()
    val lineage = Iterator.iterate(Option(self))(_.flatMap(p => Option(p.parent().orElse(null))))
      .takeWhile(_.isDefined).flatten.map(_.pid()).toSet
    ProcessHandle.allProcesses().filter { p =>
      p.info().command().map[Boolean](_.contains("java")).orElse(false) && !lineage.contains(p.pid())
    }.count()
  }
}
