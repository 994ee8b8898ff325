package graft.usage

import java.util.concurrent.{CompletableFuture, Future, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Append-only usage log + windowed stats
  * (`/root/reference/src/ariadne_dbt/usage.py:21-137`,
  * `schema.sql:167-183`). The reference's ISO-string timestamps with
  * `substr(ts,1,10)` day-grouping become a real TimestampType +
  * `date_trunc` — an append-mode parquet table that Structured
  * Streaming could tail without schema changes.
  *
  * Two deltas from the SQLite original, both lake-idiomatic:
  *   - `log()` is a BUFFERED append (the reference's INSERT is sub-ms;
  *     a parquet write job is ~100 ms and would dominate the
  *     interactive latencies it instruments). Rows batch in memory;
  *     every [[UsageLog.FlushEvery]] calls one background writer thread
  *     is asked to write what is buffered, so `log` and `rate` never
  *     wait for a write. Rows are written in the order they were
  *     logged, one parquet file per sink per write. [[flush]], [[all]]
  *     and [[close]] wait until every row logged before them is
  *     written; a session that ends without [[close]] loses the rows
  *     not yet written. A failed write is rethrown by the next `log`,
  *     `rate`, `flush` or `close` — unless the host stopped the Spark
  *     session first, in which case the loss is one WARN line with the
  *     row count;
  *   - ratings (an SQLite UPDATE in usage.py `rate`) become an
  *     append-only rating EVENT table joined at read time: no in-place
  *     mutation of immutable files, the newest event per `log_id` wins.
  */
class UsageLog(spark: SparkSession, path: String) {

  import UsageLog.FlushEvery
  import spark.implicits._

  private val ratingsPath = path + "_ratings"

  private type UsageRow = (Long, String, String, String, String, String, Long, Long, Long, Option[Long])
  private type RatingRow = (Long, Long, String, String)
  private val pendingUsage = scala.collection.mutable.ArrayBuffer.empty[UsageRow]
  private val pendingRatings = scala.collection.mutable.ArrayBuffer.empty[RatingRow]

  /** One daemon thread writes the buffered rows, in order; it exits
    * after 10 s idle. It inherits no thread-locals, so a caller's Spark
    * local properties (SQL execution id, job group, scheduler pool)
    * never leak into its jobs. */
  private val writer = new ThreadPoolExecutor(1, 1, 10L, TimeUnit.SECONDS,
    new LinkedBlockingQueue[Runnable](), (r: Runnable) => {
      val t = new Thread(null, r, "graft-usage-writer", 0L, false)
      t.setDaemon(true)
      t
    })
  writer.allowCoreThreadTimeOut(true)
  // Guarded by `this`: the last write handed to the writer, whether it
  // is still queued (it then takes every row buffered when it starts),
  // and a write failure not yet reported to a caller.
  private var lastWrite: Future[_] = CompletableFuture.completedFuture(())
  private var writeQueued = false
  private var failure: Option[Throwable] = None

  /** Monotonic log ids (usage.py returns SQLite lastrowid); seeded past
    * any ids already on disk so re-opened logs keep appending. An
    * existence probe gates the read: a fresh log would otherwise throw
    * (and log a scary PATH_NOT_FOUND trace) before the catch. */
  private val nextId = new AtomicLong(
    if (!UsageLog.pathExists(spark, path)) 0L
    else try spark.read.parquet(path).agg(max("log_id")).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(0L)
    catch { case _: Throwable => 0L })

  /** Append one usage row; returns its log_id (usage.py:21-45). */
  def log(toolName: String, taskText: String, intent: String,
      tokenEstimate: Long, durationMs: Long, rating: Option[Int] = None,
      focusModel: Option[String] = None, pivotCount: Long = 0L): Long = synchronized {
    rethrowFailure()
    val id = nextId.incrementAndGet()
    pendingUsage += ((id, java.time.Instant.now().toString, toolName, taskText,
      intent, focusModel.orNull, pivotCount, tokenEstimate, durationMs,
      rating.map(_.toLong)))
    if (pendingUsage.length >= FlushEvery) requestWrite()
    id
  }

  /** Rate a logged call 1–5 (clamped, usage.py:47-52) — appends a
    * rating event; the newest event per log_id wins at read time. */
  def rate(logId: Long, rating: Int, notes: Option[String] = None): Unit = synchronized {
    rethrowFailure()
    pendingRatings += ((logId, math.max(1, math.min(5, rating)).toLong,
      notes.orNull, java.time.Instant.now().toString))
    if (pendingRatings.length >= FlushEvery) requestWrite()
  }

  /** Write every row logged before this call, and wait for the writes. */
  def flush(): Unit = {
    val done = synchronized { rethrowFailure(); requestWrite() }
    done.get()
    synchronized(rethrowFailure())
  }

  /** [[flush]], then stop the writer thread. */
  def close(): Unit = {
    flush()
    writer.shutdown()
  }

  /** Make sure a write that takes the rows buffered now is queued, and
    * return it: once it is done, every row logged before this call is
    * written. A write already queued takes them when it starts, so
    * while the writer is busy the buffer grows into one larger write
    * instead of a backlog. Called holding the lock. */
  private def requestWrite(): Future[_] = {
    if (!writeQueued && (pendingUsage.nonEmpty || pendingRatings.nonEmpty)) {
      writeQueued = true
      lastWrite = writer.submit((() => {
        val (usage, ratings) = synchronized {
          writeQueued = false
          val taken = (pendingUsage.toVector, pendingRatings.toVector)
          pendingUsage.clear()
          pendingRatings.clear()
          taken
        }
        write(usage, ratings)
      }): Runnable)
    }
    lastWrite
  }

  private def rethrowFailure(): Unit = failure.foreach { e =>
    failure = None
    throw e
  }

  /** One parquet file per sink (`coalesce(1)`: the local rows would
    * otherwise split into one file per core). Runs on the writer thread. */
  private def write(usage: Seq[UsageRow], ratings: Seq[RatingRow]): Unit = {
    var unwritten = usage.size + ratings.size
    val error = try {
      if (!spark.sparkContext.isStopped) {
        if (usage.nonEmpty) {
          usage
            .toDF("log_id", "ts", "tool_name", "task_text", "intent", "focus_model",
              "pivot_count", "token_estimate", "duration_ms", "rating")
            .withColumn("ts", to_timestamp(col("ts")))
            .coalesce(1)
            .write.mode("append").parquet(path)
          unwritten -= usage.size
        }
        if (ratings.nonEmpty) {
          ratings
            .toDF("log_id", "event_rating", "notes", "rated_at")
            .withColumn("rated_at", to_timestamp(col("rated_at")))
            .coalesce(1)
            .write.mode("append").parquet(ratingsPath)
          unwritten -= ratings.size
        }
      }
      None
    } catch { case NonFatal(e) => Some(e) }
    if (unwritten > 0) {
      if (spark.sparkContext.isStopped)
        UsageLog.logger.warn(s"Spark session stopped before the usage log was closed: " +
          s"$unwritten rows not written to $path")
      else synchronized {
        val e = new IllegalStateException(
          s"usage log write to $path failed: $unwritten rows not written", error.orNull)
        failure match {
          case Some(first) => first.addSuppressed(e)
          case None => failure = Some(e)
        }
      }
    }
  }

  /** Usage rows with the effective rating: the newest rating event,
    * else the rating captured at log time. */
  def all(): DataFrame = {
    flush()
    val usage = spark.read.parquet(path)
    val events =
      if (!UsageLog.pathExists(spark, ratingsPath)) None
      else try {
        val w = Window.partitionBy(col("log_id"))
          .orderBy(col("rated_at").desc, col("event_rating").desc)
        Some(spark.read.parquet(ratingsPath)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("log_id"), col("event_rating"), col("notes")))
      } catch { case _: Throwable => None }
    events.fold(usage.withColumn("notes", lit(null).cast("string"))) { ev =>
      usage.join(broadcast(ev), Seq("log_id"), "left")
        .withColumn("rating", coalesce(col("event_rating"), col("rating")))
        .drop("event_rating")
    }
  }

  /** Stats over the trailing `days` window (usage.py:57-127). */
  def stats(days: Int = 30): DataFrame = {
    val since = lit(java.time.Instant.now().minus(java.time.Duration.ofDays(days)).toString)
    val recent = all().filter(col("ts") >= to_timestamp(since))
    recent.agg(
      count(lit(1)).as("total_calls"),
      avg(col("token_estimate")).as("avg_tokens"),
      avg(col("duration_ms")).as("avg_duration_ms"),
      avg(col("rating")).as("avg_rating"))
  }

  def byTool(days: Int = 30): DataFrame = {
    val since = lit(java.time.Instant.now().minus(java.time.Duration.ofDays(days)).toString)
    all().filter(col("ts") >= to_timestamp(since))
      .groupBy("tool_name").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tool_name"))
  }

  def daily(days: Int = 30): DataFrame = {
    val since = lit(java.time.Instant.now().minus(java.time.Duration.ofDays(days)).toString)
    all().filter(col("ts") >= to_timestamp(since))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), avg(col("token_estimate")).as("avg_tokens"))
      .orderBy("day")
  }

  def recent(limit: Int = 20): DataFrame =
    all().orderBy(col("ts").desc, col("log_id").desc).limit(limit)
}

object UsageLog {
  private val logger = org.slf4j.LoggerFactory.getLogger(classOf[UsageLog])

  /** Buffered rows that ask the writer thread for a parquet append. */
  val FlushEvery = 64

  /** True when `path` exists on the session's Hadoop filesystem —
    * works for any supported scheme, not just local files. */
  private[usage] def pathExists(spark: SparkSession, path: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    } catch { case _: Throwable => false }
}
