package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming operators over the events table.
  *
  * The reference has no streaming (its `watch` flag is dead config —
  * SURVEY.md §0.1); these are the stream-processing operators a
  * training-data pipeline needs at scale: watermarked windowed
  * aggregation and stateful gap-based sessionization via
  * `mapGroupsWithState`. Both run here with `Trigger.AvailableNow`
  * against the driver's parquet so results are deterministic and
  * oracle-checkable against batch SQL; pointed at a live directory the
  * same code is a continuous pipeline.
  */
object EventStreams {

  /** Parquet schema of events.parquet as the stream source sees it.
    * The driver's ts encoding has varied across rounds — TIMESTAMP
    * (NANOS), which `nanosAsLong` surfaces as INT64 (see
    * Tables.configure), and timestamp[us] with no zone, which reads as
    * TIMESTAMP_NTZ — and ScaleUp-derived corpora inherit whichever
    * encoding they were struck from, so the source schema is
    * parameterized by the ts type actually found in the footer. */
  def eventSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The file stream source requires a DIRECTORY of data files; the
    * driver testdata is one parquet FILE per table (symlinked in),
    * while ScaleUp-derived corpora are parquet DIRECTORIES (their
    * part-files are symlinked flat — the file source does not recurse
    * into subdirectories). A production deployment would already point
    * at a directory. */
  private[streaming] def streamDir(dir: String, table: String = "events.parquet"): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // ABSOLUTE from the start: the symlink targets below must resolve
    // from inside /tmp — a relative sfDir ("target/sf1") otherwise
    // produces links whose targets dangle, and the file stream source
    // silently reads ZERO files (empty result, no error — round-6
    // finding while re-recording BENCH_sf1).
    val src = Paths.get(s"$dir/$table").toAbsolutePath
    // Keyed by a path DIGEST, not hashCode: Math.abs(Int.MinValue) is
    // negative and two corpora can share a hashCode (ADVICE r5).
    val d = Paths.get(
      s"/tmp/graft_stream_${graft.util.Scratch.md5hex(src.toString, 16)}")
    val wanted: Map[String, java.nio.file.Path] =
      if (Files.isDirectory(src))
        Files.list(src).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(p => p.getFileName.toString -> p).toMap
      else Map(table -> src)
    // Refresh when the source listing changed (a regenerated ScaleUp
    // corpus writes new part-file names — the old code left dangling
    // symlinks and never linked the new files): wipe and relink.
    val existing: Set[String] =
      if (Files.isDirectory(d))
        Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet
      else Set.empty
    // A name-set match is not enough: links created by an older build
    // may dangle (relative targets, or a corpus deleted and recreated
    // elsewhere) — verify the links actually resolve.
    val allResolve = existing == wanted.keySet &&
      existing.forall(n => Files.exists(d.resolve(n)))
    if (!allResolve) {
      if (Files.isDirectory(d))
        Files.list(d).iterator().asScala.foreach(Files.delete(_))
      Files.createDirectories(d)
      wanted.foreach { case (name, p) =>
        Files.createSymbolicLink(d.resolve(name), p) }
    }
    // A source with no files yet links nothing, but the stream dir
    // itself must exist for the file source to start on it.
    if (!Files.isDirectory(d)) Files.createDirectories(d)
    d.toString
  }

  // ts-encoding probe results, keyed by resolved stream dir PLUS a
  // content fingerprint (first file name + size + mtime) — the footer
  // read costs a Spark job's worth of listing per construction and a
  // bench/serving process constructs the same stream repeatedly, but a
  // corpus re-struck at the same path with a DIFFERENT ts encoding in
  // a long-lived session must re-probe, not read with a stale schema
  // (r7 ADVICE; the testdata-regeneration workflow makes this real).
  private val tsTypeCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataType]()

  /** "empty" when the stream dir holds no files yet; otherwise a
    * digest of the first entry's name, target size, and target mtime
    * (symlink targets are followed, so a relinked regeneration moves
    * the fingerprint). */
  private def dirFingerprint(d: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(d)
    if (!Files.isDirectory(p)) "empty"
    else Files.list(p).iterator().asScala.toSeq
      .filter(Files.exists(_)) // skip dangling links (source not yet written)
      .sortBy(_.getFileName.toString)
      .headOption match {
        case None => "empty"
        case Some(f) =>
          s"${f.getFileName}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}"
      }
  }

  private def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val d = streamDir(dir)
    // One batch footer read decides the ts encoding; every branch
    // normalizes to TimestampType instants (session zone is UTC), so
    // downstream watermarks/windows are encoding-independent. An
    // existing-but-EMPTY source dir (a stream started before files
    // arrive — supported by the pre-probe hard-coded schema, r7
    // ADVICE) can't be probed: fall back to the historical LongType
    // encoding WITHOUT caching, so the first real file re-probes.
    val fp = dirFingerprint(d)
    val tsType =
      if (fp == "empty") LongType
      else tsTypeCache.computeIfAbsent(s"$d|$fp",
        _ => spark.read.parquet(d).schema("ts").dataType)
    val reader = spark.readStream.schema(eventSchema(tsType))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val df = reader.parquet(d)
    tsType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Daily tumbling-window counts + exact decimal sums per event type,
    * with a 1-hour watermark. Complete-mode memory sink: the driver
    * gate runs bounded data; a production run would append to a
    * parquet/Kafka sink with the same plan. */
  def windowedDaily(spark: SparkSession, dir: String, sinkName: String): DataFrame = {
    val q = readEvents(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName)
  }

  /** Streaming exact dedup under at-least-once delivery: every 10th
    * event is re-delivered (the duplicate shape a replayed Kafka
    * partition produces), then `dropDuplicatesWithinWatermark` on the
    * event id removes the duplicates with BOUNDED state — dedup keys
    * are evicted once their event time falls behind the watermark, so
    * the state store holds only the delay window, not the full key
    * history (the scale contract; plain dropDuplicates would grow
    * forever). Append-mode memory sink; the bounded AvailableNow
    * replay makes the result the exact batch row set.
    *
    * The re-delivery is an in-stream row multiplication (explode) over
    * ONE file source, not a union of two sources: one source scan
    * instead of two per micro-batch round (r4 bench fairness task),
    * and — since a duplicate is emitted in the same micro-batch as its
    * original — a multi-file batch split can never strand a duplicate
    * behind an advanced watermark (r4 ADVICE robustness note). */
  def dedupedStream(spark: SparkSession, dir: String, sinkName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val q = readEvents(spark, dir, maxFilesPerTrigger)
      .withColumn("copies",
        when(col("event_id") % 10 === 0, lit(2)).otherwise(lit(1)))
      .withColumn("dup", explode(sequence(lit(1), col("copies"))))
      .drop("copies", "dup")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName)
  }

  case class SessionAgg(userId: Long, nSessions: Long, nEvents: Long)

  /** O(1) per-user session state: NOT the event list. On a real stream
    * per-key state must be bounded or the state store grows with the
    * key's entire history; `(lastTs, nSessions, nEvents)` is sufficient
    * because a gap-based session count is a running fold over
    * time-ordered events. */
  case class SessState(lastTs: Long, nSessions: Long, nEvents: Long)

  /** Stateful gap-based sessionization (30-min gap) with
    * mapGroupsWithState — the custom-state operator shape
    * (KeyValueGroupedDataset) the DataFrame API can't express.
    *
    * Each micro-batch is sorted before folding into the state (state
    * functions see arrival order); events later than the retained
    * `lastTs` extend or open sessions, while a late event older than
    * `lastTs` counts toward `nEvents` but cannot retroactively split an
    * already-closed session — the standard bounded-state/out-of-order
    * tradeoff a watermark formalizes.
    *
    * `idleTimeout` (e.g. "1 hour") enables ProcessingTimeTimeout
    * eviction for a CONTINUOUS deployment: an idle user's state emits
    * its final aggregate and is removed, so the store holds only the
    * active key set. The default leaves it off because a bounded
    * `Trigger.AvailableNow` replay (the deterministic gate/test path)
    * would otherwise stay alive waiting for wall-clock timeouts to
    * fire after the data is exhausted. */
  private val sessionSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  def sessionize(spark: SparkSession, dir: String, gapSeconds: Long = 1800,
      idleTimeout: Option[String] = None): DataFrame = {
    import spark.implicits._
    val sinkName = s"stream_sessions_${sessionSeq.incrementAndGet()}"
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val q = readEvents(spark, dir)
      .select(col("user_id"), col("ts").cast("long").as("ts_sec"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessState, SessionAgg](timeoutConf) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionAgg(user, s.nSessions, s.nEvents)
          } else {
            val batch = rows.map(_._2).toArray
            java.util.Arrays.sort(batch)
            var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
            batch.foreach { t =>
              val opens = st.lastTs == Long.MinValue || t - st.lastTs > gapSeconds
              st = SessState(math.max(t, st.lastTs),
                st.nSessions + (if (opens) 1L else 0L), st.nEvents + 1L)
            }
            state.update(st)
            idleTimeout.foreach(state.setTimeoutDuration)
            SessionAgg(user, st.nSessions, st.nEvents)
          }
      }
      .toDF("user_id", "n_sessions", "n_events")
      .writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(sinkName)
  }
}
