package graft.streaming

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface over the `events` table, plus the exact
  * batch equivalents (used for the DuckDB oracle — streaming and batch
  * share the aggregation semantics, so the batch form IS the oracle of the
  * streaming form on a finite input).
  *
  * Streaming reads go through `readStream` with the schema resolved from a
  * one-off batch read of the same directory (FileStreamSource requires an
  * explicit schema; resolving it from the files themselves, instead of
  * hard-coding a layout, means a producer-side change to how `ts` is
  * written — nanos-long vs native timestamp — cannot silently corrupt
  * stream event times). `ts` is then normalized through the SAME
  * `Tables.normalizeTs` the batch loader uses, watermarked downstream;
  * tumbling windows via `window()`, sessions via `session_window()`. At
  * scale the state store partitions by the grouping key — same shuffle the
  * batch plan does.
  */
object EventStreams {

  /** Streaming source over a DIRECTORY of events parquet files (the
    * production shape: new files land, each becomes a micro-batch;
    * FileStreamSource rejects a bare single-file path). The schema is
    * resolved from the files present at start (driver-side footer read,
    * planning-time cost only) and `ts` normalized exactly as in batch. */
  def readEventsStream(spark: SparkSession, eventsDir: String): DataFrame = {
    val resolved = resolveSchema(spark, eventsDir, "events")
    Tables.normalizeTs(
      spark.readStream
        .schema(resolved)
        .parquet(eventsDir))
  }

  /** Resolve a stream's schema from a one-off batch read of its directory.
    * An EMPTY directory (no files yet — legal at stream start in the
    * new-files-land production shape) cannot yield a schema; fail with an
    * actionable message instead of Spark's bare 'Unable to infer schema'. */
  private def resolveSchema(spark: SparkSession, dir: String,
      what: String): StructType =
    try spark.read.parquet(dir).schema
    catch { case e: org.apache.spark.sql.AnalysisException =>
      throw new IllegalStateException(
        s"cannot start $what stream over '$dir': no parquet files present " +
          "to resolve the schema from. Either land at least one file first " +
          "or open the stream with an explicit schema " +
          s"(readStream.schema(...).parquet). Underlying: ${e.getMessage}")
    }

  /** The tumbling 1-hour aggregation — ONE definition shared by the
    * streaming form, the batch twin, and the bounded micro-batch run, so
    * the "same oracle by construction" claim cannot desynchronize. */
  private def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("v"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("v"))

  /** Streaming tumbling 1-hour aggregation with a 2-hour watermark. */
  def tumblingStream(spark: SparkSession, dir: String): DataFrame =
    tumblingAgg(readEventsStream(spark, dir).withWatermark("ts", "2 hours"))

  /** Batch equivalent of [[tumblingStream]] (identical agg semantics). */
  def tumblingBatch(spark: SparkSession, dir: String): DataFrame =
    tumblingAgg(Tables(spark, dir, "events"))

  val tumblingSql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
      |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Funnel analysis: for every ordered pair of distinct event types, how
    * many users performed the second within 1 hour of the first. The
    * user-keyed self-join shuffles once per side on user_id and the
    * event-time bound caps each user's pair space — the batch twin of the
    * stream-stream interval join. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val a = ev.select(col("user_id").as("u"), col("ts").as("a_ts"),
      col("event_type").as("step1"))
    val b = ev.select(col("user_id").as("bu"), col("ts").as("b_ts"),
      col("event_type").as("step2"))
    a.join(b,
      col("u") === col("bu") && col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("interval 1 hour") &&
        col("step1") =!= col("step2"))
      .groupBy(col("step1"), col("step2"))
      .agg(countDistinct(col("u")).as("users"), count(lit(1)).as("n_pairs"))
  }

  val funnelSql: String =
    """SELECT a.event_type AS step1, b.event_type AS step2,
      |  count(DISTINCT a.user_id) AS users, count(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND b.ts > a.ts
      |  AND b.ts <= a.ts + INTERVAL 1 HOUR AND a.event_type <> b.event_type
      |GROUP BY 1, 2""".stripMargin

  /** Cohort retention: users grouped by first-seen day, activity counted
    * per whole hour since first touch. Two shuffles (first-touch agg, then
    * the cohort agg) joined on the high-cardinality user key — the standard
    * retention matrix at any scale. Hour arithmetic is integer epoch-ms
    * division, exact in both engines. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val first = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
    ev.join(first, "user_id")
      .select(
        to_date(col("first_ts")).as("cohort_day"),
        expr("(unix_millis(ts) - unix_millis(first_ts)) div 3600000")
          .as("hours_since"),
        col("user_id"))
      .groupBy(col("cohort_day"), col("hours_since"))
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  val retentionSql: String =
    """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1)
      |SELECT date_trunc('day', f.first_ts) AS cohort_day,
      |  (epoch_ms(e.ts) - epoch_ms(f.first_ts)) // 3600000 AS hours_since,
      |  count(DISTINCT e.user_id) AS active_users
      |FROM events e JOIN f ON e.user_id = f.user_id
      |GROUP BY 1, 2""".stripMargin

  /** Streaming sliding-window aggregation: 1-hour windows every 30 minutes
    * (each event lands in exactly 2 windows — Spark's `window()` expands
    * rows before the agg, so the shuffle carries window-assigned rows and
    * partial aggregation still applies). */
  def slidingStream(spark: SparkSession, dir: String): DataFrame =
    readEventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Batch equivalent of [[slidingStream]]. */
  def slidingBatch(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** With width 1h and slide 30m every event is in exactly two windows:
    * its 30-minute bucket's window and the one starting 30 minutes before. */
  val slidingSql: String =
    """SELECT window_start, event_type, count(*) AS n FROM (
      |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
      |    event_type FROM events
      |  UNION ALL
      |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
      |    AS window_start, event_type FROM events) t
      |GROUP BY 1, 2""".stripMargin

  /** Streaming sessionization: 30-minute-gap sessions per user. */
  def sessionStream(spark: SparkSession, dir: String): DataFrame =
    readEventsStream(spark, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n_events"))

  /** Batch sessionization with the same 30-minute gap rule, as window
    * functions (lag -> new-session flag -> running session id). This is the
    * DuckDB-expressible formulation; session ids are per-user ordinals. */
  def sessionBatch(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir, "events")
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ms").isNull ||
          unix_millis(col("ts")) - col("prev_ms") > 1800000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
  }

  /** Custom stateful streaming: per-user event counter via
    * `mapGroupsWithState` — the arbitrary-state escape hatch when
    * window()/session_window can't express the logic. State is one long per
    * key, partitioned by the grouping key in the state store — the same
    * shuffle a batch groupBy does, but persistent across micro-batches. */
  private def runningCountsAgg(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events
      .select(col("user_id")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (Long, Long)](GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[Long], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + events.size
          state.update(n)
          (uid, n)
      }
      .toDF("user_id", "n_events")
  }

  def runningUserCounts(spark: SparkSession, eventsDir: String): DataFrame =
    runningCountsAgg(spark, readEventsStream(spark, eventsDir))

  /** Multi-output stateful streaming via `flatMapGroupsWithState`: emits one
    * alert row each time a user's cumulative event count crosses a multiple
    * of `every` (0..many outputs per group per batch — the shape
    * mapGroupsWithState can't express). Append mode, so the state store only
    * ever re-emits new crossings. */
  def thresholdAlerts(spark: SparkSession, eventsDir: String,
      every: Long = 10L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    readEventsStream(spark, eventsDir)
      .select(col("user_id")).as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[Long], state: GroupState[Long]) =>
          val before = state.getOption.getOrElse(0L)
          val after = before + events.size
          state.update(after)
          (before / every + 1 to after / every).map(k => (uid, k * every)).iterator
      }
      .toDF("user_id", "threshold")
  }

  /** Idle-session finalization with STATE EVICTION — the lifecycle piece
    * `NoTimeout` operators don't exercise: per-user session state holds
    * only the OPEN tail session (count, start, end) and registers an
    * event-time timeout at `last event + gap`; when the WATERMARK passes
    * it, the timeout callback emits the final session row and REMOVES the
    * state. At 100 TB this is the difference between a state store
    * bounded by ACTIVE users and one that grows with all users ever seen
    * — eviction is driven by the same watermark that bounds every other
    * stateful op. Append mode: each session emits exactly once.
    *
    * Full gaps-and-islands semantics, so the batch sessionization oracle
    * (q91/q106's CTE chain) grades it: a batch's events for a user are
    * sorted by event-time millis and folded onto the open session —
    * a gap > `gapMinutes` CLOSES the session (emitted immediately: a
    * later in-watermark event proves no earlier event can reopen it) and
    * starts the next; only the open tail stays in state. The in-memory
    * sort is per (user, micro-batch) — bounded by a micro-batch's time
    * horizon, not corpus size. Cross-batch, correctness relies on the
    * watermark having passed delivered data (the same contract every
    * watermarked stateful op has); the timeout registration is clamped
    * above the current watermark, so a straggler session closes at the
    * watermark instead of throwing. */
  def idleSessionFinalize(spark: SparkSession, eventsDir: String,
      gapMinutes: Int = 30): DataFrame =
    idleSessionAgg(readEventsStream(spark, eventsDir), gapMinutes)

  private[graft] def idleSessionAgg(events: DataFrame,
      gapMinutes: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMinutes * 60000L
    // the WATERMARKED timestamp column must flow into the stateful op
    // itself (projecting it to millis first hides the watermark from the
    // analyzer), so the tuple keeps ts as a Timestamp
    events
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
            state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (n, start, end) = state.get
            state.remove() // EVICT: closed sessions hold no state
            Iterator.single((uid, n, start, end))
          } else {
            val ts = rows.map(_._2.getTime).toArray.sorted
            var closed = List.empty[(Long, Long, Long, Long)]
            var (n, s, e) = state.getOption.getOrElse((0L, 0L, 0L))
            ts.foreach { t =>
              if (n == 0L) { n = 1L; s = t; e = t }
              else if (t - e > gapMs) {
                closed = (uid, n, s, e) :: closed
                n = 1L; s = t; e = t
              } else { n += 1L; e = math.max(e, t) }
            }
            state.update((n, s, e))
            state.setTimeoutTimestamp(
              math.max(e + gapMs, state.getCurrentWatermarkMs() + 1L))
            closed.reverseIterator
          }
      }
      .toDF("user_id", "n_events", "start_ms", "end_ms")
  }

  /** Stream-static join: enrich the event stream with a static dimension
    * (user -> nation via customer). The static side is a broadcast hash
    * join re-resolved per micro-batch — no state store, no shuffle of the
    * stream; the 100 TB shape for dimension enrichment. */
  def enrichedStream(spark: SparkSession, eventsDir: String,
      dir: String): DataFrame = {
    val dim = Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    readEventsStream(spark, eventsDir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_nationkey").as("nation"))
  }

  /** Streaming dedup: first occurrence per event_id within the watermark —
    * the streaming face of q50. State is one entry per key inside the
    * watermark horizon; `dropDuplicates` keys partition the state store, and
    * expired keys are evicted as the watermark advances — bounded state on
    * an unbounded stream. */
  def dedupStream(spark: SparkSession, eventsDir: String): DataFrame =
    readEventsStream(spark, eventsDir)
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")
      .select(col("event_id"), col("user_id"), col("event_type"))

  /** Stream-stream self-join: pair each 'click'-like event with a same-user
    * event of a different type within the next 30 minutes. Both sides are
    * watermarked and the join condition bounds event-time distance, so each
    * side's buffered state is evictable — the only join shape that runs
    * forever. */
  def streamStreamJoin(spark: SparkSession, eventsDir: String): DataFrame = {
    val base = readEventsStream(spark, eventsDir)
    val a = base.withWatermark("ts", "2 hours")
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"),
        col("event_id").as("a_id"), col("event_type").as("a_type"))
    val b = readEventsStream(spark, eventsDir).withWatermark("ts", "2 hours")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
        col("event_id").as("b_id"), col("event_type").as("b_type"))
    a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("interval 30 minutes") &&
        col("a_type") =!= col("b_type"))
      .select(col("a_user").as("user_id"), col("a_id"), col("b_id"),
        col("a_type"), col("b_type"))
  }

  /** Batch equivalent of [[streamStreamJoin]] for the test oracle. */
  def streamStreamJoinBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val a = ev.select(col("user_id").as("a_user"), col("ts").as("a_ts"),
      col("event_id").as("a_id"), col("event_type").as("a_type"))
    val b = ev.select(col("user_id").as("b_user"), col("ts").as("b_ts"),
      col("event_id").as("b_id"), col("event_type").as("b_type"))
    a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("interval 30 minutes") &&
        col("a_type") =!= col("b_type"))
      .select(col("a_user").as("user_id"), col("a_id"), col("b_id"),
        col("a_type"), col("b_type"))
  }

  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  /** Sink dirs whose lazily-read DataFrames are still live — deleted by one
    * JVM shutdown hook, so repeated runs (multi-pass bench, driver re-runs)
    * don't accumulate temp trees. */
  private val pendingSinkDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val sinkCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      pendingSinkDirs.iterator().forEachRemaining(deleteTree)
    }))

  /** Register a temp tree for JVM-exit deletion (the sink-dir discipline,
    * shared with any query whose lazy result must outlive its temp input —
    * q123's chunk round-trip uses it for the staged text dir). */
  private[graft] def deleteTreeOnExit(p: java.nio.file.Path): Unit = {
    sinkCleanupHook
    pendingSinkDirs.add(p)
  }

  /** Executes `transform` over the events table as a REAL bounded streaming
    * run — `readStream` over a directory copy, `Trigger.AvailableNow`,
    * `foreachBatch` to parquet — then reads the final result back. This
    * drives `MicroBatchExecution` + the state store end-to-end (not just
    * the batch DAG). Complete-mode transforms overwrite the sink each
    * micro-batch (the last overwrite is the full result); append-mode
    * transforms write each batch to its own `batch_<id>` subdirectory in
    * OVERWRITE mode — `foreachBatch` is at-least-once (a batch that fails
    * after a partial write is retried under the SAME batchId), so a plain
    * append would duplicate the retried batch's rows, while the
    * batchId-keyed overwrite replaces them: the sink is idempotent under
    * retry (`StreamingSpec` exercises a re-delivered batch). The input
    * copy and checkpoint trees are deleted as soon as the query
    * terminates; the sink dir must outlive the returned (lazy) DataFrame,
    * so it is deleted on JVM exit. */
  /** The `foreachBatch` writer of [[boundedStreamRun]], idempotent under
    * batch retry by construction: complete mode overwrites the whole sink
    * (re-delivery re-overwrites), append/update modes overwrite a
    * `batch_<id>` subdirectory keyed by the batchId (re-delivery of the
    * same batch replaces its own subdir; it can never append a second
    * copy). Update mode additionally stamps every row with its batchId —
    * an update-mode sink holds one row per (key, emitting batch) and the
    * reader compacts last-writer-wins, so the stamp IS the version column.
    * Exposed for the `StreamingSpec` retry test. */
  private[graft] def batchSink(outDir: java.nio.file.Path, mode: String)
      : (DataFrame, Long) => Unit = (batch, batchId) => {
    val target =
      if (mode == "complete") outDir.toString
      else outDir.resolve(s"batch_$batchId").toString
    val stamped =
      if (mode == "update") batch.withColumn("batch_id", lit(batchId))
      else batch
    stamped.write.mode("overwrite").parquet(target)
  }

  private def boundedStreamRun(spark: SparkSession, dir: String,
      transform: (DataFrame, String) => DataFrame, outputMode: String): DataFrame =
    boundedRun(spark, dir, "events.parquet", readEventsStream,
      transform, outputMode)

  /** [[boundedRun]] over the documents table — the ingest-stream shape
    * (q117: new documents arrive as micro-batches and are screened against
    * persisted history stores). */
  private[graft] def boundedDocStreamRun(spark: SparkSession, dir: String,
      transform: (DataFrame, String) => DataFrame, outputMode: String): DataFrame =
    boundedRun(spark, dir, "documents.parquet", readDocsStream,
      transform, outputMode)

  /** Streaming source over a directory of documents parquet files. Schema
    * resolved from the files at start, exactly like [[readEventsStream]] —
    * a hard-coded layout here is the same producer-drift trap the events
    * stream fell into when the testdata's `ts` type changed. */
  private def readDocsStream(spark: SparkSession, docsDir: String): DataFrame =
    spark.readStream
      .schema(resolveSchema(spark, docsDir, "documents"))
      .parquet(docsDir)

  /** [[boundedRun]] over the embeddings table with a BATCH-LEVEL transform
    * — the vector-ingest shape (q168: arriving embeddings are assigned
    * their IVF cell and screened against the persisted bucketed index;
    * the per-arrival top-1 rank needs a window, so it runs inside
    * `foreachBatch` like q133's enrichment, stateless in append mode). */
  private[graft] def boundedVecPerBatchRun(spark: SparkSession, dir: String,
      perBatch: DataFrame => DataFrame): DataFrame =
    boundedRun(spark, dir, "embeddings.parquet", readVecsStream,
      (s, _) => s, "append", perBatch)

  /** Streaming source over a directory of embeddings parquet files —
    * schema resolved from the files at start, same producer-drift
    * discipline as [[readEventsStream]]/[[readDocsStream]]. */
  private def readVecsStream(spark: SparkSession, vecsDir: String): DataFrame =
    spark.readStream
      .schema(resolveSchema(spark, vecsDir, "embeddings"))
      .parquet(vecsDir)

  /** [[boundedRun]] over events with a BATCH-LEVEL transform applied inside
    * `foreachBatch` — the per-micro-batch enrichment shape (q133: each
    * arriving batch is point-in-time joined against a static table through
    * the native as-of operator; stateless, so append mode and the
    * batchId-keyed idempotent sink apply unchanged). */
  private[graft] def boundedEventPerBatchRun(spark: SparkSession, dir: String,
      perBatch: DataFrame => DataFrame): DataFrame =
    boundedRun(spark, dir, "events.parquet", readEventsStream,
      (s, _) => s, "append", perBatch)

  /** Stage a one-row watermark-flush file next to the copied source: a
    * sentinel event (`user_id`/`event_id` = −1) `pastMinutes` beyond the
    * real maximum event time. Processing it advances the watermark past
    * every real session's timeout, so event-time-timeout operators emit
    * and evict ALL real state before the bounded run terminates — the
    * bounded-input stand-in for a production stream's ever-advancing
    * watermark. The sentinel's own state never times out and its key is
    * filtered from the result. Written in the source's OWN resolved `ts`
    * shape (nanos-long / NTZ / timestamp — the [[graft.Tables.normalizeTs]]
    * trichotomy) so the stream's file-resolved schema stays consistent. */
  private def stageWatermarkFlush(spark: SparkSession,
      inDir: java.nio.file.Path, srcFile: String, pastMinutes: Int): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val raw = spark.read.parquet(inDir.resolve(srcFile).toString)
    val maxTs = raw.agg(max(col("ts")).as("m")).head().get(0)
    val tsCol = raw.schema("ts").dataType match {
      case LongType => // nanos-long shape: add minutes in nanoseconds
        lit(maxTs.asInstanceOf[Long] + pastMinutes * 60L * 1000000000L)
      case _ => lit(maxTs) + expr(s"INTERVAL $pastMinutes MINUTES")
    }
    val sentinel = raw.limit(1)
      .withColumn("user_id", lit(-1L).cast(raw.schema("user_id").dataType))
      .withColumn("event_id", lit(-1L).cast(raw.schema("event_id").dataType))
      .withColumn("ts", tsCol.cast(raw.schema("ts").dataType))
    val tmp = Files.createTempDirectory("graft_flush")
    sentinel.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"no parquet part written under $tmp"))
    Files.copy(part, inDir.resolve(s"zz-flush-$srcFile"))
    deleteTree(tmp)
  }

  private def boundedRun(spark: SparkSession, dir: String, srcFile: String,
      openStream: (SparkSession, String) => DataFrame,
      transform: (DataFrame, String) => DataFrame, outputMode: String,
      perBatch: DataFrame => DataFrame = identity,
      flushPastMinutes: Option[Int] = None,
      sessionConf: Map[String, String] = Map.empty): DataFrame = {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    val inDir = Files.createTempDirectory("graft_stream_in")
    // the source table may be a single parquet file (driver testdata) or a
    // directory of part files (anything Spark wrote, e.g. the ScaleUp sf1
    // slice) — stage either shape; AvailableNow still drains it whole
    val srcPath = Paths.get(s"$dir/$srcFile")
    if (Files.isDirectory(srcPath)) {
      val it = Files.list(srcPath).iterator()
      var n = 0
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.endsWith(".parquet")) {
          Files.copy(p, inDir.resolve(f"part-$n%05d.parquet"))
          n += 1
        }
      }
      require(n > 0, s"no parquet part files under $srcPath")
    } else Files.copy(srcPath, inDir.resolve(srcFile))
    flushPastMinutes.foreach(stageWatermarkFlush(spark, inDir, srcFile, _))
    val outDir = Files.createTempDirectory("graft_stream_out")
    val ck = Files.createTempDirectory("graft_stream_ck")
    val complete = outputMode == "complete"
    val sink = batchSink(outDir, outputMode)
    // Right-size the stream's state parallelism: stateful-operator commit
    // cost scales with shuffle partitions (one state-store file sync per
    // partition per operator per batch), and a bounded replay of one input
    // file carries nothing that needs the session's full width. The
    // reduced width is scoped to a CHILD session (same SparkContext,
    // shared state and extensions; its own runtime conf), so queries
    // planned concurrently on the caller's session keep full parallelism.
    val streamSpark = spark.newSession()
    streamSpark.conf.set("spark.sql.shuffle.partitions",
      math.min(8, spark.conf.get("spark.sql.shuffle.partitions").toInt).toString)
    sessionConf.foreach { case (k, v) => streamSpark.conf.set(k, v) }
    // The transform also receives the input-copy dir so multi-input
    // topologies (stream-stream joins) can open their second stream on
    // the same bounded source.
    val q =
      transform(openStream(streamSpark, inDir.toString), inDir.toString)
        .writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", ck.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          sink(perBatch(batch), batchId) }
        .start()
    q.awaitTermination()
    deleteTree(inDir)
    deleteTree(ck)
    sinkCleanupHook
    pendingSinkDirs.add(outDir)
    spark.read.parquet(
      if (complete) outDir.toString else s"$outDir/batch_*")
  }

  /** The tumbling-window aggregation as a bounded micro-batch run — on a
    * finite input its output is exactly [[tumblingBatch]], so the same
    * DuckDB oracle checks it in the driver gate. */
  def tumblingStreamRun(spark: SparkSession, dir: String): DataFrame =
    boundedStreamRun(spark, dir,
      (s, _) => tumblingAgg(s.withWatermark("ts", "2 hours")), "complete")

  /** Stateful streaming deduplication as a bounded micro-batch run:
    * `dropDuplicates` keeps one row per key in the state store and emits
    * each key the first time it arrives (append mode). Projected to the
    * key alone, the emitted set is the exact distinct key set — order- and
    * partitioning-independent — so the batch `SELECT DISTINCT` is its
    * oracle. At 100 TB the unbounded-state form here becomes
    * `dropDuplicatesWithinWatermark`, which evicts keys older than the
    * watermark — same plan shape, bounded state (`StreamingSpec` covers the
    * watermarked streaming-dedup variant). */
  def dedupStreamRun(spark: SparkSession, dir: String): DataFrame =
    boundedStreamRun(spark, dir,
      (s, _) => s.select(col("user_id")).dropDuplicates("user_id"), "append")

  /** Session-window aggregation as a bounded micro-batch run — the state
    * store merges/extends per-user sessions as batches arrive (the
    * session-window-specific `SessionWindowStateStoreRestore/SaveExec`
    * pair, a different state layout than tumbling's keyed aggregation).
    * Complete mode: a finite input's final overwrite is the fully-merged
    * session set, identical to the batch gaps-and-islands formulation —
    * `s_end` is the session's last event + the 30-minute gap, per
    * session_window semantics. (Append mode would need the watermark to
    * pass each session's end, which never happens for sessions in the
    * final 2 hours of a finite stream — they would be silently dropped.) */
  def sessionStreamRun(spark: SparkSession, dir: String): DataFrame =
    boundedStreamRun(spark, dir,
      (s, _) => s
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("s_start"),
          col("session_window.end").as("s_end"), col("n_events")),
      "complete")

  /** [[idleSessionFinalize]] as a bounded micro-batch run (q163): append
    * mode, with a watermark-flush sentinel staged 35 minutes past the real
    * maximum event time so every real session's event-time timeout fires
    * — and its state is EVICTED — before the run terminates. On a finite
    * input the emitted set is exactly the batch gaps-and-islands
    * sessionization (q91's oracle chain, in epoch-millis form), so the
    * driver hash-grades the whole timeout/eviction lifecycle. The
    * sentinel's own key (−1) is the one session still open at
    * termination; it is filtered here. */
  def idleSessionStreamRun(spark: SparkSession, dir: String): DataFrame =
    boundedRun(spark, dir, "events.parquet", readEventsStream,
      (s, _) => idleSessionAgg(s, 30), "append",
      flushPastMinutes = Some(35))
      .where(col("user_id") =!= -1L)

  /** Oracle for [[idleSessionStreamRun]]: batch sessionization with the
    * same 30-minute gap over event-time MILLIS (the stateful operator
    * compares `Timestamp.getTime` values, so the oracle's gap test and
    * emitted bounds are epoch_ms — truncation is monotone, so min/max
    * commute with it). */
  val idleSessionSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |      OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0
      |    END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM marked)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms
      |FROM sessions GROUP BY user_id, sid""".stripMargin

  /** q191: q190's decayed-count monitor as a REAL streaming run — the
    * (event_type, day) counts accumulate in the streaming aggregation
    * state store across micro-batches (complete mode, |types|·|days|
    * state rows — the smallest state a trending monitor can carry), and
    * the power-of-two decay arithmetic is applied to the FINAL state
    * through the SAME shared helper as the batch query
    * (`TimeSeries.decayFromDaily`), so a bounded run must equal the
    * batch computation exactly and q190's oracle grades the whole path
    * (the q171 pattern). The decayed score's monoid-merge property
    * (tomorrow = today·2^-Δ + new counts) is what makes this the
    * natural streaming-maintenance shape. */
  def decayedCountsStreamRun(spark: SparkSession, dir: String): DataFrame =
    graft.queries.TimeSeries.decayFromDaily(
      boundedStreamRun(spark, dir,
        (s, _) => s
          .select(col("event_type"), date_trunc("day", col("ts")).as("d"))
          .groupBy(col("event_type"), col("d")).agg(count(lit(1)).as("n")),
        "complete").localCheckpoint())

  /** q253: the q250 Benford audit as a STREAMING monitor — per-digit
    * counts accumulate in the streaming aggregation state store (complete
    * mode, ≤9 state rows: the smallest fraud monitor an ingest pipeline
    * can keep), and the ppm/constants audit layer is applied to the
    * FINAL state through the SAME shared helper as the batch query
    * (`Quality.benfordFromCounts` over `Quality.firstDigit` — the q191
    * twin discipline), so a bounded run must equal the batch audit
    * exactly and the q250 oracle template over `events.value` grades the
    * whole path. At 100 TB: digit counts are the ideal streaming
    * aggregate — bounded state, pure map-side partials per micro-batch. */
  def benfordStreamRun(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Quality.benfordFromCounts(spark,
      boundedStreamRun(spark, dir,
        (s, _) => s
          .select(graft.queries.Quality.firstDigit(col("value")).as("digit"))
          .where(col("digit") >= 1)
          .groupBy(col("digit")).agg(count(lit(1)).as("n")),
        "complete").localCheckpoint())

  /** q286: the q280 replica-drift audit running CONTINUOUSLY — per-bucket
    * (count, Σ row-hash) summaries accumulate in the streaming aggregation
    * state store as order rows arrive (complete mode, 256 state rows: the
    * smallest continuous-validation monitor a replication pipeline can
    * keep — checksum addition commutes, so arrival order is irrelevant by
    * construction). The row-hash/bucket arithmetic is the SAME shared
    * helper as the batch audit ([[graft.queries.Temporal.orderRowHashes]],
    * the q191 twin discipline), so a bounded run must equal the batch
    * base-side summary exactly and the oracle grades the whole path.
    * Checksums accumulate in DECIMAL(38,0); the BIGINT output column is
    * safe to ~2·10^12 rows (sum of <2^31 hashes), past which the emit
    * cast widens with the store. */
  def driftStreamRun(spark: SparkSession, dir: String): DataFrame =
    boundedRun(spark, dir, "orders.parquet", readOrdersStream,
      (s, _) => graft.queries.Temporal.orderRowHashes(s)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("cnt_base"),
          sum(col("h").cast(DecimalType(38, 0))).as("chk_d")),
      "complete")
      .select(col("bucket"), col("cnt_base"),
        col("chk_d").cast("long").as("chk_base"))

  /** Streaming source over a directory of orders parquet files — schema
    * resolved from the files at start, the same producer-drift discipline
    * as [[readEventsStream]]/[[readDocsStream]]. */
  private def readOrdersStream(spark: SparkSession, ordersDir: String): DataFrame =
    spark.readStream
      .schema(resolveSchema(spark, ordersDir, "orders"))
      .parquet(ordersDir)

  /** q148: sketch state ACROSS micro-batches — the streaming ingest shape
    * of q145's rollup. The streaming aggregation holds one DataSketches
    * HLL buffer per (week, day) in the STATE STORE and folds each arriving
    * micro-batch's users into it (a TypedImperativeAggregate buffer
    * surviving batch boundaries — the property that lets a 100 TB ingest
    * pipeline keep distinct-user state in kilobytes per key instead of a
    * growing exact set). Complete mode: the finite run's final overwrite
    * is the fully-folded day-sketch table, which then union-merges per
    * week and is bound-gated against the exact batch distinct — q145's
    * grading, same oracle. */
  def sketchStreamRun(spark: SparkSession, dir: String): DataFrame = {
    val daySketch = boundedStreamRun(spark, dir,
      (s, _) => s.select(
          date_trunc("week", col("ts")).as("week"),
          date_trunc("day", col("ts")).as("day"), col("user_id"))
        .groupBy(col("week"), col("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk")),
      "complete")
    val weekly = daySketch.groupBy(col("week"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"))
    val exact = Tables(spark, dir, "events")
      .groupBy(date_trunc("week", col("ts")).as("week"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(broadcast(weekly), Seq("week"))
      .select(col("week"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users") < 0.05).as("merged_within_bound"))
  }

  /** Stream-stream interval self-join as a bounded micro-batch run — the
    * symmetric hash join with per-side state stores, end-to-end. Unlike
    * windowed aggregation, an INNER stream-stream join emits matches as
    * soon as both rows have arrived (the watermark only bounds state
    * retention, not emission), so append mode on a finite input produces
    * exactly the batch join — no tail loss. */
  def streamStreamJoinRun(spark: SparkSession, dir: String): DataFrame =
    boundedStreamRun(spark, dir, (s, inDir) => {
      val a = s.withWatermark("ts", "2 hours")
        .select(col("user_id").as("a_user"), col("ts").as("a_ts"),
          col("event_id").as("a_id"), col("event_type").as("a_type"))
      val b = readEventsStream(s.sparkSession, inDir).withWatermark("ts", "2 hours")
        .select(col("user_id").as("b_user"), col("ts").as("b_ts"),
          col("event_id").as("b_id"), col("event_type").as("b_type"))
      a.join(b,
        col("a_user") === col("b_user") &&
          col("b_ts") > col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("interval 30 minutes") &&
          col("a_type") =!= col("b_type"))
        .select(col("a_user").as("user_id"), col("a_id"), col("b_id"),
          col("a_type"), col("b_type"))
    }, "append")

  /** Arbitrary-state streaming (`mapGroupsWithState`) as a bounded
    * UPDATE-mode micro-batch run — the third output mode in the driver
    * gate. Update mode emits one row per key per batch in which the key's
    * state changed; the sink stamps each row with its batchId, and the
    * read side compacts LAST-WRITER-WINS per key (max_by over the stamp) —
    * the standard upsert-compaction read of an update-mode sink, correct
    * for ANY micro-batch split of the input, not just single-batch runs.
    * On a finite input the compacted state is exactly the batch per-key
    * count. */
  def runningCountsStreamRun(spark: SparkSession, dir: String): DataFrame = {
    val raw = boundedStreamRun(spark, dir,
      (s, _) => runningCountsAgg(s.sparkSession, s), "update")
    raw.groupBy(col("user_id"))
      .agg(max_by(col("n_events"), col("batch_id")).as("n_events"))
  }

  /** Oracle for [[runningCountsStreamRun]]: final state = batch count. */
  val runningCountsSql: String =
    "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id"

  /** q164: `transformWithState` — Spark 4's arbitrary-state API, the
    * successor to `mapGroupsWithState` (q111) and `flatMapGroupsWithState`
    * (q163). What the old APIs cannot express and this operator
    * exercises: MULTIPLE NAMED, TYPED state variables per key, managed
    * individually in the state store (here a `ValueState[Long]` running
    * total beside a `MapState[String, Long]` of per-type counts — with
    * the single-state old APIs, touching one type would rewrite the whole
    * per-user blob; `MapState` updates only the touched entries). Requires
    * the RocksDB state-store provider (multiple column families — one per
    * state variable), which the bounded run pins on its child session.
    *
    * Update-mode emission: one row per (user, type touched in the batch)
    * carrying the new per-type count and the user's new running total;
    * the batchId-stamped sink compacts last-writer-wins (the q111
    * pattern), so the final compacted state equals the batch
    * GROUP BY user_id, event_type — the DuckDB oracle below. */
  private class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, String, Long, Long)] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var total: org.apache.spark.sql.streaming.ValueState[Long] = _
    @transient private var perType: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: TimeMode): Unit = {
      total = getHandle.getValueState[Long]("total", E.scalaLong, TTLConfig.NONE)
      perType = getHandle.getMapState[String, Long](
        "perType", E.STRING, E.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String, Long, Long)] = {
      val batchCounts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      var n = 0L
      rows.foreach { case (_, t) =>
        batchCounts.update(t, batchCounts.getOrElse(t, 0L) + 1L); n += 1L
      }
      val newTotal = (if (total.exists()) total.get() else 0L) + n
      total.update(newTotal)
      batchCounts.iterator.map { case (t, d) =>
        val c = (if (perType.containsKey(t)) perType.getValue(t) else 0L) + d
        perType.updateValue(t, c)
        (user, t, c, newTotal)
      }.toList.iterator
    }
  }

  /** q173: the OTHER half of the transformWithState API — EVENT-TIME
    * TIMERS. q164 exercises the typed state variables; this processor
    * re-expresses q163's idle-session eviction through the timer surface:
    * `registerTimer`/`deleteTimer` on the handle replace
    * `GroupState.setTimeoutTimestamp` (plural timers per key are now
    * possible; this op needs exactly one, so it re-registers — delete old,
    * register new — as the session extends), and the open session is
    * emitted from `handleExpiredTimer` when the watermark passes the
    * registered expiry, with BOTH state variables cleared — the eviction
    * contract that bounds the store by active keys. Same emitted set as
    * q163 on a finite run, so the same batch sessionization oracle
    * hash-grades the whole timer lifecycle. */
  private class TimerSessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), (Long, Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var sess: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
    @transient private var timerAt: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: TimeMode): Unit = {
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        E.tuple(E.scalaLong, E.scalaLong, E.scalaLong), TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long]("timerAt", E.scalaLong,
        TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long, Long)] = {
      val ts = rows.map(_._2.getTime).toArray.sorted
      var closed = List.empty[(Long, Long, Long, Long)]
      var (n, s, e) = if (sess.exists()) sess.get() else (0L, 0L, 0L)
      ts.foreach { t =>
        if (n == 0L) { n = 1L; s = t; e = t }
        else if (t - e > gapMs) {
          closed = (uid, n, s, e) :: closed
          n = 1L; s = t; e = t
        } else { n += 1L; e = math.max(e, t) }
      }
      sess.update((n, s, e))
      // single-timer discipline: drop the previous registration before
      // arming the new expiry (floored above the watermark so stragglers
      // still close instead of registering an already-expired timer)
      if (timerAt.exists()) getHandle.deleteTimer(timerAt.get())
      val expiry = math.max(e + gapMs,
        timerValues.getCurrentWatermarkInMs() + 1L)
      getHandle.registerTimer(expiry)
      timerAt.update(expiry)
      closed.reverseIterator
    }
    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long, Long, Long)] = {
      val (n, s, e) = sess.get()
      sess.clear() // EVICT both variables: closed sessions hold no state
      timerAt.clear()
      Iterator.single((uid, n, s, e))
    }
  }

  /** [[TimerSessionProcessor]] over an open events stream. */
  private[graft] def timerSessionAgg(events: DataFrame,
      gapMinutes: Int): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new TimerSessionProcessor(gapMinutes * 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("user_id", "n_events", "start_ms", "end_ms")
  }

  /** [[timerSessionAgg]] as a bounded micro-batch run (q173): the q163
    * harness — watermark-flush sentinel, sentinel key filtered — on the
    * RocksDB provider the timer API requires. */
  def timerSessionStreamRun(spark: SparkSession, dir: String): DataFrame =
    boundedRun(spark, dir, "events.parquet", readEventsStream,
      (s, _) => timerSessionAgg(s, 30), "append",
      flushPastMinutes = Some(35),
      sessionConf = rocksDbProviderConf)
      .where(col("user_id") =!= -1L)

  /** q174: the THIRD typed state variable — `ListState` — completing the
    * transformWithState triad (q164 Value+Map, q173 timers): a BOUNDED
    * per-key buffer of the k most recent events, the online
    * feature-extraction shape ("last-k user actions" behavioral features
    * for training-data generation). The store holds ≤k entries per key
    * FOREVER — `put` rewrites only this key's list — which is the whole
    * point: an unbounded stream, O(k) state per entity. Batch rows are
    * sorted on (ts, event_id) before merging (iterator order within a
    * micro-batch is not event-time order), so the buffer is
    * deterministic; update-mode emission + batchId compaction (the
    * q111/q164 pattern) makes the final row per user the true last-k. */
  private class LastKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String), (Long, String)] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var recent: org.apache.spark.sql.streaming.ListState[(Long, Long, String)] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: TimeMode): Unit =
      recent = getHandle.getListState[(Long, Long, String)]("recent",
        E.tuple(E.scalaLong, E.scalaLong, E.STRING), TTLConfig.NONE)
    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, String)] = {
      val prev = if (recent.exists()) recent.get().toArray
                 else Array.empty[(Long, Long, String)]
      // merge + keep the k MOST RECENT by (ts_ms, event_id)
      val merged = (prev ++ rows).sortBy(r => (r._1, r._2)).takeRight(k)
      recent.put(merged)
      Iterator.single((uid, merged.map(_._3).mkString(",")))
    }
  }

  /** [[LastKProcessor]] over an open events stream. */
  private[graft] def lastKAgg(events: DataFrame, k: Int): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    events
      .select(unix_millis(col("ts")).as("ts_ms"), col("event_id"),
        col("user_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .map(r => (r._3, (r._1, r._2, r._4)))
      .groupByKey(_._1)
      .mapValues(_._2)
      .transformWithState(new LastKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "last_types")
  }

  def lastKStreamRun(spark: SparkSession, dir: String): DataFrame = {
    val raw = boundedRun(spark, dir, "events.parquet", readEventsStream,
      (s, _) => lastKAgg(s, 3), "update",
      sessionConf = rocksDbProviderConf)
    raw.groupBy(col("user_id"))
      .agg(max_by(col("last_types"), col("batch_id")).as("last_types"))
  }

  /** Oracle for [[lastKStreamRun]]: the 3 most recent event types per
    * user, oldest-to-newest. */
  val lastKSql: String =
    """WITH r AS (
      |  SELECT user_id, event_type, row_number() OVER (
      |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, string_agg(event_type, ',' ORDER BY rn DESC)
      |  AS last_types
      |FROM r WHERE rn <= 3 GROUP BY user_id""".stripMargin

  /** q196: count-min sketch maintained IN THE STREAMING STATE STORE —
    * q195's sketch as an ingest pipeline. The matrix is not held as one
    * blob: it is keyed by its coordinates — each arriving token explodes
    * to `depth` (row, cell) updates via the shared md5 hash family
    * (evaluated in codegen'd SQL inside the stream) and a streaming
    * aggregation owns one counter per touched coordinate. That is the
    * cluster shape of a streaming sketch: state partitions by (row, cell)
    * across executors, each micro-batch folds in map-side partial counts,
    * and state size is bounded by depth×width regardless of how much
    * stream has flowed. Complete mode on the finite run yields the final
    * counter table, which the batch side probes for the top-20 exact
    * words — graded by q195's identical oracle, so the whole
    * stream-ingest path must reproduce the batch sketch bit-for-bit. */
  private val cmsDepth = 4
  private val cmsWidth = 512

  /** The `depth` (row, cell) coordinates of a token column `t` as an
    * explodable array — the shared md5 hash family in codegen'd SQL. */
  private def cmsCoords: Column = {
    val cellOf =
      s"CAST(conv(substring(md5(concat(CAST(i AS STRING), ':', t)), 1, 15), 16, 10) AS BIGINT) % $cmsWidth"
    expr(s"transform(sequence(0, ${cmsDepth - 1}), i -> named_struct('i', CAST(i AS BIGINT), 'cell', $cellOf))")
  }

  /** The streaming half of q196: tokens → depth (row, cell) updates →
    * one streaming-agg counter per touched coordinate. Shared with the
    * multi-batch spec. */
  private[graft] def cmsCellCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("t"))
      .where(col("t") =!= "")
      .select(explode(cmsCoords).as("rc"))
      .groupBy(col("rc.i").as("i"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("s"))

  def cmsStreamRun(spark: SparkSession, dir: String): DataFrame = {
    // the per-token md5 hashing fuses onto the micro-batch's file-source
    // scan — on the staged single-file replay that is ONE task (measured
    // 3.7 s of a 4.8 s query at local[32]); rebalance the batch inside the
    // stream, gated on the staged dir's layout exactly like a batch scan
    // (guide §2.5 via [[Tables.spreadPath]]; a production replay over many
    // files never fires the gate)
    val counters = boundedDocStreamRun(spark, dir,
      (s, inDir) => cmsCellCounts(Tables.spreadPath(s.sparkSession, inDir, s)),
      "complete").localCheckpoint()
    val wc = Tables(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .where(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("cnt"))
    val probes = wc.orderBy(col("cnt").desc, col("t")).limit(20)
      .select(col("t"), col("cnt"), explode(cmsCoords).as("rc"))
      .select(col("t"), col("cnt"), col("rc.i").as("i"), col("rc.cell").as("cell"))
    // ≤ depth·width counter rows — broadcast the state, probe scan-side
    probes.join(broadcast(counters), Seq("i", "cell"))
      .groupBy(col("t"), col("cnt"))
      .agg(min(col("s")).as("est"))
      .select(col("t"), col("cnt"), col("est"),
        (col("est") >= col("cnt")).as("no_undercount"))
  }

  /** q212: weekly user THETA SKETCHES accumulated in the streaming state
    * store — the theta member of the streaming-sketch family (HLL q148,
    * CMS q196, decayed counts q191). One DataSketches theta buffer per
    * week lives in the streaming aggregation state and folds each
    * arriving micro-batch's users in (set semantics: raw arrivals and
    * the distinct index sketch identically); the finite run's final
    * state feeds q207's exact-companion churn grading unchanged — the
    * whole ingest path must reproduce the batch sketch's estimates. */
  def thetaChurnStreamRun(spark: SparkSession, dir: String): DataFrame = {
    val weekly = boundedStreamRun(spark, dir, (s, _) =>
      s.select(date_trunc("week", col("ts")).as("week"), col("user_id"))
        .groupBy(col("week"))
        .agg(expr("theta_sketch_agg(user_id)").as("sk")),
      "complete").localCheckpoint()
    graft.queries.Scalars.thetaChurnWith(spark, dir, Some(weekly))
  }

  /** The transformWithState pipeline over an open events stream — shared
    * by the registry run and the multi-batch spec. Caller must run it on
    * a session with the RocksDB state-store provider pinned. */
  private[graft] def typedStateAgg(events: DataFrame): DataFrame = {
    val ss = events.sparkSession
    import ss.implicits._
    events.select(col("user_id"), col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "event_type", "n", "n_total")
  }

  /** The RocksDB provider conf transformWithState requires (one column
    * family per state variable — the HDFS-backed default store has no
    * column families). */
  private[graft] val rocksDbProviderConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  def typedStateCountsRun(spark: SparkSession, dir: String): DataFrame = {
    val raw = boundedRun(spark, dir, "events.parquet", readEventsStream,
      (s, _) => typedStateAgg(s), "update",
      sessionConf = rocksDbProviderConf)
    // last-writer-wins compaction per (user, type); the user's final
    // running total comes from their last emitted row of any type
    val counts = raw.groupBy(col("user_id"), col("event_type"))
      .agg(max_by(col("n"), col("batch_id")).as("n"))
    val totals = raw.groupBy(col("user_id"))
      .agg(max_by(col("n_total"), col("batch_id")).as("user_total"))
    counts.join(totals, Seq("user_id"))
      .select(col("user_id"), col("event_type"), col("n"), col("user_total"))
  }

  /** Oracle for [[typedStateCountsRun]]: final MapState entry = batch
    * per-(user, type) count; final ValueState = the user's event total. */
  val typedStateSql: String =
    """SELECT user_id, event_type, count(*) AS n,
      |  CAST(sum(count(*)) OVER (PARTITION BY user_id) AS BIGINT) AS user_total
      |FROM events GROUP BY user_id, event_type""".stripMargin

  /** Oracle for [[streamStreamJoinRun]]: the plain batch interval join. */
  val streamStreamSql: String =
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
      |  a.event_type AS a_type, b.event_type AS b_type
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND b.ts > a.ts
      |  AND b.ts <= a.ts + INTERVAL 30 MINUTE
      |  AND a.event_type <> b.event_type""".stripMargin

  /** Oracle for [[sessionStreamRun]]: the batch session derivation
    * ([[sessionSql]]'s CTE chain) re-keyed to session_window's output
    * shape — start = first event, end = last event + gap. */
  val sessionStreamSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |      OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0
      |    END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM marked)
      |SELECT user_id, min(ts) AS s_start,
      |  max(ts) + INTERVAL '30 minutes' AS s_end, count(*) AS n_events
      |FROM sessions GROUP BY user_id, sid""".stripMargin

  val sessionSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |      OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0
      |    END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM marked)
      |SELECT user_id, sid, count(*) AS n_events,
      |  min(ts) AS s_start, max(ts) AS s_end
      |FROM sessions GROUP BY user_id, sid""".stripMargin
}
