package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal-warehouse analytics the reference's MapReduce surface has no
  * answer to (north-star breadth, SURVEY.md §2.2): consuming a versioned
  * SCD2 dimension point-in-time, compacting a CDC changelog, a distributed
  * sweep-line for interval concurrency, and first-order event transition
  * matrices. Every query is exact-integer (or raw-column passthrough) so
  * the DuckDB oracle hash-matches bit-for-bit.
  */
object Temporal {

  /** q136: POINT-IN-TIME fact enrichment against the SCD2 dimension built
    * by q135 — the canonical consumption of a versioned dimension: each
    * event joins the ONE version whose validity interval [valid_from,
    * valid_to) covers its timestamp (open-ended current row via the NULL
    * guard), left-extended for events before the key's first version.
    * Because versions partition time per key, this is semantically the
    * q27/q27b as-of join — expressed as the interval join a warehouse
    * would write against a stored SCD2 table. The equi conjunct on the
    * key keeps it a hash/sort-merge join (one shuffle per side, never a
    * nested loop); the range predicates evaluate post-match. */
  def scd2PointInTime(spark: SparkSession, dir: String): DataFrame = {
    val dim = Joins.scd2Build(spark, dir)
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    ev.join(dim,
        col("user_id") === col("key") && col("ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")),
        "left")
      .select(col("event_id"), col("user_id"),
        col("valid_from").as("version_day"),
        col("day_spend").as("version_spend"))
  }

  /** q137: CDC changelog compaction (the MERGE/upsert pattern) — replay a
    * keyed change stream to its latest state: last writer wins per key on
    * the total (ts, event_id) order, delete ops tombstone the key. One
    * row_number window on one shuffle; `value` passes through untouched
    * (no arithmetic, so raw doubles compare exactly). `error` events play
    * the delete role in the synthetic log. */
  def cdcCompact(spark: SparkSession, dir: String): DataFrame = {
    val log = Tables(spark, dir, "events").select(
      col("user_id"), col("ts"), col("event_id"), col("value"),
      when(col("event_type") === "error", lit("delete"))
        .otherwise(lit("upsert")).as("op"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    log.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("op") === "upsert")
      .select(col("user_id"), col("ts").as("last_ts"),
        col("value").as("last_value"))
  }

  /** q138: peak concurrency per day via a DISTRIBUTED sweep-line: each
    * event occupies [ts, ts+300s); its ±1 boundaries are swept in (t,
    * delta, event_id) order (ends close before starts open at the same
    * instant — half-open semantics) and the running sum's max per day is
    * the day's peak. A naive global cumsum would be one partition; here
    * the prefix sum is TWO-PHASE, the textbook scalable form: per-day
    * boundary totals (tiny — O(days) rows) prefix-summed into a carry-in,
    * broadcast back onto a per-day-partitioned intra-day cumsum. The only
    * full-data exchange is the day repartition; the global window touches
    * O(days) rows. Intervals crossing midnight are handled exactly: their
    * -1 lands in the next day's boundary list and the carry already
    * counts them. */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val b = ev.select(col("ts").as("t"), lit(1L).as("delta"), col("event_id"))
      .unionByName(ev.select(
        (col("ts") + expr("interval 300 seconds")).as("t"),
        lit(-1L).as("delta"), col("event_id")))
      .withColumn("day", date_trunc("day", col("t")))
    val wCarry = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = b.groupBy(col("day")).agg(sum(col("delta")).as("d"))
      .withColumn("carry", coalesce(sum(col("d")).over(wCarry), lit(0L)))
      .select(col("day"), col("carry"))
    val wDay = Window.partitionBy(col("day"))
      .orderBy(col("t").asc, col("delta").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(carry), Seq("day"))
      .withColumn("conc", col("carry") + sum(col("delta")).over(wDay))
      .groupBy(col("day"))
      .agg(max(col("conc")).as("peak_concurrency"))
  }

  /** q139: first-order Markov transition matrix of event types — per-user
    * sequences in total (ts, event_id) order, counted by (from, to), with
    * the row-conditional probability as an exact integer ppm (floor
    * division — no float ever enters the gate). One lag window + one
    * groupBy; the per-from normalizing window runs on |types|² rows. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val c = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    c.withColumn("total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000L) div total").as("p_ppm"))
  }

  /** q147: sequential PATH MINING — the top-20 event-type trigrams over
    * per-user time-ordered journeys ("view>click>purchase"), the n-gram
    * generalization of q139's first-order transition matrix and the
    * workhorse of navigation/funnel-discovery analysis.
    *
    * Scale shape: ONE shuffle keyed on the user assembles each journey
    * (`collect_list` of (ts, event_id, type) structs, `array_sort`ed for
    * a deterministic total order — per-user sequences are bounded, the
    * q91 sessionize assumption); trigram expansion is a scan-local
    * higher-order `transform` over index windows (never a self-join of
    * the event table, which would square the hot users); counts partial-
    * aggregate map-side and the global top-20 is a distributed
    * TakeOrdered on the exact (count desc, path) order. */
  def pathTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val seqs = Tables(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("s"))
      .select(expr("transform(s, x -> x.event_type)").as("types"))
    seqs.where(size(col("types")) >= 3)
      .select(explode(expr(
        """transform(sequence(1, size(types) - 2),
          |  i -> concat(types[i - 1], '>', types[i], '>', types[i + 1]))"""
          .stripMargin)).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc).limit(20)
  }

  private val pathTrigramsSql =
    """WITH s AS (
      |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
      |  FROM events GROUP BY 1),
      |tri AS (
      |  SELECT unnest(list_transform(range(2, len(types)),
      |    i -> types[i - 1] || '>' || types[i] || '>' || types[i + 1]))
      |    AS path
      |  FROM s WHERE len(types) >= 3)
      |SELECT path, count(*) AS n FROM tri GROUP BY 1
      |ORDER BY n DESC, path LIMIT 20""".stripMargin

  /** q188: INCREMENTAL SCD2 MERGE — the warehouse upsert completing the
    * q135/q136/q137 temporal family with the q115/q120 incremental tier:
    * the versioned dimension built from history (orders before the
    * cutoff day) absorbs a new batch (orders from the cutoff on) without
    * rebuilding — each touched key's open current row is CLOSED to the
    * key's first new version day, the batch's versions chain among
    * themselves, and untouched keys pass through unchanged. This is
    * MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT in
    * DataFrame form.
    *
    * The q120 trust invariant, applied to SCD2: because the batch
    * boundary is a DAY boundary, every (key, day) spend aggregate lands
    * wholly on one side, and version chains only ever APPEND (new days
    * sort after all history days) — so merge(history dim, batch) must
    * equal q135's dimension rebuilt over the FULL table, and the oracle
    * IS that full-corpus SQL. (Out-of-order corrections would void the
    * append property; that is the documented boundary between MERGE and
    * rebuild.)
    *
    * Scale shape: history is touched ONCE, joined key-partitioned
    * against the |touched keys|-row first-new-version table (never
    * broadcast — touched keys are unbounded at corpus scale); the batch
    * chains inside per-key windows; union is free. The corpus-sized
    * fact table is never re-read — only the dimension and the batch
    * move, the LSM-style property that makes nightly loads feasible. */
  def scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    import graft.Exact.dsum2
    val cutoff = lit("2000-01-01").cast("timestamp")
    def daySpend(df: DataFrame): DataFrame = df
      .groupBy(col("o_custkey").as("key"), col("o_orderdate").as("valid_from"))
      .agg(dsum2(col("o_totalprice")).as("day_spend"))
    val orders = Tables(spark, dir, "orders")
    val wh = Window.partitionBy(col("key")).orderBy(col("valid_from").asc)
    // the persisted-history stand-in: built once from the pre-cutoff
    // slice, checkpointed so the merge provably never re-reads facts
    val hist = daySpend(orders.where(col("o_orderdate") < cutoff))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wh))
      .localCheckpoint(true)
    val batch = daySpend(orders.where(col("o_orderdate") >= cutoff))
    val batchChained = batch
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wh))
    val firstNew = batch.groupBy(col("key"))
      .agg(min(col("valid_from")).as("first_new"))
    val histClosed = hist.join(firstNew, Seq("key"), "left")
      .select(col("key"), col("valid_from"), col("day_spend"),
        when(col("valid_to").isNull && col("first_new").isNotNull,
          col("first_new")).otherwise(col("valid_to")).as("valid_to"))
    histClosed.unionByName(batchChained)
      .withColumn("is_current",
        when(col("valid_to").isNull, 1L).otherwise(0L))
  }

  // ---- q213: partitioned matview, dynamic-partition-overwrite refresh -----

  /** q213: INCREMENTAL REFRESH of a partitioned aggregate table by
    * DYNAMIC PARTITION OVERWRITE — the warehouse write path that makes a
    * daily rollup maintainable: when a day's late data arrives, the
    * refresh rewrites ONLY that day's partition; every other partition's
    * files stay bit-untouched on disk. Static overwrite mode (the
    * default) would truncate the whole table on the same statement — the
    * difference between an O(delta) nightly job and an O(history) one.
    * The overwrite mode is passed as a WRITE OPTION, not session conf,
    * so the behavior is scoped to this statement.
    *
    * Gates: the refreshed table must equal the full rebuild (the oracle
    * IS that rebuild — a lost partition, a double-write, or a static
    * truncation fails the hash), and `history_untouched` pins the
    * file-level claim — the pre-refresh partition files (name AND size)
    * of every untouched day survive verbatim. */
  def partitionRefresh(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val table = "graft_daily_counts"
    val agg = Tables(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // feeds the max-day lookup, the build, the refresh
    val maxDay = agg.agg(max(col("day"))).head().getString(0)
    Warehouse.resetTable(spark, table)
    agg.where(col("day") < maxDay)
      .select(col("event_type"), col("n"), col("day")) // partition col last
      .write.partitionBy("day").saveAsTable(table)
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    def snapshot(): Map[String, Long] =
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.toString.contains(s"day=$maxDay"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    val before = snapshot()
    // the late day arrives: dynamic overwrite touches ONLY its partition.
    // The per-write `partitionOverwriteMode` OPTION is not honored on the
    // catalog insertInto path (verified: the table was truncated to the
    // one inserted day), so the conf is set SCOPED — saved and restored
    // in finally — which keeps the loader/session side-effect discipline.
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try agg.where(col("day") === maxDay)
      .select(col("event_type"), col("n"), col("day"))
      .write.mode("overwrite").insertInto(table)
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val untouched = snapshot() == before
    spark.table(table)
      .select(col("day"), col("event_type"), col("n"),
        lit(untouched).as("history_untouched"))
  }

  private val partitionRefreshSql =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      |  CAST(count(*) AS BIGINT) AS n, TRUE AS history_untouched
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---- q215: small-file COMPACTION of a partitioned table -----------------

  /** q215: the OPTIMIZE maintenance pass — a partitioned table that
    * accumulated many small files per partition (every incremental
    * writer's end state: one file per micro-batch per partition) is
    * rewritten to ONE file per partition, without changing a row. Small
    * files are the scan-cost killer at warehouse scale (per-file open +
    * footer + scheduling overheads dominate sub-MB files); compaction is
    * the standing maintenance job every table format ships. The rewrite
    * clusters by the partition key (`repartition(day)` → each day lands
    * wholly in one task → exactly one output file per partition) and
    * recommits through the same dynamic-overwrite path as q213.
    *
    * Gates: content equality with the pre-compaction table (the oracle
    * IS the rebuild SQL — a lost or duplicated row fails the hash),
    * `was_fragmented` pins the precondition (>1 file per partition
    * before), `compacted` pins the postcondition (exactly 1 after). */
  def compaction(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val table = "graft_daily_compact"
    val agg = Tables(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    Warehouse.resetTable(spark, table)
    // the fragmented state an incremental writer leaves behind: the same
    // partition's rows spread over many writer tasks → many small files
    agg.repartition(8)
      .select(col("event_type"), col("n"), col("day"))
      .write.partitionBy("day").saveAsTable(table)
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    def filesPerDay(): Map[String, Int] =
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".")) // checksum siblings
        .map(p => p.getParent.getFileName.toString)
        .toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    val beforeCounts = filesPerDay()
    val wasFragmented = beforeCounts.values.exists(_ > 1)
    // the compaction itself: cluster by partition key, one file per day,
    // recommitted through the scoped dynamic-overwrite path
    // stage the current content OFF the table before overwriting it —
    // a self-insert would otherwise read the files it is replacing
    val staged = spark.table(table).localCheckpoint()
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try staged.repartition(col("day"))
      .write.mode("overwrite").insertInto(table)
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val compacted = filesPerDay().values.forall(_ == 1)
    spark.table(table)
      .select(col("day"), col("event_type"), col("n"),
        lit(wasFragmented).as("was_fragmented"), lit(compacted).as("compacted"))
  }

  private val compactionSql =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  TRUE AS was_fragmented, TRUE AS compacted
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---- q216: the COMPLETE materialized-view lifecycle ---------------------

  /** q216: register → go-stale → refresh → consume, end-to-end — the
    * closed lifecycle of a transparent materialized view (q204 shows the
    * rewrite; this shows the MAINTENANCE that makes the rewrite safe to
    * leave on in production). The base is a mutable staged copy of
    * `events` (initially missing the newest day); the view is its daily
    * aggregate, day-partitioned.
    *
    *  1. REGISTER materializes the view and records the base's
    *     file-snapshot fingerprint; a consumer authored from scratch is
    *     substituted (`registered_substitutes`).
    *  2. LATE DATA arrives (the newest day's rows are appended to the
    *     base). The registration is now STALE: a fresh consumer must
    *     DECLINE the rewrite (`stale_declined`) and its from-scratch
    *     result must equal the full rebuild (`stale_correct`) — staleness
    *     costs performance, never correctness.
    *  3. REFRESH ([[graft.plans.MatViewRule.refresh]]) diffs the fresh
    *     aggregate against the stored table and rewrites ONLY the changed
    *     day through the q213 dynamic-partition-overwrite path —
    *     `refresh_incremental` pins both that exactly the late day was
    *     rewritten AND that every other partition's files survive
    *     byte-identical (name and size).
    *  4. The final consumer substitutes again (`resubstituted`) and its
    *     rows ARE the refreshed table's — the oracle is the full rebuild
    *     over `events`, so a lost partition, a double-write, or a stale
    *     serve fails the hash.
    *
    * At 100 TB: registration/refresh cost ∝ changed partitions (the
    * aggregate diff touches day-grain rows, never raw events history);
    * the staleness guard costs one memoized file-listing compare per
    * candidate subtree, no filesystem round trip. */
  def matviewLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val table = "graft_mv_daily"
    val out = java.nio.file.Files.createTempDirectory("graft_mv_life")
    graft.streaming.EventStreams.deleteTreeOnExit(out)
    val baseDir = s"$out/base"
    val ev = Tables(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .localCheckpoint() // feeds the max-day lookup, the stage, the expected
    val maxDay = ev.agg(max(col("day"))).head().getString(0)
    ev.where(col("day") < maxDay).write.parquet(baseDir)
    // the defining query, ALWAYS re-derived from a fresh read (fresh file
    // listing) — exactly how an independent dashboard consumer re-plans
    def defining = spark.read.parquet(baseDir)
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    graft.plans.MatViewRule.register(spark, defining, table,
      partitionBy = Seq("day"))
    val substituted0 =
      defining.queryExecution.executedPlan.toString.contains(table)
    // late data arrives: the base grows the newest day's rows
    ev.where(col("day") === maxDay).write.mode("append").parquet(baseDir)
    val stale = defining
    val staleDeclined =
      !stale.queryExecution.executedPlan.toString.contains(table)
    val expected = ev.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val staleCorrect =
      stale.exceptAll(expected).isEmpty && expected.exceptAll(stale).isEmpty
    // refresh must rewrite ONLY the late day's partition
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    def snapshot(): Map[String, Long] =
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".") &&
          !p.toString.contains(s"day=$maxDay"))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    val before = snapshot()
    val refreshed = graft.plans.MatViewRule.refresh(spark, defining, table, "day")
    val refreshIncremental = refreshed == Seq(maxDay) && snapshot() == before
    val fin = defining
    val resubstituted =
      fin.queryExecution.executedPlan.toString.contains(table)
    fin.select(col("day"), col("event_type"), col("n"),
      lit(substituted0).as("registered_substitutes"),
      lit(staleDeclined).as("stale_declined"),
      lit(staleCorrect).as("stale_correct"),
      lit(refreshIncremental).as("refresh_incremental"),
      lit(resubstituted).as("resubstituted"))
  }

  private val matviewLifecycleSql =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  TRUE AS registered_substitutes, TRUE AS stale_declined,
      |  TRUE AS stale_correct, TRUE AS refresh_incremental,
      |  TRUE AS resubstituted
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---- q313: matview aggregate ROLL-UP rewrite -----------------------------

  /** q313: AGGREGATE ROLL-UP through the matview rule — the most common
    * matview win: a registered DAY-grain aggregate answers a WEEK-grain
    * consumer. The view materializes events at (day, event_type) grain
    * with the re-aggregable partials (count, sum, min, max); the consumer
    * is authored FROM THE RAW BASE at (week, event_type) grain — its
    * week key is `date_trunc` OF the view's day key, so this is not the
    * exact-match tier (q204/q216) but the roll-up unification:
    * COUNT → SUM of counts, SUM → SUM of sums, MIN/MAX → MIN/MAX, the
    * grouping expression rewritten over the view's key column. The
    * `rewritten` gate reads the decision from the OPTIMIZED plan (the
    * events relation must be GONE, the view table scanned), and the
    * oracle recomputes the week grain from scratch — a wrong roll-up is
    * a hash failure. At 100 TB: every coarser-grain dashboard over a
    * day-grain nightly aggregate stops touching the event history. */
  def matviewRollup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val table = "graft_mv_rollup_day"
    val dec = DecimalType(18, 2)
    def base = Tables(spark, dir, "orders")
    val defining = base
      .groupBy(col("o_orderdate"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(dec)).as("t"),
        min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    graft.plans.MatViewRule.register(spark, defining, table)
    try {
      // the consumer: WEEK grain, authored against the raw base — the
      // optimizer must serve it from the day-grain view
      val consumer = base
        .groupBy(date_trunc("WEEK", col("o_orderdate")).as("week"),
          col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).as("t"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
      val scans = consumer.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString).mkString(";")
            case _ => ""
          }
      }
      val rewritten = scans.exists(_.contains(table)) &&
        !scans.exists(_.contains("orders.parquet"))
      val materialized = consumer.localCheckpoint()
      materialized.select(col("week"), col("o_orderstatus"), col("n"),
        col("t").cast("double").as("total_price"),
        col("min_price"), col("max_price"),
        lit(rewritten).as("rewritten"))
    } finally graft.plans.MatViewRule.drop(table)
  }

  private val matviewRollupSql =
    s"""SELECT CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week,
       |  o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${graft.Exact.sqlSum2("o_totalprice")} AS total_price,
       |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
       |  TRUE AS rewritten
       |FROM orders
       |GROUP BY 1, 2""".stripMargin

  // ---- q326: matview roll-up of AVG and COUNT DISTINCT ----------------------

  /** q326: AVG + COUNT DISTINCT ROLL-UP — the two aggregates the naive
    * re-aggregation conditions exclude, answered from the q313 day-grain
    * view anyway:
    *  - AVG(o_custkey) decomposes to Σsum_cust / Σcnt_cust over the
    *    stored partials — EXACT here (integral input: integer-valued
    *    double sums below 2^53 are associative, then ONE IEEE division,
    *    identical in both engines — the oracle spells the same
    *    decomposition);
    *  - COUNT(DISTINCT o_orderstatus) re-counts the view's KEY column —
    *    exact with no sketch bound, because the (day, status) view holds
    *    every distinct key combination of the base (the stored-key
    *    argument; a non-key COUNT DISTINCT still declines, RulesSpec).
    * The consumer is authored at WEEK grain against the RAW base; the
    * `rewritten` gate reads from the optimized plan that the events
    * relation is gone and the view table scanned. At 100 TB: the two
    * dashboard staples that previously forced a base re-scan ride the
    * same nightly day-grain aggregate as everything else. */
  def matviewRollupAvg(spark: SparkSession, dir: String): DataFrame = {
    val table = "graft_mv_rollup_avg"
    def base = Tables(spark, dir, "orders")
    val defining = base
      .groupBy(col("o_orderdate"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), count(col("o_custkey")).as("cc"),
        sum(col("o_custkey")).as("sc"))
    graft.plans.MatViewRule.register(spark, defining, table)
    try {
      val consumer = base
        .groupBy(date_trunc("WEEK", col("o_orderdate")).as("week"))
        .agg(count(lit(1)).as("n"), avg(col("o_custkey")).as("avg_cust"),
          countDistinct(col("o_orderstatus")).as("n_status"))
      val scans = consumer.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString).mkString(";")
            case _ => ""
          }
      }
      val rewritten = scans.exists(_.contains(table)) &&
        !scans.exists(_.contains("orders.parquet"))
      consumer.localCheckpoint()
        .select(col("week"), col("n"), col("avg_cust"), col("n_status"),
          lit(rewritten).as("rewritten"))
    } finally graft.plans.MatViewRule.drop(table)
  }

  private val matviewRollupAvgSql =
    s"""SELECT CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(o_custkey) AS DOUBLE) / count(o_custkey) AS avg_cust,
       |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
       |  TRUE AS rewritten
       |FROM orders
       |GROUP BY 1""".stripMargin

  // ---- q342: matview COUNT DISTINCT over a NON-KEY column via sketches ----

  /** q342: the LAST declined roll-up case, answered by STORED SKETCHES —
    * `COUNT(DISTINCT o_custkey)` where custkey is NOT a view key cannot
    * re-aggregate from count/sum partials (distinct values don't add),
    * so the day-grain view stores a THETA SKETCH of custkey per (day,
    * status) group (`theta_sketch_agg`, Spark 4's DataSketches binding):
    * sketches form a commutative monoid under union, so ANY coarser
    * grain re-aggregates by `theta_union_agg` + estimate. The rewrite is
    * gated behind the explicit session opt-in
    * `spark.graft.matview.approxDistinctRollup` — the transparent tier
    * never silently approximates — with the DOCUMENTED bound: exact
    * below the sketch's nominal k (lg_k=12 → 4096 distincts; every week
    * here is far below it), ~1/√k relative error above.
    *
    * Grading, q47b-style: the estimate itself is not hash-graded (it is
    * an estimate); the graded row is (week, exact n, INDEPENDENTLY
    * computed exact distinct, `rewritten` — the optimized plan scans the
    * view and not the base — and `within_bound` — |est − exact| ≤
    * max(16, 5%·exact) per row, which at this scale is equality by the
    * exact-mode argument). At 100 TB: the one dashboard aggregate that
    * still forced a base re-scan now rides the nightly day-grain view,
    * moving sketch bytes instead of raw keys. */
  def matviewSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val table = "graft_mv_sketch_cd"
    val confKey = "spark.graft.matview.approxDistinctRollup"
    def base = Tables(spark, dir, "orders")
    val defining = base
      .groupBy(col("o_orderdate"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        expr("theta_sketch_agg(o_custkey)").as("sk_cust"))
    graft.plans.MatViewRule.register(spark, defining, table)
    spark.conf.set(confKey, "true")
    val (est, rewritten) = try {
      val consumer = base
        .groupBy(date_trunc("WEEK", col("o_orderdate")).as("week"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("o_custkey")).as("d_est"))
      val scans = consumer.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(_.toString).mkString(";")
            case _ => ""
          }
      }
      (consumer.localCheckpoint(),
        scans.exists(_.contains(table)) &&
          !scans.exists(_.contains("orders.parquet")))
    } finally {
      spark.conf.unset(confKey)
      graft.plans.MatViewRule.drop(table)
    }
    // the exact side, computed with the rule dropped — from the base
    val exact = base
      .groupBy(date_trunc("WEEK", col("o_orderdate")).as("week"))
      .agg(countDistinct(col("o_custkey")).as("d_exact"))
    est.join(exact, Seq("week"))
      .select(col("week"), col("n"), col("d_exact"),
        lit(rewritten).as("rewritten"),
        (abs(col("d_est") - col("d_exact")) <=
          greatest(lit(16L), ceil(col("d_exact") * 0.05)))
          .as("within_bound"))
  }

  private val matviewSketchRollupSql =
    s"""SELECT CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week,
       |  CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS d_exact,
       |  TRUE AS rewritten, TRUE AS within_bound
       |FROM orders
       |GROUP BY 1""".stripMargin

  // ---- q222: algebraic incremental view maintenance (delta merge) ---------

  /** q222: INCREMENTAL VIEW MAINTENANCE by COUNTING ALGEBRA — the delta
    * path the partition-overwrite refresh (q213/q216) cannot take: when a
    * change batch carries INSERTS AND DELETES that land in arbitrary
    * groups, re-aggregating any partition means re-reading its history.
    * Z-set maintenance (the classic counting-algebra IVM result; DBSP is
    * its modern statement) instead represents the change as WEIGHTED rows
    * (+1 insert, −1 retraction), aggregates the delta alone, and MERGES
    * it into the stored view by group-wise addition — count and sum are
    * commutative groups (not just monoids — retraction needs inverses),
    * so merge(view, Δagg) IS the view over base∪Δ. Groups whose support
    * reaches zero are dropped (the HAVING n > 0 of the algebra).
    *
    * Exactness: IEEE addition has no inverses at the ULP (x + y − y ≠ x
    * in general), so a double-summed spend could NOT be maintained this
    * way — the spend aggregate is DECIMAL(18,2) end-to-end (the q203
    * sufficient-statistics discipline) and only cast to double on
    * output, making merged == rebuilt a bit-equality.
    *
    * The view: per-customer order count + spend over `orders`. History =
    * 80% of orders (okey%10 ≤ 7), committed as a bucketed gen0 store
    * (the q120 generation shape — q218's VACUUM applies unchanged). The
    * change batch: the remaining 20% as inserts, plus retractions of
    * every history row with custkey%97 = 13 or okey%17 = 3 (GDPR-style
    * per-customer erasure mixed with row-level corrections).
    *
    * Gates: the returned rows ARE the maintained gen1 view, graded
    * against the oracle's from-scratch GROUP BY over the post-change
    * base — a lost retraction, a double-merge, or an undropped empty
    * group fails the hash; `matches_rebuild` additionally pins a
    * full-outer bit-compare against an INDEPENDENT same-session rebuild
    * (the q203 two-computation pattern).
    *
    * At 100 TB: the history corpus is read once at gen0 build; every
    * maintenance cycle after that moves |Δ| weighted rows plus the
    * |groups|-row store — never the base. Both sides of the merge group
    * on the view key with map-side partial aggregation; gen1 is written
    * bucketed on the key, so consumers (and the next cycle's merge) read
    * it shuffle-free. */
  def ivmDelta(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val price = col("o_totalprice").cast(DecimalType(18, 2))
    val histPred = col("o_orderkey") % 10 <= 7
    val insPred = col("o_orderkey") % 10 >= 8
    val delPred = col("o_custkey") % 97 === 13 || col("o_orderkey") % 17 === 3
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), price.as("p"))
      .localCheckpoint() // feeds gen0, the delta, and the rebuild gate
    val gen0 = Warehouse.materializeBucketed(spark,
      orders.where(histPred)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("s")),
      "graft_ivm_gen0", 8, Seq("o_custkey"))
    // the change batch as a Z-set: +1 rows for inserts, −1 for retractions
    val delta = orders.where(insPred)
      .select(col("o_custkey"), lit(1L).as("w"), col("p"))
      .unionByName(orders.where(histPred && delPred)
        .select(col("o_custkey"), lit(-1L).as("w"), (-col("p")).as("p")))
      .groupBy(col("o_custkey"))
      .agg(sum(col("w")).as("n"), sum(col("p")).as("s"))
    val gen1 = Warehouse.materializeBucketed(spark,
      gen0.unionByName(delta)
        .groupBy(col("o_custkey"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
        .where(col("n") > 0),
      "graft_ivm_gen1", 8, Seq("o_custkey"))
    // the independent second computation: aggregate the post-change base
    val rebuilt = orders.where((histPred && !delPred) || insPred)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("s"))
    val cmp = gen1.as("g").join(rebuilt.as("r"), Seq("o_custkey"), "full_outer")
      .agg(min(col("g.n").isNotNull && col("r.n").isNotNull &&
        col("g.n") === col("r.n") && col("g.s") === col("r.s"))
        .as("matches_rebuild"))
    gen1.crossJoin(broadcast(cmp))
      .select(col("o_custkey"), col("n").as("n_orders"),
        col("s").cast("double").as("spend"), col("matches_rebuild"))
  }

  private val ivmDeltaSql =
    """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend,
      |  TRUE AS matches_rebuild
      |FROM orders
      |WHERE (o_orderkey % 10 <= 7
      |       AND NOT (o_custkey % 97 = 13 OR o_orderkey % 17 = 3))
      |   OR o_orderkey % 10 >= 8
      |GROUP BY 1""".stripMargin

  // ---- q223: streaming IVM — a CDC stream maintains the view --------------

  /** q223: the STREAMING twin of q222 — the same counting-algebra
    * maintenance driven by a real change-data-capture STREAM instead of
    * one batch: the weighted delta (+1 inserts, −1 retractions, q222's
    * exact change set) arrives as micro-batches (`readStream` over a
    * staged CDC directory, `maxFilesPerTrigger=1` so the bounded run
    * genuinely exercises multiple `MicroBatchExecution` cycles), each
    * batch is aggregated to its group-wise Z-set inside `foreachBatch`
    * and committed to a batchId-keyed delta log (the [[graft.streaming
    * .EventStreams.batchSink]] idempotent-under-retry contract — a
    * redelivered batch overwrites its own subdir, never doubles its
    * weights, which for RETRACTABLE aggregates is the difference between
    * correct and silently corrupt). The final view is gen0 merged with
    * the drained log, exactly q222's algebra, graded by the SAME
    * from-scratch oracle.
    *
    * This closes the maintenance symmetry the way q212/q196/q148 closed
    * the sketch one: partition-overwrite refresh (q213) ↔ matview
    * lifecycle (q216) ↔ batch delta merge (q222) ↔ streaming delta
    * merge (q223).
    *
    * At 100 TB: per-batch work ∝ that batch's changes; the log holds
    * |batches|·|touched groups| pre-aggregated rows, compacted into the
    * store by one group-keyed merge — the base corpus is never re-read
    * after gen0. A production deployment folds the merge into each
    * `foreachBatch` (read-merge-write of the bucketed store, q120's
    * cycle); the drained-log form keeps the bounded run's commit points
    * inspectable. */
  def streamIvm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.Files
    val price = col("o_totalprice").cast(DecimalType(18, 2))
    val histPred = col("o_orderkey") % 10 <= 7
    val insPred = col("o_orderkey") % 10 >= 8
    val delPred = col("o_custkey") % 97 === 13 || col("o_orderkey") % 17 === 3
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), price.as("p"))
      .localCheckpoint() // feeds gen0, the staged CDC files, the rebuild
    val gen0 = Warehouse.materializeBucketed(spark,
      orders.where(histPred)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"), sum(col("p")).as("s")),
      "graft_sivm_gen0", 8, Seq("o_custkey"))
    // stage the CDC: three arrival files (hash-split on the order key so
    // every micro-batch carries a mix of inserts and retractions)
    val zset = orders.where(insPred)
      .select(col("o_orderkey"), col("o_custkey"), lit(1L).as("w"), col("p"))
      .unionByName(orders.where(histPred && delPred)
        .select(col("o_orderkey"), col("o_custkey"), lit(-1L).as("w"),
          (-col("p")).as("p")))
    val inDir = Files.createTempDirectory("graft_sivm_in")
    val outDir = Files.createTempDirectory("graft_sivm_out")
    val ck = Files.createTempDirectory("graft_sivm_ck")
    graft.streaming.EventStreams.deleteTreeOnExit(outDir)
    for (i <- 0 until 3) {
      val tmp = Files.createTempDirectory(s"graft_sivm_stage$i")
      zset.where(col("o_orderkey") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, inDir.resolve(f"cdc-$i%02d.parquet"))
      graft.streaming.EventStreams.deleteTree(tmp)
    }
    val streamSpark = spark.newSession()
    streamSpark.conf.set("spark.sql.shuffle.partitions", "8")
    val sink = graft.streaming.EventStreams.batchSink(outDir, "append")
    val q = streamSpark.readStream
      .schema(zset.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(inDir.toString)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(batch.groupBy(col("o_custkey"))
          .agg(sum(col("w")).as("n"), sum(col("p")).as("s")), batchId)
      }
      .start()
    try q.awaitTermination() finally {
      graft.streaming.EventStreams.deleteTree(inDir)
      graft.streaming.EventStreams.deleteTree(ck)
    }
    val deltaLog = spark.read.parquet(s"$outDir/batch_*")
    val gen1 = Warehouse.materializeBucketed(spark,
      gen0.unionByName(deltaLog)
        .groupBy(col("o_custkey"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
        .where(col("n") > 0),
      "graft_sivm_gen1", 8, Seq("o_custkey"))
    val rebuilt = orders.where((histPred && !delPred) || insPred)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("s"))
    val cmp = gen1.as("g").join(rebuilt.as("r"), Seq("o_custkey"), "full_outer")
      .agg(min(col("g.n").isNotNull && col("r.n").isNotNull &&
        col("g.n") === col("r.n") && col("g.s") === col("r.s"))
        .as("matches_rebuild"))
    gen1.crossJoin(broadcast(cmp))
      .select(col("o_custkey"), col("n").as("n_orders"),
        col("s").cast("double").as("spend"), col("matches_rebuild"))
  }

  // ---- q285: bitemporal snapshot (as-of valid time, as-at known time) -----

  /** q285: BITEMPORAL snapshot — the warehouse question the valid-time-only
    * PIT join (q136) cannot answer: "what did we BELIEVE on date T about
    * the state valid at V?" Versions carry TWO times — valid_from (when
    * the fact held) and recorded_at (when the warehouse learned it; here
    * a deterministic late-arrival model: versions landing on a
    * day-of-month divisible by 7 arrive 10 days late). The snapshot picks,
    * per key, the latest version with valid_from ≤ V among those with
    * recorded_at ≤ T — so a late-arriving correction is INVISIBLE to
    * reports drawn before it landed, which is exactly what makes restated
    * financials reproducible. `late_masked` flags keys where the
    * valid-time-only winner had not yet arrived at T: the visible rows
    * where bitemporal and PIT semantics genuinely diverge.
    *
    * 100 TB posture: one aggregate builds the version table, two
    * partition-local window row_numbers pick winners (key-partitioned —
    * millions of tiny partitions, the best windowing shape), one
    * key-equi join compares them. No global sort, no row explosion. */
  def bitemporalSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import graft.Exact.dsum2
    val V = lit("1995-12-31").cast("timestamp")
    val T = lit("1996-01-01").cast("timestamp")
    val versions = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey").as("key"), col("o_orderdate").as("valid_from"))
      .agg(dsum2(col("o_totalprice")).as("day_spend"))
      .withColumn("recorded_at",
        when(dayofmonth(col("valid_from")) % 7 === 0,
          col("valid_from") + expr("INTERVAL 10 DAYS"))
          .otherwise(col("valid_from")))
    val wh = Window.partitionBy(col("key")).orderBy(col("valid_from").desc)
    val visible = versions
      .where(col("valid_from") <= V && col("recorded_at") <= T)
      .withColumn("rn", row_number().over(wh)).where(col("rn") === 1)
      .select(col("key"), col("valid_from"), col("day_spend"))
    val naive = versions
      .where(col("valid_from") <= V)
      .withColumn("rn", row_number().over(wh)).where(col("rn") === 1)
      .select(col("key"), col("valid_from").as("naive_from"))
    visible.join(naive, Seq("key"))
      .select(col("key"), col("valid_from"), col("day_spend"),
        when(col("naive_from") > col("valid_from"), lit(1L)).otherwise(lit(0L))
          .as("late_masked"))
  }

  private val bitemporalSnapshotSql =
    s"""WITH versions AS (
       |  SELECT o_custkey AS key, o_orderdate AS valid_from,
       |    ${graft.Exact.sqlSum2("o_totalprice")} AS day_spend,
       |    CASE WHEN day(o_orderdate) % 7 = 0
       |      THEN o_orderdate + INTERVAL 10 DAY ELSE o_orderdate END
       |      AS recorded_at
       |  FROM orders GROUP BY 1, 2),
       |visible AS (
       |  SELECT key, valid_from, day_spend FROM (
       |    SELECT key, valid_from, day_spend,
       |      row_number() OVER (PARTITION BY key ORDER BY valid_from DESC)
       |        AS rn
       |    FROM versions
       |    WHERE valid_from <= TIMESTAMP '1995-12-31'
       |      AND recorded_at <= TIMESTAMP '1996-01-01') x WHERE rn = 1),
       |naive AS (
       |  SELECT key, valid_from AS naive_from FROM (
       |    SELECT key, valid_from,
       |      row_number() OVER (PARTITION BY key ORDER BY valid_from DESC)
       |        AS rn
       |    FROM versions WHERE valid_from <= TIMESTAMP '1995-12-31') x
       |  WHERE rn = 1)
       |SELECT v.key, v.valid_from, v.day_spend,
       |  CAST(CASE WHEN n.naive_from > v.valid_from THEN 1 ELSE 0 END
       |    AS BIGINT) AS late_masked
       |FROM visible v JOIN naive n ON v.key = n.key""".stripMargin

  // ---- q287: restatement diff between two as-at times ---------------------

  /** q287: RESTATEMENT DIFF — the bitemporal family's reporting consumer:
    * "which keys' books CHANGED between what we knew at T1 and what we
    * know at T2, for the same valid date V?" Each side is a q285-style
    * snapshot (same V, different as-at), and the diff joins them
    * full-outer per key: `appeared` (no version was known at T1),
    * `restated` (the winning version changed — a late arrival landed
    * in (T1, T2]). This is the audit trail a regulator asks for: every
    * row is a report cell that silently changed between two publication
    * dates, with both values side by side. Deterministic from the q285
    * late-arrival model; window T1='1996-01-01' → T2='1996-02-01'
    * captures exactly the 10-day-late December versions.
    *
    * Same shapes as q285 (key-partitioned windows, key-equi join);
    * `spend_t1` is NULL for `appeared` rows — NULL vs 0.0 is load-bearing
    * (a key whose first version arrived late is not a restatement). */
  def restatementDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.Exact.dsum2
    val V = lit("1995-12-31").cast("timestamp")
    val versions = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey").as("key"), col("o_orderdate").as("valid_from"))
      .agg(dsum2(col("o_totalprice")).as("day_spend"))
      .withColumn("recorded_at",
        when(dayofmonth(col("valid_from")) % 7 === 0,
          col("valid_from") + expr("INTERVAL 10 DAYS"))
          .otherwise(col("valid_from")))
      .where(col("valid_from") <= V)
    val wh = Window.partitionBy(col("key")).orderBy(col("valid_from").desc)
    def asAt(t: String): DataFrame = versions
      .where(col("recorded_at") <= lit(t).cast("timestamp"))
      .withColumn("rn", row_number().over(wh)).where(col("rn") === 1)
      .select(col("key"), col("valid_from"), col("day_spend"))
    val t1 = asAt("1996-01-01")
      .select(col("key"), col("valid_from").as("from_t1"),
        col("day_spend").as("spend_t1"))
    val t2 = asAt("1996-02-01")
      .select(col("key"), col("valid_from").as("from_t2"),
        col("day_spend").as("spend_t2"))
    t2.join(t1, Seq("key"), "left")
      .where(col("from_t1").isNull || col("from_t1") =!= col("from_t2"))
      .select(col("key"),
        when(col("from_t1").isNull, lit("appeared"))
          .otherwise(lit("restated")).as("kind"),
        col("spend_t1"), col("spend_t2"))
  }

  private val restatementDiffSql =
    s"""WITH versions AS (
       |  SELECT o_custkey AS key, o_orderdate AS valid_from,
       |    ${graft.Exact.sqlSum2("o_totalprice")} AS day_spend,
       |    CASE WHEN day(o_orderdate) % 7 = 0
       |      THEN o_orderdate + INTERVAL 10 DAY ELSE o_orderdate END
       |      AS recorded_at
       |  FROM orders
       |  WHERE o_orderdate <= TIMESTAMP '1995-12-31'
       |  GROUP BY 1, 2),
       |t1 AS (
       |  SELECT key, valid_from AS from_t1, day_spend AS spend_t1 FROM (
       |    SELECT key, valid_from, day_spend,
       |      row_number() OVER (PARTITION BY key ORDER BY valid_from DESC)
       |        AS rn
       |    FROM versions WHERE recorded_at <= TIMESTAMP '1996-01-01') x
       |  WHERE rn = 1),
       |t2 AS (
       |  SELECT key, valid_from AS from_t2, day_spend AS spend_t2 FROM (
       |    SELECT key, valid_from, day_spend,
       |      row_number() OVER (PARTITION BY key ORDER BY valid_from DESC)
       |        AS rn
       |    FROM versions WHERE recorded_at <= TIMESTAMP '1996-02-01') x
       |  WHERE rn = 1)
       |SELECT t2.key,
       |  CASE WHEN from_t1 IS NULL THEN 'appeared' ELSE 'restated' END
       |    AS kind,
       |  spend_t1, spend_t2
       |FROM t2 LEFT JOIN t1 ON t2.key = t1.key
       |WHERE from_t1 IS NULL OR from_t1 <> from_t2""".stripMargin

  // ---- q280: replica-drift audit via order-independent checksums ----------

  /** q280: the ANTI-ENTROPY primitive for a replicated/derived warehouse —
    * compare two copies of a table WITHOUT moving or joining rows: one
    * scan per side folds every row into a per-bucket (count, Σ row-hash)
    * pair, and buckets whose pairs disagree localize the drift for
    * targeted repair (the Merkle-tree idea flattened to one level, which
    * is the right shape for a shuffle engine: 256 bucket rows per side
    * regardless of table size, so the compare join is metadata-sized).
    * The row hash is the md5-derived int64 used by the dedup family
    * (identical in Spark and DuckDB); the checksum is order-independent
    * because addition commutes — no sort anywhere. Buckets are keyed by
    * the PRIMARY KEY's hash, not the content hash — the load-bearing
    * choice: an UPDATE then stays in its bucket and surfaces as a
    * checksum mismatch at equal counts, while bucketing by content
    * would scatter old/new versions into two count-off-by-one buckets
    * and turn every update into two false "missing row" signals. The
    * "replica" is the base table with a deterministic fault injection
    * (rows deleted where o_orderkey % 997 = 0, status corrupted where
    * % 991 = 0), so the expected drift is derivable by the oracle from
    * the same tables.
    *
    * 100 TB posture: two parquet scans with map-side partial aggregation
    * into ≤256 rows each — the cheapest possible replica comparison; no
    * row ever crosses the network (only 32-byte bucket summaries).
    * Checksums accumulate in DECIMAL(38,0) (row hash < 2^31, so 38
    * digits hold >10^28 rows per bucket); outputs are counts (int64-safe
    * at any scale) and a 0/1 drift flag — the decimal sums are compared,
    * never differenced into an int64. */
  /** (o_orderkey, bucket, h) per order row: bucket from the PRIMARY KEY's
    * hash (updates stay in-bucket), h the full-row content hash. ONE
    * definition shared by the batch audit sides (q280/q281) and the
    * streaming audit twin (q286) — the q191 can't-drift discipline. */
  private[graft] def orderRowHashes(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val P = 2147483647L
    raw.select(col("o_orderkey"),
      (conv(substring(md5(col("o_orderkey").cast("string")), 1, 15),
        16, 10).cast("long") % P % 256L).as("bucket"),
      (conv(substring(md5(concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long"))),
        1, 15), 16, 10).cast("long") % P).as("h"))
  }

  /** Both replica-audit sides as (o_orderkey, bucket, h) rows. Shared by
    * q280 (summaries) and q281 (repair). */
  private def replicaSides(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // two md5s per row fuse onto this scan, and q281 derives FOUR sides
    // from it (measured 4× ~0.5 s single-task jobs on the unsplittable
    // single-file input) — rebalance once here (guide §2.5, no-op on
    // multi-split inputs)
    val raw = Tables.spread(spark, dir, "orders",
      Tables(spark, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice")))
    val replicaRaw = raw
      .where(col("o_orderkey") % 997L =!= 0L)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 991L === 0L, lit("X"))
          .otherwise(col("o_orderstatus")))
    (orderRowHashes(raw), orderRowHashes(replicaRaw))
  }

  private def driftSummary(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (base, replica) = replicaSides(spark, dir)
    def summarize(side: DataFrame, cnt: String, chk: String): DataFrame =
      side.groupBy(col("bucket"))
        .agg(count(lit(1)).as(cnt),
          sum(col("h").cast(DecimalType(38, 0))).as(chk))
    summarize(base, "cnt_base", "chk_base")
      .join(summarize(replica, "cnt_repl", "chk_repl"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("cnt_base"), lit(0L)).as("cnt_base"),
        coalesce(col("cnt_repl"), lit(0L)).as("cnt_repl"),
        when(col("cnt_base") <=> col("cnt_repl")
          && col("chk_base") <=> col("chk_repl"), lit(0L)).otherwise(lit(1L))
          .as("drift"))
  }

  def replicaDrift(spark: SparkSession, dir: String): DataFrame =
    driftSummary(spark, dir)

  // ---- q281: targeted repair — row diff pruned to drifted buckets ---------

  /** q281: the REPAIR step the q280 audit exists for — emit exactly the
    * rows that differ between the two copies, touching only the buckets
    * the audit flagged. The Spark plan semi-joins each side against the
    * broadcast ≤256-row drifted-bucket list BEFORE the row-level
    * full-outer compare, so row movement is proportional to the DRIFTED
    * fraction of the table, not its size (the Merkle-repair shape: at
    * 100 TB with localized damage, the compare join reads a few buckets,
    * not the table). The ORACLE computes the direct unpruned diff — so
    * every run re-proves the bucket pruning lost no differing row (a
    * differing row always drifts its bucket's count or checksum; the
    * astronomically-unlikely escape is a bucket whose hash-sum AND count
    * both collide, and the oracle would catch exactly that).
    * Classification is total: `missing` (in base only), `phantom` (in
    * replica only), `altered` (both, content differs). */
  def replicaRepair(spark: SparkSession, dir: String): DataFrame = {
    val (base, replica) = replicaSides(spark, dir)
    val drifted = driftSummary(spark, dir)
      .where(col("drift") === 1L).select(col("bucket"))
    def pruned(side: DataFrame, h: String): DataFrame =
      side.join(broadcast(drifted), Seq("bucket"), "left_semi")
        .select(col("o_orderkey"), col("h").as(h))
    pruned(base, "h_b")
      .join(pruned(replica, "h_r"), Seq("o_orderkey"), "full_outer")
      .where(col("h_b").isNull || col("h_r").isNull
        || col("h_b") =!= col("h_r"))
      .select(col("o_orderkey"),
        when(col("h_r").isNull, lit("missing"))
          .when(col("h_b").isNull, lit("phantom"))
          .otherwise(lit("altered")).as("kind"))
  }

  private val replicaRepairSql =
    """WITH rows_b AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |rows_r AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 991 = 0 THEN 'X' ELSE o_orderstatus END
      |      AS o_orderstatus, cents
      |  FROM rows_b WHERE o_orderkey % 997 <> 0),
      |hb AS (SELECT o_orderkey,
      |  (('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
      |    o_orderstatus, cents)), 1, 15))::BIGINT % 2147483647) AS h
      |  FROM rows_b),
      |hr AS (SELECT o_orderkey,
      |  (('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
      |    o_orderstatus, cents)), 1, 15))::BIGINT % 2147483647) AS h
      |  FROM rows_r)
      |SELECT coalesce(hb.o_orderkey, hr.o_orderkey) AS o_orderkey,
      |  CASE WHEN hr.h IS NULL THEN 'missing'
      |       WHEN hb.h IS NULL THEN 'phantom'
      |       ELSE 'altered' END AS kind
      |FROM hb FULL OUTER JOIN hr ON hb.o_orderkey = hr.o_orderkey
      |WHERE hb.h IS NULL OR hr.h IS NULL OR hb.h <> hr.h""".stripMargin

  /** The batch base-side bucket summary — the oracle that grades q286's
    * streaming twin (and the base half of q280's own oracle). */
  private[graft] val driftBaseSummarySql =
    """WITH rows_b AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |hb AS (SELECT
      |  (('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
      |    % 2147483647 % 256) AS bucket,
      |  (('0x' || substr(md5(concat_ws('|', o_orderkey,
      |  o_custkey, o_orderstatus, cents)), 1, 15))::BIGINT % 2147483647)
      |  AS h FROM rows_b)
      |SELECT bucket, count(*) AS cnt_base,
      |  CAST(sum(h::HUGEINT) AS BIGINT) AS chk_base
      |FROM hb GROUP BY 1""".stripMargin

  private val replicaDriftSql =
    """WITH rows_b AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |rows_r AS (
      |  SELECT o_orderkey, o_custkey,
      |    CASE WHEN o_orderkey % 991 = 0 THEN 'X' ELSE o_orderstatus END
      |      AS o_orderstatus, cents
      |  FROM rows_b WHERE o_orderkey % 997 <> 0),
      |hb AS (SELECT
      |  (('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
      |    % 2147483647 % 256) AS bucket,
      |  (('0x' || substr(md5(concat_ws('|', o_orderkey,
      |  o_custkey, o_orderstatus, cents)), 1, 15))::BIGINT % 2147483647)
      |  AS h FROM rows_b),
      |hr AS (SELECT
      |  (('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT
      |    % 2147483647 % 256) AS bucket,
      |  (('0x' || substr(md5(concat_ws('|', o_orderkey,
      |  o_custkey, o_orderstatus, cents)), 1, 15))::BIGINT % 2147483647)
      |  AS h FROM rows_r),
      |sb AS (SELECT bucket, count(*) AS cnt_base,
      |  sum(h::HUGEINT) AS chk_base FROM hb GROUP BY 1),
      |sr AS (SELECT bucket, count(*) AS cnt_repl,
      |  sum(h::HUGEINT) AS chk_repl FROM hr GROUP BY 1)
      |SELECT coalesce(sb.bucket, sr.bucket) AS bucket,
      |  coalesce(cnt_base, 0) AS cnt_base,
      |  coalesce(cnt_repl, 0) AS cnt_repl,
      |  CAST(CASE WHEN cnt_base IS NOT DISTINCT FROM cnt_repl
      |    AND chk_base IS NOT DISTINCT FROM chk_repl THEN 0 ELSE 1 END
      |    AS BIGINT) AS drift
      |FROM sb FULL OUTER JOIN sr ON sb.bucket = sr.bucket""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q280_replica_drift", replicaDrift, Some(replicaDriftSql)),
    QueryDef("q281_replica_repair", replicaRepair, Some(replicaRepairSql)),
    QueryDef("q285_bitemporal", bitemporalSnapshot, Some(bitemporalSnapshotSql)),
    QueryDef("q287_restatement_diff", restatementDiff, Some(restatementDiffSql)),
    QueryDef("q216_matview_lifecycle", matviewLifecycle, Some(matviewLifecycleSql)),
    QueryDef("q313_matview_rollup", matviewRollup, Some(matviewRollupSql)),
    QueryDef("q326_matview_rollup_avg", matviewRollupAvg,
      Some(matviewRollupAvgSql)),
    QueryDef("q342_matview_sketch_cd", matviewSketchRollup,
      Some(matviewSketchRollupSql)),
    QueryDef("q222_ivm_delta", ivmDelta, Some(ivmDeltaSql)),
    QueryDef("q223_stream_ivm", streamIvm, Some(ivmDeltaSql)),
    QueryDef("q213_partition_refresh", partitionRefresh, Some(partitionRefreshSql)),
    QueryDef("q215_compaction", compaction, Some(compactionSql)),
    QueryDef("q188_scd2_merge", scd2Merge, Some(
      s"""SELECT key, valid_from, day_spend,
         |  lead(valid_from) OVER (PARTITION BY key ORDER BY valid_from)
         |    AS valid_to,
         |  CAST(CASE WHEN lead(valid_from) OVER (
         |    PARTITION BY key ORDER BY valid_from) IS NULL
         |    THEN 1 ELSE 0 END AS BIGINT) AS is_current
         |FROM (
         |  SELECT o_custkey AS key, o_orderdate AS valid_from,
         |    ${graft.Exact.sqlSum2("o_totalprice")} AS day_spend
         |  FROM orders GROUP BY 1, 2) d""".stripMargin)),
    QueryDef("q147_path_trigrams", pathTrigrams, Some(pathTrigramsSql)),
    QueryDef("q136_scd2_pit", scd2PointInTime, Some(
      """WITH d AS (
        |  SELECT key, valid_from, day_spend,
        |    lead(valid_from) OVER (PARTITION BY key ORDER BY valid_from)
        |      AS valid_to
        |  FROM (
        |    SELECT o_custkey AS key, o_orderdate AS valid_from,
        |      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |        AS day_spend
        |    FROM orders GROUP BY 1, 2) v)
        |SELECT e.event_id, e.user_id, d.valid_from AS version_day,
        |  d.day_spend AS version_spend
        |FROM events e LEFT JOIN d
        |  ON e.user_id = d.key AND e.ts >= d.valid_from
        |    AND (d.valid_to IS NULL OR e.ts < d.valid_to)""".stripMargin)),
    QueryDef("q137_cdc_compact", cdcCompact, Some(
      """SELECT user_id, last_ts, last_value FROM (
        |  SELECT user_id, ts AS last_ts, value AS last_value,
        |    CASE WHEN event_type = 'error' THEN 'delete'
        |      ELSE 'upsert' END AS op,
        |    row_number() OVER (
        |      PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) s
        |WHERE rn = 1 AND op = 'upsert'""".stripMargin)),
    QueryDef("q138_peak_concurrency", peakConcurrency, Some(
      """WITH b AS (
        |  SELECT ts AS t, CAST(1 AS BIGINT) AS delta, event_id FROM events
        |  UNION ALL
        |  SELECT ts + INTERVAL 300 SECOND, CAST(-1 AS BIGINT), event_id
        |  FROM events),
        |c AS (
        |  SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
        |    sum(delta) OVER (ORDER BY t, delta, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM b)
        |SELECT day, CAST(max(conc) AS BIGINT) AS peak_concurrency
        |FROM c GROUP BY day""".stripMargin)),
    QueryDef("q139_transitions", eventTransitions, Some(
      """WITH s AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS from_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, event_type AS to_type, count(*) AS n
        |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST((n * 1000000) // CAST(sum(n) OVER (
        |    PARTITION BY from_type) AS BIGINT) AS BIGINT) AS p_ppm
        |FROM c""".stripMargin)))
}
