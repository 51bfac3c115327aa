package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver's parquet tables (TESTDATA.md). Every query takes
  * the scale-factor directory as a parameter so identical code runs at
  * sf0.001 (smoke), sf0.01 (oracle), sf0.1 (bench) — and, unchanged, on a
  * cluster path at any scale: `spark.read.parquet` yields a splittable,
  * column-pruned, filter-pushed scan regardless of file size.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else readCachedSchema(spark, s"$dir/$name.parquet")

  /** Schema-inference cache for the driver's parquet inputs: every
    * `spark.read.parquet(path)` without an explicit schema pays a footer
    * -inference Spark JOB at plan time — measured ~0.1 s of job + driver
    * gap per call at local[32], times 350+ table loads per bench pass
    * (guide §1/§7.2: fixed driver overhead repeated per query). The
    * schema of an input directory is a pure function of its files, so
    * cache it keyed by (path, file fingerprint) — any rewrite of the
    * directory (new file set, length, or mtime) misses and re-infers.
    * Data reads are NOT cached; only the StructType. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, Long, Long)]),
      org.apache.spark.sql.types.StructType]()

  /** Recursive (name, len, mtime) listing of a file or directory tree —
    * partition subdirectories included, so rewriting a file nested under
    * `dt=.../` invalidates any cache keyed on this. Names are
    * root-relative so two trees with identical content fingerprint
    * identically only at the same path depth. */
  private[graft] def fingerprint(spark: SparkSession,
      path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: org.apache.hadoop.fs.FileStatus,
        prefix: String): Seq[(String, Long, Long)] =
      if (st.isFile)
        Seq((prefix + st.getPath.getName, st.getLen, st.getModificationTime))
      else fs.listStatus(st.getPath)
        .filter(s => !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .flatMap(s => walk(s, prefix + st.getPath.getName + "/")).toSeq
    walk(fs.getFileStatus(p), "").sortBy(_._1)
  }

  private def readCachedSchema(spark: SparkSession, path: String): DataFrame = {
    val key = (path, fingerprint(spark, path))
    val cached = schemaCache.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(key, df.schema)
      df
    }
  }

  /** Rebalance a SMALL-SCAN input before CPU-heavy per-row expansion —
    * guide §2.5's input-skew fix ("one huge unsplittable file …
    * repartition immediately after the read"). The bench inputs are
    * single-file single-row-group parquet, so every scan is ONE task no
    * matter how many cores the session has; an expansion stage fused
    * onto that scan (pair generation, Expand-distinct, tokenize) then
    * runs 1-of-N-cores — measured 3.4 s single-task on q179's pair pass
    * at local[32].
    *
    * The gate is the planner's own split math (input bytes /
    * maxPartitionBytes) against the session's core count: it fires only
    * when the scan CANNOT reach the session parallelism, i.e. exactly
    * the local small-file layout. On a production multi-file input the
    * estimate exceeds the core count and `df` is returned untouched —
    * no exchange node is ever added to a plan that scans at scale, so
    * this is never a full-table shuffle at 100 TB. Callers must project
    * FIRST (guide §2.3: shuffle only the needed columns).
    *
    * Determinism: round-robin repartition with Spark's default
    * sort-before-repartition; every registered consumer is
    * partition-count-invariant (the Verify gate re-proves it at 3 and 8
    * cores), so results are unchanged. */
  def spread(spark: SparkSession, dir: String, name: String,
      df: DataFrame): DataFrame =
    spreadPath(spark, s"$dir/$name.parquet", df)

  /** Keyed variant of [[spread]] for CPU-heavy EXPANSION stages fed by a
    * shuffle (grouped pair generation): AQE coalesces post-shuffle
    * partitions by BYTES, but an expansion stage's cost is quadratic in
    * group size, so on a small local input the whole Σ group² expansion
    * lands on 2-3 tasks. A user-specified keyed exchange to the session
    * parallelism pins the stage's task count (exempt from AQE
    * coalescing) AND satisfies the downstream groupBy/join distribution,
    * so no second exchange appears. Same gate as [[spread]]: fires only
    * when the SOURCE scan cannot reach session parallelism — on a
    * production multi-split input `df` is returned untouched, so this
    * never forces a cores-sized partition count at 100 TB. */
  def spreadBy(spark: SparkSession, dir: String, name: String,
      df: DataFrame, keys: Column*): DataFrame =
    spreadTarget(spark, s"$dir/$name.parquet").fold(df)(df.repartition(_, keys: _*))

  /** [[spread]] for any file/directory input — including a staged
    * bounded-stream source dir, where the same single-file layout makes
    * every micro-batch's map stage one task. Works on streaming frames
    * (the exchange is stateless and order-free consumers are unaffected). */
  def spreadPath(spark: SparkSession, path: String, df: DataFrame): DataFrame =
    spreadTarget(spark, path).fold(df)(df.repartition(_))

  /** The gate of [[spread]]: the session's core count when the planner's
    * split math (input bytes / maxPartitionBytes) gives a scan of `path`
    * fewer tasks than cores, else None. */
  private def spreadTarget(spark: SparkSession, path: String): Option[Int] = {
    val bytes = fingerprint(spark, path).map(_._2).sum
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val cores = spark.sparkContext.defaultParallelism
    val plannedTasks = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
    if (plannedTasks < cores) Some(cores) else None
  }

  /** Normalize an `events.ts` column to `TimestampType` regardless of how
    * the producer wrote it. Three shapes exist in the wild:
    *
    *  - parquet TIMESTAMP(NANOS): Spark has no nanos type, so with
    *    `spark.sql.legacy.parquet.nanosAsLong` the column arrives as a
    *    `LongType` of nanoseconds — truncate to micros (matching DuckDB's
    *    nanos->micros truncation) and convert.
    *  - parquet timestamp[us] (isAdjustedToUTC=false): Spark resolves it as
    *    `TIMESTAMP_NTZ`. Under the UTC session timezone a cast to
    *    `TimestampType` is value-preserving (same micros), and keeps every
    *    downstream consumer on the single timestamp flavor the engine and
    *    its oracles were built against.
    *  - already `TimestampType`: pass through.
    *
    * Branching on the RESOLVED type (not an assumed file layout) means a
    * producer-side schema change is absorbed here once instead of breaking
    * 35 consumers at analysis time.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val tsCol: Column = df.schema("ts").dataType match {
      case LongType         => timestamp_micros(expr("ts div 1000"))
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected nanos-long, " +
          "TIMESTAMP_NTZ, or TIMESTAMP")
    }
    df.withColumn("ts", tsCol)
  }

  /** Session conf every graft entry point must carry: the legacy
    * nanos-as-long parquet read (a no-op for files that don't use
    * TIMESTAMP(NANOS) — without it Spark REJECTS such files at scan
    * planning). Set once at session construction ([[Verify]], [[Bench]],
    * [[Driver]], [[SparkEntry.entry]], the test harness) so loaders stay
    * side-effect-free. */
  val sessionConf: Map[String, String] =
    Map("spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** `events` loader: normalize `ts` by its resolved type via
    * [[normalizeTs]]. Assumes [[sessionConf]] was applied at session
    * construction (all graft entry points do). */
  private def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(readCachedSchema(spark, s"$dir/events.parquet"))
}
