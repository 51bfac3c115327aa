package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The events loader must normalize `ts` to `TimestampType` with identical
  * VALUES no matter how the producer wrote the column. Three shapes have
  * shipped in `/root/testdata` history:
  *
  *   - legacy parquet TIMESTAMP(NANOS) → nanosAsLong → `LongType` of nanos
  *   - native `timestamp[us]` (isAdjustedToUTC=false) → `TIMESTAMP_NTZ`
  *   - `timestamp[us]` (isAdjustedToUTC=true) → `TimestampType`
  *
  * A driver-side regeneration flipped nanos→micros between rounds 6 and 7
  * and killed 31 queries at analysis time because the loader assumed one
  * shape; this spec stages the SAME data in all three shapes and asserts
  * the loader — batch and streaming — yields identical results for each,
  * so the next schema drift fails here instead of in production.
  */
class LoaderSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val rows = Seq(
    (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 7L, "view", 1.5, "{}"),
    (2L, Timestamp.valueOf("2024-01-01 10:30:00"), 7L, "click", 2.5, "{}"),
    (3L, Timestamp.valueOf("2024-01-02 09:00:00"), 8L, "view", 3.5, "{}"))

  private def base: DataFrame =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  private def shaped(shape: String): DataFrame = shape match {
    case "nanos" => base.withColumn("ts",
      (col("ts").cast("long") * 1000000000L).cast(LongType))
    case "ntz" => base.withColumn("ts", col("ts").cast(TimestampNTZType))
    case "ltz" => base // TimestampType as written
  }

  /** Write the fixture with `ts` in one of the three shapes. */
  private def stage(shape: String): String = {
    val d = Files.createTempDirectory(s"loaderspec_$shape")
    shaped(shape).write.mode("overwrite").parquet(s"$d/events.parquet")
    d.toString
  }

  private val shapes = Seq("nanos", "ntz", "ltz")

  test("batch loader normalizes all three ts shapes to identical TimestampType rows") {
    val loaded = shapes.map { s =>
      val df = Tables(spark, stage(s), "events")
      assert(df.schema("ts").dataType == TimestampType, s"shape=$s")
      s -> df.orderBy("event_id").collect().map(_.toSeq).toSeq
    }.toMap
    assert(loaded("nanos") == loaded("ntz"), "nanos vs ntz")
    assert(loaded("ntz") == loaded("ltz"), "ntz vs ltz")
    // and the values are the staged instants, not compressed/stretched
    assert(loaded("ntz").head(1) == Timestamp.valueOf("2024-01-01 10:00:00"))
  }

  test("streaming source resolves its schema from the files and matches batch for both shapes") {
    Seq("nanos", "ntz").foreach { s =>
      val staged = stage(s)
      // point the stream at the directory OF part files (production shape)
      val dir = s"$staged/events.parquet"
      val stream = EventStreams.readEventsStream(spark, dir)
      assert(stream.schema("ts").dataType == TimestampType, s"shape=$s")
      val name = s"loader_$s"
      val q = stream.writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val streamed = spark.table(name).orderBy("event_id")
        .collect().map(_.toSeq).toSeq
      val batch = Tables(spark, staged, "events").orderBy("event_id")
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch, s"shape=$s")
      assert(batch.nonEmpty)
    }
  }

  /** Like [[stage]] but with `events.parquet` as ONE FILE holding ALL rows
    * (the driver's testdata layout, which the bounded-run harness
    * `Files.copy`s). */
  private def stageSingleFile(shape: String): String = {
    import scala.jdk.CollectionConverters._
    val scratch = Files.createTempDirectory(s"loaderspec_w_$shape")
    shaped(shape).coalesce(1).write.parquet(s"$scratch/w")
    val part = Files.list(scratch.resolve("w")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val flat = Files.createTempDirectory(s"loaderspec_file_$shape")
    Files.copy(part, flat.resolve("events.parquet"))
    flat.toString
  }

  test("q163's bounded run incl. its watermark-flush sentinel is shape-invariant") {
    // the flush sentinel is constructed in the source's RAW ts shape
    // (nanos-long arithmetic vs timestamp interval) — a drifted testdata
    // regeneration must flow through BOTH branches identically
    val results = Seq("nanos", "ntz").map { s =>
      s -> EventStreams.idleSessionStreamRun(spark, stageSingleFile(s))
        .collect().map(_.toSeq).toSet
    }.toMap
    assert(results("nanos") == results("ntz"))
    // 10:00+10:30 is EXACTLY the 30-min gap — not > gap, so one session
    assert(results("ntz") == Set(
      Seq(7L, 2L, Timestamp.valueOf("2024-01-01 10:00:00").getTime,
        Timestamp.valueOf("2024-01-01 10:30:00").getTime),
      Seq(8L, 1L, Timestamp.valueOf("2024-01-02 09:00:00").getTime,
        Timestamp.valueOf("2024-01-02 09:00:00").getTime)), results("ntz"))
  }

  test("a representative events query is shape-invariant end-to-end") {
    // q137's CDC compaction touches ordering, tie-breaks, and grouping on
    // ts — if any shape shifted values 1000x this comparison explodes.
    val results = Seq("nanos", "ntz").map { s =>
      graft.queries.Temporal.cdcCompact(spark, stage(s))
        .collect().map(_.toSeq).toSet
    }
    assert(results.head == results.last)
    assert(results.head.nonEmpty)
  }

  test("spread gate: a single-file scan is rebalanced to the cores, a split one is not") {
    import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
    val path = s"${TestSpark.sf}/orders.parquet"
    val df = spark.read.parquet(path)
    val cores = spark.sparkContext.defaultParallelism
    assert(cores == 4)
    // one file under the default 128m split: one scan task for 4 cores
    Tables.spreadPath(spark, path, df).queryExecution.logical match {
      case Repartition(n, true, _) => assert(n == cores)
      case p => fail(s"spreadPath did not rebalance:\n$p")
    }
    Tables.spreadBy(spark, TestSpark.sf, "orders", df, col("o_orderkey"))
      .queryExecution.logical match {
      case r: RepartitionByExpression => assert(r.optNumPartitions.contains(cores))
      case p => fail(s"spreadBy did not rebalance:\n$p")
    }
    // a split size of a quarter of the file gives the scan as many tasks
    // as cores: both return the frame itself
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    val bytes = Files.size(java.nio.file.Paths.get(path))
    try {
      spark.conf.set(key, (bytes / cores).toString)
      assert(Tables.spreadPath(spark, path, df) eq df)
      assert(Tables.spreadBy(spark, TestSpark.sf, "orders", df, col("o_orderkey")) eq df)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
