package graft.queries

import graft.{QueryDef, Tables}
import graft.Exact.{dsum2, sqlSum2}
import graft.sources.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level table mutation — the lakehouse primitives (MERGE INTO,
  * predicate DELETE, streaming CDC apply) over a plain parquet layout,
  * implemented COPY-ON-WRITE with statistics-pruned file rewrites.
  *
  * The reference's only mutation story is "rewrite the whole output"
  * (`ReduceRunner.java:113-122` commits a full file per reducer); every
  * table format since has converged on the same answer at scale: cluster
  * the table by its key, keep per-file key statistics, and rewrite ONLY
  * the files a change batch can possibly touch. This module closes the
  * warehouse-maintenance family (q213 partition refresh, q215 compaction,
  * q218 vacuum, q222 IVM) with the missing member: KEYED row mutation.
  *
  * Mechanics shared by all three entries:
  *  - the base table is written clustered by key (`repartitionByRange`),
  *    so each file owns a key interval;
  *  - a change batch's AFFECTED FILES are found by range-joining the
  *    |files|-row zone map (min/max key per file, one aggregate pass)
  *    against the change keys — the zone test is conservative (a covering
  *    file is rewritten even if the key is absent) and therefore sound;
  *  - the rewrite reads ONLY affected files, applies the row operations,
  *    stages the result off the table (`localCheckpoint` — the q215
  *    self-insert discipline), deletes the replaced files, and appends
  *    the new ones; untouched files are never opened, let alone
  *    rewritten — the `history_untouched` gate pins them bit-identical
  *    by (path, length, mtime) snapshot, and `pruned` pins that strictly
  *    fewer than all files were rewritten.
  *
  * At 100 TB: the zone map is |files| rows (driver-scale); affected-file
  * discovery is one broadcast join of the zone frame against the change
  * batch; rewrite cost is O(affected slice), not O(table). Single-writer
  * per table, the documented warehouse contract (SURVEY §7.10); readers
  * between the delete and the append of one commit see a partial table —
  * the same window every manifest-less parquet directory has. The
  * SNAPSHOT-NATIVE tier below ([[mutateSnapshot]], q308; its SQL
  * counterpart is the `graft.<t>` catalog) closes exactly that window:
  * the same rewrite economics published through
  * [[graft.sources.SnapshotStore]]'s atomic manifest commit with OCC
  * retry — q288-q290 remain as the bare-directory REWRITE-economics
  * demos.
  */
object Lakehouse {

  // ---- shared copy-on-write machinery --------------------------------------
  //
  // All file plumbing goes through the Hadoop FileSystem API resolved from
  // the layout path itself, so the COW machinery targets any scheme the
  // rest of the engine does (file:, hdfs:, object stores with an HCFS
  // connector) — not just the local filesystem.

  private def fsOf(spark: SparkSession,
      p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listDataFiles(spark: SparkSession,
      layout: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(layout)
    fsOf(spark, p).listStatus(p).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** The orders table clustered by `o_orderkey` into ~8 files (each file
    * owns a key interval — the precondition every stats-pruned mutation
    * shares with q125's z-order clustering), in a fresh mutable temp
    * layout. The COW entries (q288/q289/q290) mutate their copy in place,
    * so the layout is a [[Memo.fixture]] cloned per run by a plain file
    * copy: it has no manifest to rewrite. */
  private def writeClustered(spark: SparkSession, dir: String): String =
    Memo.fixture("cow_orders", spark, dir, copyFiles) { layout =>
      Tables(spark, dir, "orders")
        .repartitionByRange(8, col("o_orderkey"))
        .write.mode("append").parquet(layout)
    }._1

  private def copyFiles(spark: SparkSession, src: String, dst: String): Unit = {
    import java.nio.file.{Files, Paths}
    val s = Files.list(Paths.get(src))
    try s.forEach { p =>
      if (!Files.isDirectory(p))
        Files.copy(p, Paths.get(dst, p.getFileName.toString))
    } finally s.close()
  }

  /** Per-file [min, max] of LONG column `key`, read from the parquet
    * FOOTER statistics — the zone map without a table scan, which is what
    * a manifest-backed format records at commit time (guide §6: stats
    * belong in metadata; re-deriving them scans the table once per
    * mutation). Returns None when any footer lacks usable INT64 stats
    * (callers fall back to the one-aggregate scan). A file whose key
    * column is all-null (or empty) contributes no zone row — exactly the
    * scan edition's behavior, where null bounds fail every join
    * predicate. Footer min/max for INT64 are exact (no truncation), so
    * the admissibility sets are identical to the scan's. */
  private def footerZones(spark: SparkSession, files: Seq[String],
      key: String): Option[Seq[(String, Long, Long)]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      Some(files.flatMap { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          var lo = Long.MaxValue; var hi = Long.MinValue; var any = false
          r.getFooter.getBlocks.forEach { b =>
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == key) {
                val st = c.getStatistics
                if (st == null || st.isEmpty)
                  throw new IllegalStateException(s"no stats: $f/$key")
                if (st.hasNonNullValue) st match {
                  case ls: org.apache.parquet.column.statistics.LongStatistics =>
                    lo = math.min(lo, ls.getMin); hi = math.max(hi, ls.getMax)
                    any = true
                  case other => throw new IllegalStateException(
                    s"non-INT64 stats ${other.getClass.getSimpleName}: $f/$key")
                }
              }
            }
          }
          if (any) Seq((f, lo, hi)) else Nil
        } finally r.close()
      })
    } catch { case _: Exception => None }
  }

  /** The zone map as a DataFrame: footer statistics when available (a
    * LocalTableScan — no file read beyond footers), else the one
    * -aggregate scan. */
  private def zonesOf(spark: SparkSession, files: Seq[String],
      key: String): DataFrame =
    footerZones(spark, files, key) match {
      case Some(rows) => spark.createDataFrame(rows).toDF("file", "lo", "hi")
      case None =>
        spark.read.parquet(files: _*)
          .groupBy(input_file_name().as("file"))
          .agg(min(col(key)).as("lo"), max(col(key)).as("hi"))
    }

  private def normName(s: String): String =
    new org.apache.hadoop.fs.Path(s).getName

  /** `input_file_name()` reports `file:` URIs while manifests carry plain
    * paths — normalize both to the URI path for set comparisons. */
  private[graft] def normPath(s: String): String =
    new org.apache.hadoop.fs.Path(s).toUri.getPath

  /** Run a rewrite `step` — the same (affected files, replacement, extra
    * rows) derivation the snapshot tier commits through [[mutateSnapshot]]
    * — over the bare directory's listed files, and apply it with
    * [[commitRewrite]]. Returns (pruned, historyUntouched). */
  private def rewriteLayout(spark: SparkSession, layout: String)(
      step: Seq[String] => (Seq[String], Option[DataFrame], Option[DataFrame]))
      : (Boolean, Boolean) = {
    val (affected, replacement, extra) =
      step(listDataFiles(spark, layout).map(_.getPath.toString))
    commitRewrite(spark, layout, affected, replacement, extra)
  }

  /** Apply a copy-on-write rewrite: replace `affected` files with
    * `newContent` (staged off the table first), append `extra` rows as
    * new files, and return (pruned, historyUntouched). */
  private def commitRewrite(spark: SparkSession, layout: String,
      affected: Seq[String], newContent: Option[DataFrame],
      extra: Option[DataFrame]): (Boolean, Boolean) = {
    val f = fsOf(spark, new org.apache.hadoop.fs.Path(layout))
    def signatures(ss: Seq[org.apache.hadoop.fs.FileStatus]) =
      ss.map(s => s.getPath.getName ->
        ((s.getLen, s.getModificationTime))).toMap
    val all = listDataFiles(spark, layout)
    val affectedNames = affected.map(normName).toSet
    val untouchedBefore =
      signatures(all.filterNot(s => affectedNames(s.getPath.getName)))
    val pruned = affected.nonEmpty && affected.size < all.size
    // stage BEFORE deleting the files the content was read from
    val staged = newContent.map(_.localCheckpoint())
    val extraStaged = extra.map(_.localCheckpoint())
    all.filter(s => affectedNames(s.getPath.getName))
      .foreach(s => f.delete(s.getPath, false))
    staged.foreach(_.write.mode("append").parquet(layout))
    extraStaged.foreach(_.write.mode("append").parquet(layout))
    val after = signatures(listDataFiles(spark, layout))
    val untouched = untouchedBefore.forall { case (n, sig) =>
      after.get(n).contains(sig)
    }
    (pruned, untouched)
  }

  /** The largest `o_orderkey` of the bare directory `layout`: from the
    * footer zone map when every file carries stats (no Spark job), else
    * one aggregate scan. */
  private def maxKey(spark: SparkSession, layout: String): Long =
    footerZones(spark, listDataFiles(spark, layout).map(_.getPath.toString),
      "o_orderkey").flatMap(_.map(_._3).maxOption).getOrElse(
      spark.read.parquet(layout).agg(max(col("o_orderkey"))).head().getLong(0))

  // ---- q288: MERGE INTO, copy-on-write, stats-pruned -----------------------

  /** q288: MERGE — the full three-way contract over the orders table:
    * WHEN MATCHED [range, key%3=0] UPDATE (price += 1, priority tagged),
    * WHEN MATCHED [range, key%3=1] DELETE,
    * WHEN NOT MATCHED [range, key%3=2 re-keyed out of domain] INSERT.
    * The change batch targets ONE key decile ([max/2, max/2 + max/10]),
    * so the clustered layout localizes every matched row to 1-2 of the 8
    * files — `pruned` pins that the other files were not rewritten, the
    * oracle (the same merge in SQL) pins that no row was lost, duplicated,
    * or half-updated, and `history_untouched` pins the untouched files
    * bit-identical. Updates are exact by the dsum2 argument: price is a
    * raw 2-dp double, +1.0 is the identical IEEE op in both engines. */
  def cowMerge(spark: SparkSession, dir: String): DataFrame = {
    val layout = writeClustered(spark, dir)
    val (pruned, untouched) =
      rewriteLayout(spark, layout)(mergeStep(spark, maxKey(spark, layout)))
    spark.read.parquet(layout)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"),
        sum(when(col("o_orderpriority") === "MERGED", lit(1L))
          .otherwise(lit(0L))).as("n_merged"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        col("n_merged"), lit(pruned).as("pruned"),
        lit(untouched).as("history_untouched"))
  }

  private val cowMergeSql =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 2) AS lo,
       |         (max(o_orderkey) // 2) + (max(o_orderkey) // 10) AS hi
       |  FROM orders),
       |upd AS (SELECT o_orderkey FROM orders, rng
       |        WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 0),
       |del AS (SELECT o_orderkey FROM orders, rng
       |        WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 1),
       |fin AS (
       |  SELECT b.o_orderstatus,
       |    CASE WHEN u.o_orderkey IS NOT NULL THEN b.o_totalprice + 1.0
       |         ELSE b.o_totalprice END AS price,
       |    CASE WHEN u.o_orderkey IS NOT NULL THEN 'MERGED'
       |         ELSE b.o_orderpriority END AS prio
       |  FROM orders b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
       |  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.o_orderkey = b.o_orderkey)
       |  UNION ALL
       |  SELECT 'N' AS o_orderstatus, o_totalprice AS price,
       |    o_orderpriority AS prio
       |  FROM orders, rng
       |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 2)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price,
       |  CAST(count(*) FILTER (WHERE prio = 'MERGED') AS BIGINT) AS n_merged,
       |  TRUE AS pruned, TRUE AS history_untouched
       |FROM fin GROUP BY 1""".stripMargin

  // ---- q289: predicate DELETE, copy-on-write, stats-pruned -----------------

  /** q289: DELETE WHERE key BETWEEN — the GDPR/retention shape: a pure
    * range predicate on the clustering key, where zone pruning is EXACT
    * (affected files are precisely those whose interval meets the range).
    * The rewrite anti-filters the affected slice; every other file is
    * untouched. Oracle = the surviving table, so a row deleted too many
    * or too few fails the hash. */
  def cowDelete(spark: SparkSession, dir: String): DataFrame = {
    val layout = writeClustered(spark, dir)
    val (pruned, untouched) =
      rewriteLayout(spark, layout)(deleteStep(spark, maxKey(spark, layout)))
    spark.read.parquet(layout)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        lit(pruned).as("pruned"), lit(untouched).as("history_untouched"))
  }

  private val cowDeleteSql =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 10) AS lo,
       |         (max(o_orderkey) // 10) + (max(o_orderkey) // 20) AS hi
       |  FROM orders)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("o_totalprice")} AS total_price,
       |  TRUE AS pruned, TRUE AS history_untouched
       |FROM orders, rng
       |WHERE o_orderkey NOT BETWEEN lo AND hi
       |GROUP BY 1""".stripMargin

  // ---- q290: streaming CDC apply (absolute row images, idempotent) --------

  /** q290: STREAMING CDC APPLY — the change stream lands as micro-batches
    * of ABSOLUTE row images (the CDC contract that makes apply idempotent
    * under foreachBatch's at-least-once retry: re-applying an image is a
    * no-op, unlike a delta). Each batch MERGEs into the clustered table
    * copy-on-write: affected files full-outer the batch slice (update
    * where matched, insert where the file range covers a new key), keys
    * outside every file's range append as new files. Three staged change
    * files × `maxFilesPerTrigger=1` force three real micro-batches
    * through `MicroBatchExecution`; the oracle is the ONE-SHOT merge in
    * SQL, so the sequential applies must compose to exactly the batch
    * semantics. Updates set price to a value derived from the key alone
    * (`key % 1000 + 0.5`, exactly representable), so any re-ordering or
    * re-delivery that double-applied would still hash-match only if the
    * final state is right. */
  def streamCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val layout = writeClustered(spark, dir)
    val (batches, _) = cdcStream(spark, dir, "graft_cdc") { (batch, _) =>
      applyImages(spark, layout, batch)
    }
    val threeBatches = batches == 3
    spark.read.parquet(layout)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"),
        sum(when(col("o_orderpriority") === "CDC", lit(1L))
          .otherwise(lit(0L))).as("n_cdc"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        col("n_cdc"), lit(threeBatches).as("three_batches"))
  }

  /** The q290/q324 change stream over `dir`'s orders: ABSOLUTE row images
    * — updates (existing keys % 7 = 0, new price) and inserts (keys % 11
    * = 0 re-keyed out of domain) — staged as three change files under a
    * `<prefix>_in` temp dir and delivered one file per micro-batch
    * (`maxFilesPerTrigger=1`, AvailableNow) to `onBatch(batch, batchId)`.
    * Returns (micro-batches run, the change-file dir). */
  private def cdcStream(spark: SparkSession, dir: String, prefix: String)(
      onBatch: (DataFrame, Long) => Unit): (Int, String) = {
    import org.apache.spark.sql.streaming.Trigger
    val base = Tables(spark, dir, "orders")
    val updates = base.where(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        ((col("o_orderkey") % 1000).cast("double") + lit(0.5))
          .as("o_totalprice"),
        col("o_orderdate"), lit("CDC").as("o_orderpriority"))
    val inserts = base.where(col("o_orderkey") % 11 === 0)
      .select((col("o_orderkey") + lit(200000000L)).as("o_orderkey"),
        col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    val changes = updates.unionByName(inserts).localCheckpoint()
    val inDir = java.nio.file.Files.createTempDirectory(s"${prefix}_in")
    graft.streaming.EventStreams.deleteTreeOnExit(inDir)
    (0 until 3).foreach { b =>
      changes.where(pmod(col("o_orderkey"), lit(3)) === b)
        .coalesce(1).write.parquet(s"$inDir/c$b")
    }
    val ck = java.nio.file.Files.createTempDirectory(s"${prefix}_ck")
    graft.streaming.EventStreams.deleteTreeOnExit(ck)
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream
      .schema(changes.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$inDir/c*")
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ck.toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches.incrementAndGet()
        onBatch(batch, batchId)
      }
      .start()
    q.awaitTermination()
    (batches.get(), inDir.toString)
  }

  /** The upsert of one batch of absolute row images, derived from a file
    * list (shared by q290's directory and q324's snapshot): rows in
    * affected files are replaced-or-kept (anti-join + union — exact
    * upsert even when a zone covers a key the file doesn't hold); images
    * no file's range covers come back as the extra rows. */
  private def imagesStep(spark: SparkSession, batch: DataFrame)(
      cur: Seq[String]): (Seq[String], Option[DataFrame], Option[DataFrame]) = {
    val images = batch.localCheckpoint() // one materialization per batch
    val keys = images.select(col("o_orderkey"))
    val affected = affectedOfList(spark, cur, keys)
    val zones = broadcast(zonesOf(spark, cur, "o_orderkey"))
    val inZone = col("o_orderkey") >= col("lo") && col("o_orderkey") <= col("hi")
    val covered = images.join(zones, inZone, "left_semi")
    val uncovered = images.join(zones, inZone, "left_anti")
    val merged =
      if (affected.isEmpty) None
      else Some(spark.read.parquet(affected: _*)
        .join(keys.withColumnRenamed("o_orderkey", "k"),
          col("o_orderkey") === col("k"), "left_anti")
        .unionByName(covered))
    (affected, merged, Some(uncovered))
  }

  /** MERGE one batch of absolute row images into the clustered layout:
    * [[imagesStep]] over the directory, uncovered images appended as new
    * files. */
  private[graft] def applyImages(spark: SparkSession, layout: String,
      batch: DataFrame): Unit =
    rewriteLayout(spark, layout)(imagesStep(spark, batch))

  private val streamCdcApplySql =
    s"""WITH fin AS (
       |  SELECT o_orderstatus,
       |    CASE WHEN o_orderkey % 7 = 0
       |         THEN CAST(o_orderkey % 1000 AS DOUBLE) + 0.5
       |         ELSE o_totalprice END AS price,
       |    CASE WHEN o_orderkey % 7 = 0 THEN 'CDC'
       |         ELSE o_orderpriority END AS prio
       |  FROM orders
       |  UNION ALL
       |  SELECT 'N' AS o_orderstatus, o_totalprice AS price,
       |    o_orderpriority AS prio
       |  FROM orders WHERE o_orderkey % 11 = 0)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price,
       |  CAST(count(*) FILTER (WHERE prio = 'CDC') AS BIGINT) AS n_cdc,
       |  TRUE AS three_batches
       |FROM fin GROUP BY 1""".stripMargin

  // ---- q324: streaming CDC THROUGH the snapshot commit ----------------------

  /** q324: STREAMING CDC, SNAPSHOT EDITION — q290's foreachBatch apply
    * loop rebased onto the atomic manifest commit with VERSION = EPOCH
    * ARITHMETIC: micro-batch b must produce snapshot v(b+2) (v1 is the
    * base), so
    *  - a REPLAYED batch (foreachBatch's at-least-once redelivery) finds
    *    its version already committed and no-ops — exactly-once table
    *    state from at-least-once delivery, without relying on image
    *    idempotence;
    *  - a commit racing anything else conflicts instead of interleaving
    *    (first-writer-wins OCC), so the version chain IS the epoch chain;
    *  - a MID-STREAM READER always resolves a fully-committed epoch's
    *    table — `reader_consistent` pins that each batch found the chain
    *    exactly one version ahead, and `replay_noop` that re-applying the
    *    last batch after the stream left the version chain untouched.
    * The oracle is q290's one-shot merge, so the sequential snapshot
    * commits must compose to exactly the batch semantics; time travel to
    * v1 (the pre-stream table) rides for free and is pinned by the spec.
    *
    * At 100 TB: per epoch the apply pays the q290 zone-join discovery +
    * O(affected slice) rewrite + one manifest rename; replay detection is
    * one manifest listing. This is the Delta/Iceberg `txnVersion`
    * idempotent-writer contract expressed through the engine's own layer. */
  def streamCdcSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val (root, _) = initStore(spark, dir)
    val consistent = new java.util.concurrent.atomic.AtomicBoolean(true)
    val (batches, inDir) = cdcStream(spark, dir, "graft_cdcsnap") {
      (batch, batchId) =>
        // the mid-stream reader contract: before batch b applies, the
        // chain stands at exactly v(b+1) — every prior epoch fully
        // committed, nothing of this epoch visible
        if (SnapshotStore.currentVersion(spark, root) != batchId + 1)
          consistent.set(false)
        applyImagesSnapshot(spark, root, batch, batchId)
    }
    val threeBatches = batches == 3
    // replay the LAST epoch: at-least-once redelivery must be a no-op
    val before = SnapshotStore.currentVersion(spark, root)
    applyImagesSnapshot(spark, root,
      spark.read.parquet(s"$inDir/c2"), 2L)
    val replayNoop = SnapshotStore.currentVersion(spark, root) == before &&
      before == 4
    SnapshotStore.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"),
        sum(when(col("o_orderpriority") === "CDC", lit(1L))
          .otherwise(lit(0L))).as("n_cdc"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        col("n_cdc"), lit(threeBatches).as("three_batches"),
        lit(consistent.get()).as("reader_consistent"),
        lit(replayNoop).as("replay_noop"))
  }

  /** MERGE one batch of absolute row images as snapshot version
    * (batchId + 2): already-committed versions no-op (idempotent replay);
    * otherwise [[imagesStep]] derives the rewrite from v(batchId + 1) and
    * the commit expects it, so any interleaving is a loud OCC conflict —
    * never a silent half-state, and the loser's staged files are
    * deleted. */
  private[graft] def applyImagesSnapshot(spark: SparkSession, root: String,
      batch: DataFrame, batchId: Long): Unit = {
    val want = batchId.toInt + 2
    if (SnapshotStore.currentVersion(spark, root) >= want) return // replay
    require(SnapshotStore.deleteVectors(spark, root, want - 1).isEmpty,
      s"applyImagesSnapshot: $root carries merge-on-read delete vectors; " +
        "the bare-COW CDC apply would resurrect tombstoned rows")
    val (affected, merged, extra) = imagesStep(spark, batch)(
      SnapshotStore.files(spark, root, want - 1).map(normPath))
    val staged = SnapshotStore.writeData(spark, root,
      (merged.toSeq ++ extra).reduce(_ unionByName _), s"cdc_v$want")
    SnapshotStore.commitOrCleanup(spark, root,
      SnapshotStore.linesReplacing(spark, root, want - 1,
        affected.toSet) ++ staged, want - 1, staged)
  }

  private val streamCdcSnapSql =
    s"""WITH fin AS (
       |  SELECT o_orderstatus,
       |    CASE WHEN o_orderkey % 7 = 0
       |         THEN CAST(o_orderkey % 1000 AS DOUBLE) + 0.5
       |         ELSE o_totalprice END AS price,
       |    CASE WHEN o_orderkey % 7 = 0 THEN 'CDC'
       |         ELSE o_orderpriority END AS prio
       |  FROM orders
       |  UNION ALL
       |  SELECT 'N' AS o_orderstatus, o_totalprice AS price,
       |    o_orderpriority AS prio
       |  FROM orders WHERE o_orderkey % 11 = 0)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price,
       |  CAST(count(*) FILTER (WHERE prio = 'CDC') AS BIGINT) AS n_cdc,
       |  TRUE AS three_batches, TRUE AS reader_consistent,
       |  TRUE AS replay_noop
       |FROM fin GROUP BY 1""".stripMargin

  // ---- q301-q306 + q308: the SNAPSHOT layer over copy-on-write -------------
  //
  // q288-q290 mutate a bare directory — correct under the single-writer
  // contract but with a documented read-consistency window. The
  // SnapshotStore closes it: rewrites APPEND new files and publish an
  // atomic versioned manifest; old versions stay readable (time travel),
  // racing writers conflict and RETRY instead of clobbering
  // (LakehouseSpec), vacuum GCs what no retained version references, and
  // a manifest DIFF yields the change feed without reading unchanged
  // files. [[mutateSnapshot]] is the composition point: every DataFrame
  // mutation below runs through it (SQL DML runs through the catalog).

  /** SNAPSHOT-NATIVE copy-on-write mutation — the commit protocol every
    * real table format runs its MERGE/DELETE through. `step` derives the
    * rewrite from the CURRENT committed snapshot's file list: (affected
    * files, replacement content for them, extra appended rows). The
    * replacement + extras are STAGED with [[SnapshotStore.writeData]]
    * (invisible until published), then the new file list — current minus
    * affected plus staged — is published through one atomic manifest
    * commit. On an OCC conflict the staged files are dropped (they were
    * never published) and the WHOLE derivation re-runs against the
    * winner's table state, so a losing writer's change still lands —
    * retry-on-conflict, first-writer-wins. Live files are never deleted:
    * a reader overlapping the commit resolves v_n or v_n+1, never a
    * partial table, and every prior version stays time-travelable
    * (vacuum owns deletion). Returns (new version, pruned).
    *
    * At 100 TB: the retry re-pays only the affected slice's rewrite —
    * discovery is a |files|-row zone join, publication one manifest
    * rename — so contention costs O(conflicting writers × changed slice),
    * never O(table). */
  private[graft] def mutateSnapshot(spark: SparkSession, root: String,
      tag: String, maxRetries: Int = 5)(
      step: Seq[String] => (Seq[String], Option[DataFrame], Option[DataFrame]))
      : (Int, Boolean) = {
    var attempt = 0
    while (attempt < maxRetries) {
      val base = SnapshotStore.currentVersion(spark, root)
      // this is the BARE-COW mutation path: a rewrite derived from raw
      // file reads would resurrect rows tombstoned by merge-on-read
      // vectors, so vectored tables decline loudly (reconcile via
      // compaction or mutate through the catalog's delta path)
      require(SnapshotStore.deleteVectors(spark, root, base).isEmpty,
        s"mutateSnapshot($tag): $root carries merge-on-read delete " +
          "vectors; compact first (CALL graft.compact) or use the " +
          "catalog MoR DML path")
      val cur = SnapshotStore.files(spark, root, base).map(normPath)
      val (affected, replacement, extra) = step(cur)
      val staged = (replacement.toSeq ++ extra.toSeq).zipWithIndex.flatMap {
        case (df, i) =>
          SnapshotStore.writeData(spark, root, df, s"${tag}_v${base + 1}_$i")
      }
      try {
        // carry meta lines and untouched files' annotations verbatim —
        // only the affected data lines are replaced; a lost race drops
        // the never-referenced staged files, then the derivation re-runs
        // against the winner's snapshot
        val kept = SnapshotStore.linesReplacing(spark, root, base,
          affected.toSet)
        val v = SnapshotStore.commitOrCleanup(spark, root, kept ++ staged,
          base, staged)
        return (v, affected.nonEmpty && affected.size < cur.size)
      } catch {
        case _: SnapshotStore.CommitConflictException => attempt += 1
      }
    }
    throw new SnapshotStore.CommitConflictException(
      s"mutateSnapshot($tag): lost $maxRetries consecutive races under $root")
  }

  /** v1 of a versioned store: orders clustered 8 ways by key. Returns
    * (root, max key).
    *
    * 31 lifecycle entries stage this same deterministic fixture before
    * the operator under test runs; a [[Memo.fixture]] stages it once and
    * CLONES the layout per query (byte-copied files, manifest paths
    * rewritten, mtimes preserved), which removes ~3 Spark jobs of repeated
    * staging per entry while keeping every query's root private and
    * mutable — measured 30%+ of the catalog tier's bench seconds was
    * re-staging (OPTIMIZATION_r16.md). Every bench/verify invocation still
    * computes the fixture from the parquet inputs. */
  private[graft] def initStore(spark: SparkSession, dir: String): (String, Long) =
    Memo.fixture("snap_v1", spark, dir, SnapshotStore.cloneRoot) { root =>
      stageBase(spark, dir, root)
    }

  /** Commits orders clustered 8 ways by key as v1 of `root`; returns the
    * max key. */
  private def stageBase(spark: SparkSession, dir: String, root: String): Long = {
    val base = Tables(spark, dir, "orders")
      .repartitionByRange(8, col("o_orderkey"))
    val v1Files = SnapshotStore.writeData(spark, root, base, "base")
    SnapshotStore.commit(spark, root, v1Files, 0)
    SnapshotStore.read(spark, root)
      .agg(max(col("o_orderkey"))).head().getLong(0)
  }

  /** The files of `fl` whose [min,max] key interval covers at least one
    * key of `keys` (uri paths) — the zone-map admissibility test run as
    * one broadcast join, over a manifest's file list or a directory's.
    * Conservative: covering-but-not-containing files are returned too
    * (an extra rewrite, never a lost row). */
  private def affectedOfList(spark: SparkSession, fl: Seq[String],
      keys: DataFrame): Seq[String] = {
    val zones = zonesOf(spark, fl, "o_orderkey")
    keys.toDF("k").join(broadcast(zones),
        col("k") >= col("lo") && col("k") <= col("hi"))
      .select(col("file")).distinct()
      .collect().map(r => normPath(r.getString(0))).toSeq
  }

  /** The q288-model three-way MERGE derived from a snapshot file list:
    * update [range, key%3=0], delete [range, key%3=1], insert [range,
    * key%3=2 re-keyed out of domain]. */
  private def mergeStep(spark: SparkSession, mx: Long)(cur: Seq[String])
      : (Seq[String], Option[DataFrame], Option[DataFrame]) = {
    val t = spark.read.parquet(cur: _*)
    val lo = mx / 2; val hi = lo + mx / 10
    val inRange = t.where(col("o_orderkey").between(lo, hi)).localCheckpoint()
    val updKeys = inRange.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"))
    val delKeys = inRange.where(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"))
    val inserts = inRange.where(col("o_orderkey") % 3 === 2)
      .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
        col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    val affected = affectedOfList(spark, cur, updKeys.union(delKeys))
    val merged = spark.read.parquet(affected: _*)
      .join(updKeys.withColumnRenamed("o_orderkey", "uk"),
        col("o_orderkey") === col("uk"), "left")
      .join(delKeys.withColumnRenamed("o_orderkey", "dk"),
        col("o_orderkey") === col("dk"), "left_anti")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        when(col("uk").isNotNull, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"),
        when(col("uk").isNotNull, lit("MERGED"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
    (affected, Some(merged), Some(inserts))
  }

  /** The q289-model range DELETE derived from a snapshot file list. */
  private def deleteStep(spark: SparkSession, mx: Long)(cur: Seq[String])
      : (Seq[String], Option[DataFrame], Option[DataFrame]) = {
    val lo = mx / 10; val hi = lo + mx / 20
    val t = spark.read.parquet(cur: _*)
    val affected = affectedOfList(spark, cur,
      t.where(col("o_orderkey").between(lo, hi)).select(col("o_orderkey")))
    val survivors = spark.read.parquet(affected: _*)
      .where(!col("o_orderkey").between(lo, hi))
    (affected, Some(survivors), None)
  }

  /** Builds the versioned store: v1 = orders clustered 8 ways; v2 = the
    * q288-model MERGE (update/delete/insert on the [max/2, +max/10]
    * decile); v3 = the q289-model range DELETE ([max/10, +max/20]) — both
    * mutations through [[mutateSnapshot]]'s stage-commit-retry protocol.
    * The three-version store is a pure function of the input dir, so it
    * is a [[Memo.fixture]] like [[initStore]]. Returns (root, mx, prunedA,
    * prunedB). */
  private[graft] def buildVersionedStore(spark: SparkSession,
      dir: String): (String, Long, Boolean, Boolean) = {
    val (root, (mx, prunedA, prunedB)) =
      Memo.fixture("snap_v3", spark, dir, SnapshotStore.cloneRoot) { root =>
        val m = stageBase(spark, dir, root)
        val (_, pA) = mutateSnapshot(spark, root, "m1")(mergeStep(spark, m))
        val (_, pB) = mutateSnapshot(spark, root, "m2")(deleteStep(spark, m))
        (m, pA, pB)
      }
    (root, mx, prunedA, prunedB)
  }

  /** q301: SNAPSHOT COMMIT + TIME TRAVEL — two copy-on-write mutations
    * publish v2 and v3 through atomic manifests; all three versions are
    * then read back and aggregated IN ONE RESULT, so the oracle (the
    * three stages recomputed in SQL) grades that v1 and v2 still
    * reproduce their exact historical content after later rewrites —
    * time travel, the property the manifest-less q288 cannot offer. */
  def snapshotTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val (root, _, prunedA, prunedB) = buildVersionedStore(spark, dir)
    (1 to 3).map { v =>
      SnapshotStore.read(spark, root, v)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"))
        .select(lit(v.toLong).as("version"), col("o_orderstatus"), col("n"),
          col("total_price"))
    }.reduce(_ unionByName _)
      .select(col("version"), col("o_orderstatus"), col("n"),
        col("total_price"), lit(prunedA).as("pruned_a"),
        lit(prunedB).as("pruned_b"))
  }

  /** The three stages in SQL: v1 = orders; v2 = the q288 merge model;
    * v3 = v2 minus the delete range. */
  private[graft] def stagesSql(select: String): String =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 2) AS lo,
       |         (max(o_orderkey) // 2) + (max(o_orderkey) // 10) AS hi,
       |         (max(o_orderkey) // 10) AS lo2,
       |         (max(o_orderkey) // 10) + (max(o_orderkey) // 20) AS hi2
       |  FROM orders),
       |upd AS (SELECT o_orderkey FROM orders, rng
       |        WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 0),
       |del AS (SELECT o_orderkey FROM orders, rng
       |        WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 1),
       |v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice AS price,
       |         o_orderpriority AS prio FROM orders),
       |v2 AS (
       |  SELECT b.o_orderkey, b.o_orderstatus,
       |    CASE WHEN u.o_orderkey IS NOT NULL THEN b.o_totalprice + 1.0
       |         ELSE b.o_totalprice END AS price,
       |    CASE WHEN u.o_orderkey IS NOT NULL THEN 'MERGED'
       |         ELSE b.o_orderpriority END AS prio
       |  FROM orders b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
       |  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.o_orderkey = b.o_orderkey)
       |  UNION ALL
       |  SELECT o_orderkey + 100000000, 'N', o_totalprice, o_orderpriority
       |  FROM orders, rng
       |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 2),
       |v3 AS (SELECT v2.* FROM v2, rng
       |       WHERE o_orderkey NOT BETWEEN lo2 AND hi2)
       |$select""".stripMargin

  private val snapshotTimeTravelSql = stagesSql(
    s"""SELECT CAST(version AS BIGINT) AS version, o_orderstatus,
       |  CAST(n AS BIGINT) AS n, total_price,
       |  TRUE AS pruned_a, TRUE AS pruned_b
       |FROM (
       |  SELECT 1 AS version, o_orderstatus, count(*) AS n,
       |    ${sqlSum2("price")} AS total_price FROM v1 GROUP BY 2
       |  UNION ALL
       |  SELECT 2, o_orderstatus, count(*), ${sqlSum2("price")}
       |  FROM v2 GROUP BY 2
       |  UNION ALL
       |  SELECT 3, o_orderstatus, count(*), ${sqlSum2("price")}
       |  FROM v3 GROUP BY 2) s""".stripMargin)

  /** q302: SNAPSHOT VACUUM — retain only v3; the data files referenced
    * solely by v1/v2 (the replaced originals) are deleted, the latest
    * snapshot's content is untouched (the oracle re-proves it), and the
    * on-disk file set collapses to exactly v3's manifest. The q218
    * generation-GC reader-safety argument, applied to manifests. */
  def snapshotVacuum(spark: SparkSession, dir: String): DataFrame = {
    val (root, _, _, _) = buildVersionedStore(spark, dir)
    val (removedFiles, removedVersions) =
      SnapshotStore.vacuum(spark, root, keep = 1)
    val onDisk = listDataFiles(spark, root).map(_.getPath.getName).toSet
    val liveList = SnapshotStore.files(spark, root)
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    SnapshotStore.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        lit(removedVersions == Seq(1, 2)).as("expired_both"),
        lit(removedFiles.nonEmpty).as("files_removed"),
        lit(onDisk == liveList).as("disk_is_manifest"))
  }

  private val snapshotVacuumSql = stagesSql(
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price, TRUE AS expired_both,
       |  TRUE AS files_removed, TRUE AS disk_is_manifest
       |FROM v3 GROUP BY 1""".stripMargin)

  /** q303: CHANGE FEED from a manifest diff — the CDC the snapshot layer
    * gives for free: v1→v2 changed rows are derived by full-outer-joining
    * the REMOVED files' content (pre-images) against the ADDED files'
    * content (post-images) on the key; unchanged rows carried along by
    * the rewrite cancel out. Only the diffed files are ever read — at
    * 100 TB the feed costs O(changed slice), never O(table). */
  def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    val (root, _, _, _) = buildVersionedStore(spark, dir)
    val v1 = SnapshotStore.files(spark, root, 1).map(normPath).toSet
    val v2 = SnapshotStore.files(spark, root, 2).map(normPath).toSet
    val pre = spark.read.parquet((v1 -- v2).toSeq: _*)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("pre_price"),
        col("o_orderpriority").as("pre_prio"))
    val post = spark.read.parquet((v2 -- v1).toSeq: _*)
      .select(col("o_orderkey").as("k2"), col("o_totalprice").as("post_price"),
        col("o_orderpriority").as("post_prio"))
    pre.join(post, col("k") === col("k2"), "full")
      .withColumn("op",
        when(col("k").isNull, lit("insert"))
          .when(col("k2").isNull, lit("delete"))
          .when(col("pre_price") =!= col("post_price") ||
            col("pre_prio") =!= col("post_prio"), lit("update"))
          .otherwise(lit("none")))
      .where(col("op") =!= "none")
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n"), dsum2(col("pre_price")).as("pre_total"),
        dsum2(col("post_price")).as("post_total"))
  }

  private[graft] val changeFeedSql =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 2) AS lo,
       |         (max(o_orderkey) // 2) + (max(o_orderkey) // 10) AS hi
       |  FROM orders),
       |ch AS (SELECT o_orderkey, o_totalprice, o_orderkey % 3 AS m
       |       FROM orders, rng WHERE o_orderkey BETWEEN lo AND hi)
       |SELECT 'update' AS op, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("o_totalprice")} AS pre_total,
       |  ${sqlSum2("o_totalprice + 1.0")} AS post_total
       |FROM ch WHERE m = 0
       |UNION ALL
       |SELECT 'delete', count(*), ${sqlSum2("o_totalprice")}, NULL
       |FROM ch WHERE m = 1
       |UNION ALL
       |SELECT 'insert', count(*), NULL, ${sqlSum2("o_totalprice")}
       |FROM ch WHERE m = 2""".stripMargin

  /** q304: SNAPSHOT COMPACTION — OPTIMIZE for the versioned store: three
    * commits leave v3 fragmented (untouched base files + two rewrites'
    * small outputs); compaction reads the CURRENT snapshot, re-clusters
    * it by key into few files, and publishes the result as v4 — content
    * identical (the oracle is the v3 stage), old versions still
    * time-travelable, and the fragmentation gates pin >4 files before,
    * exactly 4 after. The q215 maintenance pass re-expressed as a
    * snapshot commit: compaction is just another writer under OCC. */
  def snapshotCompaction(spark: SparkSession, dir: String): DataFrame = {
    val (root, _, _, _) = buildVersionedStore(spark, dir)
    val before = SnapshotStore.files(spark, root).length
    val compacted = SnapshotStore.read(spark, root)
      .repartitionByRange(4, col("o_orderkey"))
    val newFiles = SnapshotStore.writeData(spark, root, compacted, "opt")
    SnapshotStore.commit(spark, root, newFiles,
      SnapshotStore.currentVersion(spark, root))
    val after = SnapshotStore.files(spark, root).length
    SnapshotStore.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        lit(before > 4).as("was_fragmented"),
        lit(after == 4).as("compacted"))
  }

  private val snapshotCompactionSql = stagesSql(
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price, TRUE AS was_fragmented,
       |  TRUE AS compacted
       |FROM v3 GROUP BY 1""".stripMargin)

  /** q305: FEED-DRIVEN VIEW MAINTENANCE — the composition the snapshot
    * layer exists for: a per-status aggregate view of v1 is maintained to
    * v2 using ONLY the q303 change feed (pre-images retract, post-images
    * insert — the q222 counting algebra fed by the manifest diff), never
    * re-reading the base table. All arithmetic in exact DECIMAL cents so
    * maintained == rebuilt is bit-equality; `matches_rebuild` pins the
    * full-outer compare against an independent rebuild from v2, and the
    * oracle grades the maintained view itself. At 100 TB: maintenance
    * cost is O(changed slice) — the aggregate view never sees the table
    * again after its first build. */
  def feedMaintainView(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(18, 2)
    val (root, _, _, _) = buildVersionedStore(spark, dir)
    val v1 = SnapshotStore.files(spark, root, 1).map(normPath).toSet
    val v2 = SnapshotStore.files(spark, root, 2).map(normPath).toSet
    def agg(df: DataFrame) = df
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast(dec)).as("t"))
    val view1 = agg(SnapshotStore.read(spark, root, 1)).localCheckpoint()
    // the feed: pre-images retract (-1, -price), post-images insert
    val pre = spark.read.parquet((v1 -- v2).toSeq: _*)
      .select(col("o_orderstatus"), lit(-1L).as("w"),
        (col("o_totalprice").cast(dec) * -1).as("tw"),
        col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val post = spark.read.parquet((v2 -- v1).toSeq: _*)
      .select(col("o_orderstatus"), lit(1L).as("w"),
        col("o_totalprice").cast(dec).as("tw"),
        col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    // rewrite-carried unchanged rows appear in BOTH sides with equal
    // payload and opposite weights — they cancel in the delta aggregate,
    // so no row-level diff is even needed for view maintenance
    val delta = pre.unionByName(post)
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("w")).as("dn"), sum(col("tw")).as("dt"))
    val maintained = view1.join(delta, Seq("o_orderstatus"), "full")
      .select(col("o_orderstatus"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("t"), lit(0).cast(dec)) +
          coalesce(col("dt"), lit(0).cast(dec))).as("t"))
      .where(col("n") > 0)
      .localCheckpoint()
    val rebuilt = agg(SnapshotStore.read(spark, root, 2))
    val matches = maintained.join(rebuilt.withColumnRenamed("n", "rn")
        .withColumnRenamed("t", "rt"), Seq("o_orderstatus"), "full")
      .where(col("n").isNull || col("rn").isNull ||
        col("n") =!= col("rn") || col("t") =!= col("rt"))
      .isEmpty
    maintained.select(col("o_orderstatus"), col("n"),
      col("t").cast("double").as("total_price"),
      lit(matches).as("matches_rebuild"))
  }

  private val feedMaintainViewSql = stagesSql(
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price, TRUE AS matches_rebuild
       |FROM v2 GROUP BY 1""".stripMargin)

  /** q306: STATS-PRUNED SNAPSHOT READ — per-file [min, max] of the
    * clustering key persisted as a manifest SIDECAR at commit time (the
    * column every real format stores next to its file list), consumed by
    * a key-range read that opens only admissible files. Versioned stats
    * cannot go stale: they are computed from, and die with, their frozen
    * snapshot (vacuum deletes them together). The probe range sits in
    * untouched-base territory — away from both mutation regions — so the
    * gate pins REAL pruning (admitted < live files) while the oracle
    * (the v3 stage filtered in SQL) re-proves zero lost rows, the
    * q224/q279 completeness discipline on the snapshot layer. */
  def snapshotSkipRead(spark: SparkSession, dir: String): DataFrame = {
    val (root, mx, _, _) = buildVersionedStore(spark, dir)
    SnapshotStore.writeStats(spark, root, "o_orderkey")
    val lo = mx / 4
    val hi = lo + mx / 20
    val admitted = SnapshotStore.filesWhere(spark, root, lo, hi)
    val all = SnapshotStore.files(spark, root)
    spark.read.parquet(admitted: _*)
      .where(col("o_orderkey").between(lo, hi))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        lit(admitted.size < all.size && admitted.nonEmpty).as("pruned"))
  }

  private val snapshotSkipReadSql = stagesSql(
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price, TRUE AS pruned
       |FROM v3
       |WHERE o_orderkey BETWEEN (SELECT max(o_orderkey) FROM orders) // 4
       |  AND (SELECT max(o_orderkey) FROM orders) // 4
       |    + (SELECT max(o_orderkey) FROM orders) // 20
       |GROUP BY 1""".stripMargin)

  // ---- q310: TRANSPARENT snapshot skipping through the optimizer rule ------

  /** q310: RULE-DRIVEN SNAPSHOT SKIPPING — q306's commit-versioned stats
    * consulted by the OPTIMIZER instead of the author:
    * `SnapshotStore.attachSkipping` registers the sidecar as a zone index
    * with `SkippingIndexRule` (extended this round to manifest reads —
    * multi-root relations under one registered parent), and the query is
    * a PLAIN `read(root).where(key between ...)` — no `filesWhere` call
    * anywhere. The `pruned` gate is read back from the OPTIMIZED plan's
    * scanned-file count (the q230 discipline: grade what the rule did,
    * not what the code intended), and the oracle re-proves zero lost
    * rows. Staleness is the version id itself: stats attach FOR a
    * version; a later commit's new files are unknown to the index and
    * kept unconditionally until the newer version's stats are attached. */
  def snapshotSkipRule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val (root, mx, _, _) = buildVersionedStore(spark, dir)
    SnapshotStore.writeStats(spark, root, "o_orderkey")
    val attached = SnapshotStore.attachSkipping(spark, root)
    try {
      val lo = mx / 4
      val hi = lo + mx / 20
      val df = SnapshotStore.read(spark, root)
        .where(col("o_orderkey").between(lo, hi))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"))
      val scanned = df.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r.relation match {
          case h: HadoopFsRelation => h.location.inputFiles.length
          case _ => 0
        }
      }.sum
      val all = SnapshotStore.files(spark, root).length
      df.select(col("o_orderstatus"), col("n"), col("total_price"),
        lit(scanned > 0 && scanned < all).as("pruned"),
        lit(attached == 3).as("versioned"))
    } finally SnapshotStore.dropSkipping(spark, root)
  }

  private val snapshotSkipRuleSql = stagesSql(
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price, TRUE AS pruned,
       |  TRUE AS versioned
       |FROM v3
       |WHERE o_orderkey BETWEEN (SELECT max(o_orderkey) FROM orders) // 4
       |  AND (SELECT max(o_orderkey) FROM orders) // 4
       |    + (SELECT max(o_orderkey) FROM orders) // 20
       |GROUP BY 1""".stripMargin)

  // ---- q317: snapshot SCHEMA EVOLUTION --------------------------------------

  /** q317: SCHEMA EVOLUTION through a snapshot commit — a copy-on-write
    * rewrite WIDENS its files (adds `o_flag`, set on the mutated decile,
    * explicit NULL on ridealong rows); untouched files keep the old
    * 6-column schema on disk. A merged-schema read of the live snapshot
    * surfaces the new column with NULL for unevolved files — no rewrite
    * of untouched data, the add-column economics every real format
    * promises — while time travel to v1 still returns the ORIGINAL
    * schema (`v1_schema_unchanged`). The oracle recomputes the flag from
    * the row predicate, so a flag that leaked onto ridealong rows — or a
    * merged read that dropped unevolved rows — hash-fails. */
  def snapSchemaEvolve(spark: SparkSession, dir: String): DataFrame = {
    val (root, mx) = initStore(spark, dir)
    val lo = mx / 2; val hi = lo + mx / 10
    val (v2, pruned) = mutateSnapshot(spark, root, "evolve") { cur =>
      val t = spark.read.parquet(cur: _*)
      val affected = affectedOfList(spark, cur,
        t.where(col("o_orderkey").between(lo, hi)).select(col("o_orderkey")))
      val widened = spark.read.parquet(affected: _*)
        .withColumn("o_flag",
          when(col("o_orderkey").between(lo, hi), lit("M")))
      (affected, Some(widened), None)
    }
    val v1Cols = SnapshotStore.read(spark, root, 1).columns.length
    SnapshotStore.read(spark, root, v2, mergeSchema = true)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"),
        count(col("o_flag")).as("n_flagged"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        col("n_flagged"), lit(pruned).as("pruned"),
        lit(v1Cols == 6).as("v1_schema_unchanged"))
  }

  private val snapSchemaEvolveSql =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 2) AS lo,
       |         (max(o_orderkey) // 2) + (max(o_orderkey) // 10) AS hi
       |  FROM orders)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("o_totalprice")} AS total_price,
       |  CAST(count(*) FILTER (WHERE o_orderkey BETWEEN lo AND hi)
       |    AS BIGINT) AS n_flagged,
       |  TRUE AS pruned, TRUE AS v1_schema_unchanged
       |FROM orders, rng
       |GROUP BY 1""".stripMargin

  // ---- q323: MERGE-ON-READ deletion vectors ---------------------------------

  /** q323: MERGE-ON-READ — the q308-model three-way merge with DELETION
    * VECTORS instead of file rewrites: matched rows (updates' pre-images
    * and deletes) become (file, row_index) tombstones in a `dv:` manifest
    * sidecar; updated images and inserts APPEND as new files; NO existing
    * data file is rewritten or even opened for writing. Reads apply the
    * vectors transparently ([[SnapshotStore.read]] anti-joins the scan's
    * native `_metadata.row_index`), so v2 is the merged table while v1's
    * bytes are untouched on disk. A compaction then reconciles the
    * vectors back to clean files as v3 (q304's machinery — compaction is
    * just another committer).
    *
    * Graded in one result (q308's oracle semantics):
    *  - the merged table CONTENT — read from the COMPACTED v3, while
    *    `mor_applied` pins that the vector-applied v2 read had produced
    *    exactly the same aggregates (so both read paths are under the
    *    hash);
    *  - `data_untouched`: every v1 data file appears in v2's manifest
    *    bit-identical (merge-on-read's defining property);
    *  - `write_bounded`: bytes written by the MoR commit (vectors +
    *    appended images) are LESS than the bytes copy-on-write would have
    *    rewritten (the zone-covering files of the matched keys) — rewrite
    *    cost ∝ changed ROWS, not affected files;
    *  - `reconciled`: v3 carries no delete vectors.
    *
    * At 100 TB: a delete-heavy workload writes |tombstones| rows per
    * commit instead of rewriting every covering file — the reason Delta
    * and Iceberg both grew DVs. The read-side anti-join costs
    * ∝ |tombstones| (broadcast at typical sizes); compaction bounds its
    * accumulation. Batch outputs here are coalesced to the change-batch
    * scale; a production writer sizes them to maxPartitionBytes. */
  def morMerge(spark: SparkSession, dir: String): DataFrame = {
    val (root, mx) = initStore(spark, dir)
    val lo = mx / 2; val hi = lo + mx / 10
    val v1Files = SnapshotStore.files(spark, root, 1)
    val fsP = new org.apache.hadoop.fs.Path(root)
    val f = fsOf(spark, fsP)
    def sizeOf(paths: Seq[String]): Long = paths.map(p =>
      f.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sum
    def sig(paths: Seq[String]) = paths.map { p =>
      val s = f.getFileStatus(new org.apache.hadoop.fs.Path(p))
      normName(p) -> ((s.getLen, s.getModificationTime))
    }.toMap
    val v1Sig = sig(v1Files)

    // the change model (q308's): updates %3=0, deletes %3=1, inserts %3=2
    val t = SnapshotStore.readWithRowId(spark, root, 1)
    val inRange = t.where(col("o_orderkey").between(lo, hi)).localCheckpoint()
    val tomb = inRange
      .where(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 3 === 1)
      .select(col("__row_file").as("file"), col("__row_pos").as("pos"))
      .coalesce(1)
    val updated = inRange.where(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice") + lit(1.0)).as("o_totalprice"),
        col("o_orderdate"), lit("MERGED").as("o_orderpriority"))
    val inserts = inRange.where(col("o_orderkey") % 3 === 2)
      .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
        col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    val appended = updated.unionByName(inserts).coalesce(1)

    // what COW would have rewritten: the zone-covering files of matched keys
    val cowAffected = affectedOfList(spark, v1Files,
      inRange.where(col("o_orderkey") % 3 =!= 2).select(col("o_orderkey")))

    val dvFiles = SnapshotStore.writeData(spark, root, tomb, "dv_m")
    val newData = SnapshotStore.writeData(spark, root, appended, "mor_m")
    SnapshotStore.commit(spark, root,
      v1Files ++ newData ++ dvFiles.map(SnapshotStore.dvLine), 1)

    val dataUntouched = v1Sig.forall { case (n, s) => sig(v1Files).get(n).contains(s) } &&
      v1Files.map(normPath).toSet.subsetOf(
        SnapshotStore.files(spark, root, 2).map(normPath).toSet)
    val writeBounded = sizeOf(dvFiles ++ newData) < sizeOf(cowAffected)

    def aggOf(df: DataFrame) = df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"),
        sum(when(col("o_orderpriority") === "MERGED", lit(1L))
          .otherwise(lit(0L))).as("n_merged"))
    val v2Agg = aggOf(SnapshotStore.read(spark, root, 2)).localCheckpoint()

    // compaction: vectors reconciled into clean files, published as v3
    val compacted = SnapshotStore.read(spark, root, 2)
      .repartitionByRange(8, col("o_orderkey"))
    val v3Files = SnapshotStore.writeData(spark, root, compacted, "opt_m")
    SnapshotStore.commit(spark, root, v3Files, 2)
    val reconciled = SnapshotStore.deleteVectors(spark, root, 3).isEmpty

    val v3Agg = aggOf(SnapshotStore.read(spark, root, 3))
    val morApplied = v3Agg.withColumnRenamed("n", "n2")
      .withColumnRenamed("total_price", "t2").withColumnRenamed("n_merged", "m2")
      .join(v2Agg, Seq("o_orderstatus"), "full")
      .where(col("n").isNull || col("n2").isNull || col("n") =!= col("n2") ||
        col("total_price") =!= col("t2") || col("n_merged") =!= col("m2"))
      .isEmpty
    v3Agg.select(col("o_orderstatus"), col("n"), col("total_price"),
      col("n_merged"), lit(morApplied).as("mor_applied"),
      lit(dataUntouched).as("data_untouched"),
      lit(writeBounded).as("write_bounded"),
      lit(reconciled).as("reconciled"))
  }

  private val morMergeSql =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 2) AS lo,
       |         (max(o_orderkey) // 2) + (max(o_orderkey) // 10) AS hi
       |  FROM orders),
       |fin AS (
       |  SELECT o_orderstatus,
       |    CASE WHEN o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 0
       |         THEN o_totalprice + 1.0 ELSE o_totalprice END AS price,
       |    CASE WHEN o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 0
       |         THEN 'MERGED' ELSE o_orderpriority END AS prio
       |  FROM orders, rng
       |  WHERE NOT (o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 1)
       |  UNION ALL
       |  SELECT 'N' AS o_orderstatus, o_totalprice AS price,
       |    o_orderpriority AS prio
       |  FROM orders, rng
       |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 2)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price,
       |  CAST(count(*) FILTER (WHERE prio = 'MERGED') AS BIGINT) AS n_merged,
       |  TRUE AS mor_applied, TRUE AS data_untouched,
       |  TRUE AS write_bounded, TRUE AS reconciled
       |FROM fin GROUP BY 1""".stripMargin

  // ---- q325: PARTITION SPEC in the snapshot manifest -------------------------

  /** q325: PARTITIONED SNAPSHOT — the manifest records a partition spec
    * (`meta:partition=o_orderstatus`) and every data line its file's
    * partition VALUE (the Iceberg per-file partition tuple), versioned
    * with the commit. Inside each partition, files cluster by key and the
    * stats sidecar gives zone intervals — so the two prunings STACK:
    *
    *  - the UPDATE (status='F' AND key in one decile) discovers its
    *    affected files as partition-matched ∩ zone-admissible —
    *    `partition_local` pins the rewrite touched a strict subset of
    *    even the 'F' partition (zone pruning inside the partition), and
    *    the rewrite's manifest lines preserve the partition annotation;
    *  - the PROBE READ (status='F' AND a key slice of the updated decile)
    *    admits partition ∩ zone files — `stacked` pins the intersection
    *    strictly under BOTH single-axis prunings, `probe_complete` that
    *    it lost no rows vs an unpruned scan (the q224 completeness
    *    discipline).
    * Partition EVOLUTION is a later commit with a different spec line;
    * spec-mismatched predicates decline to no pruning (LakehouseSpec pins
    * the decline and the per-version spec isolation).
    *
    * At 100 TB: partition value checks are manifest-line string
    * comparisons (driver-scale), zone checks the |files|-row sidecar —
    * a point query touches one partition's one-two files out of
    * thousands, and the MERGE rewrite is partition-local by
    * construction. */
  def snapPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_snap_part")
    graft.streaming.EventStreams.deleteTreeOnExit(out)
    val root = s"$out/table"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val base = Tables(spark, dir, "orders")
    val v1Lines = SnapshotStore.writeDataPartitioned(spark, root, base,
      "o_orderstatus", 3, "o_orderkey", "base")
    SnapshotStore.commit(spark, root, v1Lines, 0)
    SnapshotStore.writeStats(spark, root, "o_orderkey")
    val mx = SnapshotStore.read(spark, root)
      .agg(max(col("o_orderkey"))).head().getLong(0)
    val lo = mx / 2; val hi = lo + mx / 10

    // partition-local UPDATE: affected = partition('F') ∩ zone([lo, hi])
    val partF = SnapshotStore.filesWherePartition(spark, root,
      "o_orderstatus", "F").map(normPath)
    val zoneA = SnapshotStore.filesWhere(spark, root, lo, hi).map(normPath)
    val affected = partF.toSet.intersect(zoneA.toSet).toSeq.sorted
    val partitionLocal = affected.nonEmpty && affected.size < partF.size
    val updated = spark.read.parquet(affected: _*)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        when(col("o_orderkey").between(lo, hi),
          col("o_totalprice") + lit(1.0)).otherwise(col("o_totalprice"))
          .as("o_totalprice"),
        col("o_orderdate"),
        when(col("o_orderkey").between(lo, hi), lit("PUPD"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
    val staged = SnapshotStore.writeData(spark, root,
      updated.localCheckpoint().repartitionByRange(1, col("o_orderkey")),
      "pupd").map(SnapshotStore.partLine(_, "F"))
    val pv1 = SnapshotStore.partitionValuesOf(spark, root, 1)
    val keptLines = SnapshotStore.files(spark, root, 1)
      .filterNot(f => affected.contains(normPath(f)))
      .map(f => SnapshotStore.partLine(f, pv1(SnapshotStore.uriPath(f))))
    SnapshotStore.commit(spark, root,
      SnapshotStore.partSpecLine("o_orderstatus") +: (keptLines ++ staged), 1)
    SnapshotStore.writeStats(spark, root, "o_orderkey") // v2's zones

    // stacked probe: one slice of the updated decile, partition 'F'
    val lo2 = lo; val hi2 = lo + mx / 20
    val partOnly = SnapshotStore.filesWherePartition(spark, root,
      "o_orderstatus", "F")
    val zoneOnly = SnapshotStore.filesWhere(spark, root, lo2, hi2)
    val admitted = partOnly.map(normPath).toSet
      .intersect(zoneOnly.map(normPath).toSet).toSeq.sorted
    val stacked = admitted.nonEmpty &&
      admitted.size < partOnly.size && admitted.size < zoneOnly.size
    def probeOf(df: DataFrame) = df
      .where(col("o_orderstatus") === "F" &&
        col("o_orderkey").between(lo2, hi2))
      .agg(count(lit(1)).as("c"), dsum2(col("o_totalprice")).as("t"))
    val probeComplete = probeOf(spark.read.parquet(admitted: _*))
      .join(probeOf(SnapshotStore.read(spark, root))
        .withColumnRenamed("c", "c2").withColumnRenamed("t", "t2"))
      .where(col("c") =!= col("c2") || col("t") =!= col("t2"))
      .isEmpty

    SnapshotStore.read(spark, root)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"),
        sum(when(col("o_orderpriority") === "PUPD", lit(1L))
          .otherwise(lit(0L))).as("n_upd"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        col("n_upd"), lit(partitionLocal).as("partition_local"),
        lit(stacked).as("stacked"),
        lit(probeComplete).as("probe_complete"))
  }

  private val snapPartitionedSql =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 2) AS lo,
       |         (max(o_orderkey) // 2) + (max(o_orderkey) // 10) AS hi
       |  FROM orders)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("CASE WHEN o_orderstatus = 'F' AND o_orderkey BETWEEN lo AND hi " +
      "THEN o_totalprice + 1.0 ELSE o_totalprice END")} AS total_price,
       |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F'
       |    AND o_orderkey BETWEEN lo AND hi) AS BIGINT) AS n_upd,
       |  TRUE AS partition_local, TRUE AS stacked, TRUE AS probe_complete
       |FROM orders, rng
       |GROUP BY 1""".stripMargin

  // ---- q308: SNAPSHOT-NATIVE MERGE — the two halves composed ---------------

  /** q308: SNAPSHOT-NATIVE MERGE — q288's three-way merge run THROUGH the
    * snapshot commit protocol ([[mutateSnapshot]]): replacements staged
    * invisibly, published by one atomic manifest, v1 untouched on disk.
    * What the bare-directory q288 cannot offer, graded in one result:
    *  - the merged table itself (q288's oracle semantics, same exactness);
    *  - `feed_*`: the merge's CHANGE FEED derived from the REAL manifest
    *    diff v1→v2 (q303's machinery applied to this very commit) — the
    *    update/delete/insert row counts the oracle recomputes from the
    *    merge predicates;
    *  - `time_travel_ok`: v1 re-read AFTER the merge and compared
    *    agg-for-agg against the original base table — the pre-image
    *    survives its own mutation;
    *  - `pruned`: strictly fewer than all files were rewritten.
    * At 100 TB: same O(changed slice) rewrite as q288 plus one manifest
    * rename; the feed reads only the diffed files. */
  def snapMerge(spark: SparkSession, dir: String): DataFrame = {
    val (root, mx) = initStore(spark, dir)
    val (v2, pruned) =
      mutateSnapshot(spark, root, "merge")(mergeStep(spark, mx))
    mergeGrade(spark, dir, root, v2, pruned)
  }

  /** The q308 grading frame — shared by the DataFrame merge (q308) and the
    * SQL `MERGE INTO` twin (q309), so any divergence between the two
    * front ends is a hash mismatch against [[snapMergeSql]]. */
  private[graft] def mergeGrade(spark: SparkSession, dir: String,
      root: String, v2: Int, pruned: Boolean): DataFrame = {
    // change feed from THE REAL merge's manifest diff
    val v1f = SnapshotStore.files(spark, root, 1).map(normPath).toSet
    val v2f = SnapshotStore.files(spark, root, v2).map(normPath).toSet
    val pre = spark.read.parquet((v1f -- v2f).toSeq: _*)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("pre_price"),
        col("o_orderpriority").as("pre_prio"))
    val post = spark.read.parquet((v2f -- v1f).toSeq: _*)
      .select(col("o_orderkey").as("k2"), col("o_totalprice").as("post_price"),
        col("o_orderpriority").as("post_prio"))
    val feed = pre.join(post, col("k") === col("k2"), "full")
      .withColumn("op",
        when(col("k").isNull, lit("insert"))
          .when(col("k2").isNull, lit("delete"))
          .when(col("pre_price") =!= col("post_price") ||
            col("pre_prio") =!= col("post_prio"), lit("update"))
          .otherwise(lit("none")))
      .where(col("op") =!= "none")
      .groupBy(col("op")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // time travel: v1 still reproduces the ORIGINAL base table exactly
    def aggOf(df: DataFrame) = df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("c"), dsum2(col("o_totalprice")).as("t"))
    val ttOk = aggOf(SnapshotStore.read(spark, root, 1))
      .join(aggOf(Tables(spark, dir, "orders"))
          .withColumnRenamed("c", "c2").withColumnRenamed("t", "t2"),
        Seq("o_orderstatus"), "full")
      .where(col("c").isNull || col("c2").isNull ||
        col("c") =!= col("c2") || col("t") =!= col("t2"))
      .isEmpty
    SnapshotStore.read(spark, root, v2)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"),
        sum(when(col("o_orderpriority") === "MERGED", lit(1L))
          .otherwise(lit(0L))).as("n_merged"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        col("n_merged"),
        lit(feed.getOrElse("update", 0L)).as("feed_updates"),
        lit(feed.getOrElse("delete", 0L)).as("feed_deletes"),
        lit(feed.getOrElse("insert", 0L)).as("feed_inserts"),
        lit(pruned).as("pruned"), lit(ttOk).as("time_travel_ok"))
  }

  /** Shared by q308 (DataFrame) and q309 (SQL MERGE INTO) — the twin
    * discipline: both front ends must hash to this same oracle. */
  private[graft] val snapMergeSql =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 2) AS lo,
       |         (max(o_orderkey) // 2) + (max(o_orderkey) // 10) AS hi
       |  FROM orders),
       |upd AS (SELECT o_orderkey FROM orders, rng
       |        WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 0),
       |del AS (SELECT o_orderkey FROM orders, rng
       |        WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 1),
       |ins AS (SELECT o_orderkey FROM orders, rng
       |        WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 2),
       |fin AS (
       |  SELECT b.o_orderstatus,
       |    CASE WHEN u.o_orderkey IS NOT NULL THEN b.o_totalprice + 1.0
       |         ELSE b.o_totalprice END AS price,
       |    CASE WHEN u.o_orderkey IS NOT NULL THEN 'MERGED'
       |         ELSE b.o_orderpriority END AS prio
       |  FROM orders b LEFT JOIN upd u ON b.o_orderkey = u.o_orderkey
       |  WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.o_orderkey = b.o_orderkey)
       |  UNION ALL
       |  SELECT 'N' AS o_orderstatus, o_totalprice AS price,
       |    o_orderpriority AS prio
       |  FROM orders, rng
       |  WHERE o_orderkey BETWEEN lo AND hi AND o_orderkey % 3 = 2)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price,
       |  CAST(count(*) FILTER (WHERE prio = 'MERGED') AS BIGINT) AS n_merged,
       |  (SELECT CAST(count(*) AS BIGINT) FROM upd) AS feed_updates,
       |  (SELECT CAST(count(*) AS BIGINT) FROM del) AS feed_deletes,
       |  (SELECT CAST(count(*) AS BIGINT) FROM ins) AS feed_inserts,
       |  TRUE AS pruned, TRUE AS time_travel_ok
       |FROM fin GROUP BY 1""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q288_cow_merge", cowMerge, Some(cowMergeSql)),
    QueryDef("q308_snap_merge", snapMerge, Some(snapMergeSql)),
    QueryDef("q289_cow_delete", cowDelete, Some(cowDeleteSql)),
    QueryDef("q290_stream_cdc_apply", streamCdcApply, Some(streamCdcApplySql)),
    QueryDef("q301_time_travel", snapshotTimeTravel, Some(snapshotTimeTravelSql)),
    QueryDef("q302_snapshot_vacuum", snapshotVacuum, Some(snapshotVacuumSql)),
    QueryDef("q303_change_feed", changeFeed, Some(changeFeedSql)),
    QueryDef("q304_snapshot_compact", snapshotCompaction,
      Some(snapshotCompactionSql)),
    QueryDef("q305_feed_ivm", feedMaintainView, Some(feedMaintainViewSql)),
    QueryDef("q306_snapshot_skip", snapshotSkipRead, Some(snapshotSkipReadSql)),
    QueryDef("q310_snap_skip_rule", snapshotSkipRule, Some(snapshotSkipRuleSql)),
    QueryDef("q317_snap_schema_evolve", snapSchemaEvolve,
      Some(snapSchemaEvolveSql)),
    QueryDef("q323_mor_merge", morMerge, Some(morMergeSql)),
    QueryDef("q324_stream_cdc_snap", streamCdcSnapshot,
      Some(streamCdcSnapSql)),
    QueryDef("q325_snap_partition", snapPartitioned,
      Some(snapPartitionedSql)))
}
