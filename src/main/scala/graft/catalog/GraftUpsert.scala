package graft.catalog

import graft.sources.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** NO-READ-BEFORE-WRITE STREAMING UPSERT — the Iceberg-v2 equality-delete
  * write path: one commit adds the batch's rows as insert files plus ONE
  * equality-delete file of the batch's key values (`eq:` manifest line),
  * sequenced so it tombstones matching keys in every EARLIER data file
  * and never the batch's own inserts (strict `sv < seq`).
  *
  * The TARGET IS NEVER SCANNED: a CDC upsert costs ∝ batch size at any
  * table size, where the copy-on-write MERGE path (q290/q324) pays a
  * read-to-find-positions pass per batch. Readers apply the key sets as
  * an executor-side anti-probe before position vectors
  * ([[SnapshotReaderFactory]]), and compaction reconciles both kinds of
  * tombstone back to clean files.
  *
  * At 100 TB: the eq set a reader probes is micro-batch-sized by
  * construction (one file per upsert commit, bounded by the trigger),
  * and eq files die at the first full compaction — the standard
  * "equality deletes are cheap to write, reconciled early" contract.
  */
object GraftUpsert {

  /** Upsert `df` into the snapshot table at `root`, keyed by `keys`
    * (matched rows are REPLACED whole, unmatched insert; callers dedupe
    * within a batch). Insert files go through the catalog's fanout
    * writer, tuple-annotated when the table has a spec (pruning/SPJ power
    * kept).
    *
    * `queryId`/`epochId` make it exactly-once under streaming replay:
    * the commit stamps the epoch high-water mark and a redelivered epoch
    * finds its mark and skips whole (q324's version arithmetic, manifest
    * edition). Returns the committed (or already-stamped) version. */
  /** Key-only equality DELETE — the streaming retraction half: ONE eq
    * file, no insert files, no target scan. Same sequencing, replay, and
    * key-set rules as [[upsert]]. */
  def deleteKeys(spark: SparkSession, root: String, df: DataFrame,
      keys: Seq[String], queryId: String = null,
      epochId: Long = -1L): Int =
    commitEq(spark, root, df, keys, insertRows = false, queryId, epochId)

  def upsert(spark: SparkSession, root: String, df: DataFrame,
      keys: Seq[String], queryId: String = null,
      epochId: Long = -1L): Int =
    commitEq(spark, root, df, keys, insertRows = true, queryId, epochId)

  private def commitEq(spark: SparkSession, root: String, df: DataFrame,
      keys: Seq[String], insertRows: Boolean, queryId: String,
      epochId: Long): Int = {
    require(keys.nonEmpty, "upsert: at least one key column")
    keys.foreach(k => require(df.columns.contains(k),
      s"upsert: key column $k not in the batch schema"))
    val loaded = SnapshotStore.currentVersion(spark, root)
    require(loaded > 0, s"upsert: no committed snapshot under $root")
    if (queryId != null &&
        SnapshotStore.epochOf(spark, root, queryId).exists(_ >= epochId))
      return loaded // replayed epoch: already committed whole
    // an insert batch must carry exactly the table's columns: parquet
    // reads resolve by name, so a drifted batch would silently null-fill
    // (or hide) columns in every later scan — decline loudly instead
    if (insertRows)
      SnapshotStore.schemaOf(spark, root, loaded).foreach { ts =>
        require(df.columns.toSet == ts.fieldNames.toSet,
          s"upsert: batch columns ${df.columns.sorted.mkString(",")} != " +
            s"table columns ${ts.fieldNames.sorted.mkString(",")}")
      }
    // one key set per table: mixed key sets would have no single probe
    // schema for the scan-side anti-probe
    val existing = SnapshotStore.eqDeletes(spark, root, loaded)
      .map(_.keys).distinct
    require(existing.forall(_ == keys),
      s"upsert: table already carries equality deletes keyed $existing, " +
        s"got $keys")
    val bound = SnapshotStore.partitionSpecOf(spark, root, loaded)
      .flatMap(PartitionSpec.parse)
      .flatMap(items => BoundPartItem.bind(items, df.schema))
    val (dataLines, dataFiles) =
      if (!insertRows) (Nil, Nil)
      else SnapshotFanout.write(spark, root, df, bound.getOrElse(Nil), "ups")
    import org.apache.spark.sql.functions.col
    val eqFiles = SnapshotStore.writeData(spark, root,
      df.select(keys.map(col): _*).distinct().coalesce(1), "eqk")
    val lines = dataLines ++ eqFiles.map(SnapshotStore.eqLine(_, keys))
    // pure append: rebases onto the tip with OCC (appendCommit guards
    // schema/spec drift); eq + insert commits commute with everything a
    // snapshot table admits — a concurrent compaction's rewritten files
    // get LATER epochs than this sequence, so the tombstones still reach
    // exactly the rows that predate this upsert
    SnapshotTable.appendCommit(spark, root, loaded, lines,
      dataFiles ++ eqFiles,
      keptTransform = kept =>
        if (queryId == null) kept
        else SnapshotStore.linesWithEpoch(kept, queryId, epochId))
  }
}
