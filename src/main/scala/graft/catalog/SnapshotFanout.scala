package graft.catalog

import graft.sources.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** THE write path of catalog data. Every catalog write stages through
  * [[SnapshotFanoutWriterFactory]]: V2 INSERT / OVERWRITE / row-level
  * rewrites ([[SnapshotFanoutBatchWrite]]), streaming epochs
  * ([[SnapshotStreamWriterFactory]]), and the writes outside the V2 exec —
  * compaction and upsert ([[write]]).
  *
  *  - Rows route to one parquet file per partition TUPLE, rendered by the
  *    exact [[PartitionSpec]] functions the read-side pruning compares
  *    with; an unpartitioned table is the empty tuple (one file per task).
  *  - A file opens only when its first row arrives: an empty task stages
  *    nothing, so an empty rewrite publishes no zero-row file.
  *  - Only a COMMITTED task attempt's files ride a commit message; an
  *    aborted or zombie attempt's files stay in staging and die with it —
  *    the MapReduce output contract that makes task retries safe.
  *
  * The driver then publishes once ([[publish]] over
  * [[SnapshotStore.publish]]): staged files rename into the root, and the
  * manifest lines are `part=`-annotated exactly when a spec is bound.
  * Nothing is visible until a manifest commit references the files. */
object SnapshotFanout {

  /** A fanout factory staging `schema` rows under `staging`. */
  def factory(spark: SparkSession, staging: String, schema: StructType,
      bound: Seq[BoundPartItem]): SnapshotFanoutWriterFactory = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty[String, String], schema)
    new SnapshotFanoutWriterFactory(staging, schema, bound, owf,
      new SerializableConfiguration(job.getConfiguration))
  }

  /** Rename committed tasks' staged files to `<root>/<prefix>_<i>.parquet`
    * (path order); returns (manifest lines, published paths). */
  def publish(spark: SparkSession, root: String,
      messages: Seq[WriterCommitMessage], bound: Seq[BoundPartItem],
      prefix: String): (Seq[String], Seq[String]) = {
    val staged = messages.collect { case c: CompositePartStaged => c.files }
      .flatten.sortBy(_.path)
    val paths = SnapshotStore.publish(spark, root, staged.map(_.path), prefix)
    val lines =
      if (bound.isEmpty) paths
      else paths.zip(staged).map { case (p, s) =>
        SnapshotStore.partLine(p, s.value) }
    (lines, paths)
  }

  /** Write `df` under `root` outside the V2 exec, driving the fanout
    * DataWriter per partition exactly as the exec would; returns
    * (manifest lines, published paths). */
  def write(spark: SparkSession, root: String, df: DataFrame,
      bound: Seq[BoundPartItem], tag: String): (Seq[String], Seq[String]) = {
    val run = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(root, s"_graft_stage_fan_$run")
    val fac = factory(spark, staging.toString, df.schema, bound)
    try {
      val msgs = df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        if (it.isEmpty) Iterator.empty
        else {
          // taskId must be UNIQUE PER ATTEMPT: a retried/speculative
          // attempt reusing the original's id would stage the same file
          // path, letting a zombie first attempt corrupt the winner's
          // staged bytes before the driver renames them
          val w = fac.createWriter(pid,
            org.apache.spark.TaskContext.get().taskAttemptId())
          var ok = false
          try {
            it.foreach(w.write)
            val m = w.commit(); ok = true
            Iterator.single(m)
          } finally if (!ok) w.abort()
        }
      }.collect()
      publish(spark, root, msgs.toSeq, bound, s"${tag}_$run")
    } finally staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(staging, true)
  }
}
