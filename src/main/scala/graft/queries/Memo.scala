package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query layer's one cross-query cache. A frame memo ([[apply]]) holds
  * a checkpointed intermediate that several queries share (the q55 cluster
  * map, the MinHash signatures, the graph edge tables, ...). A fixture memo
  * ([[fixture]]) stages an input layout that queries mutate (a snapshot
  * store, clustered `orders`) once into a template, and hands every call a
  * private clone of it.
  *
  * Both share one key, (session, sf dir, fingerprint of the registry's
  * input tables under the dir): a rewritten input misses, a file beside
  * the tables (a `<table>.parquet_graft_stats` sidecar) does not. Both are
  * evicted when the owning SparkContext stops, which also deletes dropped
  * template trees. [[clear]], run between bench passes, drops frames and
  * keeps templates: they are input preparation keyed by their input files
  * (like `Tables`' schema cache), and the measured operator still runs in
  * full on each fresh clone.
  *
  * One map per memo name: computes nest (`graph_oriented` computes
  * `graph_edges`), and a `ConcurrentHashMap` mapping function must not
  * update its own map. */
private[graft] object Memo {

  private type Key = (SparkSession, String, Seq[Seq[(String, Long, Long)]])

  private val frames = new ConcurrentHashMap[String, ConcurrentHashMap[Key, DataFrame]]()

  /** Per name: key → (template root, staged value). */
  private val fixtures = new ConcurrentHashMap[String, ConcurrentHashMap[Key, (String, Any)]]()

  private val evictionHooked =
    java.util.Collections.newSetFromMap(new ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  def apply(name: String, spark: SparkSession, dir: String)
      (compute: => DataFrame): DataFrame =
    frames.computeIfAbsent(name, _ => new ConcurrentHashMap())
      .computeIfAbsent(key(spark, dir), _ => compute)

  /** (a private clone root, the staged value): the first call per key runs
    * `stage` on a fresh template root, every call `clone`s (src, dst) the
    * template into a fresh root of its own. */
  def fixture[A](name: String, spark: SparkSession, dir: String,
      clone: (SparkSession, String, String) => Unit)
      (stage: String => A): (String, A) = {
    val (tmpl, value) = fixtures.computeIfAbsent(name, _ => new ConcurrentHashMap())
      .computeIfAbsent(key(spark, dir), _ => { val t = freshRoot(name); (t, stage(t)) })
    val root = freshRoot(name)
    clone(spark, tmpl, root)
    (root, value.asInstanceOf[A])
  }

  /** Drops frame memos; fixture templates stay (see the object doc). */
  def clear(): Unit = frames.values.forEach(_.clear())

  /** The input tables that exist under `dir` (test dirs hold only some). */
  private def key(spark: SparkSession, dir: String): Key = {
    hookEviction(spark)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (spark, dir, graft.Tables.names.map(n => s"$dir/$n.parquet")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      .map(graft.Tables.fingerprint(spark, _)))
  }

  /** `<temp dir>/table`; the temp dir goes at JVM exit at the latest. */
  private def freshRoot(name: String): String = {
    val out = Files.createTempDirectory(s"graft_$name")
    graft.streaming.EventStreams.deleteTreeOnExit(out)
    Files.createDirectories(out.resolve("table")).toString
  }

  /** One eviction listener per session, not one per miss. */
  private def hookEviction(spark: SparkSession): Unit =
    if (evictionHooked.add(spark))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          frames.values.forEach(_.keySet.removeIf(_._1 eq spark))
          fixtures.values.forEach(_.entrySet.removeIf { en =>
            val drop = en.getKey._1 eq spark
            if (drop) graft.streaming.EventStreams.deleteTree(
              Paths.get(en.getValue._1).getParent)
            drop
          })
          // drop the hook-registry entry too, or the stopped session
          // object stays strongly referenced for the JVM's lifetime
          evictionHooked.remove(spark)
        }
      })
}
