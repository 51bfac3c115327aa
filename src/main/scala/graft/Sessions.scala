package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for the engine's mains ([[Verify]], [[Bench]],
  * [[Driver]], the example apps, the tools) and the test harness.
  *
  * The point of the master override is the EXECUTOR BOUNDARY: every run of
  * this engine before round 9 was `local[*]` — one JVM, where closure
  * serialization, connector commit messages, and broadcasts never cross a
  * process. `SPARK_GRAFT_MASTER=local-cluster[2,4,2048]` runs the same
  * mains against separate executor JVMs launched from SPARK_HOME (the
  * standalone-worker path Spark's own tests use), which is the closest a
  * single machine gets to the 1000-executor deployment the engine is
  * designed for. `tools/cluster_smoke.sh` drives the oracle gate through
  * it.
  */
object Sessions {

  /** Resolve a main's master: the `spark.master` system property (what
    * `spark-submit --master` sets) wins, then `SPARK_GRAFT_MASTER`, then
    * the caller's `local[...]` default, so the same entry point runs
    * single-JVM, across a real executor boundary, or on a cluster without
    * code changes. A master set in code would override spark-submit's. */
  def master(default: String): String =
    sys.props.get("spark.master")
      .orElse(sys.env.get("SPARK_GRAFT_MASTER"))
      .getOrElse(default)

  /** Build (or join) the process's session. Every caller gets the same
    * conf; only the arguments differ:
    *  - `spark.sql.shuffle.partitions` = `partitions`, the UTC session
    *    time zone, a per-process [[warehouseDir]];
    *  - [[graft.functions.GraftExtensions]] and every key of
    *    [[Tables.sessionConf]];
    *  - the UI disabled and the log level WARN;
    *  - [[applyEnvConf]] last, so `SPARK_GRAFT_CONF` overrides any of them.
    *
    * `extraJars` are client jars whose classes appear in task closures
    * (see [[forMaster]]). */
  def build(app: String, master: String, partitions: Int,
      extraJars: Seq[String] = Nil): SparkSession = {
    val b = forMaster(SparkSession.builder(), master, extraJars)
      .master(master)
      .appName(app)
      .config("spark.sql.warehouse.dir", warehouseDir())
    conf(partitions).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    applyEnvConf(spark)
    spark
  }

  /** The fixed part of [[build]]'s conf (all but the warehouse dir). */
  private[graft] def conf(partitions: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> partitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName,
    "spark.ui.enabled" -> "false") ++ Tables.sessionConf

  /** Executors spawned by a `local-cluster` master get SPARK_HOME's jars,
    * NOT the launching JVM's classpath — ship the engine's own compiled
    * classes explicitly. (`spark-submit` does this with the application
    * jar; an sbt-launched main only has a classes directory, so it rides
    * `spark.executor.extraClassPath`.) No-op for in-process masters.
    *
    * `extraJars` must include any CLIENT jar whose classes appear inside
    * task closures (the [[Driver]] CLI's manifest-Main-Class jar): a
    * closure graph whose capturing classes resolve through the executor's
    * parent classpath but whose CAPTURED objects resolve only through the
    * fetched-jars child loader fails `SerializedLambda` resolution
    * ("cannot assign SerializedLambda to field ... func", measured on
    * local-cluster). Under `spark-submit --jars` every application class
    * rides the ONE fetched-jars loader, so the mixed-loader topology is
    * specific to classes-dir launches; keeping engine and client on the
    * same parent classpath here restores the single-loader invariant. */
  private[graft] def forMaster(b: SparkSession.Builder, master: String,
      extraJars: Seq[String] = Nil): SparkSession.Builder =
    if (master.startsWith("local-cluster")) {
      val here = getClass.getProtectionDomain.getCodeSource.getLocation.getPath
      b.config("spark.executor.extraClassPath",
        (here +: extraJars).mkString(java.io.File.pathSeparator))
    } else b

  /** A PER-PROCESS warehouse sandbox: every warehouse-mutating registry
    * query (the store commits, q213/q215 refresh/compaction, the matview
    * family) writes fixed-name tables, which is correct under the
    * registry's serial execution but racy if two graft PROCESSES share
    * one warehouse directory (the in-memory catalog is per-JVM; only the
    * directory is shared — a concurrent `resetTable` would delete files
    * the other process is mid-read on). Each main therefore gets its own
    * warehouse under java.io.tmpdir, exactly as two production jobs own
    * separate schemas; two concurrent Verify/Bench runs can never
    * interfere. `SPARK_GRAFT_WAREHOUSE` overrides for workflows that
    * WANT a shared, durable warehouse (the matview attach()-across-JVMs
    * path), accepting the one-writer-at-a-time contract that implies. */
  def warehouseDir(): String =
    sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", {
      val d = java.nio.file.Files.createTempDirectory("graft_wh")
      d.toFile.deleteOnExit()
      d.toString
    })

  /** `SPARK_GRAFT_CONF="k=v;k2=v2"`: session-conf pins for measurement and
    * smoke runs (e.g. `graft.graph.triangleImpl=wedge` to force the
    * shuffle-only triangle path). Fails loudly naming a malformed
    * segment. */
  def applyEnvConf(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').foreach { kv =>
      if (kv.trim.nonEmpty) kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF: segment '$kv' is not key=value")
      }
    })
}
