package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Sessions, SparkEntry, Tables}
import graft.operators.MRJob
import graft.queries._

/** One benchmark run.
  *
  * Set-up builds the session the way the engine's mains do (graft
  * extensions, the graft catalog, every input schema resolved). The run
  * then executes the workload's ops as a closed loop with one client: a
  * cold pass, `--warmup-passes` warm-up passes, then `--warm-passes`
  * measured passes within `--seconds`. Each op is timed from outside at two
  * calls into the engine: building the result (the registry builder or the
  * MapReduce job) and the action that materializes it. The timed passes
  * make no checks: after the last pass an untimed check pass writes every
  * op's output from that pass to `<out>/check/<op>` for the checks run.py
  * makes, so the output checked is the one an op gives with every cache
  * warm. With `--trace 1` Spark's listener APIs record jobs, stages,
  * planning phases and micro-batches for every op. */
object Harness {

  /** What an op's build step hands back: the timed action, and the frame
    * holding its output once the action has run, for the check. */
  final case class Built(act: () => Unit, result: () => DataFrame)
  final case class Op(name: String, oracle: Option[String],
      build: SparkSession => Built)

  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  /** Epoch milliseconds of a `System.nanoTime` reading, to line harness spans
    * up with the timestamps Spark's listener events carry. */
  def epochMs(n: Long): Double = wall0 + (n - nano0) / 1e6

  lazy val Modules: Seq[(String, Seq[QueryDef])] = Seq(
    "Parity" -> Parity.defs, "Relational" -> Relational.defs,
    "Joins" -> Joins.defs, "Windows" -> Windows.defs,
    "Scalars" -> Scalars.defs, "Dedup" -> Dedup.defs,
    "Similarity" -> Similarity.defs, "TextAnalysis" -> TextAnalysis.defs,
    "TimeSeries" -> TimeSeries.defs, "Temporal" -> Temporal.defs,
    "Pipeline" -> Pipeline.defs, "Layout" -> Layout.defs,
    "Graph" -> Graph.defs, "SqlFront" -> SqlFront.defs,
    "Quality" -> Quality.defs, "Extensions" -> Extensions.defs,
    "Lakehouse" -> Lakehouse.defs, "SqlDml" -> SqlDml.defs,
    "CatalogQueries" -> CatalogQueries.defs)

  def isStreaming(name: String): Boolean =
    name.contains("stream") || name.startsWith("q163_") || name.startsWith("q173_")

  /** The selection rule. Each group is a set of modules and a stride `k`:
    * every k-th entry of the group's modules, ordered by name, streaming
    * entries left out (k = 0 takes none). Then every `streamStride`-th of
    * the registry's streaming entries by name (0: none), then the entries
    * named by their qNN key. */
  def select(groups: Seq[(Seq[String], Int)], streamStride: Int,
      include: Set[String]): Seq[QueryDef] = {
    val byModule = Modules.toMap
    def every(k: Int, defs: Seq[QueryDef]) =
      if (k <= 0) Nil else defs.sortBy(_.name).zipWithIndex.collect { case (d, i) if i % k == 0 => d }
    val strided = groups.flatMap { case (mods, k) =>
      every(k, mods.flatMap(byModule).filterNot(d => isStreaming(d.name))) }
    val all = Modules.flatMap(_._2)
    val streams = every(streamStride, all.filter(d => isStreaming(d.name)))
    val named = all.filter(d => include(d.name.takeWhile(_ != '_')))
    (strided ++ streams ++ named).distinctBy(_.name)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** An op whose output is a frame: the action runs it into the noop sink. */
  def frame(df: DataFrame): Built = Built(() => noop(df), () => df)

  def registryOps(args: Map[String, String], data: String): Seq[Op] = {
    // --groups "ModA,ModB:k;ModC:k2"
    val groups = args.getOrElse("groups", "").split(';').filter(_.nonEmpty).toSeq.map { g =>
      val Array(mods, k) = g.split(':')
      (mods.split(',').toSeq, k.toInt)
    }
    val defs = select(groups, args.getOrElse("stream-stride", "0").toInt,
      args.getOrElse("include", "").split(',').filter(_.nonEmpty).toSet)
    val oracle = SparkEntry.oracleSql
    val rnd = new scala.util.Random(args("seed").toLong)
    rnd.shuffle(defs.sortBy(_.name)).map { d =>
      Op(d.name, oracle.get(d.name), spark => frame(d.run(spark, data)))
    }
  }

  /** The MapReduce jobs over `<data>/corpus`, whose lines are `<id>\t<words>`. */
  def mrOps(data: String, out: String): Seq[Op] = {
    val dir = s"$data/corpus"
    def words(l: String): Array[String] = l.substring(l.indexOf('\t') + 1).split(' ')
    def wordCount(spark: SparkSession, in: graft.operators.MRInput[String]) = {
      import spark.implicits._
      in.mapToPairs(l => words(l).iterator.map(w => (w, 1L))).reduceByKey(_ + _)
    }
    Seq(
      Op("wordcount", None, spark =>
        frame(wordCount(spark, MRJob.textDir(spark, dir)).toDF("key", "value"))),
      Op("wordlength", None, spark => {
        import spark.implicits._
        frame(MRJob.textDir(spark, dir)
          .mapToPairs(l => words(l).iterator.map(w => (w.length, 1L)))
          .reduceByKey(_ + _).toDF("key", "value"))
      }),
      Op("wordcount_chunks", None, spark =>
        frame(wordCount(spark, MRJob.chunkedTextDir(spark, dir, 15000))
          .toDF("key", "value"))),
      Op("inverted_index", None, spark => {
        import spark.implicits._
        frame(MRJob.textDir(spark, dir)
          .mapToPairs { l =>
            val id = l.substring(0, l.indexOf('\t')).toLong
            words(l).distinct.iterator.map(w => (w, id))
          }
          .reduceGroupsSorted((_: String, ids: Seq[Long]) => ids.mkString(","))
          .toDF("key", "value"))
      }),
      Op("wordcount_tsv", None, spark => {
        val sink = s"$out/tsv"
        val job = wordCount(spark, MRJob.textDir(spark, dir))
        Built(() => job.writeTsv(sink, 4),
          () => spark.read.option("sep", "\t").csv(sink).toDF("key", "value"))
      }))
  }

  def buildSession(workDir: String, master: String): SparkSession = {
    val spark = Sessions.forMaster(SparkSession.builder(), master)
      .master(master)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", Sessions.warehouseDir())
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.graft", classOf[graft.catalog.GraftCatalog].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/local")
      .getOrCreate()
    Tables.sessionConf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Resolve every input schema the workload reads. */
  def resolveInputs(spark: SparkSession, workload: String, data: String): Unit =
    if (workload == "mr_corpus") MRJob.textDir(spark, s"$data/corpus")
    else Tables.names.foreach(t => Tables(spark, data, t).schema)

  /** (path -> (length, mtime)) of every file under `roots`. */
  def tree(roots: Seq[Path]): Map[String, (Long, Long)] =
    roots.filter(Files.isDirectory(_)).flatMap { r =>
      val s = Files.walk(r)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).flatMap { p =>
        try Some(p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        catch { case _: java.io.IOException => None }
      }.toList
      finally s.close()
    }.toMap

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val (workload, data, out) = (args("workload"), args("data"), args("out"))
    val workDir = Paths.get(".").toAbsolutePath.normalize
    // set-up counts from JVM start, so class loading and static initialization count
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = buildSession(workDir.toString, args("master"))
    resolveInputs(spark, workload, data)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val trace = args("trace") == "1"
    val seconds = args("seconds").toDouble
    val ops = if (workload == "mr_corpus") mrOps(data, out) else registryOps(args, data)
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle_sql.json"), ops.flatMap(o => o.oracle.map(o.name -> _))
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}"))

    val sc = spark.sparkContext
    val recorder = new Recorder
    val records = recorder.records
    if (trace) {
      sc.addSparkListener(recorder)
      spark.listenerManager.register(new PlanningRecorder(records))
      spark.streams.addListener(new StreamRecorder(records))
    }
    val scratch = Seq(workDir.resolve("tmp"), workDir.resolve("spark-warehouse"))
    def span(kind: String, name: String, op: String, t0: Long, t1: Long): Unit =
      if (trace) records.add(Json.obj(Seq("kind" -> "span", "span" -> kind, "name" -> name,
        "op" -> op, "start" -> epochMs(t0), "end" -> epochMs(t1))))
    def phase(p: String): Unit = {
      Current.phase = p
      sc.setLocalProperty(Current.PhaseKey, p)
    }

    /** Runs one op; returns its record for result.json and what its build
      * handed back, if the build and the action ran without error. */
    def runOp(op: Op, pass: Int): (String, Option[Built]) = {
      val opId = s"p$pass:${op.name}"
      Current.op = opId
      sc.setLocalProperty(Current.OpKey, opId)
      val before = if (trace) { RuleMeter.reset(); tree(scratch) } else Map.empty[String, (Long, Long)]
      var err: Option[String] = None
      phase("build")
      val t0 = System.nanoTime()
      val built = try Some(op.build(spark)) catch { case e: Throwable =>
        err = Some(s"build: ${e.getClass.getSimpleName}: ${e.getMessage}"); None }
      val t1 = System.nanoTime()
      phase("action")
      built.foreach { b =>
        try b.act() catch { case e: Throwable =>
          err = Some(s"action: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      val t2 = System.nanoTime()
      val fields = mutable.ArrayBuffer[(String, Any)](
        "op" -> op.name, "pass" -> pass, "build_s" -> (t1 - t0) / 1e9,
        "action_s" -> (t2 - t1) / 1e9)
      if (trace) {
        ListenerBridge.drain(sc)
        val rules = RuleMeter.graftRules()
        fields += "rules" -> rules.map { case (r, ns, n, eff) =>
          Map("rule" -> r, "ns" -> ns, "runs" -> n, "effective" -> eff) }
        val after = tree(scratch)
        val written = after.filter { case (p, v) => !before.get(p).contains(v) }
        fields += "files_written" -> written.size
        fields += "bytes_written" -> written.values.map(_._1).sum
        span("build", op.name, opId, t0, t1)
        span("action", op.name, opId, t1, t2)
        span("op", op.name, opId, t0, t2)
      }
      if (trace) ListenerBridge.drain(sc)
      fields += "error" -> err
      Current.op = ""
      sc.setLocalProperty(Current.OpKey, null)
      (Json.obj(fields.toSeq), built.filter(_ => err.isEmpty))
    }

    /** The untimed check pass: writes the output of each op of the last
      * pass to `<out>/check/<op>`. Its jobs carry no op id, so the trace
      * leaves them out. Returns one record per written op, with the error
      * if the write threw. */
    def checkPass(built: Seq[(Op, Built)]): Seq[String] = {
      phase("check")
      built.map { case (op, b) =>
        val err = try {
          b.result().write.mode("overwrite").parquet(s"$out/check/${op.name}")
          None
        } catch { case e: Throwable => Some(s"check: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        Json.obj(Seq("op" -> op.name, "error" -> err))
      }
    }

    val passRecords = mutable.ArrayBuffer[String]()
    val heap = ManagementFactory.getMemoryMXBean
    /** Used heap after full collections, repeated while the heap still
      * shrinks: Spark's cleaner frees an op's broadcast and shuffle blocks
      * asynchronously, after the collection that found them unreachable. */
    def settledHeap(): Long = {
      System.gc()
      var prev = Long.MaxValue
      var cur = heap.getHeapMemoryUsage.getUsed
      var rounds = 1
      while (rounds < 6 && prev - cur > (1L << 20)) {
        Thread.sleep(100)
        System.gc()
        prev = cur
        cur = heap.getHeapMemoryUsage.getUsed
        rounds += 1
      }
      cur
    }
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    /** Host CPU jiffies per field of /proc/stat's first line. */
    def hostCpu(): Array[Long] =
      Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    var lastBuilt = Seq.empty[(Op, Built)]
    /** Runs one pass; returns its timed seconds. */
    def runPass(pass: Int): Double = {
      val host0 = hostCpu()
      val cpu0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val ran = ops.map(op => op -> runOp(op, pass))
      val t1 = System.nanoTime()
      val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
      val host = hostCpu().zip(host0).map { case (a, b) => a - b }
      val recs = ran.map(_._2._1)
      lastBuilt = ran.flatMap { case (op, (_, b)) => b.map(op -> _) }
      span("pass", s"pass$pass", "", t0, t1)
      // Between passes clear exactly what graft.Bench clears. Doing it before
      // the heap reading keeps that reading independent of which op ran last.
      Dedup.clearCcCache()
      val heapMb = settledHeap() / 1048576.0
      passRecords += Json.obj(Seq("pass" -> pass, "cpu_s" -> cpuS,
        "steal_frac" -> (if (host.length > 7) host(7).toDouble / math.max(1L, host.sum) else 0.0),
        "heap_mb" -> heapMb, "settle_s" -> (System.nanoTime() - t1) / 1e9,
        "ops" -> recs.map(Json.Raw)))
      (t1 - t0) / 1e9
    }

    val runT0 = System.nanoTime()
    runPass(1)
    // After the cold pass, --warmup-passes warm passes that no metric counts,
    // while the JIT still settles, then --warm-passes measured ones, at least
    // one. No pass after the first measured one is started that would end
    // more than --seconds after the cold pass, so a slow host shortens the
    // run instead of overrunning it.
    val warmup = args.getOrElse("warmup-passes", "0").toInt
    val lastPlanned = 1 + warmup + args("warm-passes").toInt
    val warmT0 = System.nanoTime()
    var pass = 1
    var lastPass = 0.0
    while (pass < lastPlanned && (pass < 2 + warmup ||
        (System.nanoTime() - warmT0) / 1e9 + lastPass <= seconds)) {
      pass += 1
      lastPass = runPass(pass)
    }
    span("run", workload, "", runT0, System.nanoTime())
    val checkT0 = System.nanoTime()
    val checked = checkPass(lastBuilt)
    val checkS = (System.nanoTime() - checkT0) / 1e9
    if (trace) ListenerBridge.drain(sc)

    val rt = Runtime.getRuntime
    val context = Seq("master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> rt.maxMemory / 1048576.0,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "tmpdir" -> System.getProperty("java.io.tmpdir"))
    Files.writeString(Paths.get(out, "result.json"), Json.obj(Seq(
      "workload" -> workload, "setup_s" -> setupS, "trace" -> trace,
      "warmup_passes" -> warmup, "check_s" -> checkS,
      "ops" -> ops.map(_.name), "context" -> context.toMap,
      "passes" -> passRecords.map(Json.Raw), "check" -> checked.map(Json.Raw))))
    if (trace) Files.write(Paths.get(out, "trace.jsonl"), records.asScala.toSeq.asJava)
    spark.stop()
  }
}
