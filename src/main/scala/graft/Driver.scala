package graft

import java.util.jar.JarFile

import graft.operators.MRJob
import org.apache.spark.sql.SparkSession

/** The engine's user-facing job contract for [[Driver]]-submitted jars —
  * the graft counterpart of the reference's reflective client interface
  * (a jar whose manifest Main-Class carries `map`/`reduce` methods over
  * Text/IntWritable, `framework-src/MapRunner.java:42-77`,
  * `wordcount-src/WordCount.java:13-35`). Typed Scala instead of
  * reflection: `map` emits string pairs per input line via the collector,
  * `merge` is the associative combine the reference expresses as
  * `AddInterface.add` (`framework-src/AddInterface.java:10-12`). */
trait MRClientJob extends Serializable {
  def map(line: String, collect: (String, String) => Unit): Unit
  def merge(a: String, b: String): String
}

/** Argv-compatible command-line entry point — the reference's only user
  * surface (`framework-src/Driver.java:63-68` dispatching to
  * `ClientDriver.java:40-51`):
  *
  *   startjob <jobName> <jarPath> <inputDir> <outputDir> <numReducers>
  *
  * re-expressed Spark-first: instead of RMI-submitting to a master daemon,
  * the driver IS the Spark application — it builds a session, runs the job
  * through the [[graft.operators.MRJob]] facade (chunked DSV2 input when
  * `NUM_RECORDS_PER_CHUNK` is configured, Spark byte-range splits
  * otherwise), and writes file-per-reducer TSV through the `graft-tsv`
  * manifest-committing sink. The session is [[Sessions.build]]'s, like
  * every graft main's: 32 shuffle partitions, the graft extensions, the
  * UTC time zone and WARN logging; the master is `spark-submit --master`'s
  * when set, else `SPARK_GRAFT_MASTER`, else `local[*]`
  * ([[Sessions.master]]). `master`/`slave` bootstrap verbs
  * (`Driver.java:72-79`) have no standalone-daemon equivalent — cluster
  * formation is Spark's job (`spark-submit --master`), and the CLI says so
  * rather than pretending.
  *
  * Configuration parity: an optional `config.txt` (reference
  * `Driver.java:85-135`; path overridable via `GRAFT_CONFIG`) supplies
  * `NUM_RECORDS_PER_CHUNK` and `DATA_NODES` — the reference caps the
  * reducer count at the data-node count (`ClientDriver.java:86-90`), so
  * the CLI does too when the key is present.
  *
  * Job resolution: built-in names (`wordcount`, `wordlength` — the two
  * clients the reference ships) resolve from the classpath with `<jarPath>`
  * ignored (pass `-`); any other name loads `<jarPath>`'s manifest
  * Main-Class (the reference's lookup, `MapRunner.java:42-48`), which must
  * implement [[MRClientJob]]. On a cluster the same jar rides along via
  * `spark-submit --jars`, so executor closures resolve it there too.
  */
object Driver {

  private val usage =
    """usage:
      |  startjob <jobName> <jarPath> <inputDir> <outputDir> <numReducers>
      |      run a MapReduce job (jobName: wordcount | wordlength | a name
      |      resolved from <jarPath>'s manifest Main-Class implementing
      |      graft.MRClientJob; jarPath '-' for built-ins)
      |  master | slave
      |      not applicable: cluster formation is Spark's
      |      (spark-submit --master ...); no graft daemons exist""".stripMargin

  /** Built-in ports of the reference's two shipped clients
    * (`wordcount-src/WordCount.java:13-35`, `wordlength-src/WordLength
    * .java:13-40`): whitespace tokenization, count 1 per token, integer
    * sum merge — all over strings, as in the reference's TSV shuffle. */
  private val builtins: Map[String, MRClientJob] = Map(
    "wordcount" -> new MRClientJob {
      def map(line: String, collect: (String, String) => Unit): Unit =
        line.split("[ \t\n\r\f]+").iterator.filter(_.nonEmpty)
          .foreach(collect(_, "1"))
      def merge(a: String, b: String): String = (a.toLong + b.toLong).toString
    },
    "wordlength" -> new MRClientJob {
      def map(line: String, collect: (String, String) => Unit): Unit =
        line.split("[ \t\n\r\f]+").iterator.filter(_.nonEmpty)
          .foreach(t => collect(t.length.toString, "1"))
      def merge(a: String, b: String): String = (a.toLong + b.toLong).toString
    })

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("startjob") if args.length == 6 =>
      val Array(_, jobName, jarPath, inDir, outDir, nStr) = args
      val clientJars =
        if (new java.io.File(jarPath).isFile) Seq(jarPath) else Nil
      val spark = Sessions.build(s"graft-$jobName", Sessions.master("local[*]"),
        32, clientJars)
      val n =
        try nStr.toInt
        catch { case e: NumberFormatException =>
          System.err.println(s"numReducers must be an integer; got '$nStr'")
          spark.stop(); sys.exit(2)
        }
      try startJob(spark, jobName, jarPath, inDir, outDir, n)
      finally spark.stop()
    case Some("master") | Some("slave") =>
      System.err.println(
        "graft has no master/slave daemons: the engine runs wherever Spark " +
          "runs. Use spark-submit --master <url> with startjob instead.")
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }

  /** The job body, separated from session lifecycle for tests. */
  def startJob(spark: SparkSession, jobName: String, jarPath: String,
      inDir: String, outDir: String, numReducers: Int): Unit = {
    import spark.implicits._
    val conf = readConfig()
    // reference ClientDriver.java:86-90: reducers never exceed data nodes
    val reducers = conf.get("DATA_NODES") match {
      case Some(nodes) =>
        math.min(math.max(1, numReducers), nodes.split(";").count(_.nonEmpty))
      case None => math.max(1, numReducers)
    }
    val job = resolveJob(jobName, jarPath)
    // A non-built-in job's class bytes live only in the client jar: ship it
    // to executors (the programmatic `spark-submit --jars` — reference
    // contract MapRunner.java:42-53 copies the jar to every worker) so the
    // closure's instance DESERIALIZES there. A no-op on local[*]; required
    // the moment a real executor boundary exists.
    if (!builtins.contains(jobName.toLowerCase))
      spark.sparkContext.addJar(jarPath)
    val rpc = conf.get("NUM_RECORDS_PER_CHUNK").map { raw =>
      try raw.trim.toInt
      catch { case e: NumberFormatException =>
        throw new IllegalArgumentException(
          s"config NUM_RECORDS_PER_CHUNK must be an integer; got '$raw'", e)
      }
    }
    val input = rpc match {
      case Some(n) if n > 0 => MRJob.chunkedTextDir(spark, inDir, n)
      case _ => MRJob.textDir(spark, inDir)
    }
    input
      .mapToPairs { line =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        job.map(line, (k, v) => buf += ((k, v)))
        buf
      }
      .reduceByKey(job.merge)
      .pairs
      .repartition(reducers, org.apache.spark.sql.functions.col("_1"))
      .toDF("key", "value")
      .write.format("graft-tsv").mode("overwrite").save(outDir)
  }

  /** `config.txt` in the working directory (or `GRAFT_CONFIG`), reference
    * key=value line format (`Driver.java:85-135`); absent file = defaults,
    * matching the reference's warn-and-continue. */
  private[graft] def readConfig(): Map[String, String] = {
    val path = java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_CONFIG", "config.txt"))
    if (!java.nio.file.Files.isRegularFile(path)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(path).asScala
        .map(_.trim).filter(l => l.nonEmpty && l.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }
        .toMap
    }
  }

  private[graft] def resolveJob(jobName: String, jarPath: String): MRClientJob =
    builtins.get(jobName.toLowerCase) match {
      case Some(job) => job
      case None =>
        val jar = new java.io.File(jarPath)
        require(jar.isFile, s"job '$jobName' is not built-in and jar " +
          s"'$jarPath' does not exist (built-ins: ${builtins.keys.mkString(", ")})")
        val mainClass = {
          val jf = new JarFile(jar)
          try Option(jf.getManifest)
            .flatMap(m => Option(m.getMainAttributes.getValue("Main-Class")))
            .getOrElse(throw new IllegalArgumentException(
              s"$jarPath has no manifest Main-Class"))
          finally jf.close()
        }
        val cl = new java.net.URLClassLoader(
          Array(jar.toURI.toURL), getClass.getClassLoader)
        cl.loadClass(mainClass).getDeclaredConstructor().newInstance() match {
          case job: MRClientJob => job
          case other => throw new IllegalArgumentException(
            s"$mainClass must implement graft.MRClientJob, got ${other.getClass}")
        }
    }
}
