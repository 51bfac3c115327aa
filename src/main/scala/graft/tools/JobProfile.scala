package graft.tools

import graft.{Runner, Sessions, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** Dev harness (guide §1): attribute a query's wall time to its Spark
  * jobs. Runs each named query once at bench conf (local[$SPARK_GRAFT_CPUS],
  * sf dir from $SPARK_GRAFT_SF_DIR) through the noop sink and prints one
  * line per job — start offset, duration, task count, call site — plus the
  * driver-side gaps (time where NO job ran: planning, file listing,
  * manifest IO, collect-side work). That split is the first question of
  * any optimization: executor compute vs driver/fixed overhead.
  *
  * Usage: runMain graft.tools.JobProfile <queryName> [<queryName>...]
  *        runMain graft.tools.JobProfile --all
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    // --all: run EVERY registered query once and print a global ranking of
    // job time by call site (plus total gap time) — where does the whole
    // bench spend its Spark jobs, and how much of it is between-job driver
    // work. The per-query detail mode stays for drill-down.
    val detail = !args.sameElements(Array("--all"))
    val entries = Runner.select(SparkEntry.queries,
      if (detail) Some(args.mkString(",")) else None)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.build("graft-profile", Sessions.master(s"local[$cpus]"), cpus)

    case class Job(id: Int, t0: Long, var t1: Long = 0L, var tasks: Int = 0,
        var site: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val job = Job(j.jobId, j.time,
          tasks = j.stageInfos.map(_.numTasks).sum,
          site = j.stageInfos.lastOption.map(_.name).getOrElse(""))
        jobs.put(j.jobId, job)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.get(j.jobId)).foreach(_.t1 = j.time)
      }
    })

    var allGaps = 0.0; var allSpan = 0.0; var allWall = 0.0
    val bySite = scala.collection.mutable.Map.empty[String, (Int, Double)]

    Runner.run("profile", spark, sfDir, entries, passes = 1, new Runner.Sink {
      override def before(name: String, pass: Int): Unit = jobs.clear()
      def write(name: String, df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      override def after(o: Runner.Outcome): Unit = {
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        val sorted = jobs.values.toArray(Array.empty[Job]).sortBy(_.t0)
        val base = sorted.headOption.map(_.t0).getOrElse(0L)
        if (detail)
          println(s"========== ${o.name}  wall=${f"${o.seconds}%.2f"}s  jobs=${sorted.length} ==========")
        var lastEnd = base
        var gapTotal = 0L
        // a job that never saw onJobEnd (still running / listener raced the
        // drain) has t1 == 0; its "duration" would be a huge negative that
        // corrupts the per-site totals — report it and skip
        for (j <- sorted if j.t1 != 0L || { System.err.println(
            s"[profile] job ${j.id} (${j.site}) unfinished - skipped"); false }) {
          val gap = math.max(0L, j.t0 - lastEnd)
          gapTotal += gap
          val dur = (j.t1 - j.t0) / 1e3
          if (detail)
            println(f"  job ${j.id}%3d  +${(j.t0 - base) / 1e3}%7.2fs  dur=$dur%6.2fs  gapBefore=${gap / 1e3}%5.2fs  tasks=${j.tasks}%4d  ${j.site}")
          val (c, t) = bySite.getOrElse(j.site, (0, 0.0))
          bySite(j.site) = (c + 1, t + dur)
          lastEnd = math.max(lastEnd, j.t1)
        }
        val jobSpan = if (sorted.nonEmpty) (lastEnd - base) / 1e3 else 0.0
        allGaps += gapTotal / 1e3; allSpan += jobSpan; allWall += o.seconds
        if (detail)
          println(f"  [sum] jobSpan=$jobSpan%.2fs  gapsWithinSpan=${gapTotal / 1e3}%.2fs  outsideJobs=${o.seconds - jobSpan}%.2fs")
      }
    })
    println(f"[global] wall=$allWall%.1fs jobSpan=$allSpan%.1fs gapsWithinSpan=$allGaps%.1fs outsideJobs=${allWall - allSpan}%.1fs")
    println("[global] job time by call site (top 40):")
    bySite.toSeq.sortBy(-_._2._2).take(40).foreach { case (s, (c, t)) =>
      println(f"  $t%8.2fs  n=$c%5d  $s")
    }
    spark.stop()
  }
}
