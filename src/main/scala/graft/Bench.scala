package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total","value":N,"unit":"sec",...}.
  *
  * Results are materialized through the `noop` sink — every row is fully
  * computed and handed to the writer, but nothing is serialized to disk.
  * (A bare `.count()` would let Catalyst prune all projected columns and
  * time an empty row count instead of the query.)
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // Scratch on tmpfs when available (SPARK_GRAFT_TMPFS=0 opts out): the
    // streaming queries pay a per-micro-batch state-store/checkpoint fsync
    // tax that on a contended ext4 /tmp swings 40% run-to-run on identical
    // binaries (BENCH_NOTES §r11 adjudication). Temp dirs — checkpoints,
    // COW layouts, snapshot stores — move to /dev/shm so the measurement
    // isolates COMPUTE, matching how a production cluster provisions
    // local-SSD scratch rather than sharing a cold system disk. Must run
    // before any temp-dir allocation.
    // The artifact stamps whichever mode actually ran ("scratch" below),
    // so bench_full.json is self-describing across rounds, and tmpfs is
    // only opted into when /dev/shm has real headroom (>=4 GiB free) —
    // at larger scale factors a near-full RAM disk would trade the fsync
    // tax for ENOSPC mid-run.
    var scratchMode = "ext4"
    if (sys.env.getOrElse("SPARK_GRAFT_TMPFS", "1") == "1") {
      val shm = java.nio.file.Paths.get("/dev/shm")
      val freeOk = try java.nio.file.Files.getFileStore(shm)
        .getUsableSpace >= (4L << 30) catch { case _: Throwable => false }
      if (java.nio.file.Files.isWritable(shm) && freeOk) {
        val scratch = java.nio.file.Files.createTempDirectory(shm, "graft_bench")
        graft.streaming.EventStreams.deleteTreeOnExit(scratch)
        System.setProperty("java.io.tmpdir", scratch.toString)
        scratchMode = "tmpfs"
        System.err.println(s"[bench] scratch on tmpfs: $scratch")
      } else if (java.nio.file.Files.isWritable(shm)) {
        System.err.println("[bench] /dev/shm under 4 GiB free - staying on ext4")
      }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val entries = Runner.select(SparkEntry.queries)
    val spark = Sessions.build("graft-bench", Sessions.master(s"local[$cpus]"), cpus)
    // Default TWO passes: pass 1 cold (JIT + codegen compile included),
    // pass 2 warm — the shape a long-lived cluster sees. Per-query times
    // are the MIN across passes (a one-off host-contention spike on any
    // single pass then can't masquerade as a regression) and per-pass
    // totals are reported alongside so cold-vs-warm remains visible.
    // SPARK_GRAFT_PASSES=1 restores a single cold pass for iteration.
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt)
    // Measured shuffle attribution: a stage listener accumulates shuffle
    // write + spill bytes; the bus is DRAINED at each query boundary
    // (ListenerBridge — async delivery would otherwise credit a query's
    // tail stages to its successor) and pass-1 deltas are recorded per
    // query. This turns SCALE.md's shuffle-shape claims into numbers the
    // bench artifact carries (bench_full.json "shuffle_w_mb"/"spill_mb").
    val shufW = new java.util.concurrent.atomic.AtomicLong(0)
    val spill = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = s.stageInfo.taskMetrics
          if (m != null) {
            shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
      })
    var shuffleMb = Map.empty[String, (Double, Double)] // pass-1 (write, spill)
    val runs = Runner.run("bench", spark, sfDir, entries, passes, new Runner.Sink {
      private var w0, s0 = 0L
      override def before(name: String, pass: Int): Unit = {
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        w0 = shufW.get; s0 = spill.get
      }
      def write(name: String, df: DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      override def after(o: Runner.Outcome): Unit = if (o.pass == 1) {
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
        shuffleMb += o.name -> (((shufW.get - w0) / 1e6, (spill.get - s0) / 1e6))
      }
    })
    val failed = Runner.failed(runs)
    // min across SUCCESSFUL passes, in the stable pass-1 query order — a
    // pass that threw early must not report its short elapsed as a speedup;
    // a query that never succeeded falls back to min over all its passes.
    val results = runs.transpose.map { rs =>
      val good = rs.filter(_.ok).map(_.seconds)
      rs.head.name -> (if (good.nonEmpty) good.min else rs.map(_.seconds).min)
    }
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // The driver keeps only the LAST ~2000 chars of output and parses the
    // JSON line out of that tail; with ~100 queries the full-name map blows
    // that budget and the line arrives truncated (unparseable). stdout gets
    // short keys (Runner.shortKey, unique per run) to stay well under the
    // window; the full-name map goes to bench_full.json.
    val qs = results.map { case (k, v) =>
      "\"" + Runner.shortKey(k) + "\":" + f"$v%.3f"
    }.mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fsShort = (if (failed.size > 10) failed.take(10) :+ s"+${failed.size - 10}_more" else failed)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val passTotals = runs.map(r => f"${r.map(_.seconds).sum}%.3f")
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val shufJson = results.map { case (k, _) =>
      val (w, s) = shuffleMb.getOrElse(k, (0.0, 0.0))
      "\"" + k + "\":" + f"[$w%.1f,$s%.1f]"
    }.mkString("{", ",", "}")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$fsShort,"pass_totals":$passTotals,"n_queries":${results.size},"sf":"$sfDir"}"""
    val fullLine = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$fullQs,"failed":$fs,"pass_totals":$passTotals,"n_queries":${results.size},"shuffle_w_spill_mb":$shufJson,"scratch":"$scratchMode","sf":"$sfDir"}"""
    // Full-fidelity copy with long query names; SPARK_GRAFT_OUT_DIR anchors
    // it (default: cwd) so running from another directory doesn't scatter it.
    val fullPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "."), "bench_full.json")
    try {
      java.nio.file.Files.createDirectories(fullPath.getParent)
      java.nio.file.Files.write(fullPath, (fullLine + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full results: ${fullPath.toAbsolutePath}")
    }
    catch { case e: Throwable => System.err.println(s"[bench] ${fullPath.toAbsolutePath} write failed: ${e.getMessage}") }
    println(line)
    spark.stop()
  }
}
