package graft

import org.apache.spark.sql.SparkSession

/**
 * Round-7 optimization harness (guide §1.4): time individual SparkEntry
 * queries in isolation with the SAME session config and consumption
 * protocol as the frozen [[Bench]] per-query sweep (noop write +
 * checkpoint-block release inside the timed region), without paying the
 * full 125-query sweep per measurement.
 *
 * Args: <q1,q2,...|all> [reps]
 * Env:  SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
 *       SPARK_GRAFT_CPUS (default 32),
 *       GRAFT_PLAN_OUT — if set, write each query's explain("formatted")
 *       to $GRAFT_PLAN_OUT/<name>.txt (plan evidence for plans/r07/).
 *
 * Output: one line per rep, `EXTRA <name> rep=<r> sec=<t>` (or `FAILED:`
 * with the exception), plus `EXTRA <name> failed=<f>/<reps>` when a rep
 * failed and `EXTRA <name> min=<t>` over the reps that succeeded (no
 * `min` line when none did). No JSON — the driver's artifact comes
 * from [[Bench]] alone.
 */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = if (args.length > 1) args(1).toInt else 3
    val names =
      if (args.isEmpty || args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val planOut = sys.env.get("GRAFT_PLAN_OUT")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "50000000")
      .config("spark.local.dir", "/dev/shm/graft-bench")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // GRAFT_CODEGEN_LOG=1: surface the codegen INFO lines that flag the
    // JVM's 8000-byte JIT huge-method cliff (CLAUDE.md gotcha)
    if (sys.env.contains("GRAFT_CODEGEN_LOG"))
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
        org.apache.logging.log4j.Level.INFO)
    // GRAFT_JOBLOG=1: print every Spark job's wall time + description —
    // the guide-§1 empirical view (which job eats the query) without the UI
    if (sys.env.contains("GRAFT_JOBLOG")) {
      val t0 = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          t0.put(j.jobId, (System.nanoTime(),
            Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = t0.remove(j.jobId)
          if (st != null) println(
            f"JOB ${j.jobId}%4d ${(System.nanoTime() - st._1) / 1e9}%7.3f s  ${st._2}")
        }
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val wall = for {a <- i.completionTime; b <- i.submissionTime} yield (a - b) / 1e3
          val cpu = i.taskMetrics.executorRunTime / 1e3
          if (wall.exists(_ > 0.05)) {
            println(
              f"  STAGE ${i.stageId}%4d wall=${wall.get}%6.3f taskSum=${cpu}%7.3f tasks=${i.numTasks}%3d  ${i.name.takeWhile(_ != '\n')}")
            if (i.numTasks == 1 && wall.exists(_ > 0.1))
              i.details.linesIterator.filter(_.contains("graft")).take(4)
                .foreach(l => println(s"      at $l"))
          }
        }
      })
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      planOut.foreach { dir =>
        var df: org.apache.spark.sql.DataFrame = null
        try {
          df = fn(s, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"$name.txt"), plan.getBytes("UTF-8"))
        } finally if (df != null)
          org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(df)
      }
      // a rep that throws is a failure, not a time: it stays out of min=
      val times = (1 to reps).flatMap { r =>
        s.sparkContext.setJobDescription(s"extra:$name rep$r")
        val t0 = System.nanoTime()
        var df: org.apache.spark.sql.DataFrame = null
        val ok = try {
          df = fn(s, sfDir)
          df.write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable => println(s"EXTRA $name rep=$r FAILED: $e"); false }
        finally if (df != null)
          org.apache.spark.sql.GraftBridge.releaseCheckpointBlocks(df)
        val dt = (System.nanoTime() - t0) / 1e9
        if (ok) println(f"EXTRA $name rep=$r sec=$dt%.3f")
        Option.when(ok)(dt)
      }
      if (times.size < reps) println(s"EXTRA $name failed=${reps - times.size}/$reps")
      if (times.nonEmpty) println(f"EXTRA $name min=${times.min}%.3f")
      if (sys.env.contains("GRAFT_JOBLOG")) {
        val infos = s.sparkContext.getRDDStorageInfo
        val mb = infos.map(i => i.memSize + i.diskSize).sum / 1e6
        println(f"STORAGE after $name: ${infos.length} rdds ${mb}%.1f MB")
      }
    }
    s.stop()
  }
}
