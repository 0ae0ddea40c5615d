package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM. Untraced (`--trace 0`): four legs at
 * 4N, N, 4N and N threads, each a session built and fed freshly written
 * inputs; an untimed check job in the first leg, untimed warm-up jobs,
 * then timed fused jobs. Traced (`--trace 1`): one
 * 4N session; kernels, untraced and traced fused jobs, and the
 * per-operator split run. Prints one `GRAFTBENCH_RESULT {json}` line
 * with the metrics it measured; `run.py` matches them against
 * BENCHMARK.json, which holds the names and units. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, spawnMs: Long, lo: Int, hi: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m("spawn-ms").toLong, m("lo").toInt, m("hi").toInt)
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "geo_tiles" => new GeoTiles(seed)
    case "join_knn" => new JoinKnn(seed)
    case "curate_snapshot" => new CurateSnapshot(seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def session(k: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName(s"graftbench-$k")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", k.toLong)
      .config("spark.default.parallelism", k.toLong)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.spatialJoin.res", "7")
      .config("spark.graft.spatialJoin.edgeIndexBands", "16")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "50000000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val mem = ManagementFactory.getMemoryMXBean

  /** After a job: forced GC, then live heap, cached RDD blocks and
   * engine scratch dirs left behind. */
  final case class Leftover(heapMb: Double, rddBlocks: Long, scratchDirs: Long)
  def leftover(spark: SparkSession, work: Path): Leftover = {
    // twice: the first GC lets the ContextCleaner and asynchronous
    // unpersists drop what became unreachable
    mem.gc(); Thread.sleep(50); mem.gc()
    val blocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
    val local = work.resolve("spark-local")
    val scratch = Util.tree(local).count(_.getFileName.toString.startsWith("graft-scratch")).toLong
    Leftover(mem.getHeapMemoryUsage.getUsed / 1048576.0, blocks, scratch)
  }

  def main(argv: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = parse(argv)
    val bootS = (mainMs - a.spawnMs) / 1000.0
    val w = workload(a.workload, a.seed)
    Files.createDirectories(a.work)
    var attempted = 0; var failed = 0
    val failures = ArrayBuffer[String]()
    val leftovers = ArrayBuffer[Leftover]()
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
    val detail = scala.collection.mutable.LinkedHashMap[String, Any]()
    val digests = ArrayBuffer[(Int, String)]()
    val jobExtras = ArrayBuffer[Map[String, Double]]()

    def attempt[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f)
      catch { case scala.util.control.NonFatal(e) =>
        failed += 1; failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
      }
    }
    def checked(spark: SparkSession, dir: Path, k: Int, first: Boolean): Unit = {
      val t0 = System.nanoTime()
      attempt(s"check@$k")(w.check(spark, dir, first)).foreach { c =>
        if (c.failures.nonEmpty) { failed += 1; failures ++= c.failures.map(f => s"check@$k: $f") }
        digests += k -> c.digest
        detail ++= c.extra
      }
      detail(s"check_s_$k") = (System.nanoTime() - t0) / 1e9
    }
    /** Timed fused jobs until `budgetS` is spent (at least `minJobs`);
     * every job's output digest joins the leg digests. */
    def timed(spark: SparkSession, dir: Path, k: Int, budgetS: Double, minJobs: Int)
        (run: => JobOut): Seq[Double] = {
      val ips = ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      var n = 0
      while (n < minJobs || (System.nanoTime() - t0) / 1e9 < budgetS) {
        val s0 = System.nanoTime()
        attempt(s"job@$k")(run).foreach { o =>
          ips += w.items / ((System.nanoTime() - s0) / 1e9)
          digests += k -> o.digest
          jobExtras += o.extra
        }
        leftovers += leftover(spark, a.work)
        n += 1
      }
      ips.toSeq
    }
    val setups = ArrayBuffer[Double]()
    def leg(k: Int, tag: String): (SparkSession, Path) = {
      val t0 = System.nanoTime()
      val spark = session(k, a.work)
      val t1 = System.nanoTime()
      val dir = a.work.resolve(s"leg-$tag")
      Util.deleteTree(dir)
      w.write(spark, dir)
      setups += (System.nanoTime() - t0) / 1e9
      detail(s"setup_session_s_$tag") = (t1 - t0) / 1e9
      detail(s"setup_write_s_$tag") = (System.nanoTime() - t1) / 1e9
      (spark, dir)
    }
    def close(spark: SparkSession, dir: Path): Unit = {
      spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      Util.deleteTree(dir)
    }

    if (!a.trace) {
      // The levels alternate 4N, N, 4N, N, one session per leg, so a slow
      // drift of the host's speed lands on both levels alike. Each session
      // runs untimed warm-up jobs before its timed ones: the first job in a
      // new session pays a one-off penalty. The first leg is at 4N, where
      // the check job and the JIT's warm-up cost the least wall time.
      val plan = Seq((a.hi, "4n", 0.45), (a.lo, "n", 0.55), (a.hi, "4n", 0.45), (a.lo, "n", 0.55))
      val ips = scala.collection.mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
      plan.zipWithIndex.foreach { case ((k, tag, share), i) =>
        val (spark, dir) = leg(k, s"$tag$i")
        // the first leg's check job adds to its warm-up
        if (i == 0) checked(spark, dir, k, first = true)
        timed(spark, dir, k, 0, if (i == 0) w.firstWarmJobs else w.warmJobs)(w.job(spark, dir))
        ips(tag) ++= timed(spark, dir, k, share * a.seconds / 2, w.minJobs)(w.job(spark, dir))
        close(spark, dir)
      }
      val hiIps = ips("4n"); val loIps = ips("n")
      val ratio = a.hi.toDouble / a.lo
      metrics("items_per_s") = Util.med(hiIps)
      metrics("items_per_s_n") = Util.med(loIps)
      metrics("scaling_eff") = metrics("items_per_s") / (ratio * metrics("items_per_s_n"))
      // the JVM's own start (detail jvm_boot_s) moved 0.3-0.7 s between
      // runs, more than a whole warm set-up, so it stays out of setup_s
      metrics("setup_s") = Util.med(setups.toSeq)
      metrics("live_heap_mb") = leftovers.map(_.heapMb).max
      metrics("stored_bytes_per_input_byte") = Util.med(jobExtras.map(_("stored_bytes_per_input_byte")).toSeq)
      detail ++= Map("items_per_s_samples_4n" -> hiIps, "items_per_s_samples_n" -> loIps,
        "setup_samples_s" -> setups.toSeq, "jvm_boot_s" -> bootS)
    } else {
      val (spark, dir) = leg(a.hi, "trace")
      val kern = w.kernels(0.15)
      checked(spark, dir, a.hi, first = true)
      val probe = new Probe(spark)
      val tracer = new Tracer
      val perJob = ArrayBuffer[Map[String, Double]]()
      // untraced and traced jobs alternate in ABBA order, so the JIT's
      // warm-up trend does not land on one side of the overhead comparison
      val untraced = ArrayBuffer[Double](); val traced = ArrayBuffer[Double]()
      val t0 = System.nanoTime()
      var pair = 0
      while (untraced.size < 2 || traced.size < 2 || (System.nanoTime() - t0) / 1e9 < 0.5 * a.seconds) {
        if (pair % 2 == 0) untraced ++= timed(spark, dir, a.hi, 0, 1)(w.job(spark, dir))
        probe.on()
        traced ++= timed(spark, dir, a.hi, 0, 1) {
          tracer.job += 1
          val (s0, p0, j0) = probe.snap()
          val t1 = System.nanoTime()
          val out = tracer.span("job", "pipeline")(w.job(spark, dir))
          val wall = (System.nanoTime() - t1) / 1e9
          val (s1, p1, j1) = probe.snap()
          val d = s1 - s0
          perJob += Map(
            "spark.jobs" -> d.jobs.toDouble, "spark.stages" -> d.stages.toDouble,
            "spark.task_s" -> d.taskS, "spark.busy_frac" -> d.taskS / (wall * a.hi),
            "spark.gc_s" -> d.gcS, "spark.shuffle_write_mb" -> d.shuffleWriteMb,
            "spark.spill_mb" -> d.spillMb, "spark.single_task_stages" -> d.singleTaskStages.toDouble,
            "spark.scan_tasks" -> d.scanTasks.toDouble,
            "functions.fallback_exprs" -> (p1(1) - p0(1)).toDouble,
            "functions.wscg_stages" -> d.wscgStages.toDouble,
            "functions.jit_too_long" -> (j1 - j0).toDouble,
            "plans.plan_s" -> (p1(0) - p0(0)) / 1e9, "plans.rule_rewrites" -> (p1(2) - p0(2)).toDouble,
            "plans.exchanges" -> d.exchanges.toDouble,
            "plans.nested_loop_joins" -> d.nestedLoopJoins.toDouble)
          out
        }
        probe.off()
        // leftovers of the traced job, taken after the timed window
        leftovers.lastOption.foreach { lo =>
          perJob(perJob.size - 1) = perJob.last ++ Map("spark.rdd_blocks_left" -> lo.rddBlocks.toDouble,
            "spark.scratch_dirs_left" -> lo.scratchDirs.toDouble)
        }
        if (pair % 2 == 1) untraced ++= timed(spark, dir, a.hi, 0, 1)(w.job(spark, dir))
        pair += 1
      }
      probe.on()
      tracer.job = 1000
      val splitStart = tracer.spans.size
      val opMetrics = attempt("split")(tracer.span("split", "harness")(w.split(spark, dir, tracer, probe)))
        .getOrElse(Map.empty)
      probe.off()
      val splitSpans = tracer.spans.drop(splitStart)
      val opS = w.ops.map(o => o -> splitSpans.filter(_.name == o).map(_.seconds).sum).toMap
      val fused = 1.0 * w.items / Util.med(untraced.toSeq)
      val self = tracer.selfByLayer(1000).toMap
      metrics ++= kern - "parse.corpus_s"
      // one-thread parse seconds over all pages per thread-second of the job
      // (workloads without pages have no parse kernel)
      kern.get("parse.corpus_s").foreach(c => metrics("parse.job_share") = c / (fused * a.hi))
      perJob.headOption.foreach(_.keys.foreach(k => metrics(k) = Util.med(perJob.map(_(k)).toSeq)))
      metrics ++= opMetrics
      w.ops.foreach(o => metrics(s"operators.$o.s") = opS(o))
      metrics("trace.items_per_s_untraced") = Util.med(untraced.toSeq)
      metrics("trace.items_per_s_traced") = Util.med(traced.toSeq)
      metrics("trace.overhead_frac") = 1 - metrics("trace.items_per_s_traced") / metrics("trace.items_per_s_untraced")
      metrics("trace.fused_job_s") = fused
      metrics("trace.op_span_sum_s") = opS.values.sum
      self.foreach { case (l, s) => metrics(s"trace.self.${l}_s") = s }
      detail("spans") = tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
        "job" -> s.job, "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      println(f"per-layer self time, ${w.name} split run (fused untraced job: $fused%.3f s, " +
        f"operator spans sum: ${opS.values.sum}%.3f s):")
      tracer.selfByLayer(1000).foreach { case (l, s) => println(f"  $l%-10s $s%9.3f s") }
      w.ops.foreach(o => println(f"  op $o%-14s ${opS(o)}%9.3f s"))
      close(spark, dir)
    }

    val distinct = digests.map(_._2).distinct
    if (distinct.size > 1) {
      failed += 1; attempted += 1
      failures += s"output digests differ between jobs or parallelism levels: ${digests.mkString(", ")}"
    }
    val out = Map(
      "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace, "seconds" -> a.seconds,
      "threads_n" -> a.lo, "threads_4n" -> a.hi, "item" -> w.itemName, "items_per_job" -> w.items,
      "attempted" -> attempted, "failed" -> failed, "error_rate" -> failed.toDouble / math.max(1, attempted),
      "failures" -> failures.toSeq,
      "metrics" -> metrics,
      "input" -> w.info, "detail" -> detail,
      "leftovers" -> leftovers.map(l => Seq(l.heapMb, l.rddBlocks.toDouble, l.scratchDirs.toDouble)),
      "digests" -> digests.map { case (k, d) => s"$k:$d" },
      "jvm" -> Map("java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "input_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
          .map(_.toString).filter(_.startsWith("-X")))
    )
    println("GRAFTBENCH_RESULT " + Json(out))
    System.out.flush()
    sys.exit(0)
  }
}
