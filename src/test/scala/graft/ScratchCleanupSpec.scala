package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Runs one snapshot-writing query in its own session and JVM.
 * Args: <spark.local.dir> <sf dir>. Prints `SCRATCH_DIRS=<n>`, the
 * graft-scratch entries under the local dir after the query ran. */
object ScratchCleanupMain {
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-scratch-cleanup")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args(0))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    SparkEntry.queries("q43_snapshot_lineage")(s, args(1))
      .write.format("noop").mode("overwrite").save()
    println(s"SCRATCH_DIRS=${ScratchCleanupSpec.scratchEntries(new File(args(0)))}")
    s.stop()
  }
}

object ScratchCleanupSpec {
  /** graft-scratch entries anywhere under `root`. */
  def scratchEntries(root: File): Int =
    Option(root.listFiles()).toSeq.flatten.map { f =>
      (if (f.getName.startsWith("graft-scratch")) 1 else 0) + scratchEntries(f)
    }.sum
}

class ScratchCleanupSpec extends AnyFunSuite {

  test("snapshot query scratch dirs are deleted when the JVM exits") {
    val local = Files.createTempDirectory("graft-cleanup-local").toFile
    val log = new File(local.getParentFile, s"${local.getName}.log")
    try {
      // the child JVM takes this JVM's module flags, with a smaller heap
      val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
        Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
          "graft.ScratchCleanupMain", local.toString, "/root/testdata/sf0.001")
      val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
        .redirectOutput(log).start()
      val done = p.waitFor(300, TimeUnit.SECONDS)
      if (!done) p.destroyForcibly().waitFor()
      val out = new String(Files.readAllBytes(log.toPath), "UTF-8")
      assert(done && p.exitValue() == 0, out.linesIterator.toSeq.takeRight(30).mkString("\n"))
      val during = "SCRATCH_DIRS=(\\d+)".r.findFirstMatchIn(out).map(_.group(1).toInt)
      assert(during.exists(_ >= 1), s"q43 wrote no scratch dir to clean up: $during")
      assert(ScratchCleanupSpec.scratchEntries(local) == 0,
        s"left behind: ${Option(local.listFiles()).toSeq.flatten.map(_.getName)}")
    } finally {
      def rm(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
      rm(local)
      log.delete()
    }
  }
}
