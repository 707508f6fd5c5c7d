package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One workload JVM. The runner (`run.py`) launches it, reads the result
  * file it writes, checks the outputs and computes the statistics.
  *
  * {{{
  * perfbench.Main --workload <name> --out <result.json> --work <dir>
  *   --launch-ns <epoch ns at process launch> --cores <n> --seed <n>
  *   --seconds <n> [--trace --serde-input <records.tsv> --data <table dir>]
  *   batch:  --data <table dir> --queries <q1,q2,...> --warmup-passes <n> --warm-passes <n>
  *   stream: --input <records.tsv> --chunk <n> --rounds <n>
  *           --round-chunks <n> --t1-segment <n> --t2-segment <n> --rate <records/s>
  *           [--only-capacity-t2]
  * }}}
  */
object Main {
  final class Args(args: Array[String]) {
    private val kv: Map[String, String] = {
      val m = mutable.Map.empty[String, String]
      var i = 0
      while (i < args.length) {
        val k = args(i).stripPrefix("--")
        if (i + 1 < args.length && !args(i + 1).startsWith("--")) { m(k) = args(i + 1); i += 2 }
        else { m(k) = "true"; i += 1 }
      }
      m.toMap
    }
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def flag(k: String): Boolean = kv.get(k).contains("true")
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Collects the garbage so far, then waits until the JIT has compiled
    * nothing for 500 ms (at most 5 s), so that what the warm-up left
    * behind is not charged to the timed work after it.
    */
  def quiesce(): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      val deadline = System.nanoTime() + 5000000000L
      var last = jit.getTotalCompilationTime
      var quietSince = System.nanoTime()
      while (System.nanoTime() - quietSince < 500000000L && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = jit.getTotalCompilationTime
        if (now != last) { last = now; quietSince = System.nanoTime() }
      }
    }
  }

  /** CPU time this JVM has used so far, all threads, in ns. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val launchNs = a("launch-ns").toLong
    val cores = a("cores").toInt
    val result: Map[String, Any] = a("workload") match {
      case "stream_logs" => StreamWorkload.run(a, cores, launchNs)
      case w @ ("batch_interactive" | "batch_heavy") => BatchWorkload.run(a, w, cores, launchNs)
      case w => sys.error(s"unknown workload $w")
    }
    Files.write(Paths.get(a("out")), Json(result).getBytes(UTF_8))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
