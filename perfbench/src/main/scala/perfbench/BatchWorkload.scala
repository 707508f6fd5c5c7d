package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `batch_interactive` and `batch_heavy`: one client runs a fixed query
  * list in a closed loop. The first pass in the fresh JVM is the cold
  * pass, and it is the one that takes each query's result digest. Then,
  * once the JIT has settled, `--warmup-passes` untimed passes (the JIT
  * keeps improving the short queries for several passes) and then
  * `--warm-passes` timed ones force each query's whole plan through the
  * `noop` sink. The seed sets the order within each pass after the cold
  * one.
  */
object BatchWorkload {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session built and every input table resolved (schema and file
    * listing read): the point where the first query may start.
    */
  def setup(a: Main.Args, cores: Int): SparkSession = {
    val spark = Main.session(cores, a("work"))
    Tables.foreach(t => graft.Tables.table(spark, a("data"), t).schema)
    spark
  }

  def run(a: Main.Args, workload: String, cores: Int, launchNs: Long): Map[String, Any] = {
    val spark = setup(a, cores)
    val setupS = (Main.epochNs() - launchNs) / 1e9

    val dir = a("data")
    val queries = a("queries").split(",").toSeq
    val seed = a("seed").toLong
    val warmupPasses = a("warmup-passes").toInt
    val warmPasses = a("warm-passes").toInt
    val tracer = new Tracer(spark, a.flag("trace"), cores)
    val wlSpan = tracer.newId()
    val wlStart = tracer.nowMs()
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val digests = mutable.LinkedHashMap.empty[String, Any]

    // The cold pass keeps the list order: the first executions in a fresh
    // JVM shape the JIT's profiles, and with them every later timing.
    def order(pass: Int): Seq[String] =
      if (pass == 0) queries else new scala.util.Random(seed * 1000003L + pass).shuffle(queries)

    def noop(q: String, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def digest(q: String, df: DataFrame): Unit = {
      val (n, h) = Digest(df)
      digests(q) = Map("rows" -> n, "hash" -> h)
    }

    /** One timed execution: build the DataFrame, then run `sink` over it. */
    def once(q: String, pass: Int, sink: (String, DataFrame) => Unit): Unit = {
      val op = tracer.begin()
      val startMs = tracer.nowMs()
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(q)(spark, dir)
        val builtMs = tracer.nowMs()
        val t1 = System.nanoTime()
        sink(q, df)
        val t2 = System.nanoTime()
        val endMs = tracer.nowMs()
        val build = tracer.child(op, "build", "operators", startMs, builtMs)
        tracer.end(op, wlSpan, q, "bench", startMs,
          Seq(build, tracer.child(op, "execute", "bench", builtMs, endMs)), Some(df.queryExecution))
        samples += Map("query" -> q, "pass" -> pass, "ms" -> (t2 - t0) / 1e6,
          "build_ms" -> (t1 - t0) / 1e6, "op" -> op, "build_span" -> build.id)
      } catch {
        case e: Throwable =>
          tracer.end(op, wlSpan, q, "bench", startMs)
          failures += Map("query" -> q, "pass" -> pass, "error" -> String.valueOf(e.getMessage).take(300))
      } finally {
        graft.CacheScope.release()
        spark.catalog.clearCache()
      }
    }

    val coldStart = System.nanoTime()
    val coldCpu0 = Main.cpuNs()
    order(0).foreach(q => once(q, 0, digest))
    val coldS = (System.nanoTime() - coldStart) / 1e9
    val coldCpuS = (Main.cpuNs() - coldCpu0) / 1e9

    // the cold pass's garbage and compilation are not charged to warm queries
    Main.quiesce()
    // untimed warm-up passes are numbered below zero, timed ones from one
    (-warmupPasses to -1).foreach(pass => order(pass).foreach(q => once(q, pass, noop)))
    (1 to warmPasses).foreach(pass => order(pass).foreach(q => once(q, pass, noop)))
    val peakRssMb = Main.peakRssMb()
    val probes: Map[String, Any] =
      if (tracer.enabled) LayerProbes.run(spark, a, tracer, wlSpan) else Map.empty
    Trace.close(tracer, launchNs, setupS, wlSpan, wlStart, workload)
    Map("workload" -> workload, "setup_s" -> setupS, "cold_pass_s" -> coldS, "cold_cpu_s" -> coldCpuS,
      "peak_rss_mb" -> peakRssMb, "warm_passes" -> warmPasses, "samples" -> samples, "failures" -> failures,
      "digests" -> digests, "attempted" -> (samples.size + failures.size),
      "trace" -> Trace.json(tracer, probes))
  }
}
