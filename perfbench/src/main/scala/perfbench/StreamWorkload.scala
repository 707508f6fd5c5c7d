package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

final case class Frame(key: String, value: String, timestamp: Timestamp)

/** `stream_logs`: the reference's two topologies, T1 (`filterPipeline`)
  * and T2 (`dedupPipeline`), fed the generated log frames through a
  * `MemoryStream` each. In order:
  *
  *  - cold: the first chunk through T1, then T2, in the fresh JVM; then
  *    garbage collection and a wait for the JIT to go quiet;
  *  - `--rounds` rounds, each of T1's then T2's capacity phase
  *    (`--round-chunks` chunks, closed loop: the next chunk is added once
  *    the previous one is committed) and T1's then T2's latency
  *    phase (`--t1-segment` / `--t2-segment` records, open loop: the
  *    generator adds each record at its scheduled time `start + i / rate`,
  *    whether or not the pipeline keeps up). Spreading each metric's
  *    samples over the run keeps a slow stretch of the host from moving
  *    one metric alone.
  *
  * Each pipeline is fed the records in order, from its own cursor.
  *
  * The sink collects each batch's keys (which carry the record's sequence
  * number) and stamps the batch's commit time, so every emitted record's
  * latency from its scheduled creation can be derived.
  */
object StreamWorkload {
  /** Record `seq \t level \t id \t event_ms` → Kafka-shaped frame whose
    * value is a Splunk-style JSON log event; key = sequence number.
    */
  def frame(line: String): Frame = {
    val f = line.split('\t')
    val seq = f(0).toLong
    val ts = new Timestamp(f(3).toLong)
    val exc = if (f(2) == "-") "" else
      s"""{"exception_class":"${f(2)}","exception_message":"request $seq failed","stacktrace":"at com.example.Svc.handle(Svc.java:${seq % 400})"},"""
    val exField = if (exc.isEmpty) "" else "\"exception\":" + exc
    val value = s"""{$exField"version":1,"source_host":"host${seq % 50}","message":"request $seq handled in ${seq % 997} ms","thread_name":"worker-${seq % 8}","timestamp":"${ts.toInstant}","level":"${f(1)}","logger_name":"com.example.Svc${seq % 10}"}"""
    Frame(seq.toString, value, ts)
  }

  final class Sink {
    // (batchId, commit epoch ns, keys, payload bytes)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Array[Long], Long)]()
    val fn: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.select(col("key").cast("string"), octet_length(col("value"))).collect()
      val bytes = rows.iterator.map(r => if (r.isNullAt(1)) 0L else r.getInt(1).toLong).sum
      batches.add((id, Main.epochNs(), rows.map(_.getString(0).toLong), bytes))
    }
  }

  /** The generator wakes this often and adds every record then due. */
  val TickNs = 5000000L

  final class Pipe(val name: String, val input: MemoryStream[Frame], val q: StreamingQuery,
                   val sink: Sink) {
    /** Records fed so far. */
    var fed = 0
  }

  /** Rows each running query has taken in, from its progress events. */
  final class Processed extends StreamingQueryListener {
    val rows = new ConcurrentHashMap[java.util.UUID, AtomicLong]()
    def of(q: StreamingQuery): Long = Option(rows.get(q.id)).map(_.get).getOrElse(0L)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      rows.computeIfAbsent(e.progress.id, _ => new AtomicLong()).addAndGet(e.progress.numInputRows)
  }

  def progressJson(p: StreamingQueryProgress): Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    val st = p.stateOperators.headOption
    Map("batch" -> p.batchId, "timestamp" -> p.timestamp, "rows" -> p.numInputRows,
      "duration_ms" -> d) ++ st.map { s =>
      Map("state" -> Map("rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
        "rows_removed" -> s.numRowsRemoved, "memory_bytes" -> s.memoryUsedBytes,
        "update_ms" -> s.allUpdatesTimeMs, "removal_ms" -> s.allRemovalsTimeMs,
        "commit_ms" -> s.commitTimeMs, "dropped_by_watermark" -> s.numRowsDroppedByWatermark,
        "custom" -> s.customMetrics.asScala.map { case (k, v) => k -> v.longValue() }.toMap))
    }.getOrElse(Map.empty)
  }

  def run(a: Main.Args, cores: Int, launchNs: Long): Map[String, Any] = {
    val work = a("work")
    val spark = Main.session(cores, work)
    // no watermark-only batches between data batches, as in StreamBench
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    graft.streaming.StateStores.useRocksDB(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val processed = new Processed
    spark.streams.addListener(processed)

    val frames: Array[Frame] = {
      val src = scala.io.Source.fromFile(a("input"))
      try src.getLines().map(frame).toArray finally src.close()
    }
    val onlyT2 = a.flag("only-capacity-t2")
    val tracer = new Tracer(spark, a.flag("trace"), cores)
    def start(name: String, pipeline: DataFrame => DataFrame): Pipe = {
      val input = MemoryStream[Frame](cores)
      val sink = new Sink
      val q = pipeline(input.toDF()).writeStream
        .queryName(s"perfbench_$name")
        .option("checkpointLocation", s"$work/checkpoint/$name")
        .foreachBatch(sink.fn).start()
      new Pipe(name, input, q, sink)
    }
    val buildStart = tracer.nowMs()
    val pipes = (if (onlyT2) Nil else Seq(start("t1", df => graft.streaming.Pipelines.filterPipeline(df)))) :+
      start("t2", df => graft.streaming.Pipelines.dedupPipeline(df))
    val buildMs = tracer.nowMs() - buildStart
    val setupS = (Main.epochNs() - launchNs) / 1e9

    val chunk = a("chunk").toInt
    val rate = a("rate").toDouble
    val wlSpan = tracer.newId()
    val wlStart = tracer.nowMs()
    val phases = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Runs `body` as one traced operation; micro-batches become its
      * child spans, taken from the progress timestamps.
      */
    def phase(p: Pipe, name: String)(body: => Map[String, Any]): Unit = {
      val op = tracer.begin()
      val startMs = tracer.nowMs()
      val seen = p.sink.batches.size
      val t0 = System.nanoTime()
      val extra = body
      val secs = (System.nanoTime() - t0) / 1e9
      val ids = p.sink.batches.asScala.drop(seen).map(_._1).toSet
      // progress is published just after the batch commits
      val deadline = System.nanoTime() + 5000000000L
      def reported = Option(p.q.lastProgress).map(_.batchId).getOrElse(-1L)
      while (ids.nonEmpty && reported < ids.max && System.nanoTime() < deadline) Thread.sleep(5)
      val progress = p.q.recentProgress.filter(pr => ids(pr.batchId)).toSeq
      val batchSpans = progress.map { pr =>
        val s = java.time.Instant.parse(pr.timestamp)
        val sMs = s.getEpochSecond * 1e3 + s.getNano / 1e6
        tracer.child(op, s"batch ${pr.batchId}", "streaming", sMs,
          sMs + pr.durationMs.asScala.get("triggerExecution").map(_.doubleValue).getOrElse(0.0))
      }
      val c = tracer.end(op, wlSpan, s"${p.name} $name", "streaming", startMs, batchSpans)
      phases += Map("pipeline" -> p.name, "phase" -> name, "seconds" -> secs,
        "progress" -> progress.map(progressJson),
        "exec" -> c.toMap(secs * 1e3, cores)) ++ extra
    }

    def closedLoop(p: Pipe, chunks: Int): Map[String, Any] = {
      val from = p.fed
      val until = math.min(frames.length, from + chunks * chunk)
      val chunkMs = mutable.ArrayBuffer.empty[Double]
      var i = from
      while (i < until) {
        val j = math.min(until, i + chunk)
        val t0 = System.nanoTime()
        p.input.addData(frames.slice(i, j).toSeq)
        p.q.processAllAvailable()
        chunkMs += (System.nanoTime() - t0) / 1e6
        i = j
      }
      p.fed = until
      Map("from" -> from, "until" -> until, "chunk_ms" -> chunkMs)
    }

    /** Open loop: record i of [from, until) is due at t0 + (i-from)/rate. */
    def openLoop(p: Pipe, records: Int): Map[String, Any] = {
      val from = p.fed
      val until = math.min(frames.length, from + records)
      val lagsMs = mutable.ArrayBuffer.empty[Double]
      var backlogMax = 0L
      val base = processed.of(p.q)
      var added = 0L
      val t0 = Main.epochNs()
      var i = from
      while (i < until) {
        val now = Main.epochNs()
        val due = math.min(until.toLong, from + ((now - t0) * rate / 1e9).toLong + 1).toInt
        if (due > i) {
          p.input.addData(frames.slice(i, due).toSeq)
          lagsMs += (Main.epochNs() - (t0 + ((i - from) / rate * 1e9).toLong)) / 1e6
          added += due - i
          backlogMax = math.max(backlogMax, added - (processed.of(p.q) - base))
          i = due
        } else LockSupport.parkNanos(TickNs)
      }
      p.q.processAllAvailable()
      p.fed = until
      Map("from" -> from, "until" -> until, "start_ns" -> t0, "rate" -> rate,
        "gen_lag_ms" -> lagsMs, "backlog_max" -> backlogMax)
    }

    val coldStart = System.nanoTime()
    val coldCpu0 = Main.cpuNs()
    pipes.foreach(p => phase(p, "cold")(closedLoop(p, 1)))
    val coldS = (System.nanoTime() - coldStart) / 1e9
    val coldCpuS = (Main.cpuNs() - coldCpu0) / 1e9
    Main.quiesce()
    // T1 is the control: shorter open loops, over a prefix of T2's records
    val segment = Map("t1" -> a("t1-segment").toInt, "t2" -> a("t2-segment").toInt)
    (1 to a("rounds").toInt).foreach { _ =>
      pipes.foreach(p => phase(p, "capacity")(closedLoop(p, a("round-chunks").toInt)))
      if (!onlyT2) pipes.foreach(p => phase(p, "latency")(openLoop(p, segment(p.name))))
    }

    val peakRssMb = Main.peakRssMb()
    pipes.foreach(_.q.stop())
    val probes: Map[String, Any] =
      if (tracer.enabled) LayerProbes.run(spark, a, tracer, wlSpan) else Map.empty
    Trace.close(tracer, launchNs, setupS, wlSpan, wlStart, "stream_logs")
    val out = pipes.map { p =>
      p.name -> p.sink.batches.asScala.toSeq.sortBy(_._1).map { case (id, ns, keys, bytes) =>
        Map("batch" -> id, "commit_ns" -> ns, "keys" -> keys, "bytes" -> bytes)
      }
    }.toMap
    Map("workload" -> "stream_logs", "setup_s" -> setupS, "cold_pass_s" -> coldS, "cold_cpu_s" -> coldCpuS,
      "peak_rss_mb" -> peakRssMb, "build_ms" -> buildMs, "records" -> frames.length, "phases" -> phases, "output" -> out,
      "trace" -> Trace.json(tracer, probes))
  }
}
