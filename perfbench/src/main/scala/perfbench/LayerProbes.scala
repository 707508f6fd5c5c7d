package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Traced-run probes of single layers, each timed from outside through
  * the layer's public entry points, over inputs cached in memory so the
  * difference against a scan-only baseline is the layer's own cost:
  *
  *  - serde: `JsonCodec.decodeKafkaFrame` / `encodeKafkaFrame` over the
  *    generated log frames;
  *  - functions: the native kernels called by their SQL names over the
  *    document and embedding columns;
  *  - io: `Tables.table` of each input table into `noop`.
  */
object LayerProbes {
  private def noopMs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  /** Fastest of five timed runs after one warm-up. */
  private def timeMs(df: DataFrame): Double = {
    noopMs(df)
    Seq.fill(5)(noopMs(df)).min
  }

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    (c, c.count())
  }

  def serde(spark: SparkSession, input: String, limit: Int): Map[String, Any] = {
    import spark.implicits._
    val src = scala.io.Source.fromFile(input)
    val frames = try src.getLines().take(limit).map(StreamWorkload.frame).toArray finally src.close()
    val (df, n) = cached(frames.toSeq.toDF())
    val (decoded, _) = cached(graft.serde.JsonCodec.decodeKafkaFrame(df, graft.model.LogEvent.schema))
    val dec = timeMs(graft.serde.JsonCodec.decodeKafkaFrame(df, graft.model.LogEvent.schema)) -
      timeMs(df.select("key", "value", "timestamp"))
    val enc = timeMs(graft.serde.JsonCodec.encodeKafkaFrame(decoded)) -
      timeMs(decoded.select("key", "event"))
    df.unpersist(); decoded.unpersist()
    Map("records" -> n, "decode_ns_per_record" -> dec * 1e6 / n,
      "encode_ns_per_record" -> enc * 1e6 / n)
  }

  def functions(spark: SparkSession, dir: String, targetRows: Long): Map[String, Any] = {
    val docs0 = graft.Tables.documents(spark, dir)
    val dRep = math.max(1L, targetRows / docs0.count())
    val (docs, nd) = cached(docs0.crossJoin(spark.range(dRep).toDF("rep"))
      .selectExpr("text",
        "transform(split(text, ' '), s -> shiftrightunsigned(md5_h64(s), 32)) AS th")
      .selectExpr("text", "th", "array_sort(array_distinct(th)) AS ga",
        "array_sort(array_distinct(slice(th, 1, greatest(1, size(th) div 2)))) AS gb"))
    val emb0 = graft.Tables.embeddings(spark, dir)
    val eRep = math.max(1L, targetRows / emb0.count())
    val (emb, ne) = cached(emb0.crossJoin(spark.range(eRep).toDF("rep"))
      .selectExpr("cast(embedding AS array<double>) AS e1")
      .selectExpr("e1", "reverse(e1) AS e2"))
    val dim = emb.selectExpr("size(e1)").head().getInt(0)
    val rnd = new scala.util.Random(7)
    val means = Seq.fill(dim)(f"${rnd.nextGaussian() * 0.01}%.6fD").mkString("array(", ",", ")")
    val mat = Seq.fill(dim)(Seq.fill(dim)(f"${rnd.nextGaussian() / math.sqrt(dim)}%.6fD")
      .mkString("array(", ",", ")")).mkString("array(", ",", ")")
    val bases = scala.collection.mutable.Map.empty[(DataFrame, Seq[String]), Double]
    def perRow(df: DataFrame, n: Long, baseCols: Seq[String], kernel: String): Double = {
      val base = bases.getOrElseUpdate((df, baseCols), timeMs(df.select(baseCols.map(col): _*)))
      (timeMs(df.selectExpr(s"$kernel AS k")) - base) * 1e6 / n
    }
    val out = Map(
      "md5_h64" -> perRow(docs, nd, Seq("text"), "md5_h64(text)"),
      "winnow_fp" -> perRow(docs, nd, Seq("text"), "winnow_fp(text)"),
      "char_entropy_q" -> perRow(docs, nd, Seq("text"), "char_entropy_q(text)"),
      "simhash32" -> perRow(docs, nd, Seq("th"), "simhash32(th)"),
      "jaccard_sorted" -> perRow(docs, nd, Seq("ga", "gb"), "jaccard_sorted(ga, gb)"),
      "cosine_sim" -> perRow(emb, ne, Seq("e1", "e2"), "cosine_sim(e1, e2)"),
      "l2_sq" -> perRow(emb, ne, Seq("e1", "e2"), "l2_sq(e1, e2)"),
      "mat_project" -> perRow(emb, ne, Seq("e1"), s"mat_project(e1, $means, $mat)"),
      "jl_project" -> perRow(emb, ne, Seq("e1"), "jl_project(e1, 16)"))
    docs.unpersist(); emb.unpersist()
    out.map { case (k, v) => s"${k}_ns_per_row" -> v } ++ Map("doc_rows" -> nd, "emb_rows" -> ne)
  }

  def io(spark: SparkSession, dir: String): Map[String, Any] = {
    var rows = 0L
    var ms = 0.0
    BatchWorkload.Tables.foreach { t =>
      val load = () => if (t == "events") graft.Tables.events(spark, dir) else graft.Tables.table(spark, dir, t)
      rows += load().count()
      noopMs(load())
      ms += noopMs(load())
    }
    Map("rows" -> rows, "scan_rows_per_s" -> rows / (ms / 1e3))
  }

  def run(spark: SparkSession, a: Main.Args, tracer: Tracer, parent: Int): Map[String, Any] = {
    def timed(name: String)(body: => Map[String, Any]): Map[String, Any] = {
      val op = tracer.begin()
      val s = tracer.nowMs()
      val r = body
      tracer.end(op, parent, s"probe $name", name, s)
      r
    }
    Map(
      "serde" -> timed("serde")(serde(spark, a("serde-input"), 100000)),
      "functions" -> timed("functions")(functions(spark, a("data"), 40000L)),
      "io" -> timed("io")(io(spark, a("data"))))
  }
}
