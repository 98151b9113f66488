package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheScope, SparkEntry}
import graft.pipeline._
import graft.pipeline.Pipeline.{GraftConfig, TokenizationConfig}

/** One benchmark run in one JVM: set up, warm up, measure one workload
  * for a fixed time, check the outputs, and write the result as JSON.
  *
  *   Main --workload W --data DIR --out DIR --seconds S --trace 0|1
  *        --cores N --result FILE [--conf key=value]...
  *
  * `DIR` holds `corpus/` (the tables the program reads), `warm/` (a small
  * corpus for warm-up only) and `truth.parquet` (planted duplicates).
  * Every operation is closed-loop with one client: the next starts when
  * the previous one has returned.
  */
object Main {
  val SetupReps = 3
  val MinPasses = 3

  final case class Args(workload: String, data: String, out: String, seconds: Double,
      trace: Boolean, cores: Int, result: String, conf: Seq[(String, String)])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => (k, v) }.toSeq
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Args(one("--workload"), one("--data"), one("--out"), one("--seconds").toDouble,
      one("--trace") == "1", one("--cores").toInt, one("--result"),
      kv.collect { case ("--conf", c) => c.split("=", 2) match { case Array(a, b) => (a, b) } })
  }

  /** Everything a run reports; written once as JSON at the end. */
  final class Report {
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val spans = mutable.ArrayBuffer.empty[String]
    var oracle: Seq[String] = Nil
    def fail(what: String): Unit = { failures += what; System.err.println(s"[perfbench] FAIL $what") }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val r = new Report
    val wl: Workload = a.workload match {
      case "pipeline_ref" => new PipelineWorkload(a, GraftConfig())
      case "dedup_pass" => new PipelineWorkload(a,
        GraftConfig(tokenization = TokenizationConfig(enabled = false)))
      case "query_menu" => new MenuWorkload(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = sessions(a, r)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    r.e2e("setup_s") += wl.warmUp(spark, r, tracer)
    tracer match {
      case Some(t) => wl.traced(spark, r, t)
      case None => wl.measure(spark, r)
    }
    r.e2e("peak_rss_mb") = peakRssMb
    spark.stop()
    write(a.result, r)
  }

  /** `SetupReps` session set-ups, each a fresh session plus a generic
    * warm-up; the first also carries JVM start. Their median goes to
    * `setup_s`, and the workload's own warm-up is added to it later. The
    * last session is kept. */
  def sessions(a: Args, r: Report): SparkSession = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val times = (1 to SetupReps).map { i =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val pre = if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1000.0 else 0.0
      val t0 = System.nanoTime()
      val b = SparkSession.builder().master(s"local[${a.cores}]")
      a.conf.foreach { case (k, v) => b.config(k, v) }
      spark = b.getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      warmUp(spark, s"${a.data}/warm/documents.parquet")
      val s = pre + (System.nanoTime() - t0) / 1e9
      barrier(spark)
      s
    }
    System.err.println(f"[perfbench] session set-ups ${times.map(t => f"$t%.3f").mkString(" ")} s")
    r.e2e("setup_s") = median(times)
    spark
  }

  /** The warm-up `graft.Bench` runs: a parquet scan plus a synthetic
    * window, shuffle join and aggregate. It reads no benchmark table. */
  def warmUp(spark: SparkSession, docs: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    spark.read.parquet(docs).write.format("noop").mode("overwrite").save()
    val w = spark.range(10000).select(col("id"), (col("id") % 97).as("k"),
      regexp_replace(concat(lit("w"), col("id")), "9", "x").as("s"))
    w.withColumn("rn", row_number().over(Window.partitionBy(col("k")).orderBy(col("id"))))
      .join(w.select(col("k"), col("id").as("id2")), "k")
      .groupBy("k").agg(count(lit(1)).as("n"), sum(col("id2")).as("t"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Releases what one operation persisted, outside any timed window
    * (the same barrier `graft.Bench` runs between marks). */
  def barrier(spark: SparkSession): Unit = {
    CacheScope.drain()
    spark.catalog.clearCache()
    System.gc()
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.min(s.size - 1, (q * s.size).toInt))
  }

  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def dirBytes(path: String): (Long, Int) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.count(!_.getFileName.toString.startsWith(".")))
    }
  }

  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def write(path: String, r: Report): Unit = {
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) "null" else v.toString) }
        .mkString("{", ",", "}")
    val json = s"""{"attempted":${r.attempted},"failures":${r.failures.map(str).mkString("[", ",", "]")},""" +
      s""""e2e":${obj(r.e2e)},"layers":${obj(r.layers)},"spans":${r.spans.mkString("[", ",", "]")},""" +
      s""""oracle":${r.oracle.map(str).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(path), json + "\n")
  }
}

trait Workload {
  /** The workload's own warm-up, once per run; returns its seconds, which
    * are charged to `setup_s`. */
  def warmUp(spark: SparkSession, r: Main.Report, t: Option[Tracer]): Double
  /** Untraced: the end-to-end metrics. */
  def measure(spark: SparkSession, r: Main.Report): Unit
  /** Traced: the per-layer metrics, with an untraced reference for the
    * tracing overhead. */
  def traced(spark: SparkSession, r: Main.Report, t: Tracer): Unit
}

/** `Pipeline.run` over the seeded corpus, repeated for the run's time. */
final class PipelineWorkload(a: Main.Args, cfg: GraftConfig) extends Workload {
  import Main._
  private val corpus = s"${a.data}/corpus/documents.parquet"
  private def docs(spark: SparkSession): DataFrame = spark.read.parquet(corpus)

  /** One `Pipeline.run` over the workload corpus, so the timed runs see
    * compiled code paths at this input size (this first run takes about
    * twice as long as a timed one). */
  def warmUp(spark: SparkSession, r: Report, t: Option[Tracer]): Double = {
    val (_, s) = timed(Pipeline.run(docs(spark), cfg, s"${a.out}/warm"))
    barrier(spark)
    s
  }

  /** One fused run; returns the summary row as a map. */
  private def run(spark: SparkSession, out: String): Map[String, Any] = {
    val s = Pipeline.run(docs(spark), cfg, out).collect()(0)
    s.schema.fieldNames.map(f => f -> s.getAs[Any](f)).toMap
  }

  /** One timed fused run, then the barrier; returns (wall, summary). */
  private def pass(spark: SparkSession, out: String): (Double, Map[String, Any]) = {
    val (summary, wall) = timed(run(spark, out))
    barrier(spark)
    (wall, summary)
  }

  def measure(spark: SparkSession, r: Report): Unit = {
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val runs = mutable.ArrayBuffer.empty[(Double, Map[String, Any], String)]
    while (runs.size < MinPasses || System.nanoTime() < deadline) {
      val out = s"${a.out}/pass-${runs.size}"
      r.attempted += 1
      try { val (w, s) = pass(spark, out); runs += ((w, s, out)) }
      catch { case e: Exception => r.fail(s"pass ${runs.size}: ${e.getMessage}"); runs += ((Double.NaN, Map.empty, out)) }
    }
    val ok = runs.filter(!_._1.isNaN)
    System.err.println(f"[perfbench] run walls ${ok.map(x => f"${x._1}%.3f").mkString(" ")}")
    val walls = ok.map(_._1).toSeq
    val ingested = ok.headOption.map(_._2("docs_ingested").asInstanceOf[Long]).getOrElse(0L)
    r.e2e("pass_s") = median(walls)
    r.e2e("docs_per_s") = ingested / median(walls)
    check(spark, ok.map(x => (x._2, x._3)).toSeq, r)
  }

  /** Per run: docs out = docs passed quality, sum(token_count) =
    * total_tokens, one token line per doc; across runs: the same output
    * digest; against the planted clusters: recall and false drops. */
  private def check(spark: SparkSession, runs: Seq[(Map[String, Any], String)], r: Report): Unit = {
    val digests = runs.zipWithIndex.map { case ((s, out), i) =>
      val row = spark.read.parquet(s"$out/documents").agg(count(lit(1)),
        sum(col("token_count")), bit_xor(xxhash64(col("doc_id"), col("text"), col("token_count")))).head()
      val n = row.getLong(0)
      val tokens = if (row.isNullAt(1)) null else java.lang.Long.valueOf(row.getLong(1))
      if (n != s("docs_passed_quality")) r.fail(s"run $i: $n docs written, summary says ${s("docs_passed_quality")}")
      if (tokens != s("total_tokens")) r.fail(s"run $i: token_count sums to $tokens, summary says ${s("total_tokens")}")
      if (cfg.tokenization.enabled) {
        val lines = spark.read.text(s"$out/tokens").count()
        if (lines != n) r.fail(s"run $i: $lines token lines for $n docs")
      }
      s"$n/${row.get(2)}"
    }
    if (digests.distinct.size > 1) r.fail(s"output digests differ across runs: ${digests.mkString(" ")}")
    runs.headOption.foreach { case (_, out) =>
      val (recall, falseDrop) = dedupQuality(spark, out)
      r.e2e("dedup_recall") = recall
      r.e2e("dedup_false_drop_rate") = falseDrop
      // Planted near-duplicates sit far above the 0.8 threshold.
      if (recall < 0.95) r.fail(f"dedup recall $recall%.4f < 0.95")
      if (falseDrop > 0.001) r.fail(f"dedup false-drop rate $falseDrop%.5f > 0.001")
    }
    runs.foreach { case (_, out) => deleteTree(out) }
  }

  /** Among docs that pass clean and quality on their own: the share of
    * planted duplicates the run removed, and the share of the other docs
    * it removed. */
  private def dedupQuality(spark: SparkSession, out: String): (Double, Double) = {
    val cleaned = docs(spark).withColumn("text", Pipeline.cleanColumn(cfg.cleaning))
      .filter(length(col("text")) >= cfg.cleaning.minLengthChars)
    val passed = Quality.withReason(cleaned, cfg.quality)
      .filter(col("reason") === "passed").select("doc_id")
    val truth = spark.read.parquet(s"${a.data}/truth.parquet")
    val kept = spark.read.parquet(s"$out/documents").select(col("doc_id"), lit(true).as("kept"))
    val row = passed.join(truth, Seq("doc_id"), "left").join(kept, Seq("doc_id"), "left")
      .select(coalesce(!col("is_base"), lit(false)).as("dup"), col("kept").isNull.as("gone"))
      .agg(sum(when(col("dup"), 1).otherwise(0)), sum(when(col("dup") && col("gone"), 1).otherwise(0)),
        sum(when(!col("dup"), 1).otherwise(0)), sum(when(!col("dup") && col("gone"), 1).otherwise(0)))
      .head()
    def l(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    (l(1).toDouble / math.max(1L, l(0)), l(3).toDouble / math.max(1L, l(2)))
  }

  /** Untraced twice (the first run after warm-up is still slower), then
    * one traced fused run, then the staged run. */
  def traced(spark: SparkSession, r: Report, t: Tracer): Unit = {
    pass(spark, s"${a.out}/untraced-0")
    val (untraced, _) = pass(spark, s"${a.out}/untraced")
    val (summary, fused) = t.span("pipeline.run")(run(spark, s"${a.out}/fused"))
    barrier(spark)
    r.attempted += 2
    r.spans += Trace.json(fused)
    Trace.layers(Seq(fused), a.cores).foreach { case (k, v) => r.layers(k) = v }
    r.layers("trace.overhead_share") = (fused.wallS - untraced) / untraced
    r.layers("pipeline.fusion_gap_s") = fused.wallS - staged(spark, t, r).map(_.wallS).sum
    if (summary.isEmpty) r.fail("traced run returned no summary")
  }

  /** The pipeline again, one span per layer call, each output materialized
    * to scratch parquet so the next layer starts from stored data. */
  private def staged(spark: SparkSession, t: Tracer, r: Report): Seq[Span] = {
    val st = s"${a.out}/staged"
    val stagedSpans = mutable.ArrayBuffer.empty[Span]
    def read(n: String) = spark.read.parquet(s"$st/$n")
    def save(df: DataFrame, n: String): Unit = df.write.mode("overwrite").parquet(s"$st/$n")
    def span[T](layer: String, metric: String)(f: => T): T = {
      val (v, s) = t.span(layer)(f)
      stagedSpans += s
      r.spans += Trace.json(s)
      r.layers(metric) = s.wallS
      barrier(spark)
      v
    }
    span("scan", "scan.s")(save(docs(spark), "scan"))
    r.layers("scan.input_mb") = dirBytes(corpus)._1 / 1048576.0
    span("clean", "clean.s")(save(read("scan")
      .withColumn("original_length", length(col("text")))
      .withColumn("text", Pipeline.cleanColumn(cfg.cleaning))
      .filter(length(col("text")) >= cfg.cleaning.minLengthChars)
      .withColumn("cleaned_length", length(col("text"))), "clean"))
    r.layers("clean.chars_removed") = read("clean")
      .agg(sum(col("original_length") - col("cleaned_length"))).head().getLong(0).toDouble
    span("dedup.signatures", "dedup.signature_s")(save(MinHash.signatures(read("clean")), "signatures"))
    span("dedup", "dedup.s")(save(Pipeline.dedupStage(read("clean"), cfg.dedup), "dedup"))
    val nClean = read("clean").count()
    val nDedup = read("dedup").count()
    r.layers("dedup.rows_removed") = (nClean - nDedup).toDouble
    span("quality", "quality.s")(save(Quality.withReason(read("dedup"), cfg.quality)
      .filter(col("reason") === "passed").drop("reason"), "quality"))
    r.layers("quality.pass_ratio") = read("quality").count().toDouble / math.max(1L, nDedup)
    val tk = cfg.tokenization
    val docsOut =
      if (!tk.enabled) {
        Seq("tokenize.wordfreq_s", "tokenize.lexicon_words", "tokenize.train_s", "tokenize.merges",
          "tokenize.encode_s", "tokenize.tokens").foreach(r.layers(_) = 0.0)
        read("quality").withColumn("token_count", lit(null: java.lang.Long))
      } else {
        val freqs = span("tokenize.wordfreq", "tokenize.wordfreq_s")(Bpe.wordFrequencies(read("quality")))
        r.layers("tokenize.lexicon_words") = freqs.size.toDouble
        val model = span("tokenize.train", "tokenize.train_s")(Bpe.train(freqs, tk.vocabSize, tk.minFrequency))
        r.layers("tokenize.merges") = model.merges.size.toDouble
        val enc = udf(model.encode _)
        span("tokenize.encode", "tokenize.encode_s")(save(read("quality")
          .withColumn("tokens", enc(col("text")))
          .withColumn("token_count", size(col("tokens")).cast("long")), "encode"))
        r.layers("tokenize.tokens") =
          read("encode").agg(sum(col("token_count"))).head().getLong(0).toDouble
        read("encode")
      }
    val out = s"${a.out}/staged-out"
    span("sinks", "sinks.s") {
      Sinks.writeParquet(docsOut.drop("tokens"), s"$out/documents",
        cfg.output.maxRecordsPerFile, cfg.output.compression)
      if (tk.enabled) Sinks.writeTokensJsonl(docsOut.select("tokens"), s"$out/tokens")
    }
    val (bytes, files) = dirBytes(out)
    r.layers("sinks.mb_written") = bytes / 1048576.0
    r.layers("sinks.files") = files.toDouble
    Seq("memo.build_s", "memo.late_builds", "memo.scratch_mb").foreach(r.layers(_) = 0.0)
    MenuWorkload.modules.foreach { case (m, _) => r.layers(s"menu.${m}_s") = 0.0 }
    stagedSpans.toSeq
  }

  private def deleteTree(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }
}

object MenuWorkload {
  /** The modules that contribute to `SparkEntry.queries`, by metric name. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "clean" -> Clean.queries, "quality" -> Quality.queries,
    "repetition" -> Repetition.queries, "langmodel" -> LangModel.queries,
    "sampling" -> Sampling.queries, "chunking" -> Chunking.queries,
    "contamination" -> Contamination.queries, "dedup" -> Dedup.queries,
    "minhash" -> MinHash.queries, "cluster" -> Cluster.queries,
    "tokenize" -> Tokenize.queries, "bpe" -> Bpe.queries, "unigram" -> Unigram.queries,
    "wordpiece" -> WordPiece.queries, "wiki" -> Wiki.queries,
    "pipelineops" -> PipelineOps.queries, "analytics" -> Analytics.queries,
    "neardup" -> NearDup.queries, "textembed" -> TextEmbed.queries,
    "relational" -> graft.relational.Relational.queries,
    "similarity" -> graft.relational.Similarity.queries,
    "multimodal" -> graft.multimodal.Multimodal.queries)
}

/** `Memos.build`, then one pass over the menu, each query's result
  * written as parquet. The menu is the first query (by name) of every
  * module: a full 127-query pass does not fit one run, and one query per
  * module keeps every module's fixed cost in view. The pass is each
  * query's first run in the JVM, so it carries planning and codegen; the
  * results it writes are what the DuckDB oracle checks. */
final class MenuWorkload(a: Main.Args) extends Workload {
  import Main._
  private val dir = s"${a.data}/corpus"
  val menu: Seq[(String, String, (SparkSession, String) => DataFrame)] =
    MenuWorkload.modules.map { case (m, qs) => val n = qs.keys.min; (m, n, qs(n)) }

  /** `Memos.build`, timed on its own as `memo_build_s` (and traced when
    * tracing); nothing is charged to `setup_s`. */
  def warmUp(spark: SparkSession, r: Report, t: Option[Tracer]): Double = {
    QueryMemo.phase = "memo_build"
    r.attempted += 1
    def build(): Unit =
      try Memos.build(spark, dir) catch { case e: Exception => r.fail(s"memo build: ${e.getMessage}") }
    r.e2e("memo_build_s") = t match {
      case None => timed(build())._2
      case Some(tr) =>
        val (_, s) = tr.span("memo.build")(build())
        r.spans += Trace.json(s)
        r.layers("memo.build_s") = s.wallS
        s.wallS
    }
    barrier(spark)
    0.0
  }

  /** One pass writing under `out`; returns per-query walls (NaN for a
    * failed query). Traced passes add one span per query to `spans`. */
  private def pass(spark: SparkSession, r: Report, out: String, t: Option[Tracer],
      spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty): Seq[Double] =
    menu.map { case (m, name, fn) =>
      QueryMemo.phase = name
      r.attempted += 1
      def run(): Unit = fn(spark, dir).write.mode("overwrite").parquet(s"$out/$name")
      val wall =
        try t match {
          case None => timed(run())._2
          case Some(tr) =>
            val (_, s) = tr.span(s"$m/$name")(run())
            spans += s
            r.spans += Trace.json(s)
            s.wallS
        } catch { case e: Exception => r.fail(s"$name: ${e.getMessage}"); Double.NaN }
      barrier(spark)
      wall
    }

  def measure(spark: SparkSession, r: Report): Unit = {
    val walls = pass(spark, r, s"${a.out}/menu", None)
    val ok = walls.filter(!_.isNaN)
    val memoS = r.e2e("memo_build_s")
    val menuS = ok.sum
    System.err.println(f"[perfbench] memo $memoS%.3f s, menu pass $menuS%.3f s")
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    r.e2e("menu_s") = menuS
    r.e2e("query_p50_s") = median(ok)
    r.e2e("query_p90_s") = quantile(ok, 0.9)
    r.e2e("docs_per_s") = docs / (memoS + menuS)
    oracleSql(s"${a.out}/menu", r)
  }

  /** Names the menu results that have oracle SQL and writes that SQL
    * beside them, where `tools/selfcheck.py` compares them with DuckDB. */
  private def oracleSql(out: String, r: Report): Unit = {
    val sql = SparkEntry.oracleSql
    val checked = menu.map(_._2).filter(sql.contains)
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      checked.map(n => str(n) + ":" + str(sql(n))).mkString("{", ",", "}"))
    r.oracle = checked
  }

  /** A traced first pass (the per-layer metrics and the oracle results),
    * then an untraced and a traced warm pass for the tracing overhead. */
  def traced(spark: SparkSession, r: Report, t: Tracer): Unit = {
    val spans = mutable.ArrayBuffer.empty[Span]
    val first = pass(spark, r, s"${a.out}/menu", Some(t), spans)
    oracleSql(s"${a.out}/menu", r)
    val untraced = pass(spark, r, s"${a.out}/warm-untraced", None).filter(!_.isNaN).sum
    val traced = pass(spark, r, s"${a.out}/warm-traced", Some(t)).filter(!_.isNaN).sum
    r.layers("memo.late_builds") = QueryMemo.lateBuilds().size.toDouble
    r.layers("memo.scratch_mb") = Main.dirBytes(sys.props("java.io.tmpdir"))._1 / 1048576.0
    r.layers("trace.overhead_share") = (traced - untraced) / untraced
    menu.zip(first).foreach { case ((m, _, _), w) => r.layers(s"menu.${m}_s") = w }
    Trace.layers(spans.toSeq, a.cores).foreach { case (k, v) => r.layers(k) = v }
    Seq("scan.s", "scan.input_mb", "clean.s", "clean.chars_removed", "dedup.signature_s", "dedup.s",
      "dedup.rows_removed", "quality.s", "quality.pass_ratio", "tokenize.wordfreq_s",
      "tokenize.lexicon_words", "tokenize.train_s", "tokenize.merges", "tokenize.encode_s",
      "tokenize.tokens", "sinks.s", "sinks.mb_written", "sinks.files", "pipeline.fusion_gap_s")
      .foreach(r.layers(_) = 0.0)
  }
}
