package graft

import java.nio.file.Files

import graft.pipeline.{Bpe, Pipeline, Quality, Unigram, WordPiece}
import org.apache.spark.sql.functions._

/** Config-driven end-to-end run (reference src/main.py entry point 1). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val good =
    "The history of science is the study of how natural knowledge was developed " +
      "and refined over many years by people in many parts of the world and it " +
      "is a field that draws on the work of many scholars over time and it " +
      "was shaped by the tools and ideas that were available at each point."

  private def docs = Seq(
    (1L, good),
    (2L, good), // exact dup of 1
    (3L, good.replace("science", "art")), // near dup of 1
    (4L, "too short"),
    (5L, good + " " + "A closing different sentence changes this document meaningfully with more unique words appended here.")
  ).toDF("doc_id", "text")

  test("end-to-end run: clean, dedup, quality, tokenize, sinks, summary") {
    val out = Files.createTempDirectory("pipe").toString
    val summary = Pipeline.run(docs, Pipeline.GraftConfig(), out).collect().head
    assert(summary.getAs[Long]("docs_ingested") == 5L)
    assert(summary.getAs[Long]("docs_after_clean") == 4L)   // doc 4 dropped
    assert(summary.getAs[Long]("docs_after_dedup") == 2L)   // 2 and 3 are dups of 1
    assert(summary.getAs[Long]("docs_passed_quality") == 2L)
    assert(summary.getAs[Long]("total_tokens") > 0L)
    assert(spark.read.parquet(s"$out/documents").count() == 2L)
    assert(spark.read.json(s"$out/tokens").count() == 2L)
    assert(Files.readString(java.nio.file.Paths.get(s"$out/summary.json"))
      .contains("\"docs_ingested\":5"))
  }

  /** Passed docs that repeat words within and across documents, so the
    * per-task encode memo serves most words from cache. */
  private def tokenDocs = Seq(
    (1L, good),
    (2L, "The river runs past the old mill and the mill wheel turns as the river runs " +
      "on toward the sea where the boats of the town wait for the morning tide to turn. " +
      "Fishermen in the town say the river was wider once and the boats came up to the " +
      "mill itself before the new bridge was built across the water by the town council."),
    (3L, "A small garden behind the house grew beans and tomatoes and the beans climbed " +
      "the fence while the tomatoes ripened slowly in the warm summer sun every year. " +
      "The family that kept the garden shared the harvest with their neighbours and " +
      "saved seeds from the best plants so that the next garden would grow even better."),
    (4L, "Caf\u00e9 owners in the old quarter say the caf\u00e9 trade grew when the " +
      "market moved closer and the market crowds stayed for coffee in the afternoon. " +
      "Some of them now open early for the traders who set up their stalls before dawn " +
      "and who come back again at noon for bread, soup and another cup of strong coffee.")
  ).toDF("doc_id", "text")

  test("token counts, summary and tokens JSONL agree with Model.encode (bpe, wordpiece, unigram)") {
    for (algo <- Seq("bpe", "wordpiece", "unigram")) {
      val out = Files.createTempDirectory("pipe").toString
      val tk = Pipeline.TokenizationConfig(algorithm = algo, vocabSize = 80)
      val summary = Pipeline.run(tokenDocs, Pipeline.GraftConfig(tokenization = tk), out)
        .collect().head
      val written = spark.read.parquet(s"$out/documents")
      val lines = spark.read.schema("tokens array<int>").json(s"$out/tokens")
      assert(written.count() >= 3L, s"$algo: too few docs passed to exercise the encode")
      val docTokens = written.agg(sum(col("token_count"))).head().getLong(0)
      val lineTokens = lines.agg(sum(size(col("tokens")))).head().getLong(0)
      assert(docTokens == summary.getAs[Long]("total_tokens"), algo)
      assert(lineTokens == docTokens, algo)
      // the same model, retrained from the passed texts, encoded uncached
      val freqs = Bpe.wordFrequencies(written)
      val encode: String => Array[Int] = algo match {
        case "bpe" => Bpe.train(freqs, tk.vocabSize, tk.minFrequency).encode
        case "wordpiece" => WordPiece.train(freqs, tk.vocabSize, tk.minFrequency).encode
        case "unigram" => Unigram.train(freqs, tk.vocabSize).encode
      }
      val texts = written.select("text").as[String].collect()
      val expected = texts.map(t => encode(t).mkString(" ")).sorted.toSeq
      val actual = lines.as[Seq[Int]].collect().map(_.mkString(" ")).sorted.toSeq
      assert(actual == expected, s"$algo: token arrays differ from Model.encode")
      val counts = written.select("text", "token_count").as[(String, Long)].collect()
      assert(counts.forall { case (t, n) => encode(t).length.toLong == n },
        s"$algo: token_count differs from size(Model.encode(text))")
    }
  }

  test("pipeline_metrics.json carries the reference report fields (A6)") {
    val out = Files.createTempDirectory("pipe").toString
    // doc 6: long but digit-heavy → fails the quality cascade, so
    // filter_reasons is non-empty
    val digits = (1 to 60).map(i => s"$i$i$i$i").mkString(" ")
    Pipeline.run(docs.union(Seq((6L, digits + " " + digits)).toDF("doc_id", "text")),
      Pipeline.GraftConfig(), out).collect()
    val json = Files.readString(java.nio.file.Paths.get(s"$out/pipeline_metrics.json"))
    // metrics.py:151-161 to_dict shape
    for (f <- Seq("\"pipeline_duration_seconds\"", "\"stages\"", "\"filter_reasons\"",
        "\"timestamp\"")) assert(json.contains(f), s"missing $f in $json")
    // per-stage StageMetrics fields (metrics.py:18-59)
    for (f <- Seq("\"stage_name\"", "\"duration_seconds\"", "\"input_count\"",
        "\"output_count\"", "\"filtered_count\"", "\"error_count\"",
        "\"bytes_processed\"", "\"throughput\"", "\"filter_rate\""))
      assert(json.contains(f), s"missing $f in $json")
    for (s <- Seq("ingest", "clean", "dedup", "quality", "tokenize"))
      assert(json.contains(s"\"$s\": {\"stage_name\": \"$s\""), s"missing stage $s")
    // exact counts, from the same run the summary reports
    assert(json.contains("\"stage_name\": \"ingest\", ") && json.contains("\"input_count\": 6"))
    // doc 4 (too short) filtered at clean: filtered_count 1 of 6
    assert(json.replaceAll(".*\"clean\": \\{", "").takeWhile(_ != '}')
      .contains("\"filtered_count\": 1"))
    // doc 6 fails quality → appears in filter_reasons with a count
    val reasons = json.split("\"filter_reasons\": ")(1).takeWhile(_ != '}')
    assert(reasons.contains(": 1"), s"expected a filtered reason count in $reasons")
  }

  test("metricsEnabled=false writes no metrics file") {
    val out = Files.createTempDirectory("pipe").toString
    Pipeline.run(docs, Pipeline.GraftConfig(metricsEnabled = false,
      tokenization = Pipeline.TokenizationConfig(enabled = false)), out).collect()
    assert(!Files.exists(java.nio.file.Paths.get(s"$out/pipeline_metrics.json")))
  }

  test("exact_hash algorithm keeps near-dups; maxDocs caps ingest") {
    val out = Files.createTempDirectory("pipe").toString
    val cfg = Pipeline.GraftConfig(
      maxDocs = Some(4L),
      dedup = Pipeline.DedupConfig(algorithm = "exact_hash"),
      tokenization = Pipeline.TokenizationConfig(enabled = false))
    val summary = Pipeline.run(docs, cfg, out).collect().head
    assert(summary.getAs[Long]("docs_ingested") == 4L)
    assert(summary.getAs[Long]("docs_after_dedup") == 2L) // near-dup 3 survives exact hash
  }
}
