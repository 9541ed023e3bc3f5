package graft

import java.nio.file.{Files, Paths}

import graft.streaming.StreamingNearDup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming near-dup screen: incoming docs banded map-side and checked
  * against the batch-built corpus index through stream-static joins —
  * the ingest-side gate of batch L9. */
class StreamingNearDupSpec extends AnyFunSuite {

  private lazy val spark = Session.get()

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("ts", TimestampType)))

  private val corpusText = "the quick brown fox jumps over the lazy dog " +
    "while seventeen astronauts compile quarterly reports under moonlight"
  private val nearDupText = corpusText.split(" ").drop(1).mkString(" ")

  private def corpus = {
    import spark.implicits._
    Seq((100L, corpusText),
        (101L, "completely different language about tax law and gardening tips"))
      .toDF("doc_id", "text")
  }

  test("a re-crawled variant is flagged against its corpus doc exactly once; " +
      "novel and sub-shingle docs are admissible") {
    val in = Files.createTempDirectory("graft_sneardup_").toString
    // One microbatch: a near-dup of corpus doc 100 (first token dropped —
    // hashes differently, so exact dedup would admit it), a novel doc,
    // and a 2-token doc below the shingle width.
    Files.write(Paths.get(in, "f1.json"), String.join("\n",
      s"""{"doc_id":1,"text":"$nearDupText","ts":"2026-01-01T10:00:00Z"}""",
      """{"doc_id":2,"text":"entirely fresh prose mentioning submarines and accordions with gusto","ts":"2026-01-01T10:00:01Z"}""",
      """{"doc_id":3,"text":"two tokens","ts":"2026-01-01T10:00:02Z"}""").getBytes)

    val idx = StreamingNearDup.buildIndex(corpus)
    val stream = spark.readStream.schema(schema).json(in)
    val q = StreamingNearDup.screen(stream, idx, "ts", "10 minutes")
      .writeStream.format("memory").queryName("sneardup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val rows = spark.table("sneardup").collect()
    // Exactly one flagged pair — several of the 16 bands match the
    // near-identical signature, so this also proves the pair-level
    // within-watermark dedup collapsed the band multiplicity.
    assert(rows.length === 1, s"got ${rows.mkString("; ")}")
    assert(rows(0).getAs[Long]("doc_id") === 1L)
    assert(rows(0).getAs[Long]("corpus_id") === 100L)
    // Dropping 1 of 15 tokens keeps 12 of 13 shingles: jac ≈ 0.92.
    assert(rows(0).getAs[Long]("jac_e4") >= StreamingNearDup.DefaultThresholdE4,
      s"jac ${rows(0).getAs[Long]("jac_e4")}")
  }

  test("a persisted index screens identically to the in-memory one") {
    val base = Files.createTempDirectory("graft_sneardup_idx_").toString
    StreamingNearDup.write(corpus, base)
    val idx = StreamingNearDup.readIndex(spark, base)

    val in = Files.createTempDirectory("graft_sneardup_pidx_").toString
    Files.write(Paths.get(in, "f1.json"),
      s"""{"doc_id":7,"text":"$nearDupText","ts":"2026-01-01T10:00:00Z"}""".getBytes)
    val stream = spark.readStream.schema(schema).json(in)
    val q = StreamingNearDup.screen(stream, idx, "ts", "10 minutes")
      .writeStream.format("memory").queryName("sneardup_pidx")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val rows = spark.table("sneardup_pidx").collect()
    assert(rows.length === 1 && rows(0).getAs[Long]("corpus_id") === 100L,
      s"got ${rows.mkString("; ")}")
  }

  test("write and append sketch each document once: both artifacts derive " +
      "from one pinned sketch") {
    // counts evaluations of the doc text; nondeterministic, so the
    // optimizer neither duplicates nor reorders it within one pass
    val seen = spark.sparkContext.longAccumulator("sneardup_sketched")
    val touch = udf { (t: String) => seen.add(1L); t }.asNondeterministic()
    def docs(offset: Long) =
      corpus.select((col("doc_id") + offset).as("doc_id"),
        touch(col("text")).as("text"))
    val base = Files.createTempDirectory("graft_sneardup_once_").toString
    // each range-clustered write would otherwise run its input twice
    // (range-bound sampling, then the shuffle), once per artifact
    StreamingNearDup.write(docs(0L), base)
    assert(seen.value === 2L)
    StreamingNearDup.append(docs(10L), base)
    assert(seen.value === 4L)
    val idx = StreamingNearDup.readIndex(spark, base)
    assert(idx.sketch.count() === 4L)
    assert(idx.bands.select("doc_id").distinct().count() === 4L)
  }

  test("sf0.1: screening a microbatch against the bench-scale corpus index " +
      "stays candidate-bounded and flags the planted re-crawl") {
    val sf01 = "/root/testdata/sf0.1"
    assume(new java.io.File(sf01).isDirectory)
    import spark.implicits._
    val corpusDocs = Tables.documents(spark, sf01)
    val idx = StreamingNearDup.buildIndex(corpusDocs)

    // Microbatch: 30 re-crawled corpus docs (first token dropped — the
    // same variant family as l9's planted dups) + 10 novel docs, ids
    // offset past the corpus range.
    val base = corpusDocs.orderBy("doc_id").limit(30)
      .select(col("doc_id"), col("text")).collect()
    val novel = (0 until 10).map(i =>
      (9000000L + i, s"novel stream doc $i about glaciers accordions and item${i * 7}"))
    val lines = base.zipWithIndex.map { case (r, i) =>
      val t = r.getString(1).split("\\s+").drop(1).mkString(" ")
        .replace("\\", "").replace("\"", "")
      s"""{"doc_id":${8000000L + i},"text":"$t","ts":"2026-01-01T10:00:00Z"}"""
    } ++ novel.map { case (id, t) =>
      s"""{"doc_id":$id,"text":"$t","ts":"2026-01-01T10:00:01Z"}""" }
    val in = Files.createTempDirectory("graft_sneardup_sf01_").toString
    Files.write(Paths.get(in, "f1.json"), String.join("\n", lines: _*).getBytes)

    val q = StreamingNearDup.screen(
      spark.readStream.schema(schema).json(in), idx, "ts", "10 minutes")
      .writeStream.format("memory").queryName("sneardup_sf01")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val rows = spark.table("sneardup_sf01").collect()
    val flaggedIn = rows.map(_.getAs[Long]("doc_id")).distinct
    // Long enough re-crawls must be caught (sub-4-token docs have no
    // signal by construction); novel docs must pass.
    val eligible = base.zipWithIndex
      .filter(_._1.getString(1).split("\\s+").length >= 4).map(8000000L + _._2)
    val missed = eligible.filterNot(flaggedIn.contains)
    assert(missed.isEmpty, s"re-crawls admitted: $missed")
    assert(flaggedIn.forall(_ < 9000000L), "a novel doc was flagged")
    // Density guard, the same discipline as l9's cand_per_doc_e2: the
    // flagged-pair volume stays near the planted count — template-y
    // corpora must not bucket-explode the stream side.
    assert(rows.length <= 40 * 20,
      s"pair volume ${rows.length} suggests bucket blowup")
  }

  test("the streaming screen's jaccard matches batch l9's verification arithmetic") {
    // Same pair, computed through the batch doc-sketch + array_intersect
    // path the screen shares — values must be identical, not just both
    // above threshold.
    import spark.implicits._
    val both = Seq((1L, nearDupText), (100L, corpusText)).toDF("doc_id", "text")
    val sk = graft.operators.LlmQueries.docSketch(both)
    val a = sk.filter(col("doc_id") === 1L)
      .select(col("shs").as("sha"), col("n_sh").as("na"))
    val b = sk.filter(col("doc_id") === 100L)
      .select(col("shs").as("shb"), col("n_sh").as("nb"))
    val batchJac = a.crossJoin(b)
      .select(round(size(array_intersect(col("sha"), col("shb"))).cast("long") * lit(10000.0) /
        (col("na") + col("nb") - size(array_intersect(col("sha"), col("shb"))).cast("long")))
        .cast("long").as("jac_e4"))
      .head().getLong(0)
    val streamed = spark.table("sneardup").collect()
    assume(streamed.nonEmpty, "runs after the screen test in suite order")
    assert(streamed(0).getAs[Long]("jac_e4") === batchJac)
  }

  test("screenBatch flags the identical pair set as the stream form (sf0.001 corpus)") {
    val dd = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull).select("doc_id", "text")
    // corpus = 70% of docs; batch = the rest plus first-token-dropped
    // near-dups of corpus docs (hash differently, band-match their source)
    val corpusSlice = dd.filter(col("doc_id") % 10 < 7)
    val idx = StreamingNearDup.buildIndex(corpusSlice)
    val batch = dd.filter(col("doc_id") % 10 >= 7)
      .unionByName(corpusSlice.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text")))
    val stream = StreamingNearDup.screenRaw(batch, idx, keep = Nil)
      .select("doc_id", "corpus_id", "jac_e4").distinct()
    val batched = StreamingNearDup.screenBatch(batch, idx, keep = Nil)
      .select("doc_id", "corpus_id", "jac_e4").distinct()
    assert(stream.exceptAll(batched).count() === 0)
    assert(batched.exceptAll(stream).count() === 0)
    // and the batch form found the planted near-dups at all
    assert(batched.count() > 0)
  }
}
