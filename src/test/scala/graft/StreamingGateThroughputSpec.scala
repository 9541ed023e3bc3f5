package graft

import java.nio.file.Files

import graft.streaming.{StreamingDecontam, StreamingDedup, StreamingNearDup}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Throughput floors for the streaming ingest GATES (L17 dedup, L18
  * near-dup screen) — the analog of StreamingIngestSpec's end-to-end
  * floor. The reference's only published performance number is its
  * Kafka produce assertion > 100 msg/s (test_kafka_infrastructure.py:
  * 259, BASELINE.md); both gates must clear a 5× margin over it at
  * bench scale (the sf0.1 document corpus) so a semantics-preserving
  * regression that wrecks gate throughput fails the suite, not just
  * the recorded bench numbers. Floors sit ~2× under quiet-box measured
  * rates (L17 ≈1.0k docs/s, L18 ≈0.95k docs/s, both dominated by the
  * one-batch stream start cost at this 5k-doc size) so a busy box
  * doesn't flake; measured rates are info()'d into the test report and
  * recorded in BASELINE.md.
  */
class StreamingGateThroughputSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  private val sf1 = "/root/testdata/sf0.1"

  /** Wall-clock floors are only meaningful on a quiet box — the same
    * discipline as tools/gate.sh's bench step (a contended box reads
    * 10-30× high, BENCH_NOTES.md). Each case reads the load BEFORE its
    * run, always runs and checks its output, and only then hands the
    * reading to [[rateFloor]]: on a loaded box the rate floor alone
    * cancels (assume) instead of failing a semantics-correct build. */
  private def loadAvg(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  private def rateFloor(loadBefore: Double, label: String, rate: Double): Unit = {
    assume(loadBefore <= sys.env.getOrElse("SPARK_GRAFT_MAX_LOAD", "8").toDouble,
      s"box contended (loadavg $loadBefore) — throughput floor skipped")
    assert(rate > 500.0,
      f"$label rate $rate%.0f/s below 5x the reference's 100 msg/s")
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("ts", TimestampType)))

  /** The sf0.1 documents as a one-batch JSON stream directory. */
  private def dumpDocs(): (String, Long) = {
    val in = Files.createTempDirectory("graft_gate_tput_").toString
    val dd = Tables.documents(spark, sf1)
      .select(col("doc_id"), col("text"),
        lit("2026-01-01T10:00:00Z").cast("timestamp").as("ts"))
    dd.coalesce(1).write.mode("overwrite").json(in)
    (in, dd.count())
  }

  test("L17 streaming dedup gate sustains > 500 docs/s (5x the reference floor)") {
    assume(new java.io.File(sf1).isDirectory)
    val load = loadAvg()
    val (in, n) = dumpDocs()
    val stream = spark.readStream.schema(schema).json(in)
    val t0 = System.nanoTime()
    val q = StreamingDedup.withinWatermark(stream, "ts", "10 minutes")
      .writeStream.format("memory").queryName("gate_tput_dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val landed = spark.table("gate_tput_dedup").count()
    assert(landed > 0 && landed <= n)
    val rate = n / sec
    info(f"L17 dedup gate: $n docs in $sec%.2f s = $rate%.0f docs/s")
    rateFloor(load, "L17 dedup gate", rate)
  }

  test("L18 near-dup screen sustains > 500 docs/s against a persisted " +
      "bench-scale corpus index") {
    assume(new java.io.File(sf1).isDirectory)
    val load = loadAvg()
    // Steady-state shape: the corpus index is MATERIALIZED once (batch
    // refresh), the screen probes the parquet index — so the timed
    // section prices sketch + band probe + verify join, not corpus
    // re-sketching.
    val idxBase = Files.createTempDirectory("graft_gate_idx_").toString
    StreamingNearDup.write(Tables.documents(spark, sf1), idxBase)
    val idx = StreamingNearDup.readIndex(spark, idxBase)
    val (in, n) = dumpDocs()
    val stream = spark.readStream.schema(schema).json(in)
    val t0 = System.nanoTime()
    val q = StreamingNearDup.screen(stream, idx, "ts", "10 minutes")
      .writeStream.format("memory").queryName("gate_tput_screen")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    // every incoming doc is its own corpus copy: the screen must flag
    // (d, d) for every doc with 3-shingle signal — a correctness anchor
    // on the timed run, so a degenerate no-op can't "pass" the floor
    val flagged = spark.table("gate_tput_screen")
      .filter(col("doc_id") === col("corpus_id")).count()
    assert(flagged > n / 2, s"self-pairs flagged: $flagged of $n")
    val rate = n / sec
    info(f"L18 near-dup screen: $n docs in $sec%.2f s = $rate%.0f docs/s")
    rateFloor(load, "L18 screen", rate)
  }

  test("L30 decontamination screen sustains > 500 docs/s against a persisted " +
      "bench-scale holdout gram index") {
    assume(new java.io.File(sf1).isDirectory)
    val load = loadAvg()
    // Steady-state shape: the holdout gram index is materialized once
    // (it changes only when the eval set does); the timed section
    // prices gram explode + semi-join + within-watermark dedup. The
    // whole corpus plays the holdout so every ≥5-token doc self-flags —
    // the correctness anchor on the timed run.
    val idxBase = Files.createTempDirectory("graft_gate_decontam_idx_").toString
    StreamingDecontam.writeIndex(
      StreamingDecontam.buildIndex(Tables.documents(spark, sf1)), idxBase)
    val idx = StreamingDecontam.readIndex(spark, idxBase)
    val (in, n) = dumpDocs()
    val stream = spark.readStream.schema(schema).json(in)
    val t0 = System.nanoTime()
    val q = StreamingDecontam.screen(stream, idx, "ts", "10 minutes")
      .writeStream.format("memory").queryName("gate_tput_decontam")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val flagged = spark.table("gate_tput_decontam").count()
    assert(flagged > n / 2, s"self-contaminated docs flagged: $flagged of $n")
    val rate = n / sec
    info(f"L30 decontam screen: $n docs in $sec%.2f s = $rate%.0f docs/s")
    rateFloor(load, "L30 screen", rate)
  }

  test("L56 media near-dup screen sustains > 500 items/s against a " +
      "persisted bench-scale perceptual-hash index") {
    assume(new java.io.File(sf1).isDirectory)
    val load = loadAvg()
    import graft.streaming.StreamingMediaDedup
    // Steady-state shape: the corpus signature index is materialized
    // once; the timed section prices in-place signing + band probe +
    // Hamming verify. Every incoming item is its own corpus copy
    // (Hamming 0), so self-flagging is the correctness anchor.
    val media = Tables.documents(spark, sf1).select(col("doc_id"),
      graft.functions.Multimodal.payloadCol(col("doc_id")).as("payload"))
    val idxBase = Files.createTempDirectory("graft_gate_media_idx_").toString
    StreamingMediaDedup.write(media, idxBase)
    val idx = StreamingMediaDedup.readIndex(spark, idxBase)
    val in = Files.createTempDirectory("graft_gate_media_in_").toString
    val withTs = media.withColumn("ts",
      lit("2026-01-01T10:00:00Z").cast("timestamp"))
    withTs.coalesce(1).write.mode("overwrite").parquet(in)
    val n = withTs.count()
    val stream = spark.readStream
      .schema("doc_id LONG, payload BINARY, ts TIMESTAMP").parquet(in)
    val t0 = System.nanoTime()
    val q = StreamingMediaDedup.screen(stream, idx, "ts", "10 minutes")
      .writeStream.format("memory").queryName("gate_tput_media")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    val flagged = spark.table("gate_tput_media")
      .filter(col("doc_id") === col("corpus_id")).count()
    assert(flagged === n, s"self-pairs flagged: $flagged of $n")
    val rate = n / sec
    info(f"L56 media screen: $n items in $sec%.2f s = $rate%.0f items/s")
    rateFloor(load, "L56 screen", rate)
  }
}
