package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{AdmissionPipeline, StreamingNearDup, StreamingSubstring}
import graft.operators.{DedupIndex, LlmQueries, ReleaseFlow}

/** Per-arm cost profile of the gate ladder's decide() — the round-19
  * measure-first companion to [[PlanDecide]]: the lifecycle gates'
  * residual wall is the decision checkpoint's executor compute
  * (BenchGate: ~15 s run across its AQE stages for c1), and this main
  * prices each screen arm SEPARATELY over the same pinned shard so the
  * optimization targets the arm that owns the time instead of the
  * ladder wholesale. Same noop-sink + min-of-runs discipline as
  * [[Bench]].
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.BenchDecide [runs]
  */
object BenchDecide {
  def main(args: Array[String]): Unit = {
    val runs = args.headOption.map(_.toInt).getOrElse(3).max(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.get()
    val base = java.nio.file.Files
      .createTempDirectory("graft_benchdecide_").toString
    val corpus = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("lang"), col("doc_id"), col("text"))
    ReleaseFlow.init(corpus, base)
    // the shard pin releaseDeferred builds (disjoint ids)
    val shard = AdmissionPipeline.gatePin(
      corpus.withColumn("doc_id", col("doc_id") + lit(10000000L)))(identity)
    val neardup = StreamingNearDup.readIndex(spark, ReleaseFlow.neardupDir(base))
    val spans = StreamingSubstring.fromPersisted(spark, ReleaseFlow.substrDir(base))
    val hashes = DedupIndex.read(spark, ReleaseFlow.dedupDir(base)).select("h")
    val gates = AdmissionPipeline.Gates(neardup,
      spark.emptyDataFrame.select(lit(0L).as("gram")).limit(0),
      corpusSpans = Some(spans), exactHashes = Some(hashes))

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def minOf(label: String)(df: => DataFrame): Unit = {
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0) / 1e9
      }
      println(f"[decide-arm] $label%-28s min ${ts.min}%6.3f s  shots ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }

    // the guarded arms' batch-id frame exactly as decide() builds it: the
    // pin's own column, no `distinct`
    val batchOwned = shard.select(col("doc_id").as("corpus_id"))
    minOf("full_decide") { AdmissionPipeline.decide(shard, gates) }
    minOf("arm_neardup_batch_form") {
      StreamingNearDup.screenBatch(shard, neardup, keep = Nil)
        .join(batchOwned, Seq("corpus_id"), "left_anti")
    }
    minOf("arm_span_exact") {
      StreamingSubstring.screenRaw(shard, spans,
        excludeOwners = Some(batchOwned))
    }
    // sub-parts of the near-dup arm: where inside the screen the time is
    minOf("nd_docSketch") { LlmQueries.docSketch(shard) }
    minOf("nd_buckets") {
      LlmQueries.minhashBuckets(
        LlmQueries.docSketch(shard, keep = Nil).select("doc_id", "sig"))
    }
    minOf("nd_index_bands_scan") { neardup.bands }
    minOf("nd_index_sketch_scan") { neardup.sketch }
    minOf("nd_band_join_only") {
      LlmQueries.minhashBuckets(
          LlmQueries.docSketch(shard, keep = Nil).select("doc_id", "sig"))
        .join(neardup.bands
          .select(col("doc_id").as("corpus_id"), col("band_id"), col("bkey")),
          Seq("band_id", "bkey"))
        .select("doc_id", "corpus_id")
    }
    minOf("arm_exact_hash") {
      shard.withColumn("_h", DedupIndex.contentHash)
        .join(hashes.select(col("h").as("_h")), Seq("_h"), "left_semi")
    }
    minOf("arm_quality_stats") {
      LlmQueries.withStopBp(shard)
        .withColumn("_rep",
          LlmQueries.ladderFlags(col("text"), col("toks"))
            .foldLeft(LlmQueries.top2Bp(col("toks")) >
              LlmQueries.RepetitionFlagBp)(_ || _))
        .select(col("doc_id"), col("_rep"))
    }
    spark.stop()
  }
}
