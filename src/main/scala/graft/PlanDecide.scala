package graft

import org.apache.spark.sql.functions._

import graft.streaming.{AdmissionPipeline, StreamingNearDup, StreamingSubstring}
import graft.operators.{DedupIndex, ReleaseFlow}

/** Dump the physical plan of the gate ladder's DECISION frame — the
  * round-19 plan-evidence companion to [[PlanDump]]. Every lifecycle
  * gate pins `decide()`'s output behind a localCheckpoint, so the
  * catalog dumps (returned frames) cannot show the screen-fusion work:
  * this main initializes a scratch artifact set from the sf corpus,
  * constructs the exact decision frame [[ReleaseFlow]]'s release path
  * builds (same gates, same shard pin, pre-tokens included), and
  * explains it WITHOUT executing it through a sink.
  *
  * Usage: runMain graft.PlanDecide <outFile>
  */
object PlanDecide {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("plans/r20/decide_screens.txt")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.get()
    val base = java.nio.file.Files
      .createTempDirectory("graft_plandecide_").toString
    val corpus = Tables.documents(spark, sfDir)
      .filter(col("text").isNotNull)
      .select(col("lang"), col("doc_id"), col("text"))
    ReleaseFlow.init(corpus, base)
    // the shard pin releaseDeferred builds (disjoint ids)
    val shard = AdmissionPipeline.gatePin(
      corpus.withColumn("doc_id", col("doc_id") + lit(10000000L)))(identity)
    val gates = AdmissionPipeline.Gates(
      StreamingNearDup.readIndex(spark, ReleaseFlow.neardupDir(base)),
      spark.emptyDataFrame.select(lit(0L).as("gram")).limit(0),
      corpusSpans = Some(
        StreamingSubstring.fromPersisted(spark, ReleaseFlow.substrDir(base))),
      exactHashes = Some(
        DedupIndex.read(spark, ReleaseFlow.dedupDir(base)).select("h")))
    val decided = AdmissionPipeline.decide(shard, gates)
    val plan = decided.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(out).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[plandecide] -> $out")
    spark.stop()
  }
}
