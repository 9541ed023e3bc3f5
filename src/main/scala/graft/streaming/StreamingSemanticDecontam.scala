package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.SamplingQueries

/** Streaming SEMANTIC decontamination — incoming documents that carry
  * an embedding checked against the eval suite's vectors BEFORE
  * admission: the ingest-side counterpart of batch l42, closing the
  * one decontamination modality that had no ingest form
  * ([[StreamingDecontam]] covers exact n-grams; this catches the
  * PARAPHRASED eval leak that shares no 5-gram — the screen GPT-4/
  * Llama/Phi-class reports run by embedding similarity).
  *
  * Same Spark-first decomposition as the other gates, with l42's own
  * scale argument: the index side is the BENCHMARK SUITE — bounded by
  * construction (10³–10⁴ vectors in production), so it persists as one
  * small parquet artifact and BROADCASTS into every microbatch; the
  * screen is one BroadcastNestedLoopJoin pass with per-row
  * O(|eval|·d) codegen'd native cosines and a per-row max — no
  * shuffle of the stream side at all, per-batch cost O(batch·|eval|)
  * independent of corpus size. The bar is l42's own
  * [[SamplingQueries.SemanticContamE4]] (shared constant — batch
  * audit and ingest gate cannot drift). Rows with no embedding are
  * admissible by construction (this gate judges only what it can
  * see; the n-gram gate still screens their text).
  */
object StreamingSemanticDecontam {

  /** The eval-suite vector index: (vec_id, v) with `v` array<double>.
    * Bounded by the benchmark suite's size by construction. */
  def buildIndex(evalVecs: DataFrame): DataFrame =
    evalVecs.select(col("vec_id"), col("v"))

  /** Persist — the suite is small; one file, id-sorted for audits. */
  def writeIndex(index: DataFrame, base: String): Unit =
    index.coalesce(1).sortWithinPartitions("vec_id")
      .write.mode("overwrite").parquet(s"$base/eval_vecs")

  /** Manifest-aware ([[graft.operators.Compaction.readLive]]): a
    * retracted-into suite tree resolves to its live vectors
    * (GateReadLiveSpec). `schema`, when given, skips inference. */
  def readIndex(spark: SparkSession, base: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    graft.operators.Compaction.readLive(spark, s"$base/eval_vecs", schema)

  /** The broadcast cosine screen (stateless, no watermark) — the
    * composed admission decision runs it inside `foreachBatch`. A doc
    * near several eval vectors emits several rows; callers dedup. */
  def screenRaw(df: DataFrame, index: DataFrame,
      keep: Seq[String] = Nil): DataFrame =
    df.filter(col("v").isNotNull)
      .select(Seq(col("doc_id"), col("v")) ++ keep.map(col): _*)
      .crossJoin(broadcast(index.select(col("v").as("_ev"))))
      .withColumn("cos_e4",
        round(lit(10000) *
          graft.functions.VectorOps.cosineNative(col("v"), col("_ev")))
          .cast("long"))
      .filter(col("cos_e4") >= SamplingQueries.SemanticContamE4)
      .select("doc_id", keep: _*)
}
