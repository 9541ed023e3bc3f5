package graft

import java.nio.file.Files

import graft.functions.Multimodal
import graft.streaming.StreamingMediaDedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming media gate: incoming payloads signed in place and checked
  * against the batch-built perceptual-hash index through stream-static
  * joins — the ingest-side gate of batch l53. */
class StreamingMediaDedupSpec extends AnyFunSuite {

  private lazy val spark = Session.get()

  /** Deterministic payloads, the l53 construction: sha256 of a tagged
    * id; the "re-encoded copy" overwrites byte 0 with 0x7F. */
  private def corpusMedia = {
    val ids = (100L to 119L).toSeq
    import spark.implicits._
    ids.toDF("doc_id").select(col("doc_id"),
      Multimodal.payloadCol(col("doc_id")).as("payload"))
  }

  private def perturbedOf(base: org.apache.spark.sql.DataFrame, srcId: Long,
      newId: Long) =
    base.filter(col("doc_id") === srcId)
      .select(lit(newId).as("doc_id"),
        concat(lit(Array[Byte](0x7F.toByte)),
          expr("substring(payload, 2, 31)")).as("payload"))

  test("a re-encoded copy of an indexed payload is flagged exactly once " +
      "at Hamming <= 3; a novel payload is admissible") {
    val idx = StreamingMediaDedup.buildIndex(corpusMedia)

    val in = Files.createTempDirectory("graft_smedia_in_").toString
    val incoming = perturbedOf(corpusMedia, 105L, 1L)
      .unionByName(
        // novel: a payload from OUTSIDE the indexed id range
        spark.range(1).select(lit(2L).as("doc_id"),
          Multimodal.payloadCol(lit(99999)).as("payload")))
      .withColumn("ts", lit("2026-01-01T10:00:00Z").cast("timestamp"))
    incoming.write.mode("overwrite").parquet(in)

    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("payload", BinaryType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema).parquet(in)
    val q = StreamingMediaDedup.screen(stream, idx, "ts", "10 minutes")
      .writeStream.format("memory").queryName("smedia")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val rows = spark.table("smedia").collect()
    // one flagged pair despite band multiplicity (>=1 of 4 bands match
    // a <=2-bit-perturbed signature by pigeonhole) — the within-watermark
    // pair dedup collapsed the duplicates; the novel doc emitted nothing
    assert(rows.length === 1, s"got ${rows.mkString("; ")}")
    assert(rows(0).getAs[Long]("doc_id") === 1L)
    assert(rows(0).getAs[Long]("corpus_id") === 105L)
    assert(rows(0).getAs[Long]("hamming") <= 3L)
  }

  test("persisted index screens identically to in-memory, and append-" +
      "then-read equals a rebuild over the union corpus") {
    val base = Files.createTempDirectory("graft_smedia_idx_").toString
    val half = corpusMedia.filter(col("doc_id") < 110L)
    val rest = corpusMedia.filter(col("doc_id") >= 110L)
    StreamingMediaDedup.write(half, base)
    StreamingMediaDedup.append(rest, base)
    val fromDisk = StreamingMediaDedup.readIndex(spark, base)
    val rebuilt = StreamingMediaDedup.buildIndex(corpusMedia)

    // same probe (batch form) against both indexes → identical pairs
    val probe = perturbedOf(corpusMedia, 103L, 50L)
      .unionByName(perturbedOf(corpusMedia, 115L, 51L))
    def screened(idx: StreamingMediaDedup.Index) =
      StreamingMediaDedup.screenRaw(probe, idx, keep = Nil)
        .distinct().collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_id")))
        .toSet
    val got = screened(fromDisk)
    assert(got === screened(rebuilt))
    assert(got === Set((50L, 103L), (51L, 115L)),
      "both halves of the index must be probable — 115 lives in the appended half")
  }

  test("a null payload signs NULL and is shed by the screen instead of " +
      "crashing the task (the text gate's null-text discipline)") {
    val idx = StreamingMediaDedup.buildIndex(corpusMedia)
    val probe = perturbedOf(corpusMedia, 107L, 60L)
      .unionByName(spark.range(1).select(lit(61L).as("doc_id"),
        lit(null).cast("binary").as("payload")))
    val got = StreamingMediaDedup.screenRaw(probe, idx, keep = Nil)
      .distinct().collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_id")))
    assert(got.toSet === Set((60L, 107L)),
      "the null-payload row must vanish, the real near-dup must still flag")
  }

  test("the column signature (stream path) equals the typed pipeline " +
      "(batch l53 path) on the same payloads — shared math, no drift") {
    import org.apache.spark.sql.Encoders
    val viaCol = corpusMedia
      .select(col("doc_id"), Multimodal.sigCol(col("payload")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaTyped = Multimodal.perceptualHash(
      Multimodal.extractFeatures(
        corpusMedia.as[Multimodal.MediaRaw](Encoders.product[Multimodal.MediaRaw]),
        bins = 64))
      .collect().map(s => s.doc_id -> s.sig).toMap
    assert(viaCol === viaTyped)
    assert(viaCol.values.toSet.size > 1, "signatures must differentiate payloads")
  }
}
