package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MATERIALIZED training order — l55's deterministic epoch shuffle and
  * l60's curriculum order as written artifacts instead of prose: the
  * DQs fold the permutation into checkable per-shard arithmetic
  * (`order_fp` = Σ position·doc_id); this writes the actual shard
  * files a training run consumes, such that reading shard files in
  * shard order REPLAYS the exact windowed permutation the DQs
  * fingerprint (EpochShardsSpec pins order_fp equality end-to-end).
  *
  * Physical contract, chosen for replayability at 100 TB:
  *
  *  - the order key and shard are the DQs' own row-local columns
  *    (md5 draw salted by epoch / ':curriculum'; shard = the key's
  *    leading hex digits) — shared private constants, so the artifact
  *    and the DQ can never disagree on the permutation;
  *  - rows hash-route BY SHARD to writer tasks ([[DataFrame
  *    .repartition]] on the shard column), each task sorts its shards'
  *    rows by (shard, ord, doc_id), and the write partitions by the
  *    shard column — so every `shard=N` directory holds EXACTLY ONE
  *    file whose internal row order IS the shard's slice of the global
  *    permutation (shards are contiguous ranges of the order key by
  *    construction, so shard-major file order = the global order);
  *  - a consumer replays the epoch by reading shard directories in
  *    shard order, each file front to back (parquet preserves row
  *    order within a file; a 100 TB deployment sizes
  *    [[SamplingQueries.EpochShardHexDigits]] so each file hits the
  *    shard file-size target, and readers scale with shard count).
  *
  * The `ord` column rides along in the files so an auditor can verify
  * sortedness without recomputing the md5 chain.
  */
object EpochShards {

  private[operators] def ordEpoch(epoch: Int): Column =
    substring(md5(concat(col("doc_id").cast("string"),
      lit(":epoch"), lit(epoch).cast("string"))), 1, 8)

  private def ordCurriculum: Column =
    substring(md5(concat(col("doc_id").cast("string"),
      lit(":curriculum"))), 1, 8)

  private[operators] def shardOf(ord: Column = col("ord")): Column =
    conv(substring(ord, 1, SamplingQueries.EpochShardHexDigits), 16, 10)
      .cast("long")

  private def writeSorted(df: DataFrame, path: String,
      partCols: Seq[String]): Unit =
    df.repartition(partCols.map(col): _*)
      .sortWithinPartitions(
        (partCols ++ Seq("ord", "doc_id")).map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(path)

  /** Materialize one epoch's shuffled order of `corpus` (doc_id, text,
    * …) under `base`: one directory per shard, one order-sorted file
    * per directory. Shards are a MATERIALIZATION of the corpus, not an
    * index: a later [[ReleaseFlow.retract]] of released docs does not
    * rewrite them — re-run the shard write (or the whole
    * [[CorpusBuild]]) from the retracted corpus, exactly as any
    * downstream training artifact is refreshed after a recall. */
  def writeShards(corpus: DataFrame, epoch: Int, base: String): Unit =
    writeSorted(
      corpus.filter(col("text").isNotNull)
        .withColumn("ord", ordEpoch(epoch))
        .withColumn("shard", shardOf()),
      s"$base/epoch=$epoch", Seq("shard"))

  /** The post-takedown shard REFRESH: drop every row of `ids` from one
    * epoch's materialized order. Although shards are a materialization,
    * every row is a PURE per-doc function (ord and shard derive from
    * doc_id alone), so the anti-join equals re-running [[writeShards]]
    * on the retracted corpus EXACTLY — including the replay order,
    * because removing rows from an ord-sorted file preserves the
    * relative order of the rest (RetractSpec pins file-order equality
    * with a complement rebuild). Scoped like every index retract: only
    * the `shard=` partitions holding retracted ids are rewritten, one
    * order-sorted file per touched shard, and a shard emptied entirely
    * disappears exactly as the complement rebuild would never write
    * it. */
  def retractShards(spark: SparkSession, ids: DataFrame, epoch: Int,
      base: String): Unit =
    retractShardsPinned(spark, IndexArtifact.pinIds(ids), epoch, base)

  /** [[retractShards]] for an already-materialized id frame (the
    * [[ReleaseFlow.retractAll]] one-pin discipline). */
  private[graft] def retractShardsPinned(spark: SparkSession,
      pinned: DataFrame, epoch: Int, base: String): Unit =
    Compaction.retractWith(spark, s"$base/epoch=$epoch",
      pinned) { (kept, staging) =>
      kept.repartition(col("shard"))
        .sortWithinPartitions("shard", "ord", "doc_id")
        .write.mode("overwrite").partitionBy("shard").parquet(staging)
    }

  /** Materialize l60's two-phase curriculum order: phase 0 (score ≤ 0,
    * bulk first) then phase 1 (score > 0, quality anneal last), each
    * sharded exactly as [[writeShards]]. Reading phase directories in
    * phase order, shards within them in shard order, replays the full
    * curriculum. */
  def writeCurriculumShards(corpus: DataFrame, base: String): Unit =
    writeSorted(
      corpus.filter(col("text").isNotNull)
        .withColumn("ta", split(lower(col("text")), "\\s+"))
        .withColumn("score_milli", expr(CleaningQueries.scoreMilliSql))
        .withColumn("phase", when(col("score_milli") > 0L, 1).otherwise(0))
        .drop("ta")
        .withColumn("ord", ordCurriculum)
        .withColumn("shard", shardOf()),
      s"$base/curriculum", Seq("phase", "shard"))

  /** One shard's rows IN REPLAY ORDER — the file's own row order (no
    * sort: physical order is the contract being consumed). Plans from
    * the artifact's LIVE file set ([[Compaction.liveFilesRelative]]):
    * after a scoped [[retractShards]] the surviving shards' files stay
    * in their original version tree while the rewritten ones live in
    * the new tree's manifest, so a raw partition-directory path no
    * longer names the live data. Reading explicit leaf files (no
    * basePath) keeps partition columns out of the schema — the same
    * frame the historical partition-path read returned. */
  def readShard(spark: SparkSession, base: String, epoch: Int,
      shard: Long): DataFrame =
    readShardFiles(spark, s"$base/epoch=$epoch", Seq(s"shard=$shard"))

  private def readShardFiles(spark: SparkSession, dir: String,
      segments: Seq[String]): DataFrame = {
    val rels = Compaction.liveFilesRelative(spark, dir)
      .filter(r => segments.forall(r.split('/').contains(_)))
      .sorted
    require(rels.nonEmpty,
      s"readShard: no live files for ${segments.mkString("/")} under $dir")
    spark.read.parquet(rels.map(r => s"$dir/$r"): _*)
  }

  /** The epoch's shard ids, live file set — the iteration driver for a
    * replay ([[readShard]] per id, in order). */
  def listShards(spark: SparkSession, base: String, epoch: Int): Seq[Long] =
    Compaction.liveFilesRelative(spark, s"$base/epoch=$epoch")
      .flatMap(_.split('/').find(_.startsWith("shard=")))
      .map(_.stripPrefix("shard=").toLong).distinct.sorted

  def readCurriculumShard(spark: SparkSession, base: String, phase: Int,
      shard: Long): DataFrame =
    readShardFiles(spark, s"$base/curriculum",
      Seq(s"phase=$phase", s"shard=$shard"))

  /** [[retractShards]] on the curriculum order — the same per-doc
    * purity argument (ord, shard AND phase derive from (doc_id, text)
    * alone), so the scoped anti-join equals re-running
    * [[writeCurriculumShards]] on the retracted corpus exactly,
    * phase-major replay order included. */
  def retractCurriculumShards(spark: SparkSession, ids: DataFrame,
      base: String): Unit =
    retractCurriculumShardsPinned(spark, IndexArtifact.pinIds(ids), base)

  private[graft] def retractCurriculumShardsPinned(spark: SparkSession,
      pinned: DataFrame, base: String): Unit =
    Compaction.retractWith(spark, s"$base/curriculum",
      pinned) { (kept, staging) =>
      kept.repartition(col("phase"), col("shard"))
        .sortWithinPartitions("phase", "shard", "ord", "doc_id")
        .write.mode("overwrite").partitionBy("phase", "shard")
        .parquet(staging)
    }
}
