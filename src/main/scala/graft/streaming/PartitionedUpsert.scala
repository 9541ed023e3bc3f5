package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Par

/** Hash-partitioned latest-wins upsert — the 100 TB form of the
  * normalized sink.
  *
  * The whole-table swap in [[IngestPipeline]] rewrites O(table) per
  * microbatch, which is correct but unaffordable once the normalized
  * table dwarfs a batch. Here the table is laid out as `nBuckets` hash
  * partitions of the primary key (`path/bucket=<b>/`), and an incoming
  * batch only READS and REWRITES the buckets its keys hash into —
  * untouched buckets are never opened, so per-batch cost is
  * O(touched buckets × bucket size) ≈ O(batch ÷ table × table) instead
  * of O(table). A batch of B keys touches at most min(B, nBuckets)
  * buckets; a table format (Delta/Iceberg MERGE) replaces this file
  * choreography in production, with the identical dataflow.
  *
  * Crash safety per bucket is the same tmp/bak rotation as the
  * whole-table sink ([[IngestPipeline.swapWrite]]), and merge semantics
  * are the same [[IngestPipeline.latestWins]] — one shared
  * implementation, so the two sinks can never drift apart.
  */
object PartitionedUpsert {

  /** Deterministic bucket of a primary-key column. The key is cast to
    * string before hashing so this agrees with [[bucketOfKey]] (which
    * hashes the key's string form) for ANY pk type — hashing the native
    * type would send a non-string pk's rows to different buckets than
    * the driver-side point lookup opens. */
  def bucketOf(pk: Column, nBuckets: Int): Column =
    pmod(xxhash64(pk.cast("string")), lit(nBuckets.toLong)).cast("int")

  private def bucketPath(path: String, b: Int): String = s"$path/bucket=$b"

  /** Upsert `incoming` into the partitioned table at `path`. Returns the
    * bucket ids the batch touched (for observability — the pruning claim
    * is testable). The driver-side `collect` gathers only the ≤ nBuckets
    * distinct bucket ids, never rows. */
  def upsert(spark: SparkSession, path: String, incoming: DataFrame, pk: String,
      tieBreak: Seq[String], nBuckets: Int): Seq[Int] = {
    val withBucket = incoming.withColumn("_b", bucketOf(col(pk), nBuckets))
      .localCheckpoint(true) // one materialization feeds every bucket's merge
    val touched = withBucket.select("_b").distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq
    // each bucket holds what its merge writes, so it is read with that
    // schema (resolved on the driver, no per-bucket inference job)
    val bucketSchema = Some(IngestPipeline.latestWins(None,
      withBucket.drop("_b"), pk, tieBreak).schema)
    // Bucket merges are independent (disjoint key spaces, disjoint
    // directories), so they run as concurrent Spark jobs — the
    // scheduler interleaves their stages instead of serializing
    // read→merge→write per bucket. A failure is rethrown only once
    // every other bucket's swap has finished ([[Par.run]]).
    Par.run(touched.map { b => () =>
      val inc = withBucket.filter(col("_b") === b).drop("_b")
      val merged = IngestPipeline.latestWins(
        IngestPipeline.existing(spark, bucketPath(path, b), bucketSchema),
        inc, pk, tieBreak)
      IngestPipeline.swapWrite(spark, merged, bucketPath(path, b))
    })
    touched
  }

  /** Read the full table: union of every live bucket, each through the
    * crash-window-aware reader (a bucket mid-rotation is served from its
    * `.bak`). Explicit per-bucket paths, NOT a glob — a glob would also
    * match a crashed bucket's `.tmp`/`.bak` siblings and double-read.
    * None when no bucket has landed yet. */
  def readAll(spark: SparkSession, path: String, nBuckets: Int): Option[DataFrame] =
    buckets(spark, path, nBuckets).map(_._2).reduceOption(_.unionByName(_))

  /** Every live bucket of the table at `path`, by bucket id. Every
    * bucket holds what one merge writes, so the first live bucket's
    * inferred schema reads all the others: one footer-inference job per
    * table, not one per bucket. */
  private def buckets(spark: SparkSession, path: String,
      nBuckets: Int): Seq[(Int, DataFrame)] =
    (0 until nBuckets).foldLeft(Vector.empty[(Int, DataFrame)]) { (live, b) =>
      live ++ IngestPipeline.existing(spark, bucketPath(path, b),
        live.headOption.map(_._2.schema)).map(b -> _)
    }

  /** Co-located equi-join of two tables stored in THIS bucket layout on
    * their shared key — the analytic-join path over the upserted sink,
    * wiring the bucketed-join strategy ([[graft.sources.Bucketing]]'s
    * catalog variant) into the sink the pipeline actually writes. A key
    * lands in the same bucket on both sides (same cast-to-string
    * xxhash64, same nBuckets), so the join decomposes into nBuckets
    * independent single-bucket merge joins: each bucket pair is read
    * and joined in place — NO shuffle Exchange anywhere in the plan —
    * and parallelism is nBuckets join tasks, exactly how a catalog
    * bucketed join schedules. Buckets live on only one side cannot
    * match and are skipped (inner-join semantics), and each side reads
    * through the crash-window-aware reader. None when no bucket pair
    * is live. */
  def colocatedJoin(spark: SparkSession, leftPath: String, rightPath: String,
      pk: String, nBuckets: Int): Option[DataFrame] = {
    val right = buckets(spark, rightPath, nBuckets).toMap
    buckets(spark, leftPath, nBuckets).flatMap { case (b, l) =>
      right.get(b).map(r => l.coalesce(1).hint("merge").join(r.coalesce(1), pk))
    }.reduceOption(_.unionByName(_))
  }

  /** The bucket id of one key — same xxhash64(seed 42) the SQL-side
    * [[bucketOf]] computes, so a driver-side point lookup opens exactly
    * the 1/nBuckets of the table that can hold the key. */
  def bucketOfKey(key: String, nBuckets: Int): Int =
    java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        org.apache.spark.sql.types.StringType, 42L), nBuckets.toLong).toInt

  /** Read only the bucket a key hashes into — the point-lookup path. */
  def readBucketOf(spark: SparkSession, path: String, key: String,
      nBuckets: Int): Option[DataFrame] =
    IngestPipeline.existing(spark, bucketPath(path, bucketOfKey(key, nBuckets)))
}
