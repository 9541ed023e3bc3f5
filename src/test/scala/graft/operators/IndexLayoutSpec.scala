package graft.operators

import graft.Session
import graft.functions.Multimodal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every persisted index artifact keeps ONE physical layout across its
  * lifecycle: after the release flows' init and again after their
  * compaction, each range-clustered artifact's live files cover
  * pairwise-disjoint key ranges, and each LSH band lives in one file.
  * An append lands one key-sorted file per artifact, and compaction
  * restores the range layout over the append chain.
  * The corpus is multi-partition with doc_ids interleaved across
  * partitions, so a layout that only sorts within the input partitions
  * shows as overlapping files. */
class IndexLayoutSpec extends AnyFunSuite {

  private lazy val spark = Session.get()

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** 64 docs over 4 input partitions; each partition holds doc_ids
    * from all four quarters of the id range. */
  private def ids: DataFrame =
    spark.range(0, 64, 1, 4)
      .select(((col("id") % 4) * 16 + col("id") / 4).cast("long").as("doc_id"))

  /** Shuffle output kept at 4 partitions (no AQE coalescing), so a
    * clustered write lands several files whose ranges can be compared. */
  private def multiFile[T](body: => T): T = {
    val keys = Seq("spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.shuffle.partitions")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "false")
    spark.conf.set(keys(1), "4")
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Per live file, the [min, max] of the layout key (as a tuple); no two
    * files' intervals may intersect. */
  private def assertRangeDisjoint(dir: String, keys: String*): Unit = {
    val k = struct(keys.map(col): _*)
    val iv = Compaction.readLive(spark, dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(k).as("lo"), max(k).as("hi"))
    assert(iv.count() > 1, s"$dir: expected several live files")
    val overlaps = iv.as("a").join(iv.as("b"),
        col("a.f") < col("b.f") && col("a.lo") <= col("b.hi") &&
          col("b.lo") <= col("a.hi"))
      .select("a.f", "b.f").collect()
    assert(overlaps.isEmpty,
      s"$dir: files with overlapping ${keys.mkString("(", ", ", ")")} " +
        s"ranges: ${overlaps.take(3).mkString("; ")}")
  }

  test("ReleaseFlow: every artifact is range-clustered after init and " +
      "after compact") {
    val corpus = ids.select(col("doc_id"), lit("en").as("lang"),
      expr("concat_ws(' ', transform(sequence(1, 40), " +
        "i -> concat('w', (doc_id * 7 + i * 13) % 97)))").as("text"))
    val base = tmp("graft_layout_release_")
    def check(): Unit = {
      assertRangeDisjoint(s"${ReleaseFlow.dedupDir(base)}/content_hashes", "h")
      assertRangeDisjoint(s"${ReleaseFlow.neardupDir(base)}/sketch", "doc_id")
      assertRangeDisjoint(s"${ReleaseFlow.neardupDir(base)}/bands",
        "band_id", "bkey")
      assertRangeDisjoint(s"${ReleaseFlow.substrDir(base)}/span_grams", "gram")
    }
    multiFile {
      ReleaseFlow.init(corpus, base)
      check()
      ReleaseFlow.compact(spark, base)
      check()
    }
  }

  test("ReleaseFlow: each append lands one key-sorted file per artifact; " +
      "compact restores the range layout and the rows equal a rebuild") {
    def docs(offset: Long) = ids.select((col("doc_id") + offset).as("doc_id"),
      lit("en").as("lang"),
      expr("concat_ws(' ', transform(sequence(1, 40), " +
        "i -> concat('w', (doc_id * 7 + i * 13) % 97)))").as("text"))
    val artifacts = Seq(
      (ReleaseFlow.dedupDir _, "content_hashes", Seq("h")),
      (ReleaseFlow.neardupDir _, "sketch", Seq("doc_id")),
      (ReleaseFlow.neardupDir _, "bands", Seq("band_id", "bkey")),
      (ReleaseFlow.substrDir _, "span_grams", Seq("gram")))
    def rows(base: String): Seq[Seq[String]] = artifacts.map { case (d, sub, _) =>
      Compaction.readLive(spark, s"${d(base)}/$sub").collect()
        .map(_.toString).sorted.toSeq
    }
    val base = tmp("graft_layout_append_")
    multiFile {
      ReleaseFlow.init(docs(0L), base)
      for (offset <- Seq(1000L, 2000L)) {
        val before = artifacts.map { case (d, sub, _) =>
          Compaction.liveFilesRelative(spark, s"${d(base)}/$sub").toSet }
        ReleaseFlow.indexes(base).appendDeferred(docs(offset))()
        artifacts.zip(before).foreach { case ((d, sub, keys), old) =>
          val dir = s"${d(base)}/$sub"
          val added = Compaction.liveFilesRelative(spark, dir).filterNot(old)
          assert(added.size === 1, s"$dir: files landed by one append: $added")
          val file = spark.read.parquet(s"$dir/${added.head}")
            .select(keys.map(col): _*)
          assert(file.collect().toSeq ===
            file.orderBy(keys.map(col): _*).collect().toSeq,
            s"$dir: the appended file is not sorted by ${keys.mkString(", ")}")
        }
      }
      ReleaseFlow.compact(spark, base)
      artifacts.foreach { case (d, sub, keys) =>
        assertRangeDisjoint(s"${d(base)}/$sub", keys: _*)
      }
      val rebuilt = tmp("graft_layout_rebuilt_")
      ReleaseFlow.init(docs(0L).unionByName(docs(1000L)).unionByName(docs(2000L)),
        rebuilt)
      rows(base).zip(rows(rebuilt)).zip(artifacts).foreach {
        case ((live, re), (_, sub, _)) => assert(live === re, sub)
      }
    }
  }

  test("MediaReleaseFlow: every artifact is range-clustered after init " +
      "and after compact") {
    val media = ids.select(col("doc_id"),
      Multimodal.payloadCol(col("doc_id")).as("payload"))
    val base = tmp("graft_layout_media_")
    def check(): Unit = {
      assertRangeDisjoint(
        s"${MediaReleaseFlow.bytehashDir(base)}/payload_hashes", "h")
      assertRangeDisjoint(s"${MediaReleaseFlow.phashDir(base)}/sigs", "doc_id")
      assertRangeDisjoint(s"${MediaReleaseFlow.phashDir(base)}/bands",
        "band_id", "bkey")
    }
    multiFile {
      MediaReleaseFlow.init(media, base)
      check()
      MediaReleaseFlow.compact(spark, base)
      check()
    }
  }

  test("LSH bands: every band_id lives in exactly one file") {
    val vecs = ids.select(col("doc_id").as("vec_id"),
      expr("transform(sequence(1, 64), i -> sin(vec_id * 1.7 + i))").as("v"))
    val base = tmp("graft_layout_lsh_")
    multiFile(AnnIndexes.writeLsh(AnnIndexes.lshBands(vecs), base))
    val perBand = Compaction.readLive(spark, s"$base/lsh_bands")
      .withColumn("f", input_file_name())
      .groupBy("band_id").agg(countDistinct("f").as("n"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(perBand.size === 4) // 4 bands of the 16-plane signature
    assert(perBand.values.forall(_ == 1), s"files per band: $perBand")
  }
}
