package graft.operators

import graft.{Session, Tables}
import graft.streaming.StreamingNearDup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[ReleaseFlow.retract]]'s contract — the RECALL half of the release
  * lifecycle, pinned three ways:
  *
  *  1. RESTORE: after `release(shard)` then `retract(admitted ids)`,
  *     every artifact's row multiset equals its pre-release snapshot
  *     byte-for-byte, and a retract of ids the artifacts never held is
  *     a no-op;
  *  2. COMPLEMENT REBUILD: retracting release 1 from a two-release
  *     chain leaves artifacts equal to a FRESH init over
  *     (corpus ∪ release-2 admissions) — the anti-join IS a rebuild
  *     without the retracted docs, the append contract read backwards;
  *  3. DECISION IDENTITY: re-releasing the same shard against the
  *     retracted artifacts reproduces the original decision frame
  *     row-for-row (the corpus state is provably "as if never
  *     released").
  *
  * Same pins on the media column ([[MediaReleaseFlow.retract]]).
  */
class RetractSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  private val sf = "/root/testdata/sf0.001"

  private def docsAll = Tables.documents(spark, sf)
    .filter(col("text").isNotNull)
    .select("lang", "doc_id", "text")

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap

  private def artifacts(base: String): Map[String, Map[String, Int]] = Map(
    "dedup" -> rowsOf(DedupIndex.read(spark, ReleaseFlow.dedupDir(base))),
    "substr" -> rowsOf(SubstringIndex.read(spark, ReleaseFlow.substrDir(base))),
    "sketch" -> rowsOf(StreamingNearDup
      .readIndex(spark, ReleaseFlow.neardupDir(base)).sketch),
    "bands" -> rowsOf(StreamingNearDup
      .readIndex(spark, ReleaseFlow.neardupDir(base)).bands))

  test("retract(admitted) restores every artifact to its pre-release " +
      "multiset; unknown ids are a no-op; a re-release decides " +
      "identically to the original") {
    val base = tmp("graft_retract")
    val corpus = docsAll.filter(col("doc_id") % 3 === 0)
    ReleaseFlow.init(corpus, base)
    val pristine = artifacts(base)

    val off = 1000000L
    // a mixed shard: fresh docs (admit) and corpus copies (reject) —
    // rejected rows never reach the artifacts, so only admissions
    // need retraction
    val shard = docsAll.filter(col("doc_id") % 3 === 1)
      .select(col("lang"), (col("doc_id") + lit(off)).as("doc_id"),
        col("text"))
      .unionByName(corpus.filter(col("doc_id") % 9 === 0)
        .select(col("lang"), (col("doc_id") + lit(2 * off)).as("doc_id"),
          col("text")))
    val d1 = ReleaseFlow.release(spark, shard, base)
    val dec1 = d1.select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dec1.values.exists(_ == "admit") &&
      dec1.values.exists(_ != "admit"),
      "fixture must release a mixed-decision shard")
    val released = artifacts(base)
    assert(released !== pristine, "the release must change the artifacts")

    // ids the artifacts never held: a no-op rewrite
    ReleaseFlow.retract(spark,
      spark.range(5).select((col("id") + lit(77 * off)).as("doc_id")), base)
    assert(artifacts(base) === released, "unknown-id retract is a no-op")

    ReleaseFlow.retract(spark,
      d1.filter(col("decision") === "admit").select("doc_id"), base)
    assert(artifacts(base) === pristine,
      "retraction must restore the pre-release artifacts exactly")

    // the corpus state is "as if never released": the same shard
    // re-decides identically
    val dec2 = ReleaseFlow.release(spark, shard, base)
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dec2 === dec1, "re-release must reproduce the original decisions")
  }

  test("retracting release 1 of a chain equals a fresh init over " +
      "(corpus ∪ release-2 admissions)") {
    val base = tmp("graft_retract_chain")
    val corpus = docsAll.filter(col("doc_id") % 3 === 0)
    ReleaseFlow.init(corpus, base)
    val off = 1000000L
    def slice(k: Int) = docsAll.filter(col("doc_id") % 3 === 1 &&
        col("doc_id") % 6 === lit(if (k == 1) 1 else 4))
      .select(col("lang"), (col("doc_id") + lit(k * off)).as("doc_id"),
        col("text"))
    val d1 = ReleaseFlow.release(spark, slice(1), base)
    val d2 = ReleaseFlow.release(spark, slice(2), base)

    ReleaseFlow.retract(spark,
      d1.filter(col("decision") === "admit").select("doc_id"), base)

    val admitted2 = d2.filter(col("decision") === "admit")
      .select("lang", "doc_id", "text")
    val rebuilt = tmp("graft_retract_rebuild")
    ReleaseFlow.init(corpus.unionByName(admitted2), rebuilt)
    assert(artifacts(base) === artifacts(rebuilt),
      "retract must equal a rebuild without the retracted docs")
  }

  test("media retract: restores the artifact pair, unknown ids no-op, " +
      "re-release decides identically") {
    val base = tmp("graft_retract_media")
    val allm = docsAll
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.functions.Multimodal.payloadCol(col("doc_id")).as("payload"))
    val corpus = allm.filter(col("doc_id") % 3 === 0)
    MediaReleaseFlow.init(corpus, base)
    def mediaArtifacts() = Map(
      "bytes" -> rowsOf(MediaReleaseFlow.readByteIndex(spark, base)),
      "sigs" -> rowsOf(graft.streaming.StreamingMediaDedup
        .readIndex(spark, MediaReleaseFlow.phashDir(base)).sigs),
      "bands" -> rowsOf(graft.streaming.StreamingMediaDedup
        .readIndex(spark, MediaReleaseFlow.phashDir(base)).bands))
    val pristine = mediaArtifacts()

    val off = 1000000L
    val shard = allm.filter(col("doc_id") % 3 === 1)
      .select((col("doc_id") + lit(off)).as("doc_id"), col("payload"))
      .unionByName(corpus.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + lit(2 * off)).as("doc_id"), col("payload")))
    val d1 = MediaReleaseFlow.release(spark, shard, base)
    val dec1 = d1.select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dec1.values.exists(_ == "admit") &&
      dec1.values.exists(_ != "admit"))
    val released = mediaArtifacts()
    assert(released !== pristine)

    MediaReleaseFlow.retract(spark,
      spark.range(5).select((col("id") + lit(77 * off)).as("doc_id")), base)
    assert(mediaArtifacts() === released)

    MediaReleaseFlow.retract(spark,
      d1.filter(col("decision") === "admit").select("doc_id"), base)
    assert(mediaArtifacts() === pristine)

    val dec2 = MediaReleaseFlow.release(spark, shard, base)
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dec2 === dec1)
  }

  test("retractAll: ONE call recalls doc + ANN artifacts, refreshes the " +
      "epoch shards in place (≡ a complement rebuild, replay order " +
      "included), and marks rebuild-class artifacts stale until a " +
      "retrain re-stamps them") {
    val base = tmp("graft_retractall")
    val annBase = tmp("graft_retractall_ann")
    val shardBase = tmp("graft_retractall_sh")
    val dsirBase = tmp("graft_retractall_dsir")
    val corpus = docsAll.filter(col("doc_id") % 3 === 0)
    ReleaseFlow.init(corpus, base)
    val pristine = artifacts(base)
    val off = 1000000L
    val shard = docsAll.filter(col("doc_id") % 3 === 1)
      .select(col("lang"), (col("doc_id") + lit(off)).as("doc_id"),
        col("text"))
    val d1 = ReleaseFlow.release(spark, shard, base)
    val admitted = d1.filter(col("decision") === "admit")
      .select("lang", "doc_id", "text").localCheckpoint()
    assert(!admitted.isEmpty, "fixture must admit rows")
    val full = corpus.unionByName(admitted)
    val complement = corpus // full minus the admitted ids

    // the deployment footprint: ANN over deterministic per-doc vectors
    // in the SAME id namespace, one materialized epoch order, one
    // stamped DSIR model — all built over the post-release corpus
    def vecsOf(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id").as("vec_id"),
      array((col("doc_id") % 7).cast("double"),
        (col("doc_id") % 5).cast("double"),
        (col("doc_id") % 3).cast("double"),
        lit(1.0)).as("v"))
    AnnIndexes.writeLsh(AnnIndexes.lshBands(vecsOf(full)), annBase)
    AnnIndexes.writeIvf(AnnIndexes.buildIvf(vecsOf(full), 8, 2), annBase)
    EpochShards.writeShards(full.select("doc_id", "text"), 0, shardBase)
    DsirIndex.write(DsirIndex.build(full, "en"), full, dsirBase)
    assert(!TrainMeta.isStale(spark, dsirBase), "fresh stamp is not stale")

    val ledger = ReleaseFlow.retractAll(spark, admitted.select("doc_id"),
      ReleaseFlow.Footprint(base, ann = Some(annBase),
        shards = Seq(shardBase -> Seq(0)),
        rebuildClass = Seq(dsirBase)))
    assert(ledger.size === 4, ledger.toString)

    // doc artifacts: back to the pre-release multisets exactly
    assert(artifacts(base) === pristine,
      "retractAll must restore the doc artifacts")
    // ANN: equal to a complement rebuild (same centroids for IVF —
    // retraction never retrains, so compare the band index exactly and
    // the inverted lists' surviving id set)
    assert(rowsOf(AnnIndexes.readLsh(spark, annBase)) ===
      rowsOf(AnnIndexes.lshBands(vecsOf(complement))),
      "LSH must equal the complement rebuild")
    assert(AnnIndexes.readIvf(spark, annBase).lists
        .select("vec_id").collect().map(_.getLong(0)).toSet ===
      complement.select("doc_id").collect().map(_.getLong(0)).toSet,
      "IVF lists must hold exactly the complement ids")
    // epoch shards: the in-place refresh equals writeShards on the
    // complement — per shard, row-for-row IN FILE ORDER
    val rebuilt = tmp("graft_retractall_sh2")
    EpochShards.writeShards(complement.select("doc_id", "text"), 0, rebuilt)
    def shardDirs(b: String) = EpochShards.listShards(spark, b, 0)
    assert(shardDirs(shardBase) === shardDirs(rebuilt),
      "refreshed shard set must equal the complement rebuild's")
    shardDirs(rebuilt).foreach { sh =>
      val got = EpochShards.readShard(spark, shardBase, 0, sh)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val want = EpochShards.readShard(spark, rebuilt, 0, sh)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(got === want, s"shard $sh replay order must survive the refresh")
    }
    // rebuild-class: stale after the mark, fresh again after a retrain
    assert(TrainMeta.isStale(spark, dsirBase),
      "retractAll must mark the DSIR model stale")
    assert(TrainMeta.isStaleFor(complement, dsirBase),
      "the strong check agrees")
    // the staleness is SURFACED at the scoring call site: a read of
    // the marked model throws unless the caller opts in — forgetting
    // the rebuild is loud, not a silent stale score
    val staleEx = intercept[IllegalStateException] {
      DsirIndex.read(spark, dsirBase)
    }
    assert(staleEx.getMessage.contains("STALE") &&
      staleEx.getMessage.contains("allowStale"), staleEx.getMessage)
    assert(DsirIndex.read(spark, dsirBase, allowStale = true).count() > 0,
      "the explicit opt-in still reads the stale model")
    DsirIndex.write(DsirIndex.build(complement, "en"), complement, dsirBase)
    assert(!TrainMeta.isStale(spark, dsirBase),
      "a re-stamping retrain clears the marker")
    assert(DsirIndex.read(spark, dsirBase).count() > 0,
      "a re-stamped model reads without the opt-in")
    assert(!TrainMeta.isStaleFor(complement, dsirBase),
      "and the strong check matches the retrained corpus")
    assert(TrainMeta.isStaleFor(full, dsirBase),
      "a different corpus still reads stale under the strong check")
  }

  test("retractAll on a versioned ANN root takes the ids out of the live " +
      "tree's inverted lists (fp64 and int8) and the root's LSH bands") {
    val base = tmp("graft_retractall_vroot")
    val root = tmp("graft_retractall_vroot_ann")
    val corpus = docsAll.filter(col("doc_id") % 3 === 0)
    ReleaseFlow.init(corpus, base)
    val vecs = corpus.select(col("doc_id").as("vec_id"),
      array((col("doc_id") % 7).cast("double"),
        (col("doc_id") % 5).cast("double"), lit(1.0)).as("v"))
    AnnIndexes.initIvfVersioned(vecs, k = 8, iters = 2, root)
    val live = AnnIndexes.currentIvfDir(root)
    AnnIndexes.writeIvfInt8(AnnIndexes.buildIvfInt8From(
      AnnIndexes.readIvfCurrent(spark, root).centroids, vecs), live)
    AnnIndexes.writeLsh(AnnIndexes.lshBands(vecs), root)
    val victims = corpus.filter(col("doc_id") % 2 === 0).select("doc_id")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    val kept = ids(vecs) -- victims.collect().map(_.getLong(0))
    assert(kept.nonEmpty && kept.size < ids(vecs).size, "fixture")
    ReleaseFlow.retractAll(spark, victims,
      ReleaseFlow.Footprint(base, ann = Some(root)))
    assert(ids(AnnIndexes.readIvfCurrent(spark, root).lists) === kept,
      "the live tree's fp64 lists must hold exactly the kept ids")
    assert(ids(AnnIndexes.readIvfInt8(spark, live).lists) === kept,
      "the live tree's int8 lists must hold exactly the kept ids")
    assert(ids(AnnIndexes.readLsh(spark, root)) === kept,
      "the root's LSH bands must hold exactly the kept ids")
  }
}
