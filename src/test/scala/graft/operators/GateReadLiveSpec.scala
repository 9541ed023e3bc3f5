package graft.operators

import graft.Session
import graft.streaming.{StreamingDecontam, StreamingMediaDedup,
  StreamingNearDup, StreamingSemanticDecontam, StreamingSubstring}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-18 gate-family sweep: EVERY stream-static index a gate
  * probes resolves through the manifest-aware [[Compaction.readLive]],
  * pinned the only way that matters — retract into each artifact until
  * its live tree is MANIFEST-BEARING (a scoped retraction rewrote a
  * strict subset of files; `_MANIFEST` + `_CURRENT` now define the
  * live set), then assert the gate's next-batch decision EXCLUDES the
  * retracted rows while untouched rows keep screening. A raw
  * `spark.read.parquet` at any of these sites would re-admit the
  * superseded files and silently keep flagging (or admitting) on
  * recalled data — exactly the hazard Compaction.scala's readLive
  * contract warns about.
  *
  * Six gates: exact-hash admission ([[DedupIndex.novelOnly]] — the
  * AdmissionPipeline backstop probe), minhash near-dup
  * ([[StreamingNearDup]]), media phash ([[StreamingMediaDedup]]),
  * verbatim span ([[StreamingSubstring]]), n-gram decontamination
  * ([[StreamingDecontam]]), semantic decontamination
  * ([[StreamingSemanticDecontam]]).
  */
class GateReadLiveSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  import spark.implicits._

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The live tree is manifest-bearing — the retraction took the
    * scoped path, so a non-manifest-aware read WOULD see superseded
    * files. Every gate case asserts this before trusting its
    * post-retraction decision pin. */
  private def manifested(dir: String): Boolean =
    Compaction.currentVersion(spark, dir).exists(v =>
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, s"v$v", "_MANIFEST")))

  // disjoint-vocabulary texts: group A tokens a1.., group B tokens b1..
  private def words(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")

  /** A flat-layout artifact's writer for [[Compaction]]'s swaps. */
  private def writer(layout: DataFrame => DataFrame) =
    (df: DataFrame, path: String) =>
      layout(df).write.mode("overwrite").parquet(path)

  test("DedupIndex.novelOnly: retraction re-admits the retracted " +
      "content hash, untouched hashes keep blocking") {
    val base = tmp("graft_gate_dedup")
    val c1 = Seq((1L, words("a", 6))).toDF("doc_id", "text")
    val c2 = Seq((2L, words("b", 6))).toDF("doc_id", "text")
    DedupIndex.write(c1, base)
    DedupIndex.append(c2, base)
    val batch = Seq((101L, words("a", 6)), (102L, words("b", 6)),
      (103L, words("c", 6))).toDF("doc_id", "text")
    def admitted() = DedupIndex.novelOnly(batch,
        DedupIndex.read(spark, base))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted() === Set(103L), "both indexed contents block")
    DedupIndex.retract(spark, Seq(2L).toDF("doc_id"), base)
    assert(manifested(s"$base/content_hashes"),
      "retraction must have produced a manifest-bearing tree")
    assert(admitted() === Set(102L, 103L),
      "the retracted hash admits; the untouched hash still blocks")
  }

  test("StreamingNearDup: retraction stops flagging against the " +
      "retracted corpus doc, untouched doc keeps flagging") {
    val base = tmp("graft_gate_neardup")
    val c1 = Seq((1L, words("a", 20))).toDF("doc_id", "text")
    val c2 = Seq((2L, words("b", 20))).toDF("doc_id", "text")
    StreamingNearDup.write(c1, base)
    StreamingNearDup.append(c2, base)
    val batch = Seq((101L, words("a", 20)), (102L, words("b", 20)))
      .toDF("doc_id", "text")
    def flagged() = StreamingNearDup.screenRaw(batch,
        StreamingNearDup.readIndex(spark, base), Nil)
      .select("doc_id", "corpus_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged() === Set((101L, 1L), (102L, 2L)))
    StreamingNearDup.retract(spark, Seq(2L).toDF("doc_id"), base)
    assert(manifested(s"$base/sketch") || manifested(s"$base/bands"),
      "retraction must have produced a manifest-bearing tree")
    assert(flagged() === Set((101L, 1L)),
      "the retracted doc's copy admits; the untouched one still flags")
  }

  test("StreamingMediaDedup: retraction stops flagging against the " +
      "retracted media, untouched media keeps flagging") {
    val base = tmp("graft_gate_media")
    val pa = Array.fill[Byte](64)(7)
    val pb = Array.tabulate[Byte](64)(i => (i * 37 + 11).toByte)
    val m1 = Seq((1L, pa)).toDF("doc_id", "payload")
    val m2 = Seq((2L, pb)).toDF("doc_id", "payload")
    StreamingMediaDedup.write(m1, base)
    StreamingMediaDedup.append(m2, base)
    def flagged() = StreamingMediaDedup.screenRaw(
        Seq((101L, pa), (102L, pb)).toDF("doc_id", "payload"),
        StreamingMediaDedup.readIndex(spark, base), Nil)
      .select("doc_id", "corpus_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged() === Set((101L, 1L), (102L, 2L)))
    StreamingMediaDedup.retract(spark, Seq(2L).toDF("doc_id"), base)
    assert(manifested(s"$base/sigs") || manifested(s"$base/bands"),
      "retraction must have produced a manifest-bearing tree")
    assert(flagged() === Set((101L, 1L)))
  }

  test("StreamingSubstring: retraction stops flagging spans owned by " +
      "the retracted corpus doc, untouched spans keep flagging") {
    val base = tmp("graft_gate_substr")
    val c1 = Seq((1L, words("a", 16))).toDF("doc_id", "text")
    val c2 = Seq((2L, words("b", 16))).toDF("doc_id", "text")
    StreamingSubstring.writeIndex(StreamingSubstring.buildIndex(c1), base)
    StreamingSubstring.buildIndex(c2).coalesce(1)
      .sortWithinPartitions("gram")
      .write.mode("append").parquet(s"$base/corpus_spans")
    val batch = Seq((101L, words("a", 16)), (102L, words("b", 16)))
      .toDF("doc_id", "text")
    def flagged() = StreamingSubstring.screenRaw(batch,
        StreamingSubstring.readIndex(spark, base))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged() === Set(101L, 102L))
    Compaction.retractWith(spark, s"$base/corpus_spans",
      Seq(2L).toDF("corpus_id"), "corpus_id")(
      writer(_.sortWithinPartitions("gram")))
    assert(manifested(s"$base/corpus_spans"),
      "retraction must have produced a manifest-bearing tree")
    assert(flagged() === Set(101L),
      "spans owned only by the retracted doc no longer flag")
  }

  test("StreamingDecontam: retraction of a recalled holdout item's " +
      "grams re-admits its copies, untouched grams keep flagging") {
    val base = tmp("graft_gate_decontam")
    val h1 = Seq((1L, words("a", 6))).toDF("doc_id", "text")
    val h2 = Seq((2L, words("b", 6))).toDF("doc_id", "text")
    StreamingDecontam.writeIndex(StreamingDecontam.buildIndex(h1), base)
    StreamingDecontam.buildIndex(h2).coalesce(1)
      .sortWithinPartitions("gram")
      .write.mode("append").parquet(s"$base/holdout_grams")
    val batch = Seq((101L, words("a", 6)), (102L, words("b", 6)))
      .toDF("doc_id", "text")
    def flagged() = StreamingDecontam.screenRaw(batch,
        StreamingDecontam.readIndex(spark, base))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged() === Set(101L, 102L))
    Compaction.retractWith(spark, s"$base/holdout_grams",
      StreamingDecontam.buildIndex(h2).localCheckpoint(), "gram")(
      writer(_.sortWithinPartitions("gram")))
    assert(manifested(s"$base/holdout_grams"),
      "retraction must have produced a manifest-bearing tree")
    assert(flagged() === Set(101L),
      "the recalled holdout item's grams no longer contaminate")
  }

  test("StreamingSemanticDecontam: retraction of a recalled eval " +
      "vector re-admits docs near it, untouched vectors keep flagging") {
    val base = tmp("graft_gate_semdec")
    val e1 = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "v")
    val e2 = Seq((2L, Seq(0.0, 1.0, 0.0, 0.0))).toDF("vec_id", "v")
    StreamingSemanticDecontam.writeIndex(
      StreamingSemanticDecontam.buildIndex(e1), base)
    StreamingSemanticDecontam.buildIndex(e2).coalesce(1)
      .sortWithinPartitions("vec_id")
      .write.mode("append").parquet(s"$base/eval_vecs")
    val batch = Seq(
        (101L, Seq(1.0, 0.0, 0.0, 0.0)),
        (102L, Seq(0.0, 1.0, 0.0, 0.0)),
        (103L, Seq(0.0, 0.0, 1.0, 0.0))).toDF("doc_id", "v")
    def flagged() = StreamingSemanticDecontam.screenRaw(batch,
        StreamingSemanticDecontam.readIndex(spark, base))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(flagged() === Set(101L, 102L))
    Compaction.retractWith(spark, s"$base/eval_vecs",
      Seq(2L).toDF("vec_id"), "vec_id")(
      writer(_.coalesce(1).sortWithinPartitions("vec_id")))
    assert(manifested(s"$base/eval_vecs"),
      "retraction must have produced a manifest-bearing tree")
    assert(flagged() === Set(101L),
      "docs near only the recalled eval vector re-admit")
  }

  test("a read with a schema resolved once reads the same rows as a " +
      "schema-inferring read after an append, a compact and a retract") {
    val base = tmp("graft_gate_schema")
    def docs(ids: Range) =
      ids.map(i => ("und", i.toLong, words(s"s${i}w", 30))).toDF("lang", "doc_id", "text")
    ReleaseFlow.init(docs(1 to 4), base)
    // the semantic-decontam suite, one vector per doc id
    def evals(ids: Range) =
      ids.map(i => (i.toLong, Seq(i.toDouble, 1.0))).toDF("vec_id", "v")
    val evalBase = s"$base/eval"
    val evalDir = s"$evalBase/eval_vecs"
    StreamingSemanticDecontam.writeIndex(
      StreamingSemanticDecontam.buildIndex(evals(1 to 4)), evalBase)
    // the media perceptual index, one payload per doc id
    def media(ids: Range) = ids.map(i =>
      (i.toLong, Array.tabulate[Byte](64)(j => (j * i + 7 * i).toByte)))
      .toDF("doc_id", "payload")
    val mediaBase = s"$base/media"
    StreamingMediaDedup.write(media(1 to 4), mediaBase)
    // what a live query resolves once at start
    val nd0 = StreamingNearDup.readIndex(spark, ReleaseFlow.neardupDir(base))
    val md0 = StreamingMediaDedup.readIndex(spark, mediaBase)
    val sch = Seq(SubstringIndex.read(spark, ReleaseFlow.substrDir(base)),
      DedupIndex.read(spark, ReleaseFlow.dedupDir(base)),
      StreamingSemanticDecontam.readIndex(spark, evalBase)).map(_.schema)
    def reads(pinned: Boolean): Seq[DataFrame] = {
      def s(i: Int) = if (pinned) Some(sch(i)) else None
      val nd = StreamingNearDup.readIndex(spark, ReleaseFlow.neardupDir(base),
        if (pinned) Some(nd0) else None)
      val md = StreamingMediaDedup.readIndex(spark, mediaBase,
        if (pinned) Some(md0) else None)
      Seq(nd.sketch, nd.bands, md.sigs, md.bands,
        SubstringIndex.read(spark, ReleaseFlow.substrDir(base), s(0)),
        DedupIndex.read(spark, ReleaseFlow.dedupDir(base), s(1)),
        StreamingSemanticDecontam.readIndex(spark, evalBase, s(2)))
    }
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def same(step: String): Seq[Int] =
      reads(pinned = true).zip(reads(pinned = false)).zipWithIndex.map {
        case ((p, i), k) =>
          assert(p.schema === i.schema, s"$step: read $k schema")
          assert(rows(p) === rows(i), s"$step: read $k rows")
          p.select(p.columns.find(Set("doc_id", "vec_id")).get)
            .distinct().collect().length
      }
    assert(same("init").forall(_ == 4))
    val shard = docs(5 to 6)
    DedupIndex.append(shard, ReleaseFlow.dedupDir(base))
    StreamingNearDup.append(shard, ReleaseFlow.neardupDir(base))
    SubstringIndex.append(shard, ReleaseFlow.substrDir(base))
    StreamingMediaDedup.append(media(5 to 6), mediaBase)
    Compaction.appendInto(spark, evalDir)(
      StreamingSemanticDecontam.buildIndex(evals(5 to 6))
        .write.mode("append").parquet(_))
    assert(same("append").forall(_ == 6), "the pinned read must list afresh")
    val evalLayout = writer(_.coalesce(1).sortWithinPartitions("vec_id"))
    ReleaseFlow.compact(spark, base)
    StreamingMediaDedup.compact(spark, mediaBase)
    Compaction.rewriteWith(spark, evalDir)(evalLayout)
    assert(same("compact").forall(_ == 6))
    ReleaseFlow.retract(spark, Seq(5L).toDF("doc_id"), base)
    StreamingMediaDedup.retract(spark, Seq(5L).toDF("doc_id"), mediaBase)
    Compaction.retractWith(spark, evalDir, Seq(5L).toDF("vec_id"), "vec_id")(evalLayout)
    assert(same("retract").forall(_ == 5))
  }
}
