package graft.operators

import graft.{Session, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** c1's oracle is deterministic only because of construction
  * guarantees its planted shard must uphold (see [[CorpusBuildQueries]]
  * — the curation closure's near-dup arm is the one piece DuckDB
  * cannot replay). This spec pins those guarantees directly at
  * sf0.001, r1's discipline one stage deeper. */
class CorpusBuildQueriesSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  private val sf = "/root/testdata/sf0.001"

  private def fixture() = {
    val all = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .select(col("lang"), col("doc_id"), col("text"))
      .withColumn("ta", split(lower(col("text")), "\\s+"))
    val corpus = all.filter(ReleaseQueries.inCorpus)
    val held = all.filter(!ReleaseQueries.inCorpus)
    val corpusG8 = SamplingQueries.docGramsK(corpus, Seq.empty, 8,
      hashed = false).select("gram").distinct()
    val dirty = SamplingQueries.docGramsK(held, Seq("doc_id"), 8,
        hashed = false)
      .join(corpusG8, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    val clean = held.join(dirty, Seq("doc_id"), "left_anti")
    val cleanG = SamplingQueries.docGramsK(clean, Seq("doc_id"), 8,
      hashed = false)
    val sharedIds = cleanG.as("a")
      .join(cleanG.as("b"), col("a.gram") === col("b.gram") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id")).distinct()
    (all, corpus, clean.join(sharedIds, Seq("doc_id"), "left_anti"))
  }

  test("ws-pair guarantee: the first- and second-space doublings of " +
      "every eligible solo doc keep the token array AND the char count " +
      "identical to each other (the pin that makes the pair pass the " +
      "quality chain together and cluster at Jaccard 10000)") {
    val (_, _, solo) = fixture()
    val wsSrc = solo.filter(col("doc_id") % 6 === 2 &&
      instr(col("text"), " ") > 0)
    assert(wsSrc.count() > 0, "fixture must have ws-pair sources")
    val v = wsSrc
      .withColumn("v1", ReleaseQueries.wsVariant)
      .withColumn("v2", expr(
        "concat(substring(text, 1, instr(text, ' ') + " +
          "instr(substring(text, instr(text, ' ') + 1), ' ')), ' ', " +
          "substring(text, instr(text, ' ') + " +
          "instr(substring(text, instr(text, ' ') + 1), ' ') + 1))"))
    val bad = v.filter(
      !(split(lower(col("v1")), "\\s+") === split(lower(col("v2")), "\\s+")) ||
        length(col("v1")) =!= length(col("v2")) ||
        length(col("v1")) =!= length(col("text")) + 1)
    assert(bad.count() === 0,
      "a ws pair drifted in tokens or char count")
  }

  test("the curation stage's verified pairs are EXACTLY the planted " +
      "same-source pairs — no natural >=0.6-Jaccard pair survives the " +
      "solo discipline (the claim that licenses the kind-5 pin)") {
    val (all, _, solo) = fixture()
    val off = all.agg(max("doc_id")).collect()(0).getLong(0) + 1L
    val wsSrc = solo.filter(col("doc_id") % 6 === 2 &&
      instr(col("text"), " ") > 0)
    val exSrc = solo.filter(col("doc_id") % 6 === 4)
    def cls(src: org.apache.spark.sql.DataFrame, k: Int,
        text: org.apache.spark.sql.Column) =
      src.select(col("lang"), (col("doc_id") + lit(k * off)).as("doc_id"),
        text.as("text"))
    // the curation-stage population: exactly the classes that can reach
    // it (k4/k5 ws pairs, k6/k7 exact pairs, k8 naturals)
    val curationPool = cls(wsSrc, 4, ReleaseQueries.wsVariant)
      .unionByName(cls(wsSrc, 5, expr(
        "concat(substring(text, 1, instr(text, ' ') + " +
          "instr(substring(text, instr(text, ' ') + 1), ' ')), ' ', " +
          "substring(text, instr(text, ' ') + " +
          "instr(substring(text, instr(text, ' ') + 1), ' ') + 1))")))
      .unionByName(cls(exSrc, 6, col("text")))
      .unionByName(cls(exSrc, 7, col("text")))
      .unionByName(cls(solo.filter(col("doc_id") % 6 === 3 ||
        col("doc_id") % 6 === 5), 8, col("text")))
    val pairs = LlmQueries.candidatePairs(curationPool)
      .filter(col("jac_e4") >= 6000)
      .select("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "the fixture must plant verified pairs")
    pairs.foreach { case (a, b) =>
      val (srcA, kA) = (a % off, a / off)
      val (srcB, kB) = (b % off, b / off)
      assert(srcA === srcB &&
        (Set(kA, kB) == Set(4L, 5L) || Set(kA, kB) == Set(6L, 7L)),
        s"natural pair leaked into curation: ($a, $b)")
    }
  }

  test("c1 output invariants at sf0.001: shard rows reconcile with the " +
      "manifest's train row per language, and every planted pair " +
      "resolved as constructed (one survivor per pair)") {
    val out = CorpusBuildQueries.c1.fn(spark, sf).collect()
    val man = out.filter(r => r.getString(0) == "manifest" &&
      r.getString(1) == "train")
      .map(r => r.getString(2) -> ((r.getLong(3), r.getLong(4)))).toMap
    val shardSum = out.filter(_.getString(0) == "shard")
      .groupBy(_.getString(2)).view.mapValues(rs =>
        (rs.map(_.getLong(3)).sum, rs.map(_.getLong(4)).sum)).toMap
    assert(shardSum === man, "shard rows vs train manifest rows")
    val curation = out.filter(_.getString(0) == "curation")
    assert(curation.nonEmpty, "planted pairs must reach curation")
  }

  test("c1 on a cold memo: the solo frame builds the shared clean frame " +
      "inside its own build, and the output matches the warm snapshot's") {
    // a snapshot no spec has read: c1's soloFrame call finds neither
    // shared frame built, so one memo build runs inside another
    val cold = java.nio.file.Files.createTempDirectory("c1_cold")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/documents.parquet"),
      cold.resolve("documents.parquet"))
    def rows(d: String) =
      CorpusBuildQueries.c1.fn(spark, d).collect().map(_.toString).sorted.toSeq
    assert(rows(cold.toString) === rows(sf))
    assert(CorpusBuildQueries.soloFrame(spark, cold.toString) eq
      CorpusBuildQueries.soloFrame(spark, cold.toString))
  }

  test("c2's cleansing build is non-degenerate at sf0.001 — every stage " +
      "fires: cleaned_out pages, a low_quality gate class, curation " +
      "twins, and a manifest — and the twin pairs converge to byte-equal " +
      "cleaned text (the property that makes the oracle's exact window " +
      "replay the whole curation stage)") {
    val out = CorpusBuildQueries.c2.fn(spark, sf).collect()
    def stageN(st: String, oc: String = null) = out
      .filter(r => r.getString(0) == st &&
        (oc == null || r.getString(1) == oc))
      .map(_.getLong(3)).sum
    assert(stageN("cleanse", "cleaned_out") > 0, "cleanse must drop pages")
    assert(stageN("gate", "low_quality") > 0, "k4 must land low_quality")
    val nCur = stageN("curation", "near_duplicate")
    assert(nCur > 0, "the k1/k2 twins must reach curation")
    val nMan = stageN("manifest")
    val nSamp = stageN("sampling", "sampled_out")
    // every k1/k2 pair loses exactly one member at curation, so the
    // curation drops equal the survivors-before-sampling: pairs in,
    // one out each
    assert(nCur === nMan + nSamp,
      s"one twin per pair must survive curation ($nCur dropped vs " +
        s"${nMan + nSamp} surviving)")
    // no admitted doc may land a gate decision the oracle cannot
    // replay (near_duplicate/contaminated arms must stay silent on
    // this fixture — the solo discipline's claim, cleansed edition)
    val gateOutcomes = out.filter(_.getString(0) == "gate")
      .map(_.getString(1)).toSet
    assert(gateOutcomes.subsetOf(Set("low_quality", "repetitive",
      "corpus_duplicate", "verbatim_repeat")),
      s"non-replayable gate arm fired: $gateOutcomes")
  }
}
