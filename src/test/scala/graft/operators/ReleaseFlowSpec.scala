package graft.operators

import graft.{Session, Tables}
import graft.streaming.StreamingNearDup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end release composition: the four persisted dedup artifacts
  * screen and absorb a shard in one call, decisions match the
  * components' own semantics, a re-release admits nothing, and every
  * artifact after the release equals the artifact rebuilt from scratch
  * over corpus ∪ admitted. */
class ReleaseFlowSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  private val sf = "/root/testdata/sf0.001"

  private def docsAll = Tables.documents(spark, sf)
    .filter(col("text").isNotNull)
    .select("lang", "doc_id", "text")

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** corpus = %3 ≠ 0 docs; shard = the %3 = 0 docs (novel) plus, at
    * offset ids, one exact replay and one first-token-dropped near-dup
    * of corpus docs. */
  private def fixture() = {
    val corpus = docsAll.filter(col("doc_id") % 3 =!= 0)
    val novel = docsAll.filter(col("doc_id") % 3 === 0)
    val off = 1000000L
    val replaySrc = corpus.orderBy("doc_id").limit(1)
    val replay = replaySrc.select(col("lang"),
      (col("doc_id") + lit(off)).as("doc_id"), col("text"))
    val nearSrc = corpus.orderBy(desc("doc_id")).limit(1)
    val near = nearSrc.select(col("lang"),
      (col("doc_id") + lit(off) + lit(1L)).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text"))
    // a malformed null-text row: the release screen must DROP it (it
    // can neither be screened nor indexed — admitting would break
    // idempotence), not label it
    val nullRow = replaySrc.select(col("lang"),
      (col("doc_id") + lit(off) + lit(2L)).as("doc_id"),
      lit(null).cast("string").as("text"))
    val shard = novel.unionByName(replay).unionByName(near)
      .unionByName(nullRow)
    (corpus, shard,
      replay.select("doc_id").collect().map(_.getLong(0)).toSet,
      near.select("doc_id").collect().map(_.getLong(0)).toSet,
      novel.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("release labels replay/near/novel correctly, appends only the " +
      "admitted slice, and a re-release admits nothing") {
    val base = tmp("graft_release")
    val (corpus, shard, replayIds, nearIds, novelIds) = fixture()
    ReleaseFlow.init(corpus, base)

    val decided = ReleaseFlow.release(spark, shard, base)
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(decided.size.toLong === shard.count() - 1,
      "the null-text row must be dropped, every other row labeled")
    replayIds.foreach(id => assert(decided(id) === "corpus_duplicate", s"$id"))
    nearIds.foreach(id => assert(decided(id) === "near_duplicate", s"$id"))
    // the novel slice: no hash can match (ids and texts disjoint from
    // the corpus), so nothing reads corpus_duplicate; the corpus'
    // NATURAL near-dup families straddle the %3 split and the quality/
    // repetition arms (now on at release, as at ingest) take their
    // share — but a healthy majority still admits
    novelIds.foreach(id => assert(decided(id) !== "corpus_duplicate", s"$id"))
    val admitCount = novelIds.count(id => decided(id) == "admit")
    assert(admitCount * 2 >= novelIds.size &&
      admitCount < novelIds.size,
      s"a majority (not all) of novel docs must admit: " +
        s"$admitCount of ${novelIds.size}")
    // the quality arm fires at release exactly as at ingest: every
    // sub-200-char novel doc that no dup arm claimed reads low_quality
    val shortNovel = docsAll.filter(col("doc_id") % 3 === 0)
      .filter(length(col("text")) < 200)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shortNovel.nonEmpty, "fixture must contain short docs")
    shortNovel.foreach(id => assert(
      Set("low_quality", "near_duplicate", "verbatim_repeat")(decided(id)),
      s"$id: ${decided(id)}"))

    // idempotence by artifact semantics: the same shard re-released
    // admits nothing — every formerly-admitted row is now byte-known
    // to the hash index
    val admittedIds = decided.collect { case (id, "admit") => id }.toSet
    val again = ReleaseFlow.release(spark, shard, base)
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    admittedIds.foreach(id => assert(again(id) === "corpus_duplicate", s"$id"))
    nearIds.foreach(id => assert(again(id) === "near_duplicate", s"$id"))
    assert(!again.values.exists(_ == "admit"), again.toString)
  }

  test("after a release every artifact equals the artifact rebuilt from " +
      "scratch over corpus ∪ admitted (composition-level append ≡ rebuild)") {
    val base = tmp("graft_release2")
    val (corpus, shard, _, _, novelIds) = fixture()
    ReleaseFlow.init(corpus, base)
    val decided = ReleaseFlow.release(spark, shard, base)
    val admitted = decided.filter(col("decision") === "admit").drop("decision")
    // a majority (not all) of the novel slice admits — natural near-dup
    // families straddle the corpus/shard split and the quality arms
    // take their share
    assert(admitted.count() * 2 >= novelIds.size.toLong &&
      admitted.count() > 0L)
    val union = corpus.unionByName(admitted)

    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet

    assert(rows(DedupIndex.read(spark, ReleaseFlow.dedupDir(base))) ===
      rows(DedupIndex.build(union)), "hash index")
    assert(rows(SubstringIndex.read(spark, ReleaseFlow.substrDir(base))) ===
      rows(SubstringIndex.build(union)), "substring index")
    val persisted = StreamingNearDup.readIndex(spark, ReleaseFlow.neardupDir(base))
    val rebuilt = StreamingNearDup.buildIndex(union)
    assert(rows(persisted.bands) === rows(rebuilt.bands), "band index")
    assert(rows(persisted.sketch.select("doc_id")) ===
      rows(rebuilt.sketch.select("doc_id")), "sketch ids")
  }

  test("reason-vocabulary parity: every arm of the admission pipeline " +
      "fires at release with the same label, in the same precedence") {
    import spark.implicits._
    val base = tmp("graft_release_arms")
    val longA = "glacier harmonium bicycle observatory penumbra " +
      "cartography velvet isotope meridian chrysanthemum quarry " +
      "lighthouse obsidian fjord tapestry nebula saffron pendulum " +
      "archipelago marzipan telescope bassoon citadel juniper"
    val corpus = Seq(("en", 1L, longA)).toDF("lang", "doc_id", "text")
    ReleaseFlow.init(corpus, base)
    val holdout = Seq((900L, "the benchmark answer to question seven is " +
      "forty two according to the official eval rubric")).toDF("doc_id", "text")
    val shard = Seq(
      // byte-copy (trim/case-normalized) of the landed corpus
      ("en", 10L, longA.toUpperCase),
      // near-copy: first token dropped
      ("en", 11L, longA.split(" ").drop(1).mkString(" ")),
      // a 16-token lift inside novel long prose: banding misses it,
      // the span index does not
      ("en", 12L, longA.split(" ").slice(4, 20).mkString(" ") +
        " entirely novel continuation mentioning zeppelins doorknobs " +
        "easels frescoes garnets hammocks ingots javelins kilns lozenges"),
      // quotes 5+ consecutive holdout tokens
      ("en", 13L, "leaked the benchmark answer to question seven is " +
        "forty two"),
      // short and novel
      ("en", 14L, "tiny novel fragment here"),
      // long, stopword-free, but one 2-gram dominates
      ("en", 15L, Seq.fill(18)("badger ferret").mkString(" ")),
      // long, distinctive, novel
      ("en", 16L, "submarine accordion whistle prairie cobalt thimble " +
        "orchard granite sparrow limestone mahogany crescent bamboo " +
        "furnace opal ladder trumpet satchel willow compass anvil ribbon " +
        "meadow falcon zirconium mandolin"))
      .toDF("lang", "doc_id", "text")
    val got = ReleaseFlow.release(spark, shard, base,
      ReleaseFlow.Screens(holdoutGrams = Some(
        graft.streaming.StreamingDecontam.buildIndex(holdout))))
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      10L -> "corpus_duplicate", 11L -> "near_duplicate",
      12L -> "verbatim_repeat", 13L -> "contaminated",
      14L -> "low_quality", 15L -> "repetitive", 16L -> "admit"),
      got.toString)
    // and the returned frame keeps the shard's own columns + decision
    assert(ReleaseFlow.release(spark, shard.limit(0), base).columns.toSeq ===
      Seq("lang", "doc_id", "text", "decision"))
  }

  test("doc-quality ladder parity: Screens(docQuality = true) rejects a " +
      "bullet-formatted shard doc as low_quality (the ingest arm's " +
      "label) and keeps it OUT of every artifact; default screens admit " +
      "it") {
    import spark.implicits._
    val longA = "glacier harmonium bicycle observatory penumbra " +
      "cartography velvet isotope meridian chrysanthemum quarry " +
      "lighthouse obsidian fjord tapestry nebula saffron pendulum " +
      "archipelago marzipan telescope bassoon citadel juniper"
    // NOVEL words (disjoint from the corpus doc) so the sketch/hash/
    // span screens stay quiet and the ladder is the only gate in play
    val bullet = ("hacienda gondola parapet sextant mural quiver topaz " +
      "lattice ember sonata gable plinth zephyr cairn dulcimer vellum " +
      "astrolabe brazier cupola filament girder hawser ingot jetty krill")
      .split(" ").map("- " + _).mkString("\n")
    val corpus = Seq(("en", 1L, longA)).toDF("lang", "doc_id", "text")
    val shard = Seq(("en", 20L, bullet)).toDF("lang", "doc_id", "text")
    val baseOn = tmp("graft_release_dq_on")
    ReleaseFlow.init(corpus, baseOn)
    val on = ReleaseFlow.release(spark, shard, baseOn,
      ReleaseFlow.Screens(docQuality = true))
      .select("decision").collect().map(_.getString(0)).toSeq
    assert(on === Seq("low_quality"))
    // rejected → not appended: a re-release under DEFAULT screens must
    // re-decide from pre-shard state (admit), not read its own bytes back
    val replay = ReleaseFlow.release(spark, shard, baseOn)
      .select("decision").collect().map(_.getString(0)).toSeq
    assert(replay === Seq("admit"),
      "the ladder-rejected doc left no trace in the artifacts")
    val baseOff = tmp("graft_release_dq_off")
    ReleaseFlow.init(corpus, baseOff)
    val off = ReleaseFlow.release(spark, shard, baseOff)
      .select("decision").collect().map(_.getString(0)).toSeq
    assert(off === Seq("admit"), "default screens leave the ladder off")
  }

  test("release decisions ARE the streaming pipeline's decisions: " +
      "AdmissionPipeline.decide over the same persisted gates labels " +
      "every shard row identically (one decision function, two callers)") {
    import graft.streaming.{AdmissionPipeline, StreamingNearDup, StreamingSubstring}
    val base = tmp("graft_release_parity")
    val (corpus, shard, _, _, _) = fixture()
    ReleaseFlow.init(corpus, base)
    // the streaming-side decision, built from the SAME artifacts the
    // release reads — computed BEFORE release mutates them
    val gates = AdmissionPipeline.Gates(
      StreamingNearDup.readIndex(spark, ReleaseFlow.neardupDir(base)),
      spark.emptyDataFrame.select(lit(0L).as("gram")).limit(0),
      corpusSpans = Some(StreamingSubstring.fromPersisted(
        spark, ReleaseFlow.substrDir(base))),
      exactHashes = Some(DedupIndex.read(
        spark, ReleaseFlow.dedupDir(base)).select("h")))
    val streamSide = AdmissionPipeline.decide(
      shard.filter(col("text").isNotNull)
        .withColumn("n_chars", length(col("text")).cast("long")), gates)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val releaseSide = ReleaseFlow.release(spark, shard, base)
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(releaseSide === streamSide,
      "ingest-time and release-time decisions must read identically")
  }

  test("releaseCut cures a span-lifting doc (cut + admit with cleaned " +
      "text), rejects an all-indexed doc as low_quality, passes novel " +
      "docs byte-identical, and a replay admits nothing") {
    import spark.implicits._
    val base = tmp("graft_release_cut")
    val xWords = (1 to 60).map(i => s"corpusterm$i")
    val corpus = Seq(("en", 1L, xWords.mkString(" ")))
      .toDF("lang", "doc_id", "text")
    ReleaseFlow.init(corpus, base)
    val prefix = (1 to 20).map(i => s"alphaword$i")
    val lifted = xWords.slice(20, 40) // 20 consecutive corpus tokens
    val suffix = (1 to 20).map(i => s"omegaword$i")
    val cured = Seq(
      // quotes 20 indexed tokens inside novel prose → cut, then admit
      ("en", 30L, (prefix ++ lifted ++ suffix).mkString(" ")),
      // NOTHING BUT indexed text → cuts to empty → low_quality
      ("en", 31L, xWords.slice(5, 45).mkString(" ")),
      // all-novel → no cut, byte-identical flow
      ("en", 32L, (1 to 30).map(i => s"deltaword$i").mkString(" ")))
      .toDF("lang", "doc_id", "text")
    val got = ReleaseFlow.releaseCut(spark, cured, base)
      .select("doc_id", "decision", "n_cut_tokens", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(30L)._1 === "admit", got(30L).toString)
    assert(got(30L)._2 === 20L, "exactly the lifted span cuts")
    assert(got(30L)._3 === (prefix ++ suffix).mkString(" "),
      "the admitted text is the cleaned token stream")
    assert(got(31L)._1 === "low_quality", "cut-to-empty cannot admit")
    assert(got(31L)._2 === 40L)
    assert(got(31L)._3 === "")
    assert(got(32L)._1 === "admit")
    assert(got(32L)._2 === 0L)
    assert(got(32L)._3 === (1 to 30).map(i => s"deltaword$i").mkString(" "),
      "an uncut doc must keep its ORIGINAL bytes, not re-normalize")
    // the artifact holds the CLEANED bytes: the cleaned text re-offered
    // as its own doc reads corpus_duplicate
    val again = ReleaseFlow.release(spark,
      Seq(("en", 40L, (prefix ++ suffix).mkString(" ")))
        .toDF("lang", "doc_id", "text"), base)
      .select("decision").collect().map(_.getString(0)).toSeq
    assert(again === Seq("corpus_duplicate"),
      "the cured doc landed with its cleaned bytes")
    // replay of the ORIGINAL shard admits nothing: the first pass's
    // admissions are indexed, so the quoting doc now cuts entirely
    // (its kept regions gram against its own landed bytes) and the
    // novel doc hash-matches
    val replay = ReleaseFlow.releaseCut(spark, cured, base)
      .select("doc_id", "decision").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!replay.values.exists(_ == "admit"), replay.toString)
    assert(replay(32L) === "corpus_duplicate")
  }

  test("releaseCut ≡ release when no indexed span fires: same labels, " +
      "same artifacts") {
    val baseA = tmp("graft_release_cut_eq_a")
    val baseB = tmp("graft_release_cut_eq_b")
    val (corpus, shard, _, _, _) = fixture()
    ReleaseFlow.init(corpus, baseA)
    ReleaseFlow.init(corpus, baseB)
    // keep only rows the span screen is provably quiet on (no indexed
    // 15-gram — the fixture's near-dup row and any natural cross-split
    // span-sharers are out), so the cure is a no-op by construction
    val quietIds = SamplingQueries.cutAgainstIndex(
        shard.filter(col("text").isNotNull),
        SubstringIndex.read(spark, ReleaseFlow.substrDir(baseA)),
        SamplingQueries.SpanK)
      .filter(col("n_cut_tokens") === 0L)
      .select("doc_id")
    val quiet = shard.join(quietIds, Seq("doc_id"), "left_semi")
    val viaCut = ReleaseFlow.releaseCut(spark, quiet, baseA)
      .select("doc_id", "decision", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val viaPlain = ReleaseFlow.release(spark, quiet, baseB)
      .select("doc_id", "decision", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // releaseCut adds n_cut_tokens; on the quiet slice every value is 0
    // and the (id, decision, text) projection must agree row-for-row
    assert(viaCut === viaPlain)
  }

  test("audit rolls decisions up per (lang, decision) with checksums " +
      "reconciling to the decision frame") {
    val base = tmp("graft_release3")
    val (corpus, shard, _, _, _) = fixture()
    ReleaseFlow.init(corpus, base)
    val decided = ReleaseFlow.release(spark, shard, base)
    val audit = ReleaseFlow.audit(decided).collect()
    assert(audit.map(_.getAs[Long]("n_docs")).sum === decided.count())
    assert(audit.map(_.getAs[Long]("doc_id_sum")).sum ===
      decided.agg(sum("doc_id")).collect().head.getLong(0))
    assert(audit.map(_.getAs[String]("decision")).toSet.contains("admit"))
  }
}
