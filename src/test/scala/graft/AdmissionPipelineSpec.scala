package graft

import java.nio.file.{Files, Paths}

import graft.streaming.{AdmissionPipeline, StreamingDecontam, StreamingNearDup, StreamingSubstring}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Composed streaming admission: exact dedup in stream state, then the
  * per-batch decision built from the gates' own stateless screens —
  * one reason per doc with l19/l29's precedence. */
class AdmissionPipelineSpec extends AnyFunSuite {

  private lazy val spark = Session.get()

  // ≥200 chars of distinctive low-stopword prose (the quality keep bar)
  private val longCorpusText = "glacier harmonium bicycle observatory " +
    "penumbra cartography velvet isotope meridian chrysanthemum quarry " +
    "lighthouse obsidian fjord tapestry nebula saffron pendulum archipelago " +
    "marzipan telescope bassoon citadel juniper"
  private val shortCorpusText = "quartz falcon ember dune mosaic lantern"
  private val holdoutText = "the benchmark answer to question seven is " +
    "forty two according to the official eval rubric"

  private def corpus = {
    import spark.implicits._
    Seq((100L, longCorpusText), (101L, shortCorpusText)).toDF("doc_id", "text")
  }

  private def gates = AdmissionPipeline.Gates(
    StreamingNearDup.buildIndex(corpus),
    StreamingDecontam.buildIndex({
      import spark.implicits._
      Seq((900L, holdoutText)).toDF("doc_id", "text")
    }))

  private def mkBatch(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  test("decide: each gate fires on its doc, precedence is duplicate-family " +
      "over quality, and a clean long doc admits") {
    val batch = mkBatch(Seq(
      // near-dup of 100 (first token dropped), still ≥200 chars → pure near_duplicate
      1L -> longCorpusText.split(" ").drop(1).mkString(" "),
      // near-dup of the SHORT corpus doc: also low-quality by length —
      // precedence must say near_duplicate
      2L -> shortCorpusText.split(" ").drop(1).mkString(" "),
      // quotes 5+ consecutive holdout tokens; also short — contaminated
      // must dominate low_quality
      3L -> "leaked the benchmark answer to question seven is forty two",
      // long, distinctive, no overlap → admit
      4L -> ("submarine accordion whistle prairie cobalt thimble orchard " +
        "granite sparrow lighthouse mahogany crescent bamboo furnace opal " +
        "ladder trumpet satchel willow compass anvil ribbon meadow falcon " +
        "zirconium mandolin"),
      // short and novel → low_quality
      5L -> "tiny novel fragment here",
      // null text (a malformed/permissive-parsed record): every gate
      // predicate nulls out — three-valued logic must NOT fall through
      // to admit; the positive-verdict ordering lands it in low_quality
      6L -> null.asInstanceOf[String],
      // ≥200 chars, zero stopwords — passes the VOCABULARY rule — but
      // one 2-gram covers half the occurrences: the repetition gate
      // (batch l27's shared rule) must catch what qualityKeep cannot
      7L -> Seq.fill(18)("badger ferret").mkString(" ")))
    val got = AdmissionPipeline.decide(batch, gates)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "near_duplicate", 2L -> "near_duplicate", 3L -> "contaminated",
      4L -> "admit", 5L -> "low_quality", 6L -> "low_quality",
      7L -> "repetitive"), got.toString)
  }

  test("decide is replay-idempotent on the near-dup arm: a doc screened " +
      "against an index holding its OWN append stays admit; a " +
      "different-id near-copy still flags") {
    import spark.implicits._
    val admitText = "submarine accordion whistle prairie cobalt thimble " +
      "orchard granite sparrow lighthouse mahogany crescent bamboo furnace " +
      "opal ladder trumpet satchel willow compass anvil ribbon meadow " +
      "falcon zirconium mandolin"
    // the crash-replay state: the index already carries doc 50's own
    // bands (append landed before the streaming commit)
    val idx = StreamingNearDup.buildIndex(corpus.unionByName(
      Seq((50L, admitText)).toDF("doc_id", "text")))
    val g = AdmissionPipeline.Gates(idx, gates.holdoutGrams)
    val batch = mkBatch(Seq(
      50L -> admitText,
      // near-copy of corpus doc 100 — an owner OUTSIDE the batch, so
      // the replay guard must not blind the screen to it
      51L -> longCorpusText.split(" ").drop(1).mkString(" ")))
    val got = AdmissionPipeline.decide(batch, g).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(got === Map(50L -> "admit", 51L -> "near_duplicate"),
      s"replay must not flip its own admit: $got")
  }

  test("replay idempotence covers batch-MATE matches, not just self: two " +
      "mutually-near-duplicate docs admitted together re-admit together " +
      "on replay; an outsider near-copy still flags") {
    import spark.implicits._
    val baseText = "submarine accordion whistle prairie cobalt thimble " +
      "orchard granite sparrow lighthouse mahogany crescent bamboo furnace " +
      "opal ladder trumpet satchel willow compass anvil ribbon meadow " +
      "falcon zirconium mandolin"
    // docs 70/71 are near-copies of EACH OTHER (first token swapped, so
    // 71 stays over the 200-char quality bar); the intra-batch window
    // admitted both, the crash left both appended to the index
    val mateText = ("periwinkle" +: baseText.split(" ").drop(1)).mkString(" ")
    val idx = StreamingNearDup.buildIndex(corpus.unionByName(
      Seq((70L, baseText), (71L, mateText)).toDF("doc_id", "text")))
    val g = AdmissionPipeline.Gates(idx, gates.holdoutGrams)
    val batch = mkBatch(Seq(
      70L -> baseText,  // replayed — must see neither self nor 71
      71L -> mateText,  // replayed — must see neither self nor 70
      // near-copy of corpus doc 100 (an owner OUTSIDE the batch): the
      // guard must not blind the screen to genuinely-landed corpus docs
      72L -> longCorpusText.split(" ").drop(1).mkString(" ")))
    val got = AdmissionPipeline.decide(batch, g).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(got === Map(70L -> "admit", 71L -> "admit",
      72L -> "near_duplicate"),
      s"batch-mate index rows must not flip replayed admits: $got")
  }

  test("the verbatim arm's replay guard covers batch-mates too: two docs " +
      "sharing a span, admitted together, re-admit together on replay") {
    import spark.implicits._
    val baseText = "submarine accordion whistle prairie cobalt thimble " +
      "orchard granite sparrow lighthouse mahogany crescent bamboo furnace " +
      "opal ladder trumpet satchel willow compass anvil ribbon meadow " +
      "falcon zirconium mandolin"
    // doc 81 lifts doc 80's tokens 0..15 into novel long prose — they
    // share a 15-gram; the intra-batch window admitted both and
    // the crash left both docs' span grams in the index
    val mateText = baseText.split(" ").take(16).mkString(" ") +
      " entirely novel continuation mentioning zeppelins doorknobs " +
      "easels frescoes garnets hammocks ingots javelins kilns lozenges"
    val spanIx = StreamingSubstring.buildIndex(corpus.unionByName(
      Seq((80L, baseText), (81L, mateText)).toDF("doc_id", "text")))
    val g = gates.copy(corpusSpans = Some(spanIx))
    val batch = mkBatch(Seq(80L -> baseText, 81L -> mateText))
    val got = AdmissionPipeline.decide(batch, g).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(got === Map(80L -> "admit", 81L -> "admit"),
      s"batch-mate span grams must not flip replayed admits: $got")
  }

  test("the verbatim arm is replay-idempotent too: a doc whose own span " +
      "grams are already indexed stays admit; a different-id lift still " +
      "flags") {
    import spark.implicits._
    val admitText = "submarine accordion whistle prairie cobalt thimble " +
      "orchard granite sparrow lighthouse mahogany crescent bamboo furnace " +
      "opal ladder trumpet satchel willow compass anvil ribbon meadow " +
      "falcon zirconium mandolin"
    // the crash-replay state: the span index already carries doc 60's
    // own grams (the live append landed before the streaming commit)
    val spanIx = StreamingSubstring.buildIndex(corpus.unionByName(
      Seq((60L, admitText)).toDF("doc_id", "text")))
    val g = gates.copy(corpusSpans = Some(spanIx))
    val batch = mkBatch(Seq(
      60L -> admitText, // replayed self — every gram self-owned
      // a 16-token lift of CORPUS doc 100 (an owner outside the batch)
      // inside otherwise-novel long prose
      61L -> (longCorpusText.split(" ").slice(4, 20).mkString(" ") +
        " entirely novel continuation mentioning zeppelins doorknobs " +
        "easels frescoes garnets hammocks ingots javelins kilns lozenges")))
    val got = AdmissionPipeline.decide(batch, g).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(got === Map(60L -> "admit", 61L -> "verbatim_repeat"),
      s"replay must not flip its own admit on the span arm: $got")
  }

  test("opt-in exact-hash backstop: a byte-copy of the LANDED corpus is " +
      "corpus_duplicate even when stream state never saw it, including the " +
      "sub-3-token shape the sketch is blind to") {
    import spark.implicits._
    // the landed corpus carries a sub-3-token doc the near-dup sketch
    // cannot index (docSketch drops < 3 tokens)
    val landed = corpus.unionByName(
      Seq((102L, "qq zz")).toDF("doc_id", "text"))
    val idx = graft.operators.DedupIndex.build(landed).select("h")
    val g = gates.copy(exactHashes = Some(idx))
    val batch = mkBatch(Seq(
      // byte-exact replay of landed doc 100 (case/trim-normalized hash):
      // the strongest duplicate claim, ahead of the sketch's verdict
      11L -> longCorpusText.toUpperCase,
      // byte-exact replay of the sketch-blind 2-token doc
      12L -> "qq zz",
      // novel long doc admits — the backstop adds no false flags
      13L -> ("periscope ostrich quilt lagoon velvet hammock sequoia " +
        "tundra biscuit chandelier mongoose parchment zephyr iceberg " +
        "raccoon dolomite pretzel observatory kelp wombat clarinet " +
        "geyser tambourine walrus porcelain aqueduct sycamore gondola " +
        "marmalade vestibule catamaran")))
    val got = AdmissionPipeline.decide(batch, g)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(11L -> "corpus_duplicate", 12L -> "corpus_duplicate",
      13L -> "admit"), got.toString)
    // gate off → the same batch never sees the new reason; the exact
    // replay of 100 still reads near_duplicate (the sketch catches the
    // J=1 case), but the sketch-blind doc slips to low_quality
    val off = AdmissionPipeline.decide(batch, gates)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(off(11L) === "near_duplicate" && off(12L) === "low_quality",
      off.toString)
  }

  test("opt-in verbatim gate: a 15-token lift inside an otherwise-novel " +
      "long doc flags verbatim_repeat; without the index it admits") {
    // 16 consecutive corpus tokens embedded in 20 novel ones: enough
    // novel content that whole-doc banding does NOT fire, but one
    // shared 15-gram exists — exactly the partial-lift shape l33
    // exists for. ≥200 chars + no stopwords → quality passes.
    val lifted = (longCorpusText.split(" ").slice(4, 20) ++ Seq(
      "zephyr", "quill", "almanac", "gondola", "parapet", "sundial",
      "vellum", "ossuary", "tureen", "paddock", "bellows", "crampon",
      "jetty", "kiln", "lozenge", "mortise", "naphtha", "oculus",
      "pergola", "quoin")).mkString(" ")
    val batch = mkBatch(Seq(8L -> lifted))
    val withGate = AdmissionPipeline.decide(batch,
      gates.copy(corpusSpans = Some(StreamingSubstring.buildIndex(corpus))))
      .select("reason").collect().map(_.getString(0)).toSeq
    assert(withGate === Seq("verbatim_repeat"), withGate.toString)
    // the four-gate pipeline (no span index) must be unchanged: the
    // partial lift is invisible to banding and the doc admits
    val withoutGate = AdmissionPipeline.decide(batch, gates)
      .select("reason").collect().map(_.getString(0)).toSeq
    assert(withoutGate === Seq("admit"), withoutGate.toString)
  }

  test("buildIndexSince scopes the verbatim gate to a recency window: a doc " +
      "repeating only a past-horizon span admits, a recent span still flags") {
    import spark.implicits._
    val recentText = "periscope anchovy doldrum escarpment filament grotto " +
      "hacksaw isthmus jacquard krypton limpet mangrove nocturne ocelot " +
      "pimento quahog ratchet stirrup topaz umlaut verdigris wampum xylem " +
      "yucca"
    val tsCorpus = Seq(
      (100L, longCorpusText, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
      (102L, recentText, java.sql.Timestamp.valueOf("2026-03-01 00:00:00")))
      .toDF("doc_id", "text", "ts")
    // 7-day horizon off the corpus' newest admission (03-01): doc 100's
    // spans fall out of the index, doc 102's stay in
    val g = gates.copy(corpusSpans =
      Some(StreamingSubstring.buildIndexSince(tsCorpus, "ts", "7 DAYS")))
    val novelTail = Seq("zephyr", "quill", "almanac", "gondola", "parapet",
      "sundial", "vellum", "ossuary", "tureen", "paddock", "bellows",
      "crampon", "jetty", "kiln", "lozenge", "mortise", "naphtha", "oculus",
      "pergola", "quoin")
    val liftOld = (longCorpusText.split(" ").slice(4, 20) ++ novelTail)
      .mkString(" ")
    val liftNew = (recentText.split(" ").slice(4, 20) ++ novelTail)
      .mkString(" ")
    val got = AdmissionPipeline.decide(
      mkBatch(Seq(10L -> liftOld, 11L -> liftNew)), g)
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(10L -> "admit", 11L -> "verbatim_repeat"),
      got.toString)
  }

  test("a 200-char single-token doc (URL/base64 shape) admits instead of " +
      "throwing: no 2-grams means the repetition statistic is null") {
    // whitespace-free, ≥200 chars: passes qualityKeep (stop_bp = 0),
    // reaches the repetitive arm with a 1-element token array — the
    // empty 2-gram denominator must null out (top2Bp's size guard),
    // not raise ANSI DIVIDE_BY_ZERO and wedge the micro-batch
    val poison = "https://example.invalid/" + ("abcdefghij" * 20)
    assert(poison.length >= 200 && !poison.exists(_.isWhitespace))
    val got = AdmissionPipeline.decide(mkBatch(Seq(9L -> poison)), gates)
      .select("reason").collect().map(_.getString(0)).toSeq
    assert(got === Seq("admit"), got.toString)
  }

  test("the exact-hash arm's replay semantics follow the index shape: " +
      "an (h, doc_id) index gets the batch-ownership guard, an h-only " +
      "index stays unguarded (release idempotence)") {
    import spark.implicits._
    val ownText = "submarine accordion whistle prairie cobalt thimble " +
      "orchard granite sparrow lighthouse mahogany crescent bamboo furnace " +
      "opal ladder trumpet satchel willow compass anvil ribbon meadow " +
      "falcon zirconium mandolin"
    // the index holds doc 55's OWN hash (the crash-replay state under a
    // live exact append) plus corpus doc 100's hash
    val landed = corpus.unionByName(Seq((55L, ownText)).toDF("doc_id", "text"))
    val withOwners = graft.operators.DedupIndex.build(landed)
    val batch = mkBatch(Seq(
      55L -> ownText,                       // replayed self
      56L -> longCorpusText.toUpperCase))   // byte-copy of an OUTSIDE doc
    // (h, doc_id) shape → guarded: 55 re-admits, 56 still flags
    val guarded = AdmissionPipeline.decide(batch,
      gates.copy(exactHashes = Some(withOwners))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(guarded === Map(55L -> "admit", 56L -> "corpus_duplicate"),
      guarded.toString)
    // h-only shape → unguarded: the replayed doc re-labels
    // corpus_duplicate (ReleaseFlow's re-release-admits-nothing contract)
    val unguarded = AdmissionPipeline.decide(batch,
      gates.copy(exactHashes = Some(withOwners.select("h")))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(unguarded === Map(55L -> "corpus_duplicate",
      56L -> "corpus_duplicate"), unguarded.toString)
  }

  test("startLive with a LIVE exact-hash backstop and semantic gate: a " +
      "byte-copy arriving after watermark eviction is caught by the " +
      "appended hash index, and a paraphrase-embedding doc rejects") {
    import graft.operators.DedupIndex
    import graft.streaming.{StreamingSemanticDecontam, StreamingNearDup}
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("v", ArrayType(DoubleType)),
      StructField("ts", TimestampType)))
    val ndDir = Files.createTempDirectory("graft_livex_nd_").toString
    StreamingNearDup.write(corpus, ndDir)
    val xDir = Files.createTempDirectory("graft_livex_dd_").toString
    DedupIndex.write(corpus, xDir)
    val evDir = Files.createTempDirectory("graft_livex_ev_").toString
    StreamingSemanticDecontam.writeIndex(
      StreamingSemanticDecontam.buildIndex(
        Seq((1L, Array(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "v")), evDir)
    val docA = "carburetor dovetail eiderdown flywheel grommet hawser " +
      "isinglass jackstay keelson lanyard mizzen oakum pintle quoin " +
      "ratline shackle thole unship vang windlass yawl bowsprit " +
      "capstan deadeye spinnaker telltale gunwale halyard"
    val docBridge = "umbrella vestibule wainscot xylophone yardarm zither " +
      "antimony bromide cobalt dysprosium erbium fermium gallium " +
      "hafnium iridium krypton lanthanum molybdenum niobium osmium " +
      "palladium rhenium tantalum yttrium"
    val docPara = "paraphrased rubric item seven states that the accepted " +
      "solution equals forty two per the official grading notes rewritten " +
      "entirely in different words with ample length padding karst " +
      "molybdenum zeppelin ocarina tamarind vermilion"
    val in = Files.createTempDirectory("graft_livex_in_").toString
    val out = Files.createTempDirectory("graft_livex_out_").toString
    // batch 1: docA admits (and its hash is LIVE-appended)
    Files.write(Paths.get(in, "f1.json"), String.join("\n",
      s"""{"doc_id":45,"text":"$docA","ts":"2026-01-01T10:00:00Z"}""").getBytes)
    val q = AdmissionPipeline.startLive(spark,
      spark.readStream.schema(schema).json(in), ndDir,
      gates.holdoutGrams, out, "ts", "10 minutes",
      exactHashDir = Some(xDir), evalVecsDir = Some(evDir))
    q.processAllAvailable()
    // batch 2: a novel far-future doc advances the watermark a day past
    // batch 1, evicting docA's L17 state
    Files.write(Paths.get(in, "f2.json"), String.join("\n",
      s"""{"doc_id":46,"text":"$docBridge","ts":"2026-01-02T10:00:00Z"}""").getBytes)
    q.processAllAvailable()
    // batch 3: a byte-copy of docA under a new id — stream state is
    // gone, ONLY the live hash append can catch it; plus a paraphrase
    // carrying a near-eval embedding
    Files.write(Paths.get(in, "f3.json"), String.join("\n",
      s"""{"doc_id":47,"text":"$docA","ts":"2026-01-02T10:00:05Z"}""",
      s"""{"doc_id":48,"text":"$docPara","v":[0.99,0.1,0.0,0.0],"ts":"2026-01-02T10:00:06Z"}""").getBytes)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$out/decisions")
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(45L -> "admit", 46L -> "admit",
      47L -> "corpus_duplicate", 48L -> "contaminated"), got.toString)
    // and the live append is IN the persisted hash index
    val hashes = DedupIndex.read(spark, xDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(hashes.contains(45L) && hashes.contains(46L), hashes.toString)
  }

  test("opt-in semantic-decontam arm: a planted PARAPHRASE (no shared " +
      "5-gram, near-identical embedding) rejects contaminated at ingest " +
      "via the persisted eval index; without the gate, or without an " +
      "embedding column, it admits") {
    import graft.streaming.StreamingSemanticDecontam
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semdecon_").toString
    StreamingSemanticDecontam.writeIndex(
      StreamingSemanticDecontam.buildIndex(
        Seq((1L, Array(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "v")), dir)
    val ix = StreamingSemanticDecontam.readIndex(spark, dir)
    // a long admit-worthy text sharing NO 5-gram with the holdout —
    // the gram arm is blind to it; only the embedding betrays the leak
    val paraText = "paraphrased rubric item seven states that the " +
      "accepted solution equals forty two per the official grading " +
      "notes rewritten entirely in different words with ample length " +
      "padding karst molybdenum zeppelin ocarina tamarind vermilion"
    val cleanText = "submarine accordion whistle prairie cobalt thimble " +
      "orchard granite sparrow limestone mahogany crescent bamboo " +
      "furnace opal ladder trumpet satchel willow compass anvil ribbon " +
      "meadow falcon zirconium mandolin"
    val batch = Seq(
      (30L, paraText, Array(0.99, 0.1, 0.0, 0.0)),  // cos ≈ 0.995
      (31L, cleanText, Array(0.0, 1.0, 0.0, 0.0)))  // orthogonal
      .toDF("doc_id", "text", "v")
      .withColumn("n_chars", length(col("text")).cast("long"))
    def reasons(b: org.apache.spark.sql.DataFrame,
        g: AdmissionPipeline.Gates) =
      AdmissionPipeline.decide(b, g).select("doc_id", "reason").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons(batch, gates.copy(evalVecs = Some(ix))) ===
      Map(30L -> "contaminated", 31L -> "admit"))
    // gate off → the paraphrase admits (exactly the gap this arm closes)
    assert(reasons(batch, gates) === Map(30L -> "admit", 31L -> "admit"))
    // no embedding column → the arm is inert even with the gate on
    assert(reasons(batch.drop("v"), gates.copy(evalVecs = Some(ix))) ===
      Map(30L -> "admit", 31L -> "admit"))
  }

  test("opt-in doc-quality ladder: a bullet-formatted doc that clears " +
      "qualityKeep admits by default and lands low_quality under the " +
      "ladder; a clean long doc admits under both") {
    // every token its own '- ' bullet line: clears the char/stopword
    // bar (qualityKeep) but >90% of lines start with a bullet — l69's
    // published rule. NOVEL words, so the near-dup sketch stays quiet
    // and the ladder is the only gate in play.
    val bullet = ("submarine accordion whistle prairie cobalt thimble " +
      "orchard granite sparrow limestone mahogany crescent bamboo " +
      "furnace opal ladder trumpet satchel willow compass anvil ribbon " +
      "meadow falcon zirconium mandolin")
      .split(" ").map("- " + _).mkString("\n")
    // ≥50 words, stopwords 'the'/'a' present, no bullets/ellipses —
    // clears every ladder rule AND qualityKeep
    val clean = "the hacienda gondola parapet sextant mural quiver " +
      "topaz lattice ember sonata gable plinth zephyr cairn dulcimer " +
      "vellum astrolabe brazier cupola filament girder hawser ingot " +
      "jetty krill monolith palisade quarterdeck rivulet sandbar " +
      "tundra became a verdant mooring for seasoned harbor pilots who " +
      "charted narrow inlets beyond the weathered breakwater while " +
      "gulls wheeled over brine slick pilings and patient ferrymen " +
      "waited beside coiled hempen ropes near the tide worn quay"
    val batch = mkBatch(Seq(10L -> bullet, 11L -> clean))
    def reasons(g: AdmissionPipeline.Gates) =
      AdmissionPipeline.decide(batch, g)
        .select("doc_id", "reason").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val off = reasons(gates)
    assert(off(10L) === "admit", "default gates: the ladder is off")
    assert(off(11L) === "admit")
    val on = reasons(gates.copy(docQuality = true))
    assert(on(10L) === "low_quality",
      "ladder on: bullet-led lines trip the published rule")
    assert(on(11L) === "admit", "a clean doc is untouched by the ladder")
  }

  test("decide preserves the batch's columns plus one reason column, " +
      "one row per input doc") {
    val batch = mkBatch(Seq(6L -> "any text at all here"))
    val out = AdmissionPipeline.decide(batch, gates)
    assert(out.columns.toSeq === batch.columns.toSeq :+ "reason")
    assert(out.count() === 1L)
  }

  test("the repetitive arm runs the FULL Gopher ladder: a doc l27's " +
      "2-gram occurrence rule misses (duplicate lines under 10% top-2-gram " +
      "share) is caught at ingest") {
    // 5 distinct 8-word lines + 5 extra copies of line 1: duplicate-line
    // fraction 5/10 > 0.30 flags, while the top 2-gram's occurrence
    // share is ~6/79 ≈ 7.6% — under l27's 10% bar, so the old
    // single-rule arm admitted exactly this shape
    // vocabulary disjoint from the corpus docs, so the near-dup bands
    // cannot collide and precedence cannot mask the repetition verdict
    val lines = Seq(
      "abacus brogue chignon dirndl epaulet ferrule gusset haversack",
      "inkwell jodhpur kersey loden mantilla nankeen oilskin placket",
      "quimp russet serge tartan ulster voile worsted yashmak",
      "argyle bombazine calico damask etamine flannel gingham hessian",
      "jacquette khaki linsey moleskin organdy percale quilting ratine")
    val doc = (lines ++ Seq.fill(5)(lines.head)).mkString("\n")
    val batch = mkBatch(Seq(12L -> doc))
    // it passes quality (long, stopword-free) — the ladder is what flags
    val got = AdmissionPipeline.decide(batch, gates)
      .select("reason").collect().map(_.getString(0)).toSeq
    assert(got === Seq("repetitive"), got.toString)
    // and the same doc is what batch l27b flags: the shared rule
    import spark.implicits._
    val flags = Seq(("en", 12L, doc)).toDF("lang", "doc_id", "text")
      .withColumn("ta", split(lower(col("text")), "\\s+"))
      .select(graft.operators.LlmQueries.ladderFlags(col("text"), col("ta"))
        .zip(Seq("f_line", "f_2g", "f_3g", "f_4g"))
        .map { case (c, n) => c.as(n) }: _*)
      .collect().head
    assert(flags.getBoolean(0), "duplicate-line rule must fire")
  }

  test("opt-in classifier arm: a doc that clears every rule-based gate " +
      "but scores <= 0 under the trained weights lands model_filtered; " +
      "without weights it admits") {
    import graft.operators.CleaningQueries
    // derive a provably-negative-scoring doc AT RUNTIME with the same
    // hash/weight arithmetic the engine runs: pick the most negative
    // synthetic-weight words from a novel candidate pool
    val wm = CleaningQueries.weightMap(CleaningQueries.syntheticWeights(spark))
    def tokHash(t: String): Long =
      t.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000003L)
    def weight(t: String): Long = wm((tokHash(t) % 256L).toInt)
    val pool = Seq("abalone", "bergamot", "chicory", "daffodil", "endive",
      "fennel", "guava", "hibiscus", "iceberg", "jicama", "kohlrabi",
      "lovage", "mulberry", "nectarine", "oregano", "parsnip", "quince",
      "radicchio", "salsify", "tamarind", "ugli", "verbena", "wasabi",
      "yarrow", "zucchini", "amaranth", "borage", "cardamom", "dulse",
      "elderberry", "farro", "galangal", "horseradish", "juneberry",
      "kumquat", "lemongrass", "marjoram", "nutmeg", "oleander", "pimiento")
    val negWords = pool.sortBy(weight).take(28)
    val doc = negWords.mkString(" ")
    assert(doc.length >= 200, s"fixture too short: ${doc.length}")
    assert(negWords.map(weight).sum <= 0L,
      s"pool not negative enough: ${negWords.map(weight).sum}")
    val batch = mkBatch(Seq(15L -> doc))
    val withModel = AdmissionPipeline.decide(batch,
      gates.copy(classifier = Some(wm)))
      .select("reason").collect().map(_.getString(0)).toSeq
    assert(withModel === Seq("model_filtered"), withModel.toString)
    val without = AdmissionPipeline.decide(batch, gates)
      .select("reason").collect().map(_.getString(0)).toSeq
    assert(without === Seq("admit"), without.toString)
  }

  test("cleanse applies the FULL C4 battery (line rules, page rules, PII " +
      "redaction) and re-measures n_chars — the batch DQs' own columns") {
    val junk = "enable javascript cookie banner"
    val kept1 = "porcelain zeppelin hammock quasar bobbin anchovy tundra."
    val kept2 = "contact gazebo parchment user7@example.com derrick awning plinth."
    val kept3 = "sextant bugle cornice dynamo easel fresco garnet marble."
    val goodPage = s"$junk\n$kept1\n$kept2\n$kept3"
    val batch = mkBatch(Seq(
      20L -> goodPage,
      // the three PAGE rules (batch l31's page_kept): each cleans to
      // NULL — a page the batch pipeline drops must not admit at ingest
      21L -> s"$goodPage lorem ipsum",
      22L -> s"$goodPage {",
      23L -> s"$junk\n$kept1\n$kept2")) // only 2 kept lines
    val got = AdmissionPipeline.cleanse(batch).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.get(r.fieldIndex("n_chars")))).toMap
    val text = got(20L)._1
    assert(text === kept1 + "\n" +
      "contact gazebo parchment <EMAIL> derrick awning plinth." +
      "\n" + kept3, text)
    assert(got(20L)._2 === text.length.toLong)
    Seq(21L, 22L, 23L).foreach { id =>
      assert(got(id)._1 == null, s"page $id must clean to NULL (page rule)")
      assert(got(id)._2 == null, s"page $id n_chars must be null")
    }
  }

  test("two distinct page-dropped docs in one watermark window BOTH land " +
      "low_quality decision rows (null-text docs never share a dedup key)") {
    import java.nio.file.{Files, Paths}
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("ts", TimestampType)))
    val in = Files.createTempDirectory("graft_admission_nin_").toString
    Files.write(Paths.get(in, "f1.json"), String.join("\n",
      s"""{"doc_id":41,"text":"just one long unpunctuated nav row","ts":"2026-01-01T10:00:00Z"}""",
      s"""{"doc_id":42,"text":"completely different cookie banner junk","ts":"2026-01-01T10:00:01Z"}""").getBytes)
    val out = Files.createTempDirectory("graft_admission_nout_").toString
    val q = AdmissionPipeline.start(spark,
      spark.readStream.schema(schema).json(in), gates, out, "ts",
      "10 minutes", clean = true)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$out/decisions")
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(41L -> "low_quality", 42L -> "low_quality"),
      s"both must land with a verdict, not vanish in dedup state: $got")
  }

  test("clean=true end-to-end: two pages identical after junk-line drop " +
      "dedup as exact copies, the admitted doc lands redacted, an " +
      "all-junk page lands low_quality") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("ts", TimestampType)))
    // four punctuated ≥5-word lines (≥200 chars kept) with one email
    val keptLines = Seq(
      "porcelain zeppelin hammock quasar bobbin anchovy tundra seventy.",
      "gazebo parchment kaleidoscope derrick awning lacquer plinth nine.",
      "sextant bugle cornice dynamo easel fresco garnet marble forty.",
      "contact hinge ingot javelin user33@example.com obelisk mandolin.")
    val body = keptLines.mkString("\\n")
    val in = Files.createTempDirectory("graft_admission_cin_").toString
    Files.write(Paths.get(in, "f1.json"), String.join("\n",
      // docs 31/32: SAME kept lines under DIFFERENT dropped junk —
      // cleaned-content hashing must suppress one as an exact copy
      s"""{"doc_id":31,"text":"no punctuation junk header\\n$body","ts":"2026-01-01T10:00:00Z"}""",
      s"""{"doc_id":32,"text":"different cookie banner junk\\n$body","ts":"2026-01-01T10:00:01Z"}""",
      // doc 33: nothing survives the line rules → empty text → quality
      s"""{"doc_id":33,"text":"just one long unpunctuated boilerplate navigation row","ts":"2026-01-01T10:00:02Z"}""").getBytes)
    val out = Files.createTempDirectory("graft_admission_cout_").toString

    val q = AdmissionPipeline.start(spark,
      spark.readStream.schema(schema).json(in), gates, out, "ts",
      "10 minutes", clean = true)
    q.processAllAvailable()
    q.stop()

    val decisions = spark.read.parquet(s"$out/decisions")
      .select("doc_id", "reason", "text").collect()
    val got = decisions.map(r => r.getLong(0) -> r.getString(1)).toMap
    val dupSurvivors = got.keySet.intersect(Set(31L, 32L))
    assert(dupSurvivors.size === 1, got.toString)
    assert(got(dupSurvivors.head) === "admit", got.toString)
    assert(got(33L) === "low_quality", got.toString)
    // the landed admitted text is the cleaned, REDACTED form: junk line
    // gone, email tagged — PII never reached the corpus partition
    val landed = decisions.find(r => r.getLong(0) == dupSurvivors.head)
      .get.getString(2)
    assert(!landed.contains("junk") && !landed.contains("@example.com") &&
      landed.contains("<EMAIL>"), landed)
  }

  test("startLive end-to-end: a doc admitted in batch 1 flags its " +
      "near-copy AND its span lift in batch 2 via the live index appends") {
    import graft.operators.SubstringIndex
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("ts", TimestampType)))
    // seed BOTH persisted indexes with the 2-doc corpus
    val ndDir = Files.createTempDirectory("graft_live_nd_").toString
    StreamingNearDup.write(corpus, ndDir)
    val ssDir = Files.createTempDirectory("graft_live_ss_").toString
    SubstringIndex.write(
      corpus.withColumn("lang", lit("und")).select("lang", "doc_id", "text"),
      ssDir)
    // batch 1: docA is a novel long admit
    val docA = "carburetor dovetail eiderdown flywheel grommet hawser " +
      "isinglass jackstay keelson lanyard mizzen oakum pintle quoin " +
      "ratline shackle thole unship vang windlass yawl bowsprit " +
      "capstan deadeye spinnaker telltale gunwale halyard"
    val in = Files.createTempDirectory("graft_live_in_").toString
    val out = Files.createTempDirectory("graft_live_out_").toString
    Files.write(Paths.get(in, "f1.json"), String.join("\n",
      s"""{"doc_id":41,"text":"$docA","ts":"2026-01-01T10:00:00Z"}""").getBytes)
    val q = AdmissionPipeline.startLive(spark,
      spark.readStream.schema(schema).json(in), ndDir,
      gates.holdoutGrams, out, "ts", "10 minutes",
      substrIndexDir = Some(ssDir))
    q.processAllAvailable()
    // batch 2: docB = docA minus its first token (near-copy — catchable
    // only via the LIVE band append); docC lifts docA's tokens 4..19
    // into novel surroundings (catchable only via the LIVE span
    // append); docD is novel and admits
    val docB = docA.split(" ").drop(1).mkString(" ")
    val docC = (docA.split(" ").slice(4, 20) ++ Seq(
      "almanac", "bellows", "crampon", "doorknob", "easel", "fresco",
      "garnet", "hammock", "ingot", "javelin", "kiln", "lozenge",
      "mortise", "naphtha", "oculus", "pergola", "quill", "rivet",
      "sundial", "tureen")).mkString(" ")
    val docD = "umbrella vestibule wainscot xylophone yardarm zither " +
      "antimony bromide cobalt dysprosium erbium fermium gallium " +
      "hafnium iridium krypton lanthanum molybdenum niobium osmium " +
      "palladium rhenium tantalum yttrium"
    Files.write(Paths.get(in, "f2.json"), String.join("\n",
      s"""{"doc_id":42,"text":"$docB","ts":"2026-01-01T10:00:05Z"}""",
      s"""{"doc_id":43,"text":"$docC","ts":"2026-01-01T10:00:06Z"}""",
      s"""{"doc_id":44,"text":"$docD","ts":"2026-01-01T10:00:07Z"}""").getBytes)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$out/decisions")
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(41L -> "admit", 42L -> "near_duplicate",
      43L -> "verbatim_repeat", 44L -> "admit"), got.toString)
    // and the live appends are now IN the persisted indexes: docA's and
    // docD's grams/bands are readable by the next consumer
    val indexedIds = SubstringIndex.read(spark, ssDir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(indexedIds.contains(41L) && indexedIds.contains(44L),
      indexedIds.toString)
  }

  test("end-to-end: exact dup suppressed by stream state, decisions land " +
      "partitioned by reason, admitted corpus is one pruned read") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("ts", TimestampType)))
    val cleanText = "porcelain zeppelin hammock quasar bobbin anchovy " +
      "tundra gazebo parchment kaleidoscope derrick awning lacquer plinth " +
      "sextant bugle cornice dynamo easel fresco garnet hinge ingot " +
      "javelin obelisk mandolin"
    val in = Files.createTempDirectory("graft_admission_in_").toString
    Files.write(Paths.get(in, "f1.json"), String.join("\n",
      s"""{"doc_id":11,"text":"$cleanText","ts":"2026-01-01T10:00:00Z"}""",
      // byte-identical payload under a fresh id within the horizon —
      // stream state must suppress it before any decision
      s"""{"doc_id":12,"text":"$cleanText","ts":"2026-01-01T10:00:01Z"}""",
      s"""{"doc_id":13,"text":"leaked the benchmark answer to question seven is forty two","ts":"2026-01-01T10:00:02Z"}""").getBytes)
    val out = Files.createTempDirectory("graft_admission_out_").toString

    val q = AdmissionPipeline.start(spark,
      spark.readStream.schema(schema).json(in), gates, out, "ts", "10 minutes")
    q.processAllAvailable()
    q.stop()

    val decisions = spark.read.parquet(s"$out/decisions")
    val got = decisions.select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // EXACTLY ONE of the identical pair lands (which one is an
    // intra-batch ordering detail of the state store, not a contract);
    // the copy is ABSENT — suppressed pre-decision, not rejected
    val dupSurvivors = got.keySet.intersect(Set(11L, 12L))
    assert(dupSurvivors.size === 1, got.toString)
    assert(got(dupSurvivors.head) === "admit", got.toString)
    assert(got(13L) === "contaminated", got.toString)
    assert(got.size === 2, got.toString)
    // the admitted corpus is a partition-pruned read
    val admitted = spark.read.parquet(s"$out/decisions")
      .filter(col("reason") === "admit").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(admitted === dupSurvivors.toSeq)
  }

  test("post-retraction coherence: a retract between microbatches is " +
      "seen by the next batch's path-resolved gates; bounded stream " +
      "state still suppresses within its horizon (retraction is not a " +
      "state purge); retracted content re-admits once state expires") {
    import graft.operators.DedupIndex
    import graft.streaming.StreamingNearDup
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("ts", TimestampType)))
    val ndDir = Files.createTempDirectory("graft_retr_nd_").toString
    StreamingNearDup.write(corpus, ndDir)
    val xDir = Files.createTempDirectory("graft_retr_dd_").toString
    DedupIndex.write(corpus, xDir)
    val docA = "carburetor dovetail eiderdown flywheel grommet hawser " +
      "isinglass jackstay keelson lanyard mizzen oakum pintle quoin " +
      "ratline shackle thole unship vang windlass yawl bowsprit " +
      "capstan deadeye spinnaker telltale gunwale halyard"
    // one doubled internal space: token-identical (near-dup jac 10000
    // against docA's sketch) but byte-distinct (new content hash)
    val docAws = docA.replaceFirst(" ", "  ")
    val docBridge = "umbrella vestibule wainscot xylophone yardarm zither " +
      "antimony bromide cobalt dysprosium erbium fermium gallium " +
      "hafnium iridium krypton lanthanum molybdenum niobium osmium " +
      "palladium rhenium tantalum yttrium"
    val in = Files.createTempDirectory("graft_retr_in_").toString
    val out = Files.createTempDirectory("graft_retr_out_").toString
    // batch 1: docA admits and is LIVE-appended to both artifacts
    Files.write(Paths.get(in, "f1.json"), String.join("\n",
      s"""{"doc_id":45,"text":"$docA","ts":"2026-01-01T10:00:00Z"}""").getBytes)
    val q = AdmissionPipeline.startLive(spark,
      spark.readStream.schema(schema).json(in), ndDir,
      gates.holdoutGrams, out, "ts", "10 minutes",
      exactHashDir = Some(xDir))
    q.processAllAvailable()
    // THE RETRACT — a takedown of doc 45 lands between microbatches,
    // against the very artifacts the live query appends to and
    // re-resolves per batch
    val ids = { import spark.implicits._; Seq(45L).toDF("doc_id") }
    DedupIndex.retract(spark, ids, xDir)
    StreamingNearDup.retract(spark, ids, ndDir)
    assert(!DedupIndex.read(spark, xDir).select("doc_id")
      .collect().map(_.getLong(0)).contains(45L),
      "the retract must remove doc 45's hash rows")
    // batch 2: a byte-copy INSIDE the watermark horizon — L17 state is
    // per-query and watermark-bounded, not artifact-backed, so the
    // copy is still suppressed (no decision row at all): retraction
    // recalls the CORPUS, it does not rewind the ingest window
    Files.write(Paths.get(in, "f2.json"), String.join("\n",
      s"""{"doc_id":46,"text":"$docA","ts":"2026-01-01T10:00:05Z"}""").getBytes)
    q.processAllAvailable()
    // batch 3: a far-future doc advances the watermark a day, evicting
    // docA's state
    Files.write(Paths.get(in, "f3.json"), String.join("\n",
      s"""{"doc_id":47,"text":"$docBridge","ts":"2026-01-02T10:00:00Z"}""").getBytes)
    q.processAllAvailable()
    // batch 4: the same content returns after state expiry — the
    // exact-hash probe reads the post-retraction artifact (ADMIT,
    // where the un-retracted twin test pins corpus_duplicate), and the
    // ws near-copy finds no sketch to match (ADMIT)
    Files.write(Paths.get(in, "f4.json"), String.join("\n",
      s"""{"doc_id":48,"text":"$docA","ts":"2026-01-02T10:00:05Z"}""",
      s"""{"doc_id":49,"text":"$docAws","ts":"2026-01-02T10:00:06Z"}""").getBytes)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$out/decisions")
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(45L -> "admit", 47L -> "admit",
      48L -> "admit", 49L -> "admit"), got.toString)
    assert(!got.contains(46L),
      "the within-horizon copy must die in stream state, not re-decide")
    // the re-admission re-entered the artifact lifecycle: batch 4's
    // appends landed beside the retracted layout
    val hashes = DedupIndex.read(spark, xDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!hashes.contains(45L) && hashes.contains(48L), hashes.toString)
  }

  // ---- startLive over the four release artifacts

  private val liveSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("ts", TimestampType)))

  /** A long, stopword-free, repeat-free doc: admits unless an index
    * already holds its content. */
  private def novel(tag: String) =
    (1 to 36).map(i => s"${tag}ovo$i").mkString(" ")

  private def jsonLines(in: String, file: String,
      rows: Seq[(Long, String, String)]): Unit =
    Files.write(Paths.get(in, file), rows.map { case (id, text, ts) =>
      s"""{"doc_id":$id,"text":"$text","ts":"2026-01-01T$ts"}"""
    }.mkString("\n").getBytes)

  /** Seed the three release indexes under `base` with [[corpus]] and
    * start a live query appending to all of them. */
  private def startAll(in: String, out: String, base: String,
      clean: Boolean = false) = {
    import graft.operators.ReleaseFlow
    ReleaseFlow.init(corpus.withColumn("lang", lit("und")), base)
    AdmissionPipeline.startLive(spark,
      spark.readStream.schema(liveSchema).json(in),
      ReleaseFlow.neardupDir(base), gates.holdoutGrams, out, "ts",
      "10 minutes", clean = clean,
      substrIndexDir = Some(ReleaseFlow.substrDir(base)),
      exactHashDir = Some(ReleaseFlow.dedupDir(base)))
  }

  /** Each release artifact's rows under `base`, as sorted multisets. */
  private def artifactRows(base: String): Seq[Seq[String]] = {
    import graft.operators.{DedupIndex, ReleaseFlow, SubstringIndex}
    val nd = StreamingNearDup.readIndex(spark, ReleaseFlow.neardupDir(base))
    Seq(nd.sketch, nd.bands,
      SubstringIndex.read(spark, ReleaseFlow.substrDir(base)),
      DedupIndex.read(spark, ReleaseFlow.dedupDir(base)))
      .map(_.collect().map(_.toString).sorted.toSeq)
  }

  test("startLive runs the stateful dedup once per batch and lands no " +
      "gate pre-column in the decisions sink") {
    val in = Files.createTempDirectory("graft_live1_in_").toString
    val out = Files.createTempDirectory("graft_live1_out_").toString
    val docs = (1 to 5).map(i => (60L + i, novel(s"d$i"), s"10:00:0${i}Z"))
    jsonLines(in, "f1.json", docs)
    // the data batch only: no trailing watermark batch (read at start)
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    val q = try startAll(in, out,
      Files.createTempDirectory("graft_live1_ix_").toString)
    finally spark.conf.unset(noData)
    q.processAllAvailable()
    q.stop()
    // SQL metrics sum over re-executions: a batch frame read unpinned by
    // several decision arms reports a multiple of the batch's size here
    val fed = q.recentProgress.filter(_.numInputRows > 0)
    assert(fed.length === 1)
    assert(fed.head.stateOperators(0).numRowsUpdated === docs.size.toLong,
      s"the dedup stage must run exactly once for the batch: ${fed.head.json}")
    val decisions = spark.read.parquet(s"$out/decisions")
    assert(decisions.columns.toSeq.sorted ===
      Seq("_batch_id", "doc_id", "n_chars", "reason", "text", "ts"),
      decisions.columns.mkString(","))
    assert(decisions.filter(col("reason") === "admit").count() === 5L)
  }

  test("startLive with clean=true: a page-dropped doc lands low_quality " +
      "and the admitted doc reaches all four indexes redacted") {
    import graft.operators.{DedupIndex, ReleaseFlow, SubstringIndex}
    val body = Seq(
      "porcelain zeppelin hammock quasar bobbin anchovy tundra seventy.",
      "gazebo parchment kaleidoscope derrick awning lacquer plinth nine.",
      "sextant bugle cornice dynamo easel fresco garnet marble forty.",
      "contact hinge ingot javelin user33@example.com obelisk mandolin.")
      .mkString("\\n")
    val in = Files.createTempDirectory("graft_live2_in_").toString
    val out = Files.createTempDirectory("graft_live2_out_").toString
    val base = Files.createTempDirectory("graft_live2_ix_").toString
    jsonLines(in, "f1.json", Seq(
      (71L, s"junk header\\n$body", "10:00:00Z"),
      // one unpunctuated line: the page rules drop it to a NULL text
      (72L, "just one long unpunctuated boilerplate navigation row",
        "10:00:01Z")))
    val q = startAll(in, out, base, clean = true)
    q.processAllAvailable()
    q.stop()
    val decisions = spark.read.parquet(s"$out/decisions")
    val got = decisions.select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(71L -> "admit", 72L -> "low_quality"), got.toString)
    assert(decisions.filter(col("doc_id") === 72L && col("text").isNull)
      .count() === 1L, "the page-dropped doc carries its NULL text")
    val landed = decisions.filter(col("doc_id") === 71L)
      .select(lit("und").as("lang"), col("doc_id"), col("text"))
    val text = landed.collect().head.getString(2)
    assert(!text.contains("junk") && !text.contains("@example.com") &&
      text.contains("<EMAIL>"), text)
    // every index holds exactly the rows of the REDACTED text
    def of71(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("doc_id") === 71L).collect().map(_.toString).sorted.toSeq
    val nd = StreamingNearDup.readIndex(spark, ReleaseFlow.neardupDir(base))
    val ndBuilt = StreamingNearDup.buildIndex(landed)
    Seq(
      "sketch" -> (nd.sketch, ndBuilt.sketch),
      "bands" -> (nd.bands, ndBuilt.bands),
      "span_grams" -> (SubstringIndex.read(spark, ReleaseFlow.substrDir(base)),
        SubstringIndex.build(landed)),
      "content_hashes" -> (DedupIndex.read(spark, ReleaseFlow.dedupDir(base)),
        DedupIndex.build(landed))).foreach { case (name, (ix, built)) =>
      assert(of71(ix).nonEmpty && of71(ix) === of71(built), name)
    }
  }

  test("startLive's live appends equal a rebuild: after two batches every " +
      "index's row multiset is ReleaseFlow.init over corpus ∪ admitted") {
    import graft.operators.ReleaseFlow
    val in = Files.createTempDirectory("graft_live3_in_").toString
    val out = Files.createTempDirectory("graft_live3_out_").toString
    val base = Files.createTempDirectory("graft_live3_ix_").toString
    jsonLines(in, "f1.json", Seq(
      (81L, novel("e1"), "10:00:00Z"), (82L, novel("e2"), "10:00:01Z"),
      (83L, "too short", "10:00:02Z")))
    val q = startAll(in, out, base)
    q.processAllAvailable()
    // batch 2: a near-copy of 81 (caught by the live band append), a
    // byte-copy of the corpus, and two novel docs
    jsonLines(in, "f2.json", Seq(
      (84L, novel("e1").split(" ").drop(1).mkString(" "), "10:00:05Z"),
      (85L, longCorpusText, "10:00:06Z"),
      (86L, novel("e3"), "10:00:07Z"), (87L, novel("e4"), "10:00:08Z")))
    q.processAllAvailable()
    q.stop()
    val decisions = spark.read.parquet(s"$out/decisions")
    val got = decisions.select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(81L -> "admit", 82L -> "admit", 83L -> "low_quality",
      84L -> "near_duplicate", 85L -> "corpus_duplicate", 86L -> "admit",
      87L -> "admit"), got.toString)
    val rebuilt = Files.createTempDirectory("graft_live3_re_").toString
    ReleaseFlow.init(corpus.unionByName(decisions
        .filter(col("reason") === "admit").select("doc_id", "text"))
      .withColumn("lang", lit("und")), rebuilt)
    artifactRows(base).zip(artifactRows(rebuilt)).zipWithIndex.foreach {
      case ((live, re), k) => assert(live === re, s"artifact $k")
    }
  }

  test("decide + pin on a pinned batch with all four index gates stays " +
      "within its Spark job budget") {
    // The measured count: the indexes are probed, never reshaped (no
    // index-wide distinct), the three ownership guards share one
    // broadcast batch-id set, and the reason join broadcasts the flags.
    import graft.operators.{DedupIndex, ReleaseFlow}
    val Budget = 12
    val base = Files.createTempDirectory("graft_decide_budget_").toString
    ReleaseFlow.init(corpus.withColumn("lang", lit("und")), base)
    val g = gates.copy(
      neardup = StreamingNearDup.readIndex(spark, ReleaseFlow.neardupDir(base)),
      corpusSpans = Some(StreamingSubstring.fromPersisted(spark,
        ReleaseFlow.substrDir(base))),
      exactHashes = Some(DedupIndex.read(spark, ReleaseFlow.dedupDir(base))))
    val batch = AdmissionPipeline.gatePin(mkBatch(Seq(
      1L -> longCorpusText.split(" ").drop(1).mkString(" "),
      2L -> longCorpusText.toUpperCase,
      3L -> "leaked the benchmark answer to question seven is forty two",
      4L -> novel("b4"),
      5L -> (longCorpusText.split(" ").take(16).mkString(" ") + " " +
        novel("b5")))))(identity)
    val sc = spark.sparkContext
    val group = s"decide-budget-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val decided = try {
      sc.setJobGroup(group, "decide + pin on one pinned batch")
      try AdmissionPipeline.decide(batch, g).localCheckpoint()
      finally sc.clearJobGroup()
    } finally {
      org.apache.spark.graftbridge.ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val got = decided.select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "near_duplicate", 2L -> "corpus_duplicate",
      3L -> "contaminated", 4L -> "admit", 5L -> "verbatim_repeat"),
      got.toString)
    assert(jobs.get() > 0)
    assert(jobs.get() <= Budget,
      s"${jobs.get()} Spark jobs for decide + pin on one pinned batch")
  }

  test("one startLive microbatch with all four live indexes stays within " +
      "its Spark job budget") {
    // The measured count: the pin, decide's jobs (planned while the pin
    // runs), the decisions write, and one job per artifact append (one
    // key-sorted file each, no range sampling and no shuffle; the
    // near-dup appends project the pin's sketch, so nothing re-pins it).
    val Budget = 15
    val in = Files.createTempDirectory("graft_live_budget_in_").toString
    val out = Files.createTempDirectory("graft_live_budget_out_").toString
    jsonLines(in, "f1.json", Seq(
      (41L, longCorpusText.split(" ").drop(1).mkString(" "), "10:00:00Z"),
      (42L, longCorpusText, "10:00:01Z"),
      (43L, "leaked the benchmark answer to question seven is forty two",
        "10:00:02Z"),
      (44L, novel("w4"), "10:00:03Z"),
      (45L, longCorpusText.split(" ").take(16).mkString(" ") + " " +
        novel("w5"), "10:00:04Z")))
    val sc = spark.sparkContext
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    val q = try startAll(in, out,
      Files.createTempDirectory("graft_live_budget_ix_").toString)
    finally spark.conf.unset(noData)
    // every job of the query's data batch, on the stream thread and on
    // the pin and append threads alike (they inherit its properties)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("sql.streaming.queryId") == q.id.toString &&
              p.getProperty("streaming.sql.batchId") == "0"))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      q.processAllAvailable()
      q.stop()
    } finally {
      org.apache.spark.graftbridge.ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val got = spark.read.parquet(s"$out/decisions").select("doc_id", "reason")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(41L -> "near_duplicate", 42L -> "corpus_duplicate",
      43L -> "contaminated", 44L -> "admit", 45L -> "verbatim_repeat"),
      got.toString)
    assert(jobs.get() > 0)
    assert(jobs.get() <= Budget,
      s"${jobs.get()} Spark jobs for one live microbatch")
  }

  test("gatePin computes each document's pre-columns once: decide is " +
      "planned while the pin runs and its jobs and the appends read the " +
      "landed pin") {
    import graft.operators.{DedupIndex, IndexSet, ReleaseFlow, SubstringIndex}
    // counts evaluations of the doc text; nondeterministic, so the
    // optimizer neither duplicates nor reorders it within one pass
    val seen = spark.sparkContext.longAccumulator("gate_pin_computed")
    val touch = udf { (t: String) => seen.add(1L); t }.asNondeterministic()
    val base = Files.createTempDirectory("graft_pin_once_").toString
    ReleaseFlow.init(corpus.withColumn("lang", lit("und")), base)
    val docs = Seq(
      1L -> longCorpusText.split(" ").drop(1).mkString(" "),
      2L -> longCorpusText,
      3L -> "leaked the benchmark answer to question seven is forty two",
      4L -> novel("p4"),
      5L -> novel("p5"))
    // an RDD-backed, multi-partition batch like a stream's: a local
    // relation's projection would be evaluated once while optimizing
    val batch = {
      import spark.implicits._
      spark.sparkContext.parallelize(docs, 3).toDF("doc_id", "text")
    }.withColumn("text", touch(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("lang", lit("und"))
    val live = IndexSet(DedupIndex -> ReleaseFlow.dedupDir(base),
      StreamingNearDup -> ReleaseFlow.neardupDir(base),
      SubstringIndex -> ReleaseFlow.substrDir(base))
    val decisions = AdmissionPipeline.gatePin(batch) { pinned =>
      val g = gates.copy(
        neardup = StreamingNearDup.readIndex(spark, ReleaseFlow.neardupDir(base)),
        corpusSpans = Some(StreamingSubstring.fromPersisted(spark,
          ReleaseFlow.substrDir(base))),
        exactHashes = Some(DedupIndex.read(spark, ReleaseFlow.dedupDir(base))))
      AdmissionPipeline.decide(pinned, g)
    }
    assert(seen.value === docs.size.toLong, "the pin has landed on return")
    val (pinnedDecisions, join) = live.admitDeferred(decisions)
    join()
    val got = pinnedDecisions.select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "near_duplicate", 2L -> "corpus_duplicate",
      3L -> "contaminated", 4L -> "admit", 5L -> "admit"), got.toString)
    assert(seen.value === docs.size.toLong,
      "decide's arms and the appends must read the pin, not recompute it")
  }
}
