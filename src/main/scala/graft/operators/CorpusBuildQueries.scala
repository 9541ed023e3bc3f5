package graft.operators

import graft.{DQ, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-BUILD gate query — the capstone composition
  * ([[CorpusBuild]]) under the DuckDB oracle: one planted shard runs
  * the full assembly chain — gate ladder against the r1-shared
  * artifact init, intra-shard curation, stratified sampling, holdout
  * split, epoch-shard assignment — and the output is the build's
  * complete accounting: the ledger rollup per (stage, outcome, lang)
  * plus the train split's per-shard manifest. r1/r2's oracle
  * discipline extended one stage deeper:
  *
  *  - every GATE arm replays as in r1 (hash membership, 15-gram
  *    verbatim, the quality/repetition chain in exact precedence);
  *  - the CURATION stage's exact-duplicate arm replays GENUINELY
  *    (sha256 canonicality over the admitted slice — the planted
  *    exact-copy pairs are decided by the oracle's own window); its
  *    near-dup arm is construction-pinned, r1's ws discipline turned
  *    INWARD: each planted pair is TWO whitespace variants of the same
  *    solo doc (first-space and second-space doublings), token-array-
  *    identical to each other — Jaccard 10000, a guaranteed cluster —
  *    and n_chars-identical (each insertion is exactly +1 char), so
  *    the two variants pass or fail the quality chain TOGETHER and
  *    the min-id variant is canonical whenever either reaches
  *    curation. If the two insertions land in one whitespace run the
  *    variants collapse to the same string and the genuinely-replayed
  *    exact arm takes over — the pin cannot drift (r1's fallthrough
  *    argument);
  *  - SAMPLING, SPLIT, and the epoch-0 SHARD assignment replay
  *    verbatim (l20/l22/l55's md5 arithmetic).
  *
  * Construction discipline beyond r1's `clean` filter: shard material
  * is drawn from SOLO docs — held-out docs sharing no 8-gram with the
  * corpus (r1's filter) NOR with any other clean doc (one more
  * replayed equi-join) — so the only ≥ 0.6-Jaccard pairs the curation
  * closure can see are the planted same-source pairs (the corpus
  * measures no natural pair above 0.4 without shared 8-grams — r1's
  * measured property, re-pinned in CorpusBuildQueriesSpec).
  *
  * Shard classes (`o` = max(doc_id)+1; class k at source + k·o):
  * (1) corpus byte copies → gate corpus_duplicate; (2) solo %6=1,
  * ≥ 20 tokens, + the 16-token corpus quote → gate verbatim_repeat;
  * (3) solo %6=0 100-char prefixes → gate low_quality; (4)+(5) the
  * ws-variant pair of each solo %6=2 doc with an internal space —
  * (4) survives curation, (5) drops near_duplicate; (6)+(7) the
  * exact-copy pair of each solo %6=4 doc — (6) survives, (7) drops by
  * the replayed sha window; (8) solo %6∈{3,5} verbatim → the replayed
  * quality chain, then sampling/split/shard. The cleanse stage is OFF
  * here (its battery is oracle-covered by l31/l32 and the opt-in
  * semantics spec-pinned in CorpusBuildSpec — a single-line corpus
  * cannot pass the page bar, so a cleansing build of THIS corpus is
  * the empty build).
  *
  * Scale note: the solo filter is fixture machinery (two bounded
  * gram equi-joins at gate scale); the chain under test is
  * [[CorpusBuild.build]] — the standalone components' own plans,
  * composed. Artifact init is CLONED from the r1/r2 memo (same corpus
  * slice, same [[ReleaseQueries.InitMemo]]), so the gate adds no
  * duplicate setup to the bench.
  */
object CorpusBuildQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  private def gateBase(d: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_build_gate_" +
      s"${ReleaseQueries.nonce}_${d.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** One SOLO frame per snapshot ([[graft.Tables.shared]]), shared by
    * [[c1]] and [[c2]]: clean held-out docs ([[ReleaseQueries.cleanHeld]],
    * itself shared, built inside this build on a cold memo) that also
    * share no 8-gram with any OTHER clean doc — the intra-shard
    * determinism filter. The gram self-join is fixture machinery worth
    * paying once per source dir, not per gate. */
  private[operators] def soloFrame(s: SparkSession, d: String): DataFrame =
    Tables.shared(s, d, "solo") {
      val clean = ReleaseQueries.cleanHeld(s, d)
      val cleanG = SamplingQueries.docGramsK(clean, Seq("doc_id"), 8,
        hashed = false)
      val sharedIds = cleanG.as("a")
        .join(cleanG.as("b"), col("a.gram") === col("b.gram") &&
          col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id")).distinct()
      clean.join(sharedIds, Seq("doc_id"), "left_anti")
    }

  /** The build's complete accounting as ONE oracle-comparable frame:
    * ledger rollup per (stage, outcome, lang) — cleanse/gate/curation/
    * sampling stages — plus the manifest per (lang, split) and the
    * train split's per-shard rows. Shared by [[c1]] and [[c2]]. */
  private def rollup(res: CorpusBuild.Result): DataFrame = {
    val nullTok = lit(null).cast("long")
    val ledgerRoll = res.ledger.filter(col("stage") =!= "manifest")
      .groupBy("stage", "outcome", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("doc_id_sum"))
      .withColumn("n_tokens", nullTok)
    val manifestRoll = res.manifest
      .groupBy("lang", "split")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("doc_id_sum").as("doc_id_sum"))
      .select(lit("manifest").as("stage"), col("split").as("outcome"),
        col("lang"), col("n_docs"), col("doc_id_sum"), col("n_tokens"))
    val shardRoll = res.manifest.filter(col("split") === "train")
      .select(lit("shard").as("stage"),
        col("shard").cast("string").as("outcome"), col("lang"),
        col("n_docs"), col("doc_id_sum"), col("n_tokens"))
    ledgerRoll.select("stage", "outcome", "lang", "n_docs",
        "doc_id_sum", "n_tokens")
      .unionByName(manifestRoll)
      .unionByName(shardRoll)
      .orderBy("stage", "outcome", "lang")
  }

  /** Second-space doubling — [[ReleaseQueries.wsVariant]]'s sibling:
    * inserts one space after the SECOND space (or after the first
    * again when no second exists — the pair then collapses to equal
    * strings and the exact arm decides). Token-array-preserving and
    * exactly +1 char, like the first-space form. */
  private val wsVariant2 = expr(
    "concat(substring(text, 1, instr(text, ' ') + " +
      "instr(substring(text, instr(text, ' ') + 1), ' ')), ' ', " +
      "substring(text, instr(text, ' ') + " +
      "instr(substring(text, instr(text, ' ') + 1), ' ') + 1))")

  val c1 = DQ(
    "c1_corpus_build",
    (s, d) => {
      val base = gateBase(d)
      val all = docs(s, d).filter(col("text").isNotNull)
        .select(col("lang"), col("doc_id"), col("text"))
        .withColumn("ta", split(lower(col("text")), "\\s+"))
      val corpus = all.filter(ReleaseQueries.inCorpus)
      // SOLO: clean docs sharing no 8-gram with any OTHER clean doc —
      // the intra-shard determinism filter (see the scaladoc). Memoized
      // + pinned once per (JVM, dir): SIX shard classes here and four
      // in c2 draw from it, and an unpinned lineage re-runs the whole
      // gram anti-join chain per class (the r14 shard-pinning lesson,
      // fixture-side).
      val solo = soloFrame(s, d)
      val off = LlmQueries.plantedOffset(all, "doc_id")
      val quote = corpus.filter(size(col("ta")) >= 16)
        .orderBy("doc_id").limit(1)
        .select(concat_ws(" ", slice(col("ta"), 1, 16)).as("_q"))
      def cls(src: DataFrame, k: Int, text: org.apache.spark.sql.Column) =
        src.crossJoin(broadcast(off))
          .select(col("lang"),
            (col("doc_id") + col("_off") * k).as("doc_id"), text.as("text"))
      val k1 = cls(corpus.filter(col("doc_id") % 7 === 0), 1, col("text"))
      val k2 = cls(solo.filter(col("doc_id") % 6 === 1 &&
          size(col("ta")) >= 20).crossJoin(broadcast(quote)), 2,
        concat(trim(col("text")), lit(" "), col("_q")))
      val k3 = cls(solo.filter(col("doc_id") % 6 === 0), 3,
        substring(col("text"), 1, 100))
      val wsSrc = solo.filter(col("doc_id") % 6 === 2 &&
        instr(col("text"), " ") > 0)
      val k4 = cls(wsSrc, 4, ReleaseQueries.wsVariant)
      val k5 = cls(wsSrc, 5, wsVariant2)
      val exSrc = solo.filter(col("doc_id") % 6 === 4)
      val k6 = cls(exSrc, 6, col("text"))
      val k7 = cls(exSrc, 7, col("text"))
      val k8 = cls(solo.filter(col("doc_id") % 6 === 3 ||
        col("doc_id") % 6 === 5), 8, col("text"))
      val shard = k1.unionByName(k2).unionByName(k3).unionByName(k4)
        .unionByName(k5).unionByName(k6).unionByName(k7).unionByName(k8)
      ReleaseQueries.InitMemo.cloneInto(s, d, base)(m =>
        ReleaseFlow.init(corpus.select("lang", "doc_id", "text"), m))
      val res = CorpusBuild.build(s, shard, base)
      rollup(res)
    },
    Some(s"""WITH base AS (
              SELECT lang, doc_id, text,
                string_split_regex(lower(text), '\\s+') AS ta,
                substring(md5(CAST(doc_id AS VARCHAR) || ':r1'), 1, 4)
                  < 'c000' AS in_corpus
              FROM documents WHERE text IS NOT NULL),
            off AS (SELECT COALESCE(MAX(doc_id), -1) + 1 AS o FROM base),
            cg8 AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                range(len(ta) - 7),
                i -> array_to_string(list_slice(ta, i + 1, i + 8), ' ')))) AS gram
              FROM base WHERE in_corpus AND len(ta) >= 8),
            heldg AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                range(len(ta) - 7),
                i -> array_to_string(list_slice(ta, i + 1, i + 8), ' ')))) AS gram
              FROM base WHERE NOT in_corpus AND len(ta) >= 8),
            dirty AS (
              SELECT DISTINCT doc_id FROM heldg
              WHERE gram IN (SELECT gram FROM cg8)),
            clean AS (
              SELECT * FROM base WHERE NOT in_corpus
                AND doc_id NOT IN (SELECT doc_id FROM dirty)),
            cleang AS (
              SELECT doc_id, gram FROM heldg
              WHERE doc_id IN (SELECT doc_id FROM clean)),
            shared AS (
              SELECT DISTINCT a.doc_id FROM cleang a JOIN cleang b
              ON a.gram = b.gram AND a.doc_id <> b.doc_id),
            solo AS (
              SELECT * FROM clean
              WHERE doc_id NOT IN (SELECT doc_id FROM shared)),
            quote AS (
              SELECT array_to_string(list_slice(ta, 1, 16), ' ') AS q
              FROM base WHERE in_corpus AND len(ta) >= 16
              ORDER BY doc_id LIMIT 1),
            s1 AS (
              SELECT lang, doc_id + o AS doc_id, text, 1 AS kind
              FROM base, off WHERE in_corpus AND doc_id % 7 = 0
              UNION ALL
              SELECT lang, doc_id + 2 * o,
                trim(text) || ' ' || (SELECT q FROM quote), 2
              FROM solo, off WHERE doc_id % 6 = 1 AND len(ta) >= 20
                AND EXISTS (SELECT 1 FROM quote)
              UNION ALL
              SELECT lang, doc_id + 3 * o, substring(text, 1, 100), 3
              FROM solo, off WHERE doc_id % 6 = 0
              UNION ALL
              SELECT lang, doc_id + 4 * o,
                concat(substring(text, 1, instr(text, ' ')), ' ',
                  substring(text, instr(text, ' ') + 1)), 4
              FROM solo, off WHERE doc_id % 6 = 2 AND instr(text, ' ') > 0
              UNION ALL
              SELECT lang, doc_id + 5 * o,
                concat(substring(text, 1, instr(text, ' ') +
                    instr(substring(text, instr(text, ' ') + 1), ' ')), ' ',
                  substring(text, instr(text, ' ') +
                    instr(substring(text, instr(text, ' ') + 1), ' ') + 1)), 5
              FROM solo, off WHERE doc_id % 6 = 2 AND instr(text, ' ') > 0
              UNION ALL
              SELECT lang, doc_id + 6 * o, text, 6
              FROM solo, off WHERE doc_id % 6 = 4
              UNION ALL
              SELECT lang, doc_id + 7 * o, text, 7
              FROM solo, off WHERE doc_id % 6 = 4
              UNION ALL
              SELECT lang, doc_id + 8 * o, text, 8
              FROM solo, off WHERE doc_id % 6 IN (3, 5)),
            chashes AS (
              SELECT sha256(lower(trim(text))) AS h FROM base WHERE in_corpus),
            cg15 AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                range(len(ta) - 14),
                i -> array_to_string(list_slice(ta, i + 1, i + 15), ' ')))) AS gram
              FROM base WHERE in_corpus AND len(ta) >= 15),
            s1t AS (
              SELECT lang, doc_id, text, kind,
                string_split_regex(lower(text), '\\s+') AS ta,
                CAST(len(text) AS BIGINT) AS n_chars,
                sha256(lower(trim(text))) AS h
              FROM s1),
            s1vr AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(list_distinct(list_transform(
                  range(len(ta) - 14),
                  i -> array_to_string(list_slice(ta, i + 1, i + 15), ' ')))) AS gram
                FROM s1t WHERE len(ta) >= 15)
              WHERE gram IN (SELECT gram FROM cg15)),
            s1lines AS (
              SELECT doc_id,
                (COUNT(*) - COUNT(DISTINCT line)) * 100 > 30 * COUNT(*) AS f_line
              FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                    FROM s1t)
              GROUP BY 1),
            s1grams AS (
              SELECT doc_id, n_chars, 2 AS n, len(ta) - 1 AS n_grams,
                unnest(list_transform(range(len(ta) - 1),
                  i -> array_to_string(list_slice(ta, i + 1, i + 2), ' '))) AS gram
              FROM s1t WHERE len(ta) >= 2
              UNION ALL
              SELECT doc_id, n_chars, 3, len(ta) - 2,
                unnest(list_transform(range(len(ta) - 2),
                  i -> array_to_string(list_slice(ta, i + 1, i + 3), ' ')))
              FROM s1t WHERE len(ta) >= 3
              UNION ALL
              SELECT doc_id, n_chars, 4, len(ta) - 3,
                unnest(list_transform(range(len(ta) - 3),
                  i -> array_to_string(list_slice(ta, i + 1, i + 4), ' ')))
              FROM s1t WHERE len(ta) >= 4),
            s1counts AS (
              SELECT doc_id, n_chars, n, n_grams, gram, COUNT(*) AS c,
                COUNT(*) * len(gram) AS cov
              FROM s1grams GROUP BY 1, 2, 3, 4, 5),
            s1top AS (
              SELECT doc_id, n_chars, n, n_grams,
                arg_max(cov, CAST(c AS HUGEINT) * 18446744073709551616 + cov)
                  AS cov,
                MAX(c) AS c
              FROM s1counts GROUP BY 1, 2, 3, 4),
            s1rep AS (
              SELECT doc_id,
                MAX(CASE WHEN n = 2 THEN
                  CAST(ROUND(c * 10000.0 / n_grams) AS BIGINT) END) AS top2_bp,
                COALESCE(MAX(CASE WHEN n = 2 THEN
                  c >= 2 AND cov * 100 > 20 * n_chars END), false) AS f_2g,
                COALESCE(MAX(CASE WHEN n = 3 THEN
                  c >= 2 AND cov * 100 > 18 * n_chars END), false) AS f_3g,
                COALESCE(MAX(CASE WHEN n = 4 THEN
                  c >= 2 AND cov * 100 > 16 * n_chars END), false) AS f_4g
              FROM s1top GROUP BY 1),
            gate AS (
              SELECT t.lang, t.doc_id, t.text, t.kind, t.ta, t.h,
                CASE
                  WHEN t.h IN (SELECT h FROM chashes)
                    THEN 'corpus_duplicate'
                  WHEN t.doc_id IN (SELECT doc_id FROM s1vr)
                    THEN 'verbatim_repeat'
                  WHEN NOT (t.n_chars >= 200 AND
                    CAST(ROUND(10000.0 * len(list_filter(t.ta,
                      x -> x IN ('the', 'a', 'value', 'table'))) / len(t.ta))
                      AS BIGINT) < 2500) THEN 'low_quality'
                  WHEN COALESCE(r.top2_bp > 1000, false)
                    OR COALESCE(l.f_line, false)
                    OR COALESCE(r.f_2g, false) OR COALESCE(r.f_3g, false)
                    OR COALESCE(r.f_4g, false) THEN 'repetitive'
                  ELSE 'admit' END AS decision
              FROM s1t t
              LEFT JOIN s1lines l ON t.doc_id = l.doc_id
              LEFT JOIN s1rep r ON t.doc_id = r.doc_id),
            adm AS (SELECT * FROM gate WHERE decision = 'admit'),
            cur AS (
              SELECT a.*,
                (a.kind = 5 OR EXISTS (SELECT 1 FROM adm b
                  WHERE b.h = a.h AND b.doc_id < a.doc_id)) AS dup
              FROM adm a),
            surv AS (
              SELECT lang, doc_id, text, ta,
                substring(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4) <
                  CASE lang WHEN 'en' THEN '2000' WHEN 'de' THEN '4000'
                            WHEN 'es' THEN '8000' WHEN 'fr' THEN 'c000'
                            WHEN 'zh' THEN 'zzzz' ELSE '0000' END AS sampled,
                substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 4) AS sh
              FROM cur WHERE NOT dup),
            man AS (
              SELECT lang, doc_id,
                CASE WHEN sh < 'c000' THEN 'train'
                     WHEN sh < 'e000' THEN 'val' ELSE 'test' END AS split,
                CAST(len(regexp_extract_all(lower(text),
                  '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tok,
                CAST(concat('0x', substring(md5(
                  CAST(doc_id AS VARCHAR) || ':epoch0'), 1, 1)) AS BIGINT)
                  AS shard
              FROM surv WHERE sampled)
            SELECT 'gate' AS stage, decision AS outcome, lang,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum,
              CAST(NULL AS BIGINT) AS n_tokens
            FROM gate WHERE decision <> 'admit' GROUP BY 2, 3
            UNION ALL
            SELECT 'curation', 'near_duplicate', lang,
              CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
              CAST(NULL AS BIGINT)
            FROM cur WHERE dup GROUP BY 3
            UNION ALL
            SELECT 'sampling', 'sampled_out', lang,
              CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
              CAST(NULL AS BIGINT)
            FROM surv WHERE NOT sampled GROUP BY 3
            UNION ALL
            SELECT 'manifest', split, lang,
              CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
              CAST(SUM(n_tok) AS BIGINT)
            FROM man GROUP BY 2, 3
            UNION ALL
            SELECT 'shard', CAST(shard AS VARCHAR), lang,
              CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
              CAST(SUM(n_tok) AS BIGINT)
            FROM man WHERE split = 'train' GROUP BY 2, 3
            ORDER BY stage, outcome, lang"""))

  /** k4's guaranteed-low-quality page: three terminal-punctuated
    * stopword-heavy lines (stop ratio 5000 bp ≥ the 2500 bar), built
    * from the same concat/chr primitives on both engines. It passes
    * the C4 page bar on its own — no reliance on the lined flags of
    * its shifted id — so the gate, not the cleanse, decides it. */
  private val stopLinesSql =
    "concat('the value table a stop words row one.', chr(10), " +
      "'the value table a stop words row two.', chr(10), " +
      "'the value table a stop words row three.')"

  /** The planted PII line for [[c2]] — appended to l31's lined corpus
    * so redaction runs inside a KEPT line (l32's suffix lands on the
    * always-dropped soup line and would make the scrub vacuous here):
    * terminal-punctuated, ≥ 5 words, address derived from the SHARD
    * doc_id — so the two copies of a page-keep source differ
    * pre-redaction and converge to byte-equal text exactly BECAUSE the
    * scrub ran (the curation pin below rides on that). */
  private val c2EmailLineSpark =
    """CASE WHEN doc_id % 5 = 0
        THEN concat(chr(10), 'please contact user', CAST(doc_id AS STRING),
          '@example.com for the value report.')
        ELSE '' END"""
  private val c2EmailLineDuck = c2EmailLineSpark.replace("AS STRING", "AS VARCHAR")

  /** Two MORE built lines (word slices 19-24 and 25-30) appended to
    * l31's three — a 3-line page of 6-word slices lands ~140 chars,
    * under the quality arm's 200-char bar, so every cleaned page would
    * die `low_quality` and the admit path would be vacuous. Seven lines
    * of the source's own words, plus [[c2]]'s pk length pin (the first
    * 30 words join to ≥ 200 chars), guarantee admit-ELIGIBLE length by
    * construction; the stopword half of the rule still replays. */
  private val c2ExtraLinesSpark =
    """CASE WHEN doc_id % 4 = 0 THEN concat(
         chr(10), concat_ws(' ', slice(split(text, ' '), 19, 6)), '.',
         chr(10), concat_ws(' ', slice(split(text, ' '), 25, 6)), '.',
         chr(10), concat_ws(' ', slice(split(text, ' '), 31, 6)), '.',
         chr(10), concat_ws(' ', slice(split(text, ' '), 37, 6)), '.')
        ELSE '' END"""
  private val c2ExtraLinesDuck =
    """CASE WHEN doc_id % 4 = 0 THEN concat(
         chr(10), array_to_string(list_slice(string_split(text, ' '), 19, 24), ' '), '.',
         chr(10), array_to_string(list_slice(string_split(text, ' '), 25, 30), ' '), '.',
         chr(10), array_to_string(list_slice(string_split(text, ' '), 31, 36), ' '), '.',
         chr(10), array_to_string(list_slice(string_split(text, ' '), 37, 42), ' '), '.')
        ELSE '' END"""

  /** C2 — the CLEANSING corpus build under the DuckDB oracle:
    * [[CorpusBuild.build]] with `cleanse = true`, the one `Config` arm
    * c1 leaves off (its synthetic corpus cannot pass the C4 page bar).
    * The shard is l31's planted LINED corpus discipline applied to the
    * r1 fixture machinery: solo held-out docs wrapped with line
    * structure keyed on doc_id arithmetic, so the composed
    * cleanse → gate → curate → sample → manifest path — what a
    * Dolma-class run actually executes — replays end-to-end in DuckDB:
    *
    *  - the C4 battery replays GENUINELY (l31's line/page rules +
    *    l32's PII redaction + the n_chars re-measure, the exact
    *    [[graft.streaming.AdmissionPipeline.cleanse]] composition);
    *    page-dropped docs land ledger `cleanse/cleaned_out`;
    *  - every GATE arm replays over the CLEANED text as in c1 (hash
    *    membership, 15-gram verbatim, quality, the repetition chain);
    *    k4's stopword pages force a deterministic `low_quality` class;
    *  - CURATION needs NO construction pin at all, c1's one remaining
    *    pinned arm: post-battery, duplicate pairs are byte-EQUAL —
    *    each page-keep source enters twice (k1/k2) whose only textual
    *    difference, the id-bearing email line, redacts to the same
    *    `<EMAIL>` tag — so the near-dup closure and the sha window
    *    agree by construction and the oracle's exact window replays
    *    the whole stage (the spec re-pins closure ≡ exact on this
    *    fixture);
    *  - SAMPLING/SPLIT/SHARD replay verbatim (l20/l22/l55 arithmetic).
    *
    * Determinism machinery: the class offset is the planted offset
    * rounded UP to a multiple of 60 = lcm(4, 6, 10, 5), so a shifted
    * id keeps its source's lined-corpus flags and every class has a
    * known cleanse outcome: k1/k2 (sources: %4=0, %10≠0, ≥18 words,
    * page-rule-safe) keep exactly their three built lines (+ the
    * redacted PII line on %5=0); k3 (%4≠0 or %10=0) cannot reach the
    * 3-kept-line bar or trips the lorem rule — `cleaned_out`; k4
    * carries its own punctuated stopword page — `low_quality`.
    * Solo-ness (no shared 8-gram among sources, r1's measured
    * ≤0.4-Jaccard property) carries to cleaned text, whose tokens are
    * subsets of the source's own words, so the only ≥0.6 pairs
    * curation can see are the byte-equal k1/k2 twins. */
  val c2 = DQ(
    "c2_corpus_build_cleansed",
    (s, d) => {
      val base = gateBase(d) + "_c2"
      val all0 = docs(s, d).filter(col("text").isNotNull)
        .select(col("lang"), col("doc_id"), col("text"))
      val corpus = all0.filter(ReleaseQueries.inCorpus)
      val solo = soloFrame(s, d)
      val off = LlmQueries.plantedOffset(all0, "doc_id")
        .select((col("_off") + 59 - ((col("_off") + 59) % 60)).as("_off"))
      def cls(src: DataFrame, k: Int, text: org.apache.spark.sql.Column) =
        src.crossJoin(broadcast(off))
          .select(col("lang"),
            (col("doc_id") + col("_off") * k).as("doc_id"), text.as("text"))
      // page-keep sources: gain three 6-word '.'-lines (%4=0), dodge
      // the lorem suffix (%10≠0), have the 18 words the slices need,
      // and trip no page rule of their own
      val pk = solo.filter(col("doc_id") % 4 === 0 &&
        col("doc_id") % 10 =!= 0 &&
        size(split(col("text"), " ")) >= 42 &&
        length(concat_ws(" ",
          slice(split(col("text"), " "), 1, 42))) >= 200 &&
        !lower(col("text")).contains("lorem ipsum") &&
        !col("text").contains("{"))
      val k1 = cls(pk, 1, col("text"))
      val k2 = cls(pk, 2, col("text"))
      val k3 = cls(solo.filter(col("doc_id") % 4 =!= 0 ||
        col("doc_id") % 10 === 0), 3, col("text"))
      val k4 = cls(solo.filter(col("doc_id") % 6 === 5), 4, expr(stopLinesSql))
      val shard = k1.unionByName(k2).unionByName(k3).unionByName(k4)
        .select(col("lang"), col("doc_id"),
          expr(s"concat(${CleaningQueries.linedSqlForTest}, " +
            s"$c2ExtraLinesSpark, $c2EmailLineSpark)").as("text"))
      ReleaseQueries.InitMemo.cloneInto(s, d, base)(m =>
        ReleaseFlow.init(corpus.select("lang", "doc_id", "text"), m))
      val res = CorpusBuild.build(s, shard, base,
        cfg = CorpusBuild.Config(cleanse = true))
      rollup(res)
    },
    Some(s"""WITH base AS (
              SELECT lang, doc_id, text,
                string_split_regex(lower(text), '\\s+') AS ta,
                substring(md5(CAST(doc_id AS VARCHAR) || ':r1'), 1, 4)
                  < 'c000' AS in_corpus
              FROM documents WHERE text IS NOT NULL),
            off AS (
              SELECT o0 + 59 - ((o0 + 59) % 60) AS o
              FROM (SELECT COALESCE(MAX(doc_id), -1) + 1 AS o0 FROM base)),
            cg8 AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                range(len(ta) - 7),
                i -> array_to_string(list_slice(ta, i + 1, i + 8), ' ')))) AS gram
              FROM base WHERE in_corpus AND len(ta) >= 8),
            heldg AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                range(len(ta) - 7),
                i -> array_to_string(list_slice(ta, i + 1, i + 8), ' ')))) AS gram
              FROM base WHERE NOT in_corpus AND len(ta) >= 8),
            dirty AS (
              SELECT DISTINCT doc_id FROM heldg
              WHERE gram IN (SELECT gram FROM cg8)),
            clean AS (
              SELECT * FROM base WHERE NOT in_corpus
                AND doc_id NOT IN (SELECT doc_id FROM dirty)),
            cleang AS (
              SELECT doc_id, gram FROM heldg
              WHERE doc_id IN (SELECT doc_id FROM clean)),
            shared AS (
              SELECT DISTINCT a.doc_id FROM cleang a JOIN cleang b
              ON a.gram = b.gram AND a.doc_id <> b.doc_id),
            solo AS (
              SELECT * FROM clean
              WHERE doc_id NOT IN (SELECT doc_id FROM shared)),
            pk AS (
              SELECT * FROM solo
              WHERE doc_id % 4 = 0 AND doc_id % 10 <> 0
                AND len(string_split(text, ' ')) >= 42
                AND len(array_to_string(
                  list_slice(string_split(text, ' '), 1, 42), ' ')) >= 200
                AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{')),
            shard0 AS (
              SELECT lang, doc_id + o AS doc_id, text FROM pk, off
              UNION ALL
              SELECT lang, doc_id + 2 * o, text FROM pk, off
              UNION ALL
              SELECT lang, doc_id + 3 * o, text FROM solo, off
              WHERE doc_id % 4 <> 0 OR doc_id % 10 = 0
              UNION ALL
              SELECT lang, doc_id + 4 * o, $stopLinesSql FROM solo, off
              WHERE doc_id % 6 = 5),
            lined AS (
              SELECT lang, doc_id,
                concat(${CleaningQueries.duckLinedSqlShared},
                  $c2ExtraLinesDuck, $c2EmailLineDuck) AS t
              FROM shard0),
            pages AS (
              SELECT lang, doc_id, t,
                list_filter(string_split(t, chr(10)), l ->
                  substring(l, -1, 1) IN ('.', '!', '?', '"')
                  AND len(string_split(l, ' ')) >= 5
                  AND NOT contains(lower(l), 'javascript')) AS kept
              FROM lined),
            cleaned AS (
              SELECT lang, doc_id,
                CASE WHEN NOT contains(lower(t), 'lorem ipsum')
                      AND NOT contains(t, '{') AND len(kept) >= 3
                  THEN regexp_replace(regexp_replace(regexp_replace(
                    array_to_string(kept, chr(10)),
                    '${CleaningQueries.emailReForTest}', '<EMAIL>', 'g'),
                    '${CleaningQueries.phoneReForTest}', '<PHONE>', 'g'),
                    '${CleaningQueries.ipReForTest}', '<IP>', 'g')
                  END AS ctext
              FROM pages),
            chashes AS (
              SELECT sha256(lower(trim(text))) AS h FROM base WHERE in_corpus),
            cg15 AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                range(len(ta) - 14),
                i -> array_to_string(list_slice(ta, i + 1, i + 15), ' ')))) AS gram
              FROM base WHERE in_corpus AND len(ta) >= 15),
            s1t AS (
              SELECT lang, doc_id, ctext AS text,
                string_split_regex(lower(ctext), '\\s+') AS ta,
                CAST(len(ctext) AS BIGINT) AS n_chars,
                sha256(lower(trim(ctext))) AS h
              FROM cleaned WHERE ctext IS NOT NULL),
            s1vr AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(list_distinct(list_transform(
                  range(len(ta) - 14),
                  i -> array_to_string(list_slice(ta, i + 1, i + 15), ' ')))) AS gram
                FROM s1t WHERE len(ta) >= 15)
              WHERE gram IN (SELECT gram FROM cg15)),
            s1lines AS (
              SELECT doc_id,
                (COUNT(*) - COUNT(DISTINCT line)) * 100 > 30 * COUNT(*) AS f_line
              FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                    FROM s1t)
              GROUP BY 1),
            s1grams AS (
              SELECT doc_id, n_chars, 2 AS n, len(ta) - 1 AS n_grams,
                unnest(list_transform(range(len(ta) - 1),
                  i -> array_to_string(list_slice(ta, i + 1, i + 2), ' '))) AS gram
              FROM s1t WHERE len(ta) >= 2
              UNION ALL
              SELECT doc_id, n_chars, 3, len(ta) - 2,
                unnest(list_transform(range(len(ta) - 2),
                  i -> array_to_string(list_slice(ta, i + 1, i + 3), ' ')))
              FROM s1t WHERE len(ta) >= 3
              UNION ALL
              SELECT doc_id, n_chars, 4, len(ta) - 3,
                unnest(list_transform(range(len(ta) - 3),
                  i -> array_to_string(list_slice(ta, i + 1, i + 4), ' ')))
              FROM s1t WHERE len(ta) >= 4),
            s1counts AS (
              SELECT doc_id, n_chars, n, n_grams, gram, COUNT(*) AS c,
                COUNT(*) * len(gram) AS cov
              FROM s1grams GROUP BY 1, 2, 3, 4, 5),
            s1top AS (
              SELECT doc_id, n_chars, n, n_grams,
                arg_max(cov, CAST(c AS HUGEINT) * 18446744073709551616 + cov)
                  AS cov,
                MAX(c) AS c
              FROM s1counts GROUP BY 1, 2, 3, 4),
            s1rep AS (
              SELECT doc_id,
                MAX(CASE WHEN n = 2 THEN
                  CAST(ROUND(c * 10000.0 / n_grams) AS BIGINT) END) AS top2_bp,
                COALESCE(MAX(CASE WHEN n = 2 THEN
                  c >= 2 AND cov * 100 > 20 * n_chars END), false) AS f_2g,
                COALESCE(MAX(CASE WHEN n = 3 THEN
                  c >= 2 AND cov * 100 > 18 * n_chars END), false) AS f_3g,
                COALESCE(MAX(CASE WHEN n = 4 THEN
                  c >= 2 AND cov * 100 > 16 * n_chars END), false) AS f_4g
              FROM s1top GROUP BY 1),
            gate AS (
              SELECT t.lang, t.doc_id, t.text, t.ta, t.h,
                CASE
                  WHEN t.h IN (SELECT h FROM chashes)
                    THEN 'corpus_duplicate'
                  WHEN t.doc_id IN (SELECT doc_id FROM s1vr)
                    THEN 'verbatim_repeat'
                  WHEN NOT (t.n_chars >= 200 AND
                    CAST(ROUND(10000.0 * len(list_filter(t.ta,
                      x -> x IN ('the', 'a', 'value', 'table'))) / len(t.ta))
                      AS BIGINT) < 2500) THEN 'low_quality'
                  WHEN COALESCE(r.top2_bp > 1000, false)
                    OR COALESCE(l.f_line, false)
                    OR COALESCE(r.f_2g, false) OR COALESCE(r.f_3g, false)
                    OR COALESCE(r.f_4g, false) THEN 'repetitive'
                  ELSE 'admit' END AS decision
              FROM s1t t
              LEFT JOIN s1lines l ON t.doc_id = l.doc_id
              LEFT JOIN s1rep r ON t.doc_id = r.doc_id),
            adm AS (SELECT * FROM gate WHERE decision = 'admit'),
            cur AS (
              SELECT a.*,
                EXISTS (SELECT 1 FROM adm b
                  WHERE b.h = a.h AND b.doc_id < a.doc_id) AS dup
              FROM adm a),
            surv AS (
              SELECT lang, doc_id, text, ta,
                substring(md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 4) <
                  CASE lang WHEN 'en' THEN '2000' WHEN 'de' THEN '4000'
                            WHEN 'es' THEN '8000' WHEN 'fr' THEN 'c000'
                            WHEN 'zh' THEN 'zzzz' ELSE '0000' END AS sampled,
                substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 4) AS sh
              FROM cur WHERE NOT dup),
            man AS (
              SELECT lang, doc_id,
                CASE WHEN sh < 'c000' THEN 'train'
                     WHEN sh < 'e000' THEN 'val' ELSE 'test' END AS split,
                CAST(len(regexp_extract_all(lower(text),
                  '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tok,
                CAST(concat('0x', substring(md5(
                  CAST(doc_id AS VARCHAR) || ':epoch0'), 1, 1)) AS BIGINT)
                  AS shard
              FROM surv WHERE sampled)
            SELECT 'cleanse' AS stage, 'cleaned_out' AS outcome, lang,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum,
              CAST(NULL AS BIGINT) AS n_tokens
            FROM cleaned WHERE ctext IS NULL GROUP BY 3
            UNION ALL
            SELECT 'gate', decision, lang,
              CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
              CAST(NULL AS BIGINT)
            FROM gate WHERE decision <> 'admit' GROUP BY 2, 3
            UNION ALL
            SELECT 'curation', 'near_duplicate', lang,
              CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
              CAST(NULL AS BIGINT)
            FROM cur WHERE dup GROUP BY 3
            UNION ALL
            SELECT 'sampling', 'sampled_out', lang,
              CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
              CAST(NULL AS BIGINT)
            FROM surv WHERE NOT sampled GROUP BY 3
            UNION ALL
            SELECT 'manifest', split, lang,
              CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
              CAST(SUM(n_tok) AS BIGINT)
            FROM man GROUP BY 2, 3
            UNION ALL
            SELECT 'shard', CAST(shard AS VARCHAR), lang,
              CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT),
              CAST(SUM(n_tok) AS BIGINT)
            FROM man WHERE split = 'train' GROUP BY 2, 3
            ORDER BY stage, outcome, lang"""))

  val all: Seq[DQ] = Seq(c1, c2)
}
