package graft.operators

import graft.{DQ, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Release-lifecycle gate query — the m1 discipline
  * ([[MartQueries]]) applied to [[ReleaseFlow]]: the one major
  * composition that had no oracle-gated row. r1 routes a PLANTED shard
  * through the FULL release lifecycle — init the three persisted
  * artifacts from a corpus slice, release shard 1, release shard 2
  * against the APPENDED artifacts — and returns the audit matrix
  * ([[ReleaseFlow.audit]] per release). Its DuckDB oracle replays every
  * SQL-expressible decision arm genuinely and pins the one
  * non-portable arm (the MinHash sketch) by construction:
  *
  *  - `corpus_duplicate` — replayed: sha256(lower(trim(text))) against
  *    the landed hash set (corpus for release 1, corpus ∪ release-1
  *    admissions for release 2 — so the oracle also checks the APPEND
  *    worked);
  *  - `verbatim_repeat` — replayed: shared 15-gram
  *    ([[SamplingQueries.SpanK]]) against the corpus gram set, l47's
  *    machinery;
  *  - `low_quality` / `repetitive` / `admit` — replayed:
  *    [[LlmQueries.qualityKeep]] (l6's SQL), top-2-gram share (l27's
  *    SQL) and the Gopher ladder (l27b's SQL) in the decision chain's
  *    exact precedence;
  *  - `near_duplicate` — construction-pinned, l9's discipline: the
  *    planted near-copies are WHITESPACE variants (one internal space
  *    doubled), so the token array — hence the shingle set, the
  *    MinHash signature, and all 16 band keys — is IDENTICAL to the
  *    indexed source and the exact-Jaccard verify reads 10000: a
  *    guaranteed flag, not a probabilistic one. (If the doubled space
  *    ever falls in an edge-whitespace run the variant hash-collides
  *    with its source instead — and the genuinely-replayed hash arm
  *    labels it `corpus_duplicate` on BOTH sides, so the pin cannot
  *    drift even then.)
  *
  * What keeps the construction deterministic where the sketch is not
  * SQL-portable: shard classes 3–5 draw only from held-out docs that
  * share NO 8-token gram with the corpus (an equi-join filter, replayed
  * verbatim in the oracle). Sharing no 8-gram rules out the verbatim
  * arm (a 15-gram hit contains 8-gram hits) and — measured on this
  * corpus, where every cross-doc pair above Jaccard 0.4 is a planted
  * near-dup pair sharing 8-grams — rules out any corpus neighbor near
  * the 0.6 verify bar (constructed shard rows measure ≤ 0.15). The
  * verbatim class then re-ADDS a quote: 16 consecutive tokens of one
  * corpus doc, ≥ 15 = SpanK so the span probe must hit.
  *
  * Shard classes (`o` = max(doc_id)+1; class k's ids = source + k·o,
  * all ranges disjoint from each other and from every indexed id):
  * release 1 — (1) exact copies of corpus docs → corpus_duplicate,
  * (2) whitespace near-copies of corpus docs → near_duplicate,
  * (3) clean held-out ≥ 20 tokens + corpus quote → verbatim_repeat,
  * (4) 100-char prefixes of clean held-out docs → low_quality
  * (< [[LlmQueries.qualityKeep]]'s 200-char floor),
  * (5) clean held-out docs verbatim → the replayed quality chain
  * (admit / low_quality / repetitive). Release 2 — (6) exact copies
  * and (7) whitespace near-copies OF RELEASE-1 ADMISSIONS, which land
  * `corpus_duplicate` / `near_duplicate` only if release 1's appends
  * actually reached the hash and band artifacts.
  *
  * Scale note: the 8-gram construction filter is fixture machinery
  * (one bounded equi-join at gate scale); the lifecycle under test —
  * [[ReleaseFlow.init]]/[[ReleaseFlow.release]] — is the 100 TB
  * composition itself (hash semi-joins, band equi-joins, tiered span
  * probe, artifact appends), audited in ReleaseFlowSpec and the plan
  * specs. Reference analogue: the admission/quarantine split of the
  * ingest consumer (reference consumer is a 0-byte stub; this engine's
  * realized surface), audited end-to-end like its dbt-skeleton
  * counterpart m1.
  */
object ReleaseQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Per-JVM nonce in every scratch path: two concurrent driver
    * invocations (bench and verify overlapping on one box) each get
    * their own artifact dirs instead of cross-wiping; within one JVM
    * the path is stable, so a re-run stays idempotent (wipe + rebuild)
    * and the [[InitMemo]] clone source stays valid. */
  private[operators] val nonce: String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Scratch artifact base for the gate run, unique per (JVM, source
    * dir); wiped at the start of every invocation so the query is
    * idempotent (m1's idiom). */
  private def gateBase(d: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_release_gate_${nonce}_${d.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** One PRISTINE three-index init per (JVM, source dir), shared by
    * the r1/r2 gates: both init IDENTICAL artifact sets from the same
    * 75% corpus slice (same [[inCorpus]] rule, same projection), so
    * re-running [[ReleaseFlow.init]]'s three index builds per gate was
    * pure duplicated setup — ~24% of every official bench (VERDICT
    * r14 #1). The first gate to run builds the master once; every
    * caller then gets a parquet FILE COPY of it to mutate (releases
    * append to their own clone, never the master) — the
    * content-addressed-memo discipline the ANN family's centroid memo
    * established. The memo key carries the corpus-rule version; bump
    * `ruleV` whenever [[inCorpus]] or the init projection changes. */
  private[operators] object InitMemo {
    private val ruleV = "v1"
    private val built =
      new java.util.concurrent.ConcurrentHashMap[String, String]()

    /** Wipe `dest`, then populate it with a clone of the memoized
      * pristine init for source dir `d` (building the master via
      * `build` on first use). */
    def cloneInto(s: SparkSession, d: String, dest: String)(
        build: String => Unit): Unit = {
      val conf = s.sparkContext.hadoopConfiguration
      val master = built.computeIfAbsent(s"$d|$ruleV", _ => {
        val m = s"${sys.props("java.io.tmpdir")}/graft_release_init_" +
          s"${nonce}_${d.replaceAll("[^A-Za-z0-9.]", "_")}"
        val mp = new org.apache.hadoop.fs.Path(m)
        val mfs = mp.getFileSystem(conf)
        if (mfs.exists(mp)) mfs.delete(mp, true)
        build(m)
        m
      })
      val src = new org.apache.hadoop.fs.Path(master)
      val dst = new org.apache.hadoop.fs.Path(dest)
      val fs = dst.getFileSystem(conf)
      if (fs.exists(dst)) fs.delete(dst, true)
      // per-artifact concurrent copy ([[Par]]'s overlap discipline):
      // the master holds three independent index trees, and a serial
      // FileUtil.copy walks them file-by-file — driver-side I/O every
      // gate invocation pays, one copy per tree in parallel
      val srcFs = src.getFileSystem(conf)
      fs.mkdirs(dst)
      Par.run(srcFs.listStatus(src).toSeq.map(s => () => {
        org.apache.hadoop.fs.FileUtil.copy(
          srcFs, s.getPath, fs, new org.apache.hadoop.fs.Path(dst,
            s.getPath.getName), false, conf)
        ()
      }))
    }
  }

  /** The corpus/held-out split: ~75% of docs by the md5 trick (l47's
    * idiom) form the landed corpus, the rest are shard material. */
  private[operators] def inCorpus =
    substring(md5(concat(col("doc_id").cast("string"), lit(":r1"))), 1, 4) < "c000"

  /** ONE checkpointed CLEAN held-out frame per snapshot
    * ([[graft.Tables.shared]]) — r1, r2 and c1 all derive the identical
    * set (held-out docs sharing no 8-token gram with the corpus, the
    * oracle-replayed determinism filter), so the corpus-gram explode +
    * anti-join chain prices once per JVM instead of once per gate.
    * Columns: (lang, doc_id, text, ta). */
  private[operators] def cleanHeld(s: SparkSession, d: String): DataFrame =
    Tables.shared(s, d, "cleanHeld") {
      val all = docs(s, d).filter(col("text").isNotNull)
        .select(col("lang"), col("doc_id"), col("text"))
        .withColumn("ta", split(lower(col("text")), "\\s+"))
      val corpus = all.filter(inCorpus)
      val held = all.filter(!inCorpus)
      val corpusG8 = SamplingQueries.docGramsK(corpus, Seq.empty, 8,
        hashed = false).select("gram").distinct()
      val dirty = SamplingQueries.docGramsK(held, Seq("doc_id"), 8,
          hashed = false)
        .join(corpusG8, Seq("gram"), "left_semi")
        .select("doc_id").distinct()
      held.join(dirty, Seq("doc_id"), "left_anti")
    }

  /** One internal space doubled after the first space — the token
    * array (split on \s+) is unchanged, so the MinHash sketch is
    * IDENTICAL to the source doc's, while the content hash differs
    * whenever the first space is internal (see the object scaladoc for
    * the edge-run case). */
  private[operators] val wsVariant = expr(
    "concat(substring(text, 1, instr(text, ' ')), ' ', " +
      "substring(text, instr(text, ' ') + 1))")

  val r1 = DQ(
    "r1_release_roundtrip",
    (s, d) => {
      val base = gateBase(d)
      val all = docs(s, d).filter(col("text").isNotNull)
        .select(col("lang"), col("doc_id"), col("text"))
        .withColumn("ta", split(lower(col("text")), "\\s+"))
      val corpus = all.filter(inCorpus)
      // "clean" held-out docs: share no 8-token gram with the corpus —
      // the determinism filter (see the object scaladoc). String grams
      // (hashed = false) so the oracle replays the filter byte-for-byte;
      // memoized + checkpointed per JVM ([[cleanHeld]] — r2/c1 share it)
      val clean = cleanHeld(s, d)
      val off = LlmQueries.plantedOffset(all, "doc_id")
      // the quote source: the lowest-id corpus doc with >= 16 tokens;
      // its first 16 lowercase tokens are the planted verbatim lift
      // (16 >= SpanK = 15)
      val quote = corpus.filter(size(col("ta")) >= 16)
        .orderBy("doc_id").limit(1)
        .select(concat_ws(" ", slice(col("ta"), 1, 16)).as("_q"))
      def cls(src: DataFrame, k: Int, text: org.apache.spark.sql.Column) =
        src.crossJoin(broadcast(off))
          .select(col("lang"),
            (col("doc_id") + col("_off") * k).as("doc_id"), text.as("text"))
      val c1 = cls(corpus.filter(col("doc_id") % 7 === 0), 1, col("text"))
      val c2 = cls(corpus.filter(col("doc_id") % 7 === 1 &&
        size(col("ta")) >= 3 && instr(col("text"), " ") > 0), 2, wsVariant)
      val c3 = cls(clean.filter(col("doc_id") % 3 === 1 &&
          size(col("ta")) >= 20).crossJoin(broadcast(quote)), 3,
        concat(trim(col("text")), lit(" "), col("_q")))
      val c4 = cls(clean.filter(col("doc_id") % 3 === 0), 4,
        substring(col("text"), 1, 100))
      val c5 = cls(clean.filter(col("doc_id") % 3 === 2), 5, col("text"))
      val shard1 = c1.unionByName(c2).unionByName(c3)
        .unionByName(c4).unionByName(c5)
      // wipe + populate from the shared pristine init (see [[InitMemo]])
      InitMemo.cloneInto(s, d, base)(m =>
        ReleaseFlow.init(corpus.select("lang", "doc_id", "text"), m))
      val d1 = ReleaseFlow.release(s, shard1, base)
      // release 2 probes the APPENDED artifacts: copies of release-1
      // admissions must now read as landed corpus
      val admitted = d1.filter(col("decision") === "admit")
        .select("lang", "doc_id", "text")
      val c6 = cls(admitted, 1, col("text"))
      val c7 = cls(admitted
        .withColumn("ta", split(lower(col("text")), "\\s+"))
        .filter(size(col("ta")) >= 3 && instr(col("text"), " ") > 0),
        2, wsVariant)
      val d2 = ReleaseFlow.release(s, c6.unionByName(c7), base)
      ReleaseFlow.audit(d1).withColumn("release", lit(1L))
        .unionByName(ReleaseFlow.audit(d2).withColumn("release", lit(2L)))
        .select("release", "lang", "decision", "n_docs", "doc_id_sum")
        .orderBy("release", "lang", "decision")
    },
    Some("""WITH base AS (
              SELECT lang, doc_id, text,
                string_split_regex(lower(text), '\s+') AS ta,
                substring(md5(CAST(doc_id AS VARCHAR) || ':r1'), 1, 4)
                  < 'c000' AS in_corpus
              FROM documents WHERE text IS NOT NULL),
            off AS (SELECT COALESCE(MAX(doc_id), -1) + 1 AS o FROM base),
            cg8 AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                range(len(ta) - 7),
                i -> array_to_string(list_slice(ta, i + 1, i + 8), ' ')))) AS gram
              FROM base WHERE in_corpus AND len(ta) >= 8),
            dirty AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(list_distinct(list_transform(
                  range(len(ta) - 7),
                  i -> array_to_string(list_slice(ta, i + 1, i + 8), ' ')))) AS gram
                FROM base WHERE NOT in_corpus AND len(ta) >= 8)
              WHERE gram IN (SELECT gram FROM cg8)),
            clean AS (
              SELECT * FROM base WHERE NOT in_corpus
                AND doc_id NOT IN (SELECT doc_id FROM dirty)),
            quote AS (
              SELECT array_to_string(list_slice(ta, 1, 16), ' ') AS q
              FROM base WHERE in_corpus AND len(ta) >= 16
              ORDER BY doc_id LIMIT 1),
            s1 AS (
              SELECT lang, doc_id + o AS doc_id, text, 1 AS cls
              FROM base, off WHERE in_corpus AND doc_id % 7 = 0
              UNION ALL
              SELECT lang, doc_id + 2 * o,
                concat(substring(text, 1, instr(text, ' ')), ' ',
                  substring(text, instr(text, ' ') + 1)), 2
              FROM base, off WHERE in_corpus AND doc_id % 7 = 1
                AND len(ta) >= 3 AND instr(text, ' ') > 0
              UNION ALL
              SELECT lang, doc_id + 3 * o,
                trim(text) || ' ' || (SELECT q FROM quote), 3
              FROM clean, off WHERE doc_id % 3 = 1 AND len(ta) >= 20
                AND EXISTS (SELECT 1 FROM quote)
              UNION ALL
              SELECT lang, doc_id + 4 * o, substring(text, 1, 100), 4
              FROM clean, off WHERE doc_id % 3 = 0
              UNION ALL
              SELECT lang, doc_id + 5 * o, text, 5
              FROM clean, off WHERE doc_id % 3 = 2),
            chashes AS (
              SELECT sha256(lower(trim(text))) AS h FROM base WHERE in_corpus),
            cg15 AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                range(len(ta) - 14),
                i -> array_to_string(list_slice(ta, i + 1, i + 15), ' ')))) AS gram
              FROM base WHERE in_corpus AND len(ta) >= 15),
            s1t AS (
              SELECT lang, doc_id, text, cls,
                string_split_regex(lower(text), '\s+') AS ta,
                CAST(len(text) AS BIGINT) AS n_chars
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
            s1dec AS (
              SELECT t.lang, t.doc_id,
                CASE
                  WHEN sha256(lower(trim(t.text))) IN (SELECT h FROM chashes)
                    THEN 'corpus_duplicate'
                  WHEN t.cls = 2 THEN 'near_duplicate'
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
                  ELSE 'admit' END AS decision,
                t.text
              FROM s1t t
              LEFT JOIN s1lines l ON t.doc_id = l.doc_id
              LEFT JOIN s1rep r ON t.doc_id = r.doc_id),
            adm AS (
              SELECT lang, doc_id, text FROM s1dec WHERE decision = 'admit'),
            s2 AS (
              SELECT lang, doc_id + o AS doc_id, text FROM adm, off
              UNION ALL
              SELECT lang, doc_id + 2 * o,
                concat(substring(text, 1, instr(text, ' ')), ' ',
                  substring(text, instr(text, ' ') + 1))
              FROM adm, off
              WHERE len(string_split_regex(lower(text), '\s+')) >= 3
                AND instr(text, ' ') > 0),
            h2 AS (
              SELECT h FROM chashes
              UNION ALL
              SELECT sha256(lower(trim(text))) FROM adm),
            s2dec AS (
              SELECT lang, doc_id,
                CASE WHEN sha256(lower(trim(text))) IN (SELECT h FROM h2)
                  THEN 'corpus_duplicate' ELSE 'near_duplicate' END AS decision
              FROM s2)
            SELECT CAST(1 AS BIGINT) AS release, lang, decision,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
            FROM s1dec GROUP BY 2, 3
            UNION ALL
            SELECT CAST(2 AS BIGINT), lang, decision,
              CAST(COUNT(*) AS BIGINT), CAST(SUM(doc_id) AS BIGINT)
            FROM s2dec GROUP BY 2, 3
            ORDER BY release, lang, decision"""))

  /** r2 — the CURATIVE release ([[ReleaseFlow.releaseCut]]) under the
    * oracle: same artifact init and held-out discipline as [[r1]], but
    * the shard exercises the cut-then-decide path — Lee et al. 2022's
    * actual remedy — and the oracle REPLAYS THE CUT genuinely (the
    * l64 span machinery against the corpus gram set: hits → merged
    * maximal spans → gap-slice kept stream), then the decision chain
    * over the CURED text. Four classes:
    *
    *  - quote carriers (clean held-out ≥ 20 tokens + the 16-token
    *    corpus quote): the quote cuts — exactly 16 tokens — and the
    *    remainder admits (or fails quality) on its own merits;
    *  - all-indexed docs (the first 20 tokens of a ≥ 25-token corpus
    *    doc): every gram is indexed, the doc cuts to EMPTY and lands
    *    low_quality — "nothing left worth admitting";
    *  - byte copies of corpus docs: hash-EXEMPT from the cure (the
    *    duplicate claim precedes the cut), flow UNCUT and label
    *    corpus_duplicate — n_cut_tokens 0 pins the exemption;
    *  - clean held-out naturals: no indexed span, byte-identical
    *    flow, the replayed quality chain decides.
    *
    * Because the cut criterion (shard gram ∈ index) is replayed
    * rather than construction-pinned, even the pathological mixed
    * boundary gram (≤ 7 base tokens + a quote prefix that happens to
    * appear verbatim in the corpus) cannot desynchronize the gate —
    * both engines would cut it. The output adds
    * the cure's accounting columns to the audit matrix: docs cut and
    * tokens cut per (lang, decision). */
  val r2 = DQ(
    "r2_releasecut_roundtrip",
    (s, d) => {
      val base = gateBase(d) + "_cut"
      val all = docs(s, d).filter(col("text").isNotNull)
        .select(col("lang"), col("doc_id"), col("text"))
        .withColumn("ta", split(lower(col("text")), "\\s+"))
      val corpus = all.filter(inCorpus)
      val clean = cleanHeld(s, d)
      val off = LlmQueries.plantedOffset(all, "doc_id")
      val quote = corpus.filter(size(col("ta")) >= 16)
        .orderBy("doc_id").limit(1)
        .select(concat_ws(" ", slice(col("ta"), 1, 16)).as("_q"))
      def cls(src: DataFrame, k: Int, text: org.apache.spark.sql.Column) =
        src.crossJoin(broadcast(off))
          .select(col("lang"),
            (col("doc_id") + col("_off") * k).as("doc_id"), text.as("text"))
      val ca = cls(clean.filter(col("doc_id") % 3 === 1 &&
          size(col("ta")) >= 20).crossJoin(broadcast(quote)), 1,
        concat(trim(col("text")), lit(" "), col("_q")))
      val cb = cls(corpus.filter(col("doc_id") % 7 === 2 &&
          size(col("ta")) >= 25), 2,
        concat_ws(" ", slice(col("ta"), 1, 20)))
      val cc = cls(corpus.filter(col("doc_id") % 7 === 0), 3, col("text"))
      val cd = cls(clean.filter(col("doc_id") % 3 === 2), 4, col("text"))
      val shard = ca.unionByName(cb).unionByName(cc).unionByName(cd)
      // same corpus slice as r1 → the same pristine init, cloned (the
      // r14 verdict's duplicated-setup finding)
      InitMemo.cloneInto(s, d, base)(m =>
        ReleaseFlow.init(corpus.select("lang", "doc_id", "text"), m))
      ReleaseFlow.releaseCut(s, shard, base)
        .groupBy("lang", "decision")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("doc_id_sum"),
          sum(when(col("n_cut_tokens") > 0L, 1L).otherwise(0L))
            .as("n_docs_cut"),
          sum("n_cut_tokens").as("tokens_cut"))
        .orderBy("lang", "decision")
    },
    Some("""WITH base AS (
              SELECT lang, doc_id, text,
                string_split_regex(lower(text), '\s+') AS ta,
                substring(md5(CAST(doc_id AS VARCHAR) || ':r1'), 1, 4)
                  < 'c000' AS in_corpus
              FROM documents WHERE text IS NOT NULL),
            off AS (SELECT COALESCE(MAX(doc_id), -1) + 1 AS o FROM base),
            cg8 AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                range(len(ta) - 7),
                i -> array_to_string(list_slice(ta, i + 1, i + 8), ' ')))) AS gram
              FROM base WHERE in_corpus AND len(ta) >= 8),
            dirty AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(list_distinct(list_transform(
                  range(len(ta) - 7),
                  i -> array_to_string(list_slice(ta, i + 1, i + 8), ' ')))) AS gram
                FROM base WHERE NOT in_corpus AND len(ta) >= 8)
              WHERE gram IN (SELECT gram FROM cg8)),
            clean AS (
              SELECT * FROM base WHERE NOT in_corpus
                AND doc_id NOT IN (SELECT doc_id FROM dirty)),
            quote AS (
              SELECT array_to_string(list_slice(ta, 1, 16), ' ') AS q
              FROM base WHERE in_corpus AND len(ta) >= 16
              ORDER BY doc_id LIMIT 1),
            s0 AS (
              SELECT lang, doc_id + o AS doc_id,
                trim(text) || ' ' || (SELECT q FROM quote) AS text
              FROM clean, off WHERE doc_id % 3 = 1 AND len(ta) >= 20
                AND EXISTS (SELECT 1 FROM quote)
              UNION ALL
              SELECT lang, doc_id + 2 * o,
                array_to_string(list_slice(ta, 1, 20), ' ')
              FROM base, off WHERE in_corpus AND doc_id % 7 = 2
                AND len(ta) >= 25
              UNION ALL
              SELECT lang, doc_id + 3 * o, text
              FROM base, off WHERE in_corpus AND doc_id % 7 = 0
              UNION ALL
              SELECT lang, doc_id + 4 * o, text
              FROM clean, off WHERE doc_id % 3 = 2),
            chashes AS (
              SELECT sha256(lower(trim(text))) AS h FROM base WHERE in_corpus),
            cg15 AS (
              SELECT DISTINCT unnest(list_distinct(list_transform(
                range(len(ta) - 14),
                i -> array_to_string(list_slice(ta, i + 1, i + 15), ' ')))) AS gram
              FROM base WHERE in_corpus AND len(ta) >= 15),
            st AS (
              SELECT lang, doc_id, text,
                string_split_regex(lower(text), '\s+') AS ta,
                sha256(lower(trim(text))) AS h
              FROM s0),
            fresh AS (
              SELECT * FROM st WHERE h NOT IN (SELECT h FROM chashes)),
            hits AS (
              SELECT doc_id, pos FROM (
                SELECT doc_id, pos,
                  array_to_string(list_slice(ta, pos + 1, pos + 15), ' ') AS gram
                FROM (SELECT doc_id, ta, unnest(range(len(ta) - 14)) AS pos
                      FROM fresh WHERE len(ta) >= 15))
              WHERE gram IN (SELECT gram FROM cg15)),
            marked AS (
              SELECT doc_id, pos,
                CASE WHEN pos > COALESCE(MAX(pos + 15) OVER
                    (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS new_span
              FROM hits),
            spans AS (
              SELECT doc_id, MIN(pos) AS s, MAX(pos) + 15 AS e
              FROM (SELECT doc_id, pos,
                      SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS span_id
                    FROM marked)
              GROUP BY doc_id, span_id),
            kept AS (
              SELECT p.doc_id, p.i, p.ta[p.i + 1] AS tok
              FROM (SELECT doc_id, ta, unnest(range(len(ta))) AS i
                    FROM fresh) p
              WHERE NOT EXISTS (SELECT 1 FROM spans s
                WHERE s.doc_id = p.doc_id AND p.i >= s.s AND p.i < s.e)),
            cured AS (
              SELECT f.doc_id,
                COALESCE(k.ctext, '') AS text_clean,
                len(f.ta) - COALESCE(k.n_kept, 0) AS n_cut
              FROM fresh f LEFT JOIN (
                SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS ctext,
                  COUNT(*) AS n_kept
                FROM kept GROUP BY 1) k ON f.doc_id = k.doc_id
              WHERE len(f.ta) - COALESCE(k.n_kept, 0) > 0),
            s2 AS (
              SELECT s.lang, s.doc_id,
                COALESCE(c.text_clean, s.text) AS text,
                COALESCE(c.n_cut, 0) AS n_cut
              FROM s0 s LEFT JOIN cured c ON s.doc_id = c.doc_id),
            s2t AS (
              SELECT lang, doc_id, text, n_cut,
                string_split_regex(lower(text), '\s+') AS ta,
                CAST(len(text) AS BIGINT) AS n_chars
              FROM s2),
            s2vr AS (
              SELECT DISTINCT doc_id FROM (
                SELECT doc_id, unnest(list_distinct(list_transform(
                  range(len(ta) - 14),
                  i -> array_to_string(list_slice(ta, i + 1, i + 15), ' ')))) AS gram
                FROM s2t WHERE len(ta) >= 15)
              WHERE gram IN (SELECT gram FROM cg15)),
            s2lines AS (
              SELECT doc_id,
                (COUNT(*) - COUNT(DISTINCT line)) * 100 > 30 * COUNT(*) AS f_line
              FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                    FROM s2t)
              GROUP BY 1),
            s2grams AS (
              SELECT doc_id, n_chars, 2 AS n, len(ta) - 1 AS n_grams,
                unnest(list_transform(range(len(ta) - 1),
                  i -> array_to_string(list_slice(ta, i + 1, i + 2), ' '))) AS gram
              FROM s2t WHERE len(ta) >= 2
              UNION ALL
              SELECT doc_id, n_chars, 3, len(ta) - 2,
                unnest(list_transform(range(len(ta) - 2),
                  i -> array_to_string(list_slice(ta, i + 1, i + 3), ' ')))
              FROM s2t WHERE len(ta) >= 3
              UNION ALL
              SELECT doc_id, n_chars, 4, len(ta) - 3,
                unnest(list_transform(range(len(ta) - 3),
                  i -> array_to_string(list_slice(ta, i + 1, i + 4), ' ')))
              FROM s2t WHERE len(ta) >= 4),
            s2counts AS (
              SELECT doc_id, n_chars, n, n_grams, gram, COUNT(*) AS c,
                COUNT(*) * len(gram) AS cov
              FROM s2grams GROUP BY 1, 2, 3, 4, 5),
            s2top AS (
              SELECT doc_id, n_chars, n, n_grams,
                arg_max(cov, CAST(c AS HUGEINT) * 18446744073709551616 + cov)
                  AS cov,
                MAX(c) AS c
              FROM s2counts GROUP BY 1, 2, 3, 4),
            s2rep AS (
              SELECT doc_id,
                MAX(CASE WHEN n = 2 THEN
                  CAST(ROUND(c * 10000.0 / n_grams) AS BIGINT) END) AS top2_bp,
                COALESCE(MAX(CASE WHEN n = 2 THEN
                  c >= 2 AND cov * 100 > 20 * n_chars END), false) AS f_2g,
                COALESCE(MAX(CASE WHEN n = 3 THEN
                  c >= 2 AND cov * 100 > 18 * n_chars END), false) AS f_3g,
                COALESCE(MAX(CASE WHEN n = 4 THEN
                  c >= 2 AND cov * 100 > 16 * n_chars END), false) AS f_4g
              FROM s2top GROUP BY 1),
            s2dec AS (
              SELECT t.lang, t.doc_id, t.n_cut,
                CASE
                  WHEN sha256(lower(trim(t.text))) IN (SELECT h FROM chashes)
                    THEN 'corpus_duplicate'
                  WHEN t.doc_id IN (SELECT doc_id FROM s2vr)
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
              FROM s2t t
              LEFT JOIN s2lines l ON t.doc_id = l.doc_id
              LEFT JOIN s2rep r ON t.doc_id = r.doc_id)
            SELECT lang, decision,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum,
              CAST(SUM(CASE WHEN n_cut > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_docs_cut,
              CAST(SUM(n_cut) AS BIGINT) AS tokens_cut
            FROM s2dec GROUP BY 1, 2 ORDER BY lang, decision"""))

  /** R4 — the RETRACTION roundtrip, [[ReleaseFlow.retract]] under the
    * oracle: init the three indexes from the corpus slice (the shared
    * [[InitMemo]] clone — same pristine master as r1/r2/c1), release a
    * shard of held-out docs (mixed decisions, admissions guaranteed by
    * a require) plus corpus copies (rejected — never indexed), then
    * retract every admitted id and return per-artifact row counts and
    * doc_id sums READ FROM THE RETRACTED ARTIFACTS. The DuckDB oracle
    * replays what those counts must be for a PRISTINE build straight
    * from `documents` — each artifact's row cardinality is a pure
    * per-doc function the oracle computes independently (dedup: one
    * row per non-null-text corpus doc; sketch: one per ≥ 3-token doc;
    * bands: 16 per sketched doc; substring: len(ta) − k + 1 positional
    * grams per ≥ k-token doc, k = [[SamplingQueries.SpanK]]) — so any
    * retraction residue or over-removal desynchronizes count or id-sum
    * and fails the hash compare. RetractSpec pins the byte-for-byte
    * restore, the complement-rebuild equality and re-release decision
    * identity this count-level gate cannot see. */
  val r4 = DQ(
    "r4_retract_roundtrip",
    (s, d) => {
      val base = gateBase(d) + "_retract"
      val all = docs(s, d).filter(col("text").isNotNull)
        .select(col("lang"), col("doc_id"), col("text"))
      val corpus = all.filter(inCorpus)
      val off = LlmQueries.plantedOffset(all, "doc_id")
      def cls(src: DataFrame, k: Int) =
        src.crossJoin(broadcast(off))
          .select(col("lang"), (col("doc_id") + col("_off") * k).as("doc_id"),
            col("text"))
      // held-out docs (mixed decisions, incl. admits) + corpus copies
      // (corpus_duplicate — proving rejected rows need no retraction);
      // quarter/fifth slices: the gate's cost should be the retraction
      // rewrites under test, not shard volume
      val shard = cls(all.filter(!inCorpus && col("doc_id") % 4 === 1), 1)
        .unionByName(cls(corpus.filter(col("doc_id") % 5 === 0), 2))
      InitMemo.cloneInto(s, d, base)(m =>
        ReleaseFlow.init(corpus.select("lang", "doc_id", "text"), m))
      val d1 = ReleaseFlow.release(s, shard, base)
      val admitted = d1.filter(col("decision") === "admit").select("doc_id")
      require(!admitted.isEmpty,
        "r4 fixture must admit at least one shard doc")
      ReleaseFlow.retract(s, admitted, base)
      def stat(name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_rows"), sum("doc_id").as("id_sum"))
          .select(lit(name).as("artifact"), col("n_rows"), col("id_sum"))
      stat("bands", graft.streaming.StreamingNearDup
          .readIndex(s, ReleaseFlow.neardupDir(base)).bands)
        .unionByName(stat("dedup",
          DedupIndex.read(s, ReleaseFlow.dedupDir(base))))
        .unionByName(stat("sketch", graft.streaming.StreamingNearDup
          .readIndex(s, ReleaseFlow.neardupDir(base)).sketch))
        .unionByName(stat("substr",
          SubstringIndex.read(s, ReleaseFlow.substrDir(base))))
        .orderBy("artifact")
    },
    Some("""WITH base AS (
              SELECT doc_id, string_split_regex(lower(text), '\s+') AS ta
              FROM documents
              WHERE text IS NOT NULL
                AND substring(md5(CAST(doc_id AS VARCHAR) || ':r1'), 1, 4)
                  < 'c000')
            SELECT 'bands' AS artifact,
              CAST(16 * COUNT(*) AS BIGINT) AS n_rows,
              CAST(16 * SUM(doc_id) AS BIGINT) AS id_sum
            FROM base WHERE len(ta) >= 3
            UNION ALL
            SELECT 'dedup', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(doc_id) AS BIGINT)
            FROM base
            UNION ALL
            SELECT 'sketch', CAST(COUNT(*) AS BIGINT),
              CAST(SUM(doc_id) AS BIGINT)
            FROM base WHERE len(ta) >= 3
            UNION ALL
            SELECT 'substr', CAST(SUM(len(ta) - 14) AS BIGINT),
              CAST(SUM(doc_id * (len(ta) - 14)) AS BIGINT)
            FROM base WHERE len(ta) >= 15
            ORDER BY artifact"""))

  val all: Seq[DQ] = Seq(r1, r2, r4)
}
