package graft.operators

import graft.{DQ, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-audit operators — the REPORTS a large-scale training-data
  * curation run reads before acting (no reference analog; north-star
  * extension like the rest of the L-series):
  *
  *  - [[l66]] gram-duplication profile: the memorization-risk histogram
  *    of Carlini et al. 2022 / Kandpal et al. 2022 — how much of the
  *    corpus sits at which duplication count.
  *  - [[l67]] per-source report card: the Dolma-style per-source audit
  *    table (Soldaini et al. 2024) — size, dup involvement, quality,
  *    repetition, one row per provenance.
  *  - [[l68]] per-suite contamination report: the per-benchmark
  *    contamination appendix of published model reports (PaLM §8,
  *    Llama 2 A.6, GPT-4 TR) — which eval suite leaked, how much.
  *  - [[l69]] Gopher document-quality ladder: the NON-repetition half
  *    of Rae et al. 2021 Table A1 (word count, mean word length,
  *    symbol ratio, bullet/ellipsis lines, alpha-word share,
  *    stopwords); [[LlmQueries.ladderFlags]]/l27b is the repetition
  *    half.
  *
  * Scale design (100 TB): every operator here is one partial-aggregable
  * hash-agg family over row-local columns. l66 shares l33's gram
  * shuffle (`hashed = true` is the production key form); l67 is one
  * corpus scan plus the l1 hash agg joined back on its own key; l68 is
  * the l25/l47 gram-screen family — the eval side is a bounded
  * benchmark suite, so its distinct-gram set broadcasts and the train
  * corpus never reshuffles beyond the gram agg; l69 is entirely
  * row-local until the L-row language rollup.
  */
object AuditQueries {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  // ------------------------------------------- l66 duplication profile

  /** The duplication-count histogram over a corpus' k-gram population:
    * per (lang, bucket of occurrence-count c ∈ {1, 2, 3–10, 11+}) the
    * number of distinct grams, total occurrence sites, the maximum
    * count, and a content checksum over the grams themselves (8 md5
    * hex digits each, summed — pins WHICH grams sit in each bucket).
    * Published grounding: memorization grows log-linearly with
    * duplication count (Carlini et al. 2022 arXiv:2202.07646) and
    * regurgitation is superlinear in it (Kandpal et al. 2022
    * arXiv:2202.06539) — this histogram is the risk axis of both,
    * and the before/after evidence for a dedup pass (Lee et al. 2022).
    *
    * Scale shape: [[SamplingQueries.spanGrams]]' one shuffle (string
    * grams here for oracle parity; 8-byte `hashed = true` keys are the
    * 100 TB form), a per-(lang, gram) count, then a bucket rollup on
    * the tiny (lang × 4) frame. Fully partial-aggregable. */
  private[graft] def dupProfile(corpus: DataFrame, k: Int): DataFrame =
    dupProfileFrom(SamplingQueries.spanGrams(corpus, k, hashed = false))

  /** [[dupProfile]] with a caller-supplied gram frame — the DQ passes
    * [[SamplingQueries.sharedPlantedGrams]] so the l33/l64/l65/l66
    * family tokenizes the planted corpus once per snapshot. */
  private[graft] def dupProfileFrom(grams: DataFrame): DataFrame =
    grams
      .groupBy("lang", "gram").agg(count(lit(1)).as("c"))
      .withColumn("dup_bucket",
        when(col("c") === 1, "1")
          .when(col("c") === 2, "2")
          .when(col("c") <= 10, "3-10")
          .otherwise("11+"))
      .groupBy("lang", "dup_bucket")
      .agg(
        count(lit(1)).as("n_grams"),
        sum("c").as("n_sites"),
        max("c").as("max_count"),
        sum(conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long"))
          .as("gram_checksum"))
      .orderBy("lang", "dup_bucket")

  /** L66 — the DQ: duplication profile of the planted corpus at
    * k = [[SamplingQueries.SpanK]] (the stock corpus shares no 15-gram
    * across documents; the planted near-dup copies populate the ≥2
    * buckets verifiably, exactly as in the l33/l64 family). */
  val l66 = DQ(
    "l66_dup_profile",
    (s, d) => dupProfileFrom(SamplingQueries.sharedPlantedGrams(s, d)),
    Some(s"""WITH corpus AS (
              SELECT lang, doc_id, text FROM documents
              UNION ALL
              SELECT d.lang,
                d.doc_id + (SELECT COALESCE(MAX(doc_id), -1) + 1 FROM documents),
                substring(d.text, instr(d.text, ' ') + 1)
              FROM documents d WHERE d.doc_id % 10 = 0),
            toks AS (
              SELECT lang, string_split_regex(lower(text), '\\s+') AS ta
              FROM corpus WHERE text IS NOT NULL),
            posn AS (
              SELECT lang, ta,
                unnest(range(len(ta) - ${SamplingQueries.SpanK - 1})) AS pos
              FROM toks WHERE len(ta) >= ${SamplingQueries.SpanK}),
            grams AS (
              SELECT lang, array_to_string(
                list_slice(ta, pos + 1, pos + ${SamplingQueries.SpanK}), ' ') AS gram
              FROM posn),
            counts AS (
              SELECT lang, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
            b AS (
              SELECT lang, gram, c,
                CASE WHEN c = 1 THEN '1' WHEN c = 2 THEN '2'
                     WHEN c <= 10 THEN '3-10' ELSE '11+' END AS dup_bucket
              FROM counts)
            SELECT lang, dup_bucket,
              CAST(COUNT(*) AS BIGINT) AS n_grams,
              CAST(SUM(c) AS BIGINT) AS n_sites,
              CAST(MAX(c) AS BIGINT) AS max_count,
              CAST(SUM(CAST(('0x' || substring(md5(gram), 1, 8)) AS BIGINT))
                AS BIGINT) AS gram_checksum
            FROM b GROUP BY 1, 2 ORDER BY lang, dup_bucket"""))

  // --------------------------------------------- l67 source report card

  /** The per-source report card: one row per provenance with the
    * numbers every published corpus datasheet tabulates per source
    * (Dolma, Soldaini et al. 2024; RedPajama; the Pile datasheet) —
    * volume (docs, tokens, mean length), language spread, duplicate
    * involvement (docs whose content hash occurs ≥ 2× ANYWHERE in the
    * corpus — cross-source duplication is the point of the report),
    * low-quality share under the catalog's [[LlmQueries.qualityKeep]]
    * rule, and repetition share under l27's top-2-gram rule. The three
    * per-document signals reuse the shared single-definition rules so
    * this report cannot drift from the gates that act on them.
    *
    * Scale shape: one corpus scan computing row-local columns, the l1
    * content-hash agg, and an equi-join back on the hash key (both
    * sides partition on the hash — co-located); the rollup is one
    * hash agg on the tiny source dimension. */
  private[graft] def sourceReport(dd: DataFrame): DataFrame = {
    val base = LlmQueries.withStopBp(dd.filter(col("text").isNotNull))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("h", LlmQueries.normHash)
      .withColumn("top2_bp", LlmQueries.top2Bp(col("toks")))
    val hashCounts = base.groupBy("h").agg(count(lit(1)).as("hc"))
    base.join(hashCounts, Seq("h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        expr("sum(n_tok) div count(1)").as("mean_tokens"),
        countDistinct("lang").as("n_langs"),
        sum(when(col("hc") >= 2, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(!LlmQueries.qualityKeep, 1L).otherwise(0L)).as("n_lowq"),
        sum(when(col("top2_bp") > LlmQueries.RepetitionFlagBp, 1L)
          .otherwise(0L)).as("n_rep"))
      .withColumn("dup_bp",
        round(col("n_dup_docs") * lit(10000.0) / col("n_docs")).cast("long"))
      .withColumn("lowq_bp",
        round(col("n_lowq") * lit(10000.0) / col("n_docs")).cast("long"))
      .orderBy("source")
  }

  /** L67 — the DQ over the raw documents table. */
  val l67 = DQ(
    "l67_source_report",
    (s, d) => sourceReport(docs(s, d)),
    Some("""WITH base AS (
              SELECT source, lang, doc_id, n_chars,
                string_split_regex(lower(text), '\s+') AS ta,
                sha256(lower(trim(text))) AS h
              FROM documents WHERE text IS NOT NULL),
            sb AS (
              SELECT source, lang, doc_id, n_chars, h, ta,
                CAST(len(ta) AS BIGINT) AS ntok,
                CAST(ROUND(len(list_filter(ta,
                    t -> list_contains(['the', 'a', 'value', 'table'], t)))
                  * 10000.0 / len(ta)) AS BIGINT) AS stop_bp
              FROM base),
            hc AS (SELECT h, COUNT(*) AS hc FROM base GROUP BY 1),
            g AS (
              SELECT doc_id, len(ta) - 1 AS ng,
                unnest(list_transform(range(len(ta) - 1),
                  i -> array_to_string(list_slice(ta, i + 1, i + 2), ' '))) AS gram
              FROM base WHERE len(ta) >= 2),
            tp AS (
              SELECT doc_id, CAST(ROUND(MAX(c) * 10000.0 / ng) AS BIGINT) AS top2_bp
              FROM (SELECT doc_id, ng, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3)
              GROUP BY doc_id, ng),
            per AS (
              SELECT s.source, s.lang, s.ntok, c.hc,
                (s.n_chars >= 200 AND s.stop_bp < 2500) AS keep,
                COALESCE(t.top2_bp, 0) AS top2_bp
              FROM sb s JOIN hc c ON s.h = c.h
              LEFT JOIN tp t ON s.doc_id = t.doc_id)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(ntok) AS BIGINT) AS n_tokens,
              CAST(SUM(ntok) // COUNT(*) AS BIGINT) AS mean_tokens,
              CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
              CAST(SUM(CASE WHEN hc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
              CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_lowq,
              CAST(SUM(CASE WHEN top2_bp > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
              CAST(ROUND(SUM(CASE WHEN hc >= 2 THEN 1 ELSE 0 END) * 10000.0
                / COUNT(*)) AS BIGINT) AS dup_bp,
              CAST(ROUND(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) * 10000.0
                / COUNT(*)) AS BIGINT) AS lowq_bp
            FROM per GROUP BY 1 ORDER BY source"""))

  // -------------------------------------- l68 per-suite contamination

  /** The per-SUITE contamination report over a split-labeled corpus:
    * eval docs partition into benchmark suites (here a deterministic
    * md5 draw on doc_id — in deployment the suite is a column of the
    * benchmark manifest), and per suite the report gives the eval-side
    * footprint (docs, distinct k-grams) and both directions of leakage
    * — train docs sharing ≥ 1 k-gram with the suite, and eval docs
    * whose text appears in train ("which benchmark is burned").
    * Published grounding: the per-benchmark contamination tables of
    * model reports — PaLM §8 (Chowdhery et al. 2022), Llama 2
    * Appendix A.6, the GPT-4 technical report — all report
    * contamination PER EVAL SUITE, not as one corpus scalar, because
    * the action (re-crawl, drop the benchmark, caveat the score) is
    * per-suite. k = [[SamplingQueries.SpanContamK]] (the ≥ 8-token
    * window of Llama 2's analysis, shared with l47).
    *
    * Scale shape: the eval side is a bounded benchmark suite — its
    * per-suite distinct-gram set BROADCASTS into both hit joins, so
    * the train corpus never reshuffles beyond [[SamplingQueries
    * .docGramsK]]'s map-side distinct (l25/l30/l47's probe family).
    * The train gram frame is checkpointed once and probed twice. */
  private[graft] def suiteContam(corpus: DataFrame, k: Int): DataFrame = {
    val suite = expr("concat('s', CAST(CAST(conv(substring(md5(concat(" +
      "CAST(doc_id AS STRING), ':suite')), 1, 1), 16, 10) AS BIGINT) " +
      "div 4 AS STRING))")
    val evalD = corpus.filter(col("split") === "test")
      .withColumn("suite", suite)
    // per-(suite, doc) distinct grams; docGramsK dedups within a doc
    val evalGrams = evalD
      .transform(SamplingQueries.docGramsK(_, Seq("suite", "doc_id"), k,
        hashed = false))
    val suiteGrams = evalGrams.select("suite", "gram").distinct()
    val trainGrams = corpus.filter(col("split") === "train")
      .transform(SamplingQueries.docGramsK(_, Seq("doc_id"), k,
        hashed = false))
      .localCheckpoint() // probed twice (both leak directions)
    val hitTrain = trainGrams.join(broadcast(suiteGrams), Seq("gram"))
      .select("suite", "doc_id").distinct()
    val hitEval = trainGrams.select("gram")
      .join(broadcast(evalGrams), Seq("gram"))
      .select("suite", "doc_id").distinct()
    val suites = evalD.groupBy("suite").agg(count(lit(1)).as("n_eval_docs"))
    val gramCounts = suiteGrams.groupBy("suite")
      .agg(count(lit(1)).as("n_eval_grams"))
    val trainSide = hitTrain.groupBy("suite")
      .agg(count(lit(1)).as("n_train_hit"), sum("doc_id").as("train_checksum"))
    val evalSide = hitEval.groupBy("suite")
      .agg(count(lit(1)).as("n_eval_leaked"), sum("doc_id").as("leaked_checksum"))
    suites
      .join(gramCounts, Seq("suite"), "left")
      .join(trainSide, Seq("suite"), "left")
      .join(evalSide, Seq("suite"), "left")
      .select(col("suite"), col("n_eval_docs"),
        coalesce(col("n_eval_grams"), lit(0L)).as("n_eval_grams"),
        coalesce(col("n_train_hit"), lit(0L)).as("n_train_hit"),
        coalesce(col("train_checksum"), lit(0L)).as("train_checksum"),
        coalesce(col("n_eval_leaked"), lit(0L)).as("n_eval_leaked"),
        coalesce(col("leaked_checksum"), lit(0L)).as("leaked_checksum"))
      .orderBy("suite")
  }

  /** L68 — the DQ over l47's planted corpus (every TEST doc plants a
    * verbatim-tail train copy — so every suite with an ≥ 9-token test
    * doc measurably leaks, and the per-suite split of those hits is
    * pinned by the oracle). */
  val l68 = DQ(
    "l68_suite_contam",
    (s, d) => suiteContam(
      SamplingQueries.spanContamCorpus(s, d), SamplingQueries.SpanContamK),
    Some(s"""WITH base AS (
              SELECT lang, doc_id, text,
                CASE WHEN h IS NULL THEN NULL
                     WHEN h < 'c000' THEN 'train'
                     WHEN h < 'e000' THEN 'val' ELSE 'test' END AS split
              FROM (SELECT lang, doc_id, text,
                      substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 4) AS h
                    FROM documents WHERE text IS NOT NULL)),
            off AS (SELECT COALESCE(MAX(doc_id), -1) + 1 AS o FROM base),
            planted AS (
              SELECT lang, doc_id + off.o AS doc_id,
                CASE WHEN doc_id % 2 = 0
                  THEN substring(text, instr(text, ' ') + 1)
                  ELSE substring(text, instr(text, ' ') + 1) || ' ' ||
                    array_to_string(list_reverse(string_split(
                      substring(text, instr(text, ' ') + 1), ' ')), ' ')
                END AS text,
                'train' AS split
              FROM base, off WHERE split = 'test'),
            corpus AS (
              SELECT lang, doc_id, text, split FROM base
              UNION ALL
              SELECT lang, doc_id, text, split FROM planted),
            ev AS (
              SELECT doc_id, text,
                's' || CAST(CAST(('0x' || substring(md5(
                  CAST(doc_id AS VARCHAR) || ':suite'), 1, 1)) AS BIGINT) // 4
                  AS VARCHAR) AS suite
              FROM corpus WHERE split = 'test'),
            evt AS (
              SELECT suite, doc_id,
                string_split_regex(lower(text), '\\s+') AS ta FROM ev),
            evg AS (
              SELECT DISTINCT suite, doc_id, gram FROM (
                SELECT suite, doc_id,
                  unnest(list_transform(range(len(ta) - ${SamplingQueries.SpanContamK - 1}),
                    i -> array_to_string(
                      list_slice(ta, i + 1, i + ${SamplingQueries.SpanContamK}), ' '))) AS gram
                FROM evt WHERE len(ta) >= ${SamplingQueries.SpanContamK})),
            sg AS (SELECT DISTINCT suite, gram FROM evg),
            trt AS (
              SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ta
              FROM corpus WHERE split = 'train'),
            tg AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id,
                  unnest(list_transform(range(len(ta) - ${SamplingQueries.SpanContamK - 1}),
                    i -> array_to_string(
                      list_slice(ta, i + 1, i + ${SamplingQueries.SpanContamK}), ' '))) AS gram
                FROM trt WHERE len(ta) >= ${SamplingQueries.SpanContamK})),
            hitT AS (
              SELECT DISTINCT s.suite, t.doc_id
              FROM tg t JOIN sg s ON t.gram = s.gram),
            hitE AS (
              SELECT DISTINCT e.suite, e.doc_id FROM evg e
              WHERE EXISTS (SELECT 1 FROM tg t WHERE t.gram = e.gram)),
            suites AS (
              SELECT suite, COUNT(*) AS n_eval_docs FROM ev GROUP BY 1),
            sgc AS (SELECT suite, COUNT(*) AS n_eval_grams FROM sg GROUP BY 1),
            ht AS (
              SELECT suite, COUNT(*) AS n_train_hit, SUM(doc_id) AS sum_t
              FROM hitT GROUP BY 1),
            he AS (
              SELECT suite, COUNT(*) AS n_eval_leaked, SUM(doc_id) AS sum_e
              FROM hitE GROUP BY 1)
            SELECT s.suite,
              CAST(s.n_eval_docs AS BIGINT) AS n_eval_docs,
              CAST(COALESCE(g.n_eval_grams, 0) AS BIGINT) AS n_eval_grams,
              CAST(COALESCE(ht.n_train_hit, 0) AS BIGINT) AS n_train_hit,
              CAST(COALESCE(ht.sum_t, 0) AS BIGINT) AS train_checksum,
              CAST(COALESCE(he.n_eval_leaked, 0) AS BIGINT) AS n_eval_leaked,
              CAST(COALESCE(he.sum_e, 0) AS BIGINT) AS leaked_checksum
            FROM suites s
            LEFT JOIN sgc g USING (suite)
            LEFT JOIN ht USING (suite)
            LEFT JOIN he USING (suite)
            ORDER BY suite"""))

  // ----------------------------------- l69 Gopher doc-quality ladder

  /** The corpus-realized stopword set of the Gopher "must contain ≥ 2
    * of..." rule (Rae et al. 2021 list {the, be, to, of, and, that,
    * have, with} realized on this synthetic vocabulary — the same set
    * [[LlmQueries.qualityKeep]]'s stopword share uses, so the two
    * quality layers read the same lexicon). */
  private val GopherStopwords = Seq("the", "a", "value", "table")

  /** Per-document flags for the NON-repetition half of Gopher's
    * Table A1 quality rules (Rae et al. 2021; l27b/[[LlmQueries
    * .ladderFlags]] is the repetition half). All row-local, all
    * integer cross-multiplies — no division, no floats:
    *
    *  - `f_wc`     word count < 50 or > 100 000
    *  - `f_mwl`    mean word length outside [3, 10] chars
    *  - `f_sym`    symbol-to-word ratio ('#' + '…'-as-'...') > 0.1
    *  - `f_bullet` > 90% of lines start with a bullet ('-' / '*')
    *  - `f_ell`    > 30% of lines end with an ellipsis
    *  - `f_alpha`  < 80% of words contain an alphabetic character
    *  - `f_stop`   < 2 distinct [[GopherStopwords]] present
    */
  private[graft] def gopherFlags(text: Column, ta: Column): Seq[Column] = {
    val lines = split(text, "\n")
    val nW = size(ta).cast("long")
    val sumWlen = aggregate(ta, lit(0L), (a, t) => a + length(t).cast("long"))
    val nAlpha = size(filter(ta, t => t.rlike("[a-z]"))).cast("long")
    // '...' occurrences: the length delta is a multiple of 3, so the
    // double divide is exact — still integer-valued arithmetic
    val nSym = (length(text) - length(replace(text, lit("#")))).cast("long") +
      ((length(text) - length(replace(text, lit("...")))) / lit(3)).cast("long")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines,
      l => substring(ltrim(l), 1, 1).isin("-", "*"))).cast("long")
    val nEllEnd = size(filter(lines, l => rtrim(l).like("%..."))).cast("long")
    val nStop = GopherStopwords
      .map(w => when(array_contains(ta, w), 1L).otherwise(0L)).reduce(_ + _)
    Seq(
      nW < 50L || nW > 100000L,
      sumWlen < lit(3L) * nW || sumWlen > lit(10L) * nW,
      nSym * 10L > nW,
      nBullet * 10L > lit(9L) * nLines,
      nEllEnd * 10L > lit(3L) * nLines,
      nAlpha * 10L < lit(8L) * nW,
      nStop < 2L)
  }

  /** [[gopherFlags]] over a (lang, doc_id, text) frame — the DQ's
    * per-document view, one boolean column per rule. */
  private[graft] def gopherFlagsFrame(df: DataFrame): DataFrame = {
    val names = Seq("f_wc", "f_mwl", "f_sym", "f_bullet", "f_ell",
      "f_alpha", "f_stop")
    df.filter(col("text").isNotNull)
      .select(Seq(col("lang"), col("doc_id")) ++
        gopherFlags(col("text"), split(lower(col("text")), "\\s+"))
          .zip(names).map { case (c, n) => c.as(n) }: _*)
  }

  /** [[l69]]'s planted corpus: the stock documents carry no symbols,
    * newlines, or bullets (verified on the generator's output), so
    * three of the seven published rules could never fire — the catalog
    * plants the phenomenon with one expression battery both engines
    * replay verbatim (l47's discipline): every src doc with
    * doc_id % 10 = 0 also lands a degraded copy at id + offset —
    * bullet-per-line (% 30 = 0), '#'-laced (% 30 = 10), or
    * ellipsis-line-ended (% 30 = 20). */
  private[graft] def gopherCorpus(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).filter(col("text").isNotNull)
      .select(col("lang"), col("doc_id"), col("text"))
    val off = LlmQueries.plantedOffset(base, "doc_id")
    val bad = base.filter(col("doc_id") % 10 === 0)
      .crossJoin(broadcast(off)) // 1-row offset broadcast
      .select(col("lang"), (col("doc_id") + col("_off")).as("doc_id"),
        when(col("doc_id") % 30 === 0,
          expr("concat('- ', replace(text, ' ', concat(chr(10), '- ')))"))
        .when(col("doc_id") % 30 === 10,
          expr("replace(text, ' ', ' # ')"))
        .otherwise(expr("replace(text, ' ', concat('...', chr(10)))"))
        .as("text"))
    base.unionByName(bad)
  }

  /** L69 — the DQ: per-language rule-firing counts of the Gopher
    * doc-quality ladder over the planted corpus, plus the any-flag
    * count and the flagged-id checksum (pinning WHICH docs trip, the
    * l27b shape). */
  val l69 = DQ(
    "l69_gopher_quality",
    (s, d) => {
      val anyf = col("f_wc") || col("f_mwl") || col("f_sym") ||
        col("f_bullet") || col("f_ell") || col("f_alpha") || col("f_stop")
      gopherFlagsFrame(gopherCorpus(s, d))
        .withColumn("f_any", anyf)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("f_wc"), 1L).otherwise(0L)).as("n_flag_wordcount"),
          sum(when(col("f_mwl"), 1L).otherwise(0L)).as("n_flag_wordlen"),
          sum(when(col("f_sym"), 1L).otherwise(0L)).as("n_flag_symbol"),
          sum(when(col("f_bullet"), 1L).otherwise(0L)).as("n_flag_bullet"),
          sum(when(col("f_ell"), 1L).otherwise(0L)).as("n_flag_ellipsis"),
          sum(when(col("f_alpha"), 1L).otherwise(0L)).as("n_flag_alpha"),
          sum(when(col("f_stop"), 1L).otherwise(0L)).as("n_flag_stopword"),
          sum(when(col("f_any"), 1L).otherwise(0L)).as("n_flag_any"),
          coalesce(sum(when(col("f_any"), col("doc_id"))), lit(0L))
            .as("flagged_checksum"))
        .orderBy("lang")
    },
    Some("""WITH base0 AS (
              SELECT lang, doc_id, text FROM documents WHERE text IS NOT NULL),
            off AS (SELECT COALESCE(MAX(doc_id), -1) + 1 AS o FROM base0),
            bad AS (
              SELECT lang, doc_id + off.o AS doc_id,
                CASE WHEN doc_id % 30 = 0
                       THEN '- ' || replace(text, ' ', chr(10) || '- ')
                     WHEN doc_id % 30 = 10
                       THEN replace(text, ' ', ' # ')
                     ELSE replace(text, ' ', '...' || chr(10)) END AS text
              FROM base0, off WHERE doc_id % 10 = 0),
            corpus AS (
              SELECT * FROM base0 UNION ALL SELECT * FROM bad),
            m AS (
              SELECT lang, doc_id,
                string_split_regex(lower(text), '\s+') AS ta,
                string_split(text, chr(10)) AS lines,
                len(text) - len(replace(text, '#', '')) AS n_hash,
                (len(text) - len(replace(text, '...', ''))) // 3 AS n_ell
              FROM corpus),
            f AS (
              SELECT lang, doc_id,
                len(ta) AS n_w,
                list_sum(list_transform(ta, t -> len(t))) AS sum_wlen,
                len(list_filter(ta, t -> regexp_matches(t, '[a-z]'))) AS n_alpha,
                n_hash + n_ell AS n_sym,
                len(lines) AS n_lines,
                len(list_filter(lines,
                  l -> substring(ltrim(l), 1, 1) IN ('-', '*'))) AS n_bullet,
                len(list_filter(lines, l -> rtrim(l) LIKE '%...')) AS n_ellend,
                CAST(list_contains(ta, 'the') AS INT)
                  + CAST(list_contains(ta, 'a') AS INT)
                  + CAST(list_contains(ta, 'value') AS INT)
                  + CAST(list_contains(ta, 'table') AS INT) AS n_stop
              FROM m),
            fl AS (
              SELECT lang, doc_id,
                (n_w < 50 OR n_w > 100000) AS f_wc,
                (sum_wlen < 3 * n_w OR sum_wlen > 10 * n_w) AS f_mwl,
                (n_sym * 10 > n_w) AS f_sym,
                (n_bullet * 10 > 9 * n_lines) AS f_bullet,
                (n_ellend * 10 > 3 * n_lines) AS f_ell,
                (n_alpha * 10 < 8 * n_w) AS f_alpha,
                (n_stop < 2) AS f_stop
              FROM f),
            fa AS (
              SELECT *, (f_wc OR f_mwl OR f_sym OR f_bullet OR f_ell
                OR f_alpha OR f_stop) AS f_any FROM fl)
            SELECT lang,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_wordcount,
              CAST(SUM(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_wordlen,
              CAST(SUM(CASE WHEN f_sym THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_symbol,
              CAST(SUM(CASE WHEN f_bullet THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_bullet,
              CAST(SUM(CASE WHEN f_ell THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_ellipsis,
              CAST(SUM(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_alpha,
              CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_stopword,
              CAST(SUM(CASE WHEN f_any THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_any,
              CAST(COALESCE(SUM(CASE WHEN f_any THEN doc_id END), 0) AS BIGINT)
                AS flagged_checksum
            FROM fa GROUP BY 1 ORDER BY lang"""))

  // --------------------------------------- l70 BPE merge candidates

  /** L70 — the first BPE merge iteration (Sennrich et al. 2016
    * arXiv:1508.07909 §3.2): count adjacent character pairs over the
    * corpus' word-frequency dictionary and emit the top candidates —
    * the step a byte-pair tokenizer trainer repeats to build its merge
    * table, and the published trick that makes it tractable: pair
    * counting runs on the DISTINCT-WORD frame weighted by word count,
    * never on the corpus. The full trainer is sequential in the merge
    * list; the FIRST iteration is the one that touches corpus-scale
    * data, and this is it — every later iteration is driver-side work
    * on the V-row dictionary a deployment exports from here.
    * `n_occ` = corpus-wide adjacency occurrences (a word with "aa"
    * twice counts twice per instance, the published count), `n_types` =
    * distinct words carrying the pair. Shares [[VocabIndex.tokens]]
    * (the l5/l41/l57 pre-tokenizer) so the merge table and the
    * vocabulary audits read the same token stream.
    *
    * Scale shape: ONE token-grain agg (l41's exact shuffle) down to the
    * V-row dictionary; pair explode + count on V rows; top-K compiles
    * to TakeOrdered — no global sort. */
  private[graft] def bpeMerges(dd: DataFrame, k: Int): DataFrame = {
    val wc = dd.filter(col("text").isNotNull)
      .select(explode(VocabIndex.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    wc.filter(length(col("tok")) >= 2)
      .select(col("tok"), col("cnt"), explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair")
      .agg(sum("cnt").as("n_occ"), countDistinct("tok").as("n_types"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(k)
  }

  val l70 = DQ(
    "l70_bpe_merges",
    (s, d) => bpeMerges(docs(s, d), 20),
    Some("""WITH wc AS (
              SELECT tok, COUNT(*) AS cnt FROM (
                SELECT unnest(regexp_extract_all(lower(text),
                  '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS tok
                FROM documents WHERE text IS NOT NULL)
              GROUP BY 1),
            p AS (
              SELECT tok, cnt,
                unnest(list_transform(range(1, len(tok)),
                  i -> substring(tok, i, 2))) AS pair
              FROM wc WHERE len(tok) >= 2)
            SELECT pair,
              CAST(SUM(cnt) AS BIGINT) AS n_occ,
              CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types
            FROM p GROUP BY 1 ORDER BY n_occ DESC, pair LIMIT 20"""))

  // ------------------------------------- l71 distinct-n diversity

  /** L71 — n-gram diversity (distinct-n, Li et al. 2016
    * arXiv:1510.03055 §4.1, the standard corpus-diversity report —
    * also the saturation signal of a dedup pass: distinct-n RISES as
    * duplicates leave): per (lang, n ∈ {1,2,3}), total word n-grams,
    * distinct n-grams, and their ratio in integer millis. One
    * union-of-three gram stream, one partial-aggregable agg —
    * [[l66]]'s shuffle family at small n. */
  val l71 = DQ(
    "l71_distinct_ngrams",
    (s, d) => {
      val base = docs(s, d).filter(col("text").isNotNull)
        .withColumn("ta", split(lower(col("text")), "\\s+"))
      graft.functions.NativeTextExprs.ensureRegistered(s)
      def grams(n: Int) = base.filter(size(col("ta")) >= n)
        .select(col("lang"), lit(n.toLong).as("n"),
          explode(call_function("graft_grams", col("ta"), lit(n))).as("gram"))
      grams(1).unionByName(grams(2)).unionByName(grams(3))
        .groupBy("lang", "n")
        .agg(count(lit(1)).as("n_grams"),
          countDistinct("gram").as("n_distinct"))
        .withColumn("distinct_milli",
          round(col("n_distinct") * lit(1000.0) / col("n_grams")).cast("long"))
        .orderBy("lang", "n")
    },
    Some("""WITH t AS (
              SELECT lang, string_split_regex(lower(text), '\s+') AS ta
              FROM documents WHERE text IS NOT NULL),
            g AS (
              SELECT lang, 1 AS n, unnest(ta) AS gram FROM t
              UNION ALL
              SELECT lang, 2 AS n,
                unnest(list_transform(range(len(ta) - 1),
                  i -> array_to_string(list_slice(ta, i + 1, i + 2), ' ')))
              FROM t WHERE len(ta) >= 2
              UNION ALL
              SELECT lang, 3 AS n,
                unnest(list_transform(range(len(ta) - 2),
                  i -> array_to_string(list_slice(ta, i + 1, i + 3), ' ')))
              FROM t WHERE len(ta) >= 3)
            SELECT lang, CAST(n AS BIGINT) AS n,
              CAST(COUNT(*) AS BIGINT) AS n_grams,
              CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
              CAST(ROUND(COUNT(DISTINCT gram) * 1000.0 / COUNT(*)) AS BIGINT)
                AS distinct_milli
            FROM g GROUP BY 1, 2 ORDER BY lang, n"""))

  // --------------------------------- l72 rule-vs-model agreement

  /** L72 — quality-filter agreement matrix: the calibration table every
    * model-based-filter recipe reports before swapping a heuristic for
    * a classifier (CCNet compares its fastText scorer against
    * heuristic buckets, Wenzek et al. 2020 §3.2; the GPT-3 appendix
    * grades its LR filter against hand rules) — per language, the
    * 2×2 cells of rule-keep ([[LlmQueries.qualityKeep]]) × model-keep
    * (l34's hashed-feature scorer > 0), the agreement rate, and a
    * checksum of each DISAGREEMENT cell (the docs a reviewer actually
    * reads). Reuses both single-definition rules, so this report can
    * never drift from the gates it calibrates.
    *
    * Scale shape: both signals are row-local folds — one corpus scan,
    * one L-row rollup. No join, no shuffle before the rollup. */
  val l72 = DQ(
    "l72_quality_agreement",
    (s, d) => {
      val base = LlmQueries.withStopBp(
          docs(s, d).filter(col("text").isNotNull))
        .withColumnRenamed("toks", "ta")
        .withColumn("score_milli", expr(CleaningQueries.scoreMilliSql))
        .withColumn("rk", LlmQueries.qualityKeep)
        .withColumn("mk", col("score_milli") > 0L)
      base.groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("rk") && col("mk"), 1L).otherwise(0L)).as("n_both_keep"),
          sum(when(col("rk") && !col("mk"), 1L).otherwise(0L)).as("n_rule_only"),
          sum(when(!col("rk") && col("mk"), 1L).otherwise(0L)).as("n_model_only"),
          sum(when(!col("rk") && !col("mk"), 1L).otherwise(0L)).as("n_both_drop"),
          coalesce(sum(when(col("rk") && !col("mk"), col("doc_id"))), lit(0L))
            .as("rule_only_checksum"),
          coalesce(sum(when(!col("rk") && col("mk"), col("doc_id"))), lit(0L))
            .as("model_only_checksum"))
        .withColumn("agree_bp",
          round((col("n_both_keep") + col("n_both_drop")) * lit(10000.0) /
            col("n_docs")).cast("long"))
        .orderBy("lang")
    },
    Some(s"""WITH base AS (
              SELECT lang, doc_id, n_chars,
                string_split_regex(lower(text), '\\s+') AS ta,
                ${CleaningQueries.duckScoreSql} AS score_milli
              FROM documents WHERE text IS NOT NULL),
            cells AS (
              SELECT lang, doc_id,
                (n_chars >= 200 AND
                 CAST(ROUND(len(list_filter(ta,
                     t -> list_contains(['the', 'a', 'value', 'table'], t)))
                   * 10000.0 / len(ta)) AS BIGINT) < 2500) AS rk,
                (score_milli > 0) AS mk
              FROM base)
            SELECT lang,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN rk AND mk THEN 1 ELSE 0 END) AS BIGINT)
                AS n_both_keep,
              CAST(SUM(CASE WHEN rk AND NOT mk THEN 1 ELSE 0 END) AS BIGINT)
                AS n_rule_only,
              CAST(SUM(CASE WHEN NOT rk AND mk THEN 1 ELSE 0 END) AS BIGINT)
                AS n_model_only,
              CAST(SUM(CASE WHEN NOT rk AND NOT mk THEN 1 ELSE 0 END) AS BIGINT)
                AS n_both_drop,
              CAST(COALESCE(SUM(CASE WHEN rk AND NOT mk THEN doc_id END), 0)
                AS BIGINT) AS rule_only_checksum,
              CAST(COALESCE(SUM(CASE WHEN NOT rk AND mk THEN doc_id END), 0)
                AS BIGINT) AS model_only_checksum,
              CAST(ROUND((SUM(CASE WHEN rk AND mk THEN 1 ELSE 0 END)
                + SUM(CASE WHEN NOT rk AND NOT mk THEN 1 ELSE 0 END))
                * 10000.0 / COUNT(*)) AS BIGINT) AS agree_bp
            FROM cells GROUP BY 1 ORDER BY lang"""))

  // ------------------------------------ l73 sequence-length profile

  /** L73 — sequence-length histogram + padding-waste audit: the
    * length-distribution figure of corpus datasheets, with the number
    * packing exists for (Krell et al. 2021 arXiv:2107.02027: padding
    * waste of the naive pad-per-document layout — what l21's
    * concat-and-chunk packing eliminates). Per (lang, length bucket of
    * l21's 256-token context): docs, tokens, the min/max length, and
    * the pad-per-doc chunk count Σ⌈len/256⌉ — all integers, the waste
    * compare against l21's packed ⌈Σlen/256⌉ is one subtraction in the
    * reader. Token rule = l21's pre-tokenizer ([[VocabIndex.tokens]]).
    * Entirely row-local until the (lang × 5)-bucket rollup. */
  val l73 = DQ(
    "l73_length_histogram",
    (s, d) => {
      docs(s, d).filter(col("text").isNotNull)
        .withColumn("n_tok",
          size(VocabIndex.tokens(col("text"))).cast("long"))
        .withColumn("bucket",
          when(col("n_tok") < 32, "b0_lt32")
            .when(col("n_tok") < 64, "b1_32_63")
            .when(col("n_tok") < 128, "b2_64_127")
            .when(col("n_tok") < 256, "b3_128_255")
            .otherwise("b4_ge256"))
        .groupBy("lang", "bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          min("n_tok").as("min_tok"),
          max("n_tok").as("max_tok"),
          sum(expr("(n_tok + 255L) div 256L")).as("padded_chunks"))
        .orderBy("lang", "bucket")
    },
    Some("""WITH t AS (
              SELECT lang,
                CAST(len(regexp_extract_all(lower(text),
                  '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tok
              FROM documents WHERE text IS NOT NULL),
            b AS (
              SELECT lang, n_tok,
                CASE WHEN n_tok < 32 THEN 'b0_lt32'
                     WHEN n_tok < 64 THEN 'b1_32_63'
                     WHEN n_tok < 128 THEN 'b2_64_127'
                     WHEN n_tok < 256 THEN 'b3_128_255'
                     ELSE 'b4_ge256' END AS bucket
              FROM t)
            SELECT lang, bucket,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
              CAST(MIN(n_tok) AS BIGINT) AS min_tok,
              CAST(MAX(n_tok) AS BIGINT) AS max_tok,
              CAST(SUM((n_tok + 255) // 256) AS BIGINT) AS padded_chunks
            FROM b GROUP BY 1, 2 ORDER BY lang, bucket"""))

  // ---------------------------------- l74 winnowing fingerprints

  /** Winnowing parameters: token [[WinnowK]]-gram hashes, window of
    * [[WinnowW]] consecutive hashes. Published guarantee (Schleimer,
    * Wilkerson, Aiken 2003 §3, the MOSS algorithm): any shared
    * substring of at least k + w − 1 tokens is caught by at least one
    * shared selected fingerprint, at an expected density of 2/(w+1). */
  private val WinnowK = 5
  private val WinnowW = 4

  /** L74 — winnowing fingerprint audit (Schleimer et al. 2003, SIGMOD —
    * the MOSS local fingerprinting scheme): per document, hash every
    * token k-gram, slide a w-hash window, and SELECT the minimum hash
    * of each window (rightmost on ties — the standard rule, realized
    * here as one integer key h·2²⁰ + (2²⁰−1−pos), so min(key) is
    * (min h, max pos) and both engines order identically). The
    * selected set is the document's fingerprint — the storage-bounded
    * alternative to l33's every-position index, with the published
    * guarantee that any ≥ k+w−1-token overlap shares a fingerprint.
    * Report per language: participating docs, windows, selected
    * fingerprints (density ≈ 2/(w+1) of windows), distinct fingerprint
    * hashes seen in ≥ 2 docs (the MOSS match signal — non-trivial here
    * by the planted near-dup copies), and their checksum.
    *
    * Scale shape: the ENTIRE selection is row-local ([[winnowArrays]]
    * — gram hashes, packed keys, per-window array_min all inside the
    * row), the shared checkpoint is doc-grain (one row per document),
    * and the only non-doc-grain work is the selected-fingerprint
    * explode feeding the cross-doc shared-hash agg. The
    * 2²⁰ position packing bounds docs at 1M tokens — the catalog's
    * standing okey encoding (l65). The fingerprint frame is 2/(w+1)
    * the size of l33's every-position index; the md5-prefix hash here
    * is the oracle-portable stand-in for xxhash64 (the production key,
    * same as [[SubstringIndex]]). */
  /** The winnowing SELECTION — one row per window start with its
    * selected `minkey` (h·2²⁰ + 2²⁰−1−pos of the window's minimum,
    * rightmost on ties). ROW-LOCAL by construction: winnowing is a
    * per-document computation, so the gram hashes, the packed keys,
    * and the per-window array_min all run inside the row as array
    * higher-order functions — no posexplode-then-Window shuffle of
    * gram-grain data (the first cut partitioned a corpus-wide window
    * by doc_id: one full shuffle + sort the lambda form doesn't pay;
    * measured ~1.9 → ~1.5 s at sf0.1 with the doc-grain l74 rollup —
    * the residual cost is the 5M md5 gram hashes themselves, the
    * oracle-portable stand-in for xxhash64). The only explode is the
    * window-grain result feeding the caller's aggregation. Factored
    * for the spec's fixture-level guarantee pin. */
  /** The DOC-GRAIN winnowing frame: one row per participating document
    * with its full `minkeys` array — the shape every consumer derives
    * from row-locally (window counts, per-doc distinct fingerprints)
    * so a checkpoint of it is document-count-sized, never gram-sized. */
  /** Windows key on the md5 32-bit prefix — the oracle-portable form,
    * exactly replayable in DuckDB. */
  private[graft] def winnowArrays(corpus: DataFrame): DataFrame = {
    // gram STRINGS built by graft_grams (identical bytes in, identical
    // md5 out — only the per-gram concat allocation goes)
    graft.functions.NativeTextExprs.ensureRegistered(corpus.sparkSession)
    corpus.filter(col("text").isNotNull)
      .withColumn("ta", LlmQueries.tokensOf(corpus))
      .filter(size(col("ta")) >= WinnowK + WinnowW - 1)
      .withColumn("keys", expr(
        s"transform(graft_grams(ta, $WinnowK), (g, i) -> " +
          "cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint) " +
          "* 1048576L + (1048575L - i))"))
      .select(col("lang"), col("doc_id"), expr(
        s"transform(sequence(0, size(keys) - $WinnowW), s -> " +
          s"array_min(slice(keys, s + 1, $WinnowW)))").as("minkeys"))
  }

  private[graft] def winnowSelect(corpus: DataFrame): DataFrame =
    winnowArrays(corpus)
      .select(col("lang"), col("doc_id"), posexplode(col("minkeys")))
      .withColumnRenamed("col", "minkey")

  val l74 = DQ(
    "l74_winnow_fingerprints",
    (s, d) => {
      // doc-grain: window counts and per-doc distinct fingerprints are
      // row-local array ops, so the shared checkpoint holds ONE row per
      // document (the md5 gram work runs exactly once); only the
      // cross-doc shared-hash question pays an explode + hash agg
      val perDoc = winnowArrays(LlmQueries.plantedFull(docs(s, d)))
        .select(col("lang"), col("doc_id"),
          size(col("minkeys")).cast("long").as("n_windows"),
          size(array_distinct(col("minkeys"))).cast("long")
            .as("n_selected"),
          expr("array_distinct(transform(minkeys, k -> k div 1048576))")
            .as("hs"))
        .localCheckpoint()
      val perLang = perDoc.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("n_windows").as("n_windows"),
        sum("n_selected").as("n_selected"))
      val shared = perDoc
        .select(col("lang"), col("doc_id"), explode(col("hs")).as("h"))
        .groupBy("lang", "h").agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2)
        .groupBy("lang").agg(
          count(lit(1)).as("n_shared_fp"),
          sum("h").as("shared_checksum"))
      perLang.join(shared, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("n_windows"),
          col("n_selected"),
          expr("n_selected * 1000L div n_windows").as("density_milli"),
          coalesce(col("n_shared_fp"), lit(0L)).as("n_shared_fp"),
          coalesce(col("shared_checksum"), lit(0L)).as("shared_checksum"))
        .orderBy("lang")
    },
    Some(s"""WITH corpus AS (
              SELECT lang, doc_id, text FROM documents
              UNION ALL
              SELECT d.lang,
                d.doc_id + (SELECT COALESCE(MAX(doc_id), -1) + 1 FROM documents),
                substring(d.text, instr(d.text, ' ') + 1)
              FROM documents d WHERE d.doc_id % 10 = 0),
            toks AS (
              SELECT lang, doc_id,
                string_split_regex(lower(text), '\\s+') AS ta
              FROM corpus WHERE text IS NOT NULL),
            posn AS (
              SELECT lang, doc_id, ta,
                unnest(range(len(ta) - ${WinnowK - 1})) AS pos
              FROM toks WHERE len(ta) >= $WinnowK),
            keyed AS (
              SELECT lang, doc_id, pos,
                CAST(('0x' || substring(md5(array_to_string(
                    list_slice(ta, pos + 1, pos + $WinnowK), ' ')), 1, 8))
                  AS BIGINT) * 1048576 + (1048575 - pos) AS key
              FROM posn),
            win AS (
              SELECT lang, doc_id, pos,
                MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING)
                  AS minkey,
                MAX(pos) OVER (PARTITION BY doc_id) AS maxpos
              FROM keyed),
            sel AS (
              SELECT lang, doc_id, minkey FROM win
              WHERE pos <= maxpos - ${WinnowW - 1}),
            fps AS (SELECT DISTINCT lang, doc_id, minkey FROM sel),
            fph AS (
              SELECT DISTINCT lang, doc_id, minkey // 1048576 AS h FROM fps),
            perlang AS (
              SELECT lang, COUNT(DISTINCT doc_id) AS n_docs,
                COUNT(*) AS n_windows
              FROM sel GROUP BY 1),
            nsel AS (SELECT lang, COUNT(*) AS n_selected FROM fps GROUP BY 1),
            shared AS (
              SELECT lang, COUNT(*) AS n_shared_fp, SUM(h) AS shared_checksum
              FROM (SELECT lang, h FROM fph GROUP BY lang, h
                    HAVING COUNT(DISTINCT doc_id) >= 2)
              GROUP BY 1)
            SELECT p.lang,
              CAST(p.n_docs AS BIGINT) AS n_docs,
              CAST(p.n_windows AS BIGINT) AS n_windows,
              CAST(n.n_selected AS BIGINT) AS n_selected,
              CAST(n.n_selected * 1000 // p.n_windows AS BIGINT)
                AS density_milli,
              CAST(COALESCE(s.n_shared_fp, 0) AS BIGINT) AS n_shared_fp,
              CAST(COALESCE(s.shared_checksum, 0) AS BIGINT)
                AS shared_checksum
            FROM perlang p
            JOIN nsel n ON p.lang = n.lang
            LEFT JOIN shared s ON p.lang = s.lang
            ORDER BY p.lang"""))

  // ------------------------------------- l75 vocabulary growth (Heaps)

  /** L75 — vocabulary-growth audit (Heaps' law, Heaps 1978; Herdan
    * 1960): distinct word types vs tokens seen at 25% / 50% / 100%
    * prefixes of each language's corpus in doc_id order — the
    * V(n) = K·n^β curve every tokenizer-vocabulary sizing decision
    * reads (a still-steep curve at 100% says the corpus has not
    * saturated its vocabulary and an OOV budget must cover growth;
    * read beside l41's coverage and l63's fertility). `growth_milli` =
    * types_all·1000 ÷ types_p50 is the half-to-full growth factor —
    * ~1000 means saturation.
    *
    * Scale shape: prefix membership is a per-language doc rank (one
    * doc-grain window; at 100 TB a deployment derives the flag from
    * ingest order or a hash range instead — same frame), then ONE
    * token-grain (lang, tok) agg with three conditional counts — the
    * earliest-prefix trick: types_pXX = tokens whose prefix count is
    * positive, so no per-prefix countDistinct expand, one shuffle —
    * and an L-row rollup. */
  val l75 = DQ(
    "l75_vocab_growth",
    (s, d) => {
      val ranked = docs(s, d).filter(col("text").isNotNull)
        .withColumn("rk", row_number()
          .over(Window.partitionBy("lang").orderBy("doc_id")).cast("long"))
        .withColumn("nl", count(lit(1))
          .over(Window.partitionBy("lang")).cast("long"))
        .withColumn("p25", col("rk") <= expr("(nl + 3) div 4"))
        .withColumn("p50", col("rk") <= expr("(nl + 1) div 2"))
      val byTok = ranked
        .select(col("lang"), col("p25"), col("p50"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .groupBy("lang", "tok")
        .agg(
          sum(when(col("p25"), 1L).otherwise(0L)).as("c25"),
          sum(when(col("p50"), 1L).otherwise(0L)).as("c50"),
          count(lit(1)).as("call"))
      byTok.groupBy("lang")
        .agg(
          sum("c25").as("tokens_p25"),
          sum(when(col("c25") > 0L, 1L).otherwise(0L)).as("types_p25"),
          sum("c50").as("tokens_p50"),
          sum(when(col("c50") > 0L, 1L).otherwise(0L)).as("types_p50"),
          sum("call").as("tokens_all"),
          count(lit(1)).as("types_all"))
        .withColumn("growth_milli",
          expr("types_all * 1000L div types_p50"))
        .orderBy("lang")
    },
    Some("""WITH ranked AS (
              SELECT lang, text,
                CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                  AS BIGINT) AS rk,
                CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS nl
              FROM documents WHERE text IS NOT NULL),
            t AS (
              SELECT lang, rk <= (nl + 3) // 4 AS p25,
                rk <= (nl + 1) // 2 AS p50,
                unnest(string_split_regex(lower(text), '\s+')) AS tok
              FROM ranked),
            bytok AS (
              SELECT lang, tok,
                SUM(CASE WHEN p25 THEN 1 ELSE 0 END) AS c25,
                SUM(CASE WHEN p50 THEN 1 ELSE 0 END) AS c50,
                COUNT(*) AS call
              FROM t GROUP BY 1, 2)
            SELECT lang,
              CAST(SUM(c25) AS BIGINT) AS tokens_p25,
              CAST(SUM(CASE WHEN c25 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS types_p25,
              CAST(SUM(c50) AS BIGINT) AS tokens_p50,
              CAST(SUM(CASE WHEN c50 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS types_p50,
              CAST(SUM(call) AS BIGINT) AS tokens_all,
              CAST(COUNT(*) AS BIGINT) AS types_all,
              CAST(COUNT(*) * 1000 //
                SUM(CASE WHEN c50 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS growth_milli
            FROM bytok GROUP BY 1 ORDER BY lang"""))

  // --------------------------------- l76 embedding outlier audit

  /** L76 — embedding-space outlier audit: cosine of every vector to
    * its label's centroid, the de-noising report of cluster-based
    * curation (the outlier-removal step SemDeDup-family pipelines run
    * before training, cf. Abbas et al. 2023's cluster preprocessing;
    * the farthest-from-centroid docs are the mislabeled/noise
    * candidates a curator reviews). Per label: vectors, mean/min
    * cosine-to-centroid (e4), and the checksum of the 3 farthest
    * vec_ids.
    *
    * ENGINE-PORTABLE BY INTEGER SUMS: components are scaled once to
    * integer micros (float→double is exact, round is), the centroid
    * is an integer-div mean of integer sums (order-independent —
    * a double mean could flip the last ulp across partitionings), and
    * dot/norms are exact long arithmetic (|v|≤1 micros → dot ≤
    * 64·10¹² « 2⁶³); the only floating step is the final
    * sqrt/divide/round from IDENTICAL integers — IEEE-deterministic
    * in both engines.
    *
    * Scale shape: one narrow agg to the (labels × 64)-row centroid
    * frame, broadcast back, then a row-local zip_with dot per vector
    * and a label-row rollup; the top-3 window runs per label. */
  val l76 = DQ(
    "l76_embedding_outliers",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"), col("vec_id"),
          expr("transform(cast(embedding as array<double>), " +
            "x -> cast(round(x * 1000000) as bigint))").as("vi"))
      val cent = e.select(col("label"), posexplode(col("vi")))
        .groupBy("label", "pos")
        .agg(expr("sum(col) div count(1)").as("cv"))
        .groupBy("label")
        .agg(expr("transform(sort_array(collect_list(struct(pos, cv))), " +
          "x -> x.cv)").as("cv"))
      val sims = e.join(broadcast(cent), Seq("label"))
        .withColumn("dot", expr(
          "aggregate(zip_with(vi, cv, (a, b) -> a * b), 0L, (s, x) -> s + x)"))
        .withColumn("nv", expr(
          "aggregate(vi, 0L, (s, x) -> s + x * x)"))
        .withColumn("nc", expr(
          "aggregate(cv, 0L, (s, x) -> s + x * x)"))
        .withColumn("sim_e4", when(col("nv") === 0L || col("nc") === 0L, 0L)
          .otherwise(round(lit(10000.0) * col("dot") /
            (sqrt(col("nv")) * sqrt(col("nc")))).cast("long")))
      val ranked = sims.withColumn("rk", row_number().over(
        Window.partitionBy("label").orderBy(col("sim_e4"), col("vec_id"))))
      ranked.groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          expr("sum(sim_e4) div count(1)").as("mean_sim_e4"),
          min("sim_e4").as("min_sim_e4"),
          sum(when(col("rk") <= 3, col("vec_id")).otherwise(0L))
            .as("outlier_checksum"))
        .orderBy("label")
    },
    Some("""WITH e AS (
              SELECT CAST(label AS BIGINT) AS label, vec_id,
                list_transform(CAST(embedding AS DOUBLE[]),
                  x -> CAST(ROUND(x * 1000000) AS BIGINT)) AS vi
              FROM embeddings),
            d AS (
              SELECT label, vec_id, unnest(vi) AS v,
                generate_subscripts(vi, 1) AS pos
              FROM e),
            c AS (
              SELECT label, pos, SUM(v) // COUNT(*) AS cv
              FROM d GROUP BY 1, 2),
            dots AS (
              SELECT d.label, d.vec_id,
                SUM(d.v * c.cv) AS dot, SUM(d.v * d.v) AS nv
              FROM d JOIN c ON d.label = c.label AND d.pos = c.pos
              GROUP BY 1, 2),
            cn AS (SELECT label, SUM(cv * cv) AS nc FROM c GROUP BY 1),
            sims AS (
              SELECT t.label, t.vec_id,
                CASE WHEN t.nv = 0 OR n.nc = 0 THEN 0
                     ELSE CAST(ROUND(10000.0 * t.dot /
                       (sqrt(t.nv) * sqrt(n.nc))) AS BIGINT) END AS sim_e4
              FROM dots t JOIN cn n ON t.label = n.label),
            ranked AS (
              SELECT label, vec_id, sim_e4,
                row_number() OVER (PARTITION BY label
                  ORDER BY sim_e4, vec_id) AS rk
              FROM sims)
            SELECT label,
              CAST(COUNT(*) AS BIGINT) AS n_vecs,
              CAST(SUM(sim_e4) // COUNT(*) AS BIGINT) AS mean_sim_e4,
              CAST(MIN(sim_e4) AS BIGINT) AS min_sim_e4,
              CAST(SUM(CASE WHEN rk <= 3 THEN vec_id ELSE 0 END) AS BIGINT)
                AS outlier_checksum
            FROM ranked GROUP BY 1 ORDER BY label"""))

  // --------------------------------- l77 collocation / phrase table

  /** L77 — collocation table (the data-driven phrase discovery of
    * Mikolov et al. 2013 arXiv:1310.4546 §4, scored with the
    * discounted PMI-style statistic score(a,b) = (c(ab) − δ)·N /
    * (c(a)·c(b)), δ = 5 as published; Church & Hanks 1990 is the PMI
    * original): the top-20 adjacent word pairs whose joint count beats
    * independence — the phrase vocabulary a tokenizer or
    * entity-mining pass reads. Count bar c(ab) ≥ 10 (the published
    * min-count). All-integer scoring in millis: (c(ab)−5)·1000·N ÷
    * (c(a)·c(b)) — at 5M tokens the numerator tops at ~2.5·10¹⁶,
    * long-safe, and both engines divide identically.
    *
    * Scale shape: one unigram agg + one bigram agg (the l70/l41 token
    * shuffle family), two joins keyed on the type-grain word dict
    * (vocabulary-sized, not corpus-sized), a 1-row total broadcast,
    * and TakeOrdered 20. */
  val l77 = DQ(
    "l77_collocations",
    (s, d) => {
      val base = docs(s, d).filter(col("text").isNotNull)
        .withColumn("ta", split(lower(col("text")), "\\s+"))
      val uni = base.select(explode(col("ta")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val total = uni.agg(sum("c").as("n"))
      base.filter(size(col("ta")) >= 2)
        .select(posexplode(expr(
          "transform(sequence(0, size(ta) - 2), " +
            "i -> struct(ta[i] AS w1, ta[i + 1] AS w2))")))
        .select(col("col.w1"), col("col.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 10L)
        .join(uni.select(col("w").as("w1"), col("c").as("n_w1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("c").as("n_w2")), Seq("w2"))
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
          col("n_w2"),
          expr("(n_pair - 5L) * 1000L * n div (n_w1 * n_w2)")
            .as("score_milli"))
        .orderBy(desc("score_milli"), col("w1"), col("w2"))
        .limit(20)
    },
    Some("""WITH t AS (
              SELECT string_split_regex(lower(text), '\s+') AS ta
              FROM documents WHERE text IS NOT NULL),
            uni AS (
              SELECT unnest(ta) AS w FROM t),
            uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c
                   FROM uni GROUP BY 1),
            total AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc),
            posn AS (
              SELECT ta, unnest(range(len(ta) - 1)) AS i
              FROM t WHERE len(ta) >= 2),
            pairs AS (
              SELECT ta[i + 1] AS w1, ta[i + 2] AS w2,
                CAST(COUNT(*) AS BIGINT) AS n_pair
              FROM posn GROUP BY 1, 2
              HAVING COUNT(*) >= 10)
            SELECT p.w1, p.w2, p.n_pair,
              u1.c AS n_w1, u2.c AS n_w2,
              CAST((p.n_pair - 5) * 1000 * t.n // (u1.c * u2.c) AS BIGINT)
                AS score_milli
            FROM pairs p
            JOIN uc u1 ON p.w1 = u1.w
            JOIN uc u2 ON p.w2 = u2.w
            CROSS JOIN total t
            ORDER BY score_milli DESC, w1, w2 LIMIT 20"""))

  // --------------------------------- l78 per-source PII exposure

  /** L78 — per-source PII exposure report: the privacy table of a
    * corpus datasheet (Gebru et al. 2021's datasheet questions; the
    * per-source PII audits of Dolma/RedPajama-class releases) — [[l32]]
    * scrubs the corpus globally, this reports WHICH provenance leaks
    * what, one row per (source, pii_type): docs carrying the type,
    * total occurrences, and occurrences per million corpus characters
    * (integer ppm — size-normalized so a big clean source and a small
    * leaky one rank honestly). Patterns and the planted-PII corpus are
    * [[CleaningQueries]]' own single definitions — the report cannot
    * drift from the scrub it plans.
    *
    * Scale shape: three codegen'd regex counts per row (no UDF), one
    * row-local unpivot to (source, type), one partial-aggregable
    * rollup on the (sources × 3) frame. No join, no corpus shuffle. */
  val l78 = DQ(
    "l78_pii_by_source",
    (s, d) => {
      val counted = CleaningQueries.piiPatterns.foldLeft(
          docs(s, d).withColumn("text2",
            expr(CleaningQueries.plantedPiiSql))) {
        case (df, (name, re)) =>
          df.withColumn(s"n_$name",
            regexp_count(col("text2"), lit(re)).cast("long"))
      }
      counted
        .select(col("source"), length(col("text2")).cast("long")
          .as("n_chars2"),
          explode(expr("array(" + CleaningQueries.piiPatterns.map {
            case (name, _) => s"struct('$name' AS pii_type, n_$name AS n)"
          }.mkString(", ") + ")")).as("p"))
        .select(col("source"), col("p.pii_type"), col("p.n"),
          col("n_chars2"))
        .groupBy("source", "pii_type")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n") > 0L, 1L).otherwise(0L)).as("docs_hit"),
          sum("n").as("n_occurrences"),
          expr("sum(n) * 1000000L div sum(n_chars2)").as("occ_ppm_chars"))
        .orderBy("source", "pii_type")
    },
    Some(s"""WITH pii AS (
              SELECT source, ${CleaningQueries.duckPlantedPiiSql} AS text2
              FROM documents),
            counted AS (
              SELECT source, len(text2) AS n_chars2,
                len(regexp_extract_all(text2,
                  '${CleaningQueries.piiPatterns(0)._2}')) AS n_email,
                len(regexp_extract_all(text2,
                  '${CleaningQueries.piiPatterns(1)._2}')) AS n_phone,
                len(regexp_extract_all(text2,
                  '${CleaningQueries.piiPatterns(2)._2}')) AS n_ip
              FROM pii),
            unpivoted AS (
              SELECT source, 'email' AS pii_type, n_email AS n, n_chars2
              FROM counted
              UNION ALL
              SELECT source, 'phone', n_phone, n_chars2 FROM counted
              UNION ALL
              SELECT source, 'ip', n_ip, n_chars2 FROM counted)
            SELECT source, pii_type,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
                AS docs_hit,
              CAST(SUM(n) AS BIGINT) AS n_occurrences,
              CAST(SUM(n) * 1000000 // SUM(n_chars2) AS BIGINT)
                AS occ_ppm_chars
            FROM unpivoted GROUP BY 1, 2 ORDER BY source, pii_type"""))

  // ------------------------------------------- l80 media report card

  /** L80 — per-source MEDIA report card, the media half of the
    * datasheet l67 gives text (Gebru et al. 2021's datasheet
    * questions; the per-source media audits of LAION/DataComp-class
    * releases): one row per provenance with item count, byte-duplicate
    * and perceptual-duplicate counts and milli rates, and l58's
    * quality-violation shares — the table an operator reads to see
    * WHICH source ships re-encoded copies vs byte re-crawls vs
    * low-quality media.
    *
    * One media corpus, three planted classes (l53's fixture
    * discipline, provenance inherited from the source doc): the base
    * payloads, a perceptual near-copy of every %10 == 0 doc (first
    * byte overwritten — the minimal re-encode), and a BYTE copy of
    * every %10 == 1 doc (the re-crawl). Decision arms mirror
    * [[graft.streaming.MediaAdmission]]'s precedence: byte identity
    * (sha256 of the payload) claims first, the pHash screen (l53's
    * band join + exact-Hamming verify, [[LlmQueries.PhashHammingMax]])
    * counts only hash-distinct matches to a smaller id.
    *
    * Oracle discipline: byte-dup and the l58 quality flags replay
    * GENUINELY in DuckDB hex (the payload IS sha256 hex by
    * construction — same-partition grouping and header arithmetic,
    * l13/l58's move); the perceptual arm is construction-pinned (the
    * one-byte perturbation flips ≤ 2 signature bits, so ≤ 3-Hamming
    * banding finds every planted pair by pigeonhole — l53's argument —
    * and the corpus measures ZERO natural ≤ 3-Hamming pairs at every
    * shipped SF, so flagged ≡ planted).
    *
    * Scale shape: signature + hash computed once on a lazily
    * checkpointed frame feeding the dup screens and the rollup; the
    * only exchanges are the 16-bit band keys, the candidate id pairs,
    * and the (sources × flags) rollup — no all-pairs, no corpus
    * re-join (provenance rides through the typed decode, l58's
    * one-scan move). */
  val l80 = DQ(
    "l80_media_by_source",
    (s, d) => {
      import org.apache.spark.sql.Encoders
      val dd = docs(s, d)
      val off = LlmQueries.plantedOffset(dd, "doc_id")
      val basem = dd.select(col("doc_id").cast("long").as("doc_id"),
        col("source"),
        graft.functions.Multimodal.payloadCol(col("doc_id")).as("payload"))
      val pert = basem.filter(col("doc_id") % 10 === 0)
        .crossJoin(broadcast(off))
        .select((col("doc_id") + col("_off")).as("doc_id"), col("source"),
          concat(lit(Array[Byte](0x7F.toByte)),
            expr("substring(payload, 2, 31)")).as("payload"))
      val bytec = basem.filter(col("doc_id") % 10 === 1)
        .crossJoin(broadcast(off))
        .select((col("doc_id") + col("_off") * 2).as("doc_id"),
          col("source"), col("payload"))
      val media = basem.unionByName(pert).unionByName(bytec)
        .withColumn("hx", sha2(col("payload"), 256))
        .withColumn("sig", graft.functions.Multimodal.sigCol(col("payload")))
        .localCheckpoint()
      val byteDup = media
        .join(media.groupBy("hx").agg(min("doc_id").as("_mn")), Seq("hx"))
        .filter(col("doc_id") > col("_mn"))
        .select("doc_id").withColumn("_bd", lit(true))
      val bands = graft.functions.Multimodal.sigBandFrame(
        media.select("doc_id", "sig"))
      val percDup = bands.as("x").join(bands.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
        .distinct()
        .join(media.select(col("doc_id").as("ida"), col("sig").as("siga"),
          col("hx").as("hxa")), "ida")
        .join(media.select(col("doc_id").as("idb"), col("sig").as("sigb"),
          col("hx").as("hxb")), "idb")
        .filter(bit_count(col("siga").bitwiseXOR(col("sigb"))) <=
          lit(LlmQueries.PhashHammingMax) && col("hxa") =!= col("hxb"))
        .select(col("idb").as("doc_id")).distinct()
        .withColumn("_pd", lit(true))
      val hdr = graft.functions.Multimodal.decodeStubTagged(
        media.select(col("doc_id"), col("source").as("tag"), col("payload"))
          .as[graft.functions.Multimodal.MediaRawTagged](
            Encoders.product[graft.functions.Multimodal.MediaRawTagged]))
        .toDF().withColumnRenamed("tag", "source")
      hdr
        .join(byteDup, Seq("doc_id"), "left")
        .join(percDup, Seq("doc_id"), "left")
        .withColumn("bd", coalesce(col("_bd"), lit(false)))
        // MediaAdmission's precedence: the byte claim wins, the
        // perceptual arm counts only what byte identity cannot see
        .withColumn("pd", coalesce(col("_pd"), lit(false)) && !col("bd"))
        .withColumn("small",
          col("width") < LlmQueries.MediaMinDim ||
            col("height") < LlmQueries.MediaMinDim)
        .withColumn("extreme",
          greatest(col("width"), col("height")).cast("long") >
            lit(LlmQueries.MediaAspectMax) *
              least(col("width"), col("height")).cast("long"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_items"),
          sum(when(col("bd"), 1L).otherwise(0L)).as("n_byte_dup"),
          sum(when(col("pd"), 1L).otherwise(0L)).as("n_perceptual_dup"),
          sum(when(col("small"), 1L).otherwise(0L)).as("n_small"),
          sum(when(col("extreme"), 1L).otherwise(0L)).as("n_extreme_aspect"),
          coalesce(sum(when(col("bd") || col("pd"), col("doc_id"))), lit(0L))
            .as("dup_checksum"))
        .withColumn("byte_dup_milli",
          round(col("n_byte_dup") * lit(1000.0) / col("n_items")).cast("long"))
        .withColumn("perceptual_dup_milli",
          round(col("n_perceptual_dup") * lit(1000.0) / col("n_items"))
            .cast("long"))
        .orderBy("source")
    },
    Some(s"""WITH off AS (SELECT COALESCE(MAX(doc_id), -1) + 1 AS o
                          FROM documents),
            m AS (
              SELECT doc_id, source, sha256('media:' || doc_id) AS px,
                0 AS kind
              FROM documents
              UNION ALL
              SELECT doc_id + o, source,
                '7f' || substr(sha256('media:' || doc_id), 3, 62), 1
              FROM documents, off WHERE doc_id % 10 = 0
              UNION ALL
              SELECT doc_id + 2 * o, source, sha256('media:' || doc_id), 2
              FROM documents, off WHERE doc_id % 10 = 1),
            f AS (
              SELECT doc_id, source, kind,
                CAST(concat('0x', substr(px, 1, 4)) AS INTEGER) AS w,
                CAST(concat('0x', substr(px, 5, 4)) AS INTEGER) AS ht,
                doc_id > MIN(doc_id) OVER (PARTITION BY px) AS bd,
                kind = 1 AS pd
              FROM m)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_items,
              CAST(SUM(CASE WHEN bd THEN 1 ELSE 0 END) AS BIGINT)
                AS n_byte_dup,
              CAST(SUM(CASE WHEN pd AND NOT bd THEN 1 ELSE 0 END) AS BIGINT)
                AS n_perceptual_dup,
              CAST(SUM(CASE WHEN w < ${LlmQueries.MediaMinDim}
                OR ht < ${LlmQueries.MediaMinDim} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_small,
              CAST(SUM(CASE WHEN GREATEST(w, ht) >
                ${LlmQueries.MediaAspectMax} * LEAST(w, ht)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme_aspect,
              CAST(COALESCE(SUM(CASE WHEN bd OR (pd AND NOT bd)
                THEN doc_id END), 0) AS BIGINT) AS dup_checksum,
              CAST(ROUND(SUM(CASE WHEN bd THEN 1 ELSE 0 END) * 1000.0
                / COUNT(*)) AS BIGINT) AS byte_dup_milli,
              CAST(ROUND(SUM(CASE WHEN pd AND NOT bd THEN 1 ELSE 0 END)
                * 1000.0 / COUNT(*)) AS BIGINT) AS perceptual_dup_milli
            FROM f GROUP BY 1 ORDER BY source"""))

  val all: Seq[DQ] = Seq(l66, l67, l68, l69, l70, l71, l72, l73, l74,
    l75, l76, l77, l78, l80)
}
