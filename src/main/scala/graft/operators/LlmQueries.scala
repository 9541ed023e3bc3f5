package graft.operators

import graft.{DQ, Tables}
import graft.functions.{Ivf, MinHash, Multimodal, SimHash, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over the `documents` /
  * `embeddings` tables (north-star extension beyond the reference's own
  * surface — SURVEY.md §7.1 step 5).
  *
  * Dedup family: exact (hash groupBy), MinHash+banded-LSH, SimHash,
  * n-gram Jaccard verification. Similarity: brute-force cosine top-k
  * (baseline) and a hyperplane-LSH bucketed variant (scale path). Text
  * analysis: per-language stats, BPE-ish token counting, quality scoring,
  * language-ID heuristic, rolling-hash fingerprinting. Multimodal: binary
  * payload decode plumbing + a text⋈embedding joint frame.
  *
  * Scale stance (100 TB): every candidate-pair generator is bucketed
  * (band equi-joins) — NOTHING here is all-pairs; signature aggregations
  * are partial-aggregable; per-row text math is codegen'd built-ins and
  * per-row vector math is the native `graft_dot`/`graft_sqdist`
  * Catalyst expressions (`functions.NativeVectorExprs` — Spark's HOFs
  * are CodegenFallback, so the O(d) hot loops compile instead of paying
  * interpreted lambda dispatch); no shuffle carries vectors except the
  * final candidate re-joins; the only broadcasts are the 1-row query
  * vector and the k-row centroid frame.
  */
object LlmQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)
  private def embs(s: SparkSession, d: String): DataFrame = Tables.embeddings(s, d)

  /** Canonical content hash for exact dedup — shared by batch L1 and the
    * streaming ingest dedup ([[graft.streaming.StreamingDedup]]) so the
    * two can never disagree on what "same document" means. */
  private[graft] val normHash: Column = sha2(lower(trim(col("text"))), 256)

  /** Tokenize-once column: a frame carrying `_toks_pre` (the canonical
    * whitespace tokenization, PRE-computed and usually pinned in a
    * checkpoint) lets every tokenizing helper reuse it instead of
    * re-running the regex split per consumer. [[graft.operators
    * .ReleaseFlow.releaseDeferred]] pins it on the shard: decide()'s
    * screen arms (sketch, grams, stop-word stats) and the three
    * indexes' appends each read the same token arrays from the
    * checkpoint — one split instead of six. The column name is
    * reserved (leading underscore, never a data column), and the value
    * is BY CONSTRUCTION the same expression the helpers would compute,
    * so reuse is bit-identical. */
  private[graft] val PreTokens = "_toks_pre"
  private[graft] def tokensOf(df: DataFrame): Column =
    if (df.columns.contains(PreTokens)) col(PreTokens)
    else split(lower(col("text")), "\\s+")

  /** THE corpus quality rule, in one place (round-9: the rule was
    * inlined at three sites — l6's good/low gate, l19/l29's
    * low_quality arm — and the streaming admission gate makes a
    * fourth; a threshold drift between them would silently
    * desynchronize the gates). [[withStopBp]] appends the lowercase
    * whitespace tokens and the stopword share in basis points;
    * [[qualityKeep]] is the keep predicate over (n_chars, stop_bp). */
  private[graft] def withStopBp(df: DataFrame): DataFrame =
    df.withColumn("toks", tokensOf(df))
      .withColumn("stop_bp",
        round(size(expr(
          "filter(toks, t -> array_contains(array('the','a','value','table'), t))"))
          * lit(10000.0) / size(col("toks"))).cast("long"))

  private[graft] val qualityKeep: Column =
    col("n_chars") >= 200 && col("stop_bp") < 2500

  /** THE repetition rule, in one place for the same reason as
    * [[qualityKeep]]: batch [[l27]] and the streaming admission gate
    * must flag the identical documents. [[top2Bp]] is the Gopher
    * 2-gram statistic — the share (basis points) of 2-gram occurrences
    * covered by the single most frequent 2-gram, via the row-local
    * native expression. NULL-SAFE by construction: a sub-2-token array
    * has no 2-grams, so the statistic is null (nothing repeats), NOT a
    * division by the zero denominator — under ANSI mode (Spark 4.1
    * default, and this engine runs ansi=true) an unguarded divide
    * would THROW [DIVIDE_BY_ZERO] rather than null out, so the guard
    * lives here where every caller (batch [[l27]], the streaming
    * admission `repetitive` arm) inherits it.
    * [[RepetitionFlagBp]] is the published-rule bar realized for this
    * corpus (see l27's scaladoc). */
  private[graft] def top2Bp(ta: Column): Column =
    when(size(ta) >= 2,
      round(call_function("graft_topgram_stats", ta).getItem(0) * lit(10000.0) /
        (size(ta) - 1).cast("long")).cast("long"))

  private[graft] val RepetitionFlagBp = 1000L

  /** THE full Gopher ladder (Rae et al. 2021 Table A1), in one place
    * for the same reason as [[qualityKeep]]: batch [[l27b]] and the
    * streaming admission `repetitive` arm must flag the identical
    * documents. Returns the four row-local flags in ladder order —
    * duplicate-line fraction (> 0.30) and the top 2-/3-/4-gram
    * CHARACTER coverages (> 0.20/0.18/0.16) — each integer-exact, each
    * computed from the doc's own text/tokens only (one native
    * `graft_topgram_stats` call, no explode, no shuffle). A width with
    * no grams reports 0 coverage and can never flag; a null text nulls
    * every flag (callers' quality guard routes that case first).
    *
    * One realization pin beyond the published thresholds: a coverage
    * flag additionally requires the top gram to OCCUR ≥ 2 times. A
    * singleton gram is not repetition — it is just a long word run —
    * and at Gopher's web-document lengths the condition is vacuous (a
    * once-occurring 4-gram cannot cover 16% of a 2 KB page), but at
    * this corpus' ~200-char documents a unique-token doc's longest
    * 4-gram can clear the bar arithmetically. Same move as
    * [[RepetitionFlagBp]]: the published rule realized so short docs
    * don't degenerate. */
  private[graft] def ladderFlags(text: Column, ta: Column): Seq[Column] = {
    val lines = split(text, "\n")
    val nChars = length(text).cast("long")
    val tg = call_function("graft_topgram_stats", ta)
    def covFlag(i: Int, pct: Int): Column =
      tg.getItem(i - 1) >= lit(2L) &&
        tg.getItem(i) * lit(100L) > lit(pct.toLong) * nChars
    Seq(
      (size(lines).cast("long") - size(array_distinct(lines)).cast("long"))
        * lit(100L) > lit(30L) * size(lines).cast("long"),
      covFlag(1, 20), covFlag(3, 18), covFlag(5, 16))
  }

  // ---------------------------------------------------------------- dedup

  /** L1 — exact deduplication: normalize → sha256 → hash groupBy keeping
    * the smallest doc_id per content hash (the canonical "keep first"
    * policy). One partial-aggregable hash agg; scales linearly. */
  val l1 = DQ(
    "l1_exact_dedup",
    (s, d) =>
      docs(s, d)
        .select(normHash.as("h"), col("doc_id"))
        .groupBy("h")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .agg(
          count(lit(1)).as("n_unique"),
          sum("keep_id").as("kept_id_sum"),
          sum("n_copies").as("n_docs"),
          (sum("n_copies") - count(lit(1))).as("n_dupes")),
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_unique,
            CAST(SUM(keep_id) AS BIGINT) AS kept_id_sum,
            CAST(SUM(n_copies) AS BIGINT) AS n_docs,
            CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_dupes
            FROM (SELECT sha256(lower(trim(text))) AS h, MIN(doc_id) AS keep_id,
                         COUNT(*) AS n_copies
                  FROM documents GROUP BY 1)"""))

  /** L2 — per-source dedup accounting (duplicate rate by provenance, the
    * first report any corpus curation run produces). */
  val l2 = DQ(
    "l2_dedup_by_source",
    (s, d) =>
      docs(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), countDistinct(normHash).as("n_unique"))
        .orderBy("source"),
    Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(COUNT(DISTINCT sha256(lower(trim(text)))) AS BIGINT) AS n_unique
            FROM documents GROUP BY source ORDER BY source"""))

  // ------------------------------------------------- similarity search

  /** L3 — brute-force cosine top-k (the correctness baseline every ANN
    * variant is measured against): fixed query vector (vec_id=0) against
    * all others. Full scan + per-row O(d) HOF math + TakeOrdered — no
    * shuffle of the vectors themselves. Similarity is reported ×10000 as
    * a long so the hash compare is float-drift-free, and the ordering is
    * on the ROUNDED value (deterministic across engines). */
  val l3 = DQ(
    "l3_cosine_topk",
    (s, d) => {
      val e = embs(s, d).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q)) // 1-row broadcast: BroadcastNestedLoop over a single row
        .withColumn("sim_e4",
          round(lit(10000) * VectorOps.cosineNative(col("v"), col("qv"))).cast("long"))
        .select("vec_id", "sim_e4")
        .orderBy(col("sim_e4").desc, col("vec_id"))
        .limit(10)
    },
    Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 0)
            SELECT e.vec_id AS vec_id,
              CAST(ROUND(10000 * list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(q.qv, q.qv)))) AS BIGINT) AS sim_e4
            FROM embeddings e, q WHERE e.vec_id <> 0
            ORDER BY sim_e4 DESC, vec_id LIMIT 10"""))

  // ---------------------------------------------------- text analysis

  /** L4 — per-language corpus stats: docs, whitespace tokens, distinct
    * vocabulary, character volume. explode + two partial-aggregable hash
    * aggs joined on the 5-row lang key. */
  val l4 = DQ(
    "l4_lang_stats",
    (s, d) => {
      val dd = docs(s, d)
      val toks = dd.select(col("lang"), explode(split(col("text"), "\\s+")).as("tok"))
      val tokAgg = toks.groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"), countDistinct("tok").as("n_distinct_tokens"))
      val docAgg = dd.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
      docAgg.join(tokAgg, "lang").orderBy("lang")
    },
    Some("""WITH t AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                              CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
                       FROM (SELECT lang, unnest(string_split_regex(text, '\s+')) AS tok
                             FROM documents)
                       GROUP BY lang),
                 d0 AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
                        FROM documents GROUP BY lang)
            SELECT d0.lang AS lang, n_docs, sum_chars, n_tokens, n_distinct_tokens
            FROM d0 JOIN t ON d0.lang = t.lang ORDER BY lang"""))

  /** L5 — token counting with a BPE-ish pre-tokenizer regex (letter runs,
    * digit runs, single punctuation — the GPT-2-style split shape):
    * per-source token volume. Pure per-row regex + hash agg. */
  val l5 = DQ(
    "l5_token_count",
    (s, d) =>
      docs(s, d)
        .select(col("source"),
          size(VocabIndex.tokens(col("text"))).as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          max("n_tok").as("max_tokens"))
        .orderBy("source"),
    Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
            CAST(MAX(n_tok) AS BIGINT) AS max_tokens
            FROM (SELECT source,
                    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tok
                  FROM documents)
            GROUP BY source ORDER BY source"""))

  /** L6 — document quality scoring: stopword share (basis points) and
    * size gates classify docs good/low; counts by (lang, quality). The
    * per-row metrics are HOF/regex only — the filter-then-count shape of
    * every corpus quality pass. */
  val l6 = DQ(
    "l6_quality_score",
    (s, d) =>
      withStopBp(docs(s, d))
        .withColumn("quality", when(qualityKeep, "good").otherwise("low"))
        .groupBy("lang", "quality")
        .agg(count(lit(1)).as("n"), sum("stop_bp").as("sum_stop_bp"))
        .orderBy("lang", "quality"),
    Some("""SELECT lang,
            CASE WHEN n_chars >= 200 AND stop_bp < 2500 THEN 'good' ELSE 'low' END AS quality,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(stop_bp) AS BIGINT) AS sum_stop_bp
            FROM (SELECT lang, n_chars,
                    CAST(ROUND(len(list_filter(string_split_regex(lower(text), '\s+'),
                           t -> list_contains(['the','a','value','table'], t)))
                         * 10000.0 / len(string_split_regex(lower(text), '\s+'))) AS BIGINT)
                      AS stop_bp
                  FROM documents)
            GROUP BY lang, quality ORDER BY lang, quality"""))

  /** L7 — language-ID by marker-token scoring (the n-gram-profile
    * heuristic: score each language's marker set, argmax with a fixed
    * precedence). Confusion counts by (lang, pred). On this synthetic
    * corpus the markers are vocabulary words — the operator shape (N
    * profile scores + argmax per row) is what matters. */
  val l7 = DQ(
    "l7_langid",
    (s, d) => {
      val profiles = Seq(
        "en" -> Seq("the", "a"),
        "de" -> Seq("agg", "hash"),
        "es" -> Seq("row", "scan"),
        "fr" -> Seq("join", "merge"),
        "zh" -> Seq("window", "stream"))
      val base = docs(s, d).withColumn("toks", split(lower(col("text")), "\\s+"))
      val scored = profiles.foldLeft(base) { case (df, (lang2, marks)) =>
        val arr = marks.map(m => s"'$m'").mkString(",")
        df.withColumn(s"s_$lang2",
          size(expr(s"filter(toks, t -> array_contains(array($arr), t))")))
      }
      scored
        .withColumn("pred",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
            col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
            .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") &&
              col("s_de") >= col("s_zh"), "de")
            .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
            .when(col("s_fr") >= col("s_zh"), "fr")
            .otherwise("zh"))
        .groupBy("lang", "pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    },
    Some("""SELECT lang, pred, CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT lang,
                    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                         WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                         WHEN s_fr >= s_zh THEN 'fr'
                         ELSE 'zh' END AS pred
                  FROM (SELECT lang,
                          len(list_filter(toks, t -> list_contains(['the','a'], t))) AS s_en,
                          len(list_filter(toks, t -> list_contains(['agg','hash'], t))) AS s_de,
                          len(list_filter(toks, t -> list_contains(['row','scan'], t))) AS s_es,
                          len(list_filter(toks, t -> list_contains(['join','merge'], t))) AS s_fr,
                          len(list_filter(toks, t -> list_contains(['window','stream'], t))) AS s_zh
                        FROM (SELECT lang, string_split_regex(lower(text), '\s+') AS toks
                              FROM documents)))
            GROUP BY lang, pred ORDER BY lang, pred"""))

  /** L8 — document fingerprinting: polynomial rolling hash over the
    * character stream (base 31 mod 1e9+7), folded with a codegen'd HOF —
    * the per-row O(len) content fingerprint used for cheap shard-local
    * dedup before any shuffle. */
  val l8 = DQ(
    "l8_fingerprint",
    (s, d) =>
      docs(s, d)
        .select(expr(
          """aggregate(transform(split(text, ''), c -> cast(ascii(c) as bigint)),
             cast(0 as bigint), (acc, x) -> (acc * 31 + x) % 1000000007)""").as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("fp").as("n_fp"),
          sum("fp").as("fp_sum")),
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
            CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fp,
            CAST(SUM(fp) AS BIGINT) AS fp_sum
            FROM (SELECT list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
                    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
                  FROM documents)"""))

  // ------------------------------------------- near-dup (bucketed LSH)

  /** Collision-free id offset for planted duplicates as a 1-row frame:
    * a fixed constant (the round-3 review caught `+10000`) silently
    * collides with real ids once the corpus outgrows it; max+1 cannot.
    * Computed INSIDE the query plan (the round-3 verdict caught the
    * previous eager `.head()` at plan-build time — an untimed driver
    * action that at 100 TB is a full extra scan before planning) and
    * attached via a 1-row broadcast cross join. `coalesce(max, -1) + 1`
    * keeps an empty corpus at offset 0 instead of an NPE. */
  private[operators] def plantedOffset(dd: DataFrame, idCol: String): DataFrame =
    dd.agg((coalesce(max(col(idCol)), lit(-1L)) + lit(1L)).as("_off"))

  /** THE planting rule, in one place: ids divisible by [[PlantedEvery]]
    * get a planted near-duplicate copy. [[planted]]/[[plantedVecs]] and
    * every planted-recall counter (l9/l10/l14/l26) derive from this
    * predicate, so a density change cannot silently desynchronize a
    * query's invariant columns from the frame it measures. */
  private[operators] val PlantedEvery = 10
  private[operators] def isPlantedSrc(id: Column): Column =
    id % PlantedEvery === 0

  /** Documents plus planted near-duplicates (every doc_id % 10 == 0 is
    * re-added at id+offset with its first token dropped) so near-dup
    * recall is verifiable by construction on any corpus snapshot. */
  private[operators] def planted(dd: DataFrame): DataFrame = {
    val base = dd.select("doc_id", "text")
    val dups = dd.filter(isPlantedSrc(col("doc_id")))
      .crossJoin(broadcast(plantedOffset(dd, "doc_id")))
      .select((col("doc_id") + col("_off")).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
    base.unionByName(dups)
  }

  /** Banded-LSH bucket keys from a (doc_id, sig) minhash-signature
    * frame: 16 bands × 4 rows. Band key = overflow-free modular fold of
    * the 4-row slice (acc stays < 1e9+7, so acc*31 never leaves the
    * long range under ANSI mode; the xor folds in the full 64-bit
    * minhash value). Shared with the spec so the test exercises the
    * production bucketing, not a copy. */
  private[graft] def minhashBuckets(sigs: DataFrame, keep: Seq[String] = Nil): DataFrame =
    sigs.select(Seq(col("doc_id"), explode(expr(
      """transform(sequence(0, 15), i ->
           struct(i as band_id,
                  aggregate(slice(sig, i * 4 + 1, 4), cast(98765 as bigint),
                            (acc, x) -> pmod((acc * 31) ^ x, 1000000007)) as bkey))"""))
      .as("b")) ++ keep.map(col): _*)
      .select(Seq(col("doc_id"), col("b.band_id"), col("b.bkey")) ++ keep.map(col): _*)

  /** Word 3-shingles per document as 64-bit shingle hashes, exploded to
    * (doc_id, sh) rows — NOT deduplicated: a repeated shingle within a
    * doc emits a repeated row. Every consumer is duplicate-insensitive
    * (MinHash takes a min; the shingle SET is recovered via collect_set
    * in the same aggregation), which saves the corpus-wide distinct
    * shuffle a pre-deduped frame would cost. Shingles are hashed at the
    * map side, so downstream only ever carries 8-byte keys — the shingle
    * strings never leave the scan stage. (A 64-bit collision would merge
    * two shingles corpus-wide; at any realistic vocabulary that is ~0
    * and only nudges a Jaccard estimate, exactly like MinHash's own
    * hashing.) */
  private[operators] def shingles(dd: DataFrame): DataFrame = {
    graft.functions.NativeTextExprs.ensureRegistered(dd.sparkSession)
    dd.withColumn("toks", split(lower(col("text")), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(call_function("graft_gram_hash64", col("toks"), lit(3)))
          .as("sh"))
  }

  /** SHUFFLE-FREE per-document sketch — the map-side stage shared by
    * batch l9 and the streaming near-dup screen
    * ([[graft.streaming.StreamingNearDup]]), so the two compute
    * identical sketches by construction: `documents` is one row per
    * doc, so the distinct shingle-hash set is an `array_distinct` over
    * the in-row transform (bounded by document size — docs are KBs even
    * when the corpus is 100 TB) and the K=64 signature is the native
    * codegen'd `graft_minhash` over that array, all inside the scan's
    * WholeStageCodegen span. No explode, no aggregation, no exchange.
    * Docs under 3 tokens have no 3-shingle and are dropped, exactly as
    * the exploded form drops them. Output: (doc_id, shs, n_sh, sig) +
    * any `keep` columns passed through. */
  private[graft] def docSketch(dd: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    graft.functions.NativeVectorExprs.ensureRegistered(dd.sparkSession)
    // sketch-once reuse (the [[PreTokens]] discipline one level up): a
    // frame already carrying the reserved sketch columns — the release
    // gates' pinned shard ([[graft.operators.ReleaseFlow]]) computes
    // them once into the checkpoint — projects them instead of
    // re-running the shingle transform + signature per consumer
    // (screen bands, screen verify, index append = three re-sketches
    // per release before this). Bit-identical by construction:
    // [[withSketchPre]] builds the same expressions, nulled exactly
    // where this branch's size(toks) >= 3 filter drops.
    if (carriesSketch(dd))
      dd.filter(col(PreShs).isNotNull)
        .select(Seq(col("doc_id"), col(PreShs).as("shs")) ++ keep.map(col) ++
          Seq(size(col(PreShs)).cast("long").as("n_sh"),
            col(PreSig).as("sig")): _*)
    else {
      graft.functions.NativeTextExprs.ensureRegistered(dd.sparkSession)
      dd.withColumn("toks", tokensOf(dd))
        .filter(size(col("toks")) >= 3)
        .select((Seq(col("doc_id"), array_distinct(
          call_function("graft_gram_hash64", col("toks"), lit(3)))
          .as("shs")) ++ keep.map(col)): _*)
        .withColumn("n_sh", size(col("shs")).cast("long"))
        .withColumn("sig", call_function("graft_minhash", col("shs")))
    }
  }

  /** Reserved pre-computed MinHash sketch columns — [[PreTokens]]'s
    * sibling discipline: the distinct 3-shingle hash array and the
    * K=64 signature, computed ONCE into a pinned frame and reused by
    * every [[docSketch]] consumer. Null for docs under 3 tokens, which
    * is exactly the set docSketch's own filter drops. */
  private[graft] val PreShs = "_shs_pre"
  private[graft] val PreSig = "_sig_pre"

  private[graft] def carriesSketch(df: DataFrame): Boolean =
    df.columns.contains(PreShs) && df.columns.contains(PreSig)

  /** Reserved positional SpanK-gram-hash array ([[SamplingQueries
    * .spanGramHashes]]) — the remaining compute-heavy per-doc
    * derivation the release gates re-ran per consumer. */
  private[graft] val PreGrams = "_grams_pre"

  /** The full gate-pin pre-computation: [[withSketchPre]] plus the
    * span-gram array. One pinned materialization then serves the
    * near-dup screen (bands + verify), the verbatim screen, and the
    * neardup sketch/bands and substring positional-gram appends — each
    * consumer a projection of the checkpoint instead of its own
    * gram/shingle pass. */
  private[graft] def withGatePre(df: DataFrame): DataFrame =
    withSketchPre(df)
      .withColumn(PreGrams, SamplingQueries.spanGramHashes(PreTokens))

  /** Append [[PreShs]]/[[PreSig]] — the same expressions [[docSketch]]
    * computes (same shingle hashing, same native signature), nulled
    * where the doc has no 3-shingle. Callers pin the result
    * (localCheckpoint) so the sketch prices once per frame. */
  private[graft] def withSketchPre(df: DataFrame): DataFrame = {
    graft.functions.NativeVectorExprs.ensureRegistered(df.sparkSession)
    graft.functions.NativeTextExprs.ensureRegistered(df.sparkSession)
    // native gram-hash kernel (graft_gram_hash64): byte-identical hashes
    // to the transform/concat_ws form, null exactly where size < 3
    df.withColumn(PreShs,
        array_distinct(call_function("graft_gram_hash64", tokensOf(df), lit(3))))
      .withColumn(PreSig, when(col(PreShs).isNotNull,
        call_function("graft_minhash", col(PreShs))))
  }

  /** L9 — MinHash + banded LSH near-duplicate detection, the canonical
    * web-scale near-dup pipeline (shingle → K=64 minhash via the typed
    * Aggregator → 16 bands × 4 rows → bucket equi-join → exact Jaccard
    * only on candidates). NO all-pairs step anywhere: candidates come
    * from band-bucket equi-joins.
    *
    * The document stage is SHUFFLE-FREE: `documents` is one row per doc,
    * so the distinct shingle-hash set is computed map-side as an array
    * (`array_distinct(transform(...))` — bounded by document size; docs
    * are KBs even when the corpus is 100 TB) and the signature by the
    * native codegen'd `graft_minhash` ([[graft.functions.MinHashSignature]])
    * over that array, all inside the scan's WholeStageCodegen span. No
    * explode, no aggregation, no exchange until the 16-byte band keys.
    * (Were documents pre-exploded or multi-row, [[MinHash.signature]]'s
    * typed Aggregator is the shuffle path that replaces this.)
    *
    * Exact Jaccard on candidates is `array_intersect` after joining the
    * pair frame to the doc-level frame on each side; both side-joins
    * shuffle that frame by the same key, so its exchange materializes
    * once (ReusedExchange) — the shingle corpus crosses the wire exactly
    * once end-to-end, vs. the original shape where an exploded shingle
    * frame fed four consumers ((pair,shingle) self-join ×2, counts,
    * sigs). No DuckDB oracle (signature hashing is not SQL-portable);
    * the spec pins recall on the planted dups, exact sf0.01 golden
    * invariants, and a cartesian-free plan. */
  /** L9's candidate stage as a reusable frame: banded-LSH candidate
    * pairs with their EXACT Jaccard — (ida, idb, jac_e4), ida < idb, no
    * threshold applied. Shared by l9's accounting aggregate and l28's
    * component closure so the two can never disagree on what a
    * near-dup pair is. Same dataflow as always: shuffle-free map-side
    * sketch, band-bucket equi-join, shingle frame shuffled ONCE
    * (ReusedExchange across the two side-joins). */
  private[graft] def candidatePairs(dd: DataFrame): DataFrame = {
    val docAgg = docSketch(dd)
    val buckets = minhashBuckets(docAgg.select("doc_id", "sig"))
    buckets.as("x")
      .join(buckets.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
      .distinct()
      .join(docAgg.select(col("doc_id").as("ida"),
        col("shs").as("sha"), col("n_sh").as("na")), "ida")
      .join(docAgg.select(col("doc_id").as("idb"),
        col("shs").as("shb"), col("n_sh").as("nb")), "idb")
      .withColumn("n_inter",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jac_e4",
        round(col("n_inter") * lit(10000.0) /
          (col("na") + col("nb") - col("n_inter"))).cast("long"))
      .select("ida", "idb", "jac_e4")
  }

  /** ONE checkpointed verified-pair frame per corpus snapshot
    * ([[graft.Tables.shared]]), shared by every consumer of the sketch
    * pipeline — l9's accounting, l28's closure, l29's curation,
    * [[graft.Report]]'s panels. Without it each of the three catalog
    * queries re-ran the whole shingle→signature→band→Jaccard subtree
    * from scratch (~9 s of the sf0.1 gate total combined) — and the
    * production shape is the same: sketch a corpus snapshot once, let
    * every downstream decision consume the same verified pairs. The
    * three queries' CORRECTNESS rows are pinned unchanged. */
  private[graft] def sharedPairs(s: SparkSession, d: String): DataFrame =
    Tables.shared(s, d, "pairs")(candidatePairs(planted(docs(s, d))))

  /** The trained IVF centroid frame for the RAW embeddings snapshot,
    * shared like [[sharedPairs]] and for the same reason: l26's cell
    * self-join references the centroids on BOTH sides, and an
    * un-materialized reference re-executes the whole Lloyd fold
    * (exchange reuse collapses only part of it — the executed plan
    * carried 69 corpus-scan nodes; memo + checkpoint measured
    * 2.93 → 2.08 s at sf0.1). The first construction per JVM trains;
    * every later one is action-free (PlanSpec pins the warm path). */
  private[graft] def sharedIvfCentroids(s: SparkSession, d: String): DataFrame =
    Tables.shared(s, d, "ivfCentroids") {
      val raw = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val n = Tables.rowCount(s, d, "embeddings")
      // trainSampled = the production path: identical below the sample
      // budget (every tested corpus), bounded Lloyd cost past the cap
      Ivf.trainSampled(raw, k = Ivf.cellCount(n), iters = 2, n = n)
    }

  /** The k that sized [[sharedIvfCentroids]]' training run — what the
    * memo's assignment consumers hand to [[Ivf.assignAuto]] so the
    * coarse arm engages exactly when this snapshot's k sits at
    * [[Ivf.CellCap]]. Derived from the same memoized row count, so no
    * extra action. */
  private[graft] def sharedIvfK(s: SparkSession, d: String): Int =
    Ivf.cellCount(Tables.rowCount(s, d, "embeddings"))

  /** L9's accounting rollup over a caller-supplied candidate-pair
    * frame — see [[sharedPairs]]. */
  private[graft] def l9From(s: SparkSession, d: String,
      pairs: DataFrame): DataFrame = {
      val dd = planted(docs(s, d))
      // In-plan invariants (there is no DuckDB oracle for this query, so
      // the driver's per-round record only pins row count + these
      // columns): planted-pair recall — a planted pair is (d, d+off)
      // with d % 10 == 0, found iff its Jaccard cleared the threshold —
      // and candidate volume per doc, the near-linear-growth claim. A
      // recall or density regression now shows up as a changed value in
      // CORRECTNESS_r{N}, not only in ScalaTest.
      val off = plantedOffset(docs(s, d), "doc_id")
      val nPlanted = docs(s, d)
        .filter(isPlantedSrc(col("doc_id")) &&
          size(split(lower(col("text")), "\\s+")) >= 4) // dup keeps >= 3 tokens
        .agg(count(lit(1)).as("n_planted"))
      val nDocs = dd.agg(count(lit(1)).as("_n_docs"))
      pairs
        .crossJoin(broadcast(off))
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("jac_e4") >= 6000, 1L).otherwise(0L)).as("n_near_dup"),
          coalesce(sum(when(col("jac_e4") >= 6000, col("ida") + col("idb"))), lit(0L))
            .as("pair_checksum"),
          coalesce(sum(when(col("jac_e4") >= 6000 && isPlantedSrc(col("ida")) &&
            col("idb") === col("ida") + col("_off"), 1L)), lit(0L))
            .as("n_planted_found"))
        .crossJoin(broadcast(nPlanted))
        .crossJoin(broadcast(nDocs))
        .withColumn("cand_per_doc_e2",
          round(col("n_candidates") * lit(100.0) / col("_n_docs")).cast("long"))
        .drop("_n_docs")
  }

  val l9 = DQ(
    "l9_minhash_neardup",
    (s, d) => l9From(s, d, sharedPairs(s, d)),
    None)

  /** L10 — SimHash near-dup: 64-bit signature per doc from token hashes,
    * 4×16-bit band buckets (pigeonhole-complete for Hamming ≤ 3), XOR
    * popcount only on bucket-mates. Same no-all-pairs discipline as L9,
    * plus the same in-join Hamming pre-filter as L14: template-generated
    * corpora cluster whole signatures, so band buckets collide far past
    * random (measured 280 078 bucket-mate pairs = 51× corpus at sf0.1);
    * `bit_count(sigA ^ sigB) <= 8` keeps every detectable pair (the
    * detection threshold is Hamming ≤ 3, with banding complete up to 3)
    * while dropping the clustered collisions before the distinct's
    * shuffle. */
  val l10 = DQ(
    "l10_simhash",
    (s, d) => {
      graft.functions.NativeVectorExprs.ensureRegistered(s)
      val dd = planted(docs(s, d))
      // documents is one row per doc → the token-hash MULTISET (SimHash
      // weighs duplicate occurrences) is computed map-side and the
      // signature by the native graft_simhash, bit-identical to
      // SimHash.signatures' 64-sum aggregation but with no explode and
      // no shuffle (same shape as l9's doc stage).
      val sigs = dd.select(col("doc_id"),
        call_function("graft_simhash",
          transform(split(lower(col("text")), "\\s+"), t => xxhash64(t))).as("sig"))
      val buckets = sigs.select(col("doc_id"), col("sig"),
        explode(SimHash.bands(col("sig"), 4)).as("b"))
        .select(col("doc_id"), col("sig"), col("b.band_id"), col("b.bval"))
      val pairs = buckets.as("x")
        .join(buckets.as("y"),
          col("x.band_id") === col("y.band_id") && col("x.bval") === col("y.bval") &&
            col("x.doc_id") < col("y.doc_id") &&
            bit_count(col("x.sig").bitwiseXOR(col("y.sig"))) <= 8)
        .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"),
          bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
        .distinct()
      // Planted-pair recall as in-plan invariant columns (no oracle →
      // these values are what the driver's per-round record pins).
      val off = plantedOffset(docs(s, d), "doc_id")
      val nPlanted = docs(s, d)
        .filter(isPlantedSrc(col("doc_id")) &&
          size(split(lower(col("text")), "\\s+")) >= 2) // dup keeps >= 1 token
        .agg(count(lit(1)).as("n_planted"))
      sigs.agg(count(lit(1)).as("n_docs"), countDistinct("sig").as("n_sig"))
        .crossJoin(
          // One pass over the candidate pairs: total candidate volume is
          // part of the output (like l9/l14) so bucket blowup is visible
          // and bounded by a spec instead of surfacing as a slow bench.
          pairs.crossJoin(broadcast(off)).agg(
            count(lit(1)).as("n_candidates"),
            coalesce(sum(when(col("hamming") <= 3, 1L)), lit(0L)).as("n_pairs_ham_le3"),
            coalesce(sum(when(col("hamming") <= 3, col("ida") + col("idb"))), lit(0L))
              .as("pair_checksum"),
            coalesce(sum(when(col("hamming") <= 3 && isPlantedSrc(col("ida")) &&
              col("idb") === col("ida") + col("_off"), 1L)), lit(0L))
              .as("n_planted_found")))
        .crossJoin(broadcast(nPlanted))
    },
    None)

  // ------------------------------------------------------- multimodal

  /** L11 — multimodal joint frame: documents ⋈ embeddings on id into one
    * frame holding text + vector + metadata, aggregated over both
    * modalities at once (char volume from text, L2 norms from vectors).
    * Per-row norm is rounded to ×10000 longs BEFORE the sum so the
    * distributed total is order-independent and oracle-exact. */
  val l11 = DQ(
    "l11_multimodal_stats",
    (s, d) => {
      val e = embs(s, d).select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"), col("label"))
      docs(s, d)
        .join(e, col("doc_id") === col("vec_id"))
        .select(col("lang"), col("label"), col("n_chars"),
          round(lit(10000) * VectorOps.normNative(col("v"))).cast("long").as("norm_e4"))
        .groupBy("lang", "label")
        .agg(count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"),
          sum("norm_e4").as("sum_norm_e4"))
        .orderBy("lang", "label")
    },
    Some("""SELECT lang, label, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
            CAST(SUM(norm_e4) AS BIGINT) AS sum_norm_e4
            FROM (SELECT d.lang, e.label, d.n_chars,
                    CAST(ROUND(10000 * sqrt(list_dot_product(
                      CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
                      AS BIGINT) AS norm_e4
                  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id)
            GROUP BY lang, label ORDER BY lang, label"""))

  /** Fixed random hyperplanes for sign-LSH over the 64-dim embeddings
    * (Charikar rounding): seeded, so the signature of any vector is a
    * stable pure function. 16 planes for the ANN query path (coarse
    * buckets are fine when candidates only join against ONE query's
    * bands); 64 for the near-dup path, which self-joins the whole
    * corpus and needs sparse buckets — see [[l14]]. */
  private[operators] lazy val hyperplanes16: Array[Array[Double]] = {
    val r = new scala.util.Random(20260813L)
    Array.fill(16)(Array.fill(64)(r.nextGaussian()))
  }

  private[operators] lazy val hyperplanes64: Array[Array[Double]] = {
    val r = new scala.util.Random(20260814L)
    Array.fill(64)(Array.fill(64)(r.nextGaussian()))
  }

  /** Append an n-bit sign signature column `sig` (bit j = sign of
    * v·plane_j) to a frame with vector column `v` (array<double>).
    * One native codegen'd expression ([[graft.functions.HyperplaneSignature]],
    * `graft_hpsig(v, planes)`) computes the whole n·d loop inside the
    * consuming WholeStageCodegen span — the earlier HOF fold
    * (`aggregate` over `graft_dot`) was CodegenFallback, paying
    * interpreted dispatch for the outer fold and forcing the inner dot
    * through its interpreted eval. The plane matrix rides along as ONE
    * foldable `typedlit` (attached to the generated class as a
    * reference object, not evaluated per row), and the inner dot
    * left-folds in array order, matching [[VectorOps.dot]] bit-for-bit,
    * so signatures are unchanged. */
  private[operators] def hyperplaneSig(df: DataFrame, planes: Array[Array[Double]]): DataFrame = {
    // graft_hpsig resolves against the frame's session at analysis time —
    // self-register for sessions not built via graft.Session.
    graft.functions.NativeVectorExprs.ensureRegistered(df.sparkSession)
    df.withColumn("sig", call_function("graft_hpsig",
      col("v"), typedLit(planes.map(_.toSeq).toSeq)))
  }

  /** L12 — LSH-bucketed approximate nearest neighbor (the scale path for
    * L3): 16 fixed random hyperplanes → 16-bit sign signature → 4×4-bit
    * band buckets (sigBits passed explicitly: the default 64-bit slicing
    * would leave bands 1-3 all-zero and every vector a candidate —
    * silent brute force, round-3 advice); candidates share ≥1 band with
    * the query, ranked by exact cosine. At 100 TB the full-scan L3
    * becomes a per-bucket scan here — the bucket join prunes the
    * candidate set before any O(d) math. Band construction and probe
    * are the shared [[AnnIndexes.lshBands]]/[[AnnIndexes.probeLsh]]:
    * this query composes build + probe into one gate-replayable plan,
    * while the steady state persists the band index once and probes it
    * many times ([[AnnIndexes.writeLsh]]; AnnIndexSpec pins
    * probe-from-parquet to this query's exact rows). The composed plan
    * probes via [[AnnIndexes.probeLshJoin]] — the bands here are an
    * in-plan frame, so the parquet path's collect-and-push-literals
    * trick would cost an eager job at build time for no scan pruning.
    * No oracle (hyperplane constants aren't SQL-portable); the spec
    * measures recall against L3. */
  val l12 = DQ(
    "l12_ann_lsh",
    (s, d) => {
      val e = embs(s, d).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val banded = AnnIndexes.lshBands(e)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val ann = AnnIndexes.probeLshJoin(banded, e, e.filter(col("vec_id") === 0),
        topK = 5, excludeId = 0L)
      // Recall vs the exact scan as an in-plan invariant column (no
      // oracle → the driver's record pins this value): how many of the
      // 5 ANN results are in the TRUE top-5. The exact pass is the L3
      // plan — priced only in this diagnostic query, not in the ANN
      // path itself.
      val exact5 = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("sim_e4",
          round(lit(10000) * VectorOps.cosineNative(col("v"), col("qv"))).cast("long"))
        .orderBy(col("sim_e4").desc, col("vec_id")).limit(5)
        .select(col("vec_id").as("_evid"))
      val overlap = ann.join(broadcast(exact5), col("vec_id") === col("_evid"))
        .agg(count(lit(1)).as("n_exact_top5_overlap"))
      ann.crossJoin(broadcast(overlap))
    },
    None)

  /** L13 — multimodal binary decode plumbing: synthesize binary payloads,
    * decode via the typed per-partition stub (`Multimodal.decodeStub`),
    * aggregate the decoded metadata. The oracle replays the deterministic
    * header arithmetic in hex, proving the binary path end-to-end. */
  val l13 = DQ(
    "l13_media_decode",
    (s, d) => {
      val meta = Multimodal.decodeStub(Multimodal.synthesize(docs(s, d)))
      meta.toDF().agg(
        count(lit(1)).as("n"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("height").cast("long")).as("sum_height"),
        sum(col("n_frames").cast("long")).as("sum_frames"),
        sum(size(col("sampled_frames")).cast("long")).as("sum_sampled"))
    },
    Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(w) AS BIGINT) AS sum_width,
            CAST(SUM(ht) AS BIGINT) AS sum_height,
            CAST(SUM(nf) AS BIGINT) AS sum_frames,
            CAST(SUM(CAST(CEIL(nf * 1.0 / GREATEST(1, nf // 4)) AS BIGINT)) AS BIGINT) AS sum_sampled
            FROM (SELECT CAST(concat('0x', substr(h, 1, 4)) AS INTEGER) AS w,
                         CAST(concat('0x', substr(h, 5, 4)) AS INTEGER) AS ht,
                         CAST(concat('0x', substr(h, 9, 2)) AS INTEGER) % 15 + 1 AS nf
                  FROM (SELECT sha256('media:' || doc_id) AS h FROM documents))"""))

  /** [[l58]]'s rule constants: minimum dimension (both axes) and the
    * aspect-ratio bound max(w,h) ≤ 4·min(w,h) — the published
    * image-pool screens (DataComp drops extreme aspect ratios, LAION
    * floors resolution). Against the synthesize header's uniform
    * 16-bit dimensions these split the corpus ~⅛ small, ~¼ extreme —
    * differential by construction at every sf. */
  private[graft] val MediaMinDim = 4096
  private[graft] val MediaAspectMax = 4L

  /** L58 — media quality filtering (the resolution/aspect screens every
    * published image pipeline runs before training — LAION's minimum
    * size, DataComp's aspect-ratio bound: decoded METADATA rules, no
    * pixel math, so they run at manifest speed): decode each payload's
    * header via the typed per-partition stub (the SAME
    * [[graft.functions.Multimodal.decodeStub]] as l13 — swap it for a
    * real codec and this DQ is unchanged), apply keep = width ≥ 4096 ∧
    * height ≥ 4096 ∧ max/min ≤ 4, and roll up per source: media seen,
    * per-rule violation counts, kept count/checksum, and the kept
    * pixel mass (the number a downstream compute-budget planner
    * actually wants).
    *
    * Scale shape: ONE corpus scan — provenance rides THROUGH the
    * typed decode ([[graft.functions.Multimodal.decodeStubTagged]],
    * same header arithmetic as l13's stub by construction) instead of
    * being re-joined afterwards, so there is no second documents scan
    * and no equi-join at all; decode is partition-local, then the
    * 20-row rollup. The oracle replays the header arithmetic in hex,
    * independently re-deriving the decode. */
  val l58 = DQ(
    "l58_media_quality",
    (s, d) => {
      import org.apache.spark.sql.Encoders
      val tagged = docs(s, d)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("source").as("tag"),
          Multimodal.payloadCol(col("doc_id")).as("payload"))
        .as[graft.functions.Multimodal.MediaRawTagged](
          Encoders.product[graft.functions.Multimodal.MediaRawTagged])
      Multimodal.decodeStubTagged(tagged).toDF()
        .withColumnRenamed("tag", "source")
        .withColumn("small",
          col("width") < MediaMinDim || col("height") < MediaMinDim)
        .withColumn("extreme",
          greatest(col("width"), col("height")).cast("long") >
            lit(MediaAspectMax) * least(col("width"), col("height")).cast("long"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_media"),
          sum(when(col("small"), 1L).otherwise(0L)).as("n_small"),
          sum(when(col("extreme"), 1L).otherwise(0L)).as("n_extreme_aspect"),
          sum(when(!col("small") && !col("extreme"), 1L).otherwise(0L))
            .as("n_kept"),
          coalesce(sum(when(!col("small") && !col("extreme"), col("doc_id"))),
            lit(0L)).as("kept_checksum"),
          coalesce(sum(when(!col("small") && !col("extreme"),
            col("width").cast("long") * col("height").cast("long"))),
            lit(0L)).as("kept_pixels"))
        .orderBy("source")
    },
    Some(s"""WITH hdr AS (
              SELECT doc_id, source,
                CAST(concat('0x', substr(h, 1, 4)) AS INTEGER) AS w,
                CAST(concat('0x', substr(h, 5, 4)) AS INTEGER) AS ht
              FROM (SELECT doc_id, source,
                      sha256('media:' || doc_id) AS h FROM documents)),
            flags AS (
              SELECT doc_id, source, w, ht,
                (w < $MediaMinDim OR ht < $MediaMinDim) AS small,
                (GREATEST(w, ht) > $MediaAspectMax * LEAST(w, ht)) AS extreme
              FROM hdr)
            SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_media,
              CAST(SUM(CASE WHEN small THEN 1 ELSE 0 END) AS BIGINT)
                AS n_small,
              CAST(SUM(CASE WHEN extreme THEN 1 ELSE 0 END) AS BIGINT)
                AS n_extreme_aspect,
              CAST(SUM(CASE WHEN NOT small AND NOT extreme THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
              CAST(COALESCE(SUM(CASE WHEN NOT small AND NOT extreme
                THEN doc_id END), 0) AS BIGINT) AS kept_checksum,
              CAST(COALESCE(SUM(CASE WHEN NOT small AND NOT extreme
                THEN CAST(w AS BIGINT) * ht END), 0) AS BIGINT) AS kept_pixels
            FROM flags GROUP BY 1 ORDER BY source"""))

  /** [[l53]]'s verify bar: candidate pairs match at Hamming ≤ 3 of 64
    * signature bits (the published pHash practice band). The planted
    * one-byte perturbation can flip at most 2 bits — a byte moves
    * between two histogram bins and the normalized histogram's mean is
    * CONSTANT (1/64), so only those two bins can cross the threshold —
    * and ≤ 3 differing bits cannot dodge all four 16-bit bands
    * (pigeonhole), so planted recall is exactly 100% by construction,
    * not probabilistically. */
  private[graft] val PhashHammingMax = 3

  /** L53 — multimodal perceptual-hash near-dup (the image-dedup pass of
    * published multimodal corpus pipelines — LAION's pHash-based URL
    * dedup, DataComp's image dedup baselines: near-identical media that
    * BYTE-level hashing cannot see, because a re-encode/resize changes
    * every byte). Stub discipline per the brief: the codec/DCT stage is
    * the deterministic byte-histogram features ([[Multimodal
    * .extractFeatures]] — this container has no image libs), while
    * everything around it is the real pipeline — typed per-partition
    * feature extraction, the sign-threshold 64-bit signature
    * ([[Multimodal.perceptualHash]], the pHash thresholding rule), 4×16
    * banded LSH candidate generation, and exact-Hamming verification —
    * l10's simhash shape on the MEDIA column. Planted near-dups: every
    * %10 doc's payload re-appears at id+offset with ONE byte overwritten
    * (the minimal "re-encoded copy"), and the result row carries the
    * planted recall and natural-match counters as in-plan invariants
    * (no oracle — binary + typed maps are not SQL-portable; the spec
    * additionally recomputes signatures driver-side).
    *
    * Scale shape: features and signatures are partition-local typed
    * maps (no shuffle); the only exchanges are the 16-bit band keys and
    * the candidate id pairs; verification joins signatures (8 bytes)
    * not payloads. No all-pairs anywhere. */
  val l53 = DQ(
    "l53_media_phash_dedup",
    (s, d) => {
      import org.apache.spark.sql.Encoders
      val dd = docs(s, d)
      val off = plantedOffset(dd, "doc_id")
      val basePayload = dd.select(col("doc_id"),
        Multimodal.payloadCol(col("doc_id")).as("payload"))
      val perturbed = basePayload.filter(isPlantedSrc(col("doc_id")))
        .crossJoin(broadcast(off))
        .select((col("doc_id") + col("_off")).as("doc_id"),
          concat(lit(Array[Byte](0x7F.toByte)),
            expr("substring(payload, 2, 31)")).as("payload"))
      val media = basePayload.unionByName(perturbed)
      val raw = media.as[graft.functions.Multimodal.MediaRaw](
        Encoders.product[graft.functions.Multimodal.MediaRaw])
      // the signature frame feeds the band join (twice) and the verify
      // joins — checkpointed lazily once (l33/l48's shared-subtree
      // discipline) so the typed feature+signature maps run one time
      val sigs = graft.functions.Multimodal.perceptualHash(
        graft.functions.Multimodal.extractFeatures(raw, bins = 64)).toDF()
        .localCheckpoint()
      val bands = graft.functions.Multimodal.sigBandFrame(sigs)
      val plantedPairs = dd.filter(isPlantedSrc(col("doc_id")))
        .crossJoin(broadcast(off))
        .select(col("doc_id").as("ida"),
          (col("doc_id") + col("_off")).as("idb"))
      // ONE labeled pair frame carries every counter the result needs
      // (candidate, matched, planted-found) — no per-counter re-execution
      val pairs = bands.as("x").join(bands.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
        .distinct()
        .join(sigs.select(col("doc_id").as("ida"), col("sig").as("siga")), "ida")
        .join(sigs.select(col("doc_id").as("idb"), col("sig").as("sigb")), "idb")
        .withColumn("matched",
          bit_count(col("siga").bitwiseXOR(col("sigb"))) <= lit(PhashHammingMax))
        .join(plantedPairs.withColumn("_pl", lit(true)), Seq("ida", "idb"), "left")
      val pairStats = pairs.agg(
        count(lit(1)).as("n_candidate_pairs"),
        sum(when(col("matched"), 1L).otherwise(0L)).as("n_matched_pairs"),
        sum(when(col("matched") && col("_pl"), 1L).otherwise(0L))
          .as("n_planted_found"))
      sigs.agg(count(lit(1)).as("n_media"))
        .crossJoin(broadcast(plantedPairs.agg(count(lit(1)).as("n_planted"))))
        .crossJoin(broadcast(pairStats))
        .withColumn("recall_bp",
          round(col("n_planted_found") * lit(10000.0) / col("n_planted"))
            .cast("long"))
        .withColumn("n_natural_matched",
          col("n_matched_pairs") - col("n_planted_found"))
    },
    None)

  /** Embeddings plus planted near-duplicate vectors (every vec_id % 10
    * == 0 re-added at id+offset with its first component shifted) so
    * cosine near-dup recall is verifiable by construction. */
  private[operators] def plantedVecs(e: DataFrame): DataFrame = {
    val base = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dups = base.filter(isPlantedSrc(col("vec_id")))
      .crossJoin(broadcast(plantedOffset(e, "vec_id")))
      .select((col("vec_id") + col("_off")).as("vec_id"),
        expr("concat(array(element_at(v, 1) + 0.3), slice(v, 2, size(v) - 1))").as("v"))
    base.unionByName(dups)
  }

  /** L14 — embedding-cosine near-duplicate detection, bucketed: 64-plane
    * sign-LSH signature → 8×8-bit band buckets → candidate id pairs only
    * within a bucket → candidates pre-filtered by full-signature Hamming
    * distance → exact cosine only on survivors. The vector analog of
    * L9's no-all-pairs discipline. Three scale guards beyond L9: with b
    * bands of w bits the candidate pair set grows as b·2^w·(N/2^w)², so
    * 8-bit bands (256 buckets per band) keep the BAND join near-linear
    * where 4-bit bands measured quadratic (135 s at sf0.1); a pair at
    * the cosine-0.9 threshold disagrees on E[64·θ/π] ≈ 9.2 ± 2.8 sign
    * bits while a random bucket-mate disagrees on ~32, so `bit_count(
    * sigA ^ sigB) <= 18` (mean + 3σ at the threshold) drops the
    * accidental collisions — measured 89 027 → near-planted candidates
    * at sf0.1, where collisions had grown to 40× corpus — for one
    * codegen'd popcount per bucket pair, before any O(d) math; and the
    * surviving pair frame is distinct'd as bare ids BEFORE the vectors
    * are joined back, so the shuffle carries 16-byte rows instead of
    * two 512-byte vectors per candidate. No oracle (hyperplane
    * constants aren't SQL-portable); spec pins planted recall and the
    * 20×-corpus candidate bound at sf0.1. */
  val l14 = DQ(
    "l14_cosine_neardup",
    (s, d) => {
      val e = plantedVecs(embs(s, d))
      val sigs = hyperplaneSig(e, hyperplanes64)
      val buckets = sigs.select(col("vec_id"), col("sig"),
        explode(SimHash.bands(col("sig"), 8)).as("b"))
        .select(col("vec_id"), col("sig"), col("b.band_id"), col("b.bval"))
      val pairs = buckets.as("x")
        .join(buckets.as("y"),
          col("x.band_id") === col("y.band_id") && col("x.bval") === col("y.bval") &&
            col("x.vec_id") < col("y.vec_id") &&
            bit_count(col("x.sig").bitwiseXOR(col("y.sig"))) <= 18)
        .select(col("x.vec_id").as("ida"), col("y.vec_id").as("idb"))
        .distinct()
      // In-plan invariants (no oracle): planted-pair recall — (v, v+off)
      // with v % 10 == 0 found iff cosine cleared the threshold — and
      // candidate volume per vector (the near-linear-growth claim),
      // pinned numerically by the driver's per-round record.
      val off = plantedOffset(embs(s, d), "vec_id")
      val nPlanted = embs(s, d).filter(isPlantedSrc(col("vec_id")))
        .agg(count(lit(1)).as("n_planted"))
      val nVecs = e.agg(count(lit(1)).as("_n_vecs"))
      pairs
        .join(e.toDF("ida", "va"), "ida")
        .join(e.toDF("idb", "vb"), "idb")
        .withColumn("cos_e4",
          round(lit(10000) * VectorOps.cosineNative(col("va"), col("vb"))).cast("long"))
        .crossJoin(broadcast(off))
        .agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("cos_e4") >= 9000, 1L).otherwise(0L)).as("n_near"),
          coalesce(sum(when(col("cos_e4") >= 9000, col("ida") + col("idb"))), lit(0L))
            .as("pair_checksum"),
          coalesce(sum(when(col("cos_e4") >= 9000 && isPlantedSrc(col("ida")) &&
            col("idb") === col("ida") + col("_off"), 1L)), lit(0L))
            .as("n_planted_found"))
        .crossJoin(broadcast(nPlanted))
        .crossJoin(broadcast(nVecs))
        .withColumn("cand_per_vec_e2",
          round(col("n_candidates") * lit(100.0) / col("_n_vecs")).cast("long"))
        .drop("_n_vecs")
    },
    None)

  /** L16 — IVF-bucketed approximate nearest neighbor: the k-means-cell
    * scale path beside L12's hyperplane-LSH one (both prune before any
    * exact math; IVF adapts to the data's cluster structure where LSH is
    * data-oblivious). Seeded deterministic init → 2 Lloyd iterations →
    * per-cell inverted index → probe the query's ~k/4 of k cells (k
    * from the shared [[Ivf.cellCount]] selector, ≈32 vecs/cell) →
    * exact cosine re-rank of candidates only. The whole train+probe is
    * ONE declarative plan (`functions.Ivf`): the single driver action
    * is the corpus count that sizes k (a build concern, see
    * [[AnnIndexes.buildIvf]]), centroid joins broadcast, and the only
    * per-vector shuffle carries bare (vec_id, cid) pairs. Build and probe are the shared
    * [[AnnIndexes.buildIvf]]/[[AnnIndexes.probeIvf]]: this query
    * composes them into one gate-replayable plan, while the steady
    * state persists the centroids + inverted lists once
    * ([[AnnIndexes.writeIvf]], lists directory-partitioned by cell) and
    * probes the materialized index — AnnIndexSpec pins
    * probe-from-parquet to this query's exact rows. No oracle
    * (iterative centroid arithmetic is not portably expressible in
    * DuckDB SQL); IvfSpec pins exactness of the re-rank, pruning, and
    * recall against L3. */
  val l16 = DQ(
    "l16_ann_ivf",
    (s, d) => {
      val e = embs(s, d).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // k from the shared cell-size selector (≈32 vecs/cell — 16 cells
      // at this corpus); the sizing count comes from the per-JVM memo
      // (Tables.rowCount), so only the FIRST construction pays a job —
      // plan-only sweeps and bench re-runs stay action-free. nprobe
      // scales as k/4 so the probed fraction (and thus the recall/speed
      // point) is corpus-invariant.
      val n = graft.Tables.rowCount(s, d, "embeddings")
      val k = Ivf.cellCount(n)
      // production build path (trainSampled under the memoized count):
      // bit-identical here — 128·k ≥ n below the cell cap by
      // construction — and bounded Lloyd cost past it
      val idx = AnnIndexes.buildIvf(e, k, iters = 2, n)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val ann = AnnIndexes.probeIvf(idx, e, e.filter(col("vec_id") === 0),
        nprobe = math.max(4, (k + 3) / 4), topK = 5, excludeId = 0L)
      // Same in-plan recall invariant as l12: overlap with the exact
      // top-5, pinned by the driver's per-round record.
      val exact5 = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("sim_e4",
          round(lit(10000) * VectorOps.cosineNative(col("v"), col("qv"))).cast("long"))
        .orderBy(col("sim_e4").desc, col("vec_id")).limit(5)
        .select(col("vec_id").as("_evid"))
      val overlap = ann.join(broadcast(exact5), col("vec_id") === col("_evid"))
        .agg(count(lit(1)).as("n_exact_top5_overlap"))
      ann.crossJoin(broadcast(overlap))
    },
    None)

  /** L36 — ANN over the INT8-QUANTIZED inverted file: l24's
    * quantization rule fused into l16's IVF shape
    * ([[AnnIndexes.buildIvfInt8]] / [[AnnIndexes.probeIvfInt8]]) — the
    * memory-bound deployment, where the index holds 4×-smaller int8
    * vectors, the shortlist pass is exact integer arithmetic, and only
    * `refine · topK` survivors pay an fp64 re-rank against the raw
    * embeddings. Same in-plan recall invariant as l16 (overlap with
    * the exact top-5), plus `n_vs_fp64_overlap`: agreement with the
    * FULL-PRECISION IVF probe at the same (nprobe, topK) — the
    * quantization cost isolated from the cell-pruning cost. No oracle
    * for the same reason as l12/l16; QuantizedAnnSpec pins the
    * refine-covers-all ≡ fp64-probe identity and the storage schema. */
  val l36 = DQ(
    "l36_ann_ivf_int8",
    (s, d) => {
      val e = embs(s, d).select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val n = graft.Tables.rowCount(s, d, "embeddings")
      val k = Ivf.cellCount(n)
      val nprobe = math.max(4, (k + 3) / 4)
      // centroids from the shared checkpointed memo (l26's discipline):
      // same trainSampled(k, iters=2) parameters, so the trained frame
      // is identical — one Lloyd execution serves l26 and l36.
      val idx8 = AnnIndexes.buildIvfInt8From(sharedIvfCentroids(s, d), e)
      val query = e.filter(col("vec_id") === 0)
      val q = query.select(col("v").as("qv"))
      val ann = AnnIndexes.probeIvfInt8(idx8, e, query,
        nprobe = nprobe, topK = 5, refine = 4, excludeId = 0L)
      val exact5 = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("sim_e4",
          round(lit(10000) * VectorOps.cosineNative(col("v"), col("qv"))).cast("long"))
        .orderBy(col("sim_e4").desc, col("vec_id")).limit(5)
        .select(col("vec_id").as("_evid"))
      val overlap = ann.join(broadcast(exact5), col("vec_id") === col("_evid"))
        .agg(count(lit(1)).as("n_exact_top5_overlap"))
      val fp64 = AnnIndexes.probeIvf(
        AnnIndexes.IvfIndex(idx8.centroids,
          idx8.lists.select("vec_id", "cid")),
        e, query, nprobe = nprobe, topK = 5, excludeId = 0L)
        .select(col("vec_id").as("_fvid"))
      val agree = ann.join(broadcast(fp64), col("vec_id") === col("_fvid"))
        .agg(count(lit(1)).as("n_vs_fp64_overlap"))
      ann.crossJoin(broadcast(overlap)).crossJoin(broadcast(agree))
    },
    None)

  /** L15 — n-gram Jaccard similarity as a first-class scorer: word
    * 3-gram sets of each kept document vs its first-token-dropped
    * variant, Jaccard ×10000. Pure per-row HOF set math (the pair is
    * built per row, so this also oracle-checks the shingle pipeline that
    * L9 buckets at scale). */
  val l15 = DQ(
    "l15_ngram_jaccard",
    (s, d) =>
      docs(s, d)
        .filter(col("doc_id") % 10 === 0)
        .withColumn("ta", split(lower(col("text")), "\\s+"))
        .withColumn("tb", split(lower(expr("substring(text, instr(text, ' ') + 1)")), "\\s+"))
        // Guard like shingles(): a <4-token doc makes sequence(0, n-3)
        // descend and slice() throw; the oracle mirrors the predicate.
        .filter(size(col("ta")) >= 4)
        .withColumn("ga",
          array_distinct(call_function("graft_grams", col("ta"), lit(3))))
        .withColumn("gb",
          array_distinct(call_function("graft_grams", col("tb"), lit(3))))
        .select(col("doc_id"),
          round(size(array_intersect(col("ga"), col("gb"))) * lit(10000.0) /
            size(array_union(col("ga"), col("gb")))).cast("long").as("jac_e4"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
            CAST(ROUND(len(list_filter(ga, x -> list_contains(gb, x))) * 10000.0
                 / len(list_distinct(list_concat(ga, gb)))) AS BIGINT) AS jac_e4
            FROM (
              SELECT doc_id,
                list_distinct(list_transform(range(len(ta) - 2),
                  i -> array_to_string(list_slice(ta, i + 1, i + 3), ' '))) AS ga,
                list_distinct(list_transform(range(len(tb) - 2),
                  i -> array_to_string(list_slice(tb, i + 1, i + 3), ' '))) AS gb
              FROM (
                SELECT doc_id,
                  string_split_regex(lower(text), '\s+') AS ta,
                  string_split_regex(lower(substring(text, instr(text, ' ') + 1)), '\s+') AS tb
                FROM documents
                WHERE doc_id % 10 = 0
                  AND len(string_split_regex(lower(text), '\s+')) >= 4))
            ORDER BY doc_id"""))

  /** L19 — the composed curation pass: ONE scan classifies every doc
    * keep / duplicate / low_quality, the decision a nightly corpus
    * curation job actually emits, built from the already-oracle-checked
    * pieces (L1's canonical-copy rule via a hash-partitioned window,
    * L6's quality gate). Rule precedence mirrors production curation:
    * duplicate dominates low_quality — a low-quality copy of a kept doc
    * is removed as a copy, so quality counts describe CANONICAL docs.
    * The window partitions by the content hash (no global sort — it
    * shuffles exactly like L1's groupBy), and the oracle hash-checks
    * the full (lang × reason) decision matrix. */
  val l19 = DQ(
    "l19_curation",
    (s, d) =>
      withStopBp(docs(s, d))
        .withColumn("canonical_id",
          min("doc_id").over(
            org.apache.spark.sql.expressions.Window.partitionBy(normHash)))
        .withColumn("reason",
          when(col("doc_id") =!= col("canonical_id"), "duplicate")
            .when(!qualityKeep, "low_quality")
            .otherwise("keep"))
        .groupBy("lang", "reason")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("lang", "reason"),
    Some("""SELECT lang, reason, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM (SELECT lang, n_chars,
                    CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY sha256(lower(trim(text))))
                           THEN 'duplicate'
                         WHEN NOT (n_chars >= 200 AND
                              CAST(ROUND(len(list_filter(string_split_regex(lower(text), '\s+'),
                                     t -> list_contains(['the','a','value','table'], t)))
                                   * 10000.0 / len(string_split_regex(lower(text), '\s+'))) AS BIGINT) < 2500)
                           THEN 'low_quality'
                         ELSE 'keep' END AS reason
                  FROM documents)
            GROUP BY lang, reason ORDER BY lang, reason"""))

  /** L24 — int8 embedding quantization: the storage-side operator of
    * the ANN family (a vector store holds q = round(|x|·127/max|x|)
    * with the sign reapplied, 4× smaller than float32). Per-row-only
    * math — no shuffle before the label rollup — and every emitted
    * number is an exact integer (per-element quantized values and
    * e7-scaled reconstruction errors are rounded to longs BEFORE
    * summation), so the accounting is order- and engine-independent:
    * the DuckDB oracle runs the identical per-element IEEE chain. The
    * max-abs scale is exact across engines (comparison only); ties in
    * round() stay engine-portable because rounding always applies to
    * the non-negative |x|·scale. */
  val l24 = DQ(
    "l24_quantize_int8",
    (s, d) =>
      Tables.embeddings(s, d)
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("m", expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn("scale", expr("CASE WHEN m = 0 THEN 1.0 ELSE 127.0 / m END"))
        .withColumn("q_sum", expr(
          """aggregate(v, 0L, (acc, x) -> acc +
             CAST(sign(x) AS BIGINT) * CAST(ROUND(abs(x) * scale) AS BIGINT))"""))
        .withColumn("err_sum", expr(
          """aggregate(v, 0L, (acc, x) -> acc +
             CAST(ROUND(abs(abs(x) - CAST(ROUND(abs(x) * scale) AS DOUBLE) / scale)
                  * 10000000.0) AS BIGINT))"""))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          sum("q_sum").as("q_checksum"),
          sum("err_sum").as("err_e7_sum"))
        .orderBy("label"),
    Some("""SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
              CAST(SUM(q_sum) AS BIGINT) AS q_checksum,
              CAST(SUM(err_sum) AS BIGINT) AS err_e7_sum
            FROM (
              SELECT label,
                list_aggregate(list_transform(v, x ->
                  CAST(sign(x) AS BIGINT) * CAST(ROUND(abs(x) * scale) AS BIGINT)),
                  'sum') AS q_sum,
                list_aggregate(list_transform(v, x ->
                  CAST(ROUND(abs(abs(x) - CAST(ROUND(abs(x) * scale) AS DOUBLE) / scale)
                       * 10000000.0) AS BIGINT)), 'sum') AS err_sum
              FROM (
                SELECT label, v, CASE WHEN m = 0 THEN 1.0 ELSE 127.0 / m END AS scale
                FROM (
                  SELECT label,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                    list_aggregate(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE))), 'max') AS m
                  FROM embeddings)))
            GROUP BY 1 ORDER BY label"""))

  /** L27 — repetition-based quality screening (the Gopher repetition
    * rules, Rae et al. 2021 arXiv:2112.11446 Appendix A: documents
    * dominated by a repeated n-gram are generation/boilerplate
    * artifacts and poison training): per document, the fraction of
    * word-2-gram occurrences covered by the single most frequent
    * 2-gram; documents past 10% flag. (Gopher's published bound is
    * 0.20 of CHARACTERS in the top 2-gram at web-document length; the
    * occurrence-fraction form with a 10% bar realizes the same rule on
    * this corpus' short synthetic docs.) Complements L6's stopword/
    * length gates — that screens vocabulary, this screens structure.
    *
    * Scale shape (since round 11): the top-2-gram count is computed
    * ROW-LOCALLY by the native [[graft.functions.TopGramStats]]
    * expression — the whole screen is one map-side scan into the
    * per-language rollup, no explode and no (doc, gram) shuffle (the
    * per-doc answer never needed any other document's rows; see
    * [[l27b]] for the full rationale). The oracle keeps the independent
    * exploded-SQL formulation as a cross-check. One semantic pin: the
    * top 2-gram is selected by max COUNT (coverage only tie-breaks, and
    * `top2_bp` uses the count alone), identical to the previous
    * `max(c)` — a tie in count cannot change `max_c`.
    */
  val l27 = DQ(
    "l27_repetition",
    (s, d) => {
      val perDoc = docs(s, d)
        .filter(col("text").isNotNull)
        .withColumn("ta", split(lower(col("text")), "\\s+"))
        .filter(size(col("ta")) >= 2)
        .select(col("lang"), col("doc_id"), top2Bp(col("ta")).as("top2_bp"))
      perDoc.groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("top2_bp") > RepetitionFlagBp, 1L).otherwise(0L))
            .as("n_flagged"),
          round(sum("top2_bp") * lit(1.0) / count(lit(1))).cast("long")
            .as("avg_top2_bp"),
          coalesce(sum(when(col("top2_bp") > RepetitionFlagBp, col("doc_id"))),
            lit(0L)).as("flagged_checksum"))
        .orderBy("lang")
    },
    Some("""WITH t AS (SELECT lang, doc_id,
                string_split_regex(lower(text), '\s+') AS ta FROM documents),
            g AS (SELECT lang, doc_id, len(ta) - 1 AS n_grams,
                    unnest(list_transform(range(len(ta) - 1),
                      i -> array_to_string(list_slice(ta, i + 1, i + 2), ' '))) AS gram
                  FROM t WHERE len(ta) >= 2),
            c AS (SELECT lang, doc_id, n_grams, gram, COUNT(*) AS c
                  FROM g GROUP BY 1, 2, 3, 4),
            p AS (SELECT lang, doc_id,
                    CAST(ROUND(MAX(c) * 10000.0 / n_grams) AS BIGINT) AS top2_bp
                  FROM c GROUP BY lang, doc_id, n_grams)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN top2_bp > 1000 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_flagged,
              CAST(ROUND(SUM(top2_bp) * 1.0 / COUNT(*)) AS BIGINT) AS avg_top2_bp,
              CAST(COALESCE(SUM(CASE WHEN top2_bp > 1000 THEN doc_id END), 0)
                AS BIGINT) AS flagged_checksum
            FROM p GROUP BY 1 ORDER BY lang"""))

  /** [[planted]] with provenance kept: same rows (the spec pins the
    * (doc_id, text) projection equal to [[planted]] row-for-row), plus
    * the `lang` and `n_chars` columns the curation matrix groups and
    * accounts by. Planted copies inherit their source's lang and
    * re-measure n_chars on the shortened text, exactly as an ingest of
    * the re-crawled copy would. Kept separate from [[planted]] so the
    * long-pinned l9/l10/l28 plans stay byte-identical. */
  private[graft] def plantedFull(dd: DataFrame): DataFrame = {
    val base = dd.select(col("doc_id"), col("lang"), col("text"),
      col("n_chars").cast("long").as("n_chars"))
    val dups = dd.filter(isPlantedSrc(col("doc_id")))
      .crossJoin(broadcast(plantedOffset(dd, "doc_id")))
      .select((col("doc_id") + col("_off")).as("doc_id"), col("lang"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    base.unionByName(dups)
  }

  /** The per-doc near-dup-aware curation frame l29 aggregates and the
    * spec inspects: every doc in the planted corpus classified
    * `near_duplicate` / `low_quality` / `keep`, where the duplicate
    * rule is the UNION of cluster canonicality (l28's closure over
    * l9's verified pairs — keep the min id per transitive cluster) and
    * l19's exact content-hash canonicality. Precedence mirrors l19:
    * duplicate dominates low_quality, so quality counts describe
    * canonical docs.
    *
    * The exact rule is a belt-and-braces backstop, not redundancy:
    * MOST exact copies land in one cluster anyway (identical text →
    * identical signatures → all bands collide → Jaccard 10000), but
    * the sketch only sees docs with ≥ 3 tokens, and trim-only copies
    * share [[normHash]] (which trims) without sharing token shingles —
    * both shapes would escape a pure-cluster rule. With the union,
    * every doc l19 calls `duplicate` this frame also removes, for ALL
    * corpora (LshSpec pins the inclusion on injected copies).
    *
    * Scale shape: the label frame (one row per CLUSTERED doc — a small
    * fraction of the corpus) left-joins the corpus keyed on doc_id (one
    * shuffle, no window), the closure itself is l28's checkpointed
    * propagation, and everything after is per-row predicates into a
    * 5×3 rollup. No new quadratic term anywhere. */
  private[operators] def neardupCuration(s: SparkSession, d: String): DataFrame =
    neardupParts(docs(s, d), Some(sharedPairs(s, d)))._3

  /** (edges, labels, per-doc curation frame) over any raw documents
    * frame (doc_id, lang, text, n_chars) — parameterized so the spec
    * can inject exact duplicates (the stock corpus has none) and prove
    * the exact-dup-subset property non-vacuously. Edges and labels are
    * `localCheckpoint`ed ONCE — l29 references all three (matrix,
    * cluster count, fixpoint proof), so sharing the materialized frames
    * keeps the sketch+band+Jaccard subtree at one execution. */
  private[operators] def neardupParts(
      raw: DataFrame,
      pairsOpt: Option[DataFrame] = None): (DataFrame, DataFrame, DataFrame) = {
    import graft.functions.Components
    // identical edge derivation to l28 (shared candidatePairs + the
    // same 0.6 Jaccard bar), so this closure IS l28's clustering.
    // Catalog callers pass the memoized sharedPairs via pairsOpt so the
    // sketch prices once per corpus; spec callers with an injected raw
    // frame derive their own (a memo can't key on a DataFrame).
    val edges = pairsOpt.getOrElse(candidatePairs(planted(raw)))
      .filter(col("jac_e4") >= 6000)
      .select("ida", "idb")
      .localCheckpoint()
    // adaptive closure: converges on ANY diameter (returns checkpointed
    // fixpoint labels), where a fixed budget would under-merge deep
    // graphs; identical labels here since the fixed-8 run was already
    // at fixpoint (n_unconverged pinned 0)
    val labels = Components.closeAdaptive(edges)
    val perDoc = plantedFull(raw)
      // exact-hash canonical id rides along (one window on the content
      // hash): the l29 escapee probe reads it instead of rescanning the
      // corpus, and the duplicate rule below unions it in
      .withColumn("exact_canon",
        min("doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy(normHash)))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .transform(withStopBp)
      .withColumn("reason",
        when((col("comp").isNotNull && col("doc_id") =!= col("comp")) ||
          col("doc_id") =!= col("exact_canon"), "near_duplicate")
          .when(!qualityKeep, "low_quality")
          .otherwise("keep"))
      .select("doc_id", "lang", "n_chars", "comp", "reason", "exact_canon")
    (edges, labels, perDoc)
  }

  /** L29 — near-dup-aware curation: THE composition L28 exists for (its
    * own scaladoc: keep-one-per-cluster needs the closure). l19's
    * nightly decision removes exact copies only, so a re-crawl chain
    * a~b~c — pairwise near-dups, never byte-identical — survives it;
    * here the duplicate rule is cluster canonicality over l9's verified
    * near-dup pairs, the decision a training-data curation run actually
    * ships. Output: the (lang × reason) decision matrix with doc and
    * char volumes plus the removed-id checksum pinning WHICH docs go,
    * and three invariant columns — `n_clusters` (must equal l28's),
    * `n_unconverged` (closure fixpoint proof, pinned 0), and
    * `n_exact_dup_escapees` (docs l19's exact rule would remove that
    * this pass kept — structurally 0 by construction since the
    * duplicate rule unions the exact-hash canon in; kept as a gate
    * value so a rule-wiring regression fails loudly rather than only
    * in ScalaTest).
    *
    * No oracle (minhash closure isn't SQL-portable); the driver record
    * pins every cell, and LshSpec pins consistency with l19 (exact-dup
    * subset) and l28 (cluster count) plus the sf0.01 golden row. */
  val l29 = DQ(
    "l29_curation_neardup",
    (s, d) => {
      val (edges, labels, perDoc) =
        neardupParts(docs(s, d), Some(sharedPairs(s, d)))
      // perDoc is referenced by the matrix AND the escapee probe; the
      // edge/label frames are already materialized, so checkpointing it
      // costs one corpus join and saves the second
      val curated = perDoc.localCheckpoint()
      val nClusters = labels.agg(countDistinct("comp").as("n_clusters"))
      // exact-dup escapees: non-canonical-by-content-hash docs the
      // duplicate rule nevertheless kept — 0 by construction (the rule
      // unions the exact canon in), read off the carried column so the
      // probe costs one scan of the already-checkpointed frame
      val escapees = curated.filter(col("reason") =!= "near_duplicate" &&
          col("doc_id") =!= col("exact_canon"))
        .agg(count(lit(1)).as("n_exact_dup_escapees"))
      curated.groupBy("lang", "reason")
        .agg(
          count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"),
          coalesce(sum(when(col("reason") =!= "keep", col("doc_id"))), lit(0L))
            .as("removed_checksum"))
        .crossJoin(broadcast(nClusters))
        .crossJoin(broadcast(escapees))
        .crossJoin(broadcast(
          graft.functions.Components.unconverged(edges, labels)))
        .orderBy("lang", "reason")
        .select(col("lang"), col("reason"), col("n"), col("sum_chars"),
          col("removed_checksum"), col("n_clusters"),
          col("n_exact_dup_escapees"), col("n_unconverged"))
    },
    None)

  /** L27b — the full Gopher repetition rule LADDER (Rae et al. 2021,
    * arXiv:2112.11446 Table A1), extending [[l27]]'s single screen to
    * the published battery: duplicate-line fraction (> 0.30) and the
    * fraction of CHARACTERS inside the most frequent word 2-/3-/4-gram
    * (> 0.20 / 0.18 / 0.16). Lines split on `\n` exactly as published —
    * this corpus' docs are single-line, so that rule correctly flags
    * nothing here while staying live for real corpora (the oracle pins
    * the zeros). The top-gram is chosen by occurrence count with
    * char-coverage as the deterministic tie-break, every comparison
    * is integer-exact (`cov·100 > pct·n_chars`), so Spark and DuckDB
    * cannot disagree on a boundary document — and a coverage flag
    * additionally requires the top gram to occur ≥ 2 times (see
    * [[ladderFlags]]: a singleton gram is a long word run, not
    * repetition; the condition is vacuous at the published rule's
    * web-document lengths). Since round 12 the flags come from the
    * shared [[ladderFlags]], the same columns the streaming admission
    * gate screens with.
    *
    * Scale shape (since round 11): every flag is computed ROW-LOCALLY —
    * duplicate-line fraction via `size(lines) - size(array_distinct(
    * lines))`, the three top-gram coverages via one native
    * [[graft.functions.TopGramStats]] call (`graft_topgram_stats`) —
    * so the whole ladder is a single map-side scan feeding the 5-row
    * lang rollup: NO explode, NO (doc, gram) shuffle, no window. The
    * earlier exploded form pushed ~3× the corpus' token text through a
    * shuffle to compute per-document answers that never needed any
    * other document's rows; the oracle SQL deliberately keeps that
    * independent exploded formulation, so the gate cross-checks the
    * native expression against a structurally different computation. */
  val l27b = DQ(
    "l27b_gopher_ladder",
    (s, d) => {
      docs(s, d)
        .filter(col("text").isNotNull)
        .withColumn("ta", split(lower(col("text")), "\\s+"))
        .select(Seq(col("lang"), col("doc_id")) ++
          ladderFlags(col("text"), col("ta"))
            .zip(Seq("f_line", "f_2g", "f_3g", "f_4g"))
            .map { case (c, n) => c.as(n) }: _*)
        .withColumn("f_any",
          col("f_line") || col("f_2g") || col("f_3g") || col("f_4g"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("f_line"), 1L).otherwise(0L)).as("n_flag_dupline"),
          sum(when(col("f_2g"), 1L).otherwise(0L)).as("n_flag_top2"),
          sum(when(col("f_3g"), 1L).otherwise(0L)).as("n_flag_top3"),
          sum(when(col("f_4g"), 1L).otherwise(0L)).as("n_flag_top4"),
          sum(when(col("f_any"), 1L).otherwise(0L)).as("n_flag_any"),
          coalesce(sum(when(col("f_any"), col("doc_id"))), lit(0L))
            .as("flagged_checksum"))
        .orderBy("lang")
    },
    Some("""WITH base AS (
              SELECT lang, doc_id, text,
                string_split_regex(lower(text), '\s+') AS ta,
                CAST(len(text) AS BIGINT) AS n_chars_txt
              FROM documents),
            lines AS (
              SELECT lang, doc_id,
                (COUNT(*) - COUNT(DISTINCT line)) * 100 > 30 * COUNT(*) AS f_line
              FROM (SELECT lang, doc_id, unnest(string_split(text, chr(10))) AS line
                    FROM base)
              GROUP BY 1, 2),
            grams AS (
              SELECT lang, doc_id, n_chars_txt, 2 AS n,
                unnest(list_transform(range(len(ta) - 1),
                  i -> array_to_string(list_slice(ta, i + 1, i + 2), ' '))) AS gram
              FROM base WHERE len(ta) >= 2
              UNION ALL
              SELECT lang, doc_id, n_chars_txt, 3 AS n,
                unnest(list_transform(range(len(ta) - 2),
                  i -> array_to_string(list_slice(ta, i + 1, i + 3), ' '))) AS gram
              FROM base WHERE len(ta) >= 3
              UNION ALL
              SELECT lang, doc_id, n_chars_txt, 4 AS n,
                unnest(list_transform(range(len(ta) - 3),
                  i -> array_to_string(list_slice(ta, i + 1, i + 4), ' '))) AS gram
              FROM base WHERE len(ta) >= 4),
            counts AS (
              SELECT lang, doc_id, n_chars_txt, n, gram, COUNT(*) AS c,
                COUNT(*) * len(gram) AS cov
              FROM grams GROUP BY 1, 2, 3, 4, 5),
            top AS (
              SELECT lang, doc_id, n_chars_txt, n,
                -- (count, coverage) lexicographic argmax packed into a
                -- HUGEINT key (DuckDB's arg_max takes no struct key):
                -- cov is a BIGINT so c * 2^64 + cov is exact for ANY
                -- document — no 2^32 coverage bound
                arg_max(cov, CAST(c AS HUGEINT) * 18446744073709551616 + cov) AS cov,
                -- the (c, cov)-lexicographic argmax's count IS max(c)
                MAX(c) AS c
              FROM counts
              GROUP BY 1, 2, 3, 4),
            gflags AS (
              -- c >= 2: a singleton gram is not repetition (see the
              -- ladderFlags scaladoc — vacuous at web-doc lengths,
              -- load-bearing on ~200-char docs)
              SELECT lang, doc_id,
                MAX(CASE WHEN n = 2 THEN c >= 2 AND cov * 100 > 20 * n_chars_txt END) AS f_2g,
                MAX(CASE WHEN n = 3 THEN c >= 2 AND cov * 100 > 18 * n_chars_txt END) AS f_3g,
                MAX(CASE WHEN n = 4 THEN c >= 2 AND cov * 100 > 16 * n_chars_txt END) AS f_4g
              FROM top GROUP BY 1, 2),
            perdoc AS (
              SELECT l.lang, l.doc_id, l.f_line,
                COALESCE(g.f_2g, false) AS f_2g,
                COALESCE(g.f_3g, false) AS f_3g,
                COALESCE(g.f_4g, false) AS f_4g,
                (l.f_line OR COALESCE(g.f_2g, false) OR COALESCE(g.f_3g, false)
                  OR COALESCE(g.f_4g, false)) AS f_any
              FROM lines l LEFT JOIN gflags g
                ON l.lang = g.lang AND l.doc_id = g.doc_id)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN f_line THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dupline,
              CAST(SUM(CASE WHEN f_2g THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_top2,
              CAST(SUM(CASE WHEN f_3g THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_top3,
              CAST(SUM(CASE WHEN f_4g THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_top4,
              CAST(SUM(CASE WHEN f_any THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_any,
              CAST(COALESCE(SUM(CASE WHEN f_any THEN doc_id END), 0) AS BIGINT)
                AS flagged_checksum
            FROM perdoc GROUP BY 1 ORDER BY lang"""))

  /** L28 — near-dup cluster closure: the step that turns L9's PAIRS into
    * removable CLUSTERS. Banding emits (a,b), (b,c) without ever testing
    * (a,c); keep-one-per-cluster dedup therefore needs the transitive
    * closure — [[graft.functions.Components]]' min-label propagation
    * (the standard distributed construction) over the verified near-dup
    * edges, sharing [[candidatePairs]] with l9 so the edge definition
    * cannot drift. Output: cluster count, docs clustered, docs a
    * keep-canonical pass would remove, the largest cluster (the skew
    * bound for any per-cluster work), the canonical-id checksum pinning
    * WHICH doc survives each cluster, and `n_unconverged` — the
    * in-plan fixpoint proof (0 = every label stable; now guaranteed by
    * [[graft.functions.Components.closeAdaptive]], which polls
    * convergence per block and throws rather than under-merge — the
    * gate keeps pinning the value so the guarantee stays a recorded
    * fact, not a code comment).
    *
    * The edge frame is `localCheckpoint`ed before iterating — the
    * standard Spark pattern for iterative algorithms (compute the graph
    * once, cut lineage, loop over the materialized frame); without it
    * every propagation round would re-derive the whole
    * sketch+band+Jaccard subtree. No oracle (minhash isn't
    * SQL-portable); the spec pins the closure against a driver-side
    * union-find over the same pairs. */
  /** L28's closure rollup over a caller-supplied candidate-pair frame —
    * see [[sharedPairs]]. */
  private[graft] def l28From(pairs: DataFrame): DataFrame = {
      import graft.functions.Components
      val edges = pairs
        .filter(col("jac_e4") >= 6000)
        .select("ida", "idb")
        .localCheckpoint()
      // the ADAPTIVE closure (round 9): block-checkpointed propagation
      // polling one bounded row per block, so ANY diameter converges
      // without a hand-set budget — and the returned labels are already
      // materialized for the three consumers below (sizes + both sides
      // of the unconverged proof)
      val labels = Components.closeAdaptive(edges)
      val sizes = labels.groupBy("comp").agg(count(lit(1)).as("sz"))
      // every aggregate coalesces: an edge-free corpus (no pair past
      // the threshold) must report ZEROS, not a row of nulls
      sizes.agg(
          count(lit(1)).as("n_clusters"),
          coalesce(sum("sz"), lit(0L)).as("n_docs_clustered"),
          coalesce(sum("sz") - count(lit(1)), lit(0L)).as("n_removable"),
          coalesce(max("sz"), lit(0L)).as("largest_cluster"),
          coalesce(sum("comp"), lit(0L)).as("canonical_checksum"))
        .crossJoin(broadcast(Components.unconverged(edges, labels)))
  }

  val l28 = DQ(
    "l28_dedup_components",
    (s, d) => l28From(sharedPairs(s, d)),
    None)

  /** L26 — SemDeDup-style semantic deduplication (cluster-then-prune,
    * Abbas et al. 2023, arXiv:2303.09540): embeddings cluster into IVF
    * cells (the SAME trained index as l16 — [[AnnIndexes.buildIvf]]),
    * and within each cell every vector with an ε-similar
    * (cosine ≥ 0.9) neighbor of smaller id is marked a semantic
    * duplicate — the declarative keep-min-id form of the paper's greedy
    * per-cluster prune, the same canonical-copy rule as L1/L19. Where
    * L14 finds near-IDENTICAL vectors by LSH collision, this prunes
    * merely-redundant ones inside a semantic cluster — the corpus-
    * shrinking pass the paper shows preserves downstream accuracy.
    *
    * Scale shape: the quadratic term is bounded PER CELL — candidate
    * pairs ≈ n²/(2k), and k scales as n/targetCellSize so per-cell work
    * stays constant at 100 TB; l14's 64-plane Hamming pre-filter
    * (`bit_count ≤ 18` at the 0.9 threshold) drops far pairs before any
    * O(d) cosine, and pairs travel as bare ids until the surviving few
    * re-join their vectors. A near-dup pair split across cells is the
    * method's documented miss mode (the spec bounds planted recall, not
    * exactness). No oracle (k-means arithmetic not portably expressible
    * in DuckDB); IvfSpec pins planted recall, plan shape, and sf0.01
    * goldens. */
  val l26 = DQ(
    "l26_semantic_dedup",
    // the catalog arm assigns through [[Ivf.assignAuto]]: exact below
    // the cell cap (every sf gate — bit-identical to the pre-selector
    // plan), the measured-7.5×-cheaper coarse arm when this snapshot's
    // k sits AT the cap (the 100× regime where the exact n·k pass was
    // the engine's steepest cost slope); LlmCoarseSpec pins the forced-
    // coarse output's planted recall and invariants at gate scale
    (s, d) => l26From(s, d,
      (e, c) => Ivf.assignAuto(e, c, sharedIvfK(s, d))),
    None)

  /** L26's body over a caller-supplied assignment function — factored
    * so the cap-regime coarse arm ([[Ivf.assignCoarse]]) is testable
    * at gate scale (where [[Ivf.assignAuto]] would pick exact) without
    * a second copy of the pipeline. */
  private[graft] def l26From(s: SparkSession, d: String,
      assignFn: (DataFrame, DataFrame) => DataFrame): DataFrame = {
      // The quantizer trains on the RAW embeddings: Lloyd's fold
      // references its input ~2·iters+2 times, and the planted-dup
      // frame pays a union + offset-aggregate per reference — training
      // on the clean frame costs exactly l16's train while ASSIGNMENT
      // (one pass) covers the full duplicated corpus. Near-identical
      // copies land in their original's cell by construction of the
      // argmin, so the prune sees the same pairs.
      val e = plantedVecs(embs(s, d))
      // shared cell-size selector: k ∝ n keeps the per-cell quadratic
      // term (~n²/2k) LINEAR in the corpus — the scale claim below.
      // Centroids come from the shared checkpointed frame — see
      // sharedIvfCentroids for why the self-join below needs the
      // materialization.
      val centroids = sharedIvfCentroids(s, d)
      val cells = assignFn(e, centroids)
        .join(hyperplaneSig(e, hyperplanes64).select("vec_id", "sig"), "vec_id")
      val a = cells.select(col("cid"), col("vec_id").as("ida"), col("sig").as("sa"))
      val b = cells.select(col("cid").as("cid2"), col("vec_id").as("idb"),
        col("sig").as("sb"))
      val cand = a.join(b,
          col("cid") === col("cid2") && col("ida") < col("idb") &&
            bit_count(col("sa").bitwiseXOR(col("sb"))) <= 18)
        .select("ida", "idb") // one cell per vector → pairs already unique
      val near = cand
        .join(e.toDF("ida", "va"), "ida")
        .join(e.toDF("idb", "vb"), "idb")
        .withColumn("cos_e4",
          round(lit(10000) * VectorOps.cosineNative(col("va"), col("vb"))).cast("long"))
        .filter(col("cos_e4") >= 9000)
      val marked = near.select(col("idb").as("vec_id")).distinct()
      val off = plantedOffset(embs(s, d), "vec_id")
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      // ONE raw-table aggregate for both corpus counters (the planted
      // frame is raw ∪ every-10th-copy, so its size is derivable
      // without another union scan)
      val counts = embs(s, d).agg(
        (count(lit(1)) +
          sum(when(isPlantedSrc(col("vec_id")), 1L).otherwise(0L))).as("n_vecs"),
        sum(when(isPlantedSrc(col("vec_id")), 1L).otherwise(0L)).as("n_planted"))
      marked
        .crossJoin(broadcast(off))
        .agg(
          count(lit(1)).as("n_dup_marked"),
          coalesce(sum("vec_id"), lit(0L)).as("dup_checksum"),
          coalesce(sum(when(col("vec_id") >= col("_off") &&
            isPlantedSrc(col("vec_id") - col("_off")), 1L)), lit(0L))
            .as("n_planted_found"))
        .crossJoin(broadcast(counts))
        .crossJoin(broadcast(nCand))
        .select(col("n_vecs"), col("n_candidates"), col("n_dup_marked"),
          (col("n_vecs") - col("n_dup_marked")).as("n_kept"),
          col("n_planted_found"), col("n_planted"), col("dup_checksum"))
  }

  /** [[l41]]'s vocabulary size. The synthetic corpus draws its word
    * soup from a ~31-token vocabulary (checked), so a production-sized
    * V would cover everything and pin nothing; 16 splits the corpus
    * into covered head and OOV tail at every sf. The SHAPE is
    * V-independent — at a real 50k-token budget only the TakeOrdered
    * limit and the broadcast width change. */
  private[operators] val VocabSize = 16

  /** L41 — vocabulary construction + coverage accounting (the
    * tokenizer-training prep of every pipeline: BPE/unigram trainers
    * start from exactly this corpus-wide token-frequency table, and
    * coverage/OOV-rate per language is the standard acceptance metric
    * for a proposed vocabulary — e.g. SentencePiece's
    * `character_coverage`, the per-language fertility audits of
    * multilingual models). Tokens are l5's BPE-ish pre-tokenizer
    * (letter runs, digit runs, single punctuation, lowercased). The
    * global top-V by (count desc, token asc — total deterministic
    * order) is the vocabulary; per language the DQ reports occurrence
    * and type counts inside/outside it plus the OOV rate in basis
    * points.
    *
    * Scale shape: one explode → (lang, token) hash agg — the ONLY pass
    * over token-grain data; the global count table REUSES that partial
    * (second-level agg over types, not tokens); top-V is a TakeOrdered
    * (no global sort materialization); the V-row vocabulary broadcasts
    * into the mark join; the final rollup is per-lang. At 100 TB the
    * token-grain agg is partial-aggregable map-side and everything
    * downstream is type-grain (≤ vocabulary size, millions not
    * trillions). */
  val l41 = DQ(
    "l41_vocab_coverage",
    (s, d) => {
      val langTok = docs(s, d).filter(col("text").isNotNull)
        .select(col("lang"),
          explode(VocabIndex.tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      val vocab = langTok.groupBy("tok").agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(VocabSize)
        .select(col("tok"), lit(true).as("_v"))
      langTok.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("lang")
        .agg(
          sum("c").as("n_occ"),
          sum(when(col("_v"), col("c")).otherwise(0L)).as("n_occ_vocab"),
          count(lit(1)).as("n_types"),
          sum(when(col("_v"), 1L).otherwise(0L)).as("n_types_vocab"))
        .withColumn("oov_bp",
          round((col("n_occ") - col("n_occ_vocab")) * lit(10000.0) / col("n_occ"))
            .cast("long"))
        .orderBy("lang")
    },
    Some(s"""WITH lt AS (
              SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
              FROM (SELECT lang,
                      unnest(regexp_extract_all(lower(text),
                        '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS tok
                    FROM documents WHERE text IS NOT NULL)
              GROUP BY 1, 2),
            vocab AS (
              SELECT tok FROM
                (SELECT tok, SUM(c) AS cnt FROM lt GROUP BY 1)
              ORDER BY cnt DESC, tok LIMIT $VocabSize),
            m AS (
              SELECT l.lang, l.tok, l.c, (v.tok IS NOT NULL) AS iv
              FROM lt l LEFT JOIN vocab v ON l.tok = v.tok)
            SELECT lang,
              CAST(SUM(c) AS BIGINT) AS n_occ,
              CAST(SUM(CASE WHEN iv THEN c ELSE 0 END) AS BIGINT) AS n_occ_vocab,
              CAST(COUNT(*) AS BIGINT) AS n_types,
              CAST(SUM(CASE WHEN iv THEN 1 ELSE 0 END) AS BIGINT) AS n_types_vocab,
              CAST(ROUND((SUM(c) - SUM(CASE WHEN iv THEN c ELSE 0 END))
                * 10000.0 / SUM(c)) AS BIGINT) AS oov_bp
            FROM m GROUP BY 1 ORDER BY lang"""))

  /** [[l50]]'s prune fraction: the closest 20% of each cell (rank·5 ≤
    * cell size — integer-exact, no float threshold). */
  private[operators] val PrototypePruneDen = 5L

  /** L50 core over a caller-supplied (vec_id, label, v) frame +
    * centroids, factored for the spec's partitioning-invariance and
    * recompute pins. `assignFn` must return (vec_id, cid, d2) —
    * [[Ivf.assignWithDist]] (the exact default) or its cap-regime
    * coarse sibling [[Ivf.assignCoarseWithDist]] (what the catalog's
    * [[Ivf.assignAutoWithDist]] arm picks at the cell cap; the rank
    * window and the per-cell ⌊n/5⌋ quota are agnostic to WHICH cell a
    * vector landed in, so the coarse arm changes cell populations at
    * the mis-assigned tail, never the fold — LlmCoarseSpec pins the
    * invariants). */
  private[graft] def prototypePruneFrom(raw: DataFrame,
      centroids: DataFrame,
      assignFn: (DataFrame, DataFrame) => DataFrame =
        Ivf.assignWithDist): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = assignFn(raw.select("vec_id", "v"), centroids)
      .join(raw.select("vec_id", "label"), "vec_id")
    val w = Window.partitionBy("cid")
    val ranked = assigned
      .withColumn("rk", row_number().over(w.orderBy(col("d2"), col("vec_id"))))
      .withColumn("n_cell", count(lit(1)).over(w))
      .withColumn("pruned", col("rk") * lit(PrototypePruneDen) <= col("n_cell"))
    ranked.groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("pruned"), 1L).otherwise(0L)).as("n_pruned"),
        coalesce(sum(when(col("pruned"), col("vec_id"))), lit(0L))
          .as("pruned_checksum"),
        coalesce(sum(when(col("pruned"),
          round(col("d2") * lit(10000.0)).cast("long"))), lit(0L))
          .as("pruned_d2e4_sum"),
        coalesce(sum(when(!col("pruned"),
          round(col("d2") * lit(10000.0)).cast("long"))), lit(0L))
          .as("kept_d2e4_sum"))
      .orderBy("label")
  }

  /** L50 — prototypicality pruning (D4, Tirumala et al. 2023
    * arXiv:2308.12284: after SemDeDup removes ε-near pairs, the
    * remaining densest cluster cores — the most "prototypical" points —
    * carry the least marginal information, and dropping them improves
    * data efficiency; the SSL-prototypes half of the published D4 =
    * SemDeDup + prototype-prune recipe, [[l26]] being the other half).
    * Realized on the engine's own cells: every vector assigns to its
    * nearest shared IVF centroid ([[sharedIvfCentroids]] — the SAME
    * trained cells l16/l26/l36 probe, one training per snapshot), and
    * within each cell the closest 20% by squared distance (rank·5 ≤
    * cell size, ties broken by vec_id — total order, no float
    * threshold) are marked prototypical and pruned. Per label: vector
    * count, pruned count + identity checksum, and the integer-rounded
    * d² masses of pruned vs kept — pruned mass per vector is strictly
    * smaller by construction, making the "dropped the dense core"
    * claim an output, not prose.
    *
    * Scale shape: assignment is the broadcast-centroid argmin (k-row
    * build side, shuffle carries (vec_id, cid, d2)); the rank window
    * partitions by cell, and k ∝ n ([[Ivf.cellCount]]) bounds every
    * cell near the 32-vector target — the window never sees a
    * corpus-sized partition. No oracle by driver design (k-means +
    * float distance are not SQL-portable); the spec pins a driver-side
    * recompute of the exact fold, the per-cell ⌊n/5⌋ quota, and
    * partitioning invariance. */
  val l50 = DQ(
    "l50_prototype_prune",
    // assignment through the cap-regime selector, like l26: exact (the
    // pre-selector plan, bit-identical) below the cell cap, coarse-
    // with-dist at it — the d2 each vector keeps is its TRUE distance
    // to the chosen centroid either way, so the prototypicality rank
    // stays an exact fold over the realized cells
    (s, d) => prototypePruneFrom(
      embs(s, d).select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v")),
      sharedIvfCentroids(s, d),
      (e, c) => Ivf.assignAutoWithDist(e, c, sharedIvfK(s, d))),
    None)

  /** L52 — heavy-hitter token scan via the Misra–Gries summary
    * ([[graft.functions.FreqItems]]): the 100 TB MEMORY shape of l41's
    * vocabulary question. The exact top-V needs a corpus-wide
    * (token) shuffle; the MG summary never shuffles tokens at all —
    * 32-counter buffers combine map-side and only ≤32-entry summaries
    * cross the wire — at the price of an underestimate bounded by
    * n/(K+1), with NO false negatives above that bar and NO
    * overcounts.
    *
    * The DQ makes the guarantee an OUTPUT (the in-plan-invariant
    * discipline of the sketch family): the exact count side — the
    * audit a deployment runs on a sample, not the corpus — joins the
    * sketch and the result row carries `n_heavy_missed` (heavy items
    * absent from the summary; the MG theorem says 0) and
    * `n_bound_violations` (estimates outside [exact − bound, exact];
    * theorem says 0). The candidate-set size is partitioning-dependent
    * by MG's nature (merge order moves which SUB-bar items survive);
    * every guarantee column is order-independent. */
  val l52 = DQ(
    "l52_heavy_hitters",
    (s, d) => {
      val toks = docs(s, d).filter(col("text").isNotNull)
        .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
      val est = toks.agg(graft.functions.FreqItems.summary(col("tok")).as("mg"))
        .select(explode(col("mg")).as(Seq("tok", "est")))
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact"))
      // n = Σ exact — the totals derive from the audit side's own
      // partial (ReusedExchange), not a third corpus pass
      val totals = exact.agg(sum("exact").as("n_tokens"))
        .withColumn("bound", expr(
          s"n_tokens div ${graft.functions.FreqItems.K + 1}L"))
      exact
        .join(est, Seq("tok"), "full_outer")
        .crossJoin(broadcast(totals))
        .agg(
          max("n_tokens").as("n_tokens"),
          max("bound").as("bound"),
          sum(when(col("exact") > col("bound"), 1L).otherwise(0L))
            .as("n_heavy"),
          sum(when(col("exact") > col("bound") && col("est").isNull, 1L)
            .otherwise(0L)).as("n_heavy_missed"),
          sum(when(col("est").isNotNull &&
              (col("est") > coalesce(col("exact"), lit(0L)) ||
                col("est") < coalesce(col("exact"), lit(0L)) - col("bound")),
            1L).otherwise(0L)).as("n_bound_violations"),
          sum(when(col("est").isNotNull, 1L).otherwise(0L)).as("n_candidates"))
    },
    None)

  /** L57 — vocabulary-id tokenization (the tokenize step between
    * cleaning and packing: text → id sequence against a FIXED
    * vocabulary; [[l41]] trains/audits the vocabulary, [[SamplingQueries
    * .l21]] packs token counts — this is the id mapping in between,
    * which is what training shards actually store). The vocabulary is
    * l41's: global top-V tokens by (count desc, token asc), id = rank−1;
    * out-of-vocabulary tokens map to −1 (a real tokenizer's byte-
    * fallback/UNK arm). Per language: docs, token and OOV counts, the
    * OOV rate in basis points, and `seq_fp` = Σ position·(id+2) — an
    * ORDER-sensitive fingerprint (any swap, insertion, or id change
    * moves it), so the gate pins that tokenization preserves sequence
    * order, which no bag-of-tokens rollup can see.
    *
    * Scale shape: the tokenizer ships as a BROADCAST artifact, exactly
    * like production (the vocab is bounded by design — 16 here, ~50k
    * real — so collecting it to build a literal map column is a
    * bounded driver action, the catalog's band-key discipline); the
    * mapping pass is then ROW-LOCAL — `transform` + `element_at` on
    * the map literal, the per-doc fold by `aggregate` — no explode, no
    * join, no shuffle of token-grain data before the 5-row rollup.
    * Only the vocab BUILD aggregates tokens (one partial-aggregable
    * pass, once per vocabulary release, amortized over every corpus it
    * tokenizes). */
  val l57 = DQ(
    "l57_tokenize_ids",
    (s, d) => {
      val dd = docs(s, d).filter(col("text").isNotNull)
      // in-query release: train the vocab artifact and apply it in one
      // plan; the deployment splits these at the VocabIndex parquet
      // boundary (spec pins probe-from-parquet ≡ this composed form)
      val vmap = VocabIndex.idMap(VocabIndex.build(dd, VocabSize))
      VocabIndex.tokenize(dd.select("lang", "doc_id", "text"), vmap)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("ids")).cast("long")).as("n_tokens"),
          sum("n_oov").as("n_oov"),
          sum("fp").as("seq_fp"))
        .withColumn("oov_bp",
          round(col("n_oov") * lit(10000.0) / col("n_tokens")).cast("long"))
        .select("lang", "n_docs", "n_tokens", "n_oov", "oov_bp", "seq_fp")
        .orderBy("lang")
    },
    Some(s"""WITH toks AS (
              SELECT lang, doc_id,
                regexp_extract_all(lower(text),
                  '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS ta
              FROM documents WHERE text IS NOT NULL),
            flat AS (
              SELECT lang, doc_id, t.tok, t.pos
              FROM toks, LATERAL (SELECT unnest(ta) AS tok,
                generate_subscripts(ta, 1) AS pos) t),
            vocab AS (
              SELECT tok,
                CAST(row_number() OVER (ORDER BY cnt DESC, tok) - 1 AS BIGINT)
                  AS id
              FROM (SELECT tok, COUNT(*) AS cnt FROM flat GROUP BY 1)
              ORDER BY cnt DESC, tok LIMIT $VocabSize),
            mapped AS (
              SELECT f.lang, f.doc_id, f.pos, COALESCE(v.id, -1) AS id
              FROM flat f LEFT JOIN vocab v ON f.tok = v.tok),
            -- per-doc base from toks, NOT mapped: a zero-token doc
            -- (whitespace-only text) still counts in n_docs with an
            -- empty id sequence, matching the Spark per-doc rollup
            per_doc AS (
              SELECT t.lang, t.doc_id, len(t.ta) AS n_tok,
                COALESCE(m.n_oov, 0) AS n_oov,
                COALESCE(m.fp, 0) AS fp
              FROM toks t LEFT JOIN (
                SELECT doc_id,
                  SUM(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS n_oov,
                  SUM(pos * (id + 2)) AS fp
                FROM mapped GROUP BY 1) m ON t.doc_id = m.doc_id)
            SELECT lang,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
              CAST(SUM(n_oov) AS BIGINT) AS n_oov,
              CAST(ROUND(SUM(n_oov) * 10000.0 / SUM(n_tok)) AS BIGINT)
                AS oov_bp,
              CAST(SUM(fp) AS BIGINT) AS seq_fp
            FROM per_doc GROUP BY 1 ORDER BY lang"""))

  /** L63 — tokenizer-efficiency audit (the FERTILITY/compression report
    * every multilingual tokenizer evaluation runs — Ács 2019's fertility
    * metric, the per-language subwords-per-word audits in the XLM-R and
    * NLLB discussions: a tokenizer that spends 2× the tokens per word on
    * one language halves that language's effective context and doubles
    * its training cost, so the mix planner reads this BESIDE l41's
    * OOV coverage before freezing a vocabulary). Per language: docs,
    * chars, whitespace words, pre-tokenizer tokens (l5's shared
    * [[VocabIndex.tokens]] rule), fertility = tokens per word and
    * compression = chars per token, both in integer milli units
    * (round-once discipline — engines cannot disagree).
    *
    * Scale shape: entirely ROW-LOCAL until the per-language rollup —
    * two size() counts per doc, no explode, no join; ONE
    * partial-aggregable agg over L languages. The cheapest possible
    * shape for a corpus-wide report. */
  val l63 = DQ(
    "l63_tokenizer_fertility",
    (s, d) => {
      docs(s, d).filter(col("text").isNotNull)
        .select(col("lang"), col("n_chars"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_words"),
          size(VocabIndex.tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("n_chars"),
          sum("n_words").as("n_words"),
          sum("n_toks").as("n_tokens"))
        // zero-denominator guards (top2Bp's null-safe discipline): a
        // language whose docs carry no pre-tokenizer-matching text has
        // n_tokens = 0 — the unguarded double divide would read
        // Infinity and the ANSI long cast would THROW at runtime, not
        // null. Same for an (implausible but cheap-to-guard) zero
        // word sum. Null, not 0: "no ratio" is not "ratio 0".
        .withColumn("fertility_milli", when(col("n_words") > 0L,
          round(col("n_tokens") * lit(1000.0) / col("n_words")).cast("long")))
        .withColumn("chars_per_tok_milli", when(col("n_tokens") > 0L,
          round(col("n_chars") * lit(1000.0) / col("n_tokens")).cast("long")))
        .orderBy("lang")
    },
    Some("""WITH t AS (
              SELECT lang, n_chars,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                  AS n_words,
                CAST(len(regexp_extract_all(lower(text),
                  '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_toks
              FROM documents WHERE text IS NOT NULL)
            SELECT lang,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS n_chars,
              CAST(SUM(n_words) AS BIGINT) AS n_words,
              CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
              CASE WHEN SUM(n_words) > 0 THEN
                CAST(ROUND(SUM(n_toks) * 1000.0 / SUM(n_words)) AS BIGINT)
              END AS fertility_milli,
              CASE WHEN SUM(n_toks) > 0 THEN
                CAST(ROUND(SUM(n_chars) * 1000.0 / SUM(n_toks)) AS BIGINT)
              END AS chars_per_tok_milli
            FROM t GROUP BY 1 ORDER BY lang"""))

  val all: Seq[DQ] =
    Seq(l1, l2, l3, l4, l5, l6, l7, l8, l9, l10, l11, l12, l13, l14, l15, l16,
      l19, l24, l26, l27, l27b, l28, l29, l36, l41, l50, l52, l53, l57, l58,
      l63)
}

