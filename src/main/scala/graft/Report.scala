package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dashboard-KPI report CLI — the engine's analog of the reference's
  * declared-but-stubbed Streamlit dashboard (`README.md:15,30`;
  * `src/dashboard/streamlit_app.py` is a 0-byte file): one entry point
  * that emits the advertised KPI set — orders per minute, revenue
  * trend, top products, data-quality rates — plus the session stats
  * and recent hourly event trend a live dashboard would chart, as ONE
  * JSON artifact over a table directory. Round 9 adds the
  * pipeline-health panels a training-data operator reads daily: exact
  * and near-dup dedup rates (l1/l9), cluster closure (l28),
  * decontamination (l25), and the mixing manifest (l23). Every panel reuses a cataloged
  * query (a2 / j3 / a4 / w5 / t2) instead of re-deriving it, so the
  * report can never drift from the correctness-gated definitions.
  *
  * Row volumes are bounded by construction (months, 10 brands, 5 event
  * types, 24 recent windows, 1 session row), so the driver-side
  * collects are dashboard-sized, never data-sized.
  *
  * When a [[Marts]] base is supplied (`--mart DIR`) the aggregate panels
  * (revenue trend / top products / quality rates) are served from the
  * materialized mart buckets instead of recomputed from the fact tables
  * — the dashboard-refresh cost model a warehouse actually runs: at
  * 100 TB the dashboard reads O(mart) rows, not O(facts). Panels whose
  * mart is absent fall back to the cataloged query, and the artifact
  * names which panels were mart-served (`mart_backed`) so the cost path
  * is observable.
  *
  * Usage: runMain graft.Report [--sf DIR] [--mart DIR] [--out FILE]
  * Prints the JSON to stdout; `--out` additionally writes it to a file.
  */
object Report {

  final case class Args(sf: String = "/root/testdata/sf0.001",
      mart: Option[String] = None, out: Option[String] = None)

  @annotation.tailrec
  def parse(argv: List[String], acc: Args = Args()): Args = argv match {
    case Nil                   => acc
    case "--sf" :: v :: rest   => parse(rest, acc.copy(sf = v))
    case "--mart" :: v :: rest => parse(rest, acc.copy(mart = Some(v)))
    case "--out" :: v :: rest  => parse(rest, acc.copy(out = Some(v)))
    case other :: _ =>
      throw new IllegalArgumentException(s"unknown argument: $other")
  }

  /** One KPI frame rendered as a JSON array of row objects (Spark's own
    * row-to-JSON writer — schema-faithful, UTC timestamps). */
  private def rowsJson(df: org.apache.spark.sql.DataFrame): String =
    df.toJSON.collect().mkString("[", ",", "]")

  /** The full KPI artifact as one JSON object string. */
  def build(spark: SparkSession, sfDir: String,
      martBase: Option[String] = None): String = {
    // Aggregate panels prefer the materialized mart; the read applies
    // only the view-level sort/limit the cataloged query would (the
    // mart rows ARE the aggregate). Fallback: compute from facts.
    def martOr(m: Marts.Mart, view: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, fallback: => org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Boolean) =
      martBase.flatMap(Marts.read(spark, _, m)) match {
        case Some(df) => (view(df), true)
        case None     => (fallback, false)
      }
    val (trend, trendM) = martOr(Marts.revenueTrend, _.orderBy("month"),
      operators.RelationalQueries.a2.fn(spark, sfDir))
    val (top, topM) = martOr(Marts.brandQty,
      _.orderBy(col("qty").desc, col("p_brand")).limit(10),
      operators.RelationalQueries.j3.fn(spark, sfDir))
    val (quality, qualityM) = martOr(Marts.qualityRates, _.orderBy("event_type"),
      operators.RelationalQueries.a4.fn(spark, sfDir))
    // Orders per minute — the headline rate. The reference measures it
    // over the live stream; the batch analog is purchase events per
    // minute of covered event time (span floor 1 min so an almost-empty
    // table reports a rate, not a division by zero).
    val rate = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n"),
        unix_micros(min(col("ts"))).as("t0"),
        unix_micros(max(col("ts"))).as("t1"))
      .withColumn("span_min",
        greatest((col("t1") - col("t0")) / lit(60000000.0), lit(1.0)))
      .select(col("n"), round(col("n") / col("span_min"), 3).as("orders_per_minute"))
      .collect()(0)
    // Recent hourly trend: the tumbling-window KPI's last 24 windows,
    // re-sorted ascending for charting.
    val recent = operators.ValidationQueries.t2.fn(spark, sfDir)
      .orderBy(col("win_start_us").desc).limit(24).orderBy("win_start_us")
    // near-dup pair frame computed once for the two panels that read it
    // (Tables.shared builds and pins it once, so the concurrent panel
    // builds below race safely to ONE materialization)
    lazy val sharedPairs = operators.LlmQueries.sharedPairs(spark, sfDir)
    val panelDefs: Seq[(String, () => String)] = Seq(
      "revenue_trend" -> (() => rowsJson(trend)),
      "top_products" -> (() => rowsJson(top)),
      "quality_rates" -> (() => rowsJson(quality)),
      // order-value distribution (p50/p90 by priority — cataloged a9)
      "order_value_percentiles" ->
        (() => rowsJson(operators.RelationalQueries.a9.fn(spark, sfDir))),
      "sessions" -> (() => rowsJson(operators.WindowQueries.w5.fn(spark, sfDir))),
      "events_hourly_recent" -> (() => rowsJson(recent)),
      // Pipeline-health panels (round 9): the numbers a training-data
      // operator reads daily, each served by a cataloged gate query so
      // the dashboard cannot drift from the gated definitions. All are
      // bounded (1-row rollups / 5 langs / ≤15 manifest cells). The
      // l9/l28 panels share ONE checkpointed candidate-pair frame —
      // the sketch+band+Jaccard subtree is the report's dominant cost
      // and the composed queries would each run it.
      "dedup_exact" -> (() => rowsJson(operators.LlmQueries.l1.fn(spark, sfDir))),
      "dedup_neardup" -> (() => rowsJson(
        operators.LlmQueries.l9From(spark, sfDir, sharedPairs))),
      "dedup_clusters" -> (() => rowsJson(operators.LlmQueries.l28From(sharedPairs))),
      "contamination" -> (() => rowsJson(operators.SamplingQueries.l25.fn(spark, sfDir))),
      "mix_manifest" -> (() => rowsJson(operators.SamplingQueries.l23.fn(spark, sfDir))),
      // Corpus-hygiene panels (round 12): the cleaning/scrub/classifier
      // and repetition rollups — all row-local gate queries (one
      // map-side scan each into a 5-lang rollup), so the added report
      // cost is four cheap scans, no new shuffle or sketch.
      "cleaning" -> (() => rowsJson(operators.CleaningQueries.l31.fn(spark, sfDir))),
      "pii_scrub" -> (() => rowsJson(operators.CleaningQueries.l32.fn(spark, sfDir))),
      "quality_classifier" -> (() =>
        rowsJson(operators.CleaningQueries.l34.fn(spark, sfDir))),
      "repetition_ladder" -> (() => rowsJson(operators.LlmQueries.l27b.fn(spark, sfDir))),
      // Release-lifecycle panels (round 12): the snapshot-over-snapshot
      // numbers a corpus RELEASE reads before training sees it — what
      // changed (l44), how much of the change is re-crawled content the
      // last release already deduped (l46), and which sources mirror
      // each other (l48's overlap matrix).
      "snapshot_diff" -> (() => rowsJson(operators.CorpusOpsQueries.l44.fn(spark, sfDir))),
      "increment_screen" -> (() =>
        rowsJson(operators.CorpusOpsQueries.l46.fn(spark, sfDir))),
      "source_overlap" -> (() =>
        rowsJson(operators.CorpusOpsQueries.l48.fn(spark, sfDir))),
      // Sketch-health panels (round 12): the heavy-hitter token summary
      // (MG guarantee columns must read zeros) and the media-dedup
      // recall row.
      "heavy_hitters" -> (() => rowsJson(operators.LlmQueries.l52.fn(spark, sfDir))),
      "media_dedup" -> (() => rowsJson(operators.LlmQueries.l53.fn(spark, sfDir))),
      // Round-12 closers: the population-drift audit (the retraining
      // trigger — flagged rows are the alarm) and the per-source media
      // quality screen. Bounded: (dims × values) and 20-source rollups.
      "distribution_drift" -> (() =>
        rowsJson(operators.CorpusOpsQueries.l59.fn(spark, sfDir))),
      "media_quality" -> (() => rowsJson(operators.LlmQueries.l58.fn(spark, sfDir))),
      // Round-13 closers: the composed mix plan (l45+l51+l61 in one
      // L-row frame — the allocation decision panel) and the tokenizer
      // fertility audit (row-local scan → L-row rollup). Both bounded
      // by language cardinality.
      "mix_plan" -> (() => rowsJson(operators.SamplingQueries.l62.fn(spark, sfDir))),
      "tokenizer_fertility" -> (() =>
        rowsJson(operators.LlmQueries.l63.fn(spark, sfDir))),
      // Datasheet panels (round 13): the corpus-audit family — per-
      // provenance report card (l67), memorization-risk duplication
      // histogram (l66, reads the shared planted-gram checkpoint),
      // per-benchmark contamination (l68), the Gopher quality ladder
      // (l69), the length/padding histogram (l73), the Heaps
      // vocabulary-growth curve (l75), and the per-source PII exposure
      // table (l78). All bounded rollups: (sources|langs) × small.
      "source_report" -> (() => rowsJson(operators.AuditQueries.l67.fn(spark, sfDir))),
      "dup_profile" -> (() => rowsJson(operators.AuditQueries.l66.fn(spark, sfDir))),
      "suite_contamination" -> (() =>
        rowsJson(operators.AuditQueries.l68.fn(spark, sfDir))),
      "quality_ladder" -> (() => rowsJson(operators.AuditQueries.l69.fn(spark, sfDir))),
      "length_histogram" -> (() =>
        rowsJson(operators.AuditQueries.l73.fn(spark, sfDir))),
      "vocab_growth" -> (() => rowsJson(operators.AuditQueries.l75.fn(spark, sfDir))),
      "pii_by_source" -> (() => rowsJson(operators.AuditQueries.l78.fn(spark, sfDir))))
    // Build the panels CONCURRENTLY ([[operators.Par]]): each is an
    // independent bounded collect, the shared subtrees come from
    // graft.Tables.shared, which builds and pins each key once (one
    // materialization however many panels race), and Spark's scheduler
    // interleaves the jobs — a sequential build leaves the cluster idle
    // between one panel's stages and the next's (cold sf0.1 build
    // measured ~31 s sequential → ~12 s at width 8 on local[32]).
    // Output order stays the declaration order; per-panel seconds go
    // to stderr so a slow panel is observable without re-instrumenting.
    val panels = new Array[(String, String, Double)](panelDefs.size)
    operators.Par.run(panelDefs.zipWithIndex.map { case ((k, mk), i) =>
      () =>
        val t0 = System.nanoTime()
        val v = mk()
        panels(i) = (k, v, (System.nanoTime() - t0) / 1e9)
    })
    Console.err.println("[report] panel seconds: " + panels.sortBy(-_._3)
      .map { case (k, _, sec) => f"$k=$sec%.1f" }.mkString(" "))
    val body = panels.map { case (k, v, _) => s""""$k":$v""" }.mkString(",")
    val martBacked = Seq("revenue_trend" -> trendM, "top_products" -> topM,
      "quality_rates" -> qualityM).collect { case (k, true) => s""""$k"""" }
      .mkString("[", ",", "]")
    s"""{"source":"$sfDir","mart_backed":$martBacked,""" +
      s""""n_purchases":${rate.getAs[Long]("n")},""" +
      s""""orders_per_minute":${rate.getAs[Double]("orders_per_minute")},$body}"""
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toList)
    val spark = Session.get()
    val json =
      try build(spark, a.sf, a.mart)
      finally spark.stop()
    a.out.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    println(json)
  }
}
