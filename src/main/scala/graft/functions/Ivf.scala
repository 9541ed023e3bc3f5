package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** IVF (inverted-file) coarse quantization for approximate nearest
  * neighbor — the k-means-cell counterpart of the hyperplane-LSH path:
  * vectors are assigned to their nearest of `k` coarse centroids, and a
  * query only scans the `nprobe` cells nearest to it instead of the full
  * corpus (the IVF stage of Jégou et al., "Product quantization for
  * nearest neighbor search", TPAMI 2011 — without the PQ refinement;
  * candidates are re-ranked by exact cosine).
  *
  * Everything is declarative DataFrame ops — seeded deterministic init,
  * Lloyd iterations as join+agg plans, NO driver-side `.collect()`
  * anywhere, so the training plan composes into a single query and at
  * scale runs as an ordinary distributed job. Centroid count `k` is
  * small (≪ corpus), so every centroid join is a broadcast and the only
  * shuffles are the tiny (vec_id, cid) assignment aggregations and one
  * ~512-byte mean-buffer partial per (partition, cell)
  * ([[VecMeanAgg]]).
  *
  * At 100 TB the index (cid → vec ids) is written once and reused;
  * here train + probe compose into one plan so the operator is
  * self-contained and oracle-free testing can replay it exactly.
  */
object Ivf {

  /** Squared L2 distance between two array<double> columns — the native
    * codegen'd expression (`graft_sqdist`, [[SquaredDistance]]): same
    * left-to-right fold as the `zip_with` form, but the per-element loop
    * compiles instead of paying interpreted lambda dispatch. Works on
    * any session (self-registers if the extensions hook wasn't used). */
  def dist2(a: Column, b: Column): Column = {
    NativeVectorExprs.ensureRegistered(org.apache.spark.sql.SparkSession.active)
    call_function("graft_sqdist", a, b)
  }

  /** Deterministic seed centroids: the `k` vectors with the smallest
    * `xxhash64(vec_id)` — a seeded uniform draw that any executor can
    * reproduce (same determinism model as the generator's hash draws).
    * Returns (cid, cv) with cid = 0..k-1. */
  def seedCentroids(e: DataFrame, k: Int): DataFrame = {
    // limit() keeps the corpus-side sort a TakeOrdered (top-k per
    // partition, k-way merge), not a global sort. The k survivors are
    // then ranked WITHOUT a window: cid = count of strictly-smaller
    // (hash, vec_id) keys among the k, via a broadcast self-join —
    // order-independent (no reliance on row order through the limit) and
    // free of the partition-less WindowExec a global row_number plans
    // (whose "No Partition Defined" degradation warning reads data-sized
    // even though this frame is k rows; Spark's EliminateWindowPartitions
    // folds any constant partition key back to the empty spec, so the
    // warning can't be declared away). k² = 256 comparisons.
    val top = e.select(col("vec_id"), col("v"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(k)
      .withColumn("hk", xxhash64(col("vec_id")))
    val keys = top.select(col("hk").as("hk2"), col("vec_id").as("vid2"))
    top.join(broadcast(keys),
        col("hk2") < col("hk") ||
          (col("hk2") === col("hk") && col("vid2") < col("vec_id")),
        "left")
      .groupBy("vec_id")
      .agg(count(col("vid2")).cast("int").as("cid"), first(col("v")).as("cv"))
      .select("cid", "cv")
  }

  /** [[cellCount]]'s clamp ceiling — the k past which the exact n·k
    * assignment is the engine's steepest measured cost slope and the
    * coarse two-level arm ([[assignCoarse]]) becomes the default for
    * the cap-regime consumers ([[assignAuto]]). */
  val CellCap = 4096

  /** The shared cell-count selector: k = ceil(n / targetCellSize),
    * clamped to [1, [[CellCap]]]. One rule for every IVF consumer
    * (l16, l26, [[graft.operators.AnnIndexes.buildIvf]]) so per-cell
    * work stays CONSTANT as the corpus grows — candidate pairs in a
    * cluster-then-prune pass are ~n²/2k, and with k ∝ n that is
    * ~n·target/2, linear. The 4096 cap bounds the broadcast centroid
    * frame (~2 MB at 512-byte vectors), far past any corpus this
    * target size meets in practice; at 100 TB you would raise the cap
    * with the executor budget, not the formula. IvfSpec pins that
    * realized cell sizes stay within a factor of the target. */
  def cellCount(n: Long, targetCellSize: Int = 32): Int = {
    require(targetCellSize >= 1, s"cellCount: target must be >= 1, got $targetCellSize")
    math.min(CellCap.toLong, math.max(1L, (n + targetCellSize - 1) / targetCellSize)).toInt
  }

  /** Assign every vector to its nearest centroid: broadcast the k-row
    * centroid frame, per-row O(k·d) distance math, `min_by` argmin in
    * one hash agg. The shuffle carries only (vec_id, cid). */
  def assign(e: DataFrame, centroids: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroids))
      .withColumn("d2", dist2(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))

  /** OPT-IN two-level (coarse-quantizer) assignment — the published
    * remedy for the n·k assignment law at large k (FAISS pairs IndexIVF
    * with a coarse quantizer over the centroids; Jégou 2011 §V trains
    * the coarse level exactly this way). [[assign]] pays k distance
    * evaluations per vector; past [[cellCount]]'s cap that is 4096 dots
    * per vector and the steepest measured slope in the engine
    * (BENCH_NOTES' 100× rung: 464 s for l16's assignment stage). Here
    * each vector pays `s = ⌈√k⌉` super-cell distances plus an exact
    * argmin over the member centroids of its `probeSuper` nearest
    * super-cells (expected `probeSuper·k/s` members) — ~√k·(1+probeSuper)
    * dots per vector, a ~21× stage drop at k = 4096, probeSuper = 2.
    *
    * Level-0 training is the SAME seeded Lloyd ([[train]]) over the
    * k-row centroid frame — deterministic, broadcast-sized, part of the
    * composed plan. Super-cells that win no centroid are dropped before
    * the per-vector distance pass, so every probed super-cell has
    * members and every vector receives an assignment (count-preserving;
    * IvfSpec pins it).
    *
    * APPROXIMATE by construction: a vector whose true nearest centroid
    * lives outside its `probeSuper` nearest super-cells assigns to the
    * best centroid among the probed ones. Recall vs the exact argmin is
    * spec-pinned (IvfSpec: ≥ 90% agreement on the fixture corpora at
    * probeSuper = 2, EXACT equality when probeSuper covers every
    * super-cell), and an IVF probe tolerates the mis-assigned tail the
    * same way it tolerates nprobe < k on the query side — both sides of
    * the cell boundary are probed for close queries. Exact-argmin
    * consumers (the composed l16/l26 catalog plans, every existing
    * spec) keep [[assign]]; this is the documented opt-in for builds
    * past the cell cap, where exactness of the INDEX layout was never
    * the contract — only probe recall is.
    *
    * `k` is the centroid count the caller already holds (it sized the
    * training run) — passing it keeps the plan composed, with no hidden
    * count action. Tie-breaks ((d2, sid) at level 0, (d2, cid) at level
    * 1) mirror [[assign]] exactly, so `probeSuper ≥ s` degenerates to
    * bit-identical exact assignment. */
  def assignCoarse(e: DataFrame, centroids: DataFrame, k: Int,
      probeSuper: Int = 2, superIters: Int = 2): DataFrame =
    coarseCandidates(e, centroids, k, probeSuper, superIters)
      .groupBy("vec_id")
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"))

  /** [[assignCoarse]] keeping the winning squared distance —
    * [[assignWithDist]]'s coarse sibling, so the d2-consuming
    * cap-regime operators (l50's prototypicality rank) get the same
    * ~√k·(1+probeSuper) assignment cost. The kept d2 is the TRUE
    * squared distance to the chosen centroid (computed exactly in the
    * level-1 pass); approximation affects only WHICH centroid wins
    * when the true argmin lies outside the probed super-cells — for
    * a mis-assigned vector the kept d2 is ≥ the exact argmin's, never
    * an underestimate of the reported cell's distance. Tie-break
    * (d2, cid) ≡ [[assignWithDist]]; probeSuper ≥ ⌈√k⌉ degenerates to
    * bit-identical exact output (IvfSpec pins both). */
  def assignCoarseWithDist(e: DataFrame, centroids: DataFrame, k: Int,
      probeSuper: Int = 2, superIters: Int = 2): DataFrame =
    coarseCandidates(e, centroids, k, probeSuper, superIters)
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"))

  /** The cap-regime selector shared by assignment consumers that hold
    * `k` (every caller — k sized their training run): EXACT [[assign]]
    * below [[CellCap]], where n·k is affordable and bit-stability is
    * free, [[assignCoarse]] at the cap, where k stopped growing with n
    * and the exact pass is the measured ~465 s/100-TB-rung bottleneck
    * (BENCH_NOTES round-16 table; the coarse arm measured 7.5× less).
    * Every corpus the sf gates replay sits far below the cap, so the
    * gate-scale output is bit-identical to [[assign]] by construction
    * — the coarse arm engages exactly where exactness of the index
    * layout was never the contract (IvfSpec pins the selector's
    * equivalence below the cap; LlmQueries' cap-regime specs pin
    * recall above it). */
  def assignAuto(e: DataFrame, centroids: DataFrame, k: Int,
      probeSuper: Int = 2): DataFrame =
    if (k >= CellCap) assignCoarse(e, centroids, k, probeSuper)
    else assign(e, centroids)

  /** [[assignAuto]] for the d2-keeping form. */
  def assignAutoWithDist(e: DataFrame, centroids: DataFrame, k: Int,
      probeSuper: Int = 2): DataFrame =
    if (k >= CellCap) assignCoarseWithDist(e, centroids, k, probeSuper)
    else assignWithDist(e, centroids)

  /** The shared two-level candidate frame behind [[assignCoarse]] and
    * [[assignCoarseWithDist]]: (vec_id, cid, d2) rows for every member
    * centroid of each vector's `probeSuper` nearest super-cells, d2
    * computed exactly. */
  private def coarseCandidates(e: DataFrame, centroids: DataFrame, k: Int,
      probeSuper: Int, superIters: Int): DataFrame = {
    require(k >= 1, s"assignCoarse: k must be >= 1, got $k")
    require(probeSuper >= 1, s"assignCoarse: probeSuper >= 1, got $probeSuper")
    val s = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    // level 0: cluster the centroids themselves (k rows, broadcast-
    // sized) into s super-cells with the same seeded Lloyd. The
    // checkpoints pin the level-0 frames to ONE computation: the
    // plan references them three times (membership, the live-super
    // filter, the per-vector pass) and without the pin each reference
    // re-runs the Lloyd subtree — measured as ~⅔ of the coarse path's
    // cost at the 100× rung. The cached frames are ≤ k rows.
    val cvecs = centroids.select(col("cid").cast("long").as("vec_id"),
      col("cv").as("v"))
    val supers0 = train(cvecs, s, superIters)
      .select(col("cid").as("sid"), col("cv").as("sv"))
      .localCheckpoint()
    // membership: each centroid's nearest super-cell — exact, k·s dots
    val members = cvecs.crossJoin(broadcast(supers0))
      .withColumn("d2", dist2(col("v"), col("sv")))
      .groupBy("vec_id")
      .agg(min_by(col("sid"), struct(col("d2"), col("sid"))).as("sid"),
        first(col("v")).as("cv"))
      .select(col("sid"), col("vec_id").cast("int").as("cid"), col("cv"))
      .localCheckpoint()
    // only super-cells that won ≥1 centroid are probe-able — an empty
    // super nearest to some vector must not strand it memberless
    val supers = supers0.join(members.select("sid").distinct(),
      Seq("sid"), "left_semi")
    // per vector: s super distances, keep the probeSuper nearest
    // ((d2, sid) order — the level-0 tie-break); the collect_list is
    // partial-aggregable and bounded at s entries per vector
    val probed = e.crossJoin(broadcast(supers))
      .withColumn("d2", dist2(col("v"), col("sv")))
      .groupBy("vec_id")
      .agg(slice(array_sort(collect_list(struct(col("d2"), col("sid")))),
          1, probeSuper).as("ps"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), explode(col("ps.sid")).as("sid"))
    // exact distances to the probed super-cells' members — the final
    // argmin (level-1 tie-break = assign's own (d2, cid)) happens in
    // the public finishers
    probed.join(broadcast(members), "sid")
      .withColumn("d2", dist2(col("v"), col("cv")))
  }

  /** [[assign]] keeping the winning squared distance — the drift
    * telemetry an incremental index append reads
    * ([[graft.operators.AnnIndexes.ivfDrift]]). Same argmin tie-break
    * as [[assign]] (struct min orders by (d2, cid)). */
  def assignWithDist(e: DataFrame, centroids: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroids))
      .withColumn("d2", dist2(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"))

  /** Elementwise mean of a vector column as a typed `Aggregator` with a
    * fixed (sums, count) buffer — the same scale shape as
    * [[MinHash.SigAgg]]: partial (map-side) aggregation applies, so the
    * shuffle carries ONE ~512-byte partial per (partition, cell)
    * instead of the 64× row multiplication the previous
    * posexplode → (cid, pos) avg → re-assemble pipeline shuffled. At
    * 100 TB that posexplode was the worst shuffle in the IVF path; this
    * is a single hash agg. Vectors in one group must share a dimension
    * (guaranteed by the embedding schema). */
  // Qualified-private, NOT `private`: Scala emits plain `private` nested
  // classes as private in bytecode, and the Janino-compiled encoder
  // projections (SpecificSafeProjection et al. — generated classes
  // OUTSIDE this object) then can't touch the constructor or accessors.
  // That failure is silent-but-slow: Spark logs a CompileException and
  // falls back to interpreted encoders for every l16 run (this was the
  // guava LoadingCache stack in the round-6 bench tail). `private[graft]`
  // has no Java equivalent, so scalac emits public bytecode and the
  // generated code compiles. Pinned by IvfSpec's CODEGEN_ONLY case.
  private[graft] final case class MeanBuf(sums: Array[Double], n: Long)

  private object VecMeanAgg extends Aggregator[Seq[Double], MeanBuf, Seq[Double]] {
    def zero: MeanBuf = MeanBuf(Array.emptyDoubleArray, 0L)

    def reduce(b: MeanBuf, v: Seq[Double]): MeanBuf =
      if (b.n == 0L) MeanBuf(v.toArray, 1L)
      else {
        var i = 0
        while (i < b.sums.length) { b.sums(i) += v(i); i += 1 }
        MeanBuf(b.sums, b.n + 1L)
      }

    def merge(a: MeanBuf, b: MeanBuf): MeanBuf =
      if (a.n == 0L) b
      else if (b.n == 0L) a
      else {
        var i = 0
        while (i < a.sums.length) { a.sums(i) += b.sums(i); i += 1 }
        MeanBuf(a.sums, a.n + b.n)
      }

    def finish(b: MeanBuf): Seq[Double] =
      if (b.n == 0L) Seq.empty else b.sums.toIndexedSeq.map(_ / b.n)

    def bufferEncoder: Encoder[MeanBuf] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  }

  private val vecMean =
    udaf(VecMeanAgg, ExpressionEncoder[Seq[Double]]())

  /** One Lloyd iteration: re-assign, then recompute each cell's mean in
    * one partial-aggregable hash agg ([[VecMeanAgg]]). Empty cells keep
    * no row and simply vanish — harmless for probing (fewer cells =
    * more candidates, never fewer correct results). */
  def lloydStep(e: DataFrame, centroids: DataFrame): DataFrame =
    lloydStepWith(e, centroids, assign)

  /** [[lloydStep]] with the iteration's re-assignment routed through
    * [[assignAuto]] — what [[train]] folds: exact below [[CellCap]]
    * (bit-identical to [[lloydStep]] at every gate scale), the
    * two-level coarse argmin AT the cap. Round 18's measured motive:
    * the composed l26 at the 100× rung still cost 242.9 s AFTER its
    * final assignment went coarse, and ~all of it was the 2 training
    * iterations each paying the exact n·k pass inside this very step —
    * training was the last unconsumed instance of the assignment law.
    * Approximating the TRAINING argmin is the published two-level
    * recipe itself (Jégou 2011 §V trains the coarse level this way;
    * large-scale k-means practice at FAISS scale bounds assignment
    * work per update): a ≥ 90%-agreement argmin (IvfSpec's pin) moves
    * each cell mean marginally, strict per-iteration distortion
    * non-increase relaxes to approximate — and the probe-side nprobe
    * tolerance absorbs it exactly as it absorbs the coarse final
    * assignment's tail. */
  def lloydStepAuto(e: DataFrame, centroids: DataFrame, k: Int): DataFrame =
    lloydStepWith(e, centroids, assignAuto(_, _, k))

  private def lloydStepWith(e: DataFrame, centroids: DataFrame,
      assignFn: (DataFrame, DataFrame) => DataFrame): DataFrame =
    assignFn(e, centroids)
      .join(e, "vec_id")
      .groupBy("cid")
      .agg(vecMean(col("v")).as("cv"))

  /** Train `iters` Lloyd iterations from the seeded init — a composed
    * plan, no driver actions. Iterations re-assign via
    * [[lloydStepAuto]]: bit-identical to the exact fold below
    * [[CellCap]] (IvfSpec pins the equality), ~√k-cost coarse argmin
    * at the cap — see [[lloydStepAuto]] for the contract. */
  def train(e: DataFrame, k: Int, iters: Int): DataFrame =
    (1 to iters).foldLeft(seedCentroids(e, k))((c, _) => lloydStepAuto(e, c, k))

  /** [[train]] on a bounded deterministic SAMPLE — the scale path past
    * [[cellCount]]'s 4096-cell cap. Below the cap, k ∝ n keeps per-cell
    * work constant and full-corpus training is the right spend; at the
    * cap k stops growing, every Lloyd iteration still re-scans the FULL
    * corpus, and centroid quality saturates long before the data ends —
    * the standard practice (the published IVF training regimes use a
    * few dozen to a few hundred points per centroid) is to train on
    * ~`perCentroid`·k vectors and pay the corpus only ONE assignment
    * pass.
    *
    * The sample is a pure per-row hash predicate (same determinism
    * model as [[seedCentroids]] and l20's stratified draw —
    * `xxhash64(vec_id)` under a rate threshold), so it is shuffle-free,
    * evaluated at the scan, reproducible on any cluster size, and
    * MONOTONIC in the budget. When `perCentroid · k ≥ n` the predicate
    * keeps everything and the result is BIT-IDENTICAL to [[train]]
    * (IvfSpec pins it), so callers can adopt the sampled form
    * unconditionally: it only ever diverges where full training is
    * already unaffordable.
    *
    * `n` is the caller's corpus count (every consumer already has it —
    * k sizing needs it); passing it keeps this a composed plan with no
    * hidden action. */
  def trainSampled(e: DataFrame, k: Int, iters: Int, n: Long,
      perCentroid: Int = 128): DataFrame = {
    require(n >= 0, s"trainSampled: corpus count must be >= 0, got $n")
    val budget = k.toLong * perCentroid
    val sample =
      if (budget >= n) e
      else {
        // millionths avoid float thresholds: keep iff
        // pmod(hash, 1e6) < rate·1e6, rounded UP so the expected sample
        // never undershoots the budget
        val rateMicro = ((budget * 1000000L + n - 1) / n).min(1000000L)
        e.filter(pmod(xxhash64(col("vec_id")), lit(1000000L)) < lit(rateMicro))
      }
    train(sample, k, iters)
  }
}
