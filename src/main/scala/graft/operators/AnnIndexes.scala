package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Ivf, SimHash, VectorOps}

/** Persisted ANN indexes — the build-once / probe-many split behind the
  * l12 (hyperplane-LSH) and l16 (IVF) catalog queries.
  *
  * The catalog queries compose train + probe into one self-contained
  * plan so the driver's gate can replay them from nothing. That is the
  * right shape for a correctness gate and the WRONG shape for steady
  * state: at 100 TB the corpus is signed/clustered ONCE per refresh in
  * batch, the index lands on parquet, and every query afterwards only
  * probes. This object is that steady-state contract — the same
  * `write`/`readIndex` treatment the streaming near-dup corpus
  * index already gets ([[graft.streaming.StreamingNearDup.write]]),
  * extended to both ANN families. The reference encodes the identical
  * philosophy with its precomputed index set (`sql/init/
  * 03_create_indexes.sql` — build indexes once, point queries probe).
  *
  * Build and probe share the SAME code paths as the composed queries
  * ([[lshBands]] feeds l12; [[Ivf.train]]/[[Ivf.assign]] feed l16), so
  * a probe against a materialized index cannot drift from the composed
  * plan — pinned by AnnIndexSpec against the same sf0.01 goldens.
  *
  * Persisted layout (the 100 TB shape):
  *  - LSH bands cluster by (band_id, bval) (one [[IndexArtifact]]
  *    layout for write, append and retract): a probe pushes its 4 band
  *    keys down as literal predicates, so row-group min/max stats on
  *    the clustered layout skip everything outside the query's 4 band
  *    values.
  *  - IVF inverted lists (fp64 and int8, one
  *    [[IndexArtifact.cellPartitioned]] layout each) are
  *    DIRECTORY-partitioned by cell id: a probe touches `nprobe`/`k` of
  *    the index files by path pruning alone, before any row is read.
  *    Centroids are a k-row side file.
  *  - Neither index stores vectors. The probe re-ranks candidates
  *    against the embeddings table itself — the index stays tens of
  *    bytes per vector, and re-ranking reads only candidate rows.
  */
object AnnIndexes {

  // ------------------------------------------------------------- LSH

  /** Band rows (vec_id, band_id, bval) for a corpus (vec_id, v):
    * 16-plane sign signature → 4×4-bit bands, identical arithmetic to
    * the l12 composed plan (shared [[LlmQueries.hyperplaneSig]]). */
  def lshBands(e: DataFrame): DataFrame =
    LlmQueries.hyperplaneSig(e, LlmQueries.hyperplanes16)
      .select(col("vec_id"), explode(SimHash.bands(col("sig"), 4, 16)).as("b"))
      .select(col("vec_id"), col("b.band_id"), col("b.bval"))

  /** The persisted band rows: hash-partitioned by band_id, sorted by
    * (band_id, bval) within each file. */
  private val LshArtifact =
    IndexArtifact.hashClustered("lsh_bands", "vec_id", "band_id", "band_id", "bval")

  def writeLsh(bands: DataFrame, base: String): Unit =
    LshArtifact.write(bands, base)

  def readLsh(spark: SparkSession, base: String): DataFrame =
    LshArtifact.read(spark, base)

  /** Incremental append: band rows for `newVecs` land beside the
    * existing index files. The LSH signature is a PURE per-row function
    * of the vector — no trained state — so append-then-probe equals a
    * full rebuild EXACTLY (AnnIndexSpec pins row equality), and a daily
    * refresh only signs the new vectors. The new rows land as one file
    * sorted by (band_id, bval); its footer spans every band, so a probe
    * opens it until compaction restores one band per file. */
  def appendLsh(newVecs: DataFrame, base: String): Unit =
    LshArtifact.append(lshBands(newVecs), base)

  /** Retract vectors from EVERY persisted artifact under `base` —
    * `lsh_bands`, `ivf_lists` and/or `ivf8_lists`, whichever exist; the
    * inverted files of a versioned root ([[initIvfVersioned]]) under its
    * live tree — with ONE id set
    * pinned before any swap (exactly one materialization for the
    * combined path: the single-artifact retracts below delegate to the
    * same pre-pinned variants). This is the safe form whenever the id
    * list's lineage may read either artifact: a LAZY frame passed to
    * two separate calls would re-evaluate between swaps — the first
    * rewrite replaces the files the second call's pin then tries to
    * read (loud FileNotFound under a cached listing, silently-empty
    * after a refresh; AnnIndexSpec pins the safe path). */
  def retract(spark: SparkSession, ids: DataFrame, base: String): Unit =
    retractPinned(spark, IndexArtifact.pinIds(ids, "vec_id"), base)

  /** [[retract]] for an id frame the caller already materialized
    * ([[ReleaseFlow.retractAll]] pins one set across the whole
    * deployment footprint). */
  private[graft] def retractPinned(spark: SparkSession, pinned: DataFrame,
      base: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def exists(d: String) = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).exists(p)
    }
    // a versioned root keeps its inverted files under the live tree
    val ivfBase = Compaction.resolve(spark, base)
    // disjoint artifact dirs — concurrent swaps ([[Par]], guide §2.6)
    Par.run(Seq(LshArtifact -> base, Fp64.lists -> ivfBase,
        Int8.lists -> ivfBase)
      .collect { case (a, b) if exists(a.dir(b)) =>
        () => a.retract(spark, pinned, b) })
  }

  /** Remove every band row of vectors in `ids` (a vec_id frame) —
    * [[Compaction.retractWith]]'s contract on this artifact (the vector
    * side of [[graft.operators.ReleaseFlow.retract]]'s recall story:
    * retracting a document whose embedding was indexed must recall the
    * embedding too). Band rows are pure per-vector functions, so the
    * anti-join equals a rebuild without those vectors exactly — and
    * the rewrite is FILE-scoped: a vec_id signs into 4 of the 16 band
    * partitions, so a small takedown touches at most 4·|ids| of the
    * clustered files and the rest keep their bytes (AnnIndexSpec pins
    * it). For an id list whose lineage might read EITHER vector
    * artifact, use [[retract]] (one pin across both swaps). */
  def retractLsh(spark: SparkSession, ids: DataFrame, base: String): Unit =
    // pinned before the swap ([[IndexArtifact.pinIds]])
    LshArtifact.retract(spark, IndexArtifact.pinIds(ids, "vec_id"), base)

  /** Top-k by exact cosine among the vectors sharing ≥1 LSH band with
    * the query. `bands` may be the composed [[lshBands]] frame or a
    * [[readLsh]] read-back — same result by construction. `query` is a
    * 1-row frame with vector column `v`; its band keys are recomputed
    * from the vector (the signature is a pure function, so a corpus
    * query and a novel query probe identically). `excludeId` drops the
    * query's own corpus row from the candidates (-1 = keep all).
    *
    * The 4 band keys are collected driver-side (a BOUNDED action: one
    * query row → 4 keys, the same budget as m1's refresh key) and
    * pushed as LITERAL predicates, so the band-index scan row-group-
    * skips via parquet min/max stats — the point-lookup shape a
    * production probe uses. The join form would read the whole index:
    * a broadcast join filters AFTER the scan, it cannot push min/max
    * skipping into it. */
  def probeLsh(bands: DataFrame, e: DataFrame, query: DataFrame,
      topK: Int, excludeId: Long = -1L): DataFrame = {
    val qb = lshBands(query.select(lit(-1L).as("vec_id"), col("v")))
      .select("band_id", "bval").collect()
    require(qb.nonEmpty, "probeLsh: query frame produced no band keys")
    // one query row signs into exactly 4 band rows — more means a
    // multi-row query frame, whose band keys would blend into one
    // candidate set and rerank into a meaningless mixed top-k
    require(qb.length <= 4,
      s"probeLsh: query frame has ${qb.length / 4} rows — use probeLshBatch")
    val hit = qb.map(r => col("band_id") === r.getInt(0) && col("bval") === r.getLong(1))
      .reduce(_ || _)
    // Dedup candidates as bare ids BEFORE re-attaching vectors so the
    // distinct's shuffle never carries the 512-byte arrays (same
    // discipline as the composed l12 plan).
    val candidates = bands.filter(col("vec_id") =!= excludeId)
      .filter(hit)
      .select("vec_id").distinct()
    rerank(candidates, e, query, topK)
  }

  /** [[probeLsh]]'s fully-LAZY sibling: candidates come from a
    * broadcast equi-join of the query's 4-row band frame against the
    * index, so building the plan runs NO Spark job. Same rows as
    * [[probeLsh]] by construction (identical band arithmetic, identical
    * re-rank). Use this when the bands are an IN-PLAN frame (the
    * composed l12 catalog query): there the collect-and-push-literals
    * path costs an eager job at DataFrame-build time and buys nothing —
    * min/max row-group skipping only exists on a parquet-backed scan.
    * Reserve [[probeLsh]] for materialized indexes, where the pushed
    * literals are the point.
    *
    * Laziness trade ([[probeIvf]] has the same contract): an EMPTY
    * query frame yields an empty result, not [[probeLsh]]'s loud
    * `require` — validate the query exists upstream if that
    * distinction matters (the composed l12 gate pins rows = topK, so
    * a vanished query row surfaces as a failed row count there). */
  def probeLshJoin(bands: DataFrame, e: DataFrame, query: DataFrame,
      topK: Int, excludeId: Long = -1L): DataFrame = {
    val qb = lshBands(query.select(lit(-1L).as("vec_id"), col("v")))
      .select("band_id", "bval")
    val candidates = bands.filter(col("vec_id") =!= excludeId)
      .join(broadcast(qb), Seq("band_id", "bval"))
      .select("vec_id").distinct()
    rerank(candidates, e, query, topK)
  }

  /** Batch probe: top-k for a whole query FRAME (qid, v) in one plan —
    * the shape for re-ranking a day's queries or an evaluation set,
    * where [[probeLsh]]'s per-query driver collect would serialize into
    * N driver round-trips. Candidates come from ONE equi-join of the
    * index against the batch's band rows (4·|queries| rows, broadcast);
    * the per-query top-k is a rank window partitioned by qid — the
    * partition count is the query count, so the window never sees
    * corpus-sized partitions. `excludeSelf` (default) drops the
    * self-match when the query id appears in the corpus (`qid ===
    * vec_id`), mirroring probeLsh's excludeId — pass false when the
    * query ids are a namespace UNRELATED to corpus ids (a novel eval
    * set numbered from 0), where the coincidental-id drop would
    * silently exclude a genuine neighbor. Returns (qid, vec_id,
    * sim_e4); AnnIndexSpec pins a 3-query batch equal to 3 single
    * probes row-for-row. */
  def probeLshBatch(bands: DataFrame, e: DataFrame, queries: DataFrame,
      topK: Int, excludeSelf: Boolean = true): DataFrame = {
    val qb = lshBands(queries.select(col("qid").as("vec_id"), col("v")))
      .select(col("vec_id").as("qid"), col("band_id"), col("bval"))
    val candidates = bands
      .join(broadcast(qb), Seq("band_id", "bval"))
      .filter(if (excludeSelf) col("vec_id") =!= col("qid") else lit(true))
      .select("qid", "vec_id").distinct()
    rerankBatch(candidates, e, queries, topK)
  }

  /** Per-qid exact-cosine re-rank for BATCH probes: a (qid, vec_id)
    * candidate frame joins its vectors back, scores against the
    * broadcast query batch, and takes top-k per qid via a rank window
    * whose partitions are per-query candidate sets — never
    * corpus-sized. Shared by [[probeLshBatch]] and [[probeIvfBatch]]
    * (the batch siblings of [[rerank]]). */
  private[operators] def rerankBatch(candidates: DataFrame, e: DataFrame,
      queries: DataFrame, topK: Int): DataFrame = {
    val scored = candidates.join(e, "vec_id")
      .join(broadcast(queries.select(col("qid"), col("v").as("qv"))), "qid")
      .withColumn("sim_e4",
        round(lit(10000) * VectorOps.cosineNative(col("v"), col("qv"))).cast("long"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("sim_e4").desc, col("vec_id"))
    scored.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= topK)
      .select("qid", "vec_id", "sim_e4")
      .orderBy(col("qid"), col("sim_e4").desc, col("vec_id"))
  }

  // ------------------------------------------------------------- IVF

  /** Trained IVF index: `centroids` = (cid, cv) — k rows; `lists` =
    * (vec_id, cid) — the inverted file. */
  final case class IvfIndex(centroids: DataFrame, lists: DataFrame)

  /** Train k-means cells and assign every vector — the exact l16
    * composed build ([[Ivf.train]] + [[Ivf.assign]]). */
  def buildIvf(e: DataFrame, k: Int, iters: Int): IvfIndex = {
    // Deliberately NOT checkpointed: l16's single-plan compose already
    // collapses the duplicated train subtree through broadcast-exchange
    // reuse, and forcing a materialization boundary here measured
    // SLOWER (1.49 → 1.94 s at sf0.1) — the checkpoint pays a block
    // write + a fresh broadcast where ReusedExchange was free. The
    // self-JOIN case, where exchange reuse genuinely fails to collapse
    // the fold, checkpoints at its call site instead (l26).
    val c = Ivf.train(e, k, iters)
    IvfIndex(c, Ivf.assign(e, c))
  }

  /** THE production build: [[Ivf.trainSampled]] under the caller's
    * corpus count — past [[Ivf.cellCount]]'s 4096-cell cap the Lloyd
    * iterations train on a bounded deterministic sample instead of
    * re-scanning the full corpus per iteration, and below the budget
    * (`128·k ≥ n`, every corpus this repo tests) the sample predicate
    * keeps everything and the result is BIT-IDENTICAL to the
    * count-free overload (IvfSpec pins it; AnnIndexSpec pins this
    * overload against that one). `n` is a passed-in count so the build
    * stays a composed plan with no hidden action — every production
    * caller already holds it (l16's memoized [[graft.Tables.rowCount]],
    * the versioned builds' own sizing count). The full corpus still
    * pays exactly ONE assignment pass ([[Ivf.assign]]), as before. */
  def buildIvf(e: DataFrame, k: Int, iters: Int, n: Long): IvfIndex = {
    val c = Ivf.trainSampled(e, k, iters, n)
    IvfIndex(c, Ivf.assign(e, c))
  }

  /** OPT-IN past-the-cap production build: sampled-Lloyd training plus
    * the two-level coarse assignment ([[Ivf.assignCoarse]] — ~√k·3
    * dots per vector instead of k). The build for corpora where
    * [[Ivf.cellCount]] sits at its 4096 cap and the exact n·k
    * assignment is the dominant cost (BENCH_NOTES' steepest measured
    * rung slope); everything downstream — write layout, probes,
    * append, retract — is unchanged, because the inverted file's
    * SHAPE is identical and probe recall tolerates the coarse
    * assignment's mis-assigned tail exactly as it tolerates
    * nprobe < k. Exact-assignment consumers keep [[buildIvf]]. */
  def buildIvfCoarse(e: DataFrame, k: Int, iters: Int, n: Long,
      probeSuper: Int = 2): IvfIndex = {
    val c = Ivf.trainSampled(e, k, iters, n)
    IvfIndex(c, Ivf.assignCoarse(e, c, k, probeSuper))
  }

  /** [[buildIvf]] with k from the shared [[Ivf.cellCount]] selector.
    * The corpus count is a deliberate build-time action: k shapes the
    * training plan itself (seed limit, broadcast width), and an index
    * BUILD is a batch job that runs jobs by definition — unlike a probe,
    * where build-time eagerness is a defect ([[probeLshJoin]]). The
    * count then also bounds training via the sampled production path. */
  def buildIvf(e: DataFrame, iters: Int): IvfIndex = {
    val n = e.count()
    buildIvf(e, Ivf.cellCount(n), iters, n)
  }

  /** One IVF variant's persisted files: the k-row centroid file and the
    * inverted file, directory-partitioned by `cid` so that probing
    * nprobe of k cells prunes to nprobe/k of the files by PATH, before
    * reading a row. `assign` is the variant's list rows of new vectors
    * under the FROZEN centroids — what an append lands. */
  private final class IvfFiles(centroidsSub: String, val lists: IndexArtifact,
      assign: (DataFrame, DataFrame) => DataFrame) {

    def write(centroids: DataFrame, rows: DataFrame, base: String): Unit = {
      centroids.coalesce(1)
        .write.mode("overwrite").parquet(s"$base/$centroidsSub")
      lists.write(rows, base)
    }

    def centroids(spark: SparkSession, base: String): DataFrame =
      spark.read.parquet(s"$base/$centroidsSub")

    def append(spark: SparkSession, newVecs: DataFrame, base: String): Unit =
      lists.append(assign(centroids(spark, base), newVecs), base)

    /** Pinned before the swap — same lineage hazard as [[retractLsh]]. */
    def retract(spark: SparkSession, ids: DataFrame, base: String): Unit =
      lists.retract(spark, IndexArtifact.pinIds(ids, "vec_id"), base)
  }

  private val Fp64 = new IvfFiles("ivf_centroids",
    IndexArtifact.cellPartitioned("ivf_lists", "vec_id", "cid", "vec_id"),
    (c, e) => Ivf.assign(e, c))

  private val Int8 = new IvfFiles("ivf8_centroids",
    IndexArtifact.cellPartitioned("ivf8_lists", "vec_id", "cid", "vec_id"),
    (c, e) => buildIvfInt8From(c, e).lists)

  /** Cid directory-partitioned lists, one centroid file ([[IvfFiles]]). */
  def writeIvf(idx: IvfIndex, base: String): Unit =
    Fp64.write(idx.centroids, idx.lists, base)

  /** [[writeIvf]] plus the 1-row training-quality stats file the drift
    * criterion compares against: mean squared assignment distance and
    * count over the TRAINING corpus `e`. Write this form when the index
    * will be appended to; [[ivfDrift]] reads it back. */
  def writeIvfWithStats(idx: IvfIndex, e: DataFrame, base: String): Unit = {
    writeIvf(idx, base)
    Ivf.assignWithDist(e, idx.centroids)
      .agg(avg("d2").as("train_mean_d2"), count(lit(1)).as("n_train"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/ivf_stats")
  }

  def readIvf(spark: SparkSession, base: String): IvfIndex =
    IvfIndex(Fp64.centroids(spark, base), Fp64.lists.read(spark, base))

  /** Incremental append: assign `newVecs` against the FROZEN persisted
    * centroids and append to the cid-partitioned inverted lists — the
    * IndexIVF `add` operation (Jégou 2011 separates train from add
    * exactly so ingestion never retrains). A probe then equals a probe
    * of assign-over-everything with the same centroids row-for-row
    * (AnnIndexSpec pins it); what append does NOT do is move the
    * centroids, so cell BALANCE degrades as the corpus drifts — that
    * staleness is what [[ivfDrift]] measures and a retrain fixes.
    * Caller contract: `newVecs` must be DISJOINT from already-indexed
    * vec_ids — append cannot dedup against the landed lists without
    * reading them, so a replayed overlapping batch lands duplicates
    * (the batch probe tolerates this via its candidate distinct; dedup
    * the ingest upstream, e.g. [[graft.streaming.StreamingDedup]]).
    * An append after a full takedown clears the empty sentinel first
    * ([[IndexArtifact]]), so the lifecycle never bricks the lists. */
  def appendIvf(spark: SparkSession, newVecs: DataFrame, base: String): Unit =
    Fp64.append(spark, newVecs, base)

  /** Remove every inverted-list row of vectors in `ids` (a vec_id
    * frame) — the IndexIVF `remove_ids` operation. Assignments are a
    * pure per-vector function of the FROZEN centroids, so the
    * anti-join equals an assign-over-the-complement rebuild under the
    * same centroids exactly. Centroids and the `ivf_stats` training
    * record are untouched: retraction does not retrain (exactly as
    * append does not), so [[ivfDrift]] keeps measuring against the
    * original training distribution.
    *
    * CELL-scoped, the actual IndexIVF `remove_ids` cost model: each
    * retracted vector lives in exactly ONE cell, so only the `cid=`
    * partitions holding retracted vec_ids are rewritten — at 100 TB a
    * 10-doc takedown moves ≤ 10 of the inverted lists, and untouched
    * cell directories keep their files and mtimes (AnnIndexSpec pins
    * it). [[Compaction.retractWith]] discovers the touched cells from
    * one column-pruned (vec_id → file) scan; the cid directory layout
    * is preserved (basePath read + partitionBy staging), so path-level
    * cell pruning survives the rewrite. Retracting EVERY vector leaves
    * an empty sentinel that reads back as an empty index. */
  def retractIvf(spark: SparkSession, ids: DataFrame, base: String): Unit =
    Fp64.retract(spark, ids, base)

  /** The retrain criterion: 1-row frame comparing the mean squared
    * assignment distance of `newVecs` under the persisted centroids
    * against the training-time mean ([[writeIvfWithStats]]).
    * `drift_ratio` ≈ 1 means the new batch looks like the training
    * distribution; past ~1.5 the frozen cells are a poor quantizer for
    * what is arriving and the operator should schedule a retrain.
    * Driver reads ONE bounded row — the same budget as l28's
    * convergence poll. */
  def ivfDrift(spark: SparkSession, newVecs: DataFrame, base: String): DataFrame = {
    val stats = spark.read.parquet(s"$base/ivf_stats")
    Ivf.assignWithDist(newVecs, spark.read.parquet(s"$base/ivf_centroids"))
      .agg(avg("d2").as("new_mean_d2"), count(lit(1)).as("n_new"))
      .crossJoin(broadcast(stats))
      .select(col("n_new"), col("n_train"), col("new_mean_d2"),
        col("train_mean_d2"),
        // a degenerate training set (mean d² = 0, e.g. constant vectors
        // after heavy dedup) must not NULL the ratio and silently
        // disarm the retrain alert: identical new data → 1.0, anything
        // off the centroids → +Inf (always fires)
        when(col("train_mean_d2") === 0d,
          when(col("new_mean_d2") === 0d, lit(1.0))
            .otherwise(lit(Double.PositiveInfinity)))
          .otherwise(col("new_mean_d2") / col("train_mean_d2"))
          .as("drift_ratio"))
  }

  /** Top-k by exact cosine among the vectors in the query's `nprobe`
    * nearest cells. `idx` may be the composed [[buildIvf]] result or a
    * [[readIvf]] read-back. Centroid selection is a k-row broadcast;
    * the inverted-list join carries bare (vec_id, cid) pairs.
    *
    * Fully lazy (no driver action, unlike [[probeLsh]]'s band-key
    * collect): an EMPTY query frame therefore yields an empty result,
    * not an error — validate the query exists upstream if that
    * distinction matters. */
  def probeIvf(idx: IvfIndex, e: DataFrame, query: DataFrame,
      nprobe: Int, topK: Int, excludeId: Long = -1L): DataFrame = {
    val q = query.select(col("v").as("qv"))
    val probeCells = idx.centroids.crossJoin(broadcast(q))
      .withColumn("d2", Ivf.dist2(col("cv"), col("qv")))
      .orderBy(col("d2"), col("cid")).limit(nprobe)
      .select("cid")
    val candidates = idx.lists.join(broadcast(probeCells), "cid")
      .filter(col("vec_id") =!= excludeId).select("vec_id")
    rerank(candidates, e, query, topK)
  }

  /** Batch IVF probe: top-k for a whole query FRAME (qid, v) in one
    * plan — [[probeLshBatch]]'s sibling for the IVF index, completing
    * the batch surface (an evaluation set probes hundreds of queries;
    * N single probes would run N jobs). Cell selection is per qid: the
    * k×|queries| centroid-distance frame (small — k centroids, batch-
    * bounded queries) ranks within each qid by (d2, cid), exactly the
    * single probe's orderBy-limit tie-break, so a batch of one equals
    * [[probeIvf]] row-for-row. Candidates come from ONE equi-join of
    * the cid-partitioned lists against the broadcast (qid, cid) probe
    * set, then a distinct: a healthy inverted file holds each vec_id
    * once, but a replayed [[appendIvf]] over an overlapping vector
    * batch can land a vec_id twice, and an undeduped duplicate would
    * occupy two top-k slots in the re-rank. `excludeSelf` as in
    * [[probeLshBatch]] — pass false for query-id namespaces unrelated
    * to corpus ids. Returns (qid, vec_id, sim_e4); AnnIndexSpec pins a
    * 3-query batch equal to 3 single probes row-for-row. */
  def probeIvfBatch(idx: IvfIndex, e: DataFrame, queries: DataFrame,
      nprobe: Int, topK: Int, excludeSelf: Boolean = true): DataFrame = {
    val qc = idx.centroids
      .crossJoin(broadcast(queries.select(col("qid"), col("v").as("qv"))))
      .withColumn("d2", Ivf.dist2(col("cv"), col("qv")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("d2"), col("cid"))
    val probeCells = qc.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= nprobe).select("qid", "cid")
    val candidates = idx.lists.join(broadcast(probeCells), "cid")
      .filter(if (excludeSelf) col("vec_id") =!= col("qid") else lit(true))
      .select("qid", "vec_id").distinct()
    rerankBatch(candidates, e, queries, topK)
  }

  // ------------------------------------------- int8-quantized IVF

  /** Int8-quantized IVF index: `centroids` as in [[IvfIndex]] (fp64 —
    * k rows, negligible); `lists` = (vec_id, cid, qv array<tinyint>,
    * scale double, norm double) — the inverted file holding QUANTIZED
    * vectors, 4× smaller than the fp64 lists at 100 TB the difference
    * between an index that fits hot storage and one that doesn't. */
  final case class IvfInt8Index(centroids: DataFrame, lists: DataFrame)

  /** l24's exact quantization rule as a frame transform — q = sign(x) ·
    * round(|x| · 127/max|x|), stored as TINYINT — plus the fp64 norm
    * (‖v‖ is 8 bytes/vector and re-deriving it from int8 would fold the
    * quantization error into every cosine denominator). Row-local. */
  def quantizeInt8(e: DataFrame): DataFrame =
    e.withColumn("m", expr("array_max(transform(v, x -> abs(x)))"))
      .withColumn("scale",
        expr("CASE WHEN m = 0 THEN CAST(1.0 AS DOUBLE) ELSE 127.0 / m END"))
      .withColumn("qv", expr(
        """transform(v, x -> CAST(CAST(sign(x) AS BIGINT)
           * CAST(ROUND(abs(x) * scale) AS BIGINT) AS TINYINT))"""))
      .withColumn("norm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0d), (a, x) => a + x)))
      .drop("m")

  /** Build the quantized index: sampled-Lloyd centroids (the l16
    * production path), one assignment pass, one row-local quantization
    * pass joined on vec_id (assign's groupBy already partitioned by
    * vec_id, so only the quantized side shuffles — a build-time
    * one-shot). */
  def buildIvfInt8(e: DataFrame, k: Int, iters: Int, n: Long): IvfInt8Index =
    buildIvfInt8From(Ivf.trainSampled(e, k, iters, n), e)

  /** [[buildIvfInt8]] under ALREADY-TRAINED centroids — the shape for a
    * deployment (or the composed l36 catalog query) that shares one
    * trained centroid frame across the fp64 and int8 index builds
    * rather than re-running Lloyd per variant. */
  def buildIvfInt8From(centroids: DataFrame, e: DataFrame): IvfInt8Index = {
    val q = quantizeInt8(e).select("vec_id", "qv", "scale", "norm")
    IvfInt8Index(centroids, Ivf.assign(e, centroids).join(q, "vec_id"))
  }

  /** Same layout as [[writeIvf]] ([[IvfFiles]]). The parquet schema
    * stores `qv` as `array<tinyint>` — the 4× saving is real on disk,
    * not just in memory. */
  def writeIvfInt8(idx: IvfInt8Index, base: String): Unit =
    Int8.write(idx.centroids, idx.lists, base)

  def readIvfInt8(spark: SparkSession, base: String): IvfInt8Index =
    IvfInt8Index(Int8.centroids(spark, base), Int8.lists.read(spark, base))

  /** [[appendIvf]] on the quantized index: assign `newVecs` against the
    * FROZEN persisted centroids and quantize row-locally
    * ([[quantizeInt8]] — l24's rule). Pure per-vector functions of the
    * frozen centroids, so append-then-probe equals a rebuild over the
    * union corpus exactly (QuantizedAnnSpec pins it); the disjoint-ids
    * caller contract is [[appendIvf]]'s. */
  def appendIvfInt8(spark: SparkSession, newVecs: DataFrame,
      base: String): Unit =
    Int8.append(spark, newVecs, base)

  /** [[retractIvf]] on the QUANTIZED index — the same remove_ids
    * contract (every int8 list row is a pure per-vector function of
    * the frozen centroids plus l24's quantization rule, so the
    * anti-join equals a quantize-and-assign rebuild over the
    * complement exactly) and the same cell-scoped cost model. Centroids
    * untouched — retraction does not retrain. Without this a takedown against a deployment probing the int8 index
    * would leave the retracted vectors probe-visible. */
  def retractIvfInt8(spark: SparkSession, ids: DataFrame, base: String): Unit =
    Int8.retract(spark, ids, base)

  /** Probe the quantized index: cell selection exactly as [[probeIvf]]
    * (fp64 centroids), then an INT8 shortlist pass over the probed
    * cells — the integer dot product `Σ qa·qb` is exact int arithmetic
    * (bounded by 127²·d, no overflow below d ≈ 5·10¹⁴), descaled to an
    * approximate cosine by the stored scales and norms — and only the
    * top `refine · topK` shortlist rows pay the fp64 re-rank against
    * the RAW embedding frame `e`. At scale that means the heavy read
    * is int8 (quarter the bytes of fp64 lists); fp64 vectors are
    * fetched for ~refine·topK rows, not per candidate. Exactness
    * contract (QuantizedAnnSpec): with `refine` large enough to cover
    * every candidate in the probed cells, the result EQUALS
    * [[probeIvf]] row-for-row — the approximation only ever narrows
    * the shortlist, never the scoring of what survives. */
  def probeIvfInt8(idx: IvfInt8Index, e: DataFrame, query: DataFrame,
      nprobe: Int, topK: Int, refine: Int = 4,
      excludeId: Long = -1L): DataFrame = {
    val qq = quantizeInt8(query.select(col("v")))
      .select(col("qv").as("q_qv"), col("scale").as("q_scale"),
        col("norm").as("q_norm"))
    val probeCells = idx.centroids
      .crossJoin(broadcast(query.select(col("v").as("qv2"))))
      .withColumn("d2", Ivf.dist2(col("cv"), col("qv2")))
      .orderBy(col("d2"), col("cid")).limit(nprobe)
      .select("cid")
    graft.functions.NativeVectorExprs.ensureRegistered(e.sparkSession)
    val approx = idx.lists.join(broadcast(probeCells), "cid")
      .filter(col("vec_id") =!= excludeId)
      .crossJoin(broadcast(qq))
      // native codegen'd int8 dot (graft_dot8) — the shortlist pass is
      // the quantized probe's hot loop; an interpreted HOF here would
      // spend the quarter-width read's saving on lambda dispatch
      .withColumn("int_dot", call_function("graft_dot8", col("qv"), col("q_qv")))
      // approx cosine ≈ (int_dot / (scale·q_scale)) / (norm·q_norm);
      // zero-norm vectors rank at 0 rather than NaN-poisoning the sort
      .withColumn("approx_e4", when(
          col("norm") * col("q_norm") === 0d, lit(0L))
        .otherwise(round(lit(10000) * col("int_dot")
          / (col("scale") * col("q_scale"))
          / (col("norm") * col("q_norm"))).cast("long")))
    val shortlist = approx
      .orderBy(col("approx_e4").desc, col("vec_id"))
      .limit(refine * topK)
      .select("vec_id")
    rerank(shortlist, e, query, topK)
  }

  /** Batch int8 probe — [[probeIvfBatch]]'s sibling for the quantized
    * index, completing the batch surface: per-qid cell selection
    * (identical window tie-break), ONE equi-join of the int8 lists
    * against the broadcast (qid, cid) probe set, per-qid int8
    * shortlists of `refine · topK` via a rank window (partitions are
    * per-query candidate sets, never corpus-sized), exact fp64 re-rank
    * of the shortlist union. A batch of one equals [[probeIvfInt8]]
    * row-for-row (QuantizedAnnSpec). `excludeSelf` as in
    * [[probeIvfBatch]]. */
  def probeIvfInt8Batch(idx: IvfInt8Index, e: DataFrame, queries: DataFrame,
      nprobe: Int, topK: Int, refine: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val qq = quantizeInt8(queries.select(col("qid"), col("v")))
      .select(col("qid"), col("qv").as("q_qv"), col("scale").as("q_scale"),
        col("norm").as("q_norm"))
    val qc = idx.centroids
      .crossJoin(broadcast(queries.select(col("qid"), col("v").as("qv2"))))
      .withColumn("d2", Ivf.dist2(col("cv"), col("qv2")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("d2"), col("cid"))
    val probeCells = qc.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= nprobe).select("qid", "cid")
    graft.functions.NativeVectorExprs.ensureRegistered(e.sparkSession)
    val approx = idx.lists.join(broadcast(probeCells), "cid")
      .filter(if (excludeSelf) col("vec_id") =!= col("qid") else lit(true))
      .join(broadcast(qq), "qid")
      .withColumn("int_dot", call_function("graft_dot8", col("qv"), col("q_qv")))
      .withColumn("approx_e4", when(
          col("norm") * col("q_norm") === 0d, lit(0L))
        .otherwise(round(lit(10000) * col("int_dot")
          / (col("scale") * col("q_scale"))
          / (col("norm") * col("q_norm"))).cast("long")))
    val ws = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("approx_e4").desc, col("vec_id"))
    val shortlist = approx.withColumn("_sk", row_number().over(ws))
      .filter(col("_sk") <= refine * topK)
      .select("qid", "vec_id").distinct()
    rerankBatch(shortlist, e, queries, topK)
  }

  // ------------------------------------------- versioned retrain / swap

  /** Versioned IVF index lifecycle — the ACTION for [[ivfDrift]]'s
    * alert, closing the drift→retrain loop. The root is a
    * [[Compaction]] version container, flipped by its one pointer:
    * {{{
    *   base/_CURRENT     one line, e.g. "v3" — the live version
    *   base/v1 … base/vN immutable index trees ([[writeIvfWithStats]])
    * }}}
    * [[retrainIvf]] builds v(n+1) COMPLETELY beside the live tree and
    * only then flips `_CURRENT` ([[Compaction]]'s atomic pointer write,
    * through the Hadoop FS of `base`), so a reader either sees the old
    * version or the new one, never a half-written tree. In-flight
    * probes that already resolved vN keep reading it: a retrain never
    * deletes a tree ([[pruneIvfVersions]] is the separate, explicit
    * GC). Single-writer contract: retrains are a scheduled batch
    * refresh job, not concurrent mutators. Reference analog: the index
    * set is derived, rebuildable state (`sql/init/03_create_indexes.sql:
    * 27-93` — drop and rebuild without touching the data). */
  def currentIvfVersion(base: String): Option[Int] =
    Compaction.currentVersion(SparkSession.active, base)

  /** The live version tree — every `*Current` accessor resolves the
    * pointer ONCE and then only touches that immutable directory. */
  def currentIvfDir(base: String): String =
    currentIvfVersion(base).map(v => s"$base/v$v").getOrElse(
      throw new IllegalStateException(
        s"no _CURRENT pointer under $base — run initIvfVersioned first"))

  /** Build `v(cur+1)` with drift stats from `e`, then flip the pointer. */
  private def writeVersion(e: DataFrame, k: Int, iters: Int, base: String,
      cur: Int): String = {
    val dir = s"$base/v${cur + 1}"
    writeIvfWithStats(buildIvf(e, k, iters, e.count()), e, dir)
    Compaction.flipPointer(e.sparkSession, base, cur + 1)
    dir
  }

  /** First-time versioned build: trains on `e`, writes `base/v1` with
    * drift stats, points `_CURRENT` at it. Returns the version dir. */
  def initIvfVersioned(e: DataFrame, k: Int, iters: Int, base: String): String = {
    require(currentIvfVersion(base).isEmpty,
      s"initIvfVersioned: $base already has a _CURRENT pointer — use retrainIvf")
    writeVersion(e, k, iters, base, 0)
  }

  /** Retrain-and-atomic-swap: train fresh centroids on `e` (the corpus
    * as it stands NOW, drifted appends included), write the complete
    * v(n+1) tree with fresh drift stats, then flip `_CURRENT`. The old
    * tree stays on disk for in-flight readers. Returns the new version
    * dir. After a retrain on the drifted corpus, [[ivfDriftCurrent]]
    * of that same corpus reads ≈ 1 by construction — the staleness
    * [[ivfDrift]] measured is gone (AnnIndexSpec pins both this and
    * probe continuity across the swap on unchanged data). */
  def retrainIvf(e: DataFrame, k: Int, iters: Int, base: String): String = {
    val cur = currentIvfVersion(base).getOrElse(throw new IllegalStateException(
      s"retrainIvf: no _CURRENT under $base — run initIvfVersioned first"))
    writeVersion(e, k, iters, base, cur)
  }

  /** [[retrainIvf]] with k from the shared [[Ivf.cellCount]] selector —
    * a retrain re-sizes the cell grid to the corpus as it is NOW, which
    * is half the point of retraining (appends grow cells; k∝n restores
    * the n²/2k pair bound the semantic-dedup path relies on). */
  def retrainIvf(e: DataFrame, iters: Int, base: String): String =
    retrainIvf(e, Ivf.cellCount(e.count()), iters, base)

  def readIvfCurrent(spark: SparkSession, base: String): IvfIndex =
    readIvf(spark, currentIvfDir(base))

  def appendIvfCurrent(spark: SparkSession, newVecs: DataFrame, base: String): Unit =
    appendIvf(spark, newVecs, currentIvfDir(base))

  def ivfDriftCurrent(spark: SparkSession, newVecs: DataFrame, base: String): DataFrame =
    ivfDrift(spark, newVecs, currentIvfDir(base))

  /** Explicit GC for superseded version trees: deletes every `vN` tree
    * older than the newest `keep` (default 2 — live + one rollback) and
    * nothing else under `base` (an `lsh_bands` artifact written at the
    * same root stays). Never touches the live tree: `keep` is clamped
    * to ≥1 and the pointer's version is always retained even if an
    * operator points `_CURRENT` at an old version manually (rollback).
    * Driver-side listing — bounded by the version count, not data size. */
  def pruneIvfVersions(base: String, keep: Int = 2): Seq[Int] = {
    val spark = SparkSession.active
    val dir = new org.apache.hadoop.fs.Path(base)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return Nil
    val versions = fs.listStatus(dir).map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }
      .toSeq.sorted
    val live = currentIvfVersion(base)
    val doomed = versions.dropRight(keep.max(1)).filterNot(live.contains)
    doomed.foreach(v => fs.delete(new org.apache.hadoop.fs.Path(dir, s"v$v"), true))
    doomed
  }

  // ------------------------------------------------------------- shared

  /** Exact-cosine re-rank of a bare-id candidate frame against the
    * vector table: vectors join back only for candidates, the query
    * broadcasts as one row, and the top-k is a TakeOrdered (no global
    * sort). Shared verbatim by both probe paths and the composed
    * catalog queries.
    *
    * The contract is a ≤1-row query frame (empty → empty result, the
    * documented lazy trade). A multi-row query would silently BLEND:
    * every candidate scores against every query row and the top-k
    * means nothing. Guarded lazily — a 1-row aggregate over the (tiny)
    * query frame rides along as a broadcast scalar and `assert_true`
    * fails the job loudly at execution, keeping plan construction
    * action-free; the require message directs multi-row callers to the
    * batch probes. */
  private[operators] def rerank(candidates: DataFrame, e: DataFrame,
      query: DataFrame, topK: Int): DataFrame = {
    val guard = query.agg(assert_true(count(lit(1)) <= 1,
      lit("rerank: query frame must have at most 1 row — use " +
        "probeLshBatch/probeIvfBatch for multi-row query sets")).as("_g"))
    candidates.join(e, "vec_id")
      .crossJoin(broadcast(query.select(col("v").as("qv"))))
      // assert_true yields NULL on success, so the filter keeps every
      // row — but REFERENCING _g keeps column pruning from deleting the
      // guard expression (a bare drop("_g") optimizes the assert away)
      .crossJoin(broadcast(guard))
      .filter(col("_g").isNull).drop("_g")
      .withColumn("sim_e4",
        round(lit(10000) * VectorOps.cosineNative(col("v"), col("qv"))).cast("long"))
      .select("vec_id", "sim_e4")
      .orderBy(col("sim_e4").desc, col("vec_id"))
      .limit(topK)
  }
}
