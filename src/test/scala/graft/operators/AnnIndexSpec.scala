package graft.operators

import java.nio.file.Files

import graft.{Session, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted ANN indexes (AnnIndexes): probe-from-parquet must equal
  * the composed l12/l16 plans row for row — the build-once/probe-many
  * split cannot drift from the gate-checked composition. */
class AnnIndexSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  private val sf = "/root/testdata/sf0.001"

  private def vecs(d: String) = Tables.embeddings(spark, d)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("vec_id", "sim_e4").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("LSH probe from a materialized parquet band index equals the composed l12 plan") {
    val e = vecs(sf)
    val base = Files.createTempDirectory("graft_annidx_lsh_").toString
    AnnIndexes.writeLsh(AnnIndexes.lshBands(e), base)
    val probe = AnnIndexes.probeLsh(
      AnnIndexes.readLsh(spark, base), e,
      e.filter(col("vec_id") === 0), topK = 5, excludeId = 0L)
    val probed = pairs(probe)
    val composed = pairs(LlmQueries.l12.fn(spark, sf))
    assert(probed === composed)
    assert(probed.length === 5)
    // the band keys reach the index scan as PUSHED literal predicates
    // (row-group min/max skipping on the clustered layout) — a join
    // form would read the whole index
    val scan = probe.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("lsh_bands")).mkString("\n")
    assert(scan.contains("PushedFilters: [") && scan.contains("bval"),
      s"band keys not pushed into the index scan:\n$scan")
  }

  test("IVF probe from materialized centroids + inverted lists equals the composed l16 plan") {
    val e = vecs(sf)
    val base = Files.createTempDirectory("graft_annidx_ivf_").toString
    AnnIndexes.writeIvf(AnnIndexes.buildIvf(e, k = 16, iters = 2), base)
    val back = AnnIndexes.readIvf(spark, base)
    val probed = pairs(AnnIndexes.probeIvf(back, e,
      e.filter(col("vec_id") === 0), nprobe = 4, topK = 5, excludeId = 0L))
    val composed = pairs(LlmQueries.l16.fn(spark, sf))
    assert(probed === composed)
    assert(probed.length === 5)
    // the inverted file is genuinely directory-partitioned by cell —
    // the layout that lets a probe path-prune to nprobe/k of the files
    val cellDirs = new java.io.File(s"$base/ivf_lists")
      .listFiles().filter(_.isDirectory).map(_.getName).filter(_.startsWith("cid="))
    assert(cellDirs.length > 1, s"expected cid= partition dirs, got ${cellDirs.toSeq}")
    // every corpus vector is in exactly one persisted list
    assert(back.lists.count() === e.count())
    assert(back.lists.select("vec_id").distinct().count() === e.count())
    // and the probe PRUNES: the inverted-list scan must carry a dynamic
    // partition-pruning filter on cid (the probed-cells broadcast), so
    // only nprobe/k of the files are read — the load-bearing scale
    // claim of the directory-partitioned layout
    val probePlan = AnnIndexes.probeIvf(back, e,
      e.filter(col("vec_id") === 0), nprobe = 4, topK = 5, excludeId = 0L)
    probePlan.collect()
    val scan = probePlan.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("ivf_lists")).mkString("\n")
    assert(scan.contains("dynamicpruning"),
      s"IVF probe scan lost dynamic partition pruning:\n$scan")
  }

  test("a NOVEL query vector (not in the corpus) probes both indexes without rebuild") {
    val e = vecs(sf)
    // perturb vector 0 so the query is genuinely out-of-corpus
    val novel = e.filter(col("vec_id") === 0)
      .select(expr("transform(v, x -> x * 0.9 + 0.01)").as("v"))
    val lsh = AnnIndexes.probeLsh(AnnIndexes.lshBands(e), e, novel, topK = 5)
    val ivf = AnnIndexes.probeIvf(AnnIndexes.buildIvf(e, 16, 2), e, novel,
      nprobe = 4, topK = 5)
    assert(lsh.collect().nonEmpty)
    assert(ivf.collect().length === 5)
    // a near-copy of vector 0 should rank vector 0 at the top of IVF's
    // candidates (cosine is scale-invariant, so 0.9·v+ε stays closest)
    assert(ivf.collect().head.getLong(0) === 0L)
  }

  test("appendLsh: build on half the corpus, append the rest — index and " +
      "probe equal the full rebuild exactly (stateless signature)") {
    val e = vecs(sf)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 =!= 0)
    val inc = Files.createTempDirectory("graft_annidx_applsh_i_").toString
    val full = Files.createTempDirectory("graft_annidx_applsh_f_").toString
    AnnIndexes.writeLsh(AnnIndexes.lshBands(evens), inc)
    AnnIndexes.appendLsh(odds, inc)
    AnnIndexes.writeLsh(AnnIndexes.lshBands(e), full)
    def rows(base: String) = AnnIndexes.readLsh(spark, base)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(rows(inc) === rows(full))
    val q = e.filter(col("vec_id") === 0)
    assert(pairs(AnnIndexes.probeLsh(AnnIndexes.readLsh(spark, inc), e, q, 5, 0L)) ===
      pairs(AnnIndexes.probeLsh(AnnIndexes.readLsh(spark, full), e, q, 5, 0L)))
  }

  test("retractLsh/retractIvf: removing appended vectors restores both " +
      "artifacts to their pre-append state exactly — the IndexIVF " +
      "remove_ids half of the append contract") {
    val e = vecs(sf)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 =!= 0)
    // LSH: append then retract the appended ids → byte-identical rows
    val baseL = Files.createTempDirectory("graft_annidx_retr_lsh_").toString
    AnnIndexes.writeLsh(AnnIndexes.lshBands(evens), baseL)
    def lshRows() = AnnIndexes.readLsh(spark, baseL)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val pristineL = lshRows()
    AnnIndexes.appendLsh(odds, baseL)
    assert(lshRows() !== pristineL, "the append must change the index")
    AnnIndexes.retractLsh(spark, odds.select("vec_id"), baseL)
    assert(lshRows() === pristineL, "LSH retract must restore pre-append rows")
    // probe of the retracted index equals a probe of the never-appended one
    val q = e.filter(col("vec_id") === 0)
    assert(pairs(AnnIndexes.probeLsh(AnnIndexes.readLsh(spark, baseL),
        evens, q, 5, 0L)) ===
      pairs(AnnIndexes.probeLsh(AnnIndexes.lshBands(evens), evens, q, 5, 0L)))
    // IVF: same cycle; centroids and the cid directory layout untouched
    val baseI = Files.createTempDirectory("graft_annidx_retr_ivf_").toString
    val idxHalf = AnnIndexes.buildIvf(evens, k = 16, iters = 2)
    AnnIndexes.writeIvf(idxHalf, baseI)
    def ivfRows() = AnnIndexes.readIvf(spark, baseI).lists
      .selectExpr("vec_id", "CAST(cid AS INT) AS cid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val pristineI = ivfRows()
    AnnIndexes.appendIvf(spark, odds, baseI)
    assert(ivfRows() !== pristineI)
    AnnIndexes.retractIvf(spark, odds.select("vec_id"), baseI)
    assert(ivfRows() === pristineI, "IVF retract must restore pre-append lists")
    // the retraction must keep the cid directory partitioning in the
    // LIVE file set (path-level nprobe pruning is the layout's whole
    // point) — after a scoped retract the live files may span version
    // trees, so count cid= segments in the manifest-planned set
    val cells = Compaction.liveFilesRelative(spark, s"$baseI/ivf_lists")
      .flatMap(_.split('/').find(_.startsWith("cid="))).distinct.size
    assert(cells > 0, "retractIvf must preserve the cid= directory layout")
  }

  test("retract id lineage reading the artifact itself is pinned before " +
      "the swap, and a FULL IVF takedown leaves a readable empty index") {
    val e = vecs(sf)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 =!= 0)
    val base = Files.createTempDirectory("graft_annidx_retr_edge_").toString
    AnnIndexes.writeLsh(AnnIndexes.lshBands(e), base)
    val idxAll = AnnIndexes.buildIvf(e, k = 8, iters = 2)
    AnnIndexes.writeIvf(idxAll, base)
    // ids DERIVED FROM the LSH artifact (odd vec_ids present in it):
    // the combined retract pins ONCE before any swap — the lsh_bands
    // rewrite would otherwise replace the files the second artifact's
    // id evaluation reads (separate retractLsh-then-retractIvf calls
    // with this lazy frame fail exactly that way)
    val fromArtifact = AnnIndexes.readLsh(spark, base)
      .filter(col("vec_id") % 2 =!= 0).select("vec_id").distinct()
    AnnIndexes.retract(spark, fromArtifact, base)
    val leftIvf = AnnIndexes.readIvf(spark, base).lists
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(leftIvf === evens.select("vec_id").collect().map(_.getLong(0)).toSet,
      "the IVF retract must see the PRE-swap id set")
    // full takedown: retracting every remaining vector must leave a
    // READABLE empty artifact (a dynamically-partitioned empty write
    // emits no schema-bearing file — the fallback covers it)
    AnnIndexes.retractIvf(spark, evens.select("vec_id"), base)
    val emptied = AnnIndexes.readIvf(spark, base).lists
    assert(emptied.count() === 0L, "a fully retracted index is empty")
    assert(emptied.columns.contains("vec_id") && emptied.columns.contains("cid"),
      "the schema must survive a full takedown")
  }

  test("appendIvf: assign-only append equals assign-over-everything with " +
      "the same frozen centroids, and ivfDrift separates in-distribution " +
      "from shifted batches") {
    val e = vecs(sf)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 =!= 0)
    val base = Files.createTempDirectory("graft_annidx_appivf_").toString
    val idxHalf = AnnIndexes.buildIvf(evens, k = 16, iters = 2)
    AnnIndexes.writeIvfWithStats(idxHalf, evens, base)
    AnnIndexes.appendIvf(spark, odds, base)
    val back = AnnIndexes.readIvf(spark, base)
    // the appended inverted file IS the full assignment under the
    // frozen centroids (cid column comes back as the partition key)
    def lists(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("vec_id", "CAST(cid AS INT) AS cid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(lists(back.lists) === lists(graft.functions.Ivf.assign(e, idxHalf.centroids)))
    // probe equality modulo nothing: same centroids, same lists
    val q = e.filter(col("vec_id") === 0)
    val fromAppend = pairs(AnnIndexes.probeIvf(back, e, q, 4, 5, 0L))
    val fromRebuild = pairs(AnnIndexes.probeIvf(
      AnnIndexes.IvfIndex(idxHalf.centroids, graft.functions.Ivf.assign(e, idxHalf.centroids)),
      e, q, 4, 5, 0L))
    assert(fromAppend === fromRebuild)
    // drift criterion: the held-out half is the SAME distribution →
    // ratio near 1; an additively shifted copy must read strictly worse
    val inDist = AnnIndexes.ivfDrift(spark, odds, base).collect()(0)
    assert(inDist.getAs[Long]("n_new") === odds.count())
    assert(inDist.getAs[Long]("n_train") === evens.count())
    val r0 = inDist.getAs[Double]("drift_ratio")
    assert(r0 > 0.5 && r0 < 1.5, s"in-distribution drift ratio $r0")
    val shifted = odds.select(col("vec_id"),
      expr("transform(v, x -> x + 3.0)").as("v"))
    val r1 = AnnIndexes.ivfDrift(spark, shifted, base)
      .collect()(0).getAs[Double]("drift_ratio")
    assert(r1 > r0 * 2, s"shifted batch must drift: $r1 vs $r0")
  }

  test("ivfDrift survives a degenerate zero-variance training set: " +
      "identical data reads 1.0, shifted data +Inf — the alert still fires") {
    // constant vectors → every centroid coincides with the data →
    // train_mean_d2 = 0; a naive ratio would be NULL (Spark divide by
    // zero) and silently disarm any drift_ratio > threshold alert
    val const = spark.createDataFrame((0L until 8L).map(i =>
      (i, Seq.fill(4)(1.0)))).toDF("vec_id", "v")
    val base = Files.createTempDirectory("graft_annidx_drift0_").toString
    AnnIndexes.writeIvfWithStats(
      AnnIndexes.buildIvf(const, k = 2, iters = 1), const, base)
    val same = AnnIndexes.ivfDrift(spark, const, base).collect()(0)
    assert(same.getAs[Double]("train_mean_d2") === 0.0)
    assert(same.getAs[Double]("drift_ratio") === 1.0)
    val shifted = const.select(col("vec_id"),
      expr("transform(v, x -> x + 1.0)").as("v"))
    val r = AnnIndexes.ivfDrift(spark, shifted, base)
      .collect()(0).getAs[Double]("drift_ratio")
    assert(r.isPosInfinity, s"shifted drift ratio must be +Inf, got $r")
  }

  test("probeLshBatch: a 3-query batch equals 3 single probes row-for-row") {
    val e = vecs(sf)
    val bands = AnnIndexes.lshBands(e)
    val queries = e.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v"))
    val batch = AnnIndexes.probeLshBatch(bands, e, queries, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    for (qid <- Seq(0L, 1L, 2L)) {
      val single = pairs(AnnIndexes.probeLshJoin(bands, e,
        e.filter(col("vec_id") === qid), topK = 5, excludeId = qid))
      assert(batch(qid) === single, s"qid $qid batch/single divergence")
    }
  }

  test("probeIvfBatch: a 3-query batch equals 3 single probes row-for-row") {
    val e = vecs(sf)
    val idx = AnnIndexes.buildIvf(e, k = 16, iters = 2)
    val queries = e.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v"))
    val batch = AnnIndexes.probeIvfBatch(idx, e, queries, nprobe = 4, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    for (qid <- Seq(0L, 1L, 2L)) {
      val single = pairs(AnnIndexes.probeIvf(idx, e,
        e.filter(col("vec_id") === qid), nprobe = 4, topK = 5, excludeId = qid))
      assert(batch(qid) === single, s"qid $qid batch/single divergence")
    }
  }

  test("batch probes with excludeSelf=false keep a corpus vector whose id " +
      "coincides with a novel query's qid") {
    // A novel eval set numbered from 0 probing a corpus whose vec_ids
    // also start at 0: the coincidental-id drop would silently exclude
    // corpus vector 0 from qid 0's candidates.
    val e = vecs(sf)
    val queries = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("v"))
    val idx = AnnIndexes.buildIvf(e, k = 16, iters = 2)
    val ivfKept = AnnIndexes.probeIvfBatch(idx, e, queries, nprobe = 4,
      topK = 5, excludeSelf = false).collect()
    // the query IS corpus vector 0 → its own cell is probed and the
    // self-match (cosine 1.0) must rank first
    assert(ivfKept.head.getLong(1) === 0L && ivfKept.head.getLong(2) === 10000L,
      ivfKept.mkString("; "))
    val lshKept = AnnIndexes.probeLshBatch(AnnIndexes.lshBands(e), e, queries,
      topK = 5, excludeSelf = false).collect()
    assert(lshKept.head.getLong(1) === 0L && lshKept.head.getLong(2) === 10000L,
      lshKept.mkString("; "))
  }

  test("retrainIvf: atomic swap keeps probe results IDENTICAL on unchanged " +
      "data, leaves the old version tree for in-flight readers") {
    val e = vecs(sf)
    val base = Files.createTempDirectory("graft_annidx_retrain_").toString
    assert(AnnIndexes.currentIvfVersion(base).isEmpty)
    AnnIndexes.initIvfVersioned(e, k = 16, iters = 2, base)
    assert(AnnIndexes.currentIvfVersion(base) === Some(1))
    val q = e.filter(col("vec_id") === 0)
    def probe() = pairs(AnnIndexes.probeIvf(
      AnnIndexes.readIvfCurrent(spark, base), e, q, nprobe = 4, topK = 5,
      excludeId = 0L))
    val before = probe()
    // retrain on the SAME corpus: deterministic seeding → identical
    // centroids → the swap must be invisible to a probe
    AnnIndexes.retrainIvf(e, k = 16, iters = 2, base)
    assert(AnnIndexes.currentIvfVersion(base) === Some(2))
    assert(probe() === before, "probe continuity broken across the swap")
    // the superseded tree is still on disk (in-flight reader contract)
    assert(new java.io.File(s"$base/v1/ivf_lists").isDirectory)
    assert(new java.io.File(s"$base/v2/ivf_lists").isDirectory)
    // GC keeps live + 1 rollback here (both) — build v3 then prune to 2
    AnnIndexes.retrainIvf(e, k = 16, iters = 2, base)
    assert(AnnIndexes.pruneIvfVersions(base, keep = 2) === Seq(1))
    assert(!new java.io.File(s"$base/v1").exists())
    assert(new java.io.File(s"$base/v2").isDirectory)
    assert(new java.io.File(s"$base/v3").isDirectory)
  }

  test("a retrain never prunes; pruneIvfVersions removes only superseded " +
      "vN trees and leaves an lsh_bands artifact at the same root") {
    val e = vecs(sf)
    val base = Files.createTempDirectory("graft_annidx_prune_").toString
    AnnIndexes.initIvfVersioned(e, k = 16, iters = 2, base)
    AnnIndexes.writeLsh(AnnIndexes.lshBands(e), base)
    val bands = AnnIndexes.readLsh(spark, base).count()
    (1 to 3).foreach(_ => AnnIndexes.retrainIvf(e, k = 16, iters = 2, base))
    assert(AnnIndexes.currentIvfVersion(base) === Some(4))
    assert((1 to 4).forall(v => new java.io.File(s"$base/v$v").isDirectory),
      "a retrain must leave every older tree for in-flight readers")
    assert(AnnIndexes.pruneIvfVersions(base, keep = 1) === Seq(1, 2, 3))
    assert((1 to 3).forall(v => !new java.io.File(s"$base/v$v").exists()))
    assert(new java.io.File(s"$base/v4/ivf_lists").isDirectory)
    assert(AnnIndexes.readLsh(spark, base).count() === bands,
      "the root's LSH artifact must survive the prune")
    assert(AnnIndexes.readIvfCurrent(spark, base).lists.count() === e.count())
  }

  test("retrainIvf: a drifted corpus reads drift_ratio >> 1 before and ≈ 1 " +
      "after the retrain — the alert now has an action that clears it") {
    val e = vecs(sf)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val shiftedOdds = e.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id"), expr("transform(v, x -> x + 3.0)").as("v"))
    val base = Files.createTempDirectory("graft_annidx_retrain2_").toString
    AnnIndexes.initIvfVersioned(evens, k = 16, iters = 2, base)
    // the shifted half arrives: appended under frozen centroids, drifted
    AnnIndexes.appendIvfCurrent(spark, shiftedOdds, base)
    val before = AnnIndexes.ivfDriftCurrent(spark, shiftedOdds, base)
      .collect()(0).getAs[Double]("drift_ratio")
    assert(before > 1.5, s"shifted batch should alert, ratio $before")
    // the action: retrain on the corpus as it stands now
    AnnIndexes.retrainIvf(evens.union(shiftedOdds), k = 16, iters = 2, base)
    val after = AnnIndexes.ivfDriftCurrent(spark, shiftedOdds, base)
      .collect()(0).getAs[Double]("drift_ratio")
    assert(after > 0.4 && after < 1.5,
      s"post-retrain ratio should normalize, got $after")
  }

  test("multi-row query frames fail loudly: probeLsh via require, the lazy " +
      "probes via the in-plan guard — never a silent blended top-k") {
    val e = vecs(sf)
    val two = e.filter(col("vec_id").isin(0L, 1L))
    val reqEx = intercept[IllegalArgumentException] {
      AnnIndexes.probeLsh(AnnIndexes.lshBands(e), e, two, topK = 5)
    }
    assert(reqEx.getMessage.contains("probeLshBatch"))
    // lazy paths: plan construction stays silent, execution throws
    def causeChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .flatMap(c => Option(c.getMessage)).toSeq
    val lazyLsh = AnnIndexes.probeLshJoin(AnnIndexes.lshBands(e), e, two, topK = 5)
    val lshEx = intercept[Exception] { lazyLsh.collect() }
    assert(causeChain(lshEx).exists(_.contains("probeLshBatch")),
      s"unexpected failure: $lshEx")
    val lazyIvf = AnnIndexes.probeIvf(AnnIndexes.buildIvf(e, 16, 2), e, two,
      nprobe = 4, topK = 5)
    val ivfEx = intercept[Exception] { lazyIvf.collect() }
    assert(causeChain(ivfEx).exists(_.contains("probeIvfBatch")),
      s"unexpected failure: $ivfEx")
  }

  test("sf0.01 e2e lifecycle: init → ingest drifted batch → drift alert → " +
      "retrain → prune → probe, all through the CURRENT pointer") {
    // The full operational loop a 100 TB deployment runs, in one
    // scenario: every read/write goes through the versioned pointer —
    // no step touches a vN directory by name.
    val sf01 = "/root/testdata/sf0.01"
    assume(new java.io.File(sf01).isDirectory)
    val e = vecs(sf01)
    val cutoff = 350L // sf0.01 has 500 vectors: 350 initial + 150 arrivals
    val initial = e.filter(col("vec_id") < cutoff)
    val arrivals = e.filter(col("vec_id") >= cutoff)
      .select(col("vec_id"), expr("transform(v, x -> x + 2.5)").as("v"))
    val base = Files.createTempDirectory("graft_annidx_e2e_").toString

    // day 0: first index version from the initial corpus
    AnnIndexes.initIvfVersioned(initial, k = 16, iters = 2, base)
    assert(AnnIndexes.currentIvfVersion(base) === Some(1))

    // day 1: a distribution-shifted batch lands — append under the
    // frozen centroids (cheap assign-only), then the drift monitor fires
    AnnIndexes.appendIvfCurrent(spark, arrivals, base)
    val corpus = initial.union(arrivals)
    assert(AnnIndexes.readIvfCurrent(spark, base).lists.count() === corpus.count())
    val alert = AnnIndexes.ivfDriftCurrent(spark, arrivals, base).collect()(0)
    assert(alert.getAs[Double]("drift_ratio") > 1.5,
      s"shifted arrivals must alert: ${alert.getAs[Double]("drift_ratio")}")

    // day 1, the action: retrain on the corpus as it now stands — the
    // pointer flips atomically and the alert clears on the new centroids
    AnnIndexes.retrainIvf(corpus, k = 16, iters = 2, base)
    assert(AnnIndexes.currentIvfVersion(base) === Some(2))
    val cleared = AnnIndexes.ivfDriftCurrent(spark, arrivals, base)
      .collect()(0).getAs[Double]("drift_ratio")
    assert(cleared > 0.4 && cleared < 1.5, s"post-retrain ratio $cleared")

    // day N: a later scheduled retrain, then GC to live + 1 rollback
    AnnIndexes.retrainIvf(corpus, k = 16, iters = 2, base)
    assert(AnnIndexes.currentIvfVersion(base) === Some(3))
    assert(AnnIndexes.pruneIvfVersions(base, keep = 2) === Seq(1))
    assert(!new java.io.File(s"$base/v1").exists())

    // steady state: a probe through the pointer equals a from-scratch
    // build on the same corpus (deterministic seeding) — the lifecycle
    // machinery added no drift of its own
    val q = corpus.filter(col("vec_id") === 0)
    val viaPointer = pairs(AnnIndexes.probeIvf(
      AnnIndexes.readIvfCurrent(spark, base), corpus, q, nprobe = 4,
      topK = 5, excludeId = 0L))
    val fromScratch = pairs(AnnIndexes.probeIvf(
      AnnIndexes.buildIvf(corpus, k = 16, iters = 2), corpus, q, nprobe = 4,
      topK = 5, excludeId = 0L))
    assert(viaPointer === fromScratch)
    assert(viaPointer.length === 5)
  }

  test("production buildIvf (trainSampled under the corpus count) is " +
      "bit-identical to the count-free build below the sample budget") {
    val e = vecs(sf)
    val n = e.count()
    assert(n <= 128L * 16, "fixture must sit inside the sample budget")
    val a = AnnIndexes.buildIvf(e, k = 16, iters = 2)
    val b = AnnIndexes.buildIvf(e, k = 16, iters = 2, n)
    val ca = a.centroids.orderBy("cid").collect().map(r =>
      r.getInt(0) -> r.getSeq[Double](1))
    val cb = b.centroids.orderBy("cid").collect().map(r =>
      r.getInt(0) -> r.getSeq[Double](1))
    assert(ca.toSeq === cb.toSeq)
    // and the assignment side covers every vector exactly once
    assert(b.lists.count() === n)
    assert(b.lists.select("vec_id").distinct().count() === n)
  }

  test("sf0.01 golden: probe-from-parquet reproduces the pinned l12/l16 rows") {
    val sf01 = "/root/testdata/sf0.01"
    assume(new java.io.File(sf01).isDirectory)
    val e = vecs(sf01)
    val base = Files.createTempDirectory("graft_annidx_g_").toString
    AnnIndexes.writeLsh(AnnIndexes.lshBands(e), base)
    AnnIndexes.writeIvf(AnnIndexes.buildIvf(e, 16, 2), base)
    val q = e.filter(col("vec_id") === 0)
    val lsh = pairs(AnnIndexes.probeLsh(AnnIndexes.readLsh(spark, base), e, q, 5, 0L))
    assert(lsh === Seq((387L, 3311L), (73L, 2954L), (320L, 2879L),
      (483L, 2567L), (257L, 2481L)), s"lsh $lsh")
    val ivf = pairs(AnnIndexes.probeIvf(AnnIndexes.readIvf(spark, base), e, q, 4, 5, 0L))
    assert(ivf === Seq((365L, 3700L), (387L, 3311L), (423L, 2969L),
      (73L, 2954L), (190L, 2818L)), s"ivf $ivf")
  }

  /** (path → (length, mtime)) for every parquet file under `dir` — the
    * untouched-bytes witness of the scoped-retraction tests. */
  private def fileStamps(dir: String): Map[String, (Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val b = Map.newBuilder[String, (Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        b += f.getPath.toString -> ((f.getLen, f.getModificationTime))
    }
    b.result()
  }

  test("cell-scoped retraction: a takedown touching one IVF cell rewrites " +
      "ONLY that cid partition (untouched cells keep files and mtimes) " +
      "and a small LSH retract leaves most band files byte-identical — " +
      "both still equal to a complement rebuild") {
    val e = vecs(sf)
    val base = Files.createTempDirectory("graft_annidx_scoped_").toString
    val idx = AnnIndexes.buildIvf(e, k = 16, iters = 2)
    AnnIndexes.writeIvf(idx, base)
    AnnIndexes.writeLsh(AnnIndexes.lshBands(e), base)
    // the takedown: every vector of ONE cell (the remove_ids shape — a
    // handful of ids, all in one inverted list)
    val lists = AnnIndexes.readIvf(spark, base).lists
      .selectExpr("vec_id", "CAST(cid AS INT) AS cid")
    val victimCid = lists.filter(col("vec_id") === 0)
      .select("cid").head().getInt(0)
    val victims = lists.filter(col("cid") === victimCid)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(victims.nonEmpty && victims.size < 100,
      s"fixture: one cell's ids, got ${victims.size}")
    // materialize the expectation BEFORE the swap (the lazy frame's
    // file listing points at pre-retraction files)
    val keptExpected = lists.filter(col("cid") =!= victimCid)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq

    val ivfDir = s"$base/ivf_lists"
    val lshDir = s"$base/lsh_bands"
    val ivfBefore = fileStamps(ivfDir)
    val lshBefore = fileStamps(lshDir)
    val ivfLiveBefore = Compaction.liveFilesRelative(spark, ivfDir).toSet
    val lshLiveBefore = Compaction.liveFilesRelative(spark, lshDir).toSet
    val idFrame = spark.createDataFrame(
      victims.toSeq.map(Tuple1(_))).toDF("vec_id")
    // the LSH takedown retracts ONE vector — 4 band rows, so at most 4
    // of the band-clustered files leave the live set and the rest
    // provably cannot
    val idFrameL = spark.createDataFrame(Seq(Tuple1(0L))).toDF("vec_id")
    AnnIndexes.retractIvf(spark, idFrame, base)
    AnnIndexes.retractLsh(spark, idFrameL, base)

    // retract ≡ complement rebuild, both artifacts
    assert(AnnIndexes.readIvf(spark, base).lists
        .selectExpr("vec_id", "CAST(cid AS INT) AS cid")
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq ===
      keptExpected,
      "cell-scoped retract must equal dropping the cell's rows")
    val survivors = e.filter(col("vec_id") =!= 0L)
    assert(AnnIndexes.readLsh(spark, base)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq ===
      AnnIndexes.lshBands(survivors)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq,
      "scoped LSH retract must equal a complement rebuild")

    // the scoped contract, manifest form: NO pre-retract file is
    // moved, mutated or deleted (in-flight readers keep every byte)…
    val ivfAfter = fileStamps(ivfDir)
    assert(ivfBefore.forall { case (p, s) => ivfAfter.get(p).contains(s) },
      "every pre-retract IVF file must keep its bytes and mtime")
    val lshAfter = fileStamps(lshDir)
    assert(lshBefore.forall { case (p, s) => lshAfter.get(p).contains(s) },
      "every pre-retract LSH file must keep its bytes and mtime")
    // …and the LIVE SET drops exactly the touched files: the victim
    // cell's (whose rewrite lands in the next version tree, still
    // under a cid= directory so path pruning survives), at most 4
    // band files on the LSH side
    val ivfLiveAfter = Compaction.liveFilesRelative(spark, ivfDir).toSet
    assert((ivfLiveBefore -- ivfLiveAfter)
        .forall(_.contains(s"cid=$victimCid")),
      "only the victim cell's files may leave the IVF live set")
    assert((ivfLiveAfter -- ivfLiveBefore)
        .forall(r => r.startsWith("v") && r.contains("cid=")),
      s"rewrites land cid-partitioned in the next tree ($ivfLiveAfter)")
    assert((ivfLiveAfter & ivfLiveBefore) ===
      ivfLiveBefore.filterNot(_.contains(s"cid=$victimCid")),
      "untouched cells stay in the live set at their original paths")
    val lshLiveAfter = Compaction.liveFilesRelative(spark, lshDir).toSet
    val lshDropped = lshLiveBefore -- lshLiveAfter
    assert(lshDropped.nonEmpty && lshDropped.size <= 4,
      s"a 1-vector LSH retract drops at most its 4 band files ($lshDropped)")
  }

  test("takedown then re-ingest: appendIvf after a FULL retraction clears " +
      "the empty sentinel and rebuilds the partitioned layout — the " +
      "lifecycle must not brick the artifact") {
    val e = vecs(sf)
    val evens = e.filter(col("vec_id") % 2 === 0)
    val odds = e.filter(col("vec_id") % 2 =!= 0)
    val base = Files.createTempDirectory("graft_annidx_reingest_").toString
    val idx = AnnIndexes.buildIvf(evens, k = 8, iters = 2)
    AnnIndexes.writeIvf(idx, base)
    AnnIndexes.retractIvf(spark, evens.select("vec_id"), base)
    assert(AnnIndexes.readIvf(spark, base).lists.count() === 0L,
      "full takedown leaves a readable empty index")
    // the re-ingest: before the sentinel-clearing fix this append
    // landed cid= directories beside the root sentinel file and every
    // later read failed with conflicting directory structures
    AnnIndexes.appendIvf(spark, odds, base)
    val back = AnnIndexes.readIvf(spark, base).lists
      .selectExpr("vec_id", "CAST(cid AS INT) AS cid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(back === graft.functions.Ivf.assign(odds, idx.centroids)
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq,
      "post-takedown append must equal a fresh assignment of the new batch")
    val q = e.filter(col("vec_id") === 1)
    assert(pairs(AnnIndexes.probeIvf(AnnIndexes.readIvf(spark, base),
      odds, q, 4, 5, 1L)).nonEmpty, "the re-ingested index must probe")
  }
}
