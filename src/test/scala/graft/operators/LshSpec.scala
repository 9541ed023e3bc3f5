package graft.operators

import graft.{Session, Tables}
import graft.functions.{MinHash, SimHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MinHash / SimHash signature semantics and the bucketed (never
  * all-pairs) near-dup pipelines l9/l10. */
class LshSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  private val sf = "/root/testdata/sf0.001"

  test("minhash mix is a fixed deterministic function") {
    assert(MinHash.mix(0L) === MinHash.mix(0L))
    assert(MinHash.mix(1L) !== MinHash.mix(2L))
    assert(MinHash.seeds.distinct.length === MinHash.K)
  }

  test("identical shingle sets produce identical signatures; estimate(jaccard)=1") {
    import spark.implicits._
    val rows = Seq(("a", 11L), ("a", 22L), ("a", 33L), ("b", 11L), ("b", 22L), ("b", 33L))
      .toDF("doc", "h")
    val sigs = rows.groupBy("doc").agg(MinHash.signature(col("h")).as("sig"))
      .as[(String, Seq[Long])].collect().toMap
    assert(sigs("a") === sigs("b"))
    assert(MinHash.estimate(sigs("a"), sigs("b")) === 1.0)
  }

  test("minhash estimate approximates true jaccard for half-overlapping sets") {
    import spark.implicits._
    // A = {0..99}, B = {50..149}: true jaccard = 50/150 = 1/3.
    val rows = ((0 until 100).map(i => ("a", MinHash.mix(i.toLong))) ++
      (50 until 150).map(i => ("b", MinHash.mix(i.toLong)))).toDF("doc", "h")
    val sigs = rows.groupBy("doc").agg(MinHash.signature(col("h")).as("sig"))
      .as[(String, Seq[Long])].collect().toMap
    val est = MinHash.estimate(sigs("a"), sigs("b"))
    assert(est > 0.15 && est < 0.52, s"estimate $est vs true 0.333")
  }

  test("signature aggregation is partition-order independent") {
    import spark.implicits._
    val hs = (0 until 500).map(i => ("d", MinHash.mix(i.toLong * 77)))
    val one = hs.toDF("doc", "h").coalesce(1)
      .groupBy("doc").agg(MinHash.signature(col("h"))).collect()(0).getSeq[Long](1)
    val many = hs.toDF("doc", "h").repartition(13)
      .groupBy("doc").agg(MinHash.signature(col("h"))).collect()(0).getSeq[Long](1)
    assert(one === many)
  }

  test("graft_minhash (native, codegen) equals the typed Aggregator signature") {
    import spark.implicits._
    graft.functions.NativeVectorExprs.ensureRegistered(spark)
    // Same shingle multiset both ways: exploded rows through the udaf vs
    // the array through the native expression — including duplicates,
    // which min-of-mixes must ignore.
    val hs = (0 until 300).map(i => MinHash.mix(i.toLong * 31)) ++
      (0 until 50).map(i => MinHash.mix(i.toLong * 31)) // dups
    val viaAgg = hs.map(("d", _)).toDF("doc", "h")
      .groupBy("doc").agg(MinHash.signature(col("h")).as("sig"))
      .head().getSeq[Long](1)
    val viaExpr = Seq(Tuple1(hs)).toDF("shs")
      .select(call_function("graft_minhash", col("shs")).as("sig"))
      .head().getSeq[Long](0)
    assert(viaAgg === viaExpr)
    // Interpreted path (eval, not codegen) must agree bit-for-bit.
    val interp = graft.functions.MinHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        hs, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(interp === viaExpr)
  }

  test("l9's document stage is shuffle-free: no aggregation anywhere in the plan") {
    // documents is one row per doc, so signatures and shingle sets are
    // computed map-side (array_distinct + graft_minhash) inside the
    // scan's codegen span — an ObjectHashAggregate (udaf/collect_set)
    // in the plan means the shuffle-free doc stage regressed. The only
    // aggregates left are the 1-row invariant counters (HashAggregate).
    // Composed WITHOUT the sharedPairs memo: the catalog l9 reads the
    // sketch from the shared checkpoint, so its own plan no longer
    // CONTAINS the sketch subtree — this is the subtree's plan shape.
    val df = LlmQueries.l9From(spark, sf,
      LlmQueries.candidatePairs(LlmQueries.planted(Tables.documents(spark, sf))))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ObjectHashAggregate"),
      s"l9 re-grew an object hash aggregate:\n${plan.take(2000)}")
    assert(plan.contains("graft_minhash"), "native minhash missing from l9's plan")
  }

  test("property: graft_minhash/graft_simhash equal their aggregation forms " +
      "on random multisets") {
    import spark.implicits._
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    graft.functions.NativeVectorExprs.ensureRegistered(spark)
    val hsGen = Gen.nonEmptyListOf(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    val p = Prop.forAll(hsGen) { hs =>
      val viaMinAgg = hs.map(("d", _)).toDF("doc", "h")
        .groupBy("doc").agg(MinHash.signature(col("h")).as("sig"))
        .head().getSeq[Long](1)
      val viaSimAgg = SimHash.signatures(
        hs.map(("d", _)).toDF("doc", "h"), "doc", "h").head().getLong(1)
      val native = Seq(Tuple1(hs)).toDF("hs")
        .select(call_function("graft_minhash", col("hs")).as("m"),
          call_function("graft_simhash", col("hs")).as("s"))
        .head()
      native.getSeq[Long](0) == viaMinAgg && native.getLong(1) == viaSimAgg
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(30).withWorkers(1), p)
    assert(res.passed, res.toString)
  }

  test("native signature expressions: empty/null edge cases") {
    import spark.implicits._
    graft.functions.NativeVectorExprs.ensureRegistered(spark)
    // Empty input: minhash = K untouched minima (MaxValue), simhash = 0
    // (every per-bit sum is 0, ties round down), hpsig on a 0-dim vector
    // = 0 (every plane length-mismatches -> bit unset, not null).
    val empty = Seq(Tuple1(Seq.empty[Long])).toDF("hs")
    val mh = empty.select(call_function("graft_minhash", col("hs"))).head().getSeq[Long](0)
    assert(mh.length === MinHash.K && mh.forall(_ === Long.MaxValue))
    assert(empty.select(call_function("graft_simhash", col("hs"))).head().getLong(0) === 0L)
    val emptyV = Seq(Tuple1(Seq.empty[Double])).toDF("v")
    assert(emptyV.select(call_function("graft_hpsig", col("v"),
      typedLit(LlmQueries.hyperplanes16.map(_.toSeq).toSeq))).head().getLong(0) === 0L)
    // Null input nulls all three (null-intolerant unary/binary paths).
    val nullArr = spark.sql("SELECT CAST(NULL AS ARRAY<BIGINT>) AS hs, CAST(NULL AS ARRAY<DOUBLE>) AS v")
    assert(nullArr.select(call_function("graft_minhash", col("hs"))).head().isNullAt(0))
    assert(nullArr.select(call_function("graft_simhash", col("hs"))).head().isNullAt(0))
    assert(nullArr.select(call_function("graft_hpsig", col("v"),
      typedLit(LlmQueries.hyperplanes16.map(_.toSeq).toSeq))).head().isNullAt(0))
    // A null ELEMENT nulls minhash/simhash (mirrors graft_dot's
    // conservatism) — both the codegen and interpreted paths.
    val withNull = spark.sql("SELECT array(CAST(1 AS BIGINT), CAST(NULL AS BIGINT)) AS hs")
    assert(withNull.select(call_function("graft_minhash", col("hs"))).head().isNullAt(0))
    assert(withNull.select(call_function("graft_simhash", col("hs"))).head().isNullAt(0))
  }

  test("l9 finds every planted near-duplicate pair (drop-first-token copies)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val off = LlmQueries.plantedOffset(docs, "doc_id").head().getLong(0)
    val dd = LlmQueries.planted(docs)
    val plantedIds = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id").as[Long].collect().toSet
    // Re-run the candidate stage of l9 (same shared shingle/bucket code)
    // and check the planted pairs appear.
    val sh = LlmQueries.shingles(dd) // (doc_id, 64-bit shingle hash)
    val sigs = sh.groupBy("doc_id").agg(MinHash.signature(col("sh")).as("sig"))
    val buckets = LlmQueries.minhashBuckets(sigs)
    val pairs = buckets.as("x")
      .join(buckets.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
      .distinct()
      .as[(Long, Long)].collect().toSet
    val missing = plantedIds.filter(id => !pairs.contains((id, id + off)))
    assert(missing.isEmpty, s"planted pairs missed by LSH: $missing")
  }

  test("l9 and l10 plans contain no CartesianProduct") {
    for (dq <- Seq(LlmQueries.l9, LlmQueries.l10)) {
      val plan = dq.fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${dq.name} is all-pairs")
    }
    // l9's candidate generation must be pure equi-joins. The only
    // nested-loop joins allowed are guaranteed-1-row broadcasts: global
    // aggregates (keys=[]) — the planted offset and the invariant
    // counters. Anything whose build side is not a 1-row aggregate is
    // an all-pairs bug.
    val l9exec = LlmQueries.l9.fn(spark, sf).queryExecution.executedPlan
    val nlJoins = l9exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nlJoins.forall(_.children.exists(_.toString.contains("keys=[]"))),
      s"l9 has a non-1-row NL join:\n${nlJoins.map(_.nodeName).mkString("\n")}")
  }

  test("l9's shared subtrees execute via exchange reuse (corpus not re-scanned per consumer)") {
    // The shingle frame feeds four consumers; the scaladoc's claim that
    // Spark shares the shuffled subtrees must hold in the EXECUTED
    // (AQE-final) plan, not just in intent. Composed without the
    // sharedPairs memo, as above — the sketch subtree's own shape.
    val df = LlmQueries.l9From(spark, sf,
      LlmQueries.candidatePairs(LlmQueries.planted(Tables.documents(spark, sf))))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"no exchange reuse in l9's executed plan:\n${plan.take(2000)}")
  }

  /** Whether `df`'s checkpoint RDD has every partition cached now. */
  private def fullyCached(df: DataFrame): Boolean = {
    val rdd = df.queryExecution.logical.collectFirst {
      case r: LogicalRDD => r.rdd
    }.getOrElse(fail(s"not a checkpointed frame:\n${df.queryExecution.logical}"))
    rdd.getNumPartitions == 0 || spark.sparkContext.getRDDStorageInfo
      .exists(i => i.id == rdd.id && i.numCachedPartitions == i.numPartitions)
  }

  test("sharedPairs memo: one frame instance per corpus, and the memoized " +
      "l9 equals the from-scratch composition row-for-row") {
    // Every shared catalog frame, on a snapshot no spec has read yet:
    // the accessor returns with its checkpoint fully cached (eager pin,
    // so no consumer recomputes it or races another to fill it), and
    // the same instance comes back, so the subtree is priced once per
    // (context, dir) no matter how many consumers ask. The solo frame
    // goes first: its build reads the clean frame, cold too.
    val cold = java.nio.file.Files.createTempDirectory("shared_frames")
    for (t <- Seq("documents", "embeddings"))
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        cold.resolve(s"$t.parquet"))
    val shared = Seq[(String, (SparkSession, String) => DataFrame)](
      "solo" -> CorpusBuildQueries.soloFrame,
      "cleanHeld" -> ReleaseQueries.cleanHeld,
      "pairs" -> LlmQueries.sharedPairs,
      "ivfCentroids" -> LlmQueries.sharedIvfCentroids,
      "plantedGrams" -> SamplingQueries.sharedPlantedGrams)
    for ((name, frame) <- shared) {
      val df = frame(spark, cold.toString)
      assert(fullyCached(df), s"$name: returned before its pin landed")
      assert(frame(spark, cold.toString) eq df, s"$name: built twice")
    }
    assert(LlmQueries.sharedPairs(spark, sf) eq LlmQueries.sharedPairs(spark, sf))
    val viaMemo = LlmQueries.l9.fn(spark, sf).collect().toSeq
    val scratch = LlmQueries.l9From(spark, sf,
      LlmQueries.candidatePairs(LlmQueries.planted(Tables.documents(spark, sf))))
      .collect().toSeq
    assert(viaMemo === scratch, "memoized sketch diverged from a rebuild")
  }

  test("l9 reports at least the planted near-duplicates") {
    val row = LlmQueries.l9.fn(spark, sf).collect()(0)
    val nPlanted = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0).count()
    assert(row.getAs[Long]("n_near_dup") >= nPlanted)
    assert(row.getAs[Long]("n_candidates") >= row.getAs[Long]("n_near_dup"))
  }

  test("simhash: identical token streams → identical signatures, dropped token → small hamming") {
    import spark.implicits._
    val toks = ((0 until 200).map(i => ("a", s"tok$i")) ++
      (0 until 200).map(i => ("b", s"tok$i")) ++
      (1 until 200).map(i => ("c", s"tok$i"))) // c = a minus one token
      .toDF("doc", "tok")
      .select(col("doc"), xxhash64(col("tok")).as("h"))
    val sigs = SimHash.signatures(toks, "doc", "h")
      .as[(String, Long)].collect().toMap
    assert(sigs("a") === sigs("b"))
    val hamming = java.lang.Long.bitCount(sigs("a") ^ sigs("c"))
    assert(hamming <= 8, s"near-identical docs hamming $hamming")
  }

  test("graft_simhash (native, codegen) equals the 64-sum aggregation signature") {
    import spark.implicits._
    graft.functions.NativeVectorExprs.ensureRegistered(spark)
    // Duplicates must weigh: repeat a block of tokens so per-bit sums
    // differ from the set form, and include a singleton doc.
    val tokens = (0 until 150).map(i => s"t$i") ++ (0 until 40).map(i => s"t$i")
    val viaAgg = SimHash.signatures(
      tokens.map(("d", _)).toDF("doc", "tok")
        .select(col("doc"), xxhash64(col("tok")).as("h")), "doc", "h")
      .head().getLong(1)
    val viaExpr = Seq(Tuple1(tokens)).toDF("toks")
      .select(call_function("graft_simhash",
        transform(col("toks"), t => xxhash64(t))).as("sig"))
      .head().getLong(0)
    assert(viaAgg === viaExpr)
    val interp = graft.functions.SimHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        tokens.map(t => graft.functions.MinHash.mix(t.hashCode.toLong)),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))
      .eval(null)
    val codegenSame = Seq(Tuple1(tokens.map(t =>
      graft.functions.MinHash.mix(t.hashCode.toLong)))).toDF("hs")
      .select(call_function("graft_simhash", col("hs")).as("sig"))
      .head().getLong(0)
    assert(interp === codegenSame)
  }

  test("l10's signature stage is shuffle-free (native graft_simhash, no token explode)") {
    val df = LlmQueries.l10.fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_simhash"), "native simhash missing from l10's plan")
    assert(!plan.toLowerCase.contains("generate explode(split"),
      s"l10 re-grew the token explode:\n${plan.take(2000)}")
  }

  test("l10 finds the planted duplicates as hamming<=3 bucket pairs") {
    val row = LlmQueries.l10.fn(spark, sf).collect()(0)
    assert(row.getAs[Long]("n_pairs_ham_le3") > 0)
    assert(row.getAs[Long]("n_docs") === 550) // 500 + 50 planted
  }

  test("graft_hpsig (native, codegen) equals the HOF aggregate-over-graft_dot fold") {
    graft.functions.NativeVectorExprs.ensureRegistered(spark)
    // Real vectors, real planes: sign signatures must agree bit-for-bit
    // with the interpreted fold the native expression replaced —
    // including sign flips that hinge on float summation order.
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val viaNative = LlmQueries.hyperplaneSig(e, LlmQueries.hyperplanes64)
      .select("vec_id", "sig").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaHof = e
      .withColumn("_planes",
        typedLit(LlmQueries.hyperplanes64.map(_.toSeq).toSeq))
      .withColumn("sig", expr(
        """aggregate(sequence(0, size(_planes) - 1), cast(0 as bigint),
             (acc, j) -> acc | if(
               graft_dot(v, element_at(_planes, j + 1)) > 0,
               shiftleft(cast(1 as bigint), j), cast(0 as bigint)))"""))
      .select("vec_id", "sig").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaNative === viaHof)
    assert(viaNative.values.toSet.size > 1, "degenerate signatures")
  }

  test("l14 recovers at least 80% of the planted cosine near-duplicate pairs") {
    import graft.functions.VectorOps
    val row = LlmQueries.l14.fn(spark, sf).collect()(0)
    assert(row.getAs[Long]("n_candidates") >= row.getAs[Long]("n_near"))
    // Exact planted-pair count at the same threshold, brute force on the
    // known (x, x+offset) pairs only.
    val off = LlmQueries.plantedOffset(Tables.embeddings(spark, sf), "vec_id")
      .head().getLong(0)
    val pv = LlmQueries.plantedVecs(Tables.embeddings(spark, sf))
    val a = pv.filter(col("vec_id") < off && col("vec_id") % 10 === 0)
      .select(col("vec_id").as("ida"), col("v").as("va"))
    val b = pv.filter(col("vec_id") >= off)
      .select((col("vec_id") - off).as("ida"), col("v").as("vb"))
    val exact = a.join(b, "ida")
      .filter(VectorOps.cosine(col("va"), col("vb")) >= 0.9).count()
    assert(exact > 0, "perturbation should keep most planted pairs above 0.9")
    assert(row.getAs[Long]("n_near") >= (exact * 0.8).toLong,
      s"found ${row.getAs[Long]("n_near")} of $exact planted near pairs")
  }

  test("l14 plan has no cartesian or non-offset nested-loop join") {
    val exec = LlmQueries.l14.fn(spark, sf).queryExecution.executedPlan
    assert(!exec.toString.contains("CartesianProduct"))
    val nlJoins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nlJoins.forall(_.children.exists(_.toString.contains("keys=[]"))),
      "l14 has a nested-loop join beyond 1-row global-aggregate broadcasts")
  }

  test("simhash bands honor the real signature width (no all-zero upper bands)") {
    import spark.implicits._
    // 0xABCD split as 4×4-bit bands must be D,C,B,A — the 64-bit default
    // would make bands 1-3 read past bit 15 and collapse to huge shared
    // buckets (the degenerate-LSH bug the round-3 advisor caught in l12).
    val rows = Seq(0xABCDL).toDF("sig")
      .select(explode(SimHash.bands(col("sig"), 4, 16)).as("b"))
      .select("b.band_id", "b.bval").as[(Int, Long)].collect().toMap
    assert(rows === Map(0 -> 0xDL, 1 -> 0xCL, 2 -> 0xBL, 3 -> 0xAL))
    intercept[IllegalArgumentException](SimHash.bands(col("sig"), 5, 16))
  }

  test("l12 banding actually prunes: candidates are a strict subset of the corpus") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val n = e.count()
    val sig = LlmQueries.hyperplaneSig(e, LlmQueries.hyperplanes16)
    val banded = sig.select(col("vec_id"),
      explode(SimHash.bands(col("sig"), 4, 16)).as("b"))
      .select(col("vec_id"), col("b.band_id"), col("b.bval"))
    val qb = banded.filter(col("vec_id") === 0).select("band_id", "bval")
    val cands = banded.filter(col("vec_id") =!= 0)
      .join(broadcast(qb), Seq("band_id", "bval")).select("vec_id").distinct().count()
    assert(cands > 0, "no candidates at all — banding broken the other way")
    assert(cands < (n - 1) / 2,
      s"l12 LSH degenerate: $cands candidates of ${n - 1} non-query vectors")
  }

  test("LSH candidate growth stays near-linear: n_candidates <= 20 * n_docs") {
    // Guard against silent bucket blowup (the 4-bit-band incident measured
    // quadratic — 135 s at sf0.1): every bucketed near-dup operator must
    // emit a candidate volume linear in the corpus, at the sf the
    // correctness gate runs.
    val sf01 = "/root/testdata/sf0.01"
    val nDocs = Tables.documents(spark, sf01).count() * 11 / 10 // incl. planted
    val nVecs = Tables.embeddings(spark, sf01).count() * 11 / 10
    val l9 = LlmQueries.l9.fn(spark, sf01).collect()(0)
    assert(l9.getAs[Long]("n_candidates") <= 20 * nDocs,
      s"l9 candidates ${l9.getAs[Long]("n_candidates")} vs $nDocs docs")
    val l10 = LlmQueries.l10.fn(spark, sf01).collect()(0)
    assert(l10.getAs[Long]("n_candidates") <= 20 * l10.getAs[Long]("n_docs"),
      s"l10 candidates ${l10.getAs[Long]("n_candidates")} vs ${l10.getAs[Long]("n_docs")} docs")
    val l14 = LlmQueries.l14.fn(spark, sf01).collect()(0)
    assert(l14.getAs[Long]("n_candidates") <= 20 * nVecs,
      s"l14 candidates ${l14.getAs[Long]("n_candidates")} vs $nVecs vecs")
  }

  test("sf0.01 golden: no-oracle invariant values are pinned exactly") {
    // The driver's gate records these queries rows-only (no DuckDB
    // oracle), and the bound-style specs (<=, >=) only catch
    // catastrophic drift. Pin the EXACT sf0.01 invariant values —
    // everything here is deterministic (fixed testdata, fixed seeds,
    // fixed hyperplanes), so any semantic change to shingling, banding,
    // pre-filters, or thresholds fails loudly on the changed value.
    val sf01 = "/root/testdata/sf0.01"
    assume(new java.io.File(sf01).isDirectory)
    val l9 = LlmQueries.l9.fn(spark, sf01).collect()(0)
    assert(l9.getAs[Long]("n_candidates") === 81L, s"l9 $l9")
    assert(l9.getAs[Long]("n_near_dup") === 81L, s"l9 $l9")
    assert(l9.getAs[Long]("pair_checksum") === 68869L, s"l9 $l9")
    assert(l9.getAs[Long]("n_planted_found") === 50L, s"l9 $l9")
    assert(l9.getAs[Long]("n_planted") === 50L, s"l9 $l9")
    assert(l9.getAs[Long]("cand_per_doc_e2") === 15L, s"l9 $l9")
    val l10 = LlmQueries.l10.fn(spark, sf01).collect()(0)
    assert(l10.getAs[Long]("n_docs") === 550L, s"l10 $l10")
    assert(l10.getAs[Long]("n_sig") === 541L, s"l10 $l10")
    assert(l10.getAs[Long]("n_candidates") === 509L, s"l10 $l10")
    assert(l10.getAs[Long]("n_pairs_ham_le3") === 58L, s"l10 $l10")
    assert(l10.getAs[Long]("pair_checksum") === 50331L, s"l10 $l10")
    assert(l10.getAs[Long]("n_planted_found") === 38L, s"l10 $l10")
    assert(l10.getAs[Long]("n_planted") === 50L, s"l10 $l10")
    val l14 = LlmQueries.l14.fn(spark, sf01).collect()(0)
    assert(l14.getAs[Long]("n_candidates") === 192L, s"l14 $l14")
    assert(l14.getAs[Long]("n_near") === 50L, s"l14 $l14")
    assert(l14.getAs[Long]("pair_checksum") === 49500L, s"l14 $l14")
    assert(l14.getAs[Long]("n_planted_found") === 50L, s"l14 $l14")
    assert(l14.getAs[Long]("cand_per_vec_e2") === 35L, s"l14 $l14")
    val l12 = LlmQueries.l12.fn(spark, sf01)
      .select("vec_id", "sim_e4", "n_exact_top5_overlap")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(l12 === Seq((387L, 3311L, 2L), (73L, 2954L, 2L), (320L, 2879L, 2L),
      (483L, 2567L, 2L), (257L, 2481L, 2L)), s"l12 $l12")
  }

  test("sf0.1: candidate bounds and planted recall hold at bench scale") {
    // The unit-scale bound (previous test) can hide a density blowup
    // that only appears at the bench sf — assert the same invariants
    // from the queries' own invariant columns at sf0.1 (round-4 advice:
    // fail loudly instead of surfacing as an 11-second bench row).
    val sf1 = "/root/testdata/sf0.1"
    assume(new java.io.File(sf1).isDirectory)
    val l9 = LlmQueries.l9.fn(spark, sf1).collect()(0)
    assert(l9.getAs[Long]("cand_per_doc_e2") <= 2000, // 20x corpus
      s"l9 candidate blowup: ${l9.getAs[Long]("cand_per_doc_e2")} / 100 per doc")
    assert(l9.getAs[Long]("n_planted_found") === l9.getAs[Long]("n_planted"),
      s"l9 planted recall ${l9.getAs[Long]("n_planted_found")}/${l9.getAs[Long]("n_planted")}")
    val l14 = LlmQueries.l14.fn(spark, sf1).collect()(0)
    assert(l14.getAs[Long]("cand_per_vec_e2") <= 2000,
      s"l14 candidate blowup: ${l14.getAs[Long]("cand_per_vec_e2")} / 100 per vec")
    assert(l14.getAs[Long]("n_planted_found") >=
      (l14.getAs[Long]("n_planted") * 8) / 10,
      s"l14 planted recall ${l14.getAs[Long]("n_planted_found")}/${l14.getAs[Long]("n_planted")}")
    val l10 = LlmQueries.l10.fn(spark, sf1).collect()(0)
    assert(l10.getAs[Long]("n_candidates") <= 20 * l10.getAs[Long]("n_docs"),
      s"l10 candidates ${l10.getAs[Long]("n_candidates")} vs ${l10.getAs[Long]("n_docs")} docs")
    // ANN recall floors from the queries' own overlap invariant
    // (deterministic: fixed testdata + fixed hyperplanes/centroids) —
    // a banding or probe regression now fails here, not just in the
    // recorded numbers.
    val l12 = LlmQueries.l12.fn(spark, sf1).collect()(0)
    assert(l12.getAs[Long]("n_exact_top5_overlap") >= 3,
      s"l12 exact-top5 overlap ${l12.getAs[Long]("n_exact_top5_overlap")}/5")
    val l16 = LlmQueries.l16.fn(spark, sf1).collect()(0)
    assert(l16.getAs[Long]("n_exact_top5_overlap") >= 4,
      s"l16 exact-top5 overlap ${l16.getAs[Long]("n_exact_top5_overlap")}/5")
    // l26: the per-cell prune must keep >= 80% planted recall at the
    // bench corpus density; l28: the deeper bench-scale pair graph must
    // still close inside the fixed 8-round budget (fixpoint proof 0)
    val l26 = LlmQueries.l26.fn(spark, sf1).collect()(0)
    assert(l26.getAs[Long]("n_planted_found") >=
      (l26.getAs[Long]("n_planted") * 8) / 10,
      s"l26 planted recall ${l26.getAs[Long]("n_planted_found")}/${l26.getAs[Long]("n_planted")}")
    val l28 = LlmQueries.l28.fn(spark, sf1).collect()(0)
    assert(l28.getAs[Long]("n_unconverged") === 0L,
      s"l28 label propagation unconverged at bench scale: $l28")
    assert(l28.getAs[Long]("n_clusters") > 0)
  }

  test("hyperplaneSig works on a session missing the extension functions") {
    // An embedder's session may lack graft_dot; hyperplaneSig must
    // self-register against the frame's session, not fail at analysis.
    val bare = spark.newSession()
    bare.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot"))
    import bare.implicits._
    val df = Seq((1L, Seq.fill(64)(0.1)), (2L, Seq.fill(64)(-0.1)))
      .toDF("vec_id", "v")
    val sigs = LlmQueries.hyperplaneSig(df, LlmQueries.hyperplanes16)
      .select("vec_id", "sig").as[(Long, Long)].collect().toMap
    // Opposite vectors flip every sign bit → complementary 16-bit sigs.
    assert((sigs(1L) ^ sigs(2L)) === 0xFFFFL)
  }

  test("l28 component closure equals a driver-side union-find over the same " +
      "verified pairs, and the fixed round budget reaches the fixpoint") {
    val pairs = LlmQueries.candidatePairs(
        LlmQueries.planted(Tables.documents(spark, sf)))
      .filter(col("jac_e4") >= 6000).select("ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty)
    val labels = graft.TestGraphs.unionFindLabels(pairs)
    val nodes = labels.keys.toSeq
    val byComp = labels.groupBy(_._2)
    val comps = byComp.keys.toSeq
    val sizes = byComp.values.map(_.size).toSeq
    val row = LlmQueries.l28.fn(spark, sf).collect()(0)
    assert(row.getAs[Long]("n_clusters") === comps.length.toLong)
    assert(row.getAs[Long]("n_docs_clustered") === nodes.length.toLong)
    assert(row.getAs[Long]("n_removable") === (nodes.length - comps.length).toLong)
    assert(row.getAs[Long]("largest_cluster") === sizes.max.toLong)
    assert(row.getAs[Long]("canonical_checksum") === comps.sum)
    assert(row.getAs[Long]("n_unconverged") === 0L,
      "8 propagation rounds must reach the fixpoint on this graph")
    // the closure genuinely merges beyond pairs — at least one cluster
    // larger than 2, or this operator degenerates to the pair list
    assert(sizes.max > 2)
  }

  test("sf0.01 golden: l28's component row is pinned exactly") {
    val sf01 = "/root/testdata/sf0.01"
    assume(new java.io.File(sf01).isDirectory)
    val r = LlmQueries.l28.fn(spark, sf01).collect()(0)
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))
    assert(got === ((67L, 141L, 74L, 3L, 14329L, 0L)), s"l28 $got")
  }

  test("plantedFull is planted plus provenance: same (doc_id, text) rows") {
    // l29's matrix groups the SAME corpus l9/l28 sketch — if the two
    // planted frames ever diverge, the curation decision and the
    // cluster labels would describe different documents.
    val docs = Tables.documents(spark, sf)
    val a = LlmQueries.planted(docs).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = LlmQueries.plantedFull(docs).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a === b)
  }

  test("l29 duplicate rule is cluster-canonical (union-find agreement), " +
      "l19's exact dups are a strict subset, and the matrix reconciles per cell") {
    val docsDf = Tables.documents(spark, sf)
    val pairs = LlmQueries.candidatePairs(LlmQueries.planted(docsDf))
      .filter(col("jac_e4") >= 6000).select("ida", "idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ufLabels = graft.TestGraphs.unionFindLabels(pairs)
    val perDoc = LlmQueries.neardupCuration(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getString(4)))
    // (1) per-doc duplicate mark ⟺ union-find says non-canonical. The
    // production rule also unions in exact-hash canonicality, but l1
    // pins this corpus exact-dup-free, so the iff against pure
    // union-find is exact here (the injected-copy test below exercises
    // the exact-hash arm).
    perDoc.foreach { case (id, _, _, comp, reason) =>
      val ufDup = ufLabels.get(id).exists(_ != id)
      assert((reason == "near_duplicate") === ufDup,
        s"doc $id: reason=$reason comp=$comp but union-find=${ufLabels.get(id)}")
    }
    // (2) the published matrix reconciles cell-for-cell with the per-doc
    // frame, and the invariant columns hold
    val matrix = LlmQueries.l29.fn(spark, sf).collect()
    val cells = perDoc.groupBy(t => (t._2, t._5))
    matrix.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      val ds = cells(key)
      assert(r.getLong(2) === ds.size.toLong, s"n mismatch at $key")
      assert(r.getLong(3) === ds.map(_._3).sum, s"sum_chars mismatch at $key")
      val expectedChecksum =
        if (key._2 == "keep") 0L else ds.map(_._1).sum
      assert(r.getLong(4) === expectedChecksum, s"checksum mismatch at $key")
      assert(r.getLong(5) === ufLabels.values.toSet.size.toLong, "n_clusters")
      assert(r.getLong(6) === 0L, "exact-dup escapees must be structurally 0")
      assert(r.getLong(7) === 0L, "closure must be converged")
    }
    assert(matrix.map(r => (r.getString(0), r.getString(1))).toSet === cells.keySet)
  }

  test("l29 exact-dup subset: injected byte-identical copies are always " +
      "removed (the stock corpus has none — l1 pins 0)") {
    // ≥3-token copies: identical text → identical minhash → ALL bands
    // collide → jaccard 10000 → same cluster. Short or trim-only
    // copies never enter the sketch — the exact-hash arm of the union
    // rule removes those. Either way every doc l19's exact rule
    // removes, l29 removes too.
    val raw = Tables.documents(spark, sf)
      .select("doc_id", "lang", "text", "n_chars")
    val maxId = raw.agg(max("doc_id")).head().getLong(0)
    // copy 7 spread-out docs (planted sources and not) with fresh ids
    // far past the planted offset so nothing collides
    val copies = raw.filter(col("doc_id") % 71 === 0)
      .withColumn("doc_id", col("doc_id") + lit(10 * (maxId + 1)))
    // the sketch-invisible shapes: a 2-token pair (below the ≥3-token
    // shingle floor) and a trim-only copy (same normHash, different
    // token shingles) — only the exact-hash arm can catch these
    val base = 20 * (maxId + 1)
    val shorts = spark.createDataFrame(Seq(
      (base, "en", "hello world", 11L),
      (base + 1, "en", "hello world", 11L),
      (base + 2, "en", "  hello world  ", 15L))).toDF(
      "doc_id", "lang", "text", "n_chars")
    val injected = raw.unionByName(copies).unionByName(shorts)
    val perDoc = LlmQueries.neardupParts(injected)._3
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val copyIds = copies.select("doc_id").collect().map(_.getLong(0))
    assert(copyIds.nonEmpty)
    copyIds.foreach(id =>
      assert(perDoc(id) == "near_duplicate",
        s"injected exact copy $id escaped curation (${perDoc(id)})"))
    // min-id canon keeps the first short doc; the byte-identical and
    // trim-only copies are duplicates despite never entering the sketch
    assert(perDoc(base) != "near_duplicate")
    assert(perDoc(base + 1) == "near_duplicate")
    assert(perDoc(base + 2) == "near_duplicate")
  }

  test("sf0.01 golden: l29's curation matrix is pinned exactly and its " +
      "cluster count equals l28's pinned golden") {
    val sf01 = "/root/testdata/sf0.01"
    assume(new java.io.File(sf01).isDirectory)
    val collected = LlmQueries.l29.fn(spark, sf01).collect()
    val rows = collected
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val expected = Seq(
      ("de", "keep", 47L, 15810L, 0L),
      ("de", "low_quality", 20L, 2532L, 5392L),
      ("de", "near_duplicate", 11L, 3560L, 7093L),
      ("en", "keep", 136L, 51132L, 0L),
      ("en", "low_quality", 66L, 8677L, 13693L),
      ("en", "near_duplicate", 36L, 10333L, 20300L),
      ("es", "keep", 48L, 18265L, 0L),
      ("es", "low_quality", 22L, 2986L, 5336L),
      ("es", "near_duplicate", 11L, 2599L, 6967L),
      ("fr", "keep", 50L, 18787L, 0L),
      ("fr", "low_quality", 12L, 1193L, 3047L),
      ("fr", "near_duplicate", 9L, 3345L, 5754L),
      ("zh", "keep", 53L, 19591L, 0L),
      ("zh", "low_quality", 22L, 3242L, 5020L),
      ("zh", "near_duplicate", 7L, 1957L, 5630L))
    assert(rows === expected)
    val inv = collected(0)
    // 67 = l28's sf0.01 n_clusters golden: same edges, same closure
    assert(inv.getAs[Long]("n_clusters") === 67L)
    assert(inv.getAs[Long]("n_exact_dup_escapees") === 0L)
    assert(inv.getAs[Long]("n_unconverged") === 0L)
  }

  test("l27 repetition screening equals a local top-2-gram recompute and flags real docs") {
    val rows = Tables.documents(spark, sf).select("lang", "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val perDoc = rows.flatMap { case (lang, id, text) =>
      val ta = text.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
      if (ta.length < 2) None
      else {
        val grams = ta.sliding(2).map(_.mkString(" ")).toSeq
        val maxC = grams.groupBy(identity).values.map(_.size).max
        Some((lang, id, math.round(maxC * 10000.0 / grams.length)))
      }
    }
    val expected = perDoc.groupBy(_._1).toSeq.sortBy(_._1).map { case (lang, ds) =>
      val flagged = ds.filter(_._3 > 1000)
      (lang, ds.length.toLong, flagged.length.toLong,
        math.round(ds.map(_._3).sum * 1.0 / ds.length), flagged.map(_._2).sum)
    }
    val got = LlmQueries.l27.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // the rule must bite on this repetitive corpus without flagging it all
    assert(got.map(_._3).sum > 0 && got.map(_._3).sum < got.map(_._2).sum / 10)
  }

  test("l15 n-gram jaccard scores are high for first-token-dropped variants") {
    val rows = LlmQueries.l15.fn(spark, sf).collect()
    assert(rows.length === 50) // doc_id % 10 == 0 of 500
    val jacs = rows.map(_.getAs[Long]("jac_e4"))
    assert(jacs.forall(j => j > 0 && j <= 10000))
    // Dropping one token of ≥25 leaves most 3-grams shared.
    assert(jacs.count(_ >= 6000) >= 45, s"low jaccards: ${jacs.sorted.take(5).toSeq}")
  }
}
