package graft

import graft.functions.{Multimodal, VectorOps}
import graft.operators.LlmQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Vector arithmetic and multimodal binary plumbing. */
class FunctionsSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  private val sf = "/root/testdata/sf0.001"

  test("dot/norm/cosine match hand-computed values") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 2.0), Seq(2.0, 0.0, 1.0))).toDF("a", "b")
    val row = df.select(
      VectorOps.dot(col("a"), col("b")).as("dot"),
      VectorOps.norm(col("a")).as("na"),
      VectorOps.cosine(col("a"), col("b")).as("cos")).collect()(0)
    assert(row.getAs[Double]("dot") === 4.0)
    assert(row.getAs[Double]("na") === 3.0)
    assert(math.abs(row.getAs[Double]("cos") - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-12)
  }

  test("native graft_dot is bit-identical to the HOF dot on every embedding") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    // Bit-exact, not approximate: both fold left-to-right in array order.
    val diff = e.crossJoin(broadcast(q))
      .filter(VectorOps.dotNative(col("v"), col("qv")) =!=
        VectorOps.dot(col("v"), col("qv")))
      .count()
    assert(diff === 0)
    // And the cosine forms agree bit-exactly too.
    val diffCos = e.crossJoin(broadcast(q))
      .filter(VectorOps.cosineNative(col("v"), col("qv")) =!=
        VectorOps.cosine(col("v"), col("qv")))
      .count()
    assert(diffCos === 0)
  }

  test("native graft_dot8 equals the HOF int fold on quantized vectors " +
      "and shares the family's null parity") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q8 = graft.operators.AnnIndexes.quantizeInt8(e).select("vec_id", "qv")
    val probe = q8.filter(col("vec_id") === 0).select(col("qv").as("q_qv"))
    val hof = expr(
      """aggregate(zip_with(qv, q_qv,
           (a, b) -> CAST(a AS BIGINT) * CAST(b AS BIGINT)),
         CAST(0 AS BIGINT), (acc, x) -> acc + x)""")
    val diff = q8.crossJoin(broadcast(probe))
      .filter(call_function("graft_dot8", col("qv"), col("q_qv")) =!= hof)
      .count()
    assert(diff === 0)
    // null parity: unequal lengths and a null element both null out
    val uneq8 = Seq((Seq(1.toByte, 2.toByte), Seq(1.toByte))).toDF("qv", "q_qv")
    assert(uneq8.select(call_function("graft_dot8", col("qv"), col("q_qv")))
      .collect()(0).isNullAt(0))
    val null8 = Seq((Seq[java.lang.Byte](1.toByte, null),
      Seq[java.lang.Byte](1.toByte, 2.toByte))).toDF("qv", "q_qv")
    assert(null8.select(call_function("graft_dot8", col("qv"), col("q_qv")))
      .collect()(0).isNullAt(0))
  }

  test("native expressions null out exactly like the HOF forms on degenerate input") {
    import spark.implicits._
    // Unequal lengths: zip_with pads with null → HOF dot is null; the
    // native form must agree rather than return a partial sum.
    val uneq = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val r1 = uneq.select(
      VectorOps.dotNative(col("a"), col("b")).as("nat"),
      VectorOps.dot(col("a"), col("b")).as("hof")).collect()(0)
    assert(r1.isNullAt(0) && r1.isNullAt(1))
    // Null element: nulls the fold in both forms.
    val withNull = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
    val r2 = withNull.select(
      VectorOps.dotNative(col("a"), col("b")).as("nat"),
      VectorOps.dot(col("a"), col("b")).as("hof"),
      call_function("graft_sqdist", col("a"), col("b")).as("sq")).collect()(0)
    assert(r2.isNullAt(0) && r2.isNullAt(1) && r2.isNullAt(2))
    // Null input array: standard null propagation.
    val nullArr = Seq((null.asInstanceOf[Seq[Double]], Seq(1.0))).toDF("a", "b")
    assert(nullArr.select(VectorOps.dotNative(col("a"), col("b"))).collect()(0).isNullAt(0))
  }

  test("graft_dot participates in WholeStageCodegen (the HOF form cannot)") {
    val e = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("v"))
    val df = e.select(VectorOps.dotNative(col("v"), col("v")).as("d"))
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "native dot fell out of codegen")
    // Analysis-time type check names the offender on a bad call.
    val err = intercept[Exception](
      spark.range(1).select(expr("graft_dot(id, id)")).collect())
    assert(err.getMessage.toLowerCase.contains("graft_dot"))
  }

  test("native forms self-register on a session missing the extension functions") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    // Simulate an embedder's session without graft's extensions: a new
    // session whose registry has the functions dropped.
    val bare = spark.newSession()
    bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_dot"))
    bare.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_sqdist"))
    assert(!bare.sessionState.functionRegistry
      .functionExists(FunctionIdentifier("graft_dot")))
    val prior = SparkSession.getActiveSession
    try {
      SparkSession.setActiveSession(bare)
      import bare.implicits._
      val df = Seq((Seq(1.0, 2.0, 2.0), Seq(2.0, 0.0, 1.0))).toDF("a", "b")
      // dotNative/dist2 must self-register into the active session
      // instead of failing at analysis.
      val row = df.select(
        VectorOps.dotNative(col("a"), col("b")).as("dot"),
        graft.functions.Ivf.dist2(col("a"), col("b")).as("d2")).collect()(0)
      assert(row.getAs[Double]("dot") === 4.0)
      assert(row.getAs[Double]("d2") === (1.0 + 4.0 + 1.0))
    } finally prior.foreach(SparkSession.setActiveSession)
  }

  test("cosine of a vector with itself is 1") {
    val e = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>").as("v")).limit(20)
    val bad = e.filter(abs(VectorOps.cosine(col("v"), col("v")) - 1.0) > 1e-9).count()
    assert(bad === 0)
  }

  test("l3 brute-force top-k: similarities are within [-10000, 10000] and sorted") {
    val rows = LlmQueries.l3.fn(spark, sf).collect()
    assert(rows.length === 10)
    val sims = rows.map(_.getAs[Long]("sim_e4"))
    assert(sims.forall(s => s >= -10000 && s <= 10000))
    assert(sims.sameElements(sims.sorted.reverse))
  }

  test("l12 ANN candidates report exact cosine values (subset of brute force ranking)") {
    val ann = LlmQueries.l12.fn(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("sim_e4")).toMap
    assert(ann.nonEmpty)
    // Recompute each returned similarity exactly, brute-force.
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val exact = e.filter(col("vec_id").isin(ann.keys.toSeq: _*))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(lit(10000) * VectorOps.cosine(col("v"), col("qv"))).cast("long").as("sim_e4"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("sim_e4")).toMap
    assert(ann === exact)
  }

  test("media synthesize/decode is deterministic and in range") {
    val a = Multimodal.decodeStub(Multimodal.synthesize(Tables.documents(spark, sf)))
      .collect().sortBy(_.doc_id)
    val b = Multimodal.decodeStub(Multimodal.synthesize(Tables.documents(spark, sf)))
      .collect().sortBy(_.doc_id)
    assert(a.toSeq === b.toSeq)
    assert(a.forall(m => m.width >= 0 && m.width <= 0xFFFF))
    assert(a.forall(m => m.n_frames >= 1 && m.n_frames <= 15))
    assert(a.forall(m => m.sampled_frames.nonEmpty &&
      m.sampled_frames.size <= m.n_frames))
  }

  test("media resize fits the bounding box and preserves aspect ratio") {
    val meta = Multimodal.decodeStub(Multimodal.synthesize(Tables.documents(spark, sf)))
    val resized = Multimodal.resize(meta, 256).collect()
    assert(resized.forall(m => m.width <= 256 && m.height <= 256))
    val orig = meta.collect().map(m => m.doc_id -> m).toMap
    resized.filter(m => math.max(orig(m.doc_id).width, orig(m.doc_id).height) > 256)
      .foreach { m =>
        val o = orig(m.doc_id)
        // Long side lands exactly on the box; short side is exact scaling
        // within rounding (±0.5 px — relative ratio checks explode for
        // degenerate aspect ratios where the short side is a few px).
        val scale = 256.0 / math.max(o.width, o.height)
        assert(math.max(m.width, m.height) === 256)
        val (shortAfter, shortExpected) =
          if (o.width >= o.height) (m.height, o.height * scale)
          else (m.width, o.width * scale)
        // Contract: rounded exact scaling, clamped to at least 1 px.
        assert(shortAfter === math.max(1L, math.round(shortExpected)).toInt,
          s"short-side drift for ${m.doc_id}: $shortExpected -> $shortAfter")
      }
  }

  test("media feature extraction yields a normalized histogram per payload") {
    val feats = Multimodal.extractFeatures(
      Multimodal.synthesize(Tables.documents(spark, sf)), bins = 16).collect()
    assert(feats.nonEmpty)
    assert(feats.forall(_.histogram.size === 16))
    assert(feats.forall(f => math.abs(f.histogram.sum - 1.0) < 1e-9))
    assert(feats.forall(_.histogram.forall(v => v >= 0.0 && v <= 1.0)))
  }

  test("media payloads are 32-byte binaries keyed by doc_id") {
    val raw = Multimodal.synthesize(Tables.documents(spark, sf)).collect()
    assert(raw.forall(_.payload.length === 32))
    assert(raw.map(_.doc_id).distinct.length === raw.length)
  }

  test("fingerprint fold (l8) matches a reference JVM implementation on sample docs") {
    import spark.implicits._
    val sample = Tables.documents(spark, sf).select("text").as[String].limit(20).collect()
    def fpJvm(s: String): Long = s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    val sparkFp = sample.toIndexedSeq.toDF("text")
      .select(expr(
        """aggregate(transform(split(text, ''), c -> cast(ascii(c) as bigint)),
           cast(0 as bigint), (acc, x) -> (acc * 31 + x) % 1000000007)""").as("fp"))
      .as[Long].collect()
    assert(sparkFp.toSeq === sample.map(fpJvm).toSeq)
  }

  private def topgram(tokens: String*): Seq[Long] = {
    import spark.implicits._
    Seq(tokens).toDF("ta")
      .select(expr("graft_topgram_stats(ta)").as("tg"))
      .as[Seq[Long]].collect().head
  }

  test("graft_topgram_stats: counts and coverages on a hand-checked doc") {
    // "a b a b a b c": 2-grams = [a b, b a, a b, b a, a b, b c] →
    // top "a b" c=3, cov=3·3=9; 3-grams top "a b a" c=2 cov=10
    // (tie "b a b" also c=2 cov=10 → equal cov, same answer);
    // 4-grams "a b a b" c=2? ["a b a b","b a b a","a b a b"... ] —
    // windows: abab, baba, abab, bab c → "a b a b" c=2, cov=14
    assert(topgram("a", "b", "a", "b", "a", "b", "c") ===
      Seq(3L, 9L, 2L, 10L, 2L, 14L))
  }

  test("graft_topgram_stats: tie on count breaks to larger coverage") {
    // 2-grams of [xx yy xx yy] → "xx yy" c=1? windows: [xx yy, yy xx,
    // xx yy] → "xx yy" c=2 cov=2·5=10, "yy xx" c=1 — top (2, 10).
    // For a REAL tie: [aa b aa cc] → grams aa_b, b_aa, aa_cc all c=1;
    // coverage tie-break picks the longest ("aa cc", 5 chars)
    assert(topgram("aa", "b", "aa", "cc").take(2) === Seq(1L, 5L))
  }

  test("graft_topgram_stats: widths beyond the doc report zeros, never flag") {
    assert(topgram("only") === Seq(0L, 0L, 0L, 0L, 0L, 0L))
    assert(topgram("two", "words") === Seq(1L, 9L, 0L, 0L, 0L, 0L))
  }

  test("graft_topgram_stats: lengths are code points (Unicode parity with len/length)") {
    // 3-char CJK tokens: top 2-gram "你好 世界" = 5 code points, c=2
    assert(topgram("你好", "世界", "你好", "世界").take(2) === Seq(2L, 10L))
  }

  test("graft_topgram_stats participates in WholeStageCodegen and " +
      "type-checks its argument") {
    import spark.implicits._
    val df = Tables.documents(spark, sf)
      .select(split(lower(col("text")), "\\s+").as("ta"))
      .select(expr("graft_topgram_stats(ta)").as("tg"))
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("),
      "graft_topgram_stats fell out of codegen")
    val err = intercept[Exception](
      spark.range(1).select(expr("graft_topgram_stats(id)")).collect())
    assert(err.getMessage.toLowerCase.contains("graft_topgram_stats"))
    // interpreted eval (no codegen path) agrees with the codegen'd run:
    // a literal-folded projection evaluates interpreted at optimize time
    val folded = Seq(Seq("x", "y", "x", "y")).toDF("ta")
      .select(expr("graft_topgram_stats(array('x','y','x','y'))").as("a"),
        expr("graft_topgram_stats(ta)").as("b"))
      .as[(Seq[Long], Seq[Long])].collect().head
    assert(folded._1 === folded._2)
  }

  test("property: graft_topgram_stats equals a naive Scala recompute on random docs") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val word: Gen[String] = Gen.chooseNum(1, 3)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "cd", "éf")).map(_.mkString))
    val doc: Gen[List[String]] = Gen.chooseNum(0, 40).flatMap(Gen.listOfN(_, word))
    def naive(toks: List[String], g: Int): (Long, Long) = {
      val grams = toks.sliding(g).filter(_.size == g).map(_.mkString(" ")).toList
      if (grams.isEmpty) (0L, 0L)
      else grams.groupBy(identity).toList
        // toList first: mapping a Map with a pair function RE-KEYS by
        // count and silently collapses every same-count gram
        .map { case (s, occ) =>
          (occ.size.toLong, occ.size.toLong * s.codePointCount(0, s.length)) }
        .max
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(30).withWorkers(1),
      Prop.forAll(doc) { toks =>
        val got = Seq(toks).toDF("ta")
          .select(expr("graft_topgram_stats(ta)").as("tg"))
          .as[Seq[Long]].collect().head
        val want = Seq(2, 3, 4).flatMap { g =>
          val (c, cov) = naive(toks, g); Seq(c, cov)
        }
        got == want
      })
    assert(res.passed, res.toString)
  }

  test("graft_topgram_stats equals the exploded hash-agg recompute on real docs") {
    // the native row-local path against the shuffle formulation it
    // replaced, over the live corpus — the same cross-check shape the
    // DuckDB oracle runs at the gate
    import spark.implicits._
    val base = Tables.documents(spark, sf)
      .withColumn("ta", split(lower(col("text")), "\\s+"))
      .filter(size(col("ta")) >= 2)
    val native = base
      .select(col("doc_id"), expr("graft_topgram_stats(ta)").as("tg"))
      .select(col("doc_id"), col("tg").getItem(0).as("c2"),
        col("tg").getItem(1).as("cov2"), col("tg").getItem(5).as("cov4"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val exploded = base
      .select(col("doc_id"),
        explode(expr(
          """flatten(transform(filter(array(2, 4), n -> size(ta) >= n),
               n -> transform(sequence(0, size(ta) - n),
                 i -> struct(n AS n, concat_ws(' ', slice(ta, i + 1, n)) AS gram))))"""))
          .as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy("doc_id", "n", "gram").agg(count(lit(1)).as("c"))
      .withColumn("cov", col("c") * length(col("gram")).cast("long"))
      .groupBy("doc_id", "n")
      // true two-key lexicographic argmax (count, then coverage) — no
      // packed-integer bound; struct ordering is field-by-field
      .agg(expr("max_by(cov, struct(c, cov))").as("cov"),
        max("c").as("max_c"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(native.nonEmpty)
    for ((doc, (c2, cov2, cov4)) <- native) {
      assert(exploded((doc, 2)) === ((cov2, c2)), s"doc $doc width 2")
      exploded.get((doc, 4)).foreach { case (cov, _) =>
        assert(cov === cov4, s"doc $doc width 4") }
      if (!exploded.contains((doc, 4))) assert(cov4 === 0L, s"doc $doc width 4 empty")
    }
  }

  test("native graft_gram_hash64 is byte-identical to the transform/concat_ws form") {
    graft.functions.NativeTextExprs.ensureRegistered(spark)
    val dd = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .withColumn("ta", split(lower(col("text")), "\\s+"))
    // the gram widths the engine hashes, sketch shingles (3) and span
    // grams (15), plus one width between them
    for (k <- Seq(3, 5, 15)) {
      val hof = expr(s"CASE WHEN size(ta) >= $k THEN " +
        s"transform(sequence(0, size(ta) - $k), " +
        s"i -> xxhash64(concat_ws(' ', slice(ta, i + 1, $k)))) END")
      val diff = dd
        .filter(not(call_function("graft_gram_hash64", col("ta"), lit(k)) <=> hof))
        .count()
      assert(diff === 0, s"k=$k: native gram hashes diverge from the HOF form")
    }
    // the short-doc null contract: fewer than k tokens yields NULL,
    // exactly the rows the HOF form's size guard drops
    import spark.implicits._
    val short = Seq("one two").toDF("text")
      .withColumn("ta", split(lower(col("text")), "\\s+"))
    assert(short.select(call_function("graft_gram_hash64", col("ta"), lit(3)))
      .collect()(0).isNullAt(0))
  }

  test("native graft_grams is string-identical to the transform/concat_ws form") {
    graft.functions.NativeTextExprs.ensureRegistered(spark)
    val dd = Tables.documents(spark, sf).filter(col("text").isNotNull)
      .withColumn("ta", split(lower(col("text")), "\\s+"))
    for (k <- Seq(1, 3, 5, 8, 15)) {
      val hof = expr(s"CASE WHEN size(ta) >= $k THEN " +
        s"transform(sequence(0, size(ta) - $k), " +
        s"i -> concat_ws(' ', slice(ta, i + 1, $k))) END")
      val diff = dd
        .filter(not(call_function("graft_grams", col("ta"), lit(k)) <=> hof))
        .count()
      assert(diff === 0, s"k=$k: native gram strings diverge from the HOF form")
    }
  }
}
