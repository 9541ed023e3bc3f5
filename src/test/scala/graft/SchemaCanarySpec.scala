package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift canary. Round 10 lesson: the testdata was regenerated in
  * place mid-round and `events.ts` silently changed parquet layout
  * (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)) — 35 tests and 14 driver DQs
  * all failed with the same cryptic `DATATYPE_MISMATCH` analysis error,
  * none of which named the drifted column. This spec pins the engine's
  * expectation of every column of all 10 tables so the NEXT regeneration
  * fails here first, with `table.column: expected X, scanned Y`.
  *
  * Expectations are type-CLASS level where the contract genuinely admits
  * two layouts: wall-clock columns may scan as TIMESTAMP or
  * TIMESTAMP_NTZ (both normalize identically under the UTC session), and
  * `events.ts` additionally as BIGINT nanos (see [[Tables.events]]).
  */
class SchemaCanarySpec extends AnyFunSuite {
  private lazy val spark = Session.get()
  private val sfDir = "/root/testdata/sf0.001"

  /** Marker for "any wall-clock instant layout". */
  private val AnyTimestamp: DataType = TimestampType

  private def ok(expected: DataType, actual: DataType): Boolean =
    (expected, actual) match {
      case (TimestampType, TimestampType | TimestampNTZType) => true
      case (e, a)                                            => e == a
    }

  /** Expected SCANNED columns per raw table (events is checked through
    * its normalizing reader instead — that is the engine's contract). */
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> AnyTimestamp, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> AnyTimestamp),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
  )

  private def check(table: String, want: Seq[(String, DataType)],
      got: StructType): Unit = {
    val gotMap = got.fields.map(f => f.name -> f.dataType).toMap
    val drift = want.flatMap { case (col, exp) =>
      gotMap.get(col) match {
        case None => Some(s"$table.$col: MISSING (scanned: ${got.fieldNames.mkString(",")})")
        case Some(act) if !ok(exp, act) =>
          Some(s"$table.$col: expected ${exp.simpleString}, scanned ${act.simpleString}")
        case _ => None
      }
    }
    if (drift.nonEmpty) {
      // a drifted snapshot means the JVM-lifetime memos are stale too
      Tables.invalidateCaches()
      fail("schema drift detected — testdata was likely regenerated:\n  " +
        drift.mkString("\n  "))
    }
  }

  for ((table, want) <- expected.toSeq.sortBy(_._1))
    test(s"$table scans with the expected column types") {
      check(table, want, Tables.table(spark, sfDir, table).schema)
    }

  test("events normalizes to the engine contract (ts_us bigint + ts timestamp)") {
    // events is pinned on its NORMALIZED shape: whichever of the two
    // parquet layouts is on disk, downstream operators only ever see this.
    check("events", Seq("event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType, "ts_us" -> LongType, "ts" -> TimestampType),
      Tables.events(spark, sfDir).schema)
  }

  test("the canary message names the drifted column (fixture with a wrong type)") {
    val dir = java.nio.file.Files.createTempDirectory("canary").toString
    // a deliberately-drifted documents snapshot: n_chars became a string
    spark.range(3).selectExpr("id AS doc_id", "'t' AS text", "'en' AS lang",
        "'web' AS source", "CAST(id AS STRING) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[org.scalatest.exceptions.TestFailedException] {
      check("documents", expected("documents"),
        Tables.table(spark, dir, "documents").schema)
    }
    assert(e.getMessage.contains("documents.n_chars"),
      s"drift message must name the column: ${e.getMessage}")
    assert(e.getMessage.contains("expected bigint"))
  }

  test("invalidateCaches makes a rewritten-in-place snapshot re-infer") {
    val dir = java.nio.file.Files.createTempDirectory("canary2").toString
    val path = s"$dir/documents.parquet"
    // 20 distinct words per doc, so the shared span-gram frame has rows
    val text = "concat_ws(' ', transform(sequence(1, 20), " +
      "i -> concat('w', id, '_', i))) AS text"
    spark.range(3).selectExpr("id AS doc_id", text, "'en' AS lang",
        "'web' AS source", "id AS n_chars")
      .write.mode("overwrite").parquet(path)
    assert(Tables.table(spark, dir, "documents").schema("n_chars").dataType == LongType)
    assert(Tables.rowCount(spark, dir, "documents") == 3L)
    def grams() = operators.SamplingQueries.sharedPlantedGrams(spark, dir)
    val gramsBefore = grams().count()
    // in-place rewrite (exactly what the driver did in round 10)
    spark.range(5).selectExpr("id AS doc_id", text, "'en' AS lang",
        "'web' AS source", "CAST(id AS STRING) AS n_chars")
      .write.mode("overwrite").parquet(path)
    // memoized: still the OLD schema, count and shared frame by design…
    assert(Tables.table(spark, dir, "documents").schema("n_chars").dataType == LongType)
    assert(Tables.rowCount(spark, dir, "documents") == 3L)
    assert(grams().count() == gramsBefore)
    // …until every memo layer is dropped in one call
    Tables.invalidateCaches()
    assert(Tables.table(spark, dir, "documents").schema("n_chars").dataType == StringType)
    assert(Tables.rowCount(spark, dir, "documents") == 5L)
    val rebuilt = operators.SamplingQueries.spanGrams(
      operators.LlmQueries.plantedFull(Tables.documents(spark, dir)),
      operators.SamplingQueries.SpanK, hashed = false).count()
    assert(rebuilt > gramsBefore)
    assert(grams().count() == rebuilt,
      "the shared frame still holds the rows of the rewritten snapshot")
  }
}
