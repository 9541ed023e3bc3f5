package graft.operators

import graft.Session
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The setup trick the round-15 gates lean on, pinned directly:
  * [[ReleaseQueries.InitMemo]]'s clone must be byte-equivalent to a
  * fresh init (r1/r2/c1 all mutate clones — a drifting clone would
  * desynchronize every lifecycle gate at once). */
class GateInitMemoSpec extends AnyFunSuite {

  private lazy val spark = Session.get()

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("InitMemo builds the master ONCE per key and every clone equals " +
      "a fresh init artifact-for-artifact") {
    import spark.implicits._
    val corpus = Seq(
      ("en", 1L, "the quick brown fox jumps over the lazy dog tonight"),
      ("en", 2L, "pack my box with five dozen liquor jugs right now"),
      ("de", 3L, "zwei boxkaempfer jagen viktor quer durch das grosse " +
        "sylter treibeis"))
      .toDF("lang", "doc_id", "text")
    // a synthetic memo key (a path string that is not a real source
    // dir) so this test cannot collide with the gates' own sf keys
    val key = tmp("graft_memo_key")
    val destA = tmp("graft_memo_a")
    val destB = tmp("graft_memo_b")
    val builds = new java.util.concurrent.atomic.AtomicInteger
    def build(m: String): Unit = {
      builds.incrementAndGet()
      ReleaseFlow.init(corpus, m)
    }
    ReleaseQueries.InitMemo.cloneInto(spark, key, destA)(build)
    ReleaseQueries.InitMemo.cloneInto(spark, key, destB)(build)
    assert(builds.get() === 1, "the master must build exactly once")
    // clone ≡ fresh init, artifact for artifact
    val fresh = tmp("graft_memo_fresh")
    ReleaseFlow.init(corpus, fresh)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    for ((name, read) <- Seq[(String,
        String => org.apache.spark.sql.DataFrame)](
      "dedup" -> (b => DedupIndex.read(spark, ReleaseFlow.dedupDir(b))),
      "substr" -> (b => SubstringIndex.read(spark, ReleaseFlow.substrDir(b))),
      "bands" -> (b => graft.streaming.StreamingNearDup
        .readIndex(spark, ReleaseFlow.neardupDir(b)).bands))) {
      assert(rows(read(destA)) === rows(read(fresh)), s"$name: clone A")
      assert(rows(read(destB)) === rows(read(fresh)), s"$name: clone B")
    }
    // a clone is INDEPENDENT state: appending to one must not leak
    // into the other (the gates mutate their clones)
    DedupIndex.append(corpus.select(col("lang"),
      (col("doc_id") + 100L).as("doc_id"), col("text")),
      ReleaseFlow.dedupDir(destA))
    assert(rows(DedupIndex.read(spark, ReleaseFlow.dedupDir(destB))) ===
      rows(DedupIndex.read(spark, ReleaseFlow.dedupDir(fresh))),
      "mutating clone A leaked into clone B")
  }
}
