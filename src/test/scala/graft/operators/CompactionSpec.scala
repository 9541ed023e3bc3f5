package graft.operators

import graft.{Session, Tables}
import graft.streaming.StreamingNearDup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Compaction]]'s contract through a LIVE release chain: after N
  * appends, compaction (a) preserves every artifact's row multiset
  * exactly — so compact ≡ rebuild ≡ append-chain for every probe,
  * trivially — (b) reduces the parquet file count (the fragmentation
  * it exists to undo), and (c) leaves the NEXT release's decisions
  * byte-identical to an uncompacted twin's. */
class CompactionSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  private val sf = "/root/testdata/sf0.001"

  private def docsAll = Tables.documents(spark, sf)
    .filter(col("text").isNotNull)
    .select("lang", "doc_id", "text")

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
    df.collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap

  test("compact after a release chain: row multisets unchanged, file " +
      "counts shrink, and the next release decides identically to an " +
      "uncompacted twin") {
    val base = tmp("graft_compact")
    val twin = tmp("graft_compact_twin")
    val corpus = docsAll.filter(col("doc_id") % 3 === 0)
    ReleaseFlow.init(corpus, base)
    ReleaseFlow.init(corpus, twin)
    // a chain of releases fragments every artifact (each appends its
    // own file set); three disjoint NON-corpus slices (corpus holds
    // %3==0, i.e. %9 ∈ {0,3,6}; slice k takes %9 ∈ {3k−2, 3k−1}),
    // offset ids — and each must actually admit, or the chain pins
    // nothing
    val off = 1000000L
    for (k <- 1 to 3) {
      val shard = docsAll.filter(col("doc_id") % 9 === lit(3 * k - 2) ||
          col("doc_id") % 9 === lit(3 * k - 1))
        .select(col("lang"), (col("doc_id") + lit(k * off)).as("doc_id"),
          col("text"))
      val d = ReleaseFlow.release(spark, shard, base)
      assert(!d.filter(col("decision") === "admit").isEmpty,
        s"chain release $k must append rows for the contract to bite")
      ReleaseFlow.release(spark, shard, twin)
    }
    val dirs = Seq(
      s"${ReleaseFlow.dedupDir(base)}/content_hashes",
      s"${ReleaseFlow.substrDir(base)}/span_grams",
      s"${ReleaseFlow.neardupDir(base)}/sketch",
      s"${ReleaseFlow.neardupDir(base)}/bands")
    val beforeFiles = dirs.map(d => d -> Compaction.fileCount(spark, d)).toMap
    val beforeRows = Map(
      "dedup" -> rowsOf(DedupIndex.read(spark, ReleaseFlow.dedupDir(base))),
      "substr" -> rowsOf(SubstringIndex.read(spark, ReleaseFlow.substrDir(base))),
      "bands" -> rowsOf(StreamingNearDup
        .readIndex(spark, ReleaseFlow.neardupDir(base)).bands))

    ReleaseFlow.compact(spark, base)

    assert(rowsOf(DedupIndex.read(spark, ReleaseFlow.dedupDir(base))) ===
      beforeRows("dedup"), "dedup row multiset")
    assert(rowsOf(SubstringIndex.read(spark, ReleaseFlow.substrDir(base))) ===
      beforeRows("substr"), "substring row multiset")
    assert(rowsOf(StreamingNearDup
      .readIndex(spark, ReleaseFlow.neardupDir(base)).bands) ===
      beforeRows("bands"), "band row multiset")
    dirs.foreach { d =>
      assert(Compaction.fileCount(spark, d) < beforeFiles(d),
        s"$d: compaction must reduce the file count " +
          s"(${beforeFiles(d)} before)")
    }

    // the probe semantics are untouched: release the SAME final shard
    // against the compacted base and the untouched twin — decisions
    // must agree row-for-row
    val shard4 = docsAll.filter(col("doc_id") % 3 === 1)
      .select(col("lang"), (col("doc_id") + lit(9 * off)).as("doc_id"),
        col("text"))
    def decisions(b: String) =
      ReleaseFlow.release(spark, shard4, b)
        .select("doc_id", "decision").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(decisions(base) === decisions(twin),
      "post-compaction decisions must equal the uncompacted twin's")
  }

  test("reader-atomic swap: a frame resolved BEFORE a compaction still " +
      "collects after it (old rows, no error), new reads resolve the " +
      "pointer, and superseded trees are GC'd one generation behind") {
    val base = tmp("graft_compact_reader")
    val corpus = docsAll.filter(col("doc_id") % 4 === 0)
    DedupIndex.write(corpus, base)
    DedupIndex.append(
      docsAll.filter(col("doc_id") % 4 === 1)
        .select(col("lang"), (col("doc_id") + lit(1000000L)).as("doc_id"),
          col("text")), base)
    val expected = rowsOf(DedupIndex.read(spark, base))

    // reader 1 resolves the FLAT layout, then the first compaction
    // versions the artifact (flat → v1) under it
    val inFlight1 = DedupIndex.read(spark, base)
    DedupIndex.compact(spark, base)
    assert(rowsOf(inFlight1) === expected,
      "a reader across the first swap must still see its resolved tree")
    assert(rowsOf(DedupIndex.read(spark, base)) === expected,
      "the pointer-resolved read sees the same multiset")
    val dir = s"$base/content_hashes"
    assert(Compaction.currentVersion(spark, dir).contains(1))

    // reader 2 resolves v1; the second compaction flips to v2 and GCs
    // the flat generation — v1 must survive for the in-flight reader
    val inFlight2 = DedupIndex.read(spark, base)
    DedupIndex.compact(spark, base)
    assert(rowsOf(inFlight2) === expected,
      "a reader across the second swap must still see v1")
    assert(rowsOf(DedupIndex.read(spark, base)) === expected)
    assert(Compaction.currentVersion(spark, dir).contains(2))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).toSet
    assert(!entries.exists(_.endsWith(".parquet")),
      s"the flat generation must be GC'd two flips in ($entries)")
    assert(entries.contains("v1") && entries.contains("v2"),
      s"live + one superseded tree must remain ($entries)")

    // appends land in the LIVE tree and the next compact folds them in
    DedupIndex.append(
      docsAll.filter(col("doc_id") % 4 === 2)
        .select(col("lang"), (col("doc_id") + lit(2000000L)).as("doc_id"),
          col("text")), base)
    val expected3 = rowsOf(DedupIndex.read(spark, base))
    assert(expected3.size > expected.size)
    DedupIndex.compact(spark, base)
    assert(rowsOf(DedupIndex.read(spark, base)) === expected3,
      "post-append compact keeps the appended rows")
    assert(Compaction.currentVersion(spark, dir).contains(3))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v1")),
      "v1 is two generations old after the third flip — GC'd")
  }

  /** (path → (length, mtime)) for every parquet file anywhere under
    * `dir` — all trees, live or superseded. */
  private def stampsUnder(dir: String): Map[String, (Long, Long)] = {
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

  test("scoped retract inside a VERSIONED tree: published as a " +
      "manifest-bearing next version — no pre-retract file is moved, " +
      "mutated or deleted (an in-flight reader keeps its rows across " +
      "the swap), untouched files stay in the live set at their old " +
      "paths, and the live multiset = complement") {
    val base = tmp("graft_scoped_in_v")
    val corpus = docsAll.filter(col("doc_id") % 2 === 0)
    DedupIndex.write(corpus, base)
    DedupIndex.compact(spark, base) // flat → v1
    // appends land INSIDE the live v1 tree as their own file set —
    // the composition a release chain produces after a compaction
    val appended = docsAll.filter(col("doc_id") % 2 =!= 0)
      .select(col("lang"), (col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text"))
    DedupIndex.append(appended, base)
    val corpusAll = corpus.unionByName(appended)
    val dir = s"$base/content_hashes"
    assert(Compaction.currentVersion(spark, dir).contains(1))
    val preRetract = rowsOf(DedupIndex.read(spark, base))
    val before = stampsUnder(dir)
    val liveBefore = Compaction.liveFilesRelative(spark, dir).toSet
    assert(liveBefore.size > 1, s"fixture needs >1 file, got $liveBefore")
    // one doc's hash row lives in one file — the scoped path must
    // rewrite only that file's complement into the next version
    val victim = appended.select("doc_id").orderBy("doc_id").limit(1)
      .localCheckpoint()
    val expected = rowsOf(DedupIndex.build(
      corpusAll.join(victim, Seq("doc_id"), "left_anti")))
    // reader 1 resolves the pre-retract live set
    val inFlight = DedupIndex.read(spark, base)
    DedupIndex.retract(spark, victim, base)
    assert(Compaction.currentVersion(spark, dir).contains(2),
      "a scoped retract publishes as the next version")
    assert(rowsOf(DedupIndex.read(spark, base)) === expected,
      "retract ≡ complement rebuild inside the versioned tree")
    assert(rowsOf(inFlight) === preRetract,
      "an in-flight reader across the scoped swap keeps its resolved rows")
    // reader-atomicity's physical premise: NOTHING the pre-retract
    // LIVE SET referenced was moved, mutated, or deleted (older
    // unreferenced generations remain ordinary GC territory)
    val after = stampsUnder(dir)
    val liveStamps = before.filter { case (p, _) =>
      liveBefore.exists(rel => p.endsWith(s"/$rel")) }
    assert(liveStamps.size === liveBefore.size, "stamp/live-set join sanity")
    assert(liveStamps.forall { case (p, s) => after.get(p).contains(s) },
      "every pre-retract live file must survive with identical bytes and mtime")
    // live set: exactly one old entry dropped (the touched file), the
    // survivors referenced at their ORIGINAL paths, rewrites under v2
    val liveAfter = Compaction.liveFilesRelative(spark, dir).toSet
    val dropped = liveBefore -- liveAfter
    assert(dropped.size === 1,
      s"exactly the touched file leaves the live set ($dropped)")
    assert((liveAfter -- liveBefore).forall(_.startsWith("v2/")),
      s"rewritten files live in the new version tree ($liveAfter)")
    assert((liveAfter & liveBefore) === liveBefore -- dropped,
      "untouched files stay in the live set at their old paths")
  }

  test("scoped-retract crash recovery: a partial staging tree from a " +
      "crashed attempt is cleared by the retry, which then publishes " +
      "correctly — no window ever loses kept rows") {
    val base = tmp("graft_scoped_crash")
    val corpus = docsAll.filter(col("doc_id") % 2 === 0)
    DedupIndex.write(corpus, base)
    DedupIndex.compact(spark, base) // flat → v1
    val appended = docsAll.filter(col("doc_id") % 2 =!= 0)
      .select(col("lang"), (col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text"))
    DedupIndex.append(appended, base)
    val corpusAll = corpus.unionByName(appended)
    val dir = s"$base/content_hashes"
    val preCrash = rowsOf(DedupIndex.read(spark, base))
    // simulate the crash: a prior scoped retract died AFTER writing
    // part of its staging tree (v2) but BEFORE the pointer flip — the
    // round-16 layout lost rows here (touched files were already
    // deleted); the manifest design must leave the artifact fully live
    val junk = new java.io.File(s"$dir/v2")
    junk.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/v2/part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(rowsOf(DedupIndex.read(spark, base)) === preCrash,
      "a crashed staging tree must not affect the live read")
    assert(Compaction.fileCount(spark, dir) > 0,
      "crashed staging debris must not count as live files")
    // the retry: same retract — must clear the junk and publish v2
    val victim = appended.select("doc_id").orderBy("doc_id").limit(1)
      .localCheckpoint()
    val expected = rowsOf(DedupIndex.build(
      corpusAll.join(victim, Seq("doc_id"), "left_anti")))
    DedupIndex.retract(spark, victim, base)
    assert(Compaction.currentVersion(spark, dir).contains(2))
    assert(rowsOf(DedupIndex.read(spark, base)) === expected,
      "the retry must retract correctly after a crashed attempt")
    assert(!new java.io.File(s"$dir/v2/part-junk.parquet").exists(),
      "the crashed attempt's debris is cleared by the retry")
    // and a retract of ids that are ALREADY gone is a no-op, not a
    // data-loss path (the round-16 crash mode turned this into one)
    DedupIndex.retract(spark, victim, base)
    assert(rowsOf(DedupIndex.read(spark, base)) === expected)
  }

  test("append after a scoped retract extends the manifest (rows visible " +
      "to readLive), and the next compaction folds the chain into a " +
      "self-contained tree whose GC releases the referenced history") {
    val base = tmp("graft_manifest_chain")
    val halfA = docsAll.filter(col("doc_id") % 2 === 0)
    val halfB = docsAll.filter(col("doc_id") % 2 =!= 0)
      .select(col("lang"), (col("doc_id") + lit(2000000L)).as("doc_id"),
        col("text"))
    DedupIndex.write(halfA, base) // flat layout…
    DedupIndex.append(halfB, base) // …with >1 file, so the retract scopes
    val corpus = halfA.unionByName(halfB)
    val dir = s"$base/content_hashes"
    assert(Compaction.fileCount(spark, dir) > 1, "fixture needs >1 file")
    // scoped retract straight off the FLAT layout: publishes v1 whose
    // manifest references the surviving flat files
    val victim = halfB.select("doc_id").orderBy("doc_id").limit(1)
      .localCheckpoint()
    val liveBefore = Compaction.liveFilesRelative(spark, dir).toSet
    DedupIndex.retract(spark, victim, base)
    assert(Compaction.currentVersion(spark, dir).contains(1))
    val dropped = liveBefore -- Compaction.liveFilesRelative(spark, dir).toSet
    assert(dropped.size === 1, s"one touched flat file leaves the live set ($dropped)")
    def onDisk(rel: String) = new java.io.File(s"$dir/$rel").isFile
    assert(dropped.forall(onDisk),
      "the touched file stays on disk while the flat generation is retained")
    val afterRetract = rowsOf(DedupIndex.read(spark, base))
    assert(afterRetract === rowsOf(DedupIndex.build(
      corpus.join(victim, Seq("doc_id"), "left_anti"))))
    // the manifest references the flat generation — GC must keep it
    // even though a version pointer now exists
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rootParquets() = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).count(_.endsWith(".parquet"))
    assert(rootParquets() > 0, "referenced flat files must survive GC")
    // append INTO the manifest-bearing tree: rows must be visible
    val appended = docsAll.filter(col("doc_id") % 2 =!= 0)
      .select(col("lang"), (col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text"))
    DedupIndex.append(appended, base)
    val wantAll = rowsOf(DedupIndex.build(
      corpus.join(victim, Seq("doc_id"), "left_anti")
        .unionByName(appended)))
    assert(rowsOf(DedupIndex.read(spark, base)) === wantAll,
      "appended rows must enter the manifest-planned live set")
    // compact: self-contained v2; the v1 manifest still pins flat
    // (v1 is retained at keep=2 and references it)
    DedupIndex.compact(spark, base)
    assert(Compaction.currentVersion(spark, dir).contains(2))
    assert(rowsOf(DedupIndex.read(spark, base)) === wantAll)
    assert(rootParquets() > 0,
      "flat stays while the retained v1 manifest references it")
    // …but the RECALLED bytes are reclaimed: the touched flat file is
    // now outside every retained generation's live set (the flat
    // generation itself rotated out at cur = 2), so the compact's
    // prune orphan-GCs it while the still-referenced survivor keeps
    // its bytes
    assert(dropped.forall(!onDisk(_)),
      "the retracted file's bytes are reclaimed once no retained " +
        s"generation references it ($dropped)")
    assert((liveBefore -- dropped).forall(onDisk),
      "flat survivors referenced by the retained v1 manifest keep their bytes")
    // one more compaction retires v1 — nothing references flat now
    DedupIndex.compact(spark, base)
    assert(Compaction.currentVersion(spark, dir).contains(3))
    assert(rowsOf(DedupIndex.read(spark, base)) === wantAll)
    assert(rootParquets() === 0,
      "unreferenced flat generation is GC'd once its referencer retires")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v1")),
      "the manifest-bearing v1 is two generations old — GC'd")
  }

  test("mid-batch pointer flip: a foreachBatch whose plan resolved the " +
      "artifact finishes on the OLD tree through a scoped retract (and " +
      "its auto-prune) landing inside the batch; a batch slow enough to " +
      "span TWO rewrites is exactly the keep=2 boundary — its tree is " +
      "GC'd and the read fails LOUDLY, never silently wrong") {
    val base = tmp("graft_midbatch")
    val corpusA = docsAll.filter(col("doc_id") % 4 === 0)
    val corpusB = docsAll.filter(col("doc_id") % 4 === 1)
      .select(col("lang"), (col("doc_id") + lit(1000000L)).as("doc_id"),
        col("text"))
    DedupIndex.write(corpusA, base)
    DedupIndex.append(corpusB, base) // >1 file so the retract scopes
    val dir = s"$base/content_hashes"
    val preRetract = rowsOf(DedupIndex.read(spark, base))
    val victim = corpusB.select("doc_id").orderBy("doc_id").limit(1)
      .localCheckpoint()
    val inDir = tmp("graft_midbatch_in")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(inDir, "f1.txt"), "tick".getBytes)
    val midRows = new java.util.concurrent.atomic.AtomicReference[Map[String, Int]]()
    val midErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val boundaryErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val boundaryRows = new java.util.concurrent.atomic.AtomicReference[Map[String, Int]]()
    val q = spark.readStream.format("text").load(inDir)
      .writeStream.option("checkpointLocation", s"$inDir/_ck")
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        // the microbatch resolves the artifact at PLAN time…
        val resolved = DedupIndex.read(spark, base)
        // …then a takedown flips _CURRENT (and auto-prunes) while the
        // batch is still executing
        DedupIndex.retract(spark, victim, base)
        try midRows.set(rowsOf(resolved))
        catch { case t: Throwable => midErr.set(t) }
        // the boundary: re-resolve, then land TWO quick compactions —
        // the re-resolved tree is now two generations old and keep=2
        // (each rewrite's auto-prune) deletes it under the batch
        val resolved2 = DedupIndex.read(spark, base)
        DedupIndex.compact(spark, base)
        DedupIndex.compact(spark, base)
        try boundaryRows.set(rowsOf(resolved2))
        catch { case t: Throwable => boundaryErr.set(t) }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(midErr.get() === null,
      s"one flip inside the batch must not break it: ${midErr.get()}")
    assert(midRows.get() === preRetract,
      "the in-flight plan finishes on the OLD tree — pre-retract rows")
    // keep=2 retains live + ONE superseded generation: one rewrite per
    // in-flight batch is inside the contract (above); two is exactly
    // outside it, and the failure mode must be a loud read error —
    // a deployment pacing rewrites faster than its slowest batch
    // raises pruneVersions' keep, it never gets silent wrong rows
    assert(boundaryRows.get() === null && boundaryErr.get() != null,
      s"two flips under one batch is past the keep=2 horizon and must " +
        s"fail loudly (got rows=${boundaryRows.get()})")
  }

  test("media lifecycle compaction: row multisets unchanged, file " +
      "counts shrink, decisions identical to an uncompacted twin") {
    val base = tmp("graft_compact_media")
    val twin = tmp("graft_compact_media_twin")
    val allm = docsAll
      .select(col("doc_id").cast("long").as("doc_id"),
        graft.functions.Multimodal.payloadCol(col("doc_id")).as("payload"))
    val corpus = allm.filter(col("doc_id") % 3 === 0)
    MediaReleaseFlow.init(corpus, base)
    MediaReleaseFlow.init(corpus, twin)
    val off = 1000000L
    for (k <- 1 to 3) {
      val shard = allm.filter(col("doc_id") % 3 === 1 &&
          col("doc_id") % 9 === lit(3 * (k - 1) + 1))
        .select((col("doc_id") + lit(k * off)).as("doc_id"), col("payload"))
      MediaReleaseFlow.release(spark, shard, base)
      MediaReleaseFlow.release(spark, shard, twin)
    }
    val bytesDir = s"${MediaReleaseFlow.bytehashDir(base)}/payload_hashes"
    val beforeFiles = Compaction.fileCount(spark, bytesDir)
    val beforeBytes = rowsOf(MediaReleaseFlow.readByteIndex(spark, base))

    MediaReleaseFlow.compact(spark, base)

    assert(rowsOf(MediaReleaseFlow.readByteIndex(spark, base)) === beforeBytes)
    assert(Compaction.fileCount(spark, bytesDir) < beforeFiles)
    val shard4 = allm.filter(col("doc_id") % 3 === 2)
      .select((col("doc_id") + lit(9 * off)).as("doc_id"), col("payload"))
    def decisions(b: String) =
      MediaReleaseFlow.release(spark, shard4, b)
        .select("doc_id", "decision").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(decisions(base) === decisions(twin))
  }
}
