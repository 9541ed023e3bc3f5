package graft

import java.nio.file.Files

import graft.functions.Multimodal
import graft.streaming.{MediaAdmission, StreamingMediaDedup}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Composed media admission: every gate in one decision pass, reasons
  * partition the batch, and the streaming form suppresses byte copies
  * while giving every corrupt row its own decision. */
class MediaAdmissionSpec extends AnyFunSuite {

  private lazy val spark = Session.get()

  private def payloadOf(id: Long): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"media:$id".getBytes("UTF-8"))

  private def headerOf(b: Array[Byte]): (Int, Int) =
    (((b(0) & 0xFF) << 8) | (b(1) & 0xFF), ((b(2) & 0xFF) << 8) | (b(3) & 0xFF))

  /** Deterministically pick fixture ids by CLASS from a fresh id range
    * (disjoint from the indexed corpus) — the spec derives its
    * fixtures from the same header math the gates use, so each class
    * is guaranteed non-empty whatever the hash values are. */
  private def idOfClass(from: Long,
      want: (Int, Int) => Boolean): Long =
    Iterator.iterate(from)(_ + 1)
      .find { id => val (w, h) = headerOf(payloadOf(id)); want(w, h) }
      .get

  private val corpusIds = (100L to 119L).toSeq

  private def corpusMedia = {
    import spark.implicits._
    corpusIds.toDF("doc_id").select(col("doc_id"),
      Multimodal.payloadCol(col("doc_id")).as("payload"))
  }

  private def small(w: Int, h: Int) = w < 4096 || h < 4096
  private def extreme(w: Int, h: Int) =
    math.max(w, h).toLong > 4L * math.min(w, h)

  test("decide: one pass assigns every class its reason with the " +
      "documented precedence, and nothing throws on corrupt rows") {
    import spark.implicits._
    val gates = MediaAdmission.Gates(StreamingMediaDedup.buildIndex(corpusMedia))
    val idSmall = idOfClass(500L, (w, h) => small(w, h) && !extreme(w, h))
    val idExtreme = idOfClass(500L, (w, h) => extreme(w, h) && !small(w, h))
    val idGood = idOfClass(500L, (w, h) => !small(w, h) && !extreme(w, h))
    val dupPayload = (0x7F.toByte) +: payloadOf(107L).drop(1)

    val batch = Seq(
      (1L, Some(dupPayload)),            // re-encode of indexed media
      (2L, Some(payloadOf(idSmall))),    // decodes under the size floor
      (3L, Some(payloadOf(idExtreme))),  // decodes past the aspect bound
      (4L, Some(payloadOf(idGood))),     // clean
      (5L, None),                        // null payload
      (6L, Some(Array[Byte](1, 2, 3)))   // shorter than the header
    ).toDF("doc_id", "payload")
    val got = MediaAdmission.decide(batch, gates).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(got === Map(
      1L -> "media_duplicate", 2L -> "too_small", 3L -> "extreme_aspect",
      4L -> "admit", 5L -> "corrupt", 6L -> "corrupt"))
  }

  test("decide is replay-idempotent: an item ALREADY in the index under " +
      "its own id stays admit, while a different-id re-encode still flags") {
    import spark.implicits._
    val idGood = idOfClass(500L, (w, h) => !small(w, h) && !extreme(w, h))
    // the index already contains the batch's own item (the crash-replay
    // state: append landed before the streaming commit)
    val indexed = corpusMedia.unionByName(
      Seq((30L, payloadOf(idGood))).toDF("doc_id", "payload"))
    val gates = MediaAdmission.Gates(StreamingMediaDedup.buildIndex(indexed))
    val batch = Seq(
      (30L, payloadOf(idGood)),                         // replayed self
      // re-encode of corpus item 107 — an owner OUTSIDE the batch, so
      // the replay guard must not blind the screen to it
      (31L, (0x7F.toByte) +: payloadOf(107L).drop(1))
    ).toDF("doc_id", "payload")
    val got = MediaAdmission.decide(batch, gates).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(got === Map(30L -> "admit", 31L -> "media_duplicate"),
      s"replay must not flip its own admit: $got")
  }

  test("replay idempotence covers batch-MATE matches: two mutually-near " +
      "re-encodes admitted together re-admit together on replay; a " +
      "re-encode of an OUTSIDE corpus item still flags") {
    import spark.implicits._
    val idGood = idOfClass(500L, (w, h) => !small(w, h) && !extreme(w, h))
    val pA = payloadOf(idGood)
    val pB = (0x7F.toByte) +: pA.drop(1) // near re-encode of pA
    // the crash-replay state: BOTH mutually-near items were admitted in
    // the crashed attempt and their index rows survived
    val indexed = corpusMedia.unionByName(
      Seq((90L, pA), (91L, pB)).toDF("doc_id", "payload"))
    val gates = MediaAdmission.Gates(StreamingMediaDedup.buildIndex(indexed))
    val batch = Seq(
      (90L, pA),  // replayed — must see neither self nor 91
      (91L, pB),  // replayed — must see neither self nor 90
      // re-encode of corpus item 107 (owner OUTSIDE the batch)
      (92L, (0x7F.toByte) +: payloadOf(107L).drop(1))
    ).toDF("doc_id", "payload")
    val got = MediaAdmission.decide(batch, gates).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(got === Map(90L -> "admit", 91L -> "admit",
      92L -> "media_duplicate"),
      s"batch-mate index rows must not flip replayed admits: $got")
  }

  test("two same-id rows with different bytes each get their own " +
      "verdict (joins key on the payload hash, not doc_id)") {
    import spark.implicits._
    val gates = MediaAdmission.Gates(StreamingMediaDedup.buildIndex(corpusMedia))
    val idSmall = idOfClass(500L, (w, h) => small(w, h) && !extreme(w, h))
    val idGood = idOfClass(500L, (w, h) => !small(w, h) && !extreme(w, h))
    val batch = Seq(
      (42L, payloadOf(idSmall)),  // corrected upload #1: under the floor
      (42L, payloadOf(idGood))    // corrected upload #2: clean
    ).toDF("doc_id", "payload")
    val got = MediaAdmission.decide(batch, gates).collect()
      .map(_.getAs[String]("reason")).sorted.toSeq
    assert(got === Seq("admit", "too_small"),
      s"exactly one row per input with its OWN metadata verdict: $got")
  }

  test("streaming: byte-identical EMPTY payloads for different ids each " +
      "land their own corrupt decision (undecodables key by doc_id)") {
    import spark.implicits._
    val gates = MediaAdmission.Gates(StreamingMediaDedup.buildIndex(corpusMedia))
    val in = Files.createTempDirectory("graft_madm_empty_in_").toString
    val out = Files.createTempDirectory("graft_madm_empty_out_").toString
    Seq((70L, Array.empty[Byte], "2026-01-01T10:00:00Z"),
        (71L, Array.empty[Byte], "2026-01-01T10:00:01Z"))
      .toDF("doc_id", "payload", "ts_s")
      .select(col("doc_id"), col("payload"),
        col("ts_s").cast("timestamp").as("ts"))
      .write.mode("overwrite").parquet(in)
    val stream = spark.readStream
      .schema("doc_id LONG, payload BINARY, ts TIMESTAMP").parquet(in)
    val q = MediaAdmission.start(spark, stream, gates, out, "ts", "10 minutes")
    q.processAllAvailable(); q.stop()
    val got = spark.read.parquet(s"$out/decisions")
      .select("doc_id", "reason").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    assert(got === Map(70L -> "corrupt", 71L -> "corrupt"),
      s"both empty blobs must land (they share a byte hash): $got")
  }

  test("startLive: media admitted in batch 1 flags its re-encode in " +
      "batch 2 via the live index append") {
    import spark.implicits._
    val idxDir = Files.createTempDirectory("graft_madm_live_idx_").toString
    StreamingMediaDedup.write(corpusMedia, idxDir)
    val idGood = idOfClass(500L, (w, h) => !small(w, h) && !extreme(w, h))
    val in = Files.createTempDirectory("graft_madm_live_in_").toString
    val out = Files.createTempDirectory("graft_madm_live_out_").toString
    // batch 1: a novel clean item — admits, then appends to the index
    Seq((20L, payloadOf(idGood), "2026-01-01T10:00:00Z"))
      .toDF("doc_id", "payload", "ts_s")
      .select(col("doc_id"), col("payload"),
        col("ts_s").cast("timestamp").as("ts"))
      .write.mode("append").parquet(in)
    val stream = spark.readStream
      .schema("doc_id LONG, payload BINARY, ts TIMESTAMP").parquet(in)
    val q = MediaAdmission.startLive(spark, stream, idxDir, out,
      "ts", "10 minutes")
    q.processAllAvailable()
    // batch 2: a one-byte re-encode of batch 1's item — catchable ONLY
    // via the live append (the seeded index never saw idGood)
    val reenc = (0x7F.toByte) +: payloadOf(idGood).drop(1)
    Seq((21L, reenc, "2026-01-01T10:00:05Z"))
      .toDF("doc_id", "payload", "ts_s")
      .select(col("doc_id"), col("payload"),
        col("ts_s").cast("timestamp").as("ts"))
      .write.mode("append").parquet(in)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$out/decisions")
      .select("doc_id", "reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(20L -> "admit", 21L -> "media_duplicate"), got.toString)
    // and the admitted item's signature is now IN the persisted index
    val ids = StreamingMediaDedup.readIndex(spark, idxDir).sigs
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(20L), "live append must land the admitted item")
  }

  test("streaming: byte copies suppress within the watermark, distinct " +
      "corrupt rows each land, decisions partition by reason") {
    import spark.implicits._
    val gates = MediaAdmission.Gates(StreamingMediaDedup.buildIndex(corpusMedia))
    val idGood = idOfClass(500L, (w, h) => !small(w, h) && !extreme(w, h))
    val in = Files.createTempDirectory("graft_madm_in_").toString
    val out = Files.createTempDirectory("graft_madm_out_").toString
    Seq(
      (10L, Option(payloadOf(idGood)), "2026-01-01T10:00:00Z"),
      (11L, Option(payloadOf(idGood)), "2026-01-01T10:00:01Z"), // byte copy
      (12L, None: Option[Array[Byte]], "2026-01-01T10:00:02Z"),
      (13L, None: Option[Array[Byte]], "2026-01-01T10:00:03Z")
    ).toDF("doc_id", "payload", "ts_s")
      .select(col("doc_id"), col("payload"),
        col("ts_s").cast("timestamp").as("ts"))
      .write.mode("overwrite").parquet(in)

    val stream = spark.readStream
      .schema("doc_id LONG, payload BINARY, ts TIMESTAMP").parquet(in)
    val q = MediaAdmission.start(spark, stream, gates, out, "ts", "10 minutes")
    q.processAllAvailable(); q.stop()

    val dec = spark.read.parquet(s"$out/decisions")
    val rows = dec.select("doc_id", "reason").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("reason")).toMap
    // EXACTLY ONE of the byte-copy pair survived stream state (which
    // one is arbitrary inside a single microbatch — same key, no order
    // guarantee); both corrupt rows landed their own decisions
    // (doc_id-keyed null hash)
    val admitted = rows.filter(_._2 == "admit").keySet
    assert(admitted.size === 1 && admitted.subsetOf(Set(10L, 11L)),
      s"one of the byte copies must admit, got $rows")
    assert(rows.get(12L).contains("corrupt") && rows.get(13L).contains("corrupt"))
    assert(rows.size === 3)
    // the sink partitions by reason under the batch dir
    assert(dec.columns.contains("reason"))
  }
}
