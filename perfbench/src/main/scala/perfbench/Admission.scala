package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import graft.operators.ReleaseFlow
import graft.streaming.{AdmissionPipeline, StreamingDecontam}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Seeded synthetic documents: words drawn from a fixed made-up
  * vocabulary, so two independent documents share no 15-token span and
  * almost no 5-gram, and every planted overlap is the only one. Real
  * text shares far more n-grams, so the near-dup, substring and winnow
  * joins here are emptier than on a real corpus. */
object Docs {
  val Vocab: IndexedSeq[String] = {
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po",
      "da", "fe", "gu", "hi", "ja")
    for (a <- syl; b <- syl; c <- Seq("", "n", "r")) yield a + b + c
  }

  /** `n` words starting at a seeded point. */
  def words(rng: scala.util.Random, n: Int): IndexedSeq[String] =
    IndexedSeq.fill(n)(Vocab(rng.nextInt(Vocab.size)))

  /** A document of 25–80 words: about a fifth fall under the quality
    * rule's 200-character floor. */
  def text(rng: scala.util.Random): String = words(rng, 25 + rng.nextInt(56)).mkString(" ")
}

/** The `admission` workload: the release artifacts built by
  * [[ReleaseFlow.init]] over a seeded corpus slice, a holdout gram index,
  * and a stream of JSON microbatch files with planted documents for each
  * decision arm, drained through [[AdmissionPipeline.startLive]] with all
  * four live indexes. */
object Admission {
  // Corpus, holdout and batch sizes and the planted share are chosen,
  // not measured.
  val CorpusDocs = 600
  val HoldoutDocs = 40
  val BatchDocs = 100
  val PlantsPerArm = 2
  val WarmupBatches = 1
  /** Microbatches in the timed window, about 20 s at local[4] on a
    * 4-core box. */
  val MeasuredBatches = 4
  /** Input builds per run; `setup_s` takes their median. */
  val SetupReps = 3
  private implicit val formats: Formats = DefaultFormats

  /** A stream document and the decision the benchmark expects for it:
    * a reason, `"any"` for a novel document (exactly one decision of
    * any reason), or `"none"` for an in-watermark byte copy. */
  final case class Doc(id: Long, text: String, batch: Int, expect: String)

  final case class Setup(base: String, corpus: Seq[(Long, String)],
      holdout: Seq[String], batches: IndexedSeq[Seq[Doc]])

  def plan(seed: Long): Setup = {
    val rng = new scala.util.Random(seed)
    val corpus = (0 until CorpusDocs).map(i => i.toLong -> Docs.text(rng))
    val holdout = Seq.fill(HoldoutDocs)(Docs.text(rng))
    var nextId = 1000000L
    def id(): Long = { nextId += 1; nextId }
    val batches = mutable.ArrayBuffer[Seq[Doc]]()
    // copies of corpus documents are drawn without replacement: a second
    // copy of the same bytes would be an in-stream copy, not a plant
    val unused = rng.shuffle(corpus.indices.toList).iterator
    for (b <- 0 until WarmupBatches + MeasuredBatches) {
      def corpusDoc() = corpus(unused.next())._2.split(" ")
      val plants = (0 until PlantsPerArm).flatMap { _ =>
        val near = corpusDoc()
        val nearText = near.zipWithIndex
          .map { case (w, i) => if (i % 3 == 0) w + " " else w }.mkString(" ")
        val src = corpus(rng.nextInt(corpus.size))._2.split(" ")
        val at = rng.nextInt(src.length - 15)
        val lift = (Docs.words(rng, 20) ++ src.slice(at, at + 16) ++ Docs.words(rng, 20))
        val h = holdout(rng.nextInt(holdout.size)).split(" ")
        val hat = rng.nextInt(h.length - 7)
        val leak = Docs.words(rng, 20) ++ h.slice(hat, hat + 8) ++ Docs.words(rng, 20)
        Seq(Doc(id(), nearText, b, "near_duplicate"),
          Doc(id(), lift.mkString(" "), b, "verbatim_repeat"),
          Doc(id(), corpusDoc().mkString(" "), b, "corpus_duplicate"),
          Doc(id(), leak.mkString(" "), b, "contaminated"))
      }
      // byte copies of novel documents from the previous batch: the
      // stream's watermark state drops them before any decision
      val copies =
        if (b == 0) Nil
        else batches(b - 1).filter(_.expect == "any").take(PlantsPerArm)
          .map(d => Doc(id(), d.text, b, "none"))
      val novel = Seq.fill(BatchDocs - plants.size - copies.size)(
        Doc(id(), Docs.text(rng), b, "any"))
      batches += rng.shuffle(plants ++ copies ++ novel)
    }
    Setup("", corpus, holdout, batches.toIndexedSeq)
  }

  private def docsFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text").withColumn("lang", lit("en"))
  }

  /** Build the artifact set and the holdout index, and write every batch
    * file to staging. */
  def setup(spark: SparkSession, seed: Long, dir: String): Setup = {
    val s = plan(seed)
    ReleaseFlow.init(docsFrame(spark, s.corpus), s"$dir/artifacts")
    StreamingDecontam.writeIndex(StreamingDecontam.buildIndex(
      docsFrame(spark, s.holdout.zipWithIndex.map { case (t, i) => (-1L - i, t) })),
      s"$dir/holdout")
    new File(s"$dir/staging").mkdirs()
    for ((docs, b) <- s.batches.zipWithIndex) {
      val w = new PrintWriter(new File(f"$dir/staging/batch-$b%05d.json"), "UTF-8")
      val ts = java.time.Instant.ofEpochSecond(1767225600L + b)
      try docs.foreach(d =>
        w.println(Serialization.write(Map("doc_id" -> d.id, "text" -> d.text,
          "ts" -> ts.toString))))
      finally w.close()
    }
    s.copy(base = dir)
  }

  val IndexDirs: Seq[(String, String => String)] = Seq(
    "DedupIndex" -> ReleaseFlow.dedupDir, "StreamingNearDup" -> ReleaseFlow.neardupDir,
    "SubstringIndex" -> ReleaseFlow.substrDir, "WinnowIndex" -> ReleaseFlow.winnowDir)

  /** Decisions per document against the plan; the batches (operations)
    * holding a document with a wrong outcome. */
  def check(spark: SparkSession, s: Setup, nDone: Int): (Set[Int], Map[String, Long], Seq[String]) = {
    val rows = spark.read.parquet(s"${s.base}/out/decisions").select("doc_id", "reason")
      .collect().toSeq.map(r => r.getLong(0) -> r.getString(1))
    val byDoc = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val docs = s.batches.take(nDone).flatten
    val bad = mutable.Set[Int]()
    val findings = mutable.ArrayBuffer[String]()
    for (d <- docs) {
      val got = byDoc.getOrElse(d.id, Nil)
      val ok = d.expect match {
        case "none" => got.isEmpty
        case "any"  => got.size == 1
        case r      => got == Seq(r)
      }
      if (!ok) {
        bad += d.batch
        if (findings.size < 20)
          findings += s"doc ${d.id} (batch ${d.batch}): expected ${d.expect}, got ${got.mkString(",")}"
      }
    }
    val known = docs.map(_.id).toSet
    val stray = byDoc.keySet -- known
    if (stray.nonEmpty) findings += s"${stray.size} decisions for documents never sent"
    (bad.toSet, rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap, findings.toSeq)
  }
}

/** Runs the `admission` workload: set up, warm up, feed a fixed number
  * of microbatches one at a time, then check the decisions and list the
  * indexes. */
object AdmissionRun {
  import Admission._

  def apply(spark: SparkSession, work: String, seed: Long,
      trace: Option[Trace]): Map[String, Any] = {
    val setups = (1 to SetupReps).map { i =>
      val dir = s"$work/setup$i"
      Host.deleteRecursively(new File(dir))
      val t0 = System.nanoTime()
      val s = setup(spark, seed, dir)
      ((System.nanoTime() - t0) / 1e9, s)
    }
    val s = setups.last._2
    val dir = s.base
    val art = s"$dir/artifacts"
    new File(s"$dir/in").mkdirs()
    // Closed loop: the next file is fed once the stream has drained the
    // last one, so an idle trigger between files would only run the
    // watermark's no-data batch, which a steadily fed stream never sees.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val stream = spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1).json(s"$dir/in")
    val q = AdmissionPipeline.startLive(spark, stream, ReleaseFlow.neardupDir(art),
      StreamingDecontam.readIndex(spark, s"$dir/holdout"), s"$dir/out", "ts", "10 minutes",
      substrIndexDir = Some(ReleaseFlow.substrDir(art)),
      winnowIndexDir = Some(ReleaseFlow.winnowDir(art)),
      exactHashDir = Some(ReleaseFlow.dedupDir(art)))
    var fed = 0
    def feed(): Double = {
      val t0 = System.nanoTime()
      val src = new File(f"$dir/staging/batch-$fed%05d.json")
      if (!src.renameTo(new File(f"$dir/in/batch-$fed%05d.json")))
        throw new IllegalStateException(s"cannot feed $src")
      fed += 1
      q.processAllAvailable()
      (System.nanoTime() - t0) / 1e9
    }
    val warm = (0 until WarmupBatches).map(_ => feed()).sum
    val nWarmProgress = q.recentProgress.count(_.numInputRows > 0)
    trace.foreach(_.start())
    val t0 = System.nanoTime()
    (0 until MeasuredBatches).foreach(_ => feed())
    val wall = (System.nanoTime() - t0) / 1e9
    trace.foreach(_.stop())
    val progress = q.recentProgress.filter(_.numInputRows > 0).drop(nWarmProgress)
    q.stop()
    val heap = Host.retainedHeapMb()
    val (bad, reasons, findings) = check(spark, s, fed)
    val storage = IndexDirs.flatMap { case (name, f) =>
      val st = Host.dirStats(f(art))
      Seq(s"$name.files" -> st.files, s"$name.bytes" -> st.bytes)
    }.toMap
    Map(
      "setup_s" -> setups.map(_._1),
      "warmup_s" -> warm,
      "wall_s" -> wall,
      "items" -> s.batches.drop(WarmupBatches).map(_.size.toLong).sum,
      "op_s" -> progress.map(_.durationMs.get("triggerExecution").longValue() / 1000.0).toSeq,
      "attempted" -> MeasuredBatches,
      "failed_ops" -> bad.filter(_ >= WarmupBatches).toSeq.sorted,
      "retained_heap_mb" -> heap,
      "warmup_failed" -> bad.count(_ < WarmupBatches),
      "findings" -> findings,
      "counts" -> (reasons ++ Map(
        "suppressed_copies" -> s.batches.flatten.count(_.expect == "none").toLong)),
      "storage" -> storage)
  }
}
