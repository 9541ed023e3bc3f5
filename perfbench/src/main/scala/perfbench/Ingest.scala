package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import graft.Schemas.EntityDesc
import graft.sources.{Corruptions, Generator}
import graft.streaming.{IngestPipeline, KafkaShaped, Monitoring}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** The `ingest` workload: a seeded backlog of Kafka-shaped topic files
  * for the four entity topics, drained by one [[IngestPipeline]] stream
  * per topic (one file per microbatch, whole-table normalized upsert,
  * [[Monitoring]] attached), then checked record by record against what
  * the benchmark generated. */
object Ingest {

  /** Records per file per unit of scale: the reference's
    * events:orders:customers:products = 25:10:5:5 mix. */
  val Mix: Seq[(EntityDesc, Int)] = Seq(
    graft.Schemas.eventsDesc -> 25, graft.Schemas.ordersDesc -> 10,
    graft.Schemas.customersDesc -> 5, graft.Schemas.productsDesc -> 5)

  /** Records per file per unit of the mix. */
  val Scale = 8
  /** Share of every file after the first that re-sends a key already
    * produced, one version newer. Chosen, not measured. */
  val UpdateShare = 0.2
  /** Share of every file after the first that re-sends an earlier
    * record at its original (partition, offset). Chosen, not measured. */
  val RedeliverShare = 0.02
  val WarmupFiles = 1
  /** Files per topic the timed window drains: 5 files x 4 topic streams
    * give 20 pooled microbatches, so ten lie beyond the median. */
  val MeasuredFiles = 5
  /** Input builds per run; `setup_s` takes their median. */
  val SetupReps = 3
  private val Partitions = graft.Settings.Defaults.topicPartitions
  private implicit val formats: Formats = DefaultFormats

  /** One produced record. `valid` is the benchmark's own reading of the
    * validation rules. */
  final case class Rec(key: String, versionUs: Long, value: String, valid: Boolean)

  /** A record placed in a topic file at a broker position. */
  final case class Placed(file: Int, partition: Int, offset: Long, rec: Rec)

  final case class Backlog(files: Map[String, IndexedSeq[Seq[Placed]]])

  /** The restated validation rules, per topic, as SQL over the decoded
    * entity (the benchmark's expectation, independent of the program's
    * rule objects). */
  private val Invalid: Map[String, String] = Map(
    "products" -> ("name IS NULL OR trim(name) = '' OR category IS NULL OR " +
      "price IS NULL OR price < 0 OR stock_quantity IS NULL OR stock_quantity < 0"),
    "customers" -> ("name IS NULL OR email IS NULL OR " +
      "NOT (email RLIKE '^[^@]+@[^@]+\\\\.[^@]+$')"),
    "orders" -> ("customer_id IS NULL OR items IS NULL OR size(items) = 0 OR " +
      "status IS NULL OR status NOT IN ('pending','processing','shipped','delivered','cancelled') OR " +
      "total IS NULL OR total < 0"),
    "events" -> ("customer_id IS NULL OR event_type IS NULL OR " +
      "event_type NOT IN ('page_view','add_to_cart','purchase','signup','search')"))

  private def entities(spark: SparkSession, topic: String, n: Long,
      seed: Long): DataFrame = {
    val p = graft.Settings.Defaults.corruptionP(topic)
    // customers/products are referenced by orders/events; the pools are
    // fixed-size so every update still references a generated entity
    topic match {
      case "products"  => Corruptions.products(Generator.products(spark, n, seed), p, seed + 1)
      case "customers" => Corruptions.customers(Generator.customers(spark, n, seed), p, seed + 1)
      case "orders"    => Corruptions.orders(Generator.orders(spark, n, 500, 500, seed), p, seed + 1)
      case "events"    => Corruptions.events(Generator.events(spark, n, 500, seed), p, seed + 1)
    }
  }

  private val Kind: Map[String, String] = Map("products" -> "product",
    "customers" -> "customer", "orders" -> "order", "events" -> "event")

  /** Versions `0 until nVersions` of every key `0 until n`, indexed
    * `v * n + k`, from ONE generator frame of `n * nVersions` rows: row
    * `r` is version `r / n` of key `r % n`. Corruption is drawn per row
    * before the key is assigned, so a key's versions corrupt
    * independently; the topic's version column is a per-key base plus
    * `v` hours, so updates are strictly newer. */
  private def versions(spark: SparkSession, d: EntityDesc, n: Long, nVersions: Int,
      seed: Long): IndexedSeq[Rec] = {
    // one partition, so the row id is the generator's row index
    val g = entities(spark, d.topic, n * nVersions, seed).coalesce(1)
      .withColumn("_r", monotonically_increasing_id())
    val keyed = g.withColumn(d.pk, Generator.entityId(Kind(d.topic), col("_r") % n))
    val df = keyed.withColumn(d.versionCol, timestamp_micros(lit(1767225600000000L) +
        pmod(xxhash64(col(d.pk)), lit(1000000000000L)) +
        (col("_r") / n).cast("long") * lit(3600000000L)))
      .drop("_r")
    df.select(col(d.pk), unix_micros(col(d.versionCol)), KafkaShaped.valueJson(df),
        expr(Invalid(d.topic)))
      .collect().toIndexedSeq.map(r =>
        Rec(r.getString(0), r.getLong(1), r.getString(2), r.isNullAt(3) || !r.getBoolean(3)))
  }

  /** Plan and generate the backlog: per topic and file, new keys, a
    * share of version-bumped updates to keys from earlier files, and a
    * share of redelivered records that reuse an earlier (partition,
    * offset) with the same bytes. */
  def generate(spark: SparkSession, seed: Long, nFiles: Int): Backlog = {
    val files = Mix.map { case (d, w) =>
      val perFile = w * Scale
      val nKeys = perFile.toLong * nFiles
      val rng = new scala.util.Random(seed * 31 + d.topic.hashCode)
      // plan: (file, key index, version) and redeliveries
      val lastVersion = mutable.Map[Int, Int]()
      val plan = (0 until nFiles).map { f =>
        val nUpd = if (f == 0) 0 else (perFile * UpdateShare).toInt
        val fresh = (0 until perFile - nUpd).map(j => (f * perFile + j, 0))
        val upd = (0 until nUpd).map { _ =>
          val k = rng.nextInt(f * perFile)
          val v = lastVersion.getOrElse(k, 0) + 1
          lastVersion(k) = v
          (k, v)
        }.distinctBy(_._1)
        fresh ++ upd
      }
      val recs = versions(spark, d, nKeys, plan.flatten.map(_._2).max + 1, seed)
      val nextOffset = Array.fill(Partitions)(0L)
      val placed = mutable.ArrayBuffer[Seq[Placed]]()
      for (f <- 0 until nFiles) {
        val fresh = plan(f).map { case (k, v) => recs((v * nKeys + k).toInt) }.map { r =>
          val p = Math.floorMod(r.key.hashCode, Partitions)
          val o = nextOffset(p); nextOffset(p) += 1
          Placed(f, p, o, r)
        }
        val earlier = placed.flatten
        val nRe = if (f == 0) 0 else (perFile * RedeliverShare).ceil.toInt
        val re = (0 until nRe).map(_ => earlier(rng.nextInt(earlier.size)).copy(file = f))
          .distinctBy(p => (p.partition, p.offset))
        placed += (fresh ++ re)
      }
      d.topic -> placed.toIndexedSeq
    }.toMap
    Backlog(files)
  }

  /** Write each planned file as one JSONL topic file, in the frame
    * [[KafkaShaped.fileStream]] reads. File modification times increase
    * with the file index so the source takes them in order. */
  def writeFiles(b: Backlog, staging: String): Unit =
    for ((topic, files) <- b.files; (recs, f) <- files.zipWithIndex) {
      val dir = new File(s"$staging/$topic"); dir.mkdirs()
      val out = new File(dir, f"part-$f%05d.json")
      val w = new PrintWriter(out, "UTF-8")
      try recs.foreach { p =>
        val ts = java.time.Instant.ofEpochSecond(1767225600L + f)
        w.println(Serialization.write(Map("key" -> p.rec.key, "value" -> p.rec.value,
          "topic" -> topic, "partition" -> p.partition, "offset" -> p.offset,
          "timestamp" -> ts.toString)))
      } finally w.close()
      out.setLastModified(1767225600000L + f * 1000L)
    }

  final case class Round(seconds: Double, triggerMs: Seq[Long], records: Long)

  /** Move files `[from, until)` of every topic into the live topic dirs
    * and drain them: one stream per topic, started together. */
  def round(spark: SparkSession, b: Backlog, work: String, from: Int,
      until: Int): Round = {
    for ((topic, files) <- b.files; f <- from until until) {
      val src = new File(f"$work/staging/$topic/part-$f%05d.json")
      val dst = new File(f"$work/topics/$topic/part-$f%05d.json")
      dst.getParentFile.mkdirs()
      if (!src.renameTo(dst)) throw new IllegalStateException(s"cannot stage $src")
    }
    val t0 = System.nanoTime()
    val qs = Mix.map { case (d, _) =>
      IngestPipeline.start(spark, s"$work/topics/${d.topic}", sinks(work, d.topic),
        d.schema, d.pk, d.versionCol, d.rules, maxFilesPerTrigger = Some(1),
        moneyCols = d.moneyCols)
    }
    qs.foreach(_.awaitTermination())
    val sec = (System.nanoTime() - t0) / 1e9
    val progress = qs.flatMap(_.recentProgress).filter(_.numInputRows > 0)
    Round(sec, progress.map(_.durationMs.get("triggerExecution").longValue()),
      b.files.values.map(fs => (from until until).map(fs(_).size.toLong).sum).sum)
  }

  def sinks(work: String, topic: String): IngestPipeline.Sinks =
    IngestPipeline.Sinks(s"$work/sinks/$topic/raw", s"$work/sinks/$topic/normalized",
      s"$work/sinks/$topic/rejects", s"$work/sinks/$topic/stats",
      s"$work/sinks/$topic/_checkpoint")

  /** Check the sinks against the files drained so far. Returns the
    * indices of files (one microbatch each) with a wrong outcome, per
    * topic, and one line per finding. */
  def check(spark: SparkSession, b: Backlog, work: String,
      nDone: Int): (Map[String, Set[Int]], Seq[String]) = {
    val findings = mutable.ArrayBuffer[String]()
    val bad = b.files.map { case (topic, files) =>
      val d = Mix.find(_._1.topic == topic).get._1
      val done = files.take(nDone).flatten
      val firstFile = mutable.Map[(Int, Long), Int]()
      done.foreach(p => firstFile.getOrElseUpdate((p.partition, p.offset), p.file))
      val s = sinks(work, topic)
      val failed = mutable.Set[Int]()
      def offsets(path: String): Seq[(Int, Long)] =
        spark.read.parquet(path).select("partition", "offset").collect()
          .toSeq.map(r => (r.getInt(0), r.getLong(1)))
      // raw: every produced (partition, offset) exactly once
      val raw = offsets(s.raw)
      val rawCounts = raw.groupBy(identity).view.mapValues(_.size).toMap
      for ((po, f) <- firstFile if rawCounts.getOrElse(po, 0) != 1) failed += f
      val extra = rawCounts.keySet -- firstFile.keySet
      if (extra.nonEmpty) findings += s"$topic.raw: ${extra.size} offsets never produced"
      // rejects: exactly the invalid records; valid + rejects = produced
      val expectRej = done.filter(!_.rec.valid).map(p => (p.partition, p.offset)).toSet
      val rej = offsets(s.rejects)
      val rejSet = rej.toSet
      if (rej.size != rejSet.size) findings += s"$topic.rejects: duplicate offsets"
      for (po <- (expectRej -- rejSet) ++ (rejSet -- expectRej))
        firstFile.get(po).foreach(failed += _)
      // normalized: the latest valid version of every key
      val latest = mutable.Map[String, Placed]()
      done.filter(_.rec.valid).foreach { p =>
        latest.get(p.rec.key) match {
          case Some(q) if Ordering[(Long, Long)].gteq((q.rec.versionUs, q.offset),
              (p.rec.versionUs, p.offset)) => ()
          case _ => latest(p.rec.key) = p
        }
      }
      val norm = spark.read.parquet(s.normalized)
        .select(col(d.pk), unix_micros(col(d.versionCol)), col("_src_offset"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      if (norm.size != latest.size)
        findings += s"$topic.normalized: ${norm.size} keys, expected ${latest.size}"
      for ((k, p) <- latest if !norm.get(k).contains((p.rec.versionUs, p.offset)))
        failed += p.file
      if (failed.nonEmpty) findings += s"$topic: ${failed.size} files with wrong sink contents"
      topic -> failed.toSet
    }
    (bad, findings.toSeq)
  }

  /** Bytes and files of each sink, listed from outside the program. */
  def storage(work: String): Map[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]()
    for ((d, _) <- Mix) {
      val s = sinks(work, d.topic)
      for ((name, path) <- Seq("raw" -> s.raw, "normalized" -> s.normalized,
          "rejects" -> s.rejects, "stats" -> s.stats, "raw_hwm" -> (s.raw + "._hwm"),
          "rejects_hwm" -> (s.rejects + "._hwm"))) {
        val st = Host.dirStats(path)
        out(s"${d.topic}.$name.files") = st.files
        out(s"${d.topic}.$name.bytes") = st.bytes
      }
    }
    val pr = Host.dirStats(s"$work/progress")
    out("progress.files") = pr.files
    out("progress.bytes") = pr.bytes
    out.toMap
  }
}

/** Runs the `ingest` workload: set up, warm up, drain a fixed number of
  * files per topic, then check and list the sinks. */
object IngestRun {
  import Ingest._

  def apply(spark: SparkSession, work: String, seed: Long, trace: Option[Trace],
      measuredFiles: Int = MeasuredFiles, setupReps: Int = SetupReps): Map[String, Any] = {
    val nFiles = WarmupFiles + measuredFiles
    val setups = (1 to setupReps).map { i =>
      val dir = s"$work/setup$i"
      Host.deleteRecursively(new File(dir))
      val t0 = System.nanoTime()
      val b = generate(spark, seed, nFiles)
      writeFiles(b, s"$dir/staging")
      ((System.nanoTime() - t0) / 1e9, b, dir)
    }
    val (_, backlog, dir) = setups.last
    val monitor = Monitoring.attach(spark, s"$dir/progress")
    val warm = round(spark, backlog, dir, 0, WarmupFiles)
    trace.foreach(_.start())
    val measured = round(spark, backlog, dir, WarmupFiles, nFiles)
    trace.foreach(_.stop())
    spark.streams.removeListener(monitor)
    val heap = Host.retainedHeapMb()
    val (bad, findings) = check(spark, backlog, dir, nFiles)
    val produced = backlog.files.values.flatMap(_.flatten)
    Map(
      "setup_s" -> setups.map(_._1),
      "warmup_s" -> warm.seconds,
      "wall_s" -> measured.seconds,
      "items" -> measured.records,
      "op_s" -> measured.triggerMs.map(_ / 1000.0),
      "attempted" -> measuredFiles * Mix.size,
      "failed_ops" -> bad.toSeq.flatMap { case (t, fs) =>
        fs.filter(_ >= WarmupFiles).map(f => s"$t/$f") },
      "retained_heap_mb" -> heap,
      "warmup_failed" -> bad.values.map(_.count(_ < WarmupFiles)).sum,
      "findings" -> findings,
      "counts" -> Map(
        "records" -> produced.size,
        "redelivered" -> backlog.files.values.map(_.flatten
          .groupBy(p => (p.partition, p.offset)).count(_._2.size > 1)).sum,
        "invalid" -> produced.count(!_.rec.valid)),
      "storage" -> storage(dir))
  }
}
