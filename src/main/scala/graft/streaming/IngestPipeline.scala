package graft.streaming

import graft.operators.Validation
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.graftbridge.Columns
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.time.Instant
import scala.reflect.runtime.universe.TypeTag

/** The reference's ingest contract (SURVEY.md §3.2), Spark-native:
  * Kafka-shaped stream → PERMISSIVE JSON decode → validation split →
  * `foreachBatch` dual-sink:
  *
  *  - raw audit append, idempotent on (partition, offset) — the
  *    `UNIQUE(topic_partition, topic_offset)` replay guard of
  *    `02_create_tables.sql:9-47` (T4 exactly-once without broker
  *    transactions);
  *  - normalized latest-wins upsert by primary key (S7/T5, compacted
  *    topic semantics; trigger-maintained `last_modified` analog of
  *    `02:143-163`: the audit timestamp survives when the existing row
  *    wins a replayed tie);
  *  - rejects append with rule tags;
  *  - per-batch processing stats (A8/S9, `02:134-141`).
  *
  * Sinks are plain parquet directories: at production scale the upsert
  * becomes a MERGE into a table format (Delta/Iceberg) or a compacted
  * partition overwrite — the dataflow (dedup → key-agg → write) is
  * identical, one shuffle on the primary key per microbatch.
  *
  * Per-batch constants stay out of generated code. Every microbatch runs
  * the same plans, so their generated classes compile once per JVM, but
  * only if no value that changes per batch is written into the Java
  * source: a Long, Int or Timestamp literal is (`lit(batchId)`,
  * `current_timestamp()`, an `IN` list of offsets). Such values enter
  * through [[perBatch]], as an array literal or as an `InSet`, which
  * generated code references instead of inlining.
  */
object IngestPipeline {

  final case class Sinks(raw: String, normalized: String, rejects: String,
      stats: String, checkpoint: String)

  /** Start one entity topic's ingest from runtime settings alone: reads
    * the producer CLI's topic directory (`<sinkBase>/topics/<topic>`)
    * and writes the standard per-topic sink layout — the configuration
    * path a deployment uses (env vars → `Settings.fromEnv` → here). */
  def start(spark: SparkSession, settings: graft.Settings,
      entity: graft.Schemas.EntityDesc): StreamingQuery =
    start(spark, s"${settings.sinkBase}/topics/${entity.topic}",
      settings.sinksFor(entity.topic), entity)

  /** Start the ingest stream for one entity topic from its descriptor
    * (schema + key + rules + at-rest money columns in one place,
    * `graft.Schemas`). */
  def start(spark: SparkSession, inputDir: String, sinks: Sinks,
      entity: graft.Schemas.EntityDesc): StreamingQuery =
    start(spark, inputDir, sinks, entity.schema, entity.pk, entity.versionCol,
      entity.rules, moneyCols = entity.moneyCols)

  /** Start the ingest stream for one entity topic. `Trigger.AvailableNow`
    * drains everything present then stops — the replayable batch form;
    * pass a processing-time trigger for continuous mode. */
  def start(spark: SparkSession, inputDir: String, sinks: Sinks,
      entitySchema: StructType, pk: String, versionCol: String,
      rules: Seq[(String, Column)],
      maxFilesPerTrigger: Option[Int] = None,
      moneyCols: Seq[String] = Nil,
      normalizedBuckets: Option[Int] = None): StreamingQuery =
    KafkaShaped.fileStream(spark, inputDir, maxFilesPerTrigger)
      // A8: batch-level row counters surfaced through the observe API.
      .observe("ingest", count(lit(1)).as("n_in"),
        count(col("value")).as("n_value_present"))
      .writeStream
      .option("checkpointLocation", sinks.checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, sinks, entitySchema, pk, versionCol, rules,
          moneyCols, normalizedBuckets)
      }
      .start()

  /** One microbatch of the dual-write. Exposed for direct batch-mode use
    * and tests. `normalizedBuckets = Some(n)` switches the normalized
    * sink from the whole-table swap to the hash-partitioned upsert
    * ([[PartitionedUpsert]]) — O(touched buckets) per batch instead of
    * O(table); read the result back with `PartitionedUpsert.readAll`.
    *
    * A small batch is bound by job scheduling, not compute: it runs one
    * eager pin, one tally to the driver, a lineage lookup only for offsets
    * at or below the offset mark, then one write per sink and the mark. */
  def processBatch(batch: DataFrame, batchId: Long, sinks: Sinks,
      entitySchema: StructType, pk: String, versionCol: String,
      rules: Seq[(String, Column)],
      moneyCols: Seq[String] = Nil,
      normalizedBuckets: Option[Int] = None): Unit = {
    val spark = batch.sparkSession
    val t0 = System.nanoTime()

    // ---- S5 + V1–V5: ONE pin — lineage dedup, typed decode (PERMISSIVE +
    // corrupt-record capture), validation marks. Raw reads the Kafka frame
    // from `_msg`; rejects and normalized filter the marks.
    val pin = Validation.mark(
      batch.dropDuplicates("partition", "offset")
        .withColumn("r", from_json(col("value"), entitySchema,
          Map("mode" -> "PERMISSIVE",
            "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
        .select(struct(batch.columns.toIndexedSeq.map(col): _*).as("_msg"),
          col("partition"), col("offset"), col("r.*")),
      rules).localCheckpoint(true)

    // ---- S6: replay guard, idempotent on (partition, offset) PER append
    // sink. One mark (per-partition max offset either sink may hold)
    // serves both: offsets above it cannot have landed and skip the sinks
    // (at 100 TB the audit table is the biggest in the system); those at
    // or below it (a replay, normally a handful) are looked up.
    val appendSinks = Seq(sinks.raw, sinks.rejects)
    val markAt = sinks.raw + "._hwm"
    val stored = readMark(spark, markAt)
    val mark = stored.getOrElse(markFromSinks(spark, appendSinks))
    val tallies = tally(pin, mark)
    val Seq(landedRaw, landedRejects) = landed(spark, appendSinks,
      tallies.collect { case (p, t) if t.suspects.nonEmpty => p -> t.suspects })

    // The mark advances BEFORE the appends: after a crash past this point
    // the replay looks up every offset, where a mark trailing landed rows
    // would pass them as fresh and land them twice.
    val advanced = mark ++ tallies.collect {
      case (p, t) if mark.get(p).forall(_ < t.hi) => p -> t.hi }
    if (advanced.nonEmpty && !stored.contains(advanced))
      swapWrite(spark, spark.createDataFrame(advanced.toSeq).toDF("partition", "max_offset")
        .coalesce(1), markAt)

    pin.filter(!among(landedRaw)).select(col("_msg.*"))
      .withColumn("consumed_at", perBatch(Instant.now()))
      .write.mode("append").parquet(sinks.raw)
    val Validation.Split(valid, rejects) = Validation.route(pin.drop("_msg"))
    rejects.filter(!among(landedRejects)).withColumn("batch_id", perBatch(batchId))
      .write.mode("append").parquet(sinks.rejects)

    // ---- S7/T5: normalized latest-wins upsert. Winner per key by
    // (version, source offset, existing-first): a genuinely newer record
    // wins on version, a re-published record with an unchanged version
    // wins on its later per-partition offset (keys are partitioned by
    // hash, so offsets order per key — the compacted-topic rule), and an
    // exact replay ties on both and keeps the existing row, so replays
    // never touch last_modified (trigger semantics, `02:143-163`).
    val incoming = valid.withColumnRenamed("offset", "_src_offset").drop("partition")
      .withColumn("last_modified", perBatch(Instant.now()))
    normalizedBuckets match {
      case Some(n) =>
        // Scale form: only the buckets this batch's keys hash into are
        // read and rewritten. Money is cast at-rest BEFORE the merge, so
        // per-bucket priors and incoming rows union decimal-to-decimal.
        PartitionedUpsert.upsert(spark, sinks.normalized,
          graft.operators.Normalize.atRest(incoming, moneyCols),
          pk, Seq(versionCol, "_src_offset"), n)
      case None =>
        // Money lands as DECIMAL(10,2) (the reference's at-rest DDL
        // type); the union coerces prior decimals back to wire doubles,
        // which is lossless for 2-decimal money, and this single cast
        // restores the exact at-rest representation for whatever key
        // wins.
        def upserted(prior: Option[DataFrame]) = graft.operators.Normalize
          .atRest(latestWins(prior, incoming, pk, Seq(versionCol, "_src_offset")),
            moneyCols)
        // the prior table holds what this batch writes, so it is read
        // with that schema (resolved on the driver, no inference job)
        swapWrite(spark, upserted(existing(spark, sinks.normalized,
          Some(upserted(None).schema))), sinks.normalized)
    }

    // ---- A8/S9: processing stats append (`02:134-141` analog).
    val nIn = tallies.values.map(_.n).sum
    val nRejects = tallies.values.map(_.rejects).sum
    val nFresh = nIn - landedRaw.values.map(_.size).sum
    val durMs = (System.nanoTime() - t0) / 1000000
    spark.createDataFrame(Seq(
      (batchId, nIn, nFresh, nIn - nRejects, nRejects, durMs)))
      .toDF("batch_id", "n_in", "n_fresh", "n_valid", "n_rejects", "duration_ms")
      .withColumn("recorded_at", perBatch(Instant.now()))
      .write.mode("append").parquet(sinks.stats)
  }

  /** A per-batch value (batch id, landing time) as a column whose
    * generated code does not depend on the value: a zero-argument UDF
    * that returns it, so generated code references the function instead
    * of inlining the value as a literal would. Non-deterministic, so the
    * optimizer cannot fold it back into a literal; non-nullable, like the
    * literal it stands for. */
  private[streaming] def perBatch[T: TypeTag](v: T): Column =
    udf(() => v).asNondeterministic().asNonNullable()()

  /** Latest-wins merge of a batch into a prior table state: winner per
    * key by the tie-break columns (descending significance), with the
    * EXISTING row winning exact ties — so replays never touch a landed
    * row (the trigger semantics of `02:143-163`). Shared by the
    * whole-table swap sink here and the hash-partitioned upsert
    * ([[PartitionedUpsert]]). */
  private[streaming] def latestWins(prior: Option[DataFrame], incoming: DataFrame,
      pk: String, tieBreak: Seq[String]): DataFrame = {
    val inc = incoming.withColumn("_prio", lit(0))
    val merged = prior match {
      case Some(p) => p.withColumn("_prio", lit(1)).unionByName(inc)
      case None    => inc
    }
    val payloadNames = merged.columns.filter(c => c != pk && c != "_prio").toIndexedSeq
    merged
      .groupBy(col(pk))
      .agg(max_by(struct(payloadNames.map(col): _*),
        struct(tieBreak.map(col) :+ col("_prio"): _*)).as("w"))
      .select(col(pk) +: payloadNames.map(c => col(s"w.$c").as(c)): _*)
  }

  /** One Kafka partition of a batch: its max offset, row and reject
    * counts, and its offsets at or below the mark (replay suspects). */
  private final case class Tally(hi: Long, n: Long, rejects: Long, suspects: List[Long]) {
    def +(o: Tally) = Tally(hi max o.hi, n + o.n, rejects + o.rejects, suspects ::: o.suspects)
  }

  /** Per-partition tallies in one job: tasks fold rows, the driver merges. */
  private def tally(pin: DataFrame, mark: Map[Int, Long]): Map[Int, Tally] = {
    def add(m: Map[Int, Tally], p: Int, t: Tally) = m.updated(p, m.get(p).fold(t)(_ + t))
    pin.select(col("partition"), col("offset"), size(col("violations")) > 0).rdd
      .aggregate(Map.empty[Int, Tally])({ (m, r) =>
        val (p, o) = (r.getInt(0), r.getLong(1))
        add(m, p, Tally(o, 1L, if (r.getBoolean(2)) 1L else 0L,
          if (mark.get(p).exists(o <= _)) List(o) else Nil))
      }, (a, b) => b.foldLeft(a) { case (m, (p, t)) => add(m, p, t) })
  }

  /** Rows whose (partition, offset) is in `offsets`. The pairs enter as
    * one array literal, which generated code references, so the predicate
    * compiles to the same classes whatever the offsets. */
  private def among(offsets: Map[Int, Seq[Long]]): Column =
    array_contains(typedLit(offsets.toSeq.flatMap { case (p, os) => os.map(p -> _) }),
      struct(col("partition").as("_1"), col("offset").as("_2")))

  /** Rows whose offset is in `offsets`: an `InSet`, which parquet pushes
    * down and generated code references. (`isin` with up to ten values
    * plans as `In`, which inlines them, so each replay would compile anew.) */
  private def offsetIn(offsets: Iterable[Long]): Column =
    Columns.of(InSet(UnresolvedAttribute("offset"), offsets.toSet[Any]))

  /** (partition, offset, sink index) of every existing sink; reads two columns. */
  private def lineage(spark: SparkSession, sinkPaths: Seq[String]): Option[DataFrame] =
    sinkPaths.zipWithIndex.flatMap { case (path, i) => liveDir(spark, path).map(d =>
      spark.read.schema("partition INT, offset BIGINT").parquet(d.toString)
        .withColumn("sink", lit(i)))
    }.reduceOption(_ unionByName _)

  /** Which `suspects` already sit in each sink (a map per sink), in one
    * job; the offsets alone narrow the scan through parquet pushdown. */
  private def landed(spark: SparkSession, sinkPaths: Seq[String],
      suspects: Map[Int, Seq[Long]]): Seq[Map[Int, Seq[Long]]] = {
    val rows = if (suspects.isEmpty) Nil else lineage(spark, sinkPaths).fold(Seq.empty[Row])(
      _.filter(offsetIn(suspects.values.flatten) && among(suspects)).collect().toSeq)
    sinkPaths.indices.map(i => rows.filter(_.getInt(2) == i).groupMap(_.getInt(0))(_.getLong(1)))
  }

  /** The offset mark `(partition int, max_offset long)` as a driver map,
    * its few rows read on the driver (no Spark job); `None` if never written. */
  private def readMark(spark: SparkSession, path: String): Option[Map[Int, Long]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    liveDir(spark, path).map(dir => dir.getFileSystem(hconf).listStatus(dir)
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).flatMap { f =>
        val r = ParquetReader.builder(new GroupReadSupport(), f).withConf(hconf).build()
        try Iterator.continually(r.read()).takeWhile(_ != null)
          .map(g => g.getInteger("partition", 0) -> g.getLong("max_offset", 0)).toList
        finally r.close()
      }.toMap)
  }

  /** A lost mark rebuilt from the sinks' lineage: a full lineage scan,
    * paid only on this recovery path. Empty before anything landed. */
  private def markFromSinks(spark: SparkSession, sinkPaths: Seq[String]): Map[Int, Long] =
    lineage(spark, sinkPaths).fold(Map.empty[Int, Long])(_.groupBy("partition")
      .agg(max("offset")).collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)

  /** Atomic-enough full-table replace without a table format: write the
    * new contents to `<path>.tmp` (reading the old contents is safe —
    * nothing touches `path` until the write committed), then rotate
    * old → `<path>.bak`, tmp → path, drop the backup. Directory renames
    * are single metadata operations, so every crash point leaves either
    * the old table at `path` or a complete new one, with the old state
    * recoverable from `.bak` in the one window where `path` is absent —
    * [[existing]] falls back to it. (A production deployment swaps this
    * for a Delta/Iceberg MERGE; the dataflow above is unchanged.) */
  private[streaming] def swapWrite(spark: SparkSession, df: DataFrame, path: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p   = new Path(path)
    val fs  = p.getFileSystem(hconf)
    val tmp = new Path(path + ".tmp")
    val bak = new Path(path + ".bak")
    df.write.mode("overwrite").parquet(tmp.toString)
    // Rotate the backup ONLY while the live table exists: after a prior
    // mid-swap crash (path absent, state only in .bak) deleting the
    // backup before tmp lands would make a second crash lose both copies.
    // Here every crash point leaves at least one of {path, .bak} intact.
    if (fs.exists(p)) {
      if (fs.exists(bak)) fs.delete(bak, true)
      fs.rename(p, bak)
    }
    fs.rename(tmp, p)
    fs.delete(bak, true)
  }

  /** The table at `path` (or its mid-swap backup), if any; `schema`,
    * when known, skips the footer-inference job. */
  private[streaming] def existing(spark: SparkSession, path: String,
      schema: Option[StructType] = None): Option[DataFrame] =
    liveDir(spark, path).map(d =>
      schema.fold(spark.read)(spark.read.schema).parquet(d.toString))

  /** The directory holding a table's parquet files: `path`, or in the
    * crash window of [[swapWrite]] (table mid-rotation) the backup that
    * holds the pre-batch state. */
  private def liveDir(spark: SparkSession, path: String): Option[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(p, new Path(path + ".bak")).find(d =>
      fs.exists(d) && fs.listStatus(d).exists(_.getPath.getName.endsWith(".parquet")))
  }
}
