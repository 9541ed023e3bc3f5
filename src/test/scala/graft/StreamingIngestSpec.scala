package graft

import java.nio.file.Files

import graft.operators.Validation
import graft.sources.{Corruptions, Generator}
import graft.streaming.{IngestPipeline, KafkaShaped, Monitoring}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E2E streaming ingest: Kafka-shaped file stream → decode → validate →
  * dual-sink, with the reference's count and idempotent-replay contract
  * (`tests/integration/test_producer_integration.py:133-240`;
  * offset-unique raw tables `02_create_tables.sql:9-47`). */
class StreamingIngestSpec extends AnyFunSuite {

  private lazy val spark = Session.get()

  private def tmp(): String =
    Files.createTempDirectory("graft_stream_").toString

  private val N = 60L

  private def producePayload(): org.apache.spark.sql.DataFrame =
    Corruptions.products(Generator.products(spark, N, seed = 31), 0.3, seed = 32)

  test("ingest lands raw/normalized/rejects with the expected counts, and replay is idempotent") {
    val in = tmp()
    val sinks = IngestPipeline.Sinks(
      raw = s"${tmp()}/raw", normalized = s"${tmp()}/norm",
      rejects = s"${tmp()}/rej", stats = s"${tmp()}/stats",
      checkpoint = s"${tmp()}/ckpt")
    val payload = producePayload()
    val schema = Generator.products(spark, 1, seed = 31).schema

    KafkaShaped.writeTopicFile(payload, "product_id", "products", 3, 0, in)
    val q = IngestPipeline.start(spark, in, sinks, schema,
      pk = "product_id", versionCol = "created_at", rules = Validation.productRules)
    q.awaitTermination()

    val expected = Validation.split(payload, Validation.productRules)
    val nValid = expected.valid.count()
    val nReject = expected.rejects.count()
    assert(nValid + nReject === N)
    assert(nReject > 0, "corruption at p=0.3 should reject some rows")

    assert(spark.read.parquet(sinks.raw).count() === N)
    assert(spark.read.parquet(sinks.normalized).count() === nValid)
    assert(spark.read.parquet(sinks.rejects).count() === nReject)

    val stats = spark.read.parquet(sinks.stats)
    assert(stats.agg(sum("n_fresh")).collect()(0).getLong(0) === N)
    assert(stats.agg(sum("n_valid")).collect()(0).getLong(0) === nValid)

    val normBefore = spark.read.parquet(sinks.normalized)
      .orderBy("product_id").collect().toSeq

    // --- Replay: identical records (same partition/offset lineage) in a
    // fresh file AND a fresh checkpoint — idempotency must come from the
    // data-level offset guard, not from streaming-engine state (T4).
    KafkaShaped.writeTopicFile(payload, "product_id", "products", 3, 0, in)
    val sinks2 = sinks.copy(checkpoint = s"${tmp()}/ckpt2")
    val q2 = IngestPipeline.start(spark, in, sinks2, schema,
      pk = "product_id", versionCol = "created_at", rules = Validation.productRules)
    q2.awaitTermination()

    assert(spark.read.parquet(sinks.raw).count() === N, "raw must stay offset-unique")
    assert(spark.read.parquet(sinks.rejects).count() === nReject,
      "rejects must stay offset-unique")
    val normAfter = spark.read.parquet(sinks.normalized)
      .orderBy("product_id").collect().toSeq
    assert(normAfter === normBefore,
      "replay must not change the normalized table (incl. last_modified)")
    // The replay batch's stats row: every record seen, none fresh, and the
    // batch-level reject count still counts the replayed rejects.
    val replayStats = spark.read.parquet(sinks.stats)
      .orderBy(col("recorded_at").desc).head()
    assert(replayStats.getAs[Long]("n_in") === N)
    assert(replayStats.getAs[Long]("n_fresh") === 0L)
    assert(replayStats.getAs[Long]("n_rejects") === nReject)
    assert(replayStats.getAs[Long]("n_valid") === nValid)
  }

  test("a newer version of a key wins the upsert; older does not regress it (T5 compaction)") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val v1 = Generator.products(spark, 10, seed = 41)
    val schema = v1.schema

    KafkaShaped.writeTopicFile(v1, "product_id", "products", 2, 0, in)
    val q1 = IngestPipeline.start(spark, in, sinks, schema,
      "product_id", "created_at", Validation.productRules)
    q1.awaitTermination()

    // Same keys, later version timestamps, new offsets (offsetBase moves).
    val v2 = v1.withColumn("created_at",
      col("created_at") + expr("INTERVAL 10 DAYS"))
      .withColumn("price", col("price") + 1.0)
    KafkaShaped.writeTopicFile(v2, "product_id", "products", 2, 1000, in)
    val q2 = IngestPipeline.start(spark, in,
      sinks.copy(checkpoint = s"$base/ckpt2"), schema,
      "product_id", "created_at", Validation.productRules)
    q2.awaitTermination()

    val norm = spark.read.parquet(sinks.normalized)
    assert(norm.count() === 10, "latest-wins keeps one row per key")
    val minCreated = v2.agg(min("created_at")).collect()(0).getTimestamp(0)
    assert(norm.filter(col("created_at") < minCreated).count() === 0,
      "every normalized row must be the v2 version")
  }

  test("a crash between the raw append and the normalized write is recovered on replay") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val payload = Generator.products(spark, 20, seed = 91)
    KafkaShaped.writeTopicFile(payload, "product_id", "products", 2, 0, in)

    // Simulate the crash window: the raw audit append committed but the
    // normalized/rejects/stats writes never ran.
    spark.read.schema(KafkaShaped.schema).json(in)
      .withColumn("consumed_at", current_timestamp())
      .write.mode("append").parquet(sinks.raw)
    assert(spark.read.parquet(sinks.raw).count() === 20)

    // Replaying the batch must still land the normalized rows even
    // though every offset is already present in raw.
    val q = IngestPipeline.start(spark, in, sinks, payload.schema,
      "product_id", "created_at", Validation.productRules)
    q.awaitTermination()
    assert(spark.read.parquet(sinks.raw).count() === 20, "raw stays offset-unique")
    assert(spark.read.parquet(sinks.normalized).count() === 20,
      "normalized must recover rows that only reached raw before the crash")
  }

  test("an update with an unchanged version column still wins via its later offset") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val v1 = Generator.products(spark, 10, seed = 92)
    KafkaShaped.writeTopicFile(v1, "product_id", "products", 2, 0, in)
    IngestPipeline.start(spark, in, sinks, v1.schema,
      "product_id", "created_at", Validation.productRules).awaitTermination()

    // Same keys, SAME created_at (immutable), new price, later offsets —
    // the realistic product-update shape.
    val v2 = v1.withColumn("price", col("price") + 7.0)
    KafkaShaped.writeTopicFile(v2, "product_id", "products", 2, 1000, in)
    IngestPipeline.start(spark, in, sinks.copy(checkpoint = s"$base/ckpt2"),
      v1.schema, "product_id", "created_at", Validation.productRules)
      .awaitTermination()

    val norm = spark.read.parquet(sinks.normalized)
    assert(norm.count() === 10)
    val priceByKey = norm.select("product_id", "price").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val expected = v2.select("product_id", "price").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(priceByKey === expected, "version-tied update must win on offset")
  }

  test("syntactically broken JSON payloads land in rejects, never crash the stream") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val good = Generator.products(spark, 5, seed = 99)
    KafkaShaped.writeTopicFile(good, "product_id", "products", 2, 0, in)
    // Hand-write a topic file whose values are not JSON at all — the
    // malformed-message case PERMISSIVE decode must absorb (all-null
    // parse → validation rejects on the null pk), per the reference's
    // consumer contract.
    Files.write(java.nio.file.Paths.get(in, "broken.json"), Seq(
      """{"key":"x1","value":"not json {{{","topic":"products","partition":0,"offset":900,"timestamp":"2026-01-01T00:00:00Z"}""",
      """{"key":"x2","value":"[1,2","topic":"products","partition":1,"offset":901,"timestamp":"2026-01-01T00:00:00Z"}""")
      .mkString("\n").getBytes)
    IngestPipeline.start(spark, in, sinks, good.schema,
      "product_id", "created_at", Validation.productRules).awaitTermination()
    assert(spark.read.parquet(sinks.raw).count() === 7,
      "broken payloads still reach the raw audit (they ARE the audit)")
    assert(spark.read.parquet(sinks.normalized).count() === 5)
    assert(spark.read.parquet(sinks.rejects).count() === 2,
      "malformed JSON must be rejected, not dropped or fatal")
  }

  test("customers descriptor streams end-to-end (unique-email entity)") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val cust = Generator.customers(spark, 18, seed = 85)
    KafkaShaped.writeTopicFile(cust, "customer_id", "customers", 2, 0, in)
    IngestPipeline.start(spark, in, sinks, Schemas.customersDesc).awaitTermination()
    val norm = spark.read.parquet(sinks.normalized)
    assert(norm.count() === 18)
    assert(norm.select("email").distinct().count() === 18,
      "generated emails are unique and must stay so through the pipeline")
  }

  test("events descriptor streams end-to-end (timestamp-versioned upsert)") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val ev = Generator.events(spark, 25, nCustomers = 10, seed = 87)
    KafkaShaped.writeTopicFile(ev, "event_id", "events", 3, 0, in)
    IngestPipeline.start(spark, in, sinks, Schemas.eventsDesc).awaitTermination()
    val norm = spark.read.parquet(sinks.normalized)
    assert(norm.count() === 25)
    assert(norm.select("event_id").distinct().count() === 25)
  }

  test("orders descriptor streams end-to-end: nested items survive, total lands decimal") {
    import org.apache.spark.sql.types.DecimalType
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val orders = Generator.orders(spark, 12, nCustomers = 8, nProducts = 6, seed = 86)
    KafkaShaped.writeTopicFile(orders, "order_id", "orders", 2, 0, in)
    IngestPipeline.start(spark, in, sinks, Schemas.ordersDesc).awaitTermination()
    val norm = spark.read.parquet(sinks.normalized)
    assert(norm.count() === 12)
    assert(norm.schema("total").dataType === DecimalType(10, 2))
    // The nested items array survives the JSON wire round trip intact.
    val itemsIn = orders.agg(sum(size(col("items")))).collect()(0).getLong(0)
    val itemsOut = norm.agg(sum(size(col("items")))).collect()(0).getLong(0)
    assert(itemsOut === itemsIn)
    // And the normalized child-table explode works straight off the sink.
    val child = graft.operators.Normalize.orderItems(norm)
    assert(child.count() === itemsIn)
    assert(child.schema("line_total").dataType === DecimalType(10, 2))
  }

  test("bucketed normalized sink through the full pipeline: latest wins, decimals at rest") {
    import org.apache.spark.sql.types.DecimalType
    import graft.streaming.PartitionedUpsert
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val v1 = Generator.products(spark, 15, seed = 98)
    KafkaShaped.writeTopicFile(v1, "product_id", "products", 2, 0, in)
    IngestPipeline.start(spark, in, sinks, v1.schema,
      "product_id", "created_at", Validation.productRules,
      moneyCols = Seq("price"), normalizedBuckets = Some(8)).awaitTermination()
    val v2 = v1.withColumn("created_at", col("created_at") + expr("INTERVAL 2 DAYS"))
      .withColumn("price", col("price") + 3.0)
    KafkaShaped.writeTopicFile(v2, "product_id", "products", 2, 1000, in)
    IngestPipeline.start(spark, in, sinks.copy(checkpoint = s"$base/ckpt2"),
      v1.schema, "product_id", "created_at", Validation.productRules,
      moneyCols = Seq("price"), normalizedBuckets = Some(8)).awaitTermination()

    val norm = PartitionedUpsert.readAll(spark, sinks.normalized, 8).get
    assert(norm.count() === 15, "one row per key across bucketed batches")
    assert(norm.schema("price").dataType === DecimalType(10, 2))
    val stale = v2.select(col("product_id"), col("price"))
      .join(norm.select(col("product_id"), col("price").cast("double").as("p")),
        "product_id")
      .filter(col("price") =!= col("p")).count()
    assert(stale === 0, "v2 must win every key through the bucketed sink")
  }

  test("offset watermark holds per-partition maxes; losing it degrades safely to the anti-join") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val payload = Generator.products(spark, 30, seed = 96)
    KafkaShaped.writeTopicFile(payload, "product_id", "products", 3, 0, in)
    IngestPipeline.start(spark, in, sinks, payload.schema,
      "product_id", "created_at", Validation.productRules).awaitTermination()

    // The watermark is the per-partition max of landed lineage.
    val hwm = spark.read.parquet(s"${sinks.raw}._hwm")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val expected = spark.read.parquet(sinks.raw)
      .groupBy("partition").agg(max("offset").as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hwm === expected)

    // Simulate a lost mark: replay must still be idempotent, through the
    // mark rebuilt from the sinks' lineage.
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"${sinks.raw}._hwm"), true)
    KafkaShaped.writeTopicFile(payload, "product_id", "products", 3, 0, in)
    IngestPipeline.start(spark, in, sinks.copy(checkpoint = s"$base/ckpt2"),
      payload.schema, "product_id", "created_at", Validation.productRules)
      .awaitTermination()
    assert(spark.read.parquet(sinks.raw).count() === 30,
      "raw must stay offset-unique without the watermark")
    // And the replay rebuilt the mark.
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"${sinks.raw}._hwm")))
  }

  /** A Kafka-shaped batch of `n` corrupted products at offsets above
    * `offsetBase`, read back as the frame the stream hands `processBatch`. */
  private def productBatch(n: Long, seed: Long, offsetBase: Long): org.apache.spark.sql.DataFrame =
    spark.read.schema(KafkaShaped.schema).json(productFiles(tmp(), n, seed -> offsetBase))

  /** One topic file of `n` corrupted products per (seed, offsetBase) in
    * `dir`; the same pair always writes the same records at the same
    * offsets, so writing a pair again redelivers them. */
  private def productFiles(dir: String, n: Long, files: (Long, Long)*): String = {
    for ((seed, offsetBase) <- files)
      KafkaShaped.writeTopicFile(
        Corruptions.products(Generator.products(spark, n, seed), 0.3, seed + 1),
        "product_id", "products", 3, offsetBase, dir)
    dir
  }

  private def offsets(df: org.apache.spark.sql.DataFrame): Seq[(Int, Long)] =
    df.select("partition", "offset").collect().toSeq.map(r => (r.getInt(0), r.getLong(1)))

  private lazy val productSchema = Generator.products(spark, 1, seed = 31).schema

  private def ingest(sinks: IngestPipeline.Sinks, batch: org.apache.spark.sql.DataFrame,
      batchId: Long, normalizedBuckets: Option[Int] = None): Unit =
    IngestPipeline.processBatch(batch, batchId, sinks, productSchema, "product_id",
      "created_at", Validation.productRules, normalizedBuckets = normalizedBuckets)

  /** The classes Janino compiles while `body` runs. The counter is
    * JVM-wide; suites run one at a time, so only this suite compiles. */
  private def compilesOf(body: => Unit): Long = {
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    body
    compiles.getCount - before
  }

  /** The Spark jobs `body` runs on this thread and the threads it starts. */
  private def jobsOf(label: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"$label-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, label)
      try body finally sc.clearJobGroup()
      org.apache.spark.graftbridge.ListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("a crash between the raw and rejects appends is recovered on replay") {
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val first = productBatch(30, seed = 71, offsetBase = 0)
    val second = productBatch(30, seed = 73, offsetBase = 1000)
    ingest(sinks, first, 0)

    // A plain file where the rejects directory was: the second batch's
    // raw append lands, then its rejects append fails.
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rej = new org.apache.hadoop.fs.Path(sinks.rejects)
    val aside = new org.apache.hadoop.fs.Path(s"$base/rej.aside")
    assert(fs.rename(rej, aside))
    fs.create(rej).close()
    intercept[Exception](ingest(sinks, second, 1))
    assert(spark.read.parquet(sinks.raw).count() === 60, "raw landed before the failure")

    assert(fs.delete(rej, false) && fs.rename(aside, rej))
    ingest(sinks, second, 1)

    val raw = offsets(spark.read.parquet(sinks.raw))
    assert(raw.size === 60 && raw.distinct.size === 60, "raw holds each offset once")
    val expectedRejects = Seq(first, second).flatMap { b =>
      val bad = Validation.split(
        b.select(col("key"), from_json(col("value"), productSchema,
          Map("timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")).as("r"))
          .select("key", "r.*"), Validation.productRules).rejects.select("key")
      offsets(b.join(bad, "key"))
    }
    assert(expectedRejects.nonEmpty)
    val rejects = offsets(spark.read.parquet(sinks.rejects))
    assert(rejects.sorted === expectedRejects.sorted,
      "rejects hold exactly the invalid offsets, once each")
    val hwm = spark.read.parquet(s"${sinks.raw}._hwm")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hwm === raw.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${sinks.rejects}._hwm")),
      "raw and rejects share the one mark at <raw>._hwm")
  }

  test("a fresh microbatch stays within its Spark job budget") {
    // pin: dedup shuffle stage + checkpoint (2); per-partition tally (1);
    // mark (1); raw (1); rejects (1); normalized: merge shuffle stage,
    // write (2) — the prior table is read with the batch's own schema,
    // so no inference job; stats (1). No lineage lookup: every offset is
    // above the mark.
    val Budget = 9
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    ingest(sinks, productBatch(40, seed = 75, offsetBase = 0), 0)
    val second = productBatch(40, seed = 77, offsetBase = 1000)

    val jobs = jobsOf("ingest-budget")(ingest(sinks, second, 1))
    assert(jobs > 0)
    assert(jobs <= Budget, s"$jobs Spark jobs for one fresh microbatch")
    assert(spark.read.parquet(sinks.raw).count() === 80)
  }

  test("a fresh bucketed microbatch stays within its Spark job budget") {
    // the whole-table budget's shape, with the normalized upsert per
    // touched bucket: merge shuffle stage, write (2) — each bucket is
    // read with the schema its merge writes, so no inference job
    val Buckets = 4
    val Budget = 18
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    ingest(sinks, productBatch(40, seed = 75, offsetBase = 0), 0, Some(Buckets))
    val second = productBatch(40, seed = 77, offsetBase = 1000)

    val jobs = jobsOf("bucketed-ingest-budget")(
      ingest(sinks, second, 1, Some(Buckets)))
    assert(jobs > 0)
    assert(jobs <= Budget, s"$jobs Spark jobs for one fresh bucketed microbatch")
    val norm = graft.streaming.PartitionedUpsert.readAll(spark, sinks.normalized,
      Buckets).get
    assert(norm.count() === norm.select("product_id").distinct().count())
  }

  test("a steady-state microbatch compiles no class: per-batch values stay out of generated code") {
    // Batches 1 and 2 have one shape: fresh records plus a redelivery of
    // the previous batch's records, so both take the lineage lookup and
    // filter replays out of the raw and rejects appends. Batch 2 differs
    // from batch 1 only in values (batch id, times, offsets).
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    def batch(files: (Long, Long)*) =
      spark.read.schema(KafkaShaped.schema).json(productFiles(tmp(), 40, files: _*))
    ingest(sinks, batch(75L -> 0L), 0)
    ingest(sinks, batch(77L -> 1000L, 75L -> 0L), 1)
    val third = batch(79L -> 2000L, 77L -> 1000L)

    val compiles = compilesOf(ingest(sinks, third, 2))
    assert(compiles === 0, s"$compiles classes compiled for a batch shaped like the last")
    assert(spark.read.parquet(sinks.raw).count() === 120, "redelivered offsets land once")
    assert(spark.read.parquet(sinks.stats).orderBy("batch_id").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("n_in"), r.getAs[Long]("n_fresh")))
      .toSeq === Seq((0L, 40L, 40L), (1L, 80L, 40L), (2L, 80L, 40L)))
  }

  test("a restarted stream compiles no class for a batch shaped like its last run's last batch") {
    // Each streaming query runs on its own cloned session; the generated
    // classes its batches need were compiled by the previous run.
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val listener = Monitoring.attach(spark, s"$base/progress")
    def run(): Unit = {
      IngestPipeline.start(spark, in, sinks, productSchema, "product_id", "created_at",
        Validation.productRules, maxFilesPerTrigger = Some(1)).awaitTermination()
      org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
    }
    try {
      productFiles(in, 40, 75L -> 0L)
      productFiles(in, 40, 77L -> 1000L)
      run()
      assert(spark.read.parquet(sinks.stats).count() === 2)
      productFiles(in, 40, 79L -> 2000L)

      val compiles = compilesOf(run())
      assert(compiles === 0, s"$compiles classes compiled by the restarted stream")
      assert(spark.read.parquet(sinks.stats).count() === 3)
      assert(spark.read.parquet(sinks.raw).count() === 120)
      assert(spark.read.parquet(s"$base/progress").count() === 3)
    } finally spark.streams.removeListener(listener)
  }

  test("the raw, rejects, normalized, stats and progress sinks keep their written schemas") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val listener = Monitoring.attach(spark, s"$base/progress")
    try {
      productFiles(in, 40, 75L -> 0L)
      IngestPipeline.start(spark, in, sinks, productSchema, "product_id", "created_at",
        Validation.productRules).awaitTermination()
      org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
    } finally spark.streams.removeListener(listener)
    // The schema each file was written with, nullability included (a
    // parquet read makes every column nullable).
    def written(dir: String): Seq[String] = {
      val hconf = spark.sparkContext.hadoopConfiguration
      val d = new org.apache.hadoop.fs.Path(dir)
      val f = d.getFileSystem(hconf).listStatus(d).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf))
      val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata") finally reader.close()
      org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fields.toSeq
        .map(f => s"${f.name} ${f.dataType.simpleString}${if (f.nullable) "" else " not null"}")
    }
    val entity = Seq("product_id string", "name string", "category string",
      "price double", "stock_quantity int", "created_at timestamp")
    assert(written(sinks.raw) === Seq("key string", "value string", "topic string",
      "partition int", "offset bigint", "timestamp timestamp", "consumed_at timestamp not null"))
    assert(written(sinks.rejects) === Seq("partition int", "offset bigint") ++ entity ++
      Seq("violations array<string> not null", "batch_id bigint not null"))
    assert(written(sinks.normalized) === Seq("product_id string", "_src_offset bigint") ++
      entity.tail :+ "last_modified timestamp")
    assert(written(sinks.stats) === Seq("batch_id", "n_in", "n_fresh", "n_valid", "n_rejects",
      "duration_ms").map(c => s"$c bigint not null") :+ "recorded_at timestamp not null")
    assert(written(s"$base/progress") === Seq("query_id string", "batch_id bigint not null",
      "trigger_ts string", "num_input_rows bigint not null", "trigger_ms bigint not null",
      "watermark string", "recorded_at timestamp not null"))
  }

  test("a batch mixing replayed and fresh offsets lands exactly the fresh rows") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val first = Generator.products(spark, 20, seed = 97)
    KafkaShaped.writeTopicFile(first, "product_id", "products", 2, 0, in)
    IngestPipeline.start(spark, in, sinks, first.schema,
      "product_id", "created_at", Validation.productRules).awaitTermination()

    // Second delivery: the SAME 20 rows at their original offsets plus
    // 10 new rows at fresh offsets — the partial-overlap shape a
    // producer retry after a broker hiccup creates.
    val second = Generator.products(spark, 30, seed = 97)
    KafkaShaped.writeTopicFile(first, "product_id", "products", 2, 0, in)
    KafkaShaped.writeTopicFile(
      second.exceptAll(first.select(second.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)),
      "product_id", "products", 2, 1000, in)
    IngestPipeline.start(spark, in, sinks.copy(checkpoint = s"$base/ckpt2"),
      first.schema, "product_id", "created_at", Validation.productRules)
      .awaitTermination()
    assert(spark.read.parquet(sinks.raw).count() === 30,
      "20 replayed rows must dedup, 10 fresh rows must land")
  }

  test("maxFilesPerTrigger rate-limits the stream into multiple batches (T7)") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val a = Generator.products(spark, 20, seed = 51)
    KafkaShaped.writeTopicFile(a.filter(col("stock_quantity") % 2 === 0),
      "product_id", "products", 2, 0, in)
    KafkaShaped.writeTopicFile(a.filter(col("stock_quantity") % 2 === 1),
      "product_id", "products", 2, 5000, in)
    val q = IngestPipeline.start(spark, in, sinks, a.schema,
      "product_id", "created_at", Validation.productRules,
      maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val stats = spark.read.parquet(sinks.stats)
    assert(stats.select("batch_id").distinct().count() >= 2,
      "two files at maxFilesPerTrigger=1 must span at least two batches")
    assert(spark.read.parquet(sinks.raw).count() === 20)
  }

  test("a crash mid-swap of the normalized table recovers prior batches from the backup") {
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val batch1 = Generator.products(spark, 10, seed = 94)
    KafkaShaped.writeTopicFile(batch1, "product_id", "products", 2, 0, in)
    IngestPipeline.start(spark, in, sinks, batch1.schema,
      "product_id", "created_at", Validation.productRules).awaitTermination()

    // Simulate the one dangerous swapWrite crash point: the old table
    // was rotated to .bak but the new one never landed at the path.
    val fs = new org.apache.hadoop.fs.Path(sinks.normalized)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(sinks.normalized),
      new org.apache.hadoop.fs.Path(sinks.normalized + ".bak"))

    // Next batch brings 5 NEW keys; the 10 prior keys exist only in .bak
    // and in raw — the upsert must carry them forward.
    val in2 = tmp()
    val batch2 = Generator.products(spark, 15, seed = 94)
      .filter(col("stock_quantity") >= 0) // all — distinct ids 0..14 incl. the 10
    KafkaShaped.writeTopicFile(batch2, "product_id", "products", 2, 5000, in2)
    IngestPipeline.start(spark, in2, sinks.copy(checkpoint = s"$base/ckpt2"),
      batch1.schema, "product_id", "created_at", Validation.productRules)
      .awaitTermination()

    val norm = spark.read.parquet(sinks.normalized)
    assert(norm.count() === 15, "backup rows must survive the simulated crash")
  }

  test("descriptor-driven ingest lands declared money columns as DECIMAL(10,2)") {
    import org.apache.spark.sql.types.DecimalType
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val payload = Generator.products(spark, 12, seed = 95)
    KafkaShaped.writeTopicFile(payload, "product_id", "products", 2, 0, in)
    IngestPipeline.start(spark, in, sinks, Schemas.productsDesc).awaitTermination()
    val norm = spark.read.parquet(sinks.normalized)
    assert(norm.count() === 12)
    assert(norm.schema("price").dataType === DecimalType(10, 2),
      "normalized money must land as the at-rest decimal type")
    // Values survive the wire-double → at-rest-decimal boundary exactly.
    val bad = payload.select(col("product_id"), col("price"))
      .join(norm.select(col("product_id"), col("price").cast("double").as("p")),
        "product_id")
      .filter(col("price") =!= col("p")).count()
    assert(bad === 0)

    // Second batch: the upsert now unions a DECIMAL prior table with
    // DOUBLE incoming rows — the type-coercion path every batch after
    // the first takes. Updates must win and the at-rest type must hold.
    val v2 = payload
      .withColumn("created_at", col("created_at") + expr("INTERVAL 5 DAYS"))
      .withColumn("price", col("price") + 2.5)
    KafkaShaped.writeTopicFile(v2, "product_id", "products", 2, 1000, in)
    IngestPipeline.start(spark, in, sinks.copy(checkpoint = s"$base/ckpt2"),
      Schemas.productsDesc).awaitTermination()
    val norm2 = spark.read.parquet(sinks.normalized)
    assert(norm2.count() === 12)
    assert(norm2.schema("price").dataType === DecimalType(10, 2))
    val stale = v2.select(col("product_id"), col("price"))
      .join(norm2.select(col("product_id"), col("price").cast("double").as("p")),
        "product_id")
      .filter(col("price") =!= col("p")).count()
    assert(stale === 0, "second-batch updates must land through the decimal prior")
  }

  test("ingest throughput clears the reference's 100 msg/s floor with margin") {
    // The reference's only published performance number is the Kafka
    // produce assertion > 100 msg/s (test_kafka_infrastructure.py:259,
    // BASELINE.md). Drive 5k records through produce + full ingest
    // (decode, validate, dual-sink) and require 5x that floor
    // end-to-end — conservative enough not to flake on a busy box.
    val in = tmp()
    val base = tmp()
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val n = 5000L
    val payload = Generator.products(spark, n, seed = 93)
    val t0 = System.nanoTime()
    KafkaShaped.writeTopicFile(payload, "product_id", "products", 3, 0, in)
    IngestPipeline.start(spark, in, sinks, payload.schema,
      "product_id", "created_at", Validation.productRules).awaitTermination()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(spark.read.parquet(sinks.normalized).count() === n)
    val rate = n / sec
    assert(rate > 500.0, f"end-to-end ingest rate $rate%.0f msg/s below 5x the reference floor")
  }

  test("monitoring listener persists per-batch progress rows (S9/A8)") {
    val in = tmp()
    val base = tmp()
    val progressPath = s"$base/progress"
    val sinks = IngestPipeline.Sinks(s"$base/raw", s"$base/norm", s"$base/rej",
      s"$base/stats", s"$base/ckpt")
    val listener = Monitoring.attach(spark, progressPath)
    try {
      val a = Generator.products(spark, 15, seed = 61)
      KafkaShaped.writeTopicFile(a, "product_id", "products", 2, 0, in)
      val q = IngestPipeline.start(spark, in, sinks, a.schema,
        "product_id", "created_at", Validation.productRules)
      q.awaitTermination()
      // Listener delivery is async — poll briefly.
      var rows = 0L
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (rows == 0 && System.nanoTime() < deadline) {
        Thread.sleep(500)
        rows =
          try spark.read.parquet(progressPath).count()
          catch { case _: Throwable => 0L }
      }
      assert(rows > 0, "no streaming progress rows persisted")
      val p = spark.read.parquet(progressPath)
      assert(p.filter(col("num_input_rows") > 0).count() > 0)
    } finally spark.streams.removeListener(listener)
  }
}
