package graft

import java.nio.file.Files

import graft.sources.Generator
import graft.streaming.PartitionedUpsert
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hash-partitioned upsert: bucket pruning (the O(touched) claim),
  * latest-wins parity with the whole-table sink, point lookups, and
  * per-bucket crash recovery. */
class PartitionedUpsertSpec extends AnyFunSuite {

  private lazy val spark = Session.get()
  private val B = 16

  private def tmp(): String =
    Files.createTempDirectory("graft_pupsert_").toString

  private def products(n: Long, seed: Long) =
    Generator.products(spark, n, seed)
      .withColumn("_src_offset", col("stock_quantity").cast("long"))

  test("first batch lands; readAll returns exactly the incoming keys") {
    val path = tmp()
    val v1 = products(50, seed = 21)
    val touched = PartitionedUpsert.upsert(spark, path, v1, "product_id",
      Seq("created_at", "_src_offset"), B)
    assert(touched.nonEmpty && touched.forall(b => b >= 0 && b < B))
    val all = PartitionedUpsert.readAll(spark, path, B).get
    assert(all.count() === 50)
    assert(all.select("product_id").distinct().count() === 50)
  }

  test("a small batch touches only its keys' buckets; others are not rewritten") {
    val path = tmp()
    val v1 = products(60, seed = 22)
    PartitionedUpsert.upsert(spark, path, v1, "product_id",
      Seq("created_at", "_src_offset"), B)
    // Snapshot per-bucket modification times.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtimes: Map[String, Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(path))
        .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val before = mtimes
    Thread.sleep(1100)

    // One updated key → exactly one bucket rewritten.
    val one = products(60, seed = 22).filter(col("stock_quantity") >= 0).limit(1)
      .withColumn("created_at", col("created_at") + expr("INTERVAL 3 DAYS"))
    val touched = PartitionedUpsert.upsert(spark, path, one, "product_id",
      Seq("created_at", "_src_offset"), B)
    assert(touched.size === 1, s"one key must touch one bucket, got $touched")
    val after = mtimes
    val changed = after.filter { case (k, t) => before.get(k).exists(_ != t) }.keySet
    assert(changed === Set(s"bucket=${touched.head}"),
      s"only the touched bucket may change; changed = $changed")
    // Untouched keys' rows are intact.
    assert(PartitionedUpsert.readAll(spark, path, B).get.count() === 60)
  }

  test("latest-wins semantics match the whole-table sink's tie-break rules") {
    val path = tmp()
    val v1 = products(30, seed = 23)
    PartitionedUpsert.upsert(spark, path, v1, "product_id",
      Seq("created_at", "_src_offset"), B)
    // Newer version for every key → all rows replaced.
    val v2 = v1.withColumn("created_at", col("created_at") + expr("INTERVAL 10 DAYS"))
      .withColumn("price", col("price") + 1.0)
    PartitionedUpsert.upsert(spark, path, v2, "product_id",
      Seq("created_at", "_src_offset"), B)
    val all = PartitionedUpsert.readAll(spark, path, B).get
    assert(all.count() === 30)
    val minCreated = v2.agg(min("created_at")).collect()(0).getTimestamp(0)
    assert(all.filter(col("created_at") < minCreated).count() === 0)
    // Replay of v1 (older) must change nothing.
    PartitionedUpsert.upsert(spark, path, v1, "product_id",
      Seq("created_at", "_src_offset"), B)
    val replayed = PartitionedUpsert.readAll(spark, path, B).get
    assert(replayed.filter(col("created_at") < minCreated).count() === 0,
      "an older replayed batch must not regress any key")
  }

  test("point lookup opens exactly the key's bucket and finds it") {
    val path = tmp()
    val v1 = products(40, seed = 24)
    PartitionedUpsert.upsert(spark, path, v1, "product_id",
      Seq("created_at", "_src_offset"), B)
    val key = v1.select("product_id").collect()(7).getString(0)
    val hit = PartitionedUpsert.readBucketOf(spark, path, key, B).get
    assert(hit.filter(col("product_id") === key).count() === 1)
    // The driver-side hash agrees with the SQL-side bucket assignment.
    val sqlBucket = v1.filter(col("product_id") === key)
      .select(PartitionedUpsert.bucketOf(col("product_id"), B)).collect()(0).getInt(0)
    assert(PartitionedUpsert.bucketOfKey(key, B) === sqlBucket)
  }

  test("bucketOf agrees with bucketOfKey for non-string pks (cast-to-string hash)") {
    // bucketOfKey hashes the key's string form; bucketOf must match for
    // an int pk, or point lookups silently open the wrong bucket.
    val rows = spark.range(200)
      .select(col("id").cast("int").as("k"),
        PartitionedUpsert.bucketOf(col("id").cast("int"), B).as("b"))
      .collect()
    rows.foreach { r =>
      assert(PartitionedUpsert.bucketOfKey(r.getInt(0).toString, B) === r.getInt(1),
        s"bucket mismatch for int key ${r.getInt(0)}")
    }
  }

  test("a bucket mid-rotation (only .bak present) is recovered, others unaffected") {
    val path = tmp()
    val v1 = products(40, seed = 25)
    val touched = PartitionedUpsert.upsert(spark, path, v1, "product_id",
      Seq("created_at", "_src_offset"), B)
    // Simulate the crash window on one bucket: live dir rotated to .bak.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = touched.head
    fs.rename(new org.apache.hadoop.fs.Path(s"$path/bucket=$victim"),
      new org.apache.hadoop.fs.Path(s"$path/bucket=$victim.bak"))
    val all = PartitionedUpsert.readAll(spark, path, B).get
    assert(all.count() === 40, "the crashed bucket must be served from its backup")
    // The next upsert through the bucket heals it.
    val more = products(40, seed = 25).limit(3)
    PartitionedUpsert.upsert(spark, path, more, "product_id",
      Seq("created_at", "_src_offset"), B)
    assert(PartitionedUpsert.readAll(spark, path, B).get.count() === 40)
  }

  test("a failing bucket merge is rethrown only after every other bucket landed") {
    val path = tmp()
    val v1 = products(60, seed = 26)
    val touched = PartitionedUpsert.upsert(spark, path, v1, "product_id",
      Seq("created_at", "_src_offset"), B)
    assert(touched.size > 2)
    // the victim's prior table is one unreadable parquet file, so its
    // merge throws as soon as it resolves the table
    val victim = touched.head
    val vdir = java.nio.file.Paths.get(s"$path/bucket=$victim")
    Files.list(vdir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .foreach(Files.delete)
    Files.write(vdir.resolve("part-0.parquet"), "not parquet".getBytes)
    val others = touched.filterNot(_ == victim)
    // a swap writes fresh (uuid-named) part files, so a bucket whose
    // file set changed has been swapped
    def partFiles(b: Int): Set[String] =
      new java.io.File(s"$path/bucket=$b").list().filter(_.endsWith(".parquet")).toSet
    val prior = others.map(b => b -> partFiles(b)).toMap
    val v2 = v1.withColumn("created_at", col("created_at") + expr("INTERVAL 10 DAYS"))
    val minCreated = v2.agg(min("created_at")).collect()(0).getTimestamp(0)
    intercept[Exception](PartitionedUpsert.upsert(spark, path, v2, "product_id",
      Seq("created_at", "_src_offset"), B))
    // the state at the moment upsert threw, read without a Spark job
    val atThrow = others.map(b => b -> partFiles(b)).toMap
    assert(!new java.io.File(path).list().exists(_.endsWith(".tmp")),
      "no bucket swap may still be in flight once upsert has thrown")
    val unswapped = others.filter(b => atThrow(b) == prior(b))
    assert(unswapped.isEmpty, s"buckets not yet swapped when upsert threw: $unswapped")
    others.foreach { b =>
      val rows = spark.read.parquet(s"$path/bucket=$b")
      val want = v2.filter(PartitionedUpsert.bucketOf(col("product_id"), B) === b)
      assert(rows.count() === want.count(), s"bucket $b")
      assert(rows.filter(col("created_at") < minCreated).count() === 0,
        s"bucket $b must hold its merged rows")
    }
  }

  /** The Spark jobs `body` runs on this thread. */
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

  test("readAll and colocatedJoin resolve each table's schema once, not " +
      "once per live bucket") {
    val left = tmp()
    val right = tmp()
    val v1 = products(80, seed = 27)
    val touched = PartitionedUpsert.upsert(spark, left, v1, "product_id",
      Seq("created_at", "_src_offset"), B)
    PartitionedUpsert.upsert(spark, right,
      v1.select(col("product_id"), col("created_at").as("snap_at"),
        col("_src_offset").as("snap_off")),
      "product_id", Seq("snap_at", "snap_off"), B)
    assert(touched.size >= 8, s"too few live buckets to tell: $touched")
    // resolving the frames runs only footer-inference jobs: one per table
    val readJobs = jobsOf("readAll-schema")(PartitionedUpsert.readAll(spark, left, B))
    assert(readJobs <= 1, s"$readJobs jobs to resolve ${touched.size} buckets")
    val joinJobs = jobsOf("colocated-schema")(
      PartitionedUpsert.colocatedJoin(spark, left, right, "product_id", B))
    assert(joinJobs <= 2, s"$joinJobs jobs to resolve ${touched.size} bucket pairs")
    assert(PartitionedUpsert.readAll(spark, left, B).get.count() === 80)
    assert(PartitionedUpsert.colocatedJoin(spark, left, right, "product_id", B)
      .get.count() === 80)
  }
}
