package graft

import org.apache.spark.sql.SparkSession

/** Single SparkSession factory for the engine.
  *
  * Local-mode settings mirror what a cluster deployment would set per
  * executor: UTC session time zone (oracle parity), AQE on (runtime
  * re-planning: broadcast promotion, skew-join splitting, partition
  * coalescing), and shuffle partitions sized to the actual parallelism
  * instead of the 200 default. On a real cluster only
  * `spark.sql.shuffle.partitions` changes (≈ 2-3× total cores).
  *
  * Generated code is compiled once per JVM, not once per stream per
  * batch. Spark keys its codegen cache by (task class loader, source),
  * and with artifact isolation on, every cloned session (one per
  * streaming query, so one per stream and per restart) gets its own
  * executor class loader and compiles every class again. The engine
  * adds no session artifacts (no `addArtifact`/`addJar`), so isolation
  * is off. The cache holds 1000 entries, not 100: each class is keyed
  * once under the driver's loader and once under the executor's, and a
  * perfbench ingest run's ~130 distinct code bodies overflowed 100
  * entries, so the cache evicted classes that later batches needed
  * again. Measured on that run (seed 704): 1 207 compiles before, 181
  * after, together with the per-batch rule in `IngestPipeline`.
  */
object Session {
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      // Engine-native Catalyst expressions (codegen'd vector math) via
      // the public extensions hook.
      .withExtensions(graft.functions.NativeVectorExprs.register _)
      .withExtensions(graft.functions.NativeTextExprs.register _)
      .withExtensions(graft.functions.BloomExprs.register _)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Cost-based optimization (SURVEY §4's ANALYZE analog): with
      // table/column stats present (graft.sources.Stats.analyze), the
      // optimizer estimates filtered/joined cardinalities instead of
      // file sizes — flipping join strategy and join order where the
      // estimates warrant it. Path-based reads without stats are
      // unaffected, so this only ever ADDS information.
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Dual-layout events support: OLDER testdata snapshots stored
      // events.ts as TIMESTAMP(NANOS), readable only as raw-nanos BIGINT
      // under this flag; current snapshots store TIMESTAMP(MICROS) where
      // the flag is a no-op. Kept so either layout reads (Tables.events
      // branches on the scanned type).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
