package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver's parquet tables (the `sf` directories under
  * /root/testdata — sf0.001, sf0.01, sf0.1).
  *
  * All readers are plain `spark.read.parquet` scans — column pruning and
  * predicate pushdown reach the parquet footer (verify with
  * `.explain("formatted")`: `PushedFilters`, `ReadSchema`). No table is
  * cached: at 100 TB a table does not fit in memory and every query
  * should prune its own columns. What this layer does memoize per
  * snapshot is metadata (schemas, row counts) and the few derived
  * frames several queries share ([[shared]]).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else {
      val path = s"$dir/$name.parquet"
      spark.read.schema(schemaOf(spark, path)).parquet(path)
    }

  /** Per-JVM memo of each snapshot file's parquet schema: a bare
    * `spark.read.parquet` launches a footer-reading schema-inference
    * job at DataFrame CONSTRUCTION time, so every plan build paid one
    * tiny cluster job per table before any real work. Supplying the
    * (immutable — same contract as [[rowCount]]) schema explicitly
    * makes construction action-free; at 100 TB this is what a catalog/
    * metastore provides, memoized here because the sandbox reads bare
    * paths. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private def schemaOf(spark: SparkSession, path: String) =
    schemas.computeIfAbsent(path, _ => spark.read.parquet(path).schema)

  /** Events stream table — dual-layout `ts` contract. Snapshot
    * generations have stored `ts` two ways:
    *   - TIMESTAMP(NANOS): Spark's reader rejects it unless
    *     `spark.sql.legacy.parquet.nanosAsLong` makes it arrive as a raw
    *     BIGINT of nanoseconds;
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives natively as
    *     TIMESTAMP_NTZ (the legacy flag is a no-op on this layout).
    * The reader branches on the SCANNED type and normalizes both to:
    *   - `ts_us` — microseconds since epoch (bigint; nanos truncate via
    *     integer division exactly like DuckDB's ns→us read; micros pass
    *     through exact, equal to DuckDB's `epoch_us(ts)`)
    *   - `ts` — TimestampType at microsecond precision, for
    *     window/session operators.
    * The UTC session time zone makes the NTZ→Timestamp cast
    * wall-clock-exact, so both layouts agree with the DuckDB oracle.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Runtime-settable conf: make the nanos layout readable even when the
    // caller's session was not built by Session.builder (round-2 advice).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/events.parquet"
    val schema = schemaOf(spark, path)
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val tsUs = schema("ts").dataType match {
      case LongType                          => expr("ts div 1000")
      case TimestampNTZType | TimestampType  => unix_micros(col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet type $other (expected BIGINT nanos or TIMESTAMP[_NTZ])")
    }
    spark.read.schema(schema).parquet(path)
      .withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  def region(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** JVM-lifetime memo of IMMUTABLE table row counts, keyed by
    * `dir/name`. Some catalog queries size a plan parameter from the
    * corpus count (IVF's k ∝ n); a count is a Spark action, and paying
    * it at every DataFrame CONSTRUCTION makes plan-only consumers
    * (PlanSpec sweeps, dry-run plan inspection) and repeated runs
    * (bench's min-of-3) launch a job per construction. The sf corpora
    * are immutable snapshot directories, so the count is a constant of
    * the path — memoized once per JVM. A pipeline whose input actually
    * changes must publish a NEW snapshot path (the versioned-directory
    * philosophy [[graft.operators.AnnIndexes.retrainIvf]] applies to
    * data too) or call [[invalidateCaches]]. */
  private val rowCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCounts.computeIfAbsent(s"$dir/$name",
      _ => table(spark, dir, name).count())

  /** One eagerly pinned frame per key. The `lazy val` runs the build
    * and its checkpoint outside the map's lock, so a build may read
    * another shared frame (nested `computeIfAbsent` on one map throws
    * "Recursive update"), and concurrent callers block on the holder
    * until the one build lands. */
  private final class Pin(build: () => DataFrame) {
    lazy val frame: DataFrame = build().localCheckpoint()
  }
  private val pins =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Pin]()

  /** The frame `build` derives from the snapshot at `dir`, computed and
    * checkpointed ONCE per (application, dir, name) however many
    * consumers — or concurrent [[graft.Report]] panels — ask: every
    * reader gets the same instance over fully cached partitions, so no
    * reader re-runs its lineage or races another to fill the cache. The
    * build must be a deterministic function of the snapshot (same
    * immutable-path contract as [[rowCount]]), so a memo read cannot
    * differ from a rebuild. The application id keeps a dead context's
    * frames from leaking into a fresh one. */
  def shared(spark: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    pins.computeIfAbsent((spark.sparkContext.applicationId, dir, name),
      _ => new Pin(() => build)).frame

  /** Drop every memo layer (schemas, row counts and [[shared]] frames).
    * The memos' contract is immutable snapshot paths, but round 10
    * proved the testdata CAN be regenerated in place under a warm JVM —
    * after any suspected in-place rewrite (e.g. the schema-drift canary
    * firing), call this so the next construction re-infers from the
    * live footers and rebuilds each shared frame from the live rows. */
  def invalidateCaches(): Unit = {
    schemas.clear(); rowCounts.clear(); pins.clear()
  }
}
