package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** One compactable index artifact — THE definition of where it lives
  * under its index's dir (`sub`), which column a retraction keys on
  * (`idCol`: doc_id, or vec_id for the ANN artifacts), and its physical
  * layout. Every lifecycle step derives from that one definition on top
  * of the [[Compaction]] primitives, so init, append, compact and
  * retract cannot cluster the same artifact differently.
  *
  * The layout is what makes a persisted index probe-able at scale:
  * [[IndexArtifact.rangeClustered]] range-partitions on the probe key
  * and sorts within each file, so each file covers a NARROW key range
  * and its footer min/max let a key-ranged probe skip whole files, not
  * just row groups (a hash-partitioned file's min/max spans ~the whole
  * key domain). The LSH bands hash-partition instead — a probe pushes
  * literal band keys, so one band per file is the selectivity it needs.
  * The IVF inverted files ([[IndexArtifact.cellPartitioned]]) are
  * DIRECTORY-partitioned by cell, so a probe prunes to its cells by path
  * before reading a row; every write of them, compactions and
  * retractions included, keeps the `cell=` directories.
  * An append lands ONE file per step (per cell directory for a
  * cell-partitioned artifact), sorted by the artifact's keys: a
  * live microbatch appends ~100 documents, and partitioning those rows
  * costs more scheduling (a range-bound sampling job, then a shuffled
  * write) than the rows it orders. An appended file's keys (hashes,
  * band keys, grams) spread over the whole key domain, so its footer
  * min/max do not let a probe skip it, and a microbatch-sized file is
  * one row group; probe selectivity comes back only once [[compact]]
  * restores the clustered layout across the whole chain.
  *
  * Retraction takes an id frame the caller already PINNED
  * ([[IndexArtifact.pinIds]]): [[Compaction.retractWith]] evaluates it
  * more than once, and a lazy frame whose lineage reads this very
  * artifact would re-evaluate after the swap and silently under-retract.
  */
final class IndexArtifact private (sub: String, idCol: String,
    cluster: DataFrame => DataFrame, keys: Seq[String],
    cell: Option[String] = None) {

  private def sorted(rows: DataFrame): DataFrame =
    rows.sortWithinPartitions(keys.map(col): _*)

  /** Clustered by `cluster`, each file sorted by `keys`. */
  private def layout(rows: DataFrame): DataFrame = sorted(cluster(rows))

  /** THE writer — `rows` as parquet at `path`, directory-partitioned by
    * `cell` when the artifact has one. */
  private def put(mode: String)(rows: DataFrame, path: String): Unit = {
    val w = rows.write.mode(mode)
    cell.fold(w)(w.partitionBy(_)).parquet(path)
  }

  /** A whole layout written fresh at `path` — what write, compaction and
    * retraction hand [[Compaction]]. */
  private def rewrite(rows: DataFrame, path: String): Unit =
    put("overwrite")(layout(rows), path)

  def dir(base: String): String = s"$base/$sub"

  /** Replace the artifact with `rows` — a fresh flat layout (any
    * version pointer is reset with it). */
  def write(rows: DataFrame, base: String): Unit = rewrite(rows, dir(base))

  /** Land `rows` beside the live files as ONE file sorted by `keys` (one
    * per cell directory when cell-partitioned, after clearing a takedown
    * sentinel) — one job, no shuffle — manifest-extended when the live
    * tree carries one ([[Compaction.appendInto]]). */
  def append(rows: DataFrame, base: String): Unit =
    Compaction.appendInto(rows.sparkSession, dir(base)) { live =>
      if (cell.isDefined) clearTakedownSentinel(rows.sparkSession, live)
      put("append")(sorted(rows.coalesce(1)), live)
    }

  /** The live rows; `schema` skips inference ([[Compaction.readLive]]). */
  def read(spark: SparkSession, base: String,
      schema: Option[StructType] = None): DataFrame =
    Compaction.readLive(spark, dir(base), schema)

  /** Restore the layout after an append chain — row multiset unchanged. */
  def compact(spark: SparkSession, base: String): Unit =
    withTakedownSentinel(spark, base)(
      Compaction.rewriteWith(spark, dir(base))(rewrite))

  /** Drop every row whose `idCol` is in `pinned` — equals a rebuild
    * without those ids exactly ([[Compaction.retractWith]]). */
  def retract(spark: SparkSession, pinned: DataFrame, base: String): Unit =
    withTakedownSentinel(spark, base)(
      Compaction.retractWith(spark, dir(base), pinned, idCol)(rewrite))

  /** Run a swap; when it leaves a cell-partitioned artifact with no
    * file — a full takedown, whose partitioned write of no rows emits
    * only `_SUCCESS` — write a non-partitioned empty SENTINEL of the
    * pre-swap read-back schema (the cell a data column) into the live
    * tree, so reads return an empty frame instead of failing to infer
    * a schema. The schema comes from the artifact itself, so a future
    * column cannot diverge the sentinel from the data. */
  private def withTakedownSentinel(spark: SparkSession, base: String)(
      swap: => Unit): Unit =
    if (cell.isEmpty) swap
    else {
      val schema = read(spark, base).schema
      swap
      if (Compaction.fileCount(spark, dir(base)) == 0L)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          .write.mode("overwrite").parquet(Compaction.resolve(spark, dir(base)))
    }

  /** A cell-partitioned append beside the takedown sentinel would land
    * `cell=` directories next to a root file, and every later read would
    * die with "conflicting directory structures". So: verify the root
    * files of the live tree really are the 0-row sentinel (anything else
    * is a corrupted layout — fail loudly rather than delete data), then
    * remove them; the append rebuilds the partitioned layout. */
  private def clearTakedownSentinel(spark: SparkSession, live: String): Unit = {
    val p = new Path(live)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val rootParquet = fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (rootParquet.isEmpty) return
    // a mixed root-file + cell= layout is already unreadable; this read
    // fails loudly on it, which is the right outcome
    require(spark.read.parquet(live).isEmpty,
      s"append: $live holds non-empty root parquet files — not the " +
        "takedown sentinel; refusing to touch them")
    rootParquet.foreach(s => fs.delete(s.getPath, false))
  }
}

object IndexArtifact {

  /** Range-partitioned on `keys` and sorted within each file — every
    * document index's layout. */
  def rangeClustered(sub: String, keys: String*): IndexArtifact =
    new IndexArtifact(sub, "doc_id", _.repartitionByRange(keys.map(col): _*), keys)

  /** Hash-partitioned on `part`, sorted within each file by `sort`. */
  def hashClustered(sub: String, idCol: String, part: String,
      sort: String*): IndexArtifact =
    new IndexArtifact(sub, idCol, _.repartition(col(part)), sort)

  /** Directory-partitioned by `cell` (`<sub>/<cell>=N/`), one shuffle
    * partition per cell, sorted within each file by `sort`. */
  def cellPartitioned(sub: String, idCol: String, cell: String,
      sort: String*): IndexArtifact =
    new IndexArtifact(sub, idCol, _.repartition(col(cell)), sort, Some(cell))

  /** The distinct ids of `ids`, materialized once — what a retraction
    * across one or more artifacts takes, so every swap sees the same
    * id set however its lineage reads the artifacts. */
  def pinIds(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    ids.select(idCol).distinct().localCheckpoint()
}

/** A persisted document index: the artifacts it keeps under one dir and
  * how a document frame becomes their rows — one [[derive]]d per-doc
  * frame, each artifact's rows a function of it ([[parts]]). Index rows
  * are a PURE per-doc function of a document (no trained state), so
  * append ≡ rebuild and retract ≡ rebuild-on-complement hold exactly,
  * provided appended doc_ids don't collide with indexed ones (the
  * caller's id authority). Write, append, compaction and retraction all
  * derive from that one definition. */
trait DocIndex {

  /** The per-doc frame every artifact's rows derive from. */
  protected def derive(docs: DataFrame): DataFrame

  /** Whether [[derive]] computes per-doc work on `docs` (a sketch, a
    * signature) rather than projecting columns `docs` already carries. */
  protected def derives(docs: DataFrame): Boolean = true

  /** Each artifact with its rows as a function of [[derive]]'s frame. */
  protected def parts: Seq[(IndexArtifact, DataFrame => DataFrame)]

  final def artifacts: Seq[IndexArtifact] = parts.map(_._1)

  /** Build from `docs` and write every artifact fresh under `base`. */
  def write(docs: DataFrame, base: String): Unit = each(docs)(_.write(_, base))

  /** Build from `docs` and append to every artifact under `base`. */
  def append(docs: DataFrame, base: String): Unit =
    each(docs)(_.append(_, base))

  /** Derive once — pinned eagerly when several artifacts read it and
    * [[derives]] holds, so the per-doc work (a sketch, a signature)
    * runs once rather than once per artifact (and, on a write, per
    * range-bound sample); a projection of pinned columns is not pinned
    * again — then run each artifact's step concurrently ([[Par]]). */
  private def each(docs: DataFrame)(
      step: (IndexArtifact, DataFrame) => Unit): Unit = {
    val derived =
      if (parts.size > 1 && derives(docs)) derive(docs).localCheckpoint()
      else derive(docs)
    Par.run(parts.map { case (a, rows) => () => step(a, rows(derived)) })
  }

  def compact(spark: SparkSession, base: String): Unit =
    IndexSet(this -> base).compact(spark)

  /** Remove every row of the documents in `ids` (a doc_id frame),
    * pinned once across all of this index's artifacts. */
  def retract(spark: SparkSession, ids: DataFrame, base: String): Unit =
    IndexSet(this -> base).retract(spark, ids)
}

/** A document index of one artifact whose rows are [[build]]`(docs)`. */
abstract class OneArtifactIndex(protected val artifact: IndexArtifact)
    extends DocIndex {

  /** The index frame of a document frame. */
  def build(docs: DataFrame): DataFrame

  protected def derive(docs: DataFrame): DataFrame = build(docs)

  protected final def parts: Seq[(IndexArtifact, DataFrame => DataFrame)] =
    Seq(artifact -> identity)

  def read(spark: SparkSession, base: String,
      schema: Option[StructType] = None): DataFrame =
    artifact.read(spark, base, schema)
}

/** The indexes a release or a live stream holds, each placed under its
  * own dir — THE list its init, appends, compaction and retraction
  * iterate, so one place knows every artifact it writes. Members write
  * disjoint dirs, so each step runs them concurrently ([[Par]]). */
final case class IndexSet(members: (DocIndex, String)*) {

  def write(docs: DataFrame): Unit =
    Par.run(members.map { case (ix, d) => () => ix.write(docs, d) })

  /** Start every member's append now; the returned join blocks until
    * all landed ([[Par.deferred]]). */
  def appendDeferred(docs: DataFrame): () => Unit =
    Par.deferred(members.map { case (ix, d) => () => ix.append(docs, d) })

  /** THE admission step — every decide → pin → append path runs it
    * (`AdmissionPipeline.startLive`, `MediaAdmission.startLive`,
    * [[ReleaseFlow.release]], [[MediaReleaseFlow.release]]): pin a
    * batch's `decisions` (its columns plus `reason`) with one EAGER
    * checkpoint, so every reader of them sees the PRE-append index
    * state, then start every member's append of the `reason = admit`
    * slice (`reason` dropped, then shaped by `slice`). Returns (pinned
    * decisions, join); the caller must join before anything reads or
    * re-appends the indexes, also when its own work on the decisions
    * throws. The one place a per-step commit record would hook. */
  def admitDeferred(decisions: DataFrame,
      slice: DataFrame => DataFrame = identity): (DataFrame, () => Unit) = {
    val pinned = decisions.localCheckpoint()
    (pinned, appendDeferred(
      slice(pinned.filter(col("reason") === "admit").drop("reason"))))
  }

  def compact(spark: SparkSession): Unit = each(_.compact(spark, _))

  def retract(spark: SparkSession, ids: DataFrame): Unit =
    retractPinned(spark, IndexArtifact.pinIds(ids))

  def retractPinned(spark: SparkSession, pinned: DataFrame): Unit =
    each(_.retract(spark, pinned, _))

  private def each(step: (IndexArtifact, String) => Unit): Unit =
    Par.run(for ((ix, d) <- members; a <- ix.artifacts)
      yield () => step(a, d))
}
