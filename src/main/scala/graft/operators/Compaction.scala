package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, input_file_name}
import org.apache.spark.sql.types.StructType

/** Artifact COMPACTION — the maintenance half of the index family's
  * append contract. Every release appends new parquet files to the
  * persisted indexes ([[ReleaseFlow.release]] → one append per
  * artifact per shard); append-≡-rebuild holds semantically at any
  * append count, but the PHYSICAL layout decays: after N releases
  * each index is its clustered files plus N appended key-sorted ones,
  * each of whose
  * footer min/max spans about the whole key domain, so a key-ranged
  * probe opens every appended file (it loses the selectivity the
  * range clustering was built for — see [[IndexArtifact]]'s layout
  * argument). The
  * 100 TB story needs the maintenance op that restores the layout:
  * read → re-cluster → rewrite, each index by its own probe key.
  *
  * Contract (CompactionSpec pins it per artifact): compaction
  * preserves the ROW MULTISET exactly — no dedup, no filter — so
  * compact ≡ rebuild ≡ append-chain for every probe, trivially.
  * (Replayed appends' duplicate rows stay; they are screen-tolerated
  * by every consumer and belong to the append contract, not to
  * layout maintenance.)
  *
  * == Reader-atomic swap (version pointer + file manifest) ==
  *
  * No mutation ever touches a tree a reader may have resolved. The
  * artifact dir is a VERSION CONTAINER:
  * {{{
  *   <dir>/_CURRENT        one line, e.g. "v3" — the live version
  *   <dir>/v1 … vN         immutable data trees
  *   <dir>/vK/_MANIFEST    optional: the live FILE SET of vK, one
  *                         dir-relative path per line — present when
  *                         vK was produced by a SCOPED retraction and
  *                         so references surviving files of older
  *                         trees alongside its own rewritten files
  *   <dir>/<files>         the legacy FLAT layout ("v0") — what the
  *                         initial write/append chain produced before
  *                         the first rewrite ever versioned it
  * }}}
  * A whole-artifact rewrite ([[rewriteWith]]) writes a SELF-CONTAINED
  * tree (no manifest) completely beside the live one, then atomically
  * replaces `_CURRENT` ([[flipPointer]], the engine's one pointer
  * writer: `java.nio` ATOMIC_MOVE on a local filesystem; on HDFS the
  * same contract is `FileContext.rename(OVERWRITE)`, on an object store
  * a put-if-match manifest). The IVF retrain flips the same pointer
  * over whole index trees ([[AnnIndexes.retrainIvf]]) and keeps its
  * superseded trees until an explicit [[AnnIndexes.pruneIvfVersions]].
  * A SCOPED retraction ([[retractWith]]) writes ONLY the rewritten
  * slice into the next tree plus a `_MANIFEST` naming (old live set −
  * touched files) + (new files), then flips the same pointer — the
  * table-format snapshot/manifest design (Iceberg/Delta's DELETE), at
  * the cost of one small text file per retraction. Untouched files keep their
  * paths, bytes AND mtimes (they are never copied or deleted — the
  * manifest just keeps referencing them), and the touched files stay
  * physically intact in their superseded tree for in-flight readers,
  * so BOTH paths are reader-atomic and crash-safe: a crash before the
  * flip leaves the old version live and a partial staging tree the
  * next attempt clears; there is no window in which data exists only
  * in a staging location (the round-16 scoped path deleted touched
  * files before grafting their rewrites in — a crash between the two
  * lost the kept rows; CompactionSpec now pins the recovery).
  *
  * Readers resolve the pointer ONCE at plan time ([[resolve]] /
  * [[readLive]] — every index module's read/append goes through one
  * of them) and then touch only immutable files: old rows or new
  * rows, never PATH_NOT_FOUND (CompactionSpec pins readers across
  * both swap kinds). Manifest-bearing reads plan from the explicit
  * file list (grouped per tree so directory-partition columns
  * survive); appends into a manifest-bearing tree go through
  * [[appendInto]], which atomically extends the manifest. All
  * `_`/`.`-prefixed names are ignored by Spark's own file listing, so
  * even a raw directory read of a tree skips the machinery files.
  *
  * GC of superseded trees is [[pruneVersions]] — called after each
  * flip with `keep = 2` (live + one generation for in-flight
  * readers); a tree REFERENCED by any retained version's manifest is
  * never deleted, however old (retraction chains pin their history
  * exactly as Iceberg snapshots pin shared data files; the scheduled
  * COMPACTION writes a self-contained tree, breaking the chain, so
  * the standing maintenance cadence is also the GC release valve).
  * Single-WRITER contract unchanged: rewrites/retracts/appends are
  * scheduled maintenance, not concurrent mutators; a deployment
  * needing concurrent writers is the transactional-table-format
  * regime, where this same scheme is the format's commit protocol.
  *
  * HIGH-FILE-COUNT bound, measured (BENCH_NOTES.md, round 18, at
  * ~34k one-row files — the 100 TB-artifact file-count regime at 2 GB
  * targets): the flat-manifest machinery itself is flat-cheap —
  * `appendInto`'s two tree walks + atomic manifest extension 0.29 s,
  * `pruneVersions` (retained-manifest reads + orphan-GC walk) 4.1 s,
  * and the ~34k-line manifest text reads/writes in milliseconds. What
  * grows linearly with file count is (a) the scoped retract's
  * touched-file DISCOVERY scan (41.7 s — parquet-footer-bound,
  * inherent to finding keys by content at any manifest design) and
  * (b) explicit-file-list PLAN construction in [[readFiles]] (21.1 s —
  * Spark's file-index stat pass over the listed paths, which manifest
  * sharding would not remove either: the plan needs every path
  * regardless of how the list is stored). Sharding the manifest
  * (Iceberg-style, one file per referenced tree) is therefore NOT
  * implemented: at this measured rung it buys nothing the flat file
  * costs, and the two linear terms have their own remedies — bigger
  * files (fewer footers per byte) and the scheduled compaction that
  * folds a chain back into one self-contained tree.
  */
object Compaction {

  private val Pointer = "_CURRENT"
  private val ManifestName = "_MANIFEST"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The artifact's live version, or None for the legacy flat layout
    * (no rewrite has versioned it yet). */
  def currentVersion(spark: SparkSession, dir: String): Option[Int] = {
    val p = new Path(dir, Pointer)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.stripPrefix("v").toInt)
      finally in.close()
    }
  }

  /** Resolve an artifact dir to its LIVE data tree — `<dir>/vN` when a
    * pointer exists, the dir itself (flat layout) otherwise. Every
    * reader and appender of a compactable artifact resolves through
    * here (or [[readLive]]), ONCE per plan; the returned tree is
    * immutable until [[pruneVersions]] retires it. NOTE: a tree
    * produced by a scoped retraction carries a manifest and its live
    * rows span older trees — path-level consumers must go through
    * [[readLive]]/[[liveFilesRelative]], not a raw directory read. */
  def resolve(spark: SparkSession, dir: String): String =
    currentVersion(spark, dir).map(v => s"$dir/v$v").getOrElse(dir)

  /** Write `bytes` as `<under>/<name>` atomically: local filesystems
    * get a true POSIX atomic rename; any other scheme goes through
    * FileContext's OVERWRITE rename (atomic on HDFS). */
  private def atomicWrite(spark: SparkSession, under: Path, name: String,
      bytes: Array[Byte]): Unit = {
    val fs = fsOf(spark, under)
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(under.toUri.getPath)
      java.nio.file.Files.createDirectories(local)
      val tmp = local.resolve(s".$name.tmp")
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(tmp, local.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val tmp = new Path(under, s".$name.tmp")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(under.toUri,
          spark.sparkContext.hadoopConfiguration)
        .rename(tmp, new Path(under, name),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Atomically replace the pointer — the engine's one pointer writer:
    * every artifact swap and the IVF retrain
    * ([[AnnIndexes.retrainIvf]]) flip through here. */
  private[graft] def flipPointer(spark: SparkSession, dir: String, v: Int): Unit =
    atomicWrite(spark, new Path(dir), Pointer,
      s"v$v\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Is `name` part of the version machinery rather than flat data? */
  private def isVersionEntry(name: String): Boolean =
    name == Pointer || name.startsWith(".") || name.matches("v\\d+")

  // ------------------------------------------------------ live file set

  /** The dir-relative manifest of tree `<dir>/<tree>` (tree = "" for
    * the flat layout), or None when the tree is self-contained. */
  private def readManifest(spark: SparkSession, dir: String,
      tree: String): Option[Seq[String]] = {
    val base = if (tree.isEmpty) new Path(dir) else new Path(dir, tree)
    val p = new Path(base, ManifestName)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList)
      finally in.close()
    }
  }

  private def writeManifest(spark: SparkSession, tree: Path,
      entries: Seq[String]): Unit =
    atomicWrite(spark, tree, ManifestName,
      (entries.sorted.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Recursive parquet listing of one TREE, as dir-relative paths.
    * Skips `_`/`.`-prefixed entries (Spark ignores them too) and, at
    * any depth, `v\d+` names — so listing the flat layout never walks
    * sibling version trees, and a crashed staging tree never inflates
    * the count (the round-16 `fileCount` walked `_`-dirs and could
    * wrongly keep a full takedown on the scoped path). */
  private def listTree(spark: SparkSession, dir: String,
      tree: String): Seq[String] = {
    val root = if (tree.isEmpty) new Path(dir) else new Path(dir, tree)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) return Nil
    val dirUri = fs.makeQualified(new Path(dir)).toUri.getPath
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val name = s.getPath.getName
        if (name.startsWith("_") || name.startsWith(".") ||
          name.matches("v\\d+")) Nil
        else if (s.isDirectory) walk(s.getPath)
        else if (name.endsWith(".parquet"))
          Seq(fs.makeQualified(s.getPath).toUri.getPath
            .stripPrefix(dirUri).stripPrefix("/"))
        else Nil
      }
    walk(root)
  }

  /** The tree a dir-relative entry lives in: "v3" or "" (flat). */
  private def treeOf(rel: String): String = {
    val head = rel.takeWhile(_ != '/')
    if (head.matches("v\\d+")) head else ""
  }

  /** One generation's live file set: its manifest when it carries
    * one, its own recursive listing otherwise. */
  private def liveSetOf(spark: SparkSession, dir: String,
      tree: String): Seq[String] =
    readManifest(spark, dir, tree).getOrElse(listTree(spark, dir, tree))

  /** The live FILE SET as dir-relative paths — the manifest when the
    * live tree carries one, its own recursive listing otherwise. This
    * is what a reader plans from and what the fragmentation gauge
    * counts; files outside it (superseded trees, retracted files kept
    * for in-flight readers) are GC territory. */
  private[graft] def liveFilesRelative(spark: SparkSession,
      dir: String): Seq[String] =
    liveSetOf(spark, dir,
      currentVersion(spark, dir).map(v => s"v$v").getOrElse(""))

  /** Read an explicit dir-relative file set, grouped per tree so each
    * group's `basePath` sits directly above its partition directories
    * and directory-partition columns (the IVF `cid`) survive. Groups
    * union by name — identical writer schemas by construction. */
  private[graft] def readFiles(spark: SparkSession, dir: String,
      rels: Seq[String], schema: Option[StructType] = None): DataFrame = {
    require(rels.nonEmpty, s"readFiles: empty file set under $dir")
    val qDir = fsOf(spark, new Path(dir)).makeQualified(new Path(dir))
    rels.groupBy(treeOf).toSeq.sortBy(_._1).map { case (tree, es) =>
      val base = if (tree.isEmpty) qDir else new Path(qDir, tree)
      reader(spark, schema).option("basePath", base.toString)
        .parquet(es.map(e => new Path(qDir, e).toString): _*)
    }.reduce(_.unionByName(_))
  }

  /** THE manifest-aware live read — what every index module's `read`
    * goes through. Self-contained live tree → one directory scan
    * (identical plan to the pre-manifest engine); manifest-bearing →
    * plan from the explicit live file list. Either way the plan is
    * pinned to immutable files at construction time.
    *
    * `schema`, when given, skips parquet schema inference — one footer
    * job per read (per tree group). A reader that re-resolves the same
    * artifact per microbatch passes the schema it resolved once; the
    * live file set is still listed afresh on every call. */
  def readLive(spark: SparkSession, dir: String,
      schema: Option[StructType] = None): DataFrame = {
    val tree = currentVersion(spark, dir).map(v => s"v$v").getOrElse("")
    readManifest(spark, dir, tree) match {
      case Some(entries) => readFiles(spark, dir, entries, schema)
      case None => reader(spark, schema).parquet(resolve(spark, dir))
    }
  }

  private def reader(spark: SparkSession, schema: Option[StructType]) =
    schema.fold(spark.read)(spark.read.schema)

  /** Append through the manifest: run `write` (a mode("append") parquet
    * write) against the live tree, then — if that tree carries a
    * manifest — atomically extend it with the files the write added.
    * Without this, files appended into a post-retraction tree would be
    * invisible to manifest-planned readers. A reader concurrent with
    * the append sees the old manifest or the new one (atomic rename),
    * i.e. pre- or post-append rows — append visibility was never
    * atomic and is not required to be.
    *
    * CRASH semantics (manifest-bearing trees): the parquet append and
    * the manifest extension are two steps, and an append is DURABLE
    * only once the manifest extension lands. A crash between them
    * leaves the written files outside every manifest's live set —
    * invisible to readers, and reclaimed by [[pruneVersions]]' orphan
    * GC rather than surfaced. That is the engine's at-least-once
    * ingest contract: a crashed append reports no success upstream and
    * MUST be replayed (the streaming sinks' checkpoint replay does
    * exactly this); the debris of the half-crashed attempt is garbage,
    * not data loss. Callers that append outside a replayed pipeline
    * must treat an appendInto that did not return as not-appended. */
  private[graft] def appendInto(spark: SparkSession, dir: String)(
      write: String => Unit): Unit = {
    val live = resolve(spark, dir)
    val tree = currentVersion(spark, dir).map(v => s"v$v").getOrElse("")
    readManifest(spark, dir, tree) match {
      case None => write(live)
      case Some(entries) =>
        val before = listTree(spark, dir, tree).toSet
        write(live)
        val added = listTree(spark, dir, tree).filterNot(before)
        if (added.nonEmpty)
          writeManifest(spark, new Path(live), entries ++ added)
    }
  }

  /** GC superseded version trees: keep the newest `keep` generations
    * (the flat legacy layout counts as generation 0) AND any tree a
    * retained generation's manifest still references; delete the rest.
    * The default `keep = 2` retains the live tree plus one for
    * in-flight readers that resolved just before the last flip; a
    * rewrite calls this automatically, so disk stays bounded without
    * an external scheduler — retraction-manifest chains pin their
    * referenced history until the next self-contained compaction
    * breaks the chain. No-op on unversioned artifacts. */
  def pruneVersions(spark: SparkSession, dir: String, keep: Int = 2): Unit = {
    val cur = currentVersion(spark, dir).getOrElse(return)
    val k = keep.max(1)
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    val versions = fs.listStatus(d).map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }.toSeq
    val retained = versions.filter(v => v == cur || v > cur - k)
    val referenced: Set[String] = retained
      .flatMap(v => readManifest(spark, dir, s"v$v").getOrElse(Nil))
      .map(treeOf).toSet
    versions
      .filter(v => v != cur && v <= cur - k && !referenced.contains(s"v$v"))
      .foreach(v => fs.delete(new Path(d, s"v$v"), true))
    // the flat layout is ≥ keep generations old AND unreferenced
    if (cur >= k && !referenced.contains(""))
      fs.listStatus(d).filterNot(s => isVersionEntry(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, true))
    // FILE-level orphan GC inside the trees that remain: a file no
    // RETAINED generation's live set references is unreachable by any
    // supported reader (readers older than the keep window are outside
    // the contract) — typically the touched files a younger scoped
    // retract superseded, i.e. the RECALLED BYTES themselves, which
    // would otherwise sit on disk until the next full compaction.
    // Retained trees' own files are always in their own live set
    // (self-contained = full listing; manifest-bearing = the manifest
    // still lists what that generation's readers need), so this only
    // ever removes files every retained manifest has dropped — plus
    // unpublished debris from a crashed append. The keep-set is a
    // UNION over retained generations (a crashed staging tree counts
    // as one), so any race mistake keeps more, never less.
    val present = fs.listStatus(d).map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }.toSeq
    val keepSet: Set[String] =
      (present.filter(v => v == cur || v > cur - k)
        .flatMap(v => liveSetOf(spark, dir, s"v$v")) ++
        (if (cur < k) listTree(spark, dir, "") else Nil)).toSet
    (present.map(v => s"v$v") :+ "").foreach { tree =>
      listTree(spark, dir, tree).filterNot(keepSet)
        .foreach(rel => fs.delete(new Path(d, rel), false))
    }
  }

  /** Read the live set, hand it to `write` with the next version's
    * staging path, flip the pointer. The writer is the artifact's own
    * ([[IndexArtifact]] passes its one writer: cluster + sort, plus the
    * IVF inverted files' `partitionBy(cid)` directory layout, which a
    * plain parquet write would flatten and so lose the path-level cell
    * pruning probes rely on). The new tree completes before the pointer
    * moves, so a crash mid-compaction leaves the old version live and
    * a partial staging tree the next attempt clears — never a
    * half-written live artifact. The new tree is SELF-CONTAINED (no
    * manifest): a compaction folds any retraction chain back into one
    * tree, which is also what lets [[pruneVersions]] release the
    * chain's history. */
  private[graft] def rewriteWith(spark: SparkSession, dir: String)(
      write: (DataFrame, String) => Unit): Unit = {
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    require(fs.exists(d), s"compact: no artifact at $dir")
    val next = currentVersion(spark, dir).getOrElse(0) + 1
    val staging = new Path(d, s"v$next")
    if (fs.exists(staging)) fs.delete(staging, true) // crashed prior attempt
    write(readLive(spark, dir), staging.toString)
    flipPointer(spark, dir, next)
    pruneVersions(spark, dir)
  }

  /** RETRACTION primitive — drop every row of the artifact at `dir`
    * whose `keyCol` (doc_id for the document indexes, vec_id for the
    * ANN ones) is in `ids`, writing what is kept through the artifact's
    * own `write` ([[rewriteWith]]'s writer contract). Because every
    * index row is a PURE per-doc function of a document (the append
    * contract's own premise), the anti-join equals a rebuild over the
    * complement corpus EXACTLY — retraction is the recall half of
    * append-≡-rebuild, and RetractSpec pins the multiset equality both
    * ways (vs the pristine pre-release artifact and vs a fresh
    * complement rebuild).
    *
    * SCOPED by default (the IndexIVF `remove_ids` cost model): one
    * column-pruned scan of (`keyCol`, file) finds the files holding
    * retracted keys, and ONLY those are rewritten — a 10-doc takedown
    * against a doc-clustered or cid-partitioned artifact rewrites a
    * handful of files into the next version tree, whose `_MANIFEST`
    * keeps referencing every untouched file in place (bytes and
    * mtimes intact — AnnIndexSpec pins it), and the `_CURRENT` flip
    * publishes the whole change atomically. The writer receives either
    * that touched-file slice or, when the id set touches EVERY live
    * file (gram-keyed artifacts scatter each doc everywhere — the span
    * index's normal case), the whole surviving artifact through the
    * [[rewriteWith]] path, which also restores the probe-keyed
    * clustering — identical obligations. `ids` is bounded by a
    * release's admitted set — shard-sized, never corpus-sized — hence
    * the broadcast; batch recalls should union their id lists first.
    * Caller pins `ids` ([[ReleaseFlow.retract]]'s discipline) — it is
    * evaluated more than once here. */
  private[graft] def retractWith(spark: SparkSession, dir: String,
      ids: DataFrame, keyCol: String = "doc_id")(
      write: (DataFrame, String) => Unit): Unit = {
    val d = new Path(dir)
    val fs = fsOf(spark, d)
    require(fs.exists(d), s"retract: no artifact at $dir")
    val cur = currentVersion(spark, dir)
    val liveRel = liveFilesRelative(spark, dir)
    val df = readFiles(spark, dir, liveRel)
    val qDirUri = fs.makeQualified(d).toUri.getPath
    val touched = df.withColumn("_f", input_file_name())
      .join(broadcast(ids), Seq(keyCol), "left_semi")
      .select("_f").distinct().collect()
      .map(f => new Path(f.getString(0)).toUri.getPath
        .stripPrefix(qDirUri).stripPrefix("/"))
    if (touched.isEmpty) return // unknown ids: a no-op, not a rewrite
    if (touched.length >= liveRel.length) {
      // every live file holds retracted keys — the scoped rewrite
      // would be a full rewrite anyway; take the whole-artifact path,
      // which also restores clustering and breaks any manifest chain
      retractFull(spark, dir, ids, keyCol, df.columns.toIndexedSeq)(write)
      return
    }
    val next = cur.getOrElse(0) + 1
    val staging = new Path(d, s"v$next")
    if (fs.exists(staging)) fs.delete(staging, true) // crashed prior attempt
    // per-tree basePath read keeps directory-partition columns (the
    // IVF cid) in the touched-slice schema, so the writer's
    // partitionBy still sees them
    val kept = readFiles(spark, dir, touched.toIndexedSeq)
      .join(broadcast(ids), Seq(keyCol), "left_anti")
      .select(df.columns.toIndexedSeq.map(col): _*)
    write(kept, staging.toString)
    // publish: the next tree's manifest = (old live set − touched) +
    // the rewritten files, then one atomic pointer flip. Nothing was
    // deleted or moved — a crash anywhere before the flip leaves the
    // old version fully live, and in-flight readers of it keep every
    // file they resolved.
    val touchedSet = touched.toSet
    val manifest = liveRel.filterNot(touchedSet) ++
      listTree(spark, dir, s"v$next")
    writeManifest(spark, staging, manifest)
    flipPointer(spark, dir, next)
    pruneVersions(spark, dir)
  }

  /** The whole-artifact retraction: anti-join everything, rewrite as
    * one versioned swap ([[rewriteWith]]). */
  private def retractFull(spark: SparkSession, dir: String, ids: DataFrame,
      keyCol: String, columns: Seq[String])(
      write: (DataFrame, String) => Unit): Unit =
    rewriteWith(spark, dir) { (df, staging) =>
      // a USING-column join reorders the key to the front — restore
      // the artifact's own column order so the rewritten schema is
      // stable
      val kept = df.join(broadcast(ids), Seq(keyCol), "left_anti")
        .select(columns.map(col): _*)
      write(kept, staging)
    }

  /** Parquet file count of the artifact's LIVE SET — the fragmentation
    * gauge a compaction schedule watches (CompactionSpec asserts it
    * shrinks; BENCH_NOTES prices the probe cost it buys back).
    * Manifest-aware: counts exactly what a reader plans over, so
    * superseded trees, retained-for-readers retracted files, and
    * crashed staging debris never inflate it. */
  def fileCount(spark: SparkSession, dir: String): Long =
    liveFilesRelative(spark, dir).length.toLong
}
