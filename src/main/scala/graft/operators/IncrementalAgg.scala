package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-maintained aggregate state (materialized-view refresh):
  * a persisted per-key (count, decimal sum, max) table that new batches
  * MERGE into, so a daily refresh costs O(delta + state) — the base
  * corpus is never rescanned. The reference has no notion of this (its
  * queries always recompute); at 100 TB it is the difference between a
  * minutes-long delta merge and a full-corpus aggregation per refresh.
  *
  * The merge is exactly Spark's partial-aggregation algebra lifted to
  * storage: count and decimal sum are abelian-group partials (merge =
  * add, order-independent, engine-exact), max is a semilattice (merge =
  * max). Append-only by construction — deletes would need signed
  * retraction rows, which sums support but max does not (a retracted
  * max forces a per-key rescan); see CDC compaction (q62) for the
  * replace-style alternative.
  *
  * == Storage: versioned, atomically-committed state ==
  *
  * `statePath` is a directory of immutable version snapshots
  * `statePath/v<id>`. A refresh writes the merged state to a staging dir
  * (`statePath/.tmp-<id>`), then commits it with one atomic directory
  * rename; older versions are pruned only after the rename succeeds. So
  * at every instant there is exactly one complete committed snapshot: a
  * crash mid-write leaves only staging garbage (overwritten on retry),
  * a crash after the rename leaves the new snapshot committed. This is
  * what makes the streaming `*Once` entry points exactly-once rather
  * than at-least-once: the committed version id doubles as the replay
  * marker, and there is no window where a marker exists without its
  * state (or state without its marker) — the failure mode of the
  * earlier write-then-touch-marker scheme. Versioning also removes the
  * read-while-overwrite hazard, so no localCheckpoint staging is needed.
  *
  * Scale shape: the delta aggregates with map-side combine before its
  * one shuffle on the key; the merge joins state with the delta on the
  * key (both already key-unique, so the join is 1:1 full-outer); state
  * size is bounded by key cardinality, not corpus size. The rename
  * commit is metadata-only on HDFS-like stores; object stores without
  * atomic rename would swap a manifest pointer instead (same protocol
  * as table formats' commit files).
  */
object IncrementalAgg {

  private val VersionRe = "v(\\d+)".r

  /** State paths already migration-checked this JVM: migrateLegacy is a
    * one-time layout upgrade, but latestVersion runs on EVERY micro-batch
    * (incrementalDedupOnce calls it three times per batch) — without the
    * memo each call pays 2-3 recursive listings plus a `_batch_*` marker
    * sweep even on an already-versioned dir, overhead that multiplies on
    * object stores where LIST is a paid round-trip. */
  private val migrationChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def fsOf(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed version ids under `statePath`, ascending. */
  private def versions(spark: SparkSession, statePath: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = fsOf(spark, statePath)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(id) if st.isDirectory => Some(id.toLong)
        case _ => None
      }
    }.sorted
  }

  /** One-time migration from the pre-versioning flat layout (parquet
    * part files directly under `statePath`, optionally with `_batch_<id>`
    * markers): without this, a legacy state dir has no `v*` subdirs, so
    * the next refresh would silently re-bootstrap from the delta alone —
    * discarding the existing state. Flat data files move via a staged
    * rename into `v<max marker id>` (the legacy replay horizon — so a
    * replay of an already-merged batchId still skips, keeping
    * exactly-once across the migration), or `v0` when no marker
    * survives; markers and staging leftovers are then removed. */
  private def migrateLegacy(spark: SparkSession, statePath: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs = fsOf(spark, statePath)
    if (!fs.exists(root)) return
    val entries = fs.listStatus(root).toSeq
    val hasVersions = entries.exists(st =>
      st.isDirectory && VersionRe.pattern.matcher(st.getPath.getName).matches())
    val flatData = entries.filter(st => st.isFile && {
      val n = st.getPath.getName
      n.endsWith(".parquet") || n == "_SUCCESS"
    })
    if (!hasVersions && flatData.exists(_.getPath.getName.endsWith(".parquet"))) {
      val MarkerRe = "_batch_(\\d+)".r
      val horizon = entries.map(_.getPath.getName).collect {
        case MarkerRe(id) => id.toLong
      }.maxOption.getOrElse(0L)
      val tmp = new org.apache.hadoop.fs.Path(s"$statePath/.tmp-migrate")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      fs.mkdirs(tmp)
      flatData.foreach { st =>
        if (!fs.rename(st.getPath,
            new org.apache.hadoop.fs.Path(tmp, st.getPath.getName)))
          throw new java.io.IOException(
            s"legacy state migration: move ${st.getPath} failed")
      }
      if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(s"$statePath/v$horizon")))
        throw new java.io.IOException(
          s"legacy state migration: commit $tmp -> $statePath/v$horizon failed")
    }
    // markers from the old write-then-marker scheme are dead weight now
    entries.foreach { st =>
      if (st.getPath.getName.startsWith("_batch_"))
        { fs.delete(st.getPath, true); () }
    }
  }

  /** Latest committed version id, if any state has been committed.
    * Migrates a legacy flat-parquet state dir to `v0` first, so existing
    * state is never silently discarded by a re-bootstrap. */
  def latestVersion(spark: SparkSession, statePath: String): Option[Long] = {
    if (migrationChecked.add(statePath)) migrateLegacy(spark, statePath)
    versions(spark, statePath).lastOption
  }

  /** Read the latest committed state snapshot. A segment-manifest state
    * ([[appendOnce]]) resolves its single data part (tombstones applied);
    * a rewrite-protocol state reads its version dir as before. */
  def readState(spark: SparkSession, statePath: String): DataFrame = {
    val v = latestVersion(spark, statePath).getOrElse(
      throw new IllegalStateException(s"no committed state under $statePath"))
    (singleDataPart(spark, statePath),
        readManifest(spark, s"$statePath/v$v")) match {
      case (Some(part), _) => readStatePart(spark, statePath, part)
      case (None, Some(m)) => throw new IllegalStateException(
        s"$statePath is a multi-part state (${m.parts.keys.toSeq.sorted
          .mkString(", ")}) — read it with readStatePart")
      case _ => spark.read.parquet(s"$statePath/v$v")
    }
  }

  /** Retract rows from a ROW-LOCAL state (one whose rows are pure
    * per-source-row functions — the chunk/IVF/JL index shape): for such
    * states dropping the rows provably equals a rebuild on the surviving
    * sources, because each row's presence depends only on its own source
    * row. On a SEGMENT-MANIFEST state (committed by [[appendOnce]]) the
    * retraction commits as a TOMBSTONE segment — O(deletes) written, the
    * committed data bytes untouched; [[readState]] applies tombstones as
    * a broadcast anti-join and [[compactRows]] folds them on an amortized
    * schedule. On a legacy rewrite state it falls back to committing the
    * anti-joined state. `deleteKeys`' columns may be any subset of the
    * state's columns (delete every chunk of a doc by doc_id); absent keys
    * no-op. NOT valid for aggregate states (df counts, sums) — those need
    * their own subtraction algebra (see Bm25Index.retractFromIndex). */
  def retractRows(
      spark: SparkSession, statePath: String, deleteKeys: DataFrame,
      batchId: Long): Unit = {
    require(latestVersion(spark, statePath).nonEmpty,
      s"retractRows: no committed state under $statePath")
    val state = readState(spark, statePath)
    val dcols = deleteKeys.columns.toSeq
    require(dcols.nonEmpty && dcols.forall(state.columns.contains),
      s"delete-key columns $dcols must exist in the state schema")
    singleDataPart(spark, statePath) match {
      case Some(part) =>
        appendOnceWithParts(spark, statePath, batchId,
          appendDeltas = Seq(tombstonePart(part) -> deleteKeys.distinct()))
      case None =>
        val next = state.join(
          org.apache.spark.sql.functions.broadcast(deleteKeys.distinct()),
          dcols, "left_anti")
        refreshOnceWith(spark, statePath, next, batchId, (_, dl) => dl)
    }
  }

  /** How many committed versions each commit RETAINS (latest included):
    * `spark.graft.state.retainVersions`, default 2. Eager prune-to-one
    * (the pre-r20 behavior, retention 1) breaks any concurrent reader
    * still bound to the previous version the instant the next commit
    * lands; a window of K lets a reader opened against v_n materialize
    * correctly until K-1 further commits have happened — the standard
    * table-format answer (Delta/Iceberg retention). Storage stays bounded
    * at ≤ K version dirs (small by contract for append states — the
    * corpus-sized bytes live in shared segments, swept only when NO
    * retained manifest references them). */
  private def retainVersions(spark: SparkSession): Int =
    confNumber(spark, "spark.graft.state.retainVersions", "2",
      "a positive integer")(_.toInt)(_ >= 1)

  /** A numeric state conf, or an IllegalArgumentException that names the
    * conf and the value it could not use. */
  private def confNumber[T](
      spark: SparkSession, key: String, default: String, what: String)(
      parse: String => T)(valid: T => Boolean): T = {
    val raw = spark.conf.get(key, default)
    def bad = new IllegalArgumentException(s"$key must be $what, got '$raw'")
    val v = try parse(raw.trim)
      catch { case _: NumberFormatException => throw bad }
    if (!valid(v)) throw bad
    v
  }

  /** Delete versions behind the retention window, then sweep segment
    * dirs no RETAINED manifest references (a fold's dropped segments stay
    * on disk while an older retained manifest still names them — that is
    * exactly what keeps the bound reader alive). `latestManifest` is the
    * just-committed manifest, passed in memory so the common case reads
    * only the K-1 older manifest files. */
  private def pruneBehindRetention(
      spark: SparkSession, statePath: String, newId: Long, retain: Int,
      latestManifest: Option[Seq[(String, Vector[SegMeta])]]): Unit = {
    val fs = fsOf(spark, statePath)
    val vs = versions(spark, statePath)
    val keep = vs.takeRight(retain)
    vs.filterNot(keep.contains).foreach { old =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$statePath/v$old"), true)
    }
    val segRoot = new org.apache.hadoop.fs.Path(s"$statePath/seg")
    if (!fs.exists(segRoot)) return
    // union of every retained manifest's live segments, per part
    val live = scala.collection.mutable.Map.empty[String, Set[String]]
    def add(parts: Seq[(String, Vector[SegMeta])]): Unit =
      parts.foreach { case (part, segs) =>
        live(part) = live.getOrElse(part, Set.empty) ++ segs.map(_.name)
      }
    keep.foreach { v =>
      if (v == newId && latestManifest.isDefined) add(latestManifest.get)
      else readManifest(spark, s"$statePath/v$v").foreach(m => add(m.parts.toSeq))
    }
    fs.listStatus(segRoot).foreach { pdir =>
      val keepSegs = live.getOrElse(pdir.getPath.getName, Set.empty)
        .map(n => s"$SegCol=$n")
      fs.listStatus(pdir.getPath).foreach { sdir =>
        if (!keepSegs.contains(sdir.getPath.getName))
          { fs.delete(sdir.getPath, true); () }
      }
    }
  }

  /** Name of the commit lease file under a state path. */
  private val LockFile = "_lock"

  /** Age (ms) past which a leftover lease from a crashed writer may be
    * broken: `spark.graft.state.lockStaleMs`, default 10 minutes. */
  private def lockStaleMs(spark: SparkSession): Long =
    confNumber(spark, "spark.graft.state.lockStaleMs", "600000",
      "a non-negative number of milliseconds")(_.toLong)(_ >= 0L)

  /** Create-exclusive LEASE serializing commits on one state path: the
    * whole commit protocol (entry read → staging writes → publishing
    * rename → retention prune) runs while holding `statePath/_lock`, so
    * a second writer raises BEFORE doing any work — not after the first
    * writer's rename already clobbered (the r19 residual window). The
    * create is atomic on HDFS-semantics stores; on object stores without
    * atomic create, pair the state with an external coordination lock —
    * [[requireNoVersionDrift]] stays active inside the lease as the
    * backstop either way (it also catches a lease broken by age racing
    * the original writer's rename). A lease left by a CRASHED writer is
    * broken once it is older than `spark.graft.state.lockStaleMs`
    * (default 10 min — longer than any commit's staging writes should
    * take; raise it for very large folds). */
  private def withCommitLock[T](
      spark: SparkSession, statePath: String)(body: => T): T = {
    val staleMs = lockStaleMs(spark)
    val fs = fsOf(spark, statePath)
    val root = new org.apache.hadoop.fs.Path(statePath)
    if (!fs.exists(root)) fs.mkdirs(root)
    val lock = new org.apache.hadoop.fs.Path(s"$statePath/$LockFile")
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(
          (java.lang.management.ManagementFactory.getRuntimeMXBean.getName +
            "\n").getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    var acquired = tryAcquire()
    if (!acquired) {
      // age-based break for a crashed writer's leftover lease; if the
      // holder released (or another breaker won) between our failed
      // create and the status read, just try once more
      val stale = (try Some(fs.getFileStatus(lock))
        catch { case _: java.io.FileNotFoundException => None })
        .forall(st => System.currentTimeMillis() - st.getModificationTime >
          staleMs)
      if (stale) { fs.delete(lock, false); acquired = tryAcquire() }
    }
    if (!acquired)
      throw new java.util.ConcurrentModificationException(
        s"$statePath: commit lease '$LockFile' is held by another live " +
          "writer — the versioned-commit protocol is single-writer " +
          "(serialize ingest, takedown and maintenance against one state " +
          "path; a crashed writer's lease breaks after " +
          "spark.graft.state.lockStaleMs)")
    try body finally { fs.delete(lock, false); () }
  }

  /** Single-writer enforcement, layer two: the commit protocol derives
    * each merged snapshot from the version read at ENTRY, so two writers
    * interleaving on one state would silently clobber each other's
    * commits (last rename wins, first writer's delta vanishes).
    * Re-listing the versions immediately before the rename turns that
    * silent loss into a raise: any version committed since entry means
    * another writer is live. [[withCommitLock]] normally prevents ever
    * reaching this point — the recheck is the backstop for stores whose
    * lease create is not atomic and for a lease broken by age while its
    * writer was merely slow. */
  private def requireNoVersionDrift(
      spark: SparkSession, statePath: String,
      expectedPrev: Option[Long]): Unit = {
    val now = versions(spark, statePath).lastOption
    if (now != expectedPrev)
      throw new java.util.ConcurrentModificationException(
        s"$statePath: committed version drifted from " +
          s"${expectedPrev.fold("<none>")(v => s"v$v")} to " +
          s"${now.fold("<none>")(v => s"v$v")} during this commit — a " +
          "concurrent writer is live on this state; the versioned-commit " +
          "protocol is single-writer (serialize ingest and takedown " +
          "against one state path)")
  }

  /** Write `merged` to staging, atomically rename it to version `id`,
    * then prune versions behind the retention window (prune only AFTER
    * the commit, so a crash at any point leaves a complete committed
    * snapshot). `expectedPrev` is the version the merge was derived
    * from — drift raises. */
  private def commit(
      spark: SparkSession, statePath: String, id: Long,
      merged: DataFrame, expectedPrev: Option[Long]): Unit = {
    val retain = retainVersions(spark)
    val tmp = s"$statePath/.tmp-$id"
    merged.write.mode("overwrite").parquet(tmp)
    requireNoVersionDrift(spark, statePath, expectedPrev)
    val fs = fsOf(spark, statePath)
    val dest = new org.apache.hadoop.fs.Path(s"$statePath/v$id")
    if (fs.exists(dest)) fs.delete(dest, true)
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dest))
      throw new java.io.IOException(s"commit rename $tmp -> $dest failed")
    pruneBehindRetention(spark, statePath, id, retain, None)
    // sweep staging leftovers from crashed earlier commits (the writer is
    // single here, so anything .tmp-* other than our just-renamed dir is
    // garbage)
    fs.listStatus(new org.apache.hadoop.fs.Path(statePath)).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp-"))
        { fs.delete(st.getPath, true); () }
    }
  }

  /** Merge `delta` with the latest committed snapshot (or bootstrap from
    * the delta alone) and commit the result as version `newId`. */
  private def mergeCommit(
      spark: SparkSession, statePath: String, newId: Long, delta: DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): Unit =
    withCommitLock(spark, statePath) {
      val prev = latestVersion(spark, statePath)
      val merged = prev match {
        case None => delta
        case Some(v) => merge(spark.read.parquet(s"$statePath/v$v"), delta)
      }
      commit(spark, statePath, newId, merged, prev)
    }

  private def deltaAgg(batch: DataFrame, keyCol: String, valueCol: String) =
    batch.groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast(DecimalType(18, 2))).cast(DecimalType(38, 2))
          .as("vsum"),
        max(col(valueCol).cast("long")).as("vmax"))

  private def aggMerge(keyCol: String)(state: DataFrame, delta: DataFrame) =
    state.as("s").join(delta.as("d"), Seq(keyCol), "full_outer")
      .select(col(keyCol),
        (coalesce(col("s.cnt"), lit(0L)) + coalesce(col("d.cnt"), lit(0L)))
          .as("cnt"),
        (coalesce(col("s.vsum"), lit(0).cast(DecimalType(38, 2))) +
          coalesce(col("d.vsum"), lit(0).cast(DecimalType(38, 2))))
          .cast(DecimalType(38, 2)).as("vsum"),
        greatest(col("s.vmax"), col("d.vmax")).as("vmax"))

  /** Merge `batch` into the aggregate state at `statePath` (bootstraps
    * the state on first call) and return the refreshed state. Each call
    * commits a new version (latest + 1) — batch-refresh semantics where
    * every invocation merges. */
  def refresh(
      spark: SparkSession, statePath: String, batch: DataFrame,
      keyCol: String, valueCol: String): DataFrame = {
    val newId = latestVersion(spark, statePath).getOrElse(-1L) + 1
    mergeCommit(spark, statePath, newId,
      deltaAgg(batch, keyCol, valueCol), aggMerge(keyCol))
    readState(spark, statePath)
  }

  /** Exactly-once variant for streaming foreachBatch: merges only when
    * `batchId` is NEWER than the latest committed version, so an
    * at-least-once replay (always of the last attempted batch, ids
    * monotone under Structured Streaming's contract) either sees its
    * own committed snapshot or recomputes from the previous complete
    * one — never a double merge, never partial state. */
  def refreshOnce(
      spark: SparkSession, statePath: String, batch: DataFrame,
      keyCol: String, valueCol: String, batchId: Long): Unit =
    if (latestVersion(spark, statePath).forall(_ < batchId))
      mergeCommit(spark, statePath, batchId,
        deltaAgg(batch, keyCol, valueCol), aggMerge(keyCol))

  /** The [[refreshOnce]] exactly-once versioned-commit protocol with a
    * CALLER-SUPPLIED merge — the generalization that lets any state
    * algebra ride the same storage contract (e.g.
    * [[MvMaintain.merge]] for a registered MV's full rollup set).
    * `delta` must already be the key-unique roll-up of the batch;
    * `merge(state, delta)` must return the new state with the state's
    * schema. Bootstraps from `delta` alone when no state is committed. */
  def refreshOnceWith(
      spark: SparkSession, statePath: String, delta: DataFrame,
      batchId: Long, merge: (DataFrame, DataFrame) => DataFrame): Unit =
    if (latestVersion(spark, statePath).forall(_ < batchId))
      mergeCommit(spark, statePath, batchId, delta, merge)

  // ---- O(delta) append commits: the segment-manifest state layout ------
  //
  // refreshOnceWith rewrites the ENTIRE merged state every commit — the
  // right shape for key-unique AGGREGATE states (bounded by key
  // cardinality, never corpus size) but write-amplified for APPEND-ONLY
  // states (posting lists, chunk/IVF index rows) whose committed size
  // grows with the corpus: there, every micro-batch would read and
  // rewrite all prior bytes. The append layout keeps the versioned
  // exactly-once contract while making each commit O(delta):
  //
  //   statePath/seg/<part>/__seg=s<id>/  immutable delta SEGMENTS —
  //                                      written once, never rewritten
  //                                      (the appendTrainingShards
  //                                      economics, Sinks.scala). The
  //                                      segment id is a PARTITION dir,
  //                                      so the whole part stays ONE
  //                                      partitioned table
  //   statePath/v<batchId>/<part>/       rewritten SMALL parts (per-term
  //                                      df, one-row stats) — bounded by
  //                                      vocabulary, not corpus
  //   statePath/v<batchId>/_segments     the version's manifest: which
  //                                      segments each append part
  //                                      comprises, in append order
  //
  // A commit writes the delta segment plus the (small) version dir, and
  // the ONE atomic rename of the version dir publishes both: a segment no
  // committed manifest names is invisible garbage (the reader's planning-
  // time `__seg IN (manifest)` partition filter never admits it), swept
  // after the next successful commit — the crash story is unchanged from
  // refreshOnce. Readers scan the single part dir with the manifest's
  // segment list as a partition filter, so partition pruning and DPP on
  // the caller's own partition columns behave exactly as on one dir.
  //
  // Deletes ride the same layout as TOMBSTONES: `<part>__tomb` is an
  // append part holding delete-key rows; [[readStatePart]] anti-joins
  // them (broadcast — deletes are small) so a takedown batch commits
  // O(deletes) while the committed data bytes stay untouched. compact*
  // folds tombstones into one rewritten segment on an amortized schedule.

  private val ManifestFile = "_segments"
  /** Beside the manifest: one `part<TAB>schema json` line per part, the
    * schema a reader of that part gets (see [[readPart]]). */
  private val SchemaFile = "_schemas"
  private val SegCol = "__seg"

  /** Canonical name of `part`'s tombstone part. */
  def tombstonePart(part: String): String = part + "__tomb"

  /** Part name for single-frame append states ([[appendOnce]]). */
  val RowsPart = "rows"

  private def segDir(statePath: String, part: String): String =
    s"$statePath/seg/$part"

  /** One committed segment: its name plus committed metadata — for
    * monotone-id parts the CLOSED [minId, maxId] range of the guard-id
    * column (makes the monotone guard a manifest lookup and lets a
    * retraction prune its correction scans to only the segments a delete
    * set can touch — the takedown shape: a few ids → usually one
    * segment), the segment's row count (drives the tombstone-fraction
    * compaction schedule and the broadcast-vs-shuffle anti-join choice
    * without reading any data), and its committed byte size (drives the
    * absolute small-file compaction triggers the same way). */
  private[graft] case class SegMeta(
      name: String, range: Option[(Long, Long)], rows: Option[Long],
      bytes: Option[Long] = None) {
    def intersects(lo: Long, hi: Long): Boolean =
      range.forall { case (mn, mx) => mx >= lo && mn <= hi }
  }

  /** Parsed manifest: per-part segments in append order (present-but-
    * empty = a part whose segments were all folded away, e.g. cleared
    * tombstones), the guard-id column names the ranges refer to, and the
    * read schema the commit recorded for each part (empty for a version
    * written before schema records). */
  private[graft] case class Manifest(
      parts: Map[String, Vector[SegMeta]], idCols: Map[String, String],
      schemas: Map[String, StructType] = Map.empty) {
    def segNames(part: String): Vector[String] =
      parts.getOrElse(part, Vector.empty).map(_.name)
  }

  private def readText(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
      buf.toString("UTF-8")
    } finally in.close()
  }

  private def writeText(
      fs: org.apache.hadoop.fs.FileSystem, p: org.apache.hadoop.fs.Path,
      lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The version's manifest, if it was committed by an append commit. */
  private def readManifest(
      spark: SparkSession, vdir: String): Option[Manifest] = {
    val p = new org.apache.hadoop.fs.Path(s"$vdir/$ManifestFile")
    val fs = fsOf(spark, vdir)
    if (!fs.exists(p)) None
    else {
      val text = readText(fs, p)
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Vector[SegMeta]]
      val ids = scala.collection.mutable.LinkedHashMap.empty[String, String]
      text.split("\n").iterator.filter(_.nonEmpty).foreach { line =>
        def num(s: String): Option[Long] =
          if (s.isEmpty) None else Some(s.toLong)
        line.split("\t", -1) match {
          case Array("#id", part, idCol) => ids(part) = idCol
          case Array(part) =>
            if (!m.contains(part)) m(part) = Vector.empty
          // 2-6 fields: part, seg [, minId, maxId [, rows [, bytes]]] —
          // trailing fields optional (older manifests wrote fewer)
          case arr if arr.length >= 2 && arr.length <= 6 =>
            val f = arr.drop(2).toVector.padTo(4, "")
            val range = (num(f(0)), num(f(1))) match {
              case (Some(a), Some(b)) => Some((a, b))
              case _ => None
            }
            m(arr(0)) = m.getOrElse(arr(0), Vector.empty) :+
              SegMeta(arr(1), range, num(f(2)), num(f(3)))
          case _ => throw new java.io.IOException(
            s"$vdir/$ManifestFile: bad manifest line '$line'")
        }
      }
      val sp = new org.apache.hadoop.fs.Path(s"$vdir/$SchemaFile")
      val schemas =
        if (!fs.exists(sp)) Map.empty[String, StructType]
        else readText(fs, sp).split("\n").iterator.filter(_.nonEmpty)
          .map { line =>
            val tab = line.indexOf('\t')
            if (tab <= 0) throw new java.io.IOException(
              s"$vdir/$SchemaFile: bad schema line '$line'")
            line.take(tab) ->
              DataType.fromJson(line.drop(tab + 1)).asInstanceOf[StructType]
          }.toMap
      Some(Manifest(m.toMap, ids.toMap, schemas))
    }
  }

  private def writeManifest(
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      manifest: Seq[(String, Vector[SegMeta])],
      idCols: Map[String, String]): Unit = {
    val idLines = idCols.toSeq.sortBy(_._1)
      .map { case (part, c) => s"#id\t$part\t$c" }
    val segLines = manifest.map { case (part, segs) =>
      if (segs.isEmpty) part
      else segs.map { sm =>
        val fields = Vector(
          sm.range.map(_._1.toString).getOrElse(""),
          sm.range.map(_._2.toString).getOrElse(""),
          sm.rows.map(_.toString).getOrElse(""),
          sm.bytes.map(_.toString).getOrElse(""))
        val trimmed = fields.reverse.dropWhile(_.isEmpty).reverse
        s"$part\t${sm.name}" + trimmed.map("\t" + _).mkString
      }.mkString("\n")
    }
    writeText(fs, new org.apache.hadoop.fs.Path(s"$dir/$ManifestFile"),
      idLines ++ segLines)
  }

  private def writeSchemas(
      fs: org.apache.hadoop.fs.FileSystem, dir: String,
      schemas: Map[String, StructType]): Unit =
    writeText(fs, new org.apache.hadoop.fs.Path(s"$dir/$SchemaFile"),
      schemas.toSeq.sortBy(_._1).map { case (part, s) => s"$part\t${s.json}" })

  /** The schema parquet hands back for a frame written with `df.schema`:
    * every field nullable, at every depth; names, types and metadata as
    * written. */
  private def asRead(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asRead(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asRead(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asRead(m.keyType), asRead(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Read schema of an append part's partitioned dir: the data columns,
    * then `__seg` and the caller's partition columns in directory order
    * (partition columns keep their written type). */
  private def appendPartSchema(
      written: StructType, partitionCols: Seq[String]): StructType = {
    val byName = written.fields.map(f => f.name -> f).toMap
    val data = written.fields.filterNot(f => partitionCols.contains(f.name))
    asRead(StructType(data ++ (StructField(SegCol, StringType) +:
      partitionCols.map(byName)))).asInstanceOf[StructType]
  }

  /** Parquet read of `path` with the recorded schema when there is one
    * (no inference job), else with inference (a version written before
    * schema records). */
  private def readPart(
      spark: SparkSession, path: String, schema: Option[StructType]): DataFrame =
    schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** What a segment write observed of its delta: the [min, max] of the
    * guard-id column (when one is named and the delta is not empty), the
    * row count, and the committed byte size. */
  private case class SegStats(
      range: Option[(Long, Long)], rows: Long, bytes: Long)

  /** The metrics `obs` observed in the action that just ran. They arrive
    * through the session's listener bus after the action returns; the
    * wait is bounded, so a lost event fails the commit (before its
    * publishing rename) instead of hanging it. */
  private[graft] def observed(obs: Observation): org.apache.spark.sql.Row =
    scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(60, "s"))

  /** Write one immutable segment (staged, then renamed into place — a
    * replay of the same batchId overwrites its own orphan). Invisible to
    * readers until a committed manifest names it: the manifest's
    * `__seg IN (...)` partition filter is what admits segments. The delta
    * is computed ONCE: the write job itself observes its row count and
    * guard-id range (`Dataset.observe`), and a partitioned part is
    * rebalanced on its partition columns first, so each partition value
    * lands as one file (AQE may still split a skewed one). The byte size
    * is one metadata listing — all three feed the manifest, so guards and
    * compaction triggers never read data. */
  private def writeSegment(
      spark: SparkSession, statePath: String, part: String, seg: String,
      df: DataFrame, parts: Seq[String], idCol: Option[String]): SegStats = {
    val fs = fsOf(spark, statePath)
    // staged OUTSIDE the part dir: compaction's delta frame READS the
    // part dir, so its write must never land inside what it scans
    val stage = s"$statePath/.segstage-$part-$seg"
    val stagePath = new org.apache.hadoop.fs.Path(stage)
    if (fs.exists(stagePath)) fs.delete(stagePath, true)
    val obs = Observation()
    val stats = count(lit(1)).as("n") +: idCol.toSeq.flatMap(c => Seq(
      min(col(c).cast("long")).as("mn"), max(col(c).cast("long")).as("mx")))
    val tagged = df.observe(obs, stats.head, stats.tail: _*)
      .withColumn(SegCol, lit(seg))
    (if (parts.isEmpty) tagged else tagged.hint("rebalance", parts.map(col): _*))
      .write.mode("overwrite")
      .partitionBy(SegCol +: parts: _*).parquet(stage)
    val dest = new org.apache.hadoop.fs.Path(
      s"${segDir(statePath, part)}/$SegCol=$seg")
    if (fs.exists(dest)) fs.delete(dest, true)
    else fs.mkdirs(dest.getParent)
    // an EMPTY delta writes no partition dir — stage one so the segment
    // still exists on disk (it holds zero files; readers are emptiness-
    // aware where an all-empty part is legal, i.e. tombstones)
    val staged = new org.apache.hadoop.fs.Path(s"$stage/$SegCol=$seg")
    if (!fs.exists(staged)) fs.mkdirs(staged)
    if (!fs.rename(staged, dest))
      throw new java.io.IOException(s"segment rename $staged -> $dest failed")
    fs.delete(stagePath, true) // staging shell (_SUCCESS) only
    val r = observed(obs)
    SegStats(
      if (idCol.isEmpty || r.isNullAt(1)) None
      else Some((r.getLong(1), r.getLong(2))),
      r.getLong(0), fs.getContentSummary(dest).getLength)
  }

  /** Whether any data file exists under `path` (recursive, first hit
    * wins) — distinguishes an all-empty-segments part from a readable
    * one without paying a schema-inference failure. */
  private def hasDataFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(path) && fs.listStatus(path).exists { st =>
      if (st.isFile) st.getPath.getName.endsWith(".parquet")
      else hasDataFiles(fs, st.getPath)
    }

  /** One pruned scan of an append part: the manifest's segment list as a
    * planning-time partition filter over the single partitioned dir. */
  private def readSegments(
      spark: SparkSession, statePath: String, part: String,
      schema: Option[StructType], segs: Seq[String]): DataFrame =
    readPart(spark, segDir(statePath, part), schema)
      .filter(col(SegCol).isin(segs: _*))
      .drop(SegCol)

  /** Exactly-once O(delta) commit for a multi-part state: each
    * `appendDeltas` part's frame lands as a NEW immutable segment (never
    * reading or rewriting prior data bytes), `rewriteDeltas` parts merge
    * and rewrite as before (they must be SMALL by contract — per-term
    * df, one-row stats), and the atomic version-dir rename publishes
    * both. `guardIdCols` enforces the monotone-id append contract per
    * part from committed MANIFEST METADATA (each segment's [min, max] id
    * range — the invariant makes the newest segment's max the global
    * max), so the guard costs one delta aggregate and zero state reads;
    * the same ranges let [[readStatePartRanged]] prune correction scans.
    * `replaceParts` restarts those parts' segment lists this commit
    * (compaction: a part in `replaceParts` AND `appendDeltas` holds
    * exactly the new segment; in `replaceParts` only, it empties —
    * cleared tombstones). `keepPrefix` is the PARTIAL fold: a part in it
    * keeps only its first k manifest segments, with this commit's delta
    * (the raw concatenation of the folded suffix — see
    * [[compactSegmentsWhenDue]]) appended behind them; append order, and
    * with it the monotone-id invariant, is preserved because only a
    * SUFFIX may fold. A prior version committed by the pre-segment
    * rewrite protocol migrates one-time: every part this commit appends
    * to — including the BASE part of any `<part>__tomb` tombstone delta,
    * without which readers would never resolve the part through the
    * manifest and the tombstones would silently not apply — moves into a
    * migration segment, after which every commit is O(delta). The same
    * migration covers a part whose version-dir copy survived an earlier
    * PARTIAL migration (a first manifest commit that touched other
    * parts): a part gaining its first manifest entry never strands a
    * carried-forward dir. */
  def appendOnceWithParts(
      spark: SparkSession, statePath: String, batchId: Long,
      appendDeltas: Seq[(String, DataFrame)],
      rewriteDeltas: Seq[(String, DataFrame)] = Seq.empty,
      rewriteMerges: Map[String, (DataFrame, DataFrame) => DataFrame] =
        Map.empty,
      partitionCols: Map[String, Seq[String]] = Map.empty,
      guardIdCols: Map[String, String] = Map.empty,
      replaceParts: Set[String] = Set.empty,
      keepPrefix: Map[String, Int] = Map.empty): Unit =
    withCommitLock(spark, statePath)(
      appendOnceWithPartsLocked(spark, statePath, batchId, appendDeltas,
        rewriteDeltas, rewriteMerges, partitionCols, guardIdCols,
        replaceParts, keepPrefix))

  private def appendOnceWithPartsLocked(
      spark: SparkSession, statePath: String, batchId: Long,
      appendDeltas: Seq[(String, DataFrame)],
      rewriteDeltas: Seq[(String, DataFrame)],
      rewriteMerges: Map[String, (DataFrame, DataFrame) => DataFrame],
      partitionCols: Map[String, Seq[String]],
      guardIdCols: Map[String, String],
      replaceParts: Set[String],
      keepPrefix: Map[String, Int]): Unit = {
    val prev = latestVersion(spark, statePath)
    if (prev.exists(_ >= batchId)) return // replayed batch: no-op
    val retain = retainVersions(spark)
    val fs = fsOf(spark, statePath)
    val prevDir = prev.map(v => s"$statePath/v$v")
    val prevM = prevDir.flatMap(readManifest(spark, _))
    var prevParts: Map[String, Vector[SegMeta]] =
      prevM.map(_.parts).getOrElse(Map.empty)
    // id columns are sticky state metadata: once declared they persist in
    // every later manifest, so compaction and retraction know them
    val idCols = prevM.map(_.idCols).getOrElse(Map.empty) ++ guardIdCols
    // schema records carry forward; every part this commit writes gets
    // the schema of what it wrote
    var schemas: Map[String, StructType] =
      prevM.map(_.schemas).getOrElse(Map.empty)
    // one-time legacy migration (O(that part) ONCE, never again): a part
    // this commit appends to that still lives as a version-dir parquet
    // copy — the pre-segment rewrite layout, or a dir carried forward by
    // an earlier PARTIAL migration — moves into a migration segment
    // (range unknown — later guards fall back to reading that one
    // segment). Tombstone deltas pull their BASE part in too: a
    // `<part>__tomb` append against a part the manifest cannot resolve
    // would commit tombstones no reader ever applies.
    val touched = (appendDeltas.map(_._1) ++ replaceParts).distinct
    val migrateTargets = (touched ++ touched.filter(_.endsWith("__tomb"))
      .map(_.stripSuffix("__tomb"))).distinct
    prevDir.foreach { pd =>
      migrateTargets.foreach { part =>
        val legacy = s"$pd/$part"
        if (!prevParts.contains(part) &&
            fs.exists(new org.apache.hadoop.fs.Path(legacy))) {
          val seg = s"s${prev.get}m"
          val pcols = partitionCols.getOrElse(part, Seq.empty)
          val legacyDf = readPart(spark, legacy, schemas.get(part))
          val nb = writeSegment(spark, statePath, part, seg, legacyDf, pcols,
            None).bytes
          prevParts += part -> Vector(SegMeta(seg, None, None, Some(nb)))
          schemas += part -> appendPartSchema(legacyDf.schema, pcols)
        }
      }
    }
    // a tombstone append needs a manifest-resolvable base part — either
    // already committed (or just migrated) or arriving in this commit
    appendDeltas.map(_._1).filter(_.endsWith("__tomb")).foreach { t =>
      val base = t.stripSuffix("__tomb")
      require(prevParts.contains(base) || touched.contains(base),
        s"$t: tombstones against '$base' but that part has no manifest " +
          s"entry under $statePath — readers would never apply them; " +
          "commit (or migrate) the base part first")
    }
    // tombstone parts must keep ONE delete-key schema until compacted —
    // anti-joins on mixed column sets do not compose into one broadcast
    appendDeltas.foreach { case (part, delta) =>
      if (part.endsWith("__tomb") && !replaceParts.contains(part) &&
          prevParts.get(part).exists(_.nonEmpty) &&
          hasDataFiles(fs,
            new org.apache.hadoop.fs.Path(segDir(statePath, part)))) {
        val prior = readPart(spark, segDir(statePath, part),
          schemas.get(part)).drop(SegCol).columns.toSet
        require(prior == delta.columns.toSet,
          s"$part: tombstone key columns ${delta.columns.toSeq.sorted} " +
            s"differ from the committed ones ${prior.toSeq.sorted} — " +
            "compact the state before retracting with a different key " +
            "shape")
      }
    }
    // each delta is computed once: its segment write observes the row
    // count (all parts — drives the tombstone-fraction compaction
    // schedule) and the [min, max] id range (guarded parts — checked
    // below and committed for later metadata guards and range-pruned
    // retraction scans)
    val segName = s"s$batchId"
    val written: Map[String, SegStats] = appendDeltas.map { case (part, delta) =>
      part -> writeSegment(spark, statePath, part, segName, delta,
        partitionCols.getOrElse(part, Seq.empty), idCols.get(part))
    }.toMap
    appendDeltas.foreach { case (part, _) =>
      // monotone-id guard (data parts), checked after the write and before
      // the publishing rename — skipped for replace commits, whose segment
      // is the resolved prior state itself, and for partial folds, whose
      // segment is the folded suffix of committed segments
      if (!replaceParts.contains(part) && !keepPrefix.contains(part))
        idCols.get(part).foreach { idCol =>
          prevParts.get(part).filter(_.nonEmpty).foreach { segs =>
            val committedMax = segs.last.range.map(_._2).orElse {
              // a migrated segment has no committed range: read it once
              if (hasDataFiles(fs,
                  new org.apache.hadoop.fs.Path(segDir(statePath, part)))) {
                val r = readSegments(spark, statePath, part,
                    schemas.get(part), Seq(segs.last.name))
                  .agg(max(col(idCol).cast("long"))).head
                if (r.isNullAt(0)) None else Some(r.getLong(0))
              } else None
            }
            // either side empty — nothing can collide
            val ok = committedMax.forall(mx =>
              written(part).range.forall { case (mn, _) => mx < mn })
            if (!ok) written.keys.foreach { p =>
              fs.delete(new org.apache.hadoop.fs.Path(
                s"${segDir(statePath, p)}/$SegCol=$segName"), true)
            }
            require(ok,
              "delta ids must be strictly greater than every indexed " +
                "id (append-only vectors); otherwise the merged index " +
                "would contain duplicate neighbor rows")
          }
        }
    }
    appendDeltas.foreach { case (part, delta) =>
      schemas += part ->
        appendPartSchema(delta.schema, partitionCols.getOrElse(part, Seq.empty))
    }
    val appendNames = appendDeltas.map(_._1)
    val allParts =
      (prevParts.keys ++ appendNames ++ replaceParts).toSeq.distinct.sorted
    val manifest = allParts.map { part =>
      val priorSegs =
        if (replaceParts.contains(part)) Vector.empty[SegMeta]
        else keepPrefix.get(part) match {
          case Some(k) => prevParts.getOrElse(part, Vector.empty).take(k)
          case None => prevParts.getOrElse(part, Vector.empty)
        }
      part -> written.get(part).fold(priorSegs) { st =>
        priorSegs :+ SegMeta(segName, st.range, Some(st.rows), Some(st.bytes))
      }
    }
    val tmp = s"$statePath/.tmp-$batchId"
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
    rewriteDeltas.foreach { case (part, delta) =>
      val merged = prevDir.filter(pd =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$pd/$part"))) match {
        case Some(pd) => rewriteMerges(part)(
          readPart(spark, s"$pd/$part", schemas.get(part)), delta)
        case None => delta
      }
      merged.write.mode("overwrite").parquet(s"$tmp/$part")
      schemas += part -> asRead(merged.schema).asInstanceOf[StructType]
    }
    // carry forward prior rewrite parts this commit does not touch
    // (small by contract — the version dir holds nothing corpus-sized) as
    // byte copies: the files are immutable, so no job needs to read them
    val carried = prevDir.toSeq.flatMap { pd =>
      fs.listStatus(new org.apache.hadoop.fs.Path(pd)).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory && !rewriteDeltas.exists(_._1 == name) &&
            !prevParts.contains(name) && !appendNames.contains(name) &&
            !replaceParts.contains(name)) {
          val to = new org.apache.hadoop.fs.Path(s"$tmp/$name")
          if (!org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, to,
              false, spark.sparkContext.hadoopConfiguration))
            throw new java.io.IOException(
              s"carry-forward copy ${st.getPath} -> $to failed")
          Some(name)
        } else None
      }
    }
    fs.mkdirs(tmpPath)
    writeManifest(fs, tmp, manifest, idCols)
    val live = allParts.toSet ++ rewriteDeltas.map(_._1) ++ carried
    writeSchemas(fs, tmp, schemas.filter { case (p, _) => live.contains(p) })
    requireNoVersionDrift(spark, statePath, prev)
    val dest = new org.apache.hadoop.fs.Path(s"$statePath/v$batchId")
    if (fs.exists(dest)) fs.delete(dest, true)
    if (!fs.rename(tmpPath, dest))
      throw new java.io.IOException(s"commit rename $tmp -> $dest failed")
    fs.listStatus(new org.apache.hadoop.fs.Path(statePath)).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp-") ||
          st.getPath.getName.startsWith(".segstage-"))
        { fs.delete(st.getPath, true); () }
    }
    // version prune + segment sweep behind the RETENTION window: a
    // segment stays on disk while ANY retained manifest references it
    // (that is what keeps a reader bound to the previous version alive),
    // and goes the commit after — hygiene only either way: the reader's
    // partition filter already excludes unreferenced segments
    pruneBehindRetention(spark, statePath, batchId, retain, Some(manifest))
  }

  /** [[appendOnceWithParts]] for the common single-frame append state
    * (chunk/IVF/JL index rows): the delta lands as one new segment under
    * the `rows` part with the monotone-id guard on `guardIdCol`. */
  def appendOnce(
      spark: SparkSession, statePath: String, delta: DataFrame,
      batchId: Long, guardIdCol: String,
      partitionCols: Seq[String] = Seq.empty): Unit =
    appendOnceWithParts(spark, statePath, batchId,
      appendDeltas = Seq(RowsPart -> delta),
      partitionCols =
        if (partitionCols.nonEmpty) Map(RowsPart -> partitionCols)
        else Map.empty,
      guardIdCols = Map(RowsPart -> guardIdCol))

  /** Fold a segment-manifest state's tombstones on an amortized schedule:
    * each listed part's RESOLVED rows (segments minus tombstones) rewrite
    * as ONE fresh segment and the tombstones clear — the committed READS
    * are row-identical before and after (compaction only changes the
    * file layout); unlisted parts carry forward. */
  def compactOnceWithParts(
      spark: SparkSession, statePath: String, batchId: Long,
      parts: Seq[String],
      partitionCols: Map[String, Seq[String]] = Map.empty): Unit = {
    require(latestVersion(spark, statePath).nonEmpty,
      s"compact: no committed state under $statePath")
    appendOnceWithParts(spark, statePath, batchId,
      appendDeltas = parts.map(p => p -> readStatePart(spark, statePath, p)),
      partitionCols = partitionCols,
      replaceParts = parts.toSet ++ parts.map(tombstonePart))
  }

  /** [[compactOnceWithParts]] for a single-frame [[appendOnce]] state. */
  def compactRows(
      spark: SparkSession, statePath: String, batchId: Long): Unit = {
    val part = singleDataPart(spark, statePath).getOrElse(
      throw new IllegalStateException(
        s"compactRows: $statePath is not a segment-manifest state"))
    compactOnceWithParts(spark, statePath, batchId, Seq(part))
  }

  /** Committed tombstone-row count over committed data-row count for
    * `part` — METADATA ONLY (the per-segment counts live in the
    * manifest), so a compaction scheduler can poll it for free. An upper
    * bound on the dead fraction: a tombstone key row can match several
    * data rows or (re-deletes on generic states) repeat — for the exact
    * fraction, compact. Segments committed before counts existed read as
    * 0 rows (compact once to refresh). */
  def tombstoneFraction(
      spark: SparkSession, statePath: String, part: String): Double =
    latestVersion(spark, statePath).flatMap(v =>
      readManifest(spark, s"$statePath/v$v")).map { m =>
      val data = m.parts.getOrElse(part, Vector.empty)
        .flatMap(_.rows).sum
      val tomb = m.parts.getOrElse(tombstonePart(part), Vector.empty)
        .flatMap(_.rows).sum
      if (data <= 0L) 0.0 else tomb.toDouble / data
    }.getOrElse(0.0)

  private[graft] def manifestOf(
      spark: SparkSession, statePath: String): Option[Manifest] =
    latestVersion(spark, statePath).flatMap(v =>
      readManifest(spark, s"$statePath/v$v"))

  /** Committed tombstone-key rows against `part` — manifest metadata
    * only. The ABSOLUTE twin of [[tombstoneFraction]]: a fraction alone
    * never fires on a huge part (10⁶ tombstones against 10¹⁰ rows is
    * 0.01% — but past the broadcast ceiling every read pays a shuffled
    * anti-join), so schedulers bound the absolute backlog too. */
  def tombstoneRows(
      spark: SparkSession, statePath: String, part: String): Long =
    manifestOf(spark, statePath).map(
      _.parts.getOrElse(tombstonePart(part), Vector.empty)
        .flatMap(_.rows).sum).getOrElse(0L)

  /** Committed tombstone bytes against `part` — manifest metadata only
    * (segments predating byte bookkeeping count 0; compact once to
    * refresh). */
  def tombstoneBytes(
      spark: SparkSession, statePath: String, part: String): Long =
    manifestOf(spark, statePath).map(
      _.parts.getOrElse(tombstonePart(part), Vector.empty)
        .flatMap(_.bytes).sum).getOrElse(0L)

  /** Live committed segment count of `part` (manifest metadata only) —
    * the small-file pressure gauge for pure-append streams. */
  def segmentCount(
      spark: SparkSession, statePath: String, part: String): Int =
    manifestOf(spark, statePath).map(
      _.parts.getOrElse(part, Vector.empty).length).getOrElse(0)

  /** Version-exact query-RESULT cache over an arbitrary batch `serve` —
    * the serving-layer economics shared by every index tier (head
    * queries repeat, and a repeated query's result is fully determined
    * by its text plus `digestSalt`, which callers build from the served
    * state's COMMITTED VERSION and the serve parameters — so state
    * maintenance invalidates by construction: a new version changes
    * every digest; no TTLs, no invalidation protocol, no stale window).
    *
    * `serve` receives the MISSED queries as (query_id, __qtext) and must
    * return query_id plus its result columns; text-identical queries
    * under different ids share one cache entry. Hits resolve with one
    * broadcast join against the cache state; misses pay the serve once
    * and append O(misses) under the exactly-once commit. An ALL-HIT
    * batch never builds the serve subtree and commits nothing — its plan
    * scans only cache parquet — and is returned LAZY (the bound cache
    * version stays latest): materialize before the next cache-writing
    * call, the layout's single-writer contract. A miss batch's result is
    * checkpointed (its union's cache leg binds the pre-append version
    * the commit just pruned). */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The salt tuple's driver-side digest: each field md5'd FIRST (fixed
    * 32-hex-char slots — injection-proof: no field value can alias a
    * different (text, salt...) tuple through a separator, however
    * adversarial the strings), then the concatenation md5'd once. Stored
    * per entry as `__salt`, which is what makes eviction possible: an
    * entry whose committed `__salt` differs from the live one can never
    * hit again (the query digest embeds the same value). */
  private def saltHex(digestSalt: Seq[String]): String =
    md5Hex(digestSalt.map(md5Hex).mkString)

  def cachedServe(
      spark: SparkSession, cachePath: String, queries: DataFrame,
      queryIdCol: String, queryTextCol: String, digestSalt: Seq[String],
      serve: DataFrame => DataFrame): DataFrame = {
    val salt = saltHex(digestSalt)
    // the digest map stays LAZY (batch-sized narrow maps — cheap to
    // recompute), so the all-hit result can be returned lazily too.
    // Digest = md5(md5(text) ++ salt digest): every field enters through
    // a fixed-width md5 slot, so no text or salt value can collide with
    // a different tuple by embedding a separator. coalesce before
    // hashing: a NULL text must not digest like "".
    val qd = queries.select(col(queryIdCol).as("query_id"),
        col(queryTextCol).as("__qtext"))
      .withColumn("__qd", md5(concat(
        md5(coalesce(col("__qtext"), lit("<null>"))), lit(salt))))
    // a committed cache from before salt tracking auto-RESETS instead of
    // raising: the new digest scheme invalidates every old entry anyway,
    // the cache is disposable by contract, and appending new-schema rows
    // next to old ones would commit a mixed-schema part. One-time, loud.
    val cachedOpt = latestVersion(spark, cachePath)
      .map(_ => readState(spark, cachePath))
      .filter { cached =>
        val ok = cached.columns.contains("__salt")
        if (!ok) {
          System.err.println(
            s"[graft] result cache at $cachePath predates salt tracking " +
              "(no '__salt' column) — resetting it (disposable result " +
              "cache; this serve repopulates under the current schema)")
          reset(spark, cachePath)
        }
        ok
      }
    val (hits, missQs) = cachedOpt match {
      case Some(cached) =>
        val resultCols = col("query_id") +:
          cached.columns.toSeq.filterNot(Set("__qd", "__salt")).map(col)
        (Some(qd.join(cached, Seq("__qd")).select(resultCols: _*)),
          qd.join(cached.select(col("__qd")).distinct(),
            Seq("__qd"), "left_anti"))
      case None => (None, qd)
    }
    def serveMisses(): DataFrame =
      serve(missQs.select(col("query_id"), col("__qtext")))
    if (!missQs.isEmpty) {
      val missR = serveMisses().localCheckpoint(true)
      try {
        // one cache entry per distinct digest (text-identical queries
        // share it; results are identical by determinism)
        val entryCols = missR.columns.toSeq.filter(_ != "query_id")
        val entries = missR.join(
            broadcast(missQs.select(col("query_id"), col("__qd"))),
            Seq("query_id"))
          .select(col("__qd") +: lit(salt).as("__salt") +:
            entryCols.map(col): _*)
          .distinct()
        appendOnceWithParts(spark, cachePath,
          latestVersion(spark, cachePath).getOrElse(-1L) + 1L,
          appendDeltas = Seq(RowsPart -> entries))
        val direct = missR.select(
          col("query_id") +: entryCols.map(col): _*)
        hits.fold(direct)(_ unionByName direct).localCheckpoint(true)
      } finally graft.operators.Dedup.release(missR)
    } else
      // ALL HITS — or an EMPTY batch against an absent cache, where the
      // fallback serve of the empty batch keeps the output schema
      hits.getOrElse(serveMisses())
  }

  /** Cache EVICTION for [[cachedServe]]: entries whose committed
    * `__salt` differs from the live salt can never hit again (the query
    * digest embeds the salt), so they are pure dead weight — one commit
    * replaces the rows part with only the live-salt entries, folded into
    * a single segment with any tombstones cleared. O(live cache) — the
    * cache is (head-query count × k) rows by construction, trivially
    * small next to the state it fronts. Returns the retained row count. */
  def pruneCachedServe(
      spark: SparkSession, cachePath: String, digestSalt: Seq[String],
      batchId: Long): Long = {
    require(latestVersion(spark, cachePath).nonEmpty,
      s"pruneCachedServe: no committed cache under $cachePath")
    val cached = readState(spark, cachePath)
    if (!cached.columns.contains("__salt")) {
      // pre-salt cache: every entry is dead under the current digest
      // scheme — the prune IS a reset (disposable cache; next serve
      // repopulates under the new schema). One-time, loud.
      System.err.println(
        s"[graft] result cache at $cachePath predates salt tracking — " +
          "resetting it (disposable result cache; the next serve " +
          "repopulates under the current schema)")
      reset(spark, cachePath)
      return 0L
    }
    val live = cached.filter(col("__salt") === lit(saltHex(digestSalt)))
      .localCheckpoint(true)
    try {
      appendOnceWithParts(spark, cachePath, batchId,
        appendDeltas = Seq(RowsPart -> live),
        replaceParts = Set(RowsPart, tombstonePart(RowsPart)))
      live.count()
    } finally graft.operators.Dedup.release(live)
  }

  /** [[pruneCachedServe]] on the amortized SCHEDULE: prune iff the cache
    * has accumulated more than `maxSegments` live segments (one manifest
    * read — each miss batch commits one segment, so this fires every
    * ~`maxSegments` miss batches and each maintenance pass also evicts
    * every stale-salt entry). Returns whether a prune committed. */
  def maintainCachedServe(
      spark: SparkSession, cachePath: String, digestSalt: Seq[String],
      batchId: Long, maxSegments: Int = 8): Boolean = {
    require(maxSegments >= 1, "maxSegments must be at least 1")
    val due = latestVersion(spark, cachePath).nonEmpty &&
      segmentCount(spark, cachePath, RowsPart) > maxSegments
    if (due) pruneCachedServe(spark, cachePath, digestSalt, batchId)
    due
  }

  /** The amortized compaction SCHEDULE: fold `parts`' tombstones iff any
    * listed part trips a trigger — relative ([[tombstoneFraction]] >
    * `maxFraction`) or ABSOLUTE ([[tombstoneRows]] > `maxTombRows`,
    * [[tombstoneBytes]] > `maxTombBytes`). The absolutes are the
    * 100 TB teeth: on a huge part the fraction alone never fires while
    * the tombstone set quietly grows past the broadcast ceiling and
    * every read pays a shuffled anti-join — bound the backlog
    * absolutely and the read path stays broadcast-cheap. All three
    * checks are one manifest read, so calling this after every
    * retraction batch is free until the fold is actually due. Returns
    * whether a compaction committed.
    *
    * `maxTombRows` DEFAULTS ON at [[TombBroadcastMaxRows]] (the read
    * path's broadcast ceiling): a deployment that forgets the parameter
    * still folds before its reads degrade to the shuffled anti-join —
    * pass `Long.MaxValue` explicitly to disable the absolute trigger. */
  def compactWhenDue(
      spark: SparkSession, statePath: String, batchId: Long,
      parts: Seq[String], maxFraction: Double,
      partitionCols: Map[String, Seq[String]] = Map.empty,
      maxTombRows: Long = TombBroadcastMaxRows,
      maxTombBytes: Long = Long.MaxValue): Boolean = {
    require(maxFraction > 0.0, s"maxFraction must be positive")
    require(maxTombRows > 0L && maxTombBytes > 0L,
      "absolute triggers must be positive")
    val due = parts.exists(p =>
      tombstoneFraction(spark, statePath, p) > maxFraction ||
        tombstoneRows(spark, statePath, p) > maxTombRows ||
        tombstoneBytes(spark, statePath, p) > maxTombBytes)
    if (due) compactOnceWithParts(spark, statePath, batchId, parts,
      partitionCols)
    due
  }

  /** Sentinel for [[compactSegmentsWhenDue]]'s `smallRows`: derive the
    * small/large cutoff per part from committed metadata —
    * max(committed rows / maxSegments, 1). Under that cutoff the fold
    * sequence is size-tiered: per-batch segments fold into a segment
    * ~the part's size at fold time, which stays above the cutoff (and is
    * never re-read) until the part has grown ~maxSegments× past it —
    * each row is rewritten O(log) times over the stream's life, never
    * once per fold. */
  val AutoSmallRows: Long = -1L

  /** Segment-COUNT compaction for long-running pure-append streams: a
    * state that commits one segment per micro-batch forever accumulates
    * an unbounded manifest and small-file pressure (the
    * Sinks.compactionPlan problem at segment granularity). When a listed
    * part's live segment count exceeds `maxSegments`, fold the longest
    * SUFFIX of small segments (committed rows ≤ `smallRows`, which
    * defaults to the [[AutoSmallRows]] metadata-derived tier cutoff;
    * unknown counts fold too) into ONE new segment via the `keepPrefix`
    * commit — earlier large folded segments are never re-read, so each
    * row is rewritten O(log) times over the stream's life, not once per
    * fold (the LSM size-tiered economics). Suffix-only folding preserves
    * append order, so the monotone-id guard and ranged reads survive: the
    * folded segment's committed [min,max] spans exactly its inputs'.
    * Tombstones are NOT applied or cleared here (reads keep applying
    * them; that reclamation is [[compactWhenDue]]'s job) — this fold is
    * pure file layout, read-invisible by construction.
    *
    * When a part is over budget but no ≥2-small-segment suffix exists
    * (e.g. the newest segment is the only small one behind a large one),
    * the part SKIPS this round rather than rewriting large segments —
    * the count can sit a structural constant above `maxSegments`
    * transiently, and self-heals as the part grows (the tier cutoff
    * rises with committed rows until the old large segments re-tier as
    * small and fold once more). A part over budget with NO data files at
    * all (a stream of no-op mutations — e.g. takedown batches whose
    * delete keys matched nothing — commits empty segments forever) folds
    * at the MANIFEST level: its segment list collapses without reading
    * any data, closing the unbounded-manifest hazard for the degenerate
    * case too. One manifest read decides; returns whether a compaction
    * committed. */
  def compactSegmentsWhenDue(
      spark: SparkSession, statePath: String, batchId: Long,
      parts: Seq[String], maxSegments: Int,
      smallRows: Long = AutoSmallRows,
      partitionCols: Map[String, Seq[String]] = Map.empty): Boolean = {
    require(maxSegments >= 1, "maxSegments must be at least 1")
    require(smallRows == AutoSmallRows || smallRows > 0L,
      "smallRows must be positive (or AutoSmallRows)")
    val m = manifestOf(spark, statePath).getOrElse(
      throw new IllegalStateException(
        s"compactSegmentsWhenDue: $statePath is not a segment-manifest " +
          "state"))
    val fs = fsOf(spark, statePath)
    val over = parts.filter(p =>
      m.parts.getOrElse(p, Vector.empty).length > maxSegments)
    // an all-empty part has no data files to fold (and no parquet to
    // read): collapse its manifest entries metadata-only via replaceParts
    val (clears, foldable) = over.partition(p =>
      !hasDataFiles(fs, new org.apache.hadoop.fs.Path(segDir(statePath, p))))
    // every part folds in ONE commit (atomic across parts, one version)
    val folds: Seq[(String, Int)] = foldable.flatMap { part =>
      val segs = m.parts(part)
      val cutoff =
        if (smallRows != AutoSmallRows) smallRows
        else math.max(segs.flatMap(_.rows).sum / maxSegments, 1L)
      // keep [0, k): everything up to the last segment KNOWN large
      val k = segs.lastIndexWhere(_.rows.exists(_ > cutoff)) + 1
      // a suffix of 0-1 smalls folds nothing — skip (never rewrite the
      // large tier; the rising auto cutoff re-tiers it eventually)
      if (segs.length - k >= 2) Some(part -> k) else None
    }
    if (folds.nonEmpty || clears.nonEmpty)
      appendOnceWithParts(spark, statePath, batchId,
        appendDeltas = folds.map { case (part, k) =>
          val names = m.parts(part).drop(k).map(_.name)
          part -> readSegments(spark, statePath, part, m.schemas.get(part), names)
        },
        partitionCols = partitionCols,
        keepPrefix = folds.toMap,
        replaceParts = clears.toSet)
    folds.nonEmpty || clears.nonEmpty
  }

  /** The single non-tombstone part of a segment-manifest state, if the
    * latest version has a manifest with exactly one. */
  private def singleDataPart(
      spark: SparkSession, statePath: String): Option[String] =
    latestVersion(spark, statePath).flatMap { v =>
      readManifest(spark, s"$statePath/v$v").flatMap { m =>
        m.parts.keys.filterNot(_.endsWith("__tomb")).toSeq match {
          case Seq(one) => Some(one)
          case _ => None
        }
      }
    }

  /** Whether the latest committed version has a non-empty `part` (either
    * layout) — the capability probe for states written before a part
    * existed (e.g. a bm25 index predating items bookkeeping). */
  def hasStatePart(
      spark: SparkSession, statePath: String, part: String): Boolean =
    latestVersion(spark, statePath).exists { v =>
      val vdir = s"$statePath/v$v"
      readManifest(spark, vdir) match {
        case Some(m) => m.parts.get(part).exists(_.nonEmpty)
        case None =>
          fsOf(spark, statePath)
            .exists(new org.apache.hadoop.fs.Path(s"$vdir/$part"))
      }
    }

  /** Resolve one append part of manifest `m`: the pruned segment scan
    * (optionally restricted to segments whose committed id range
    * intersects [lo, hi]) with committed tombstones applied as a
    * broadcast anti-join. */
  private def resolvePart(
      spark: SparkSession, statePath: String, m: Manifest, part: String,
      range: Option[(Long, Long)]): DataFrame = {
    val segs = m.parts(part)
    require(segs.nonEmpty,
      s"$part: no live segments committed under $statePath")
    val chosen = range match {
      case Some((lo, hi)) => segs.filter(_.intersects(lo, hi)).map(_.name)
      case None => segs.map(_.name)
    }
    val all = readPart(spark, segDir(statePath, part), m.schemas.get(part))
    val df = (if (chosen.isEmpty) all.filter(lit(false))
              else all.filter(col(SegCol).isin(chosen: _*))).drop(SegCol)
    val tname = tombstonePart(part)
    val tombLive = m.parts.get(tname).filter(_.nonEmpty)
      // an all-empty tombstone part (every retraction matched nothing)
      // is semantically tombstone-free — and unreadable as parquet
      .filter(_ => hasDataFiles(fsOf(spark, statePath),
        new org.apache.hadoop.fs.Path(segDir(statePath, tname))))
    tombLive match {
      case Some(tsegs) =>
        val tomb = readSegments(spark, statePath, tname,
          m.schemas.get(tname), tsegs.map(_.name)).distinct()
        // broadcast only when the committed tombstone row counts prove the
        // delete set small — a takedown backlog past the threshold (or any
        // segment predating row counts) anti-joins by shuffle instead of
        // shipping an executor-memory-sized build side to every task
        val counts = tsegs.flatMap(_.rows)
        val small = counts.length == tsegs.length &&
          counts.sum <= TombBroadcastMaxRows
        df.join(if (small) broadcast(tomb) else tomb,
          tomb.columns.toSeq, "left_anti")
      case None => df
    }
  }

  /** Ceiling on committed tombstone rows the read path will still
    * broadcast-anti-join: ~2M keys ≈ tens of MB per executor, safely
    * under broadcast limits; beyond it (or when a segment predates row
    * counts) the anti-join falls back to a shuffle. The SAME constant is
    * [[compactWhenDue]]'s default absolute row trigger, so a deployment
    * that never tunes a parameter folds its backlog exactly at the point
    * where reads would otherwise leave the broadcast-cheap path — the
    * shuffle fallback is the safety net, not the steady state. */
  val TombBroadcastMaxRows = 2000000L

  /** Read one named part of the latest committed multi-part snapshot.
    * Segment-manifest parts resolve manifest → one partition-pruned scan,
    * with committed tombstones applied as a broadcast anti-join; rewrite-
    * protocol parts read their version subdir directly. */
  def readStatePart(
      spark: SparkSession, statePath: String, part: String): DataFrame = {
    val v = latestVersion(spark, statePath).getOrElse(
      throw new IllegalStateException(s"no committed state under $statePath"))
    val vdir = s"$statePath/v$v"
    val m = readManifest(spark, vdir)
    m match {
      case Some(m) if m.parts.contains(part) =>
        resolvePart(spark, statePath, m, part, None)
      case _ => readPart(spark, s"$vdir/$part", m.flatMap(_.schemas.get(part)))
    }
  }

  /** [[readStatePart]] restricted to segments whose committed guard-id
    * range intersects [lo, hi] — for monotone-id states the ranges are
    * exact, so rows with ids in [lo, hi] can live nowhere else: a
    * retraction's correction scans read only the segments its delete set
    * can touch (usually one), never the whole state. */
  def readStatePartRanged(
      spark: SparkSession, statePath: String, part: String,
      lo: Long, hi: Long): DataFrame = {
    val v = latestVersion(spark, statePath).getOrElse(
      throw new IllegalStateException(s"no committed state under $statePath"))
    readManifest(spark, s"$statePath/v$v") match {
      case Some(m) if m.parts.contains(part) =>
        resolvePart(spark, statePath, m, part, Some((lo, hi)))
      case _ => readStatePart(spark, statePath, part)
    }
  }

  /** Directory of the latest committed snapshot — an IMMUTABLE parquet
    * dir until the next commit prunes it, so it can be handed to readers
    * that bind concrete files (e.g. [[graft.plans.MvRewrite.register]]'s
    * `mvPath`); re-point such readers after each refresh. */
  def latestStateDir(spark: SparkSession, statePath: String): Option[String] =
    latestVersion(spark, statePath).map(v => s"$statePath/v$v")

  /** Merge `batch` into a persisted per-key KLL sketch state (the q101
    * quantile sketches maintained INCREMENTALLY): delta sketches are built
    * from the batch alone and unioned into the stored sketches, so a
    * refresh costs O(delta + key-cardinality × sketch size) — the base
    * corpus is never rescanned, and any quantile question over the keys
    * is answered from the ~2.5 kB stored sketches. Union-then-merge
    * replaces the full-outer join of [[refresh]]: sketch union is
    * associative and commutative with the empty sketch as identity, so
    * bags of (key, sketch) rows merge by plain group-by. */
  def sketchRefresh(
      spark: SparkSession, statePath: String, batch: DataFrame,
      keyCol: String, valueCol: String): DataFrame = {
    val newId = latestVersion(spark, statePath).getOrElse(-1L) + 1
    mergeCommit(spark, statePath, newId,
      sketchDelta(spark, batch, keyCol, valueCol), sketchMerge(spark, keyCol))
    readState(spark, statePath)
  }

  /** [[refreshOnce]] for the KLL sketch state. */
  def sketchRefreshOnce(
      spark: SparkSession, statePath: String, batch: DataFrame,
      keyCol: String, valueCol: String, batchId: Long): Unit =
    if (latestVersion(spark, statePath).forall(_ < batchId))
      mergeCommit(spark, statePath, batchId,
        sketchDelta(spark, batch, keyCol, valueCol), sketchMerge(spark, keyCol))

  private def sketchDelta(
      spark: SparkSession, batch: DataFrame, keyCol: String,
      valueCol: String) = {
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.kllAgg
    batch.groupBy(col(keyCol))
      .agg(kllAgg(col(valueCol).cast("double")).as("sk"))
  }

  private def sketchMerge(spark: SparkSession, keyCol: String)(
      state: DataFrame, delta: DataFrame) = {
    import graft.functions.GraftFunctions.kllMergeAgg
    state.unionAll(delta).groupBy(col(keyCol))
      .agg(kllMergeAgg(col("sk")).as("sk"))
  }

  /** [[sketchRefresh]] for frequent-items sketches: the d43 heavy-hitter
    * state maintained incrementally — each batch's per-key Misra-Gries
    * sketches union into the stored ones, whose guarantees
    * (no-false-negatives above the combined error bound, [lb,ub]
    * bracketing) survive merge in ANY batching. */
  def freqRefresh(
      spark: SparkSession, statePath: String, batch: DataFrame,
      keyCol: String, termCol: String, maxMapSize: Int): DataFrame = {
    val newId = latestVersion(spark, statePath).getOrElse(-1L) + 1
    mergeCommit(spark, statePath, newId,
      freqDelta(spark, batch, keyCol, termCol, maxMapSize),
      freqMerge(spark, keyCol, maxMapSize))
    readState(spark, statePath)
  }

  /** [[refreshOnce]] for the frequent-items sketch state. */
  def freqRefreshOnce(
      spark: SparkSession, statePath: String, batch: DataFrame,
      keyCol: String, termCol: String, maxMapSize: Int,
      batchId: Long): Unit =
    if (latestVersion(spark, statePath).forall(_ < batchId))
      mergeCommit(spark, statePath, batchId,
        freqDelta(spark, batch, keyCol, termCol, maxMapSize),
        freqMerge(spark, keyCol, maxMapSize))

  private def freqDelta(
      spark: SparkSession, batch: DataFrame, keyCol: String, termCol: String,
      maxMapSize: Int) = {
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.freqAgg
    batch.groupBy(col(keyCol))
      .agg(freqAgg(col(termCol), maxMapSize).as("sk"))
  }

  private def freqMerge(spark: SparkSession, keyCol: String, maxMapSize: Int)(
      state: DataFrame, delta: DataFrame) = {
    import graft.functions.GraftFunctions.freqMergeAgg
    state.unionAll(delta).groupBy(col(keyCol))
      .agg(freqMergeAgg(col("sk"), maxMapSize).as("sk"))
  }

  /** Drop the state (test/replay hygiene). */
  def reset(spark: SparkSession, statePath: String): Unit = {
    val hpath = new org.apache.hadoop.fs.Path(statePath)
    val fs = fsOf(spark, statePath)
    if (fs.exists(hpath)) { fs.delete(hpath, true); () }
  }
}
