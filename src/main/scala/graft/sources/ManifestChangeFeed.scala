package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** CHANGE DATA FEED over the manifest format (round 12 — Delta's CDF /
  * Iceberg's changelog scan): `option("changeFeed", true)` with a
  * `changesFrom`(exclusive)/`changesTo`(inclusive, default latest)
  * version range reads the ROW-LEVEL diff the range committed, as the
  * table's columns plus `_change_type` ('insert' | 'delete') and
  * `_commit_version`. This is the primitive an incremental downstream
  * consumer needs to propagate row-level DELETEs (takedowns) without
  * reprocessing the table — the plain incremental read
  * (`changesFrom` without the flag) refuses delete-bearing ranges
  * precisely because it cannot express them.
  *
  * Per version step, walking the manifest lines only (plan time is
  * metadata-scale):
  *   - entries ADDED surface their rows visible at that commit as
  *     'insert' (a merge-on-read commit never vectors its own new file,
  *     but visibility-at-commit keeps even that edge consistent);
  *   - entries UNLISTED surface their rows visible at the PREDECESSOR
  *     as 'delete' (a COW rewrite therefore surfaces remove+add, whose
  *     net effect is exactly the rewrite's row-level change);
  *   - NEW delete-vector positions on surviving files surface just
  *     those rows as 'delete'.
  * Updates decompose into delete+insert (the COW pair, or MOR's
  * vector+insert-file pair) — the Delta CDF contract without
  * update_pre/postimage, which the manifest's positional vectors do not
  * record. All reads project through the range-END schema, so
  * renames/adds surface uniformly (old files null-fill).
  *
  * A range whose versions were vacuumed fails with the expired-version
  * surface; an unlisted file whose bytes vacuum already reclaimed fails
  * loudly at plan time (the diff is genuinely unavailable — widen
  * retention or restart downstream). */
object ManifestChangeFeed {
  val TypeCol = "_change_type"
  val VersionCol = "_commit_version"
  val TimestampCol = "_commit_timestamp"

  /** UPDATE IMAGES over a keyed change feed (Delta's full CDF contract,
    * round 13): when the table's rows carry a declared key, a version in
    * which one key has BOTH a value-keyed 'delete' leg and an 'insert'
    * leg is an UPDATE — the legs relabel as `update_preimage` /
    * `update_postimage`, keyed pairs a downstream SCD-2 builder can
    * consume directly. Plain inserts (fresh keys) and takedowns (keys
    * with no same-version insert) keep their types. One hash shuffle on
    * (keys, version) — at 100 TB the feed is diff-sized, so the pairing
    * costs the CHANGES, never the table. Expressed as a DataFrame
    * transform (Catalyst optimizes it with the consumer's own plan)
    * because the pairing is a keyed exchange, which a DSv2 scan cannot
    * perform inside its own partitions. */
  def withUpdateImages(feed: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "withUpdateImages needs at least one key column")
    val w = Window.partitionBy((keys.map(col) :+ col(VersionCol)): _*)
    val hasDel = max(when(col(TypeCol) === "delete", 1).otherwise(0)).over(w)
    val hasIns = max(when(col(TypeCol) === "insert", 1).otherwise(0)).over(w)
    feed.withColumn(TypeCol,
      when(hasDel === 1 && hasIns === 1,
        when(col(TypeCol) === "delete", lit("update_preimage"))
          .otherwise(lit("update_postimage")))
        .otherwise(col(TypeCol)))
  }

  def outputSchema(base: StructType): StructType =
    base.add(TypeCol, StringType, nullable = false)
      .add(VersionCol, IntegerType, nullable = false)
      .add(TimestampCol, TimestampType, nullable = false)

  def stripCdf(s: StructType): StructType =
    StructType(s.fields.filterNot(f =>
      f.name == TypeCol || f.name == VersionCol || f.name == TimestampCol))

  /** Metadata-only probe: did the commit range `(from, end]` only ever
    * ADD rows — each step either a pure append (no entries removed or
    * rewritten, no delete state landed) or a marker-proven
    * row-preserving maintenance commit (which reorganizes files, never
    * rows)? Powers the stale MV rewrite's extrema gate (a retraction
    * can beat a stored min/max; appends can only fold in via
    * least/greatest) — whose compensation fold must then read the feed
    * with `skipMaintenance` so the marked steps' cancelling legs never
    * reach the extrema column. O(range) snapshot line reads,
    * segment-cached like every plan-path read. */
  def rangeAppendOnly(fs: FileSystem, dir: Path, from: Int,
      end: Int): Boolean = {
    def delState(lines: Array[String]): Set[String] =
      lines.filter(l => l.startsWith("#dels,") ||
        l.startsWith("#eqdels,")).toSet
    // marker-proven row-preserving steps (round 16): a compaction
    // rewrites FILES, never rows, so it cannot retract a value — the
    // append-only-in-ROWS property this probe guards survives it. The
    // walk still advances its baseline through the marked step, so the
    // next data step diffs against the reorganized listing. This is
    // what lets min/max compensate across the continuous-ingest shape
    // "append, nightly compact, append" (not just a leading prefix).
    val marks = ManifestFiles.maintFromLines(
      ManifestFiles.readManifest(fs, new Path(dir, s"_MANIFEST.v$end")))
    var prev =
      if (from <= 0) Array.empty[String]
      else ManifestFiles.linesOf(fs, dir, Some(from))
    (from + 1 to end).forall { v =>
      if (marks.contains(v)) {
        // a VACUUMED marked version must not poison the baseline: its
        // empty listing would make the next step's subset check
        // vacuously true (unsafe) — keep the previous baseline instead
        // (rows equal by the marker proof; the next data step then
        // diffs against it, conservatively failing on the run's file
        // churn rather than silently passing a retraction)
        if (fs.exists(new Path(dir, s"_MANIFEST.v$v")))
          prev = ManifestFiles.linesOf(fs, dir, Some(v))
        true
      } else {
        val cur = ManifestFiles.linesOf(fs, dir, Some(v))
        val prevNames = ManifestFiles.entriesFromLines(prev).map(_._1).toSet
        val curNames = ManifestFiles.entriesFromLines(cur).map(_._1).toSet
        val ok = prevNames.subsetOf(curNames) &&
          (delState(cur) -- delState(prev)).isEmpty
        prev = cur
        ok
      }
    }
  }

  /** Did every version step between `a` and `b` (either order) preserve
    * the table's LOGICAL ROW MULTISET exactly? True only when each step
    * in the range carries a `#maint` marker (compaction / Z-order /
    * scoped compaction / delete-file rewrite — see
    * [[ManifestFiles.maintLine]]). ONE snapshot read at the range's
    * upper end: markers carry forward commit-over-commit, so the newest
    * snapshot in the range holds every marker at or below it (subject
    * to the MaintKeep cap — an aged-out marker answers false,
    * conservatively). Powers maintenance-transparent MV freshness: a
    * rewrite or refresh over a maintenance-only tail is EXACT with zero
    * data I/O, in either direction (the row state at `a` and `b` is
    * identical). */
  def rangeRowPreserving(fs: FileSystem, dir: Path, a: Int,
      b: Int): Boolean = {
    val lo = math.min(a, b); val hi = math.max(a, b)
    if (lo == hi) return true
    if (lo < 0 || !fs.exists(new Path(dir, s"_MANIFEST.v$hi"))) return false
    // RAW list read, not materialize: `#maint` markers are inline
    // control lines, so the proof never resolves a segment file — the
    // plan-path cost is one small-file read however large the table
    val marks = ManifestFiles.maintFromLines(
      ManifestFiles.readManifest(fs, new Path(dir, s"_MANIFEST.v$hi")))
    ((lo + 1) to hi).forall(marks.contains)
  }

  /** Highest version `m` in `[from, to]` such that EVERY step in
    * `(from, m]` is a marked row-preserving maintenance commit — the
    * row state at `m` is identical to the state at `from`, so any
    * change-feed consumer whose baseline is `from` may start at `m`
    * instead. The nightly pattern this pays for: "compact, then
    * append" — folding from the pin would replay the compaction's
    * full-table delete+insert legs (they cancel exactly, but only
    * after reading the table twice); folding from the prefix end reads
    * just the appends. Same one-raw-read proof as
    * [[rangeRowPreserving]]; an unmarked (or aged-out) step stops the
    * advance conservatively. */
  def rowPreservingPrefix(fs: FileSystem, dir: Path, from: Int,
      to: Int): Int = {
    if (to <= from || from < 0 ||
        !fs.exists(new Path(dir, s"_MANIFEST.v$to"))) return from
    val marks = ManifestFiles.maintFromLines(
      ManifestFiles.readManifest(fs, new Path(dir, s"_MANIFEST.v$to")))
    // advance only onto RETAINED versions: a consumer anchors its CDF
    // baseline at the returned prefix end, and a baseline whose own
    // snapshot was vacuumed (a tag can pin `from` while untagged
    // maintenance commits age out) would force refresh's retention
    // check into a full recompute that the retained `from` can serve
    // exactly (planRange's deferred-baseline fallback)
    var m = from
    var best = from
    while (m < to && marks.contains(m + 1)) {
      m += 1
      if (fs.exists(new Path(dir, s"_MANIFEST.v$m"))) best = m
    }
    best
  }

  /** Can an incremental fold anchored at `from` express the tail up to
    * `to`? True when `from`'s snapshot is retained and every UNMARKED
    * step's snapshot in `(from, to]` is too — marked (row-preserving)
    * steps need no snapshot: the skipping feed jumps them, and a
    * vacuumed marked run-end falls back to diffing against the
    * retained baseline (exact either way). The marker-aware upgrade of
    * the plain "every version retained" pre-gate. */
  def tailFoldable(fs: FileSystem, dir: Path, from: Int, to: Int): Boolean = {
    if (to <= from) return true
    if (from < 1 || !fs.exists(new Path(dir, s"_MANIFEST.v$from"))) return false
    if (!fs.exists(new Path(dir, s"_MANIFEST.v$to"))) return false
    val marks = ManifestFiles.maintFromLines(
      ManifestFiles.readManifest(fs, new Path(dir, s"_MANIFEST.v$to")))
    val retained = ManifestFiles.versions(fs, dir).toSet
    ((from + 1) to to).forall(v => marks.contains(v) || retained.contains(v))
  }

  /** Shared maintenance-run JUMP for the skipping walks (planRange /
    * admittedEnd / availableRows — one state machine, three baselines):
    * from a marked step `v`, find the run end `m`, and resolve the
    * lines the walk's baseline should advance to — `Some(run-end
    * lines)` normally; when the run-end snapshot was vacuumed,
    * `Some(from's lines)` if the baseline read was deferred (loud if it
    * too expired), else `None` = keep the current baseline (rows equal
    * by the marker proof; the next unmarked step diffs against it
    * exactly). Returns (runEnd, state, runEndRetained) — callers that
    * PUBLISH offsets must not publish an unretained run end. */
  private[sources] def jumpMaintRun(fs: FileSystem, dir: Path,
      marks: Set[Int], v: Int, end: Int, from: Int,
      baselineDeferred: Boolean, linesAt: Int => Array[String]):
      (Int, Option[Array[String]], Boolean) = {
    var m = v
    while (m < end && marks.contains(m + 1)) m += 1
    if (fs.exists(new Path(dir, s"_MANIFEST.v$m")))
      (m, Some(linesAt(m)), true)
    else if (baselineDeferred) (m, Some(linesAt(from)), false)
    else (m, None, false)
  }

  /** The step walk, shared by the batch scan and the streaming source:
    * one ManifestChangePartition per changed file per commit in
    * (from, end]. Driver metadata I/O only.
    *
    * `skipMaint` (the `skipMaintenance` read option, round 16): a step
    * carrying a `#maint` marker is PROVEN to have preserved the logical
    * row multiset — its delete+insert legs cancel exactly under any
    * signed fold — so the feed omits them entirely, which is what Delta
    * CDF and Iceberg's changelog scan do for compactions. This is the
    * difference, for every 24/7 CDF consumer (MV refresh, governed
    * ANN/band index maintenance, fingerprint stores), between a nightly
    * compaction costing a full corpus replay and costing NOTHING.
    * Marked RUNS are jumped in one hop (the walk reads only the
    * run-end snapshot), so a vacuumed mid-run version never fails a
    * feed that skips it; an aged-out marker (MaintKeep cap) simply
    * emits that step's legs — still exact, they cancel downstream. */
  def planRange(fs: FileSystem, dir: Path, from: Int,
      end: Int, schema: StructType,
      conf: org.apache.hadoop.conf.Configuration,
      skipMaint: Boolean = false): Array[InputPartition] = {
    require(end >= from, s"changesTo ($end) must be >= changesFrom ($from)")
    def linesAt(v: Int): Array[String] =
      if (v <= 0) Array.empty
      else if (!fs.exists(new Path(dir, s"_MANIFEST.v$v"))) {
        val have = ManifestFiles.versions(fs, dir).sorted
        throw new IllegalStateException(
          s"graft-manifest at $dir: version $v has expired (vacuumed); " +
            s"retained versions: ${have.mkString(",")} — restart the " +
            "change feed from a retained version")
      } else ManifestFiles.linesOf(fs, dir, Some(v))
    // delete-FILE contents cache: each #dels file is immutable, read once
    val delFileCache = scala.collection.mutable.Map.empty[String, Array[(String, Long)]]
    def delsOf(lines: Array[String]): Map[String, Array[Long]] =
      ManifestFiles.deleteFilesFromLines(lines).flatMap { dn =>
        delFileCache.getOrElseUpdate(dn,
          ManifestFiles.readManifest(fs, new Path(dir, dn)).map { l =>
            val i = l.lastIndexOf(',')
            (l.substring(0, i), l.substring(i + 1).toLong)
          })
      }.groupBy(_._1).map { case (f, ps) =>
        f -> ps.map(_._2).distinct.sorted.toArray }

    // equality-delete SET cache (each .eqdel file is immutable; key
    // types resolve against the range-end schema, like every read)
    val eqSetCache = scala.collection.mutable
      .Map.empty[String, ManifestEqDeletes.EqSet]
    def eqSetsOf(lines: Array[String]): Seq[(Int, ManifestEqDeletes.EqSet)] =
      lines.filter(_.startsWith("#eqdels,")).toSeq.flatMap { l =>
        val parts = l.split(",", 4)
        for (ver <- parts.lift(3).flatMap(_.toIntOption)) yield
          ver -> eqSetCache.getOrElseUpdate(parts(1),
            ManifestEqDeletes.readSet(parts(1),
              parts(2).split(";").map(_.toInt), schema, dir, conf))
      }
    // file → the delete sets already applied to it in a snapshot
    def eqApplicable(lines: Array[String]):
        Map[String, Seq[ManifestEqDeletes.EqSet]] = {
      val sets = eqSetsOf(lines)
      if (sets.isEmpty) Map.empty
      else {
        val born = ManifestFiles.bornFromLines(lines)
        ManifestFiles.entriesFromLines(lines).flatMap { case (n, _) =>
          val applicable = sets.collect {
            case (ver, st) if born.getOrElse(n, 0) < ver => st }
          if (applicable.isEmpty) None else Some(n -> applicable.toSeq)
        }.toMap
      }
    }

    val out = Array.newBuilder[InputPartition]
    // ROW LINEAGE riders (immutable per file while listed): insert legs
    // resolve against the commit's own snapshot, delete legs against the
    // predecessor — so a feed consumer sees each leg's `_row_id` exactly
    // as a reader of that snapshot would
    def ridsOf(lines: Array[String]):
        (Map[String, Long], Set[String], Map[String, Int], Set[String]) =
      (ManifestFiles.firstRowFromLines(lines),
        ManifestFiles.ridColFromLines(lines),
        ManifestFiles.luvFromLines(lines),
        ManifestFiles.luvColFromLines(lines))
    var v = from + 1
    // FULL-HISTORY feeds (from = 0) on a vacuumed table: the history
    // below the oldest retained version is observable only as that
    // snapshot, so the walk starts there and its entries surface as
    // inserts at that version — the same contract the plain tail's
    // admission walk keeps. A NON-zero expired `from` still fails
    // loudly below (the checkpoint outlived retention). That first step
    // diffs against the EMPTY baseline, not its predecessor, so a
    // maintenance marker on it must never skip it (`mustEmit`).
    var mustEmit = -1
    if (from == 0) {
      val retained = ManifestFiles.versions(fs, dir)
      if (retained.nonEmpty && retained.min > 1) {
        v = retained.min; mustEmit = v
      }
    }
    // `#maint` markers are inline control lines carried forward by every
    // commit, so ONE raw read of the range-end list file proves every
    // skippable step (same read discipline as rangeRowPreserving)
    val maintMarks: Set[Int] =
      if (!skipMaint) Set.empty
      else ManifestFiles.maintFromLines(ManifestFiles.readManifest(
        fs, new Path(dir, s"_MANIFEST.v$end")))
    // the baseline read is DEFERRED when the walk's first step is a
    // marked maintenance step: the jump below usually replaces the
    // state wholesale, so a checkpoint whose own snapshot was vacuumed
    // behind a maintenance run still feeds (the marker proof never
    // reads it). If the jump itself cannot land (run-end vacuumed), the
    // deferred read materializes then — loudly, if it too expired.
    var baselineDeferred = from > 0 && maintMarks.contains(v)
    var prevLines =
      if (baselineDeferred) Array.empty[String] else linesAt(from)
    var prevNames = ManifestFiles.entriesFromLines(prevLines).map(_._1).toSet
    var prevDels = delsOf(prevLines)
    var prevRids = ridsOf(prevLines)
    def emitStep(v: Int): Unit = {
      val curLines = linesAt(v)
      val curNames = ManifestFiles.entriesFromLines(curLines).map(_._1).toSet
      val curDels = delsOf(curLines)
      // A version step that REMOVES delete state — CALL rollback to a
      // pre-delete snapshot — RESURRECTS rows on files that survive the
      // step, a diff this walk cannot express as insert/delete legs (the
      // resurrected rows' files were never unlisted). Fail loudly, like
      // the vacuumed-file surface, instead of letting a downstream store
      // silently diverge. Shrinkage on files that were ALSO unlisted in
      // the same step (compaction materializing its deletes) stays fine:
      // those surface as full delete+insert legs.
      val survivors = curNames & prevNames
      val shrunkVec = survivors.iterator.filter { n =>
        prevDels.getOrElse(n, Array.empty[Long])
          .diff(curDels.getOrElse(n, Array.empty[Long])).nonEmpty
      }.take(1).toSeq
      val curLineSet = curLines.toSet
      val bornPrev = ManifestFiles.bornFromLines(prevLines)
      val shrunkEq = prevLines.filter { l =>
        l.startsWith("#eqdels,") && !curLineSet.contains(l) && {
          val ver = l.split(",", 4).lift(3).flatMap(_.toIntOption).getOrElse(0)
          survivors.exists(n => bornPrev.getOrElse(n, 0) < ver)
        }
      }.take(1)
      if (shrunkVec.nonEmpty || shrunkEq.nonEmpty)
        throw new IllegalStateException(
          s"graft-manifest at $dir: version $v removed delete state from " +
            s"surviving files (" +
            (shrunkVec.map(n => s"delete-vector ordinals dropped on $n") ++
              shrunkEq.map(l => s"equality-delete line '$l' unlisted"))
              .mkString("; ") +
            ") — e.g. CALL rollback past a row-level delete; the change " +
            "feed cannot express resurrected rows, restart the consumer " +
            s"from a full snapshot at or after version $v")
      // EQUALITY deletes (upserts) express as value-keyed delete legs:
      // a new `#eqdels` set at v deletes, from every file born before
      // it, the rows that were LIVE at the predecessor (not positionally
      // deleted, not already eq-deleted) and match the set's tuples
      val prevEqApplicable = eqApplicable(prevLines)
      val newEqSets = eqSetsOf(curLines).collect {
        case (ver, st) if ver == v => st }
      val mergedNew =
        if (newEqSets.isEmpty) None
        // one commit's delete files share the commit's key columns —
        // merge their tuples so a row matching several files still
        // emits ONE delete leg (multiplicities must replay exactly)
        else Some(ManifestEqDeletes.EqSet(newEqSets.head.keyNames,
          newEqSets.head.keyTypes, newEqSets.flatMap(_.tuples).toArray))
      val ts = fs.getFileStatus(new Path(dir, s"_MANIFEST.v$v"))
        .getModificationTime * 1000L
      val curRids = ridsOf(curLines)
      def ridArgs(n: String,
          of: (Map[String, Long], Set[String], Map[String, Int], Set[String])):
          (Long, Boolean, Int, Boolean) =
        (of._1.getOrElse(n, -1L), of._2.contains(n),
          of._3.getOrElse(n, -1), of._4.contains(n))
      (curNames -- prevNames).toSeq.sorted.foreach { n =>
        val (fr, rc, lv, lc) = ridArgs(n, curRids)
        out += ManifestChangePartition(new Path(dir, n).toString, n,
          "insert", v, curDels.getOrElse(n, Array.empty), Array.empty, ts,
          firstRow = fr, ridCol = rc, luv = lv, luvCol = lc)
      }
      (prevNames -- curNames).toSeq.sorted.foreach { n =>
        if (!fs.exists(new Path(dir, n))) throw new IllegalStateException(
          s"graft-manifest at $dir: data file $n was unlisted at " +
            s"version $v and its bytes were vacuumed — the change feed " +
            "for this range is unavailable; widen retention or restart " +
            "downstream from a full snapshot")
        val (fr, rc, lv, lc) = ridArgs(n, prevRids)
        out += ManifestChangePartition(new Path(dir, n).toString, n,
          "delete", v, prevDels.getOrElse(n, Array.empty), Array.empty, ts,
          skipEqs = prevEqApplicable.getOrElse(n, Seq.empty),
          firstRow = fr, ridCol = rc, luv = lv, luvCol = lc)
      }
      (curNames & prevNames).toSeq.sorted.foreach { n =>
        val fresh = curDels.getOrElse(n, Array.empty)
          .diff(prevDels.getOrElse(n, Array.empty))
        if (fresh.nonEmpty) {
          val (fr, rc, lv, lc) = ridArgs(n, prevRids)
          out += ManifestChangePartition(new Path(dir, n).toString, n,
            "delete", v, Array.empty, fresh, ts, firstRow = fr, ridCol = rc,
            luv = lv, luvCol = lc)
        }
      }
      mergedNew.foreach { st =>
        val bornCur = ManifestFiles.bornFromLines(curLines)
        (curNames & prevNames).toSeq.sorted
          .filter(n => bornCur.getOrElse(n, 0) < v).foreach { n =>
            val (fr, rc, lv, lc) = ridArgs(n, prevRids)
            out += ManifestChangePartition(new Path(dir, n).toString, n,
              "delete", v, prevDels.getOrElse(n, Array.empty), Array.empty,
              ts, skipEqs = prevEqApplicable.getOrElse(n, Seq.empty),
              keepEq = Some(st), firstRow = fr, ridCol = rc,
              luv = lv, luvCol = lc)
          }
      }
      prevLines = curLines; prevNames = curNames; prevDels = curDels
      prevRids = curRids
    }
    while (v <= end) {
      if (maintMarks.contains(v) && v != mustEmit) {
        // jump the whole marked run in one hop: the row state at its
        // end equals the state at its start, so the baseline advances
        // without emitting legs — and without reading (possibly
        // vacuumed) intermediate snapshots. A vacuumed run-end keeps
        // the current baseline (see jumpMaintRun): the next unmarked
        // step diffs against it EXACTLY, folding the run's cancelling
        // reorganization back in — unskipped, still exact.
        val (m, state, _) = jumpMaintRun(fs, dir, maintMarks, v, end,
          from, baselineDeferred, linesAt)
        state.foreach { jump =>
          prevLines = jump
          prevNames = ManifestFiles.entriesFromLines(jump).map(_._1).toSet
          prevDels = delsOf(jump)
          prevRids = ridsOf(jump)
        }
        baselineDeferred = false
        v = m + 1
      } else {
        emitStep(v)
        v += 1
      }
    }
    out.result()
  }

  /** Import-map union cache. A mapping is immutable per file name, so
    * the union over versions 1..v only ever GROWS — cache it per table
    * and extend incrementally, turning the streaming change feed's
    * per-micro-batch sweep from O(all retained versions) driver reads
    * into O(new versions). Keyed by dir PLUS the v1 manifest's
    * modification time, so a dropped-and-recreated table at the same
    * path never reads a stale union. */
  // Keyed by DIR with the retention epoch stored in the VALUE (round 14
  // advice fix): the previous dir+epoch compound key left one stale
  // entry — holding a full import-map union — behind per vacuum advance
  // per table on a long-running streaming driver. Replacing the dir's
  // single entry on an epoch change evicts the superseded union with it.
  private val importCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Int, Map[String, ManifestFiles.ImportMap])]()

  /** Test hook: entries held for one table dir (must stay 1 across
    * vacuum advances — the eviction the round-14 advice asked for). */
  private[sources] def importCacheEntriesFor(dir: Path): Int =
    if (importCache.containsKey(dir.toString)) 1 else 0

  private def importsThrough(fs: FileSystem, dir: Path, vmax: Int):
      Map[String, ManifestFiles.ImportMap] = {
    // epoch = the OLDEST RETAINED version + its mtime: a vacuum advance
    // just re-sweeps once under a fresh epoch, and a dropped-and-
    // recreated table can never collide (its v1 has a new mtime) —
    // keying on v1 alone degenerated to a shared 0 once v1 was vacuumed
    val vs = ManifestFiles.versions(fs, dir)
    val minV = if (vs.isEmpty) 0 else vs.min
    val mtime =
      try fs.getFileStatus(new Path(dir, s"_MANIFEST.v$minV"))
        .getModificationTime
      catch { case _: Exception => 0L }
    val epoch = s"$minV:$mtime"
    val (seen, acc) = Option(importCache.get(dir.toString))
      .collect { case (e, s, a) if e == epoch => (s, a) }
      .getOrElse((0, Map.empty[String, ManifestFiles.ImportMap]))
    if (vmax <= seen) acc
    else {
      val extended = (seen + 1 to vmax).foldLeft(acc) { (m, v) =>
        try m ++ ManifestFiles.importsFromLines(
          ManifestFiles.linesOf(fs, dir, Some(v)))
        catch { case _: Exception => m }
      }
      importCache.merge(dir.toString, (epoch, vmax, extended),
        (a, b) => if (a._1 == b._1 && a._2 >= b._2) a else b)
      extended
    }
  }

  def readerFactory(fs: FileSystem, dir: Path, at: Option[Int],
      fullSchema: StructType, required: StructType,
      conf: SerializableHadoopConf): PartitionReaderFactory = {
    // import maps ride each snapshot WITH their file entry, but a feed's
    // delete legs read PRE-IMAGE files a later commit unlisted — union
    // the mappings across every still-present version (a mapping is
    // immutable per file name, so the union is exact; vacuumed versions
    // skip — any in-range file's mapping lives in an in-range snapshot)
    val imports = importsThrough(fs, dir,
      at.getOrElse(ManifestFiles.latestComplete(fs, dir)))
    new ManifestChangeReaderFactory(fullSchema, required, conf,
      ManifestChecks.existsDefaults(
        org.apache.spark.sql.SparkSession.active, fullSchema),
      imports)
  }
}

/** One changed file in one commit. Exactly one of skip/keep modes is in
  * force: `skipOrdinals` hides already-deleted rows (insert of a
  * vectored file / delete of an unlisted file); a non-empty
  * `keepOrdinals` restricts to newly-vectored rows ('delete' of
  * surviving files). */
private[sources] case class ManifestChangePartition(file: String,
    name: String, changeType: String, version: Int,
    skipOrdinals: Array[Long],
    keepOrdinals: Array[Long],
    // commit time = the version file's modification time in micros —
    // the same clock $snapshots and time travel report
    commitTsMicros: Long = 0L,
    // equality-delete legs: emit ONLY rows matching `keepEq` (the new
    // delete set), after hiding rows `skipEqs` already deleted
    keepEq: Option[ManifestEqDeletes.EqSet] = None,
    skipEqs: Seq[ManifestEqDeletes.EqSet] = Seq.empty,
    // row lineage: the file's first row id / materialized-`_rid` marker
    // AT THIS LEG'S snapshot, so feed rows surface their `_row_id`
    firstRow: Long = -1L, ridCol: Boolean = false,
    // `_last_updated_version` riders, same resolution discipline
    luv: Int = -1, luvCol: Boolean = false)
    extends InputPartition

private[sources] class ManifestChangeFeedScan(path: String, from: Int,
    to: Option[Int], fullSchema: StructType, required: StructType,
    conf: SerializableHadoopConf,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None,
    minRowsPerTrigger: Option[Long] = None,
    maxTriggerDelayMs: Long = 15000L,
    skipMaintenance: Boolean = false) extends Scan with Batch {

  import ManifestChangeFeed._

  private def dir = new Path(path)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-manifest-changefeed $path v$from..${to.getOrElse("latest")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = dir.getFileSystem(conf.value)
    ManifestChangeFeed.planRange(fs, dir, from,
      to.getOrElse(ManifestFiles.latestComplete(fs, dir)),
      ManifestChangeFeed.stripCdf(fullSchema), conf.value,
      skipMaint = skipMaintenance)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val fs = dir.getFileSystem(conf.value)
    ManifestChangeFeed.readerFactory(fs, dir, to.filter(_ > 0), fullSchema,
      required, conf)
  }

  /** STREAMING change feed (Delta's `readChangeFeed` stream): offsets
    * are versions; each micro-batch emits the rows its version range
    * inserted AND deleted, so a 24/7 downstream consumer propagates
    * takedowns without dying on delete-bearing commits (the plain tail's
    * only options are fail or skip). Starts at `changesFrom` (default 0
    * = full history first batch). */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ManifestChangeFeedStream(path, from, fullSchema, required, conf,
      maxFilesPerTrigger, maxBytesPerTrigger, maxRowsPerTrigger,
      minRowsPerTrigger, maxTriggerDelayMs, skipMaintenance)
}

private[sources] class ManifestChangeFeedStream(path: String, startAt: Int,
    fullSchema: StructType, required: StructType, conf: SerializableHadoopConf,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    maxRowsPerTrigger: Option[Long] = None,
    minRowsPerTrigger: Option[Long] = None,
    maxTriggerDelayMs: Long = 15000L,
    skipMaintenance: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def dir = new Path(path)
  private def fs = dir.getFileSystem(conf.value)

  @volatile private var availableEnd: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(ManifestFiles.latestVersion(fs, dir))

  private def head: Int =
    availableEnd.getOrElse(ManifestFiles.latestVersion(fs, dir))

  override def getDefaultReadLimit: ReadLimit =
    ManifestAdmission.defaultLimit(maxFilesPerTrigger, maxBytesPerTrigger,
      maxRowsPerTrigger, minRowsPerTrigger, maxTriggerDelayMs)

  @volatile private var lastTriggerMs = 0L

  override def initialOffset(): Offset = ManifestOffset(startAt)
  override def latestOffset(): Offset =
    ManifestOffset(ManifestFiles.latestVersion(fs, dir))
  // Admission control for the streaming change feed: the same capped
  // version walk as the plain tail, with `countRemovals = true` —
  // a version's UNLISTED entries are reads the CDF batch must perform
  // (delete legs), so they price against the caps too.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ManifestOffset].version
    ManifestOffset(ManifestAdmission.decide(fs, dir, from, head,
      ManifestAdmission.capsOf(limit), countRemovals = true,
      draining = availableEnd.isDefined,
      () => lastTriggerMs, lastTriggerMs = _,
      skipMaint = skipMaintenance))
  }
  override def reportLatestOffset(): Offset = ManifestOffset(head)
  override def deserializeOffset(json: String): Offset =
    ManifestOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    ManifestChangeFeed.planRange(fs, dir,
      start.asInstanceOf[ManifestOffset].version,
      end.asInstanceOf[ManifestOffset].version,
      ManifestChangeFeed.stripCdf(fullSchema), conf.value,
      skipMaint = skipMaintenance)

  override def createReaderFactory(): PartitionReaderFactory =
    ManifestChangeFeed.readerFactory(fs, dir, None, fullSchema, required, conf)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Wraps the ordinary single-file readers: the inner read projects the
  * required DATA columns (plus `_pos` when a keep-list must filter),
  * the wrapper applies the keep-list and appends the
  * `_change_type`/`_commit_version` constants. Row reads only — change
  * feeds are diff-sized, not scan-sized. */
private[sources] class ManifestChangeReaderFactory(fullSchema: StructType,
    required: StructType, conf: SerializableHadoopConf,
    defaults: Seq[(String, Any)] = Seq.empty,
    imports: Map[String, ManifestFiles.ImportMap] = Map.empty)
    extends PartitionReaderFactory {

  import ManifestChangeFeed._

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ManifestChangePartition]
    val dataReq0 = stripCdf(required)
    val needPos = part.keepOrdinals.nonEmpty
    // an all-constant projection (count over the feed) still needs one
    // driver column to iterate rows by: `_pos`
    val innerReq0 =
      if ((needPos || dataReq0.isEmpty) && !dataReq0.fieldNames.contains("_pos"))
        dataReq0.add("_pos", LongType, nullable = false)
      else dataReq0
    // equality-delete legs evaluate key tuples — widen the projection
    // with the key columns the query didn't ask for (never surfaced:
    // `picks` below only maps the REQUIRED fields)
    val eqSets = part.keepEq.toSeq ++ part.skipEqs
    val innerReq = ManifestEqDeletes.missingKeys(eqSets, innerReq0)
      .foldLeft(innerReq0)((acc, n) =>
        acc.add(fullSchema(fullSchema.fieldIndex(n))))
    val skipProbe = if (part.skipEqs.isEmpty) null
      else new ManifestEqDeletes.Probe(part.skipEqs, innerReq)
    val keepProbe = part.keepEq.map(st =>
      new ManifestEqDeletes.Probe(Seq(st), innerReq)).orNull
    val inner = new ManifestReaderFactory(fullSchema, innerReq, conf,
      columnar = false, defaults = defaults,
      imports = imports,
      rowIds =
        if (part.firstRow >= 0 || part.ridCol)
          Map(part.name -> (part.firstRow, part.ridCol))
        else Map.empty,
      luvs =
        if (part.luv >= 0 || part.luvCol)
          Map(part.name -> (part.luv, part.luvCol))
        else Map.empty)
      .createReader(ManifestInputPartition(part.file, part.name,
        part.skipOrdinals))
    val posIdx = innerReq.fieldNames.indexOf("_pos")
    val typeConst = UTF8String.fromString(part.changeType)
    val picks: Array[Int] = required.fields.map { f =>
      if (f.name == TypeCol) -1
      else if (f.name == VersionCol) -2
      else if (f.name == TimestampCol) -3
      else innerReq.fieldNames.indexOf(f.name)
    }
    val dts: Array[DataType] = required.fields.map(_.dataType)
    new PartitionReader[InternalRow] {
      private var k = 0 // keep-list pointer (ordinals arrive ascending)
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          val eqOk = (skipProbe == null || !skipProbe.matches(r)) &&
            (keepProbe == null || keepProbe.matches(r))
          if (eqOk) {
            if (!needPos) return true
            val pos = r.getLong(posIdx)
            while (k < part.keepOrdinals.length && part.keepOrdinals(k) < pos)
              k += 1
            if (k < part.keepOrdinals.length && part.keepOrdinals(k) == pos)
              return true
          }
        }
        false
      }
      override def get(): InternalRow = {
        val in = inner.get()
        val out = new GenericInternalRow(picks.length)
        var i = 0
        while (i < picks.length) {
          out.update(i, picks(i) match {
            case -1 => typeConst
            case -2 => part.version
            case -3 => part.commitTsMicros
            // the inner identity path surfaces ColumnarBatchRow, whose
            // get() does NOT null-check (it reads the vector slot raw) —
            // an unguarded get fabricated values for NULL fields
            case j => if (in.isNullAt(j)) null else in.get(j, dts(i))
          })
          i += 1
        }
        out
      }
      override def close(): Unit = inner.close()
    }
  }
}
