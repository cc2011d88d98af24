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
  * retention or restart downstream).
  *
  * ONE VERSION WALK. Every incremental reader of `(from, end]` steps
  * through [[walk]] here: the feed's plan ([[planRange]]), streaming
  * admission ([[ManifestFiles.admittedEnd]] /
  * [[ManifestFiles.availableRows]]) and the extrema gate
  * ([[rangeAppendOnly]]) are per-step folds over it, and the plain
  * tail's two-point [[ManifestFiles.addedBetween]] reads through its
  * expired-aware [[snapshotAt]]. The walk alone owns the expired-version
  * error, the `from = 0` start at the oldest retained version, and the
  * `#maint` run jump with its deferred baseline. Both streams — the
  * plain tail and this feed — are one [[ManifestVersionStream]],
  * differing only in how a range plans and which readers they build. */
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
    * reach the extrema column. A fold over the [[walk]] with its marker
    * jumps on: a compaction rewrites FILES, never rows, so it cannot
    * retract a value, and the next data step diffs against the run's
    * end — which lets min/max compensate across the continuous-ingest
    * shape "append, nightly compact, append". A vacuumed run end keeps
    * the pre-run baseline (rows equal by the marker proof), so the next
    * data step fails conservatively on the run's file churn rather than
    * silently passing a retraction. */
  def rangeAppendOnly(fs: FileSystem, dir: Path, from: Int,
      end: Int): Boolean = {
    def delState(s: ManifestSnapshot): Set[String] =
      s.raw.filter(l => l.startsWith("#dels,") ||
        l.startsWith("#eqdels,")).toSet
    var ok = true
    walk(fs, dir, from, end, skipMaint = true) { (_, prev, cur) =>
      ok = prev.names.subsetOf(cur.names) &&
        (delState(cur) -- delState(prev)).isEmpty
      ok
    }
    ok
  }

  /** Did every version step between `a` and `b` (either order) preserve
    * the table's LOGICAL ROW MULTISET exactly? True only when each step
    * in the range carries a `#maint` marker (compaction / Z-order /
    * scoped compaction / delete-file rewrite — see
    * [[ManifestFiles.maintLine]]). ONE marker read at the range's
    * upper end ([[marksAt]]): markers carry forward commit-over-commit,
    * so the newest snapshot in the range holds every marker at or below
    * it (subject to the MaintKeep cap — an aged-out marker answers
    * false, conservatively). Powers maintenance-transparent MV
    * freshness: a rewrite or refresh over a maintenance-only tail is
    * EXACT with zero data I/O, in either direction (the row state at
    * `a` and `b` is identical). */
  def rangeRowPreserving(fs: FileSystem, dir: Path, a: Int,
      b: Int): Boolean = {
    val lo = math.min(a, b); val hi = math.max(a, b)
    if (lo == hi) return true
    if (lo < 0) return false
    val marks = marksAt(fs, dir, hi)
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
    * just the appends. Same one marker read as [[rangeRowPreserving]];
    * an unmarked (or aged-out) step stops the advance conservatively. */
  def rowPreservingPrefix(fs: FileSystem, dir: Path, from: Int,
      to: Int): Int = {
    if (to <= from || from < 0) return from
    val marks = marksAt(fs, dir, to)
    // advance only onto RETAINED versions: a consumer anchors its CDF
    // baseline at the returned prefix end, and a baseline whose own
    // snapshot was vacuumed (a tag can pin `from` while untagged
    // maintenance commits age out) would force refresh's retention
    // check into a full recompute that the retained `from` can serve
    // exactly (the walk's deferred-baseline fallback)
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
    val retained = ManifestFiles.versions(fs, dir).toSet
    if (from < 1 || !retained(from) || !retained(to)) return false
    val marks = marksAt(fs, dir, to)
    ((from + 1) to to).forall(v => marks.contains(v) || retained.contains(v))
  }

  /** The `#maint` markers as of version `v`: one RAW list read, never a
    * materialize — markers are inline control lines, so the proof never
    * resolves a segment file (one small-file read however large the
    * table). A vacuumed `v` holds no markers. */
  private[sources] def marksAt(fs: FileSystem, dir: Path, v: Int): Set[Int] =
    retained(fs, dir, v).fold(Set.empty[Int])(_.maint)

  /** The walk's one snapshot read: version `v`, or None when its version
    * file was vacuumed (version 0 is the empty table). */
  private def retained(fs: FileSystem, dir: Path,
      v: Int): Option[ManifestSnapshot] =
    if (v <= 0) Some(ManifestSnapshot.ofLines(Array.empty))
    else if (!fs.exists(new Path(dir, s"_MANIFEST.v$v"))) None
    else Some(ManifestSnapshot.at(fs, dir, v))

  /** [[retained]] for a version the reader NEEDS: a vacuumed one
    * surfaces as EXPIRED, not as a generic missing-file error — the
    * caller's checkpoint or range outlived the retention window and
    * needs a deliberate restart. */
  private[sources] def snapshotAt(fs: FileSystem, dir: Path,
      v: Int): ManifestSnapshot =
    retained(fs, dir, v).getOrElse {
      val have = ManifestFiles.versions(fs, dir).sorted
      throw new IllegalStateException(
        s"graft-manifest at $dir: version $v has expired (vacuumed); " +
          s"retained versions: ${have.mkString(",")} — restart the " +
          "incremental read or change feed from a retained version")
    }

  /** THE VERSION WALK over `(from, end]`, shared by every incremental
    * reader: the change feed ([[planRange]]), streaming admission
    * ([[ManifestFiles.admittedEnd]] / [[ManifestFiles.availableRows]])
    * and the extrema gate ([[rangeAppendOnly]]) are folds over it. Each
    * version it reads is one [[ManifestSnapshot]]; `step(v, prev, cur)`
    * sees every step that must be diffed — `prev` is its baseline —
    * and returns false to stop the walk. The rules live here only:
    *   - every read is [[snapshotAt]]: a vacuumed version fails as EXPIRED;
    *   - a `from = 0` walk on a vacuumed table starts at the OLDEST
    *     RETAINED version: the history below it is observable only as
    *     that snapshot, which diffs against the empty baseline (so a
    *     marker on it never skips it). A NON-zero expired `from` fails
    *     (the checkpoint outlived retention);
    *   - with `skipMaint`, the `#maint` markers are read ONCE from the
    *     range end ([[marksAt]]) and each marked RUN is jumped in one
    *     hop: the row state at its end equals the state at its start,
    *     so the baseline advances to the run end without a step — and
    *     without reading (possibly vacuumed) intermediate snapshots. A
    *     vacuumed run end keeps the current baseline (rows equal by the
    *     marker proof; the next unmarked step diffs against it exactly,
    *     folding the run's cancelling reorganization back in).
    *     `onJump(runEnd, retained)` reports each jump; only admission
    *     needs it, because only admission PUBLISHES offsets;
    *   - the baseline read is DEFERRED when the first step is marked:
    *     the jump usually replaces it wholesale, so a checkpoint whose
    *     own snapshot was vacuumed behind a maintenance run still walks.
    *     If the run end was vacuumed too, the deferred read happens
    *     then — loudly, if it also expired. */
  private[sources] def walk(fs: FileSystem, dir: Path, from: Int,
      end: Int, skipMaint: Boolean,
      onJump: (Int, Boolean) => Unit = (_: Int, _: Boolean) => ())(
      step: (Int, ManifestSnapshot, ManifestSnapshot) => Boolean): Unit = {
    var v = from + 1
    var mustEmit = -1
    if (from == 0) {
      val retained = ManifestFiles.versions(fs, dir)
      if (retained.nonEmpty && retained.min > 1) {
        v = retained.min; mustEmit = v
      }
    }
    val marks = if (skipMaint) marksAt(fs, dir, end) else Set.empty[Int]
    var base: Option[ManifestSnapshot] =
      if (from > 0 && marks.contains(v)) None
      else Some(snapshotAt(fs, dir, from))
    var going = true
    while (going && v <= end) {
      if (marks.contains(v) && v != mustEmit) {
        var m = v
        while (m < end && marks.contains(m + 1)) m += 1
        val runEnd = retained(fs, dir, m)
        if (runEnd.isDefined) base = runEnd
        if (base.isEmpty) base = Some(snapshotAt(fs, dir, from))
        onJump(m, runEnd.isDefined)
        v = m + 1
      } else {
        val cur = snapshotAt(fs, dir, v)
        going = step(v, base.get, cur)
        base = Some(cur)
        v += 1
      }
    }
  }

  /** The change feed's plan: one ManifestChangePartition per changed
    * file per commit in (from, end], a fold over the [[walk]]. Driver
    * metadata I/O only, shared by the batch scan and the stream.
    *
    * `skipMaint` (the `skipMaintenance` read option, round 16): a step
    * carrying a `#maint` marker is PROVEN to have preserved the logical
    * row multiset — its delete+insert legs cancel exactly under any
    * signed fold — so the feed omits them entirely (the walk jumps
    * marked runs), which is what Delta CDF and Iceberg's changelog scan
    * do for compactions. This is the difference, for every 24/7 CDF
    * consumer (MV refresh, governed ANN/band index maintenance,
    * fingerprint stores), between a nightly compaction costing a full
    * corpus replay and costing NOTHING. An aged-out marker (MaintKeep
    * cap) simply emits that step's legs — still exact, they cancel
    * downstream. */
  def planRange(fs: FileSystem, dir: Path, from: Int,
      end: Int, schema: StructType,
      conf: org.apache.hadoop.conf.Configuration,
      skipMaint: Boolean = false): Array[InputPartition] = {
    require(end >= from, s"changesTo ($end) must be >= changesFrom ($from)")
    // delete-FILE contents cache: each #dels file is immutable, read once
    val delFileCache = scala.collection.mutable.Map.empty[String, Array[(String, Long)]]
    def delsOf(snap: ManifestSnapshot): Map[String, Array[Long]] =
      snap.deleteFiles.flatMap { dn =>
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
    def eqSetsOf(snap: ManifestSnapshot): Seq[(Int, ManifestEqDeletes.EqSet)] =
      snap.raw.filter(_.startsWith("#eqdels,")).toSeq.flatMap { l =>
        val parts = l.split(",", 4)
        for (ver <- parts.lift(3).flatMap(_.toIntOption)) yield
          ver -> eqSetCache.getOrElseUpdate(parts(1),
            ManifestEqDeletes.readSet(parts(1),
              parts(2).split(";").map(_.toInt), schema, dir, conf))
      }
    // file → the delete sets already applied to it in a snapshot
    def eqApplicable(snap: ManifestSnapshot):
        Map[String, Seq[ManifestEqDeletes.EqSet]] = {
      val sets = eqSetsOf(snap)
      if (sets.isEmpty) Map.empty
      else {
        snap.entries.flatMap { case (n, _) =>
          val applicable = sets.collect {
            case (ver, st) if snap.born.getOrElse(n, 0) < ver => st }
          if (applicable.isEmpty) None else Some(n -> applicable.toSeq)
        }.toMap
      }
    }

    // each walked snapshot is a step's `cur`, then the next step's
    // `prev`: its delete vectors are read once, for both
    var delsMemo = List.empty[(ManifestSnapshot, Map[String, Array[Long]])]
    def dels(snap: ManifestSnapshot): Map[String, Array[Long]] =
      delsMemo.collectFirst { case (s, d) if s eq snap => d }.getOrElse {
        val d = delsOf(snap)
        delsMemo = (snap -> d) :: delsMemo.take(1)
        d
      }
    val out = Array.newBuilder[InputPartition]
    walk(fs, dir, from, end, skipMaint) { (v, prev, cur) =>
      // A version step that REMOVES delete state — CALL rollback to a
      // pre-delete snapshot — RESURRECTS rows on files that survive the
      // step, a diff this walk cannot express as insert/delete legs (the
      // resurrected rows' files were never unlisted). Fail loudly, like
      // the vacuumed-file surface, instead of letting a downstream store
      // silently diverge. Shrinkage on files that were ALSO unlisted in
      // the same step (compaction materializing its deletes) stays fine:
      // those surface as full delete+insert legs.
      val (prevDels, curDels) = (dels(prev), dels(cur))
      val survivors = cur.names & prev.names
      val shrunkVec = survivors.iterator.filter { n =>
        prevDels.getOrElse(n, Array.empty[Long])
          .diff(curDels.getOrElse(n, Array.empty[Long])).nonEmpty
      }.take(1).toSeq
      val curLineSet = cur.raw.toSet
      val shrunkEq = prev.raw.filter { l =>
        l.startsWith("#eqdels,") && !curLineSet.contains(l) && {
          val ver = l.split(",", 4).lift(3).flatMap(_.toIntOption).getOrElse(0)
          survivors.exists(n => prev.born.getOrElse(n, 0) < ver)
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
      val prevEqApplicable = eqApplicable(prev)
      val newEqSets = eqSetsOf(cur).collect {
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
      // ROW LINEAGE riders (immutable per file while listed): insert legs
      // resolve against the commit's own snapshot, delete legs against
      // the predecessor — so a feed consumer sees each leg's `_row_id`
      // exactly as a reader of that snapshot would
      def leg(n: String, kind: String, of: ManifestSnapshot, skip: Array[Long],
          keep: Array[Long], skipEqs: Seq[ManifestEqDeletes.EqSet] = Seq.empty,
          keepEq: Option[ManifestEqDeletes.EqSet] = None): Unit =
        out += ManifestChangePartition(new Path(dir, n).toString, n, kind, v,
          skip, keep, ts, keepEq = keepEq, skipEqs = skipEqs,
          firstRow = of.firstRow.getOrElse(n, -1L),
          ridCol = of.ridCol.contains(n), luv = of.luv.getOrElse(n, -1),
          luvCol = of.luvCol.contains(n))
      (cur.names -- prev.names).toSeq.sorted.foreach { n =>
        leg(n, "insert", cur, curDels.getOrElse(n, Array.empty), Array.empty)
      }
      (prev.names -- cur.names).toSeq.sorted.foreach { n =>
        if (!fs.exists(new Path(dir, n))) throw new IllegalStateException(
          s"graft-manifest at $dir: data file $n was unlisted at " +
            s"version $v and its bytes were vacuumed — the change feed " +
            "for this range is unavailable; widen retention or restart " +
            "downstream from a full snapshot")
        leg(n, "delete", prev, prevDels.getOrElse(n, Array.empty),
          Array.empty, skipEqs = prevEqApplicable.getOrElse(n, Seq.empty))
      }
      survivors.toSeq.sorted.foreach { n =>
        val fresh = curDels.getOrElse(n, Array.empty)
          .diff(prevDels.getOrElse(n, Array.empty))
        if (fresh.nonEmpty) leg(n, "delete", prev, Array.empty, fresh)
      }
      mergedNew.foreach { st =>
        survivors.toSeq.sorted
          .filter(n => cur.born.getOrElse(n, 0) < v).foreach { n =>
            leg(n, "delete", prev, prevDels.getOrElse(n, Array.empty),
              Array.empty, skipEqs = prevEqApplicable.getOrElse(n, Seq.empty),
              keepEq = Some(st))
          }
      }
      true
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
        try m ++ ManifestSnapshot.at(fs, dir, v).imports
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
    caps: ManifestAdmission.Caps = ManifestAdmission.Caps(),
    skipMaintenance: Boolean = false) extends Scan with Batch {

  private def dir = new Path(path)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-manifest-changefeed $path v$from..${to.getOrElse("latest")}"

  private def plan(fs: FileSystem, dir: Path, from: Int,
      end: Int): Array[InputPartition] =
    ManifestChangeFeed.planRange(fs, dir, from, end,
      ManifestChangeFeed.stripCdf(fullSchema), conf.value,
      skipMaint = skipMaintenance)

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = dir.getFileSystem(conf.value)
    plan(fs, dir, from, to.getOrElse(ManifestFiles.latestComplete(fs, dir)))
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
    new ManifestVersionStream(path, conf, caps, startAt = from,
      countRemovals = true, skipMaint = skipMaintenance, plan = plan,
      readers = (fs, dir) => ManifestChangeFeed.readerFactory(fs, dir, None,
        fullSchema, required, conf))
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
