package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** Compaction: the one routine behind `CALL compact` — full, scoped
  * (`where`) and Z-order (multi-column `sort_by`) rewrites alike.
  *
  *   1. [[plan]] reads main's head ONCE and picks the scope from it:
  *      every live entry, or the entries whose `#stats` PROVE the
  *      `where` clause (the sound file-alignment rule metadata delete
  *      uses — a partially covered file stays untouched);
  *   2. [[Plan.write]] scans exactly that scope pinned to the head's
  *      version (`versionAsOf`, plus `filesSubset` for a partial scope),
  *      arranges the rows once and stages them through the table's one
  *      task writer with the maintenance write spec (no CHECK evaluates:
  *      the rewrite re-lands committed rows);
  *   3. [[Staged.commit]] lands every file in ONE replacing claim that
  *      drops exactly the scoped entries, keeps concurrent blind appends,
  *      aborts on a concurrent rewrite of an input or on new delete state
  *      the scan never saw, and marks the step `#maint` (row-preserving).
  *
  * A commit appending between the head read and the scan is invisible to
  * the pinned scan and survives as a blind append — its rows land once. */
private[sources] object ManifestCompaction {

  /** The procedure's result: the version this compaction committed (the
    * head it read when the scope was empty) and the live file counts
    * before it and in the snapshot it committed. */
  final case class Outcome(version: Int, filesBefore: Int, filesAfter: Int)

  /** Plan, write and commit; a `where` that proves no file is a no-op
    * that publishes nothing. */
  def run(spark: SparkSession, dir: Path, target: Int, sortBy: String,
      where: String): Outcome = {
    val p = plan(spark, dir, target, sortBy, where)
    if (where.nonEmpty && p.scope.isEmpty)
      Outcome(p.head.version, p.filesBefore, p.filesBefore)
    else p.write().commit()
  }

  /** A compaction planned from one head read: the scope and the
    * arranged, version-pinned scan of it. */
  final class Plan private[ManifestCompaction] (dir: Path, fs: FileSystem,
      val head: ManifestSnapshot, schema: StructType,
      val scope: Seq[String],
      // the scope is every live entry of the head: the rewrite then
      // materializes the head's delete state and clears it
      covered: Boolean,
      arranged: DataFrame, spec: WriteSpec,
      hconf: org.apache.hadoop.conf.Configuration,
      // (physical position, n) of a declared bucket layout: task i
      // writes bucket i
      bucketSpec: Option[(Int, Int)],
      sortPos: Option[(Int, Boolean, Boolean)], lineage: Boolean) {

    val filesBefore: Int = head.entries.length

    /** Run the rewrite's one job: each task stages its rows' files. */
    def write(): Staged = {
      val token = java.util.UUID.randomUUID().toString.take(8)
      val stagingName = s".staging-compact-$token"
      val serConf = new SerializableHadoopConf(hconf)
      val (dirStr, schemaB, specB, sortB) = (dir.toString, schema, spec, sortPos)
      val bucketed = bucketSpec.isDefined
      val ridAt = if (lineage) schema.length else -1
      val luvAt = if (lineage) schema.length + 1 else -1
      val msgs = try {
        arranged.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
          if (!rows.hasNext) Iterator.empty
          else {
            val w = ManifestWriters.task(dirStr, stagingName,
              f"part-c$token-$pid%05d", schemaB, serConf, specB,
              bucket = if (bucketed) pid else -1, sortPos = sortB,
              ridIdx = ridAt, luvIdx = luvAt)
            try {
              rows.foreach(w.write)
              Iterator.single(w.commit(): WriterCommitMessage)
            } catch { case e: Throwable => w.abort(); throw e }
          }
        }.collect()
      } catch {
        case e: Throwable =>
          fs.delete(new Path(dir, stagingName), true)
          throw e
      }
      new Staged(this, stagingName, msgs)
    }

    /** Land the staged files in one replacing commit. */
    private[ManifestCompaction] def commit(stagingName: String,
        msgs: Array[WriterCommitMessage]): Outcome = {
      val staging = new Path(dir, stagingName)
      try {
        val landed = ManifestWriters.landTasks(fs, dir, staging, msgs,
          schema, Seq.empty, bucketSpec)
        val scopeSet = scope.toSet
        val headState = head.raw.filter(isDeleteState).toSet
        var filesAfter = 0
        val v = ManifestFiles.publishSnapshotV(fs, hconf, dir,
          (previous, version) => {
            val gone = scopeSet -- previous.names
            if (gone.nonEmpty) throw new IllegalStateException(
              s"graft-manifest at $dir: a concurrent commit rewrote or " +
                s"removed ${gone.size} file(s) this compaction derives " +
                s"from (e.g. ${gone.head}); retry against the current " +
                "snapshot")
            // The rewrite was computed without any delete state that
            // landed since the head; its files are born after it, so
            // committing would resurrect those rows. Equality deletes
            // apply value-keyed to everything born before them, so any
            // new one conflicts (DELIBERATELY COARSE: proving its keys
            // miss the scope would mean probing key sets mid-claim). A
            // covering rewrite clears the delete state, so any new
            // vector conflicts; a partial scope conflicts only with
            // vectors pointing INTO it — vectors on out-of-scope files
            // commute, or a steadily-deleting table could never compact.
            val fresh = previous.raw.filter(isDeleteState).filterNot(headState)
            fresh.find(l => covered || l.startsWith("#eqdels,") ||
                vectorsInto(l, scopeSet)).foreach { l =>
              throw new IllegalStateException(
                s"graft-manifest at $dir: a concurrent commit landed new " +
                  s"row-level delete state (e.g. $l) after this " +
                  "compaction's scan — committing the rewrite would " +
                  "resurrect those deleted rows; retry against the " +
                  "current snapshot")
            }
            // a covering rewrite replaces every byte at the current type
            // and has applied every delete: the narrow-history widening
            // markers and the delete state clear with it
            val kept = previous.lines.filterNot(l =>
              ManifestSink.entryName(l).exists(scopeSet) ||
                (covered && (isDeleteState(l) ||
                  l.startsWith("#tableconf,widened,"))))
            val built = kept ++ landed(previous, version) :+
              // the rewrite re-lands the scope's rows verbatim: the
              // logical multiset is unchanged
              ManifestFiles.maintLine(version)
            filesAfter = ManifestFiles.entriesFromLines(built).length
            built
          }, schema, basis = Some(schema))
        Outcome(v, filesBefore, filesAfter)
      } finally fs.delete(staging, true)
    }

    private def vectorsInto(line: String, scopeSet: Set[String]): Boolean =
      line.startsWith("#dels,") && ManifestFiles.readManifest(fs,
        new Path(dir, line.split(",", 2)(1))).exists(l =>
          scopeSet(l.substring(0, l.lastIndexOf(','))))
  }

  /** A compaction whose rewrite staged its files and awaits its claim. */
  final class Staged private[ManifestCompaction] (plan: Plan,
      stagingName: String, msgs: Array[WriterCommitMessage]) {
    def commit(): Outcome = plan.commit(stagingName, msgs)
  }

  private def isDeleteState(l: String): Boolean =
    l.startsWith("#dels,") || l.startsWith("#eqdels,")

  /** Read main's head, choose the scope and arrange its pinned scan:
    * `sort_by` one column range-clusters on it, several Z-order; without
    * `sort_by` the declared sort order clusters (directions kept); the
    * declared partition columns lead every range and sort, so a task's
    * rows meet few partition values; a declared bucket layout hashes to
    * its `n` tasks instead; with nothing to arrange, `coalesce(target)`. */
  def plan(spark: SparkSession, dir: Path, target: Int, sortBy: String,
      where: String): Plan = {
    require(target >= 1, s"target_files must be >= 1, got $target")
    val hconf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(hconf)
    val head = ManifestSnapshot.latest(fs, dir)
    val schema = head.schema.getOrElse(throw new IllegalArgumentException(
      s"compact: no graft-manifest table at $dir"))
    val entries = head.entries
    // positions are physical — resolve to live fields (the drop path
    // refuses to retire a layout column, so these resolve)
    def nameAt(pos: Int): String = ManifestFiles.fieldAtPhys(schema, pos)
      .map(schema(_).name).getOrElse(throw new IllegalStateException(
        s"compact: the declared layout references retired position $pos"))
    val layout = head.tableConf
    val scope =
      if (where.isEmpty) entries.map(_._1).toSeq
      else {
        require(layout.isEmpty,
          "scoped compact on a bucket-laid table is not supported — the " +
            "bucket layout already governs file organization (full " +
            "compact re-buckets)")
        require(!head.raw.exists(isDeleteState),
          "scoped compact with merge-on-read delete vectors or equality " +
            "deletes pending — CALL rewrite_position_deletes or a full " +
            "compact first")
        val filters = scopeFilters(spark, schema, where)
        val stats = head.stats
        entries.collect { case (n, rows) if filters.forall(f =>
          ManifestSkip.provesAllMatch(f, schema, stats.get(n), Some(rows))) => n
        }.toSeq
      }
    val covered = scope.length == entries.length
    val sortCols = sortBy.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    sortCols.foreach(c => require(schema.fieldNames.contains(c),
      s"sort_by column '$c' not in ${schema.fieldNames.mkString(",")}"))
    layout.foreach { case (pos, n, _) =>
      // sort_by would fight the layout — reject it loudly instead of
      // silently unclustering
      require(sortCols.isEmpty,
        "compact(sort_by) conflicts with this table's declared bucket " +
          s"layout (bucket($n, ${nameAt(pos)})); the layout already " +
          "governs file organization")
    }

    val reader = spark.read.format("graft-manifest")
      .option("path", dir.toString)
      .option("versionAsOf", head.version.toString)
    val scan0 =
      (if (covered) reader
       else reader.option("filesSubset", scope.mkString(","))).load()
    // ROW LINEAGE: the rewrite carries every row's `_row_id` and
    // `_last_updated_version` through (trailing reserved columns the
    // writer materializes as the files' `_rid`/`_luv`), so reordering
    // never re-mints identities and never reads as an update. A
    // pre-lineage row's NULL recency carries as the 0 sentinel — a null
    // `_luv` slot would resolve to this commit (see ManifestParquet.luvOf)
    val lineage = head.lineage
    val scan =
      if (lineage) scan0.select(col("*"), scan0.metadataColumn("_row_id"),
        coalesce(scan0.metadataColumn("_last_updated_version"), lit(0))
          .as("_last_updated_version"))
      else scan0

    val lead: Seq[Column] = head.partConfs.map(p =>
      col(nameAt(p._1)).asc)
    val declared = head.sortKeys
    val zc = "__graft_z"
    val (keyed, keys): (DataFrame, Seq[Column]) = sortCols match {
      case Seq() => (scan, declared.map { k =>
        val c = col(nameAt(k.pos))
        (k.desc, k.nullsLast) match {
          case (false, false) => c.asc_nulls_first
          case (false, true) => c.asc_nulls_last
          case (true, false) => c.desc_nulls_first
          case (true, true) => c.desc_nulls_last
        }
      })
      case Seq(one) => (scan, Seq(col(one).asc))
      case many =>
        (scan.withColumn(zc, graft.functions.ZOrder.zvalue(scan, many)),
          Seq(col(zc).asc))
    }
    val order = lead ++ keys
    val arranged = layout match {
      case Some((pos, n, sp)) =>
        keyed.repartition(n, col(nameAt(pos)))
          .sortWithinPartitions(sp.map(p => Seq(col(nameAt(p)).asc))
            .getOrElse(order): _*)
      case None if order.isEmpty => keyed.coalesce(target)
      case None =>
        // the projection keeps each task's order
        keyed.repartitionByRange(target, order: _*)
          .sortWithinPartitions(order: _*).drop(zc)
    }
    val spec = WriteSpec.of(head, schema, hconf, maintenance = true)
    // the writer verifies the order it was promised and only then marks a
    // file `#sorted`: a sorted bucket layout's column, else the declared
    // order's leading key
    val sortPos = layout.flatMap(_._3) match {
      case Some(p) => ManifestFiles.fieldAtPhys(schema, p).map((_, false, false))
      case None if sortCols.isEmpty => declared.headOption.flatMap(k =>
        ManifestFiles.fieldAtPhys(schema, k.pos).map((_, k.desc, k.nullsLast)))
      case None => None
    }
    new Plan(dir, fs, head, schema, scope, covered, arranged, spec,
      hconf, layout.map { case (pos, n, _) => (pos, n) }, sortPos, lineage)
  }

  /** `where` → data-source filters via Spark's own translation, one per
    * conjunct the stats prover understands (comparison, equality, IN and
    * null tests against literals). Untranslatable conjuncts merely shrink
    * the scope — selection is advisory, the rewrite is verbatim — but a
    * clause that translates to nothing is refused. */
  private def scopeFilters(spark: SparkSession, schema: StructType,
      where: String): Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.{sources => s}
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    // analyzed condition + manual constant folding (the optimizer would
    // erase a Filter over the empty probe relation): the implicit casts
    // analysis wraps around literals collapse (`k < 120` → `k < 120L`)
    val cond = probe.filter(org.apache.spark.sql.functions.expr(where))
      .queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(throw new IllegalArgumentException(
        s"could not analyze where: $where"))
      .transformUp {
        case e if e.foldable && !e.isInstanceOf[Literal] =>
          Literal.create(e.eval(null), e.dataType)
      }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // internal literal values convert to the EXTERNAL representation
    // sources.Filter carries
    def ext(v: Any, dt: DataType): Any =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(v, dt)
    def toSource(e: Expression): Option[s.Filter] = e match {
      case EqualTo(a: AttributeReference, Literal(v, dt)) =>
        Some(s.EqualTo(a.name, ext(v, dt)))
      case EqualTo(Literal(v, dt), a: AttributeReference) =>
        Some(s.EqualTo(a.name, ext(v, dt)))
      case LessThan(a: AttributeReference, Literal(v, dt)) =>
        Some(s.LessThan(a.name, ext(v, dt)))
      case LessThan(Literal(v, dt), a: AttributeReference) =>
        Some(s.GreaterThan(a.name, ext(v, dt)))
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        Some(s.LessThanOrEqual(a.name, ext(v, dt)))
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        Some(s.GreaterThanOrEqual(a.name, ext(v, dt)))
      case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
        Some(s.GreaterThan(a.name, ext(v, dt)))
      case GreaterThan(Literal(v, dt), a: AttributeReference) =>
        Some(s.LessThan(a.name, ext(v, dt)))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        Some(s.GreaterThanOrEqual(a.name, ext(v, dt)))
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        Some(s.LessThanOrEqual(a.name, ext(v, dt)))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some(s.In(a.name, vs.map { case Literal(v, dt) => ext(v, dt) }.toArray))
      case InSet(a: AttributeReference, vs) =>
        Some(s.In(a.name, vs.map(ext(_, a.dataType)).toArray))
      case IsNull(a: AttributeReference) => Some(s.IsNull(a.name))
      case IsNotNull(a: AttributeReference) => Some(s.IsNotNull(a.name))
      case _ => None
    }
    val filters = conjuncts(cond).flatMap(toSource)
    require(filters.nonEmpty,
      s"where '$where' translates to no pushable filter — scoped " +
        "compact selects files by stats proofs")
    filters
  }
}
