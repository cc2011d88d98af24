package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Inspection METADATA TABLES over a manifest table, Iceberg-style
  * (`db.table.files` / Delta's DESCRIBE DETAIL): `SELECT * FROM
  * cat.`t$files``, `…$snapshots`, `…$partitions`. Read-only, computed
  * entirely from the snapshot's metadata lines on the DRIVER (no Spark
  * job — file listings scale with file count, not data; the scan is a
  * [[LocalScan]], the same seam the CALL procedures return results
  * through), and they compose with time travel: `VERSION AS OF n` on
  * the metadata identifier inspects that snapshot's metadata.
  *
  *   - `t$files` — one row per data file: name, per-file format, row
  *     count, size, bucket id, sort mark, merge-on-read deleted-row
  *     count, and the file's proven partition value (null when the
  *     file's stats don't prove it value-pure — same proof the SPJ
  *     group derivation uses).
  *   - `t$snapshots` — version history with per-version file/row
  *     totals, commit time, and added/removed file deltas.
  *   - `t$partitions` — per-partition-value aggregates (file count,
  *     row count, bytes) for the declared days/months/identity layout;
  *     files whose purity is unprovable aggregate into an all-NULL
  *     partition row so the totals always reconcile with `t$files`.
  *
  * Reference seam: SplitServe inherits Spark 2.1's `DESCRIBE` surface
  * (`sql/core/.../command/tables.scala`); this lifts the same
  * introspection need to the versioned table format, where the
  * interesting state (snapshots, per-file stats, layout proofs) lives
  * outside the Hive catalog.
  */
private[sources] object ManifestMetaTables {
  val Suffixes: Set[String] =
    Set("files", "snapshots", "partitions", "refs", "segments")

  /** `name$kind` → (base table name, kind), when kind is a known
    * metadata-table suffix. A REAL table whose directory is literally
    * named `x$files` wins (the catalog checks existence first). */
  def parse(name: String): Option[(String, String)] = {
    val i = name.lastIndexOf('$')
    if (i <= 0) None
    else {
      val kind = name.substring(i + 1)
      if (Suffixes.contains(kind)) Some((name.substring(0, i), kind)) else None
    }
  }

  /** Proven partition key of one file under the declared transforms —
    * the SAME stats proof the scan's SPJ group derivation
    * (ManifestScan.partGroups) runs: null-free column, min and max in
    * one group. None = unprovable (foreign/legacy file). */
  def fileKey(stats: Option[ManifestFiles.FileStats],
      specs: Seq[(Int, String, DataType)],
      // float→double widened positions: their text bounds don't bound
      // the upcast rows, so derived keys could MISLABEL a file — such
      // files fall into the all-NULL row (totals still reconcile)
      unsafe: Set[Int] = Set.empty): Option[List[Any]] = {
    def keyAt(pos: Int, kind: String, dt: DataType): Option[Any] =
      if (unsafe(pos)) None
      else stats.flatMap(_.cols.get(pos)).flatMap { c =>
        if (c.nulls != 0) None
        else for {
          mnS <- c.min; mxS <- c.max
          mn <- ManifestSkip.decodeRaw(dt, mnS)
          mx <- ManifestSkip.decodeRaw(dt, mxS)
          // ONE derivation, shared with the scan's SPJ grouping — all
          // transforms (days/months/years/hours/truncate/identity)
          key <- ManifestFiles.partKeyFromBounds(kind, mn, mx)
        } yield key
      }
    val ks = specs.map { case (pos, kind, dt) => keyAt(pos, kind, dt) }
    if (ks.exists(_.isEmpty)) None else Some(ks.map(_.get).toList)
  }

  /** The positions [[fileKey]] must treat as unprovable for a snapshot. */
  def unsafeKeyPositions(snap: ManifestSnapshot): Set[Int] =
    snap.widened.collect { case (pos, "float") => pos }.toSet

  /** Partition-value column of the `$partitions` schema for one
    * transform: identity surfaces the column itself; days surfaces
    * `<col>_day DATE` (the ordinal IS the epoch day); months/years/hours
    * surface typed ordinals (`yyyy-MM` string / INT year / `yyyy-MM-dd
    * HH:00` string); truncate surfaces the truncated value at the
    * column's own type. */
  def partField(name: String, kind: String, dt: DataType): StructField =
    kind match {
      case "days" => StructField(s"${name}_day", DateType, nullable = true)
      case "months" => StructField(s"${name}_month", StringType, nullable = true)
      case "years" => StructField(s"${name}_year", IntegerType, nullable = true)
      case "hours" => StructField(s"${name}_hour", StringType, nullable = true)
      case k if GraftTruncateFunction.widthOf(k).isDefined =>
        StructField(s"${name}_trunc", dt, nullable = true)
      case _ => StructField(name, dt, nullable = true)
    }

  def renderKey(kind: String, key: Any): Any = kind match {
    case "months" =>
      val ord = key.asInstanceOf[Int]
      UTF8String.fromString(
        f"${Math.floorDiv(ord, 12)}%04d-${Math.floorMod(ord, 12) + 1}%02d")
    case "hours" =>
      val h = key.asInstanceOf[Int].toLong
      UTF8String.fromString(java.time.LocalDateTime.ofEpochSecond(
        h * 3600L, 0, java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:00")))
    case _ => key // days: epoch-day Int; years: Int; identity/trunc: raw
  }

  /** Human-readable partition string for `t$files` (`od=1996-01-03/
    * o_orderpriority=5-LOW`). */
  def renderPath(specs: Seq[(String, String, DataType)],
      key: List[Any]): String =
    specs.zip(key).map { case ((name, kind, _), k) =>
      val v = kind match {
        case "days" => java.time.LocalDate.ofEpochDay(
          k.asInstanceOf[Int].toLong).toString
        case "months" | "hours" => renderKey(kind, k).toString
        case _ => String.valueOf(k)
      }
      s"$name=$v"
    }.mkString("/")
}

/** One metadata table, bound to a base table directory and an optional
  * pinned version (time travel). Rows materialize driver-side at scan
  * build — metadata scale. */
private[sources] class ManifestMetaTable(kind: String, dir: Path,
    fs: FileSystem, version: Option[Int]) extends Table with SupportsRead {

  import ManifestMetaTables._

  override def name(): String = s"${dir.getName}$$$kind"
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  /** The ONE snapshot this instance describes: its schema, its layout
    * and its rows all come from it, so a commit landing between
    * `schema()` and the scan never mixes two versions. */
  private lazy val snap: ManifestSnapshot =
    ManifestSnapshot.resolve(fs, dir, version)

  private lazy val baseSchema: StructType = snap.requireSchema

  /** Declared layout resolved to live (name, kind, type, physical pos)
    * — positions key the stats, names/types surface in results. */
  private lazy val layout: Seq[(String, String, DataType, Int)] =
    snap.partConfs.flatMap {
      case (pos, k) =>
        ManifestFiles.fieldAtPhys(baseSchema, pos).map { idx =>
          (baseSchema(idx).name, k, baseSchema(idx).dataType, pos)
        }
    }

  override def schema(): StructType = kind match {
    case "files" => new StructType()
      .add("file", StringType, nullable = false)
      .add("format", StringType, nullable = false)
      .add("row_count", LongType, nullable = false)
      .add("size_bytes", LongType, nullable = true)
      .add("bucket", IntegerType, nullable = true)
      .add("sorted_by", StringType, nullable = true)
      .add("delete_rows", LongType, nullable = false)
      .add("partition", StringType, nullable = true)
      // round 12: upsert/import observability — the birth version
      // (#born marker, null for pre-eqdel history), whether the file
      // was registered by CALL add_files, and how many equality-delete
      // sets currently apply to it (the read-amplification signal that
      // says "compact me")
      .add("born", IntegerType, nullable = true)
      .add("imported", BooleanType, nullable = false)
      .add("eq_delete_sets", IntegerType, nullable = false)
      // round 14: row-lineage observability — the file's assigned first
      // row id (null before lineage enablement) and whether it carries
      // a materialized `_rid` column (rewrite output)
      .add("first_row_id", LongType, nullable = true)
      .add("rid_column", BooleanType, nullable = false)
    case "snapshots" => new StructType()
      .add("version", IntegerType, nullable = false)
      .add("committed_at", TimestampType, nullable = false)
      .add("file_count", IntegerType, nullable = false)
      .add("row_count", LongType, nullable = false)
      .add("added_files", IntegerType, nullable = false)
      .add("removed_files", IntegerType, nullable = false)
    case "partitions" =>
      require(layout.nonEmpty,
        s"${dir.getName} has no declared partition layout — " +
          "$partitions needs PARTITIONED BY (days(ts)|months(ts)|col, …)")
      StructType(layout.map { case (n, k, dt, _) => partField(n, k, dt) } ++
        Seq(StructField("file_count", LongType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("size_bytes", LongType, nullable = false)))
    case "refs" => new StructType()
      .add("name", StringType, nullable = false)
      .add("type", StringType, nullable = false)
      .add("version", IntegerType, nullable = false)
      .add("forked_from", IntegerType, nullable = true)
    // round 13: the SEGMENTED metadata layer itself is inspectable —
    // which segments a snapshot references, how much each carries, and
    // whether it has a prunable `#segstats` summary (an unsummarized
    // segment is always read). The `(inline)` row covers lines living
    // in the list file itself; a legacy full listing surfaces as one
    // `(legacy)` row.
    case "segments" => new StructType()
      .add("segment", StringType, nullable = false)
      .add("data_files", IntegerType, nullable = false)
      .add("row_count", LongType, nullable = false)
      .add("line_count", IntegerType, nullable = false)
      .add("size_bytes", LongType, nullable = true)
      .add("summarized", BooleanType, nullable = false)
  }

  private def computeRows(): Array[InternalRow] = {
    lazy val entries = snap.entries
    lazy val stats = snap.stats
    kind match {
      case "files" =>
        val buckets = snap.buckets
        val sorted = snap.sorted
        val born = snap.born
        val imported = snap.imports.keySet
        // equality-delete set VERSIONS (counting needs no tuple reads)
        val eqVersions = snap.raw.filter(_.startsWith("#eqdels,"))
          .flatMap(_.split(",", 4).lift(3)).flatMap(_.toIntOption)
        // per-file merge-on-read deleted-row counts (#dels files hold
        // (file, pos) pairs — driver metadata I/O)
        val delCounts: Map[String, Long] = snap.deleteFiles
          .flatMap { dn =>
            ManifestFiles.readManifest(fs, new Path(dir, dn)).map { l =>
              l.substring(0, l.lastIndexOf(',')) }
          }.groupBy(identity).map { case (f, hits) => f -> hits.length.toLong }
        val specs3 = layout.map { case (n, k, dt, pos) => (pos, k, dt) }
        val names3 = layout.map { case (n, k, dt, _) => (n, k, dt) }
        val firstRows = snap.firstRow
        val ridCols = snap.ridCol
        entries.map { case (file, rows) =>
          val key =
            if (layout.isEmpty) None
            else fileKey(stats.get(file), specs3, unsafeKeyPositions(snap))
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(file),
            UTF8String.fromString("parquet"),
            rows,
            stats.get(file).map(s => s.bytes: Any).orNull,
            buckets.get(file).map(b => b._3: Any).orNull,
            sorted.get(file)
              .flatMap { case (p, desc, _) =>
                ManifestFiles.fieldAtPhys(baseSchema, p).map(i =>
                  baseSchema(i).name + (if (desc) " DESC" else "")) }
              .map(n => UTF8String.fromString(n): Any)
              .orNull,
            delCounts.getOrElse(file, 0L),
            key.map(k => UTF8String.fromString(
              renderPath(names3, k)): Any).orNull,
            born.get(file).map(v => v: Any).orNull,
            imported.contains(file),
            eqVersions.count(_ > born.getOrElse(file, 0)),
            firstRows.get(file).map(v => v: Any).orNull,
            ridCols.contains(file))): InternalRow
        }
      case "snapshots" =>
        val vs = ManifestFiles.versions(fs, dir).sorted
        var prev = Set.empty[String]
        vs.map { v =>
          val es = ManifestFiles.entries(fs, dir, Some(v))
          val cur = es.map(_._1).toSet
          val row = new GenericInternalRow(Array[Any](
            v,
            fs.getFileStatus(new Path(dir, s"_MANIFEST.v$v"))
              .getModificationTime * 1000L,
            es.length,
            es.map(_._2).sum,
            (cur -- prev).size,
            (prev -- cur).size)): InternalRow
          prev = cur
          row
        }.toArray
      case "refs" =>
        // named refs: immutable tags (name → version) and writable
        // branches (head version + fork point) — `main` itself excluded
        // (it IS the table). `ver` pinning doesn't apply: refs live
        // outside the snapshot chain.
        val tagRows = ManifestFiles.tags(fs, dir).toSeq.sortBy(_._1).map {
          case (n, v) => new GenericInternalRow(Array[Any](
            UTF8String.fromString(n), UTF8String.fromString("tag"), v,
            null)): InternalRow
        }
        val branchRows = ManifestFiles.branches(fs, dir).sorted.map { b =>
          val head = ManifestSnapshot.latest(fs, dir, Some(b))
          val base = head.raw.find(_.startsWith("#branchbase,"))
            .flatMap(_.stripPrefix("#branchbase,").toIntOption)
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(b), UTF8String.fromString("branch"), head.version,
            base.map(v => v: Any).orNull)): InternalRow
        }
        (tagRows ++ branchRows).toArray
      case "segments" =>
        val raw = snap.raw
        def rowOf(name: String, ls: Array[String],
            bytes: Option[Long], summarized: Boolean): InternalRow = {
          val es = ManifestFiles.entriesFromLines(ls)
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(name), es.length, es.map(_._2).sum,
            ls.length, bytes.map(b => b: Any).orNull, summarized))
        }
        if (!ManifestFiles.isListFormat(raw)) Array(rowOf("(legacy)", raw,
          None, summarized = false))
        else {
          val sums = raw.flatMap(ManifestFiles.parseSegStats).toMap
          val inline = raw.filterNot(ManifestFiles.isListOnly)
          val segRows = ManifestFiles.segmentRefsFromRaw(raw)
            .sortBy(_._1).map { case (n, _) =>
              rowOf(n, ManifestFiles.segmentLines(fs, dir, n),
                sums.get(n).map(_._3.bytes), sums.contains(n))
            }
          (rowOf("(inline)", inline, None, summarized = false) +: segRows)
            .toArray
        }
      case "partitions" =>
        val specs3 = layout.map { case (_, k, dt, pos) => (pos, k, dt) }
        val kinds = layout.map(_._2)
        val unsafe = unsafeKeyPositions(snap)
        entries.toSeq
          .groupBy { case (file, _) => fileKey(stats.get(file), specs3, unsafe) }
          .map { case (key, files) =>
            val cells: Array[Any] = key match {
              case Some(ks) => kinds.zip(ks).map { case (k, v) =>
                renderKey(k, v) }.toArray
              case None => Array.fill[Any](kinds.length)(null)
            }
            new GenericInternalRow(cells ++ Array[Any](
              files.length.toLong,
              files.map(_._2).sum,
              files.map { case (f, _) =>
                stats.get(f).map(_.bytes).getOrElse(0L) }.sum)): InternalRow
          }.toArray
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        val out = schema()
        val data = computeRows()
        new LocalScan {
          override def readSchema(): StructType = out
          override def rows(): Array[InternalRow] = data
        }
      }
    }
}
