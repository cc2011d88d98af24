package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.StructType

import ManifestFiles.{FileStats, ImportMap, SortKey}

/** ONE snapshot of a governed table: its version on main or on a
  * branch, its published schema and its logical lines, with every typed
  * view of those lines decoded lazily and at most once per instance.
  * This is the one type a reader holds — a scan's plan, a write's head,
  * a commit closure's predecessor, a step of the change-feed walk, a
  * procedure's source — so a schema and the lines it describes always
  * come from the same version, and no caller parses lines itself.
  *
  * The resolvers are [[ManifestSnapshot.latest]] (ONE `latestComplete`
  * listing, then the list file and `_SCHEMA.v<N>` of that same N) and
  * [[ManifestSnapshot.at]] (a pinned version). `raw` is the version
  * file as stored (the segmented list, or a legacy full listing);
  * `lines` resolves its segments on first use. CONTROL views
  * (`#tableconf`, `#dels`/`#eqdels`, `#txn`, `#maint`) decode from
  * `raw` alone: control lines are always inline in the list, so they
  * never make a segment read. A snapshot is not cached past the
  * statement or commit that resolved it. */
final class ManifestSnapshot private (val version: Int,
    val branch: Option[String], val raw: Array[String],
    resolveLines: () => Array[String],
    schemaFile: Option[(FileSystem, Path)]) {
  import ManifestSnapshot._

  lazy val lines: Array[String] = resolveLines()

  /** The schema published with this version; None for a fresh table,
    * an absent `_SCHEMA`, or a line set that was never published. */
  lazy val schema: Option[StructType] = schemaFile.collect {
    case (fs, p) if fs.exists(p) => ManifestFiles.readSchema(fs, p) }

  /** [[schema]] for a reader that cannot proceed without one. */
  def requireSchema: StructType = {
    require(schema.isDefined, "graft-manifest: no schema file at " +
      s"${schemaFile.map(_._2).getOrElse("(unpublished lines)")} — " +
      "was this directory written by the graft-manifest sink?")
    schema.get
  }

  // ---- data views: per-file lines, which may live in segments ---------
  lazy val entries: Array[(String, Long)] = ManifestFiles.entriesFromLines(lines)
  lazy val names: Set[String] = entries.iterator.map(_._1).toSet
  lazy val stats: Map[String, FileStats] = statsFromLines(lines)
  lazy val sorted: Map[String, (Int, Boolean, Boolean)] = sortedFromLines(lines)
  lazy val buckets: Map[String, (Int, Int, Int)] = bucketsFromLines(lines)
  lazy val born: Map[String, Int] = bornFromLines(lines)
  lazy val imports: Map[String, ImportMap] = importsFromLines(lines)
  lazy val firstRow: Map[String, Long] = firstRowFromLines(lines)
  lazy val ridCol: Set[String] = ridColFromLines(lines)
  lazy val luv: Map[String, Int] = luvFromLines(lines)
  lazy val luvCol: Set[String] = luvColFromLines(lines)

  // ---- control views: inline in the list file --------------------------
  lazy val deleteFiles: Array[String] = deleteFilesFromLines(raw)
  lazy val eqDeleteFiles: Array[String] = eqDeleteFilesFromLines(raw)
  lazy val maint: Set[Int] = maintFromLines(raw)
  lazy val bloom: Seq[Int] = bloomFromLines(raw)
  lazy val ndv: Seq[Int] = ndvFromLines(raw)
  lazy val hist: Seq[Int] = histDeclFromLines(raw)
  lazy val checks: Seq[(String, String)] = checksFromLines(raw)
  lazy val dropped: Set[Int] = droppedFromLines(raw)
  lazy val widened: Map[Int, String] = widenedFromLines(raw)
  lazy val rowIdNext: Long = rowIdNextFromLines(raw)
  /** (bucket colPos, n, sort colPos) declared by DDL, if any. */
  lazy val tableConf: Option[(Int, Int, Option[Int])] = tableConfFromLines(raw)
  /** Declared partition transforms in DECLARED ORDER — one
    * `#tableconf,part` line per transform; the order is the composite
    * group-key order everywhere (writer split, SPJ report, split keys). */
  lazy val partConfs: Seq[(Int, String)] = partConfsFromLines(raw)
  lazy val sortKeys: Seq[SortKey] = sortKeysFromLines(raw)
  def sortOrder: Seq[Int] = sortKeys.map(_.pos)
  lazy val lineage: Boolean = raw.contains(ManifestFiles.LineageLine)
  lazy val mergeOnRead: Boolean = raw.contains(ManifestFiles.MergeOnReadLine)
  lazy val distModeRange: Boolean = raw.contains(ManifestFiles.DistModeRangeLine)
  lazy val shred: Seq[ManifestShred.Spec] = ManifestShred.fromLines(raw)

  /** Highest epoch streaming query `queryId` committed into this table,
    * from the snapshot's `#txn` markers (the Delta SetTransaction idea:
    * the marker rides the atomically-claimed version file, so epoch
    * dedup survives any crash point). */
  def committedEpoch(queryId: String): Option[Long] =
    raw.filter(_.startsWith(s"#txn,$queryId,"))
      .flatMap(_.split(",", 3).lift(2)).flatMap(_.toLongOption).maxOption

  /** The TBLPROPERTIES the catalog surfaces for this snapshot. */
  lazy val properties: Seq[(String, String)] =
    ManifestTableProps.decode(requireSchema, this)
}

object ManifestSnapshot {

  /** The newest complete snapshot of main or of `branch`. A fresh
    * directory is version 0 with no lines and no schema; a legacy
    * directory from before version files reads its `_MANIFEST` and
    * `_SCHEMA`. A branch with no complete version fails. */
  def latest(fs: FileSystem, dir: Path,
      branch: Option[String] = None): ManifestSnapshot = {
    val v = ManifestFiles.latestComplete(fs, dir, branch)
    if (v > 0) published(fs, dir, v, branch,
      ManifestFiles.readManifest(fs, versionFile(dir, v, branch)))
    else branch match {
      case Some(b) => throw new IllegalArgumentException(
        s"no branch '$b' at $dir — CALL create_branch first " +
          s"(branches: ${ManifestFiles.branches(fs, dir).sorted.mkString(", ")})")
      case None =>
        val raw = ManifestFiles.readManifest(fs, new Path(dir, "_MANIFEST"))
        new ManifestSnapshot(0, None, raw,
          () => ManifestFiles.materialize(fs, dir, raw),
          Some((fs, new Path(dir, "_SCHEMA"))))
    }
  }

  /** Version `version` of main or of `branch`; fails when its version
    * file does not exist. */
  def at(fs: FileSystem, dir: Path, version: Int,
      branch: Option[String] = None): ManifestSnapshot = {
    val p = versionFile(dir, version, branch)
    require(fs.exists(p),
      s"no version $version${branch.map(b => s" on branch '$b'").getOrElse("")} " +
        s"at $dir (have: ${ManifestFiles.versions(fs, dir, branch).sorted.mkString(",")})")
    published(fs, dir, version, branch, ManifestFiles.readManifest(fs, p))
  }

  /** [[at]] for a pinned version, else [[latest]]. */
  def resolve(fs: FileSystem, dir: Path, version: Option[Int],
      branch: Option[String] = None): ManifestSnapshot =
    version.fold(latest(fs, dir, branch))(at(fs, dir, _, branch))

  /** Version `v` whose version file read as `raw` (empty when absent). */
  private[sources] def published(fs: FileSystem, dir: Path, v: Int,
      branch: Option[String], raw: Array[String]): ManifestSnapshot =
    new ManifestSnapshot(v, branch, raw,
      () => ManifestFiles.materialize(fs, dir, raw),
      Some((fs, new Path(dir,
        s"_SCHEMA.${ManifestFiles.chainPrefix(branch)}v$v"))))

  /** The views over a line set no version file holds: a commit's output
    * before it lands, a declaration, one segment's lines. */
  def ofLines(lines: Array[String]): ManifestSnapshot =
    new ManifestSnapshot(0, None, lines, () => lines, None)

  private def versionFile(dir: Path, v: Int, branch: Option[String]): Path =
    new Path(dir, s"_MANIFEST.${ManifestFiles.chainPrefix(branch)}v$v")

  // ---- decoders: one per line kind (encoders live in ManifestFiles) ----

  /** Per-file column statistics (see [[ManifestFiles.statsLine]]). */
  private def statsFromLines(lines: Array[String]): Map[String, FileStats] =
    lines.filter(_.startsWith("#stats,")).flatMap(ManifestFiles.parseStatsLine).toMap

  private def maintFromLines(lines: Array[String]): Set[Int] =
    lines.filter(_.startsWith("#maint,"))
      .flatMap(_.split(",", 2)(1).toIntOption).toSet

  private def partConfsFromLines(lines: Array[String]): Seq[(Int, String)] =
    lines.iterator.filter(_.startsWith("#tableconf,part,")).flatMap { l =>
      l.split(",") match {
        case Array(_, _, pos, kind) => pos.toIntOption.map((_, kind))
        case _ => None
      }
    }.toSeq

  private def positions(lines: Array[String], prefix: String): Seq[Int] =
    lines.find(_.startsWith(prefix)).toSeq.flatMap { l =>
      l.stripPrefix(prefix).split(";").toSeq.flatMap(_.toIntOption)
    }

  private def bloomFromLines(lines: Array[String]): Seq[Int] =
    positions(lines, "#tableconf,bloom,")

  private def ndvFromLines(lines: Array[String]): Seq[Int] =
    positions(lines, "#tableconf,ndv,")

  private def histDeclFromLines(lines: Array[String]): Seq[Int] =
    positions(lines, "#tableconf,hist,")

  private def sortKeysFromLines(lines: Array[String]): Seq[SortKey] =
    lines.find(_.startsWith("#tableconf,sortorder,")).toSeq.flatMap { l =>
      l.stripPrefix("#tableconf,sortorder,").split(";").toSeq.flatMap { t =>
        val parts = t.split("\\.").toSeq
        parts.headOption.flatMap(_.toIntOption).map { pos =>
          val desc = parts.contains("d")
          val nullsLast =
            if (parts.contains("nl")) true
            else if (parts.contains("nf")) false
            else desc
          SortKey(pos, desc, nullsLast)
        }
      }
    }

  /** file → import map (see [[ManifestFiles.importLine]]). */
  private def importsFromLines(lines: Array[String]): Map[String, ImportMap] =
    lines.filter(_.startsWith("#import,")).flatMap { line =>
      line.split(",", 3) match {
        case Array(_, name, pairs) =>
          val names = Map.newBuilder[Int, String]
          val consts = Map.newBuilder[Int, Option[String]]
          pairs.split(";").foreach { pr =>
            val i = pr.indexWhere(c => c == ':' || c == '=')
            if (i > 0) pr.substring(0, i).toIntOption.foreach { pos =>
              val v = pr.substring(i + 1)
              if (pr.charAt(i) == ':') names += pos -> ManifestFiles.unb64(v)
              else consts += pos -> (if (v == "-") None else Some(ManifestFiles.unb64(v)))
            }
          }
          val m = ImportMap(names.result(), consts.result())
          if (m.names.isEmpty && m.consts.isEmpty) None else Some(name -> m)
        case _ => None
      }
    }.toMap

  private def widenedFromLines(lines: Array[String]): Map[Int, String] =
    lines.filter(_.startsWith("#tableconf,widened,")).flatMap { l =>
      l.split(",", 4) match {
        case Array(_, _, pos, from) => pos.toIntOption.map(_ -> from)
        case _ => None
      }
    }.toMap

  private def checksFromLines(lines: Array[String]): Seq[(String, String)] =
    lines.filter(_.startsWith("#tableconf,check,")).toSeq.flatMap { l =>
      l.split(",", 4) match {
        case Array(_, _, name, b64) => Some(name -> ManifestChecks.decode(b64))
        case _ => None
      }
    }

  private def droppedFromLines(lines: Array[String]): Set[Int] =
    lines.filter(_.startsWith("#tableconf,dropped,"))
      .flatMap(_.split(",", 3).lift(2)).flatMap(_.toIntOption).toSet

  private def deleteFilesFromLines(lines: Array[String]): Array[String] =
    lines.filter(_.startsWith("#dels,")).map(_.split(",", 2)(1))

  private def eqDeleteFilesFromLines(lines: Array[String]): Array[String] =
    lines.filter(_.startsWith("#eqdels,")).map(_.split(",", 4)(1))

  private def fileInts(lines: Array[String], prefix: String): Map[String, Int] =
    lines.filter(_.startsWith(prefix)).flatMap { l =>
      l.split(",", 3) match {
        case Array(_, n, v) => v.toIntOption.map(n -> _)
        case _ => None
      }
    }.toMap

  private def bornFromLines(lines: Array[String]): Map[String, Int] =
    fileInts(lines, "#born,")

  private def luvFromLines(lines: Array[String]): Map[String, Int] =
    fileInts(lines, "#luv,")

  private def firstRowFromLines(lines: Array[String]): Map[String, Long] =
    lines.filter(_.startsWith("#firstrow,")).flatMap { l =>
      l.split(",", 3) match {
        case Array(_, n, v) => v.toLongOption.map(n -> _)
        case _ => None
      }
    }.toMap

  private def marked(lines: Array[String], prefix: String): Set[String] =
    lines.filter(_.startsWith(prefix)).flatMap(_.split(",", 3).lift(1)).toSet

  private def ridColFromLines(lines: Array[String]): Set[String] =
    marked(lines, "#ridcol,")

  private def luvColFromLines(lines: Array[String]): Set[String] =
    marked(lines, "#luvcol,")

  private def rowIdNextFromLines(lines: Array[String]): Long =
    lines.find(_.startsWith(ManifestFiles.RowIdNextPrefix))
      .flatMap(_.stripPrefix(ManifestFiles.RowIdNextPrefix).toLongOption)
      .getOrElse(0L)

  private def tableConfFromLines(
      lines: Array[String]): Option[(Int, Int, Option[Int])] =
    lines.find(_.startsWith("#tableconf,bucket,")).flatMap { line =>
      line.split(",") match {
        case Array(_, _, pos, n) =>
          for (p <- pos.toIntOption; nn <- n.toIntOption) yield (p, nn, None)
        case Array(_, _, pos, n, sp) =>
          for (p <- pos.toIntOption; nn <- n.toIntOption)
            yield (p, nn, sp.toIntOption)
        case _ => None
      }
    }

  /** file → (sorted colPos, desc, nullsLast). */
  private def sortedFromLines(lines: Array[String]): Map[String, (Int, Boolean, Boolean)] =
    lines.filter(_.startsWith("#sorted,")).flatMap { line =>
      line.split(",", 4) match {
        case Array(_, name, pos) =>
          pos.toIntOption.map(p => name -> ((p, false, false)))
        case Array(_, name, pos, flags) if flags.length == 2 =>
          pos.toIntOption.map(p =>
            name -> ((p, flags(0) == 'd', flags(1) == 'l')))
        case _ => None
      }
    }.toMap

  /** file → (colPos, n, bucketId). */
  private def bucketsFromLines(lines: Array[String]): Map[String, (Int, Int, Int)] =
    lines.filter(_.startsWith("#bucket,")).flatMap { line =>
      line.split(",", 5) match {
        case Array(_, name, pos, n, id) =>
          for { p <- pos.toIntOption; nn <- n.toIntOption;
                i <- id.toIntOption } yield name -> (p, nn, i)
        case _ => None
      }
    }.toMap
}
