package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
import org.apache.spark.sql.connector.read.LocalScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** [[ManifestSnapshot]]: the resolver's edges, the typed views, and the
  * readers that must describe exactly the one snapshot they resolved. */
class ManifestSnapshotSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(2)
  import spark.implicits._

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_snap").toString

  private def fsOf(dir: Path) =
    dir.getFileSystem(spark.sessionState.newHadoopConf())

  private def freshCat(tag: String): (String, String) = {
    val root = tmpDir()
    val cat = s"graft_sn_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def append(path: String, lo: Int, hi: Int, parts: Int = 1): Unit =
    spark.range(lo, hi).select($"id".as("k")).repartition(parts)
      .write.mode("append").format("graft-manifest")
      .option("path", path).save()

  test("a _SCHEMA-only directory reads as version 0 with its schema and " +
    "no lines") {
    val dir = new Path(tmpDir())
    val fs = fsOf(dir)
    val schema = new StructType().add("k", LongType)
    val out = fs.create(new Path(dir, "_SCHEMA"), true)
    try out.write(schema.json.getBytes("UTF-8")) finally out.close()
    val snap = ManifestSnapshot.latest(fs, dir)
    assert(snap.version == 0)
    assert(snap.schema.contains(schema))
    assert(snap.lines.isEmpty && snap.entries.isEmpty)
  }

  test("an absent branch and a missing version fail with the resolver's " +
    "messages") {
    val path = tmpDir()
    append(path, 0, 10)
    val dir = new Path(path)
    val fs = fsOf(dir)
    val b = intercept[IllegalArgumentException](
      ManifestSnapshot.latest(fs, dir, Some("nope")))
    assert(b.getMessage.contains("no branch 'nope'") &&
      b.getMessage.contains("(branches: "), b.getMessage)
    val v = intercept[IllegalArgumentException](ManifestSnapshot.at(fs, dir, 9))
    assert(v.getMessage.contains("no version 9") &&
      v.getMessage.contains("(have: 1)"), v.getMessage)
  }

  test("an incomplete tip reads as the version before it, lines and " +
    "schema alike") {
    val path = tmpDir()
    append(path, 0, 10)
    append(path, 10, 20)
    val dir = new Path(path)
    val fs = fsOf(dir)
    // version 3 claimed, its _SCHEMA.v3 not landed yet
    val tip = fs.create(new Path(dir, "_MANIFEST.v3"), true)
    try tip.write("part-tip.parquet,5".getBytes("UTF-8")) finally tip.close()
    val snap = ManifestSnapshot.latest(fs, dir)
    assert(snap.version == 2)
    assert(snap.names == ManifestSnapshot.at(fs, dir, 2).names)
    assert(snap.entries.map(_._2).sum == 20L)
    assert(snap.schema.map(_.fieldNames.toSeq).contains(Seq("k")))
    assert(ManifestSnapshot.at(fs, dir, 3).schema.isEmpty)
  }

  test("each view decodes its line kind") {
    val st = ManifestFiles.ColStats(0L, Some("1"), Some("9"))
    val lines = Array(
      "a.parquet,10", "b.parquet,5",
      ManifestFiles.statsLine("a.parquet", 100L, Seq(0 -> st)),
      ManifestFiles.sortedLine("a.parquet", 0),
      ManifestFiles.sortedLine("b.parquet", 1, desc = true, nullsLast = true),
      ManifestFiles.bucketLine("a.parquet", 0, 4, 2),
      ManifestFiles.bornLine("a.parquet", 3),
      ManifestFiles.firstRowLine("a.parquet", 100L),
      ManifestFiles.ridColLine("a.parquet"),
      ManifestFiles.luvLine("a.parquet", 3),
      ManifestFiles.luvColLine("b.parquet"),
      ManifestFiles.importLine("b.parquet", Seq(0 -> "ev_id"), Seq(1 -> None)),
      "#dels,d1.del", "#eqdels,e1.eqdel,0;1,4",
      ManifestFiles.maintLine(3), ManifestFiles.maintLine(4),
      ManifestFiles.bloomLine(Seq(0, 1)), ManifestFiles.ndvConfLine(Seq(1)),
      ManifestFiles.histConfLine(Seq(0)),
      ManifestFiles.checkLine("pos", "k > 0"),
      ManifestFiles.droppedLine(2),
      ManifestFiles.widenedLine(0, IntegerType),
      "#tableconf,rowidnext,115",
      ManifestFiles.tableConfLine(0, 4, Some(1)),
      ManifestFiles.partConfLine(0, "days"),
      ManifestFiles.sortOrderLine(Seq(ManifestFiles.SortKey(0, false, false),
        ManifestFiles.SortKey(1, true, true))),
      ManifestFiles.LineageLine, ManifestFiles.MergeOnReadLine,
      ManifestFiles.DistModeRangeLine,
      "#txn,q1,3", "#txn,q1,5")
    val s = ManifestSnapshot.ofLines(lines)
    assert(s.entries.toSeq == Seq("a.parquet" -> 10L, "b.parquet" -> 5L))
    assert(s.names == Set("a.parquet", "b.parquet"))
    assert(s.stats == Map("a.parquet" -> ManifestFiles.FileStats(100L, Map(0 -> st))))
    assert(s.sorted == Map("a.parquet" -> (0, false, false),
      "b.parquet" -> (1, true, true)))
    assert(s.buckets == Map("a.parquet" -> (0, 4, 2)))
    assert(s.born == Map("a.parquet" -> 3))
    assert(s.firstRow == Map("a.parquet" -> 100L))
    assert(s.ridCol == Set("a.parquet"))
    assert(s.luv == Map("a.parquet" -> 3))
    assert(s.luvCol == Set("b.parquet"))
    assert(s.imports == Map("b.parquet" ->
      ManifestFiles.ImportMap(Map(0 -> "ev_id"), Map(1 -> None))))
    assert(s.deleteFiles.toSeq == Seq("d1.del"))
    assert(s.eqDeleteFiles.toSeq == Seq("e1.eqdel"))
    assert(s.maint == Set(3, 4))
    assert(s.bloom == Seq(0, 1) && s.ndv == Seq(1) && s.hist == Seq(0))
    assert(s.checks == Seq("pos" -> "k > 0"))
    assert(s.dropped == Set(2))
    assert(s.widened == Map(0 -> "integer"))
    assert(s.rowIdNext == 115L)
    assert(s.tableConf.contains((0, 4, Some(1))))
    assert(s.partConfs == Seq(0 -> "days"))
    assert(s.sortKeys == Seq(ManifestFiles.SortKey(0, false, false),
      ManifestFiles.SortKey(1, true, true)))
    assert(s.sortOrder == Seq(0, 1))
    assert(s.lineage && s.mergeOnRead && s.distModeRange)
    assert(s.committedEpoch("q1").contains(5L) && s.committedEpoch("q2").isEmpty)
    assert(ManifestSnapshot.ofLines(Array.empty).rowIdNext == 0L)
  }

  test("a segmented snapshot's views equal the views of its full lines") {
    val (cat, root) = freshCat("views")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, s STRING) TBLPROPERTIES(" +
      "'delete.mode'='merge-on-read', 'bloom.columns'='k', " +
      "'write.sort-order'='k', 'row.lineage'='true', 'check.pos'='k >= 0')")
    spark.range(0, 4000).select($"id".as("k"), $"id".cast("string").as("s"))
      .repartition(40).writeTo(s"$cat.t").append()
    spark.sql(s"DELETE FROM $cat.t WHERE k % 7 = 0")
    val dir = new Path(s"$root/t")
    val snap = ManifestSnapshot.latest(fsOf(dir), dir)
    assert(ManifestFiles.segmentRefsFromRaw(snap.raw).nonEmpty,
      "the fixture must spill its entries into a segment")
    val full = ManifestSnapshot.ofLines(snap.lines)
    assert(snap.deleteFiles.nonEmpty && snap.bloom.nonEmpty &&
      snap.sortKeys.nonEmpty && snap.checks.nonEmpty && snap.lineage &&
      snap.mergeOnRead)
    assert(snap.entries.toSeq == full.entries.toSeq)
    assert(snap.stats == full.stats && snap.sorted == full.sorted)
    assert(snap.firstRow == full.firstRow && snap.luv == full.luv)
    assert(snap.deleteFiles.toSeq == full.deleteFiles.toSeq)
    assert(snap.eqDeleteFiles.toSeq == full.eqDeleteFiles.toSeq)
    assert(snap.bloom == full.bloom && snap.sortKeys == full.sortKeys)
    assert(snap.checks == full.checks && snap.rowIdNext == full.rowIdNext)
    assert(snap.lineage == full.lineage && snap.mergeOnRead == full.mergeOnRead)
    assert(snap.maint == full.maint && snap.partConfs == full.partConfs)
    assert(snap.properties == ManifestTableProps.decode(snap.requireSchema, full))
  }

  test("a metadata table describes the snapshot it loaded, even when a " +
    "commit lands between schema() and the scan") {
    val (cat, root) = freshCat("meta")
    spark.sql(s"CREATE TABLE $cat.ev (ts TIMESTAMP, k BIGINT) " +
      "PARTITIONED BY (days(ts))")
    spark.sql(s"INSERT INTO $cat.ev VALUES " +
      "(TIMESTAMP'2024-01-01 10:00:00', 1), (TIMESTAMP'2024-01-02 10:00:00', 2)")
    val catalog = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[TableCatalog]
    val meta = catalog.loadTable(Identifier.of(Array.empty, "ev$partitions"))
    val schema = meta.schema()
    assert(schema.fieldNames.head == "ts_day", schema.simpleString)
    // a partition-evolving ALTER plus an append land before the scan
    spark.sql(s"ALTER TABLE $cat.ev SET TBLPROPERTIES(" +
      "'partition.layout'='identity(k)')")
    spark.sql(s"INSERT INTO $cat.ev VALUES " +
      "(TIMESTAMP'2024-01-03 10:00:00', 3), (TIMESTAMP'2024-01-03 11:00:00', 4)")
    val rows = meta.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .asInstanceOf[LocalScan].rows()
    val days = rows.map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    val dayOf = (d: String) => java.time.LocalDate.parse(d).toEpochDay.toInt
    assert(days.sortBy(_.getOrElse(-1)) ==
      Seq(Some(dayOf("2024-01-01")), Some(dayOf("2024-01-02"))),
      s"partitions of the loaded version only, got $days")
    assert(rows.map(_.getLong(2)).sum == 2L)
  }

  test("a streaming tail reads an imported file's columns through the " +
    "batch's own snapshot after a compaction rewrote it away") {
    val (cat, root) = freshCat("tail")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, s STRING)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 'one'), (2, 'two')")
    val landing = s"$root/landing"
    Seq((10L, "ten"), (11L, "eleven")).toDF("ev_id", "label")
      .coalesce(1).write.parquet(landing)
    spark.sql(s"CALL $cat.system.add_files('t', '$landing')").collect()
    spark.sql(s"CALL $cat.system.compact('t', 1)").collect()
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val q = spark.readStream.format("graft-manifest")
      .option("path", s"$root/t").option("maxFilesPerTrigger", "1")
      .option("ignoreDeletes", "true").load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(got.add); ()
      }
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val rows = got.toArray.map(_.asInstanceOf[Row]).toSeq
    assert(rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)),
      s"imported rows must arrive with their values: $rows")
    assert(rows.map(_.getLong(0)).toSet == Set(1L, 2L, 10L, 11L), rows)
  }
}
