package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Declared write SORT ORDER (Iceberg's `write.sort-order` table
  * property): every INSERT sorts its tasks' rows lexicographically on
  * the declared columns — a per-task sort through the DSv2 write seam,
  * NO added shuffle — so each landed file is clustered on the keys and
  * earns a verified `#sorted` mark on the leading one; a compact with no
  * explicit sort_by defaults to the declared order and turns per-file
  * order into range-DISJOINT files. At 100 TB this is the difference
  * between "every time-range query opens every file the appends
  * interleaved" and "ingest lands pre-clustered, maintenance makes it
  * minimal" — without paying a shuffle on the hot insert path.
  */
class ManifestSortOrderSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_sortorder").toString

  private def register(root: String): String = {
    val cat = "graft_so_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  private def manifestScans(df: DataFrame): Seq[BatchScanExec] = {
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def scansOf(p: SparkPlan): Seq[BatchScanExec] =
      p.collectWithSubqueries {
        case b: BatchScanExec => Seq(b)
        case q: QueryStageExec => scansOf(q.plan)
      }.flatten
    scansOf(finalPlan).filter(_.scan.description().contains("graft-manifest"))
  }

  private def metric(df: DataFrame, name: String): Long =
    manifestScans(df).flatMap(_.metrics.get(name)).map(_.value).sum

  private def fsOf(dir: Path) =
    dir.getFileSystem(spark.sessionState.newHadoopConf())

  test("INSERTs into a sort-ordered table land files verified-sorted on " +
    "the leading key; default compact turns them range-disjoint") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.ev (ts BIGINT, k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.sort-order'='ts,k')")
    // three interleaved appends: each spans the FULL ts range (the
    // natural layout of out-of-order ingest)
    (0 until 3).foreach { r =>
      spark.range(3000)
        .filter($"id" % 3 === r)
        .select(($"id" * 7 % 3000).as("ts"), ($"id" % 11).as("k"),
          $"id".as("v"))
        .orderBy(md5($"v".cast("string"))) // deliberately shuffled input
        .repartition(2)
        .writeTo(s"$cat.ev").append()
    }
    val dir = new Path(root, "ev")
    val fs = fsOf(dir)
    val entries = ManifestFiles.entries(fs, dir, None).map(_._1)
    assert(entries.length == 6, s"3 appends × 2 tasks, got ${entries.length}")
    val sorted = ManifestSnapshot.latest(fs, dir).sorted
    // EVERY file earned its verified mark on the leading column (phys 0)
    assert(entries.forall(f => sorted.get(f).map(_._1).contains(0)),
      s"files missing #sorted marks: ${entries.filterNot(sorted.contains).toSeq}")

    // appended files OVERLAP in ts (each append spanned the range): a
    // narrow slice cannot skip yet
    def live() = spark.read.format("graft-manifest")
      .option("path", dir.toString).load()
    val before = live().filter($"ts" < 300).agg(sum($"v"))
    before.collect()
    assert(metric(before, "filesSkipped") == 0L,
      "interleaved appends overlap — nothing to skip yet")
    val total0 = live().agg(sum($"v")).head().getLong(0)

    // compact with NO sort_by: the declared order governs the rewrite
    val res = spark.sql(s"CALL $cat.system.compact('ev', 6)").collect()(0)
    assert(res.getInt(2) == 6, s"expected 6 files after compact, got $res")
    val after = ManifestFiles.entries(fs, dir, None).map(_._1)
    val sorted2 = ManifestSnapshot.latest(fs, dir).sorted
    assert(after.forall(f => sorted2.get(f).map(_._1).contains(0)),
      "compacted files must keep verified #sorted marks")
    // now range-disjoint: the same slice skips most files
    val q = live().filter($"ts" < 300).agg(sum($"v"))
    q.collect()
    assert(metric(q, "filesListed") == 6L)
    assert(metric(q, "filesSkipped") >= 4L,
      s"range-disjoint layout skipped only ${metric(q, "filesSkipped")} of 6")
    // the rewrite moved every row exactly once
    assert(live().agg(sum($"v")).head().getLong(0) == total0)
  }

  test("sort order composes with a days() partition layout: files stay " +
    "day-pure AND sorted on the declared key") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.logs (d DATE, k BIGINT, v BIGINT) " +
      "PARTITIONED BY (d) TBLPROPERTIES('write.sort-order'='k')")
    spark.range(2000)
      .select(date_add(lit(java.sql.Date.valueOf("2024-03-01")),
          ($"id" % 4).cast("int")).as("d"),
        (($"id" * 13) % 500).as("k"), $"id".as("v"))
      .orderBy(md5($"id".cast("string")))
      .writeTo(s"$cat.logs").append()
    val dir = new Path(root, "logs")
    val fs = fsOf(dir)
    val entries = ManifestFiles.entries(fs, dir, None).map(_._1)
    val sorted = ManifestSnapshot.latest(fs, dir).sorted
    // every day-pure file is ALSO verified-sorted on k (phys 1): the
    // required ordering is (partition cols, sort cols), and each split
    // file holds one day
    assert(entries.nonEmpty)
    assert(entries.forall(f => sorted.get(f).map(_._1).contains(1)),
      s"day files missing #sorted(k): ${entries.filterNot(sorted.contains).toSeq}")
    // day-purity intact (the partition layout still governs splitting):
    // one file per day per task; with the ordered distribution the day
    // dimension arrives clustered, so the count stays near one per day
    val stats = ManifestSnapshot.latest(fs, dir).stats
    entries.foreach { f =>
      val cs = stats(f).cols(0)
      assert(cs.min == cs.max, s"file $f spans days ${cs.min}..${cs.max}")
    }
    // correctness through the layout
    assert(spark.read.format("graft-manifest").option("path", dir.toString)
      .load().agg(sum($"v")).head().getLong(0) == (0L until 2000L).sum)
  }

  test("DESC + NULLS orderings: 'ts DESC NULLS LAST, k' verifies " +
    "latest-first files, earns direction-stamped marks, skips on range " +
    "predicates, and round-trips through SHOW TBLPROPERTIES") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.ev (ts BIGINT, k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.sort-order'='ts DESC NULLS LAST, k'," +
      "'write.distribution-mode'='range')")
    // shuffled input incl. NULL ts rows — the write must order
    // latest-first with nulls at the tail for the mark to be earned
    // (AQE coalescing off for the write: tiny test data must still land
    // several range partitions for the disjointness probe below)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      spark.range(4000).select(
          when($"id" % 50 === 0, lit(null)).otherwise($"id" * 3 % 4000)
            .as("ts"),
          ($"id" % 11).as("k"), $"id".as("v"))
        .orderBy(md5($"v".cast("string")))
        .repartition(3)
        .writeTo(s"$cat.ev").append()
    } finally spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.enabled", "true")
    val dir = new Path(root, "ev")
    val fs = fsOf(dir)
    val entries = ManifestFiles.entries(fs, dir, None).map(_._1)
    val sorted = ManifestSnapshot.latest(fs, dir).sorted
    assert(entries.nonEmpty)
    // every file carries a DIRECTION-stamped verified mark (desc, nl)
    assert(entries.forall(f => sorted.get(f).contains((0, true, true))),
      s"marks: ${entries.map(sorted.get).toSeq}")
    // a DESC order on the data itself: within each file rows stream
    // non-increasing in ts with nulls last
    def live() = spark.read.format("graft-manifest")
      .option("path", dir.toString).load()
    // range mode landed DISJOINT latest-first files: a recency slice
    // (the hot query on a DESC-clustered table) skips most files
    val q = live().filter($"ts" >= 3600).agg(sum($"v"))
    q.collect()
    assert(metric(q, "filesSkipped") >= 1L,
      s"skipped ${metric(q, "filesSkipped")} of ${metric(q, "filesListed")}")
    // the declared order round-trips with its directions
    val show = spark.sql(s"SHOW TBLPROPERTIES $cat.ev").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(show.get("write.sort-order").contains("ts DESC,k"),
      show.get("write.sort-order").toString)
    // an UNSORTED route never earns the desc mark (verification holds
    // for directions too): append through the path API with the range
    // distribution declared off + pre-sorted ASC input
    spark.sql(s"ALTER TABLE $cat.ev " +
      "SET TBLPROPERTIES('write.distribution-mode'='none')")
    spark.range(100).select($"id".as("ts"), ($"id" % 3).as("k"),
        $"id".as("v"))
      .sortWithinPartitions($"ts".asc).coalesce(1)
      .write.mode("append").format("graft-manifest")
      .option("path", dir.toString).save()
    val after = ManifestFiles.entries(fs, dir, None).map(_._1)
    val marks2 = ManifestSnapshot.latest(fs, dir).sorted
    val fresh = after.filterNot(entries.contains)
    assert(fresh.nonEmpty)
    // the writer re-sorts per task under the declared order, so even
    // ASC input lands desc-verified — the mark survives any input order
    assert(fresh.forall(f => marks2.get(f).contains((0, true, true))))
  }

  test("ALTER TABLE evolves the sort order: future writes follow the new " +
    "order, 'none' clears it; the property surfaces on load") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.t (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES('write.sort-order'='a')")
    val show0 = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(show0.get("write.sort-order").contains("a"))

    spark.range(100).select(($"id" * 7 % 100).as("a"), $"id".as("b"))
      .coalesce(1).writeTo(s"$cat.t").append()
    val dir = new Path(root, "t")
    val fs = fsOf(dir)
    assert(ManifestSnapshot.latest(fs, dir).sorted.values.map(_._1).toSet == Set(0))

    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('write.sort-order'='b')")
    spark.range(100).select(($"id" * 7 % 100).as("a"), $"id".as("b"))
      .coalesce(1).writeTo(s"$cat.t").append()
    val marks1 = ManifestSnapshot.latest(fs, dir).sorted
    assert(marks1.values.map(_._1).toSet == Set(0, 1),
      "old files keep their marks; the new file marks the new order")

    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('write.sort-order'='none')")
    val show1 = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(!show1.contains("write.sort-order"))
    spark.range(10).select($"id".as("a"), $"id".as("b"))
      .coalesce(1).writeTo(s"$cat.t").append()
    assert(ManifestSnapshot.latest(fs, dir).sorted.size == marks1.size,
      "a cleared order must not mark new files")
  }

  test("validation: unknown/duplicate/unorderable columns, bucket-layout " +
    "conflict, and DROP COLUMN of a sort key are refused") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    def ddlFails(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage != null && e.getMessage.contains(frag),
        s"expected '$frag' in: ${e.getMessage}")
    }
    ddlFails(s"CREATE TABLE $cat.x1 (a BIGINT) " +
      "TBLPROPERTIES('write.sort-order'='nope')", "not in")
    ddlFails(s"CREATE TABLE $cat.x2 (a BIGINT) " +
      "TBLPROPERTIES('write.sort-order'='a,a')", "duplicate")
    ddlFails(s"CREATE TABLE $cat.x3 (a BIGINT, e ARRAY<FLOAT>) " +
      "TBLPROPERTIES('write.sort-order'='e')", "orderable")
    ddlFails(s"CREATE TABLE $cat.x4 (a BIGINT, b BIGINT) " +
      "PARTITIONED BY (bucket(4, a)) " +
      "TBLPROPERTIES('write.sort-order'='b')", "bucket")
    spark.sql(s"CREATE TABLE $cat.t (a BIGINT, b BIGINT) " +
      "TBLPROPERTIES('write.sort-order'='b')")
    ddlFails(s"ALTER TABLE $cat.t DROP COLUMN b", "write.sort-order")
    // clearing the order unblocks the drop
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('write.sort-order'='none')")
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN b")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("a"))
  }

  test("write.distribution-mode=range: plain INSERTs land range-disjoint " +
    "files (skipping works without a compaction); 'none' restores the " +
    "shuffle-free path; compact keeps its exact target") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.rd (ts BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.sort-order'='ts'," +
      "'write.distribution-mode'='range')")
    // AQE would coalesce a 4000-row range shuffle into one partition —
    // scope it off so the test sees the multi-file layout a real ingest
    // volume produces
    graft.Confs.withValues(spark,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      spark.range(4000)
        .select(($"id" * 7 % 4000).as("ts"), $"id".as("v"))
        .orderBy(md5($"v".cast("string"))).repartition(4)
        .writeTo(s"$cat.rd").append()
    }
    def live() = spark.read.format("graft-manifest")
      .option("path", s"$root/rd").load()
    val q = live().filter($"ts" < 400).agg(sum($"v"))
    q.collect()
    val listed = metric(q, "filesListed")
    assert(listed >= 2, s"range distribution should land several files")
    assert(metric(q, "filesSkipped") >= listed - 2,
      s"append-time range layout skipped only " +
        s"${metric(q, "filesSkipped")} of $listed")

    // compact keeps its exact target despite the declared mode
    val res = spark.sql(s"CALL $cat.system.compact('rd', 3)").collect()(0)
    assert(res.getInt(2) == 3, s"expected 3 files after compact, got $res")

    // 'none' restores the shuffle-free path: N input partitions → N files
    spark.sql(s"ALTER TABLE $cat.rd " +
      "SET TBLPROPERTIES('write.distribution-mode'='none')")
    spark.range(300).select($"id".as("ts"), $"id".as("v")).repartition(5)
      .writeTo(s"$cat.rd").append()
    val dir = new Path(root, "rd")
    assert(ManifestFiles.entries(fsOf(dir), dir, None).length == 3 + 5)

    // validation: range without a sort order refuses
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.bad (x BIGINT) " +
        "TBLPROPERTIES('write.distribution-mode'='range')"))
    assert(e.getMessage.contains("write.sort-order"), e.getMessage)
  }

  test("the insert path adds NO shuffle: a sort-ordered append's write " +
    "plan sorts within partitions only") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.noshuf (ts BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.sort-order'='ts')")
    val src = spark.range(1000)
      .select(($"id" * 7 % 1000).as("ts"), $"id".as("v")).repartition(3)
    src.writeTo(s"$cat.noshuf").append()
    // 3 input partitions → exactly 3 files: had the write demanded a
    // distribution, the count would follow shuffle partitioning instead
    val dir = new Path(root, "noshuf")
    val entries = ManifestFiles.entries(fsOf(dir), dir, None)
    assert(entries.length == 3,
      s"per-task sort must keep 3 input partitions → 3 files, got ${entries.length}")
    assert(ManifestSnapshot.latest(fsOf(dir), dir).sorted.size == 3)
  }
}
