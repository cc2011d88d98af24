package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Manifest-format data skipping (round 10 — the pruning seam the
  * reference gets from `PruneFileSourcePartitions` + parquet footer
  * min/max, lifted to the FILE level the way Iceberg manifests carry
  * per-file column stats):
  *
  *   - every commit records `#stats,<file>,<bytes>,<col stats>` lines in
  *     the snapshot; a pushed predicate evaluated against a file's
  *     min/max PROVES files row-free before they are ever opened;
  *   - skipping is observable through the scan's driver metrics
  *     (`filesListed`/`filesSkipped`/`filesPlanned` on BatchScanExec) —
  *     planning is the only place file reads originate, so
  *     filesPlanned < filesListed IS the proof skipped files never open;
  *   - `SupportsReportStatistics` costs the relation at the manifest's
  *     exact byte counts post-pruning, so a small manifest dim broadcasts
  *     with NO hint (before round 10 it cost defaultSizeInBytes and
  *     always sort-merged);
  *   - `SupportsRuntimeV2Filtering` on the data columns prunes files at
  *     RUNTIME from a join's build-side key set (the DPP seam) when the
  *     keys miss a file's [min,max] range.
  */
class ManifestSkippingSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_skip").toString

  /** All graft-manifest scans in the final (AQE-unwrapped) plan. */
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

  /** 100k rows, key 0..99999, range-partitioned into 8 files with
    * DISJOINT key ranges — the layout a time-keyed append pipeline
    * produces naturally. */
  private def writeFact(path: String): Unit = {
    import spark.implicits._
    spark.range(100000).select($"id".as("key"), ($"id" % 7).as("m"))
      .repartitionByRange(8, $"key")
      .write.mode("append").format("graft-manifest").option("path", path).save()
  }

  test("static min/max skipping: a range predicate opens only the files " +
    "whose stats overlap, and the result is exact") {
    import spark.implicits._
    val path = tmpDir()
    writeFact(path)
    val q = spark.read.format("graft-manifest").option("path", path).load()
      .filter($"key" >= 90000L)
      .agg(count(lit(1)).as("n"), sum($"key").as("s"))
    val row = q.collect()(0)
    assert(row.getLong(0) == 10000L)
    assert(row.getLong(1) == (90000L to 99999L).sum)
    assert(metric(q, "filesListed") == 8L)
    assert(metric(q, "filesSkipped") >= 6L,
      s"expected most files skipped, got ${metric(q, "filesSkipped")}")
    assert(metric(q, "filesPlanned") ==
      metric(q, "filesListed") - metric(q, "filesSkipped"))
  }

  test("skipping is conservative: disjunctions, strings, and a column " +
    "without stats never lose rows") {
    import spark.implicits._
    val path = tmpDir()
    import org.apache.spark.sql.types._
    writeFact(path)
    val t = spark.read.format("graft-manifest").option("path", path).load()
    // OR across distant ranges: both edge files must survive
    // (collect, not count: count() builds a separate query execution and
    // the driver metrics land on the executed one)
    val edges = t.filter($"key" < 100L || $"key" >= 99900L)
    assert(edges.collect().length == 200)
    assert(metric(edges, "filesPlanned") >= 2L)
    // evolve: add a column → old files carry no stats for it → a filter
    // on it must NOT skip them (they surface NULL, NULL fails the pred)
    val cat = "graft_skipcat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      new java.io.File(path).getParent)
    val tbl = new java.io.File(path).getName
    spark.sql(s"ALTER TABLE $cat.$tbl ADD COLUMN extra BIGINT")
    val evolved = spark.read.format("graft-manifest").option("path", path).load()
      .filter($"extra" > 0L)
    assert(evolved.collect().isEmpty) // correct: all NULL — but files were READ
    assert(metric(evolved, "filesSkipped") == 0L,
      "files without stats for a column must never be skipped on it")
  }

  test("ManifestSkip unit semantics: null handling, In all-or-nothing, " +
    "all-null columns") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val schema = new StructType().add("k", LongType).add("s", StringType)
    val stats = Some(ManifestFiles.FileStats(100L, Map(
      0 -> ManifestFiles.ColStats(0L, Some("100"), Some("200")),
      1 -> ManifestFiles.ColStats(50L, None, None)))) // all-null string col
    def skip(f: Filter) = ManifestSkip.canSkip(f, schema, stats, Some(50L))
    assert(skip(EqualTo("k", 99L)) && !skip(EqualTo("k", 150L)))
    assert(skip(GreaterThan("k", 200L)) && !skip(GreaterThan("k", 199L)))
    assert(skip(LessThan("k", 100L)) && !skip(LessThanOrEqual("k", 100L)))
    assert(skip(In("k", Array[Any](1L, 2L, 300L))))
    assert(!skip(In("k", Array[Any](1L, 150L))))
    // one uncoercible value disables the whole In (never drop values)
    assert(!skip(In("k", Array[Any](1L, "oops"))))
    assert(skip(IsNull("k")) && !skip(IsNotNull("k")))
    // the all-null column: every comparison skips, IsNull doesn't,
    // IsNotNull does (nulls == rows)
    assert(skip(EqualTo("s", "x")) && !skip(IsNull("s")) && skip(IsNotNull("s")))
    assert(skip(And(EqualTo("k", 99L), EqualTo("k", 150L))))
    assert(!skip(Or(EqualTo("k", 99L), EqualTo("k", 150L))))
    // no stats at all → never skip
    assert(!ManifestSkip.canSkip(EqualTo("k", 99L), schema, None, Some(50L)))
  }

  test("post-pruning statistics: a small manifest dim broadcasts with " +
    "no hint") {
    import spark.implicits._
    val path = tmpDir()
    spark.range(20).select($"id".as("k"), concat(lit("n"), $"id").as("name"))
      .coalesce(1)
      .write.mode("append").format("graft-manifest").option("path", path).save()
    val dim = spark.read.format("graft-manifest").option("path", path).load()
    val fact = spark.range(100000).select(($"id" % 20).as("k"), $"id".as("v"))
    val joined = fact.join(dim, "k").agg(count(lit(1)).as("n"))
    assert(joined.collect()(0).getLong(0) == 100000L)
    val finalPlan = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def find(p: SparkPlan)(pred: SparkPlan => Boolean): Seq[SparkPlan] =
      p.collectWithSubqueries {
        case q: QueryStageExec => find(q.plan)(pred)
        case n if pred(n) => Seq(n)
      }.flatten
    val bhj = find(finalPlan)(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj.nonEmpty, s"no broadcast hash join:\n$finalPlan")
    // the BROADCAST side is the manifest table (pre-round-10 it cost
    // defaultSizeInBytes and could never be the build side)
    val j = bhj.head.asInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]
    val buildPlan = j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
    }
    def containsManifest(p: SparkPlan): Boolean =
      find(p)(n => n.isInstanceOf[BatchScanExec] &&
        n.asInstanceOf[BatchScanExec].scan.description()
          .contains("graft-manifest")).nonEmpty
    assert(containsManifest(buildPlan),
      s"manifest table was not the broadcast side:\n$finalPlan")
  }

  test("runtime join-key pruning: a filtered dim's key set skips files " +
    "whose stats range misses every key (the DPP seam)") {
    import spark.implicits._
    val path = tmpDir()
    writeFact(path)
    val fact = spark.read.format("graft-manifest").option("path", path).load()
    // derived selective predicate (a plain key-range filter would be
    // propagated to the fact statically by constraint inference and
    // test the static path instead)
    val dim = spark.range(1000).select($"id", ($"id" / 125).cast("long").as("tag"))
    val joined = fact.join(dim.filter($"tag" === 7L), fact("key") === dim("id"))
      .select($"key", $"m")
    val rows = joined.collect()
    assert(rows.length == 125)
    assert(rows.forall(r => r.getLong(0) >= 875 && r.getLong(0) < 1000))
    val scans = manifestScans(joined)
    assert(scans.nonEmpty)
    assert(scans.exists(_.runtimeFilters.nonEmpty),
      s"no runtime filter attached:\n${joined.queryExecution.executedPlan}")
    // keys 875..999 live in ONE of the 8 range files — the rest skipped
    // at runtime from the build side's key set
    assert(metric(joined, "filesPlanned") <= 2L,
      s"runtime pruning left ${metric(joined, "filesPlanned")} files")
    assert(metric(joined, "filesSkipped") >= 6L)
  }

  test("runtime pruning refuses EXPRESSION join keys: abs(key) = id " +
    "must not evaluate In(key, …) and silently drop matches") {
    import spark.implicits._
    val path = tmpDir()
    // every key NEGATIVE: file stats are [-1000, -1]
    spark.range(1000).select((-$"id" - 1).as("key"), ($"id" % 7).as("m"))
      .repartitionByRange(4, $"key")
      .write.mode("append").format("graft-manifest").option("path", path).save()
    val fact = spark.read.format("graft-manifest").option("path", path).load()
    val dim = spark.range(1000)
      .select($"id", ($"id" / 125).cast("long").as("tag"))
    // join key is an EXPRESSION of the column — a naive runtime filter
    // would test In(key, {875..999}) against [-1000,-1] and skip every
    // file, losing all 125 matches
    val joined = fact.join(dim.filter($"tag" === 7L),
      abs(fact("key")) - 1 === dim("id"))
    assert(joined.count() == 125L,
      "expression-keyed join lost rows to unsound runtime skipping")
  }

  test("-0.0 and 0.0 are the same value to skipping, as they are to " +
    "Spark's row filters") {
    import spark.implicits._
    val path = tmpDir()
    // one file whose only d value is -0.0
    Seq(-0.0d).toDF("d").coalesce(1)
      .write.mode("append").format("graft-manifest").option("path", path).save()
    val t = spark.read.format("graft-manifest").option("path", path).load()
    assert(t.filter($"d" === 0.0d).count() == 1L,
      "file holding -0.0 was skipped for d = 0.0")
    assert(t.filter($"d" >= 0.0d).count() == 1L)
    val q = t.filter($"d" === 0.0d).agg(count(lit(1)))
    q.collect()
    assert(metric(q, "filesSkipped") == 0L)
  }

  test("a malformed #stats line degrades to no-skipping for that file, " +
    "not an unreadable table") {
    import spark.implicits._
    val path = tmpDir()
    spark.range(100).select($"id".as("key"))
      .coalesce(1)
      .write.mode("append").format("graft-manifest").option("path", path).save()
    // corrupt the stats payload in the newest snapshot (simulates a
    // hand-edited or torn metadata line) — written back as a LEGACY
    // full listing, which doubles as a pre-segmentation readability check
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = graft.sources.ManifestFiles.latestVersion(fs, dir)
    val mf = new org.apache.hadoop.fs.Path(dir, s"_MANIFEST.v$v")
    val lines = graft.sources.ManifestFiles.linesOf(fs, dir, Some(v)).map { l =>
      if (l.startsWith("#stats,")) {
        val parts = l.split(",", 4)
        s"#stats,${parts(1)},${parts(2)},x=notanumber:@@@:@@@"
      } else l
    }
    val out = fs.create(mf, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val t = spark.read.format("graft-manifest").option("path", path).load()
    assert(t.count() == 100L) // table still reads
    val q = t.filter($"key" >= 1000L).agg(count(lit(1)))
    assert(q.collect()(0).getLong(0) == 0L)
    assert(metric(q, "filesSkipped") == 0L, "no stats ⇒ no skipping, no error")
  }

  test("stats survive COPY_ON_WRITE and stay consistent: rewritten files " +
    "get fresh stats, dropped files lose theirs") {
    import spark.implicits._
    val root = tmpDir()
    val cat = "graft_skipcow"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.range(1000).select($"id".as("k"), ($"id" % 10).as("m"))
      .repartitionByRange(4, $"k")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 900")
    val dir = new org.apache.hadoop.fs.Path(s"$root/t")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = ManifestFiles.entries(fs, dir, None).map(_._1).toSet
    val stats = ManifestSnapshot.latest(fs, dir).stats
    assert(stats.keySet == entries,
      s"stats lines out of sync with entries: ${stats.keySet} vs $entries")
    // post-delete global max must reflect the rewrite
    val maxes = stats.values.flatMap(_.cols(0).max).map(_.toLong)
    assert(maxes.max == 899L)
    // and the deleted range now statically skips everything
    val q = spark.read.format("graft-manifest").option("path", s"$root/t")
      .load().filter($"k" >= 900L)
    assert(q.collect().isEmpty)
    assert(metric(q, "filesPlanned") == 0L && metric(q, "filesListed") > 0L)
  }

  test("RENAME COLUMN keeps stats valid: skipping still works under the " +
    "new name (stats are positional)") {
    import spark.implicits._
    val root = tmpDir()
    val cat = "graft_skiprename"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.range(10000).select($"id".as("k"), ($"id" % 5).as("m"))
      .repartitionByRange(4, $"k")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN k TO key_renamed")
    val q = spark.read.format("graft-manifest").option("path", s"$root/t")
      .load().filter($"key_renamed" >= 9000L)
    assert(q.collect().length == 1000)
    assert(metric(q, "filesSkipped") >= 2L,
      "positional stats must keep pruning after a rename")
  }

  test("compact with sort_by clusters the table so skipping becomes " +
    "effective on interleaved appends") {
    import spark.implicits._
    val root = tmpDir()
    val cat = "graft_skipsort"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // interleaved appends: every file spans the whole key range, so
    // nothing can skip regardless of stats
    (0 until 4).foreach { shard =>
      spark.range(100000).filter($"id" % 4 === shard)
        .select($"id".as("k"), ($"id" % 7).as("m")).coalesce(1)
        .write.mode("append").format("graft-manifest")
        .option("path", s"$root/t").save()
    }
    def q() = spark.read.format("graft-manifest").option("path", s"$root/t")
      .load().filter($"k" >= 90000L)
    val before = q()
    assert(before.collect().length == 10000)
    assert(metric(before, "filesSkipped") == 0L,
      "interleaved files all overlap the predicate — nothing should skip")
    // cluster on k: the rewrite carries fresh per-file stats with
    // DISJOINT ranges
    spark.sql(s"CALL $cat.system.compact('t', 4, 'k')").collect()
    val after = q()
    assert(after.collect().length == 10000)
    assert(metric(after, "filesListed") == 4L)
    assert(metric(after, "filesSkipped") >= 2L,
      "post-compaction range files should mostly skip")
  }

  test("row-level scans never stats-skip: deleting an ENTIRE file's rows " +
    "still drops the file (the survivor-filter hazard)") {
    import spark.implicits._
    val root = tmpDir()
    val cat = "graft_skipfull"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.range(1000).select($"id".as("k"), ($"id" % 10).as("m"))
      .repartitionByRange(4, $"k")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    // k >= 750 wipes the last range file COMPLETELY: its survivor set is
    // empty, so a stats-skipping row-level scan would prove it "row-free"
    // under the pushed NOT-condition, never plan it, and the commit would
    // never drop it — the delete would silently no-op for that file.
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 750")
    val remaining = spark.read.format("graft-manifest")
      .option("path", s"$root/t").load()
    assert(remaining.count() == 750L)
    assert(remaining.agg(max($"k")).collect()(0).getLong(0) == 749L)
    val dir = new org.apache.hadoop.fs.Path(s"$root/t")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = ManifestSnapshot.latest(fs, dir).stats
    assert(stats.values.flatMap(_.cols(0).max).map(_.toLong).max == 749L)
  }
}
