package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** `CALL add_files(table, source[, pattern])` — the migration path
  * (Iceberg add_files/migrate): foreign parquet registers into the
  * governed format as ONE metadata commit. No data rewrite: files are
  * renamed in, row counts and min/max/null stats LIFT from the footers,
  * and a `#import` name map lets every reader translate the format's
  * positional `c<pos>` requests to the file's own field names. At
  * 100 TB, adopting the table format must be a footer sweep, not a copy
  * job.
  */
class ManifestAddFilesSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_addfiles").toString

  private def register(root: String): String = {
    val cat = "graft_af_" + math.abs(root.hashCode).toString
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

  /** A foreign parquet directory: REAL field names, four range-disjoint
    * files on `ev_time` (a time-partitioned export's natural layout). */
  private def writeForeign(path: String): Unit = {
    import spark.implicits._
    // micros-annotated foreign timestamps, scoped — don't leak the conf
    // into whatever suite runs next in the shared session
    graft.Confs.withValues(spark,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      writeForeign0(path)
    }
  }

  private def writeForeign0(path: String): Unit = {
    import spark.implicits._
    spark.range(4000)
      .select($"id".as("ev_id"),
        (lit(java.sql.Timestamp.valueOf("2024-06-01 00:00:00")).cast("long") +
          $"id" * 60).cast("timestamp").as("ev_time"),
        concat(lit("host-"), ($"id" % 7).cast("string")).as("src"),
        ($"id" % 100).cast("double").as("score"))
      .repartitionByRange(4, $"ev_time").sortWithinPartitions($"ev_time")
      .write.mode("overwrite").parquet(path)
  }

  test("add_files registers foreign parquet without rewrite: values " +
    "exact through renamed columns, lifted stats skip, history versioned") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    val landing = s"$root/landing"
    writeForeign(landing)
    val expected = spark.read.parquet(landing)
      .select($"ev_id", $"ev_time", $"src", $"score").collect().toSet

    // table columns deliberately use DIFFERENT names than the files
    spark.sql(s"CREATE TABLE $cat.events (id BIGINT, ts TIMESTAMP, " +
      "host STRING, score DOUBLE)")
    val res = spark.sql(
      s"CALL $cat.system.add_files('events', '$landing')").collect()(0)
    assert(res.getInt(1) == 4, s"expected 4 files added, got $res")
    assert(res.getLong(2) == 4000L)

    // files MOVED, not copied
    val fs = fsOf(new Path(root, "events"))
    assert(Option(fs.globStatus(new Path(landing, "*.parquet")))
      .forall(_.isEmpty), "add_files must move the source files")

    // exact values through the table's own column names
    val got = spark.table(s"$cat.events").collect()
      .map(r => org.apache.spark.sql.Row(
        r.get(0), r.get(1), r.get(2), r.get(3))).toSet
    assert(got == expected)

    // lifted footer stats drive file skipping: the files are
    // range-disjoint on ev_time, so a narrow slice opens ~1 of 4
    val q = spark.table(s"$cat.events")
      .filter($"ts" < "2024-06-01 08:00:00").agg(count(lit(1)))
    q.collect()
    assert(metric(q, "filesListed") == 4L)
    assert(metric(q, "filesSkipped") >= 2L,
      s"lifted stats skipped only ${metric(q, "filesSkipped")} of 4")

    // history: v1 empty DDL snapshot, v2 the import
    assert(spark.read.format("graft-manifest")
      .option("path", s"$root/events").option("versionAsOf", "1")
      .load().count() == 0L)

    // row and columnar reads agree bit for bit
    val viaRow = spark.read.format("graft-manifest")
      .option("path", s"$root/events").option("columnar", "false")
      .load().agg(sum($"id"), sum($"score"), max($"host")).collect()(0)
    val viaBatch = spark.read.format("graft-manifest")
      .option("path", s"$root/events")
      .load().agg(sum($"id"), sum($"score"), max($"host")).collect()(0)
    assert(viaRow == viaBatch)
  }

  test("imported files compose with evolution: RENAME stays positional, " +
    "ADD COLUMN DEFAULT surfaces on pre-import files, COW delete rewrites") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    val landing = s"$root/landing"
    writeForeign(landing)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, ts TIMESTAMP, " +
      "host STRING, score DOUBLE)")
    spark.sql(s"CALL $cat.system.add_files('t', '$landing')").collect()

    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN host TO origin")
    assert(spark.table(s"$cat.t").filter($"origin" === "host-3").count() > 0)

    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN tier STRING DEFAULT 'bulk'")
    val tiers = spark.table(s"$cat.t").groupBy($"tier").count().collect()
    assert(tiers.length == 1 && tiers(0).getString(0) == "bulk",
      s"EXISTS_DEFAULT must surface on imported files, got ${tiers.toSeq}")

    // COW delete rewrites imported files verbatim-minus-matches; the
    // rewritten replacements are NATIVE files (the #import map drops
    // with its entry)
    val before = spark.table(s"$cat.t").agg(sum($"id")).head().getLong(0)
    val delSum = spark.table(s"$cat.t").filter($"id" % 10 === 3)
      .agg(sum($"id")).head().getLong(0)
    spark.sql(s"DELETE FROM $cat.t WHERE id % 10 = 3")
    assert(spark.table(s"$cat.t").agg(sum($"id")).head().getLong(0) ==
      before - delSum)
    val dir = new Path(root, "t")
    assert(ManifestSnapshot.latest(fsOf(dir), dir).imports.isEmpty,
      "COW rewrite must retire the #import maps with their entries")
  }

  test("change feed reads an imported file's PRE-IMAGE after a later " +
    "rewrite unlists it (mapping survives via the version union)") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    val landing = s"$root/landing"
    writeForeign(landing)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, ts TIMESTAMP, " +
      "host STRING, score DOUBLE)")
    spark.sql(s"CALL $cat.system.add_files('t', '$landing')").collect() // v2
    spark.sql(s"DELETE FROM $cat.t WHERE id < 1000")                    // v3
    val feed = spark.read.format("graft-manifest")
      .option("path", s"$root/t").option("changeFeed", "true")
      .option("changesFrom", "2").load()
    val dels = feed.filter($"_change_type" === "delete")
    val ins = feed.filter($"_change_type" === "insert")
    // rangepartitioned file boundaries are SAMPLED (they shift with the
    // shared session's parallelism), so a COW rewrite may unlist one or
    // two files — assert the feed's NET effect, which is exact: the
    // delete legs minus the re-inserted survivor rows are precisely the
    // 1000 deleted rows, and every pre-image value reads REAL data
    // through the import map of the now-unlisted files
    assert(dels.count() - ins.count() == 1000L)
    val delSum = dels.agg(sum($"id")).head().getLong(0)
    val insSum = ins.agg(coalesce(sum($"id"), lit(0L))).head().getLong(0)
    assert(delSum - insSum == (0L until 1000L).sum,
      s"net deleted-id sum off: $delSum - $insSum")
    assert(dels.filter($"host".isNull).count() == 0L)
    assert(ins.filter($"host".isNull).count() == 0L)
  }

  test("validation: schema arity/type mismatches, bucket layouts, and " +
    "non-primitive tables refuse — with nothing moved") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    val landing = s"$root/landing"
    spark.range(10).select($"id", ($"id" % 5).cast("int").as("small"))
      .coalesce(1).write.mode("overwrite").parquet(landing)
    def countSrc() =
      fsOf(new Path(landing)).globStatus(new Path(landing, "*.parquet")).length

    spark.sql(s"CREATE TABLE $cat.narrow (id BIGINT)")
    val e1 = intercept[Exception](spark.sql(
      s"CALL $cat.system.add_files('narrow', '$landing')").collect())
    assert(e1.getMessage.contains("positionally"), e1.getMessage)
    assert(countSrc() == 1, "failed import must move nothing")

    spark.sql(s"CREATE TABLE $cat.wrongtype (id BIGINT, small BIGINT)")
    val e2 = intercept[Exception](spark.sql(
      s"CALL $cat.system.add_files('wrongtype', '$landing')").collect())
    assert(e2.getMessage.contains("not readable"), e2.getMessage)
    assert(countSrc() == 1)

    spark.sql(s"CREATE TABLE $cat.bucketed (id BIGINT, small INT) " +
      "PARTITIONED BY (bucket(4, id))")
    val e3 = intercept[Exception](spark.sql(
      s"CALL $cat.system.add_files('bucketed', '$landing')").collect())
    assert(e3.getMessage.contains("bucket"), e3.getMessage)

    spark.sql(s"CREATE TABLE $cat.complex (id BIGINT, v ARRAY<FLOAT>)")
    val e4 = intercept[Exception](spark.sql(
      s"CALL $cat.system.add_files('complex', '$landing')").collect())
    assert(e4.getMessage.contains("primitive"), e4.getMessage)
  }

  test("hive-partitioned layouts import with PATH CONSTANTS: the " +
    "partition column splices per file, stats prove the dimension, and " +
    "an aligned delete stays metadata-only") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    val landing = s"$root/landing"
    // the classic lake layout: day in the DIRECTORY, not the footers —
    // plus a string dimension with a character Spark escapes, and a
    // NULL partition value
    spark.range(600)
      .select(
        when($"id" % 200 === 199, lit(null))
          .otherwise(date_add(lit(java.sql.Date.valueOf("2024-05-01")),
            ($"id" % 3).cast("int"))).as("day"),
        concat(lit("t a"), ($"id" % 2).cast("string")).as("tenant"),
        $"id".as("v"))
      .write.partitionBy("day", "tenant").mode("overwrite").parquet(landing)
    spark.sql(s"CREATE TABLE $cat.lake (day DATE, tenant STRING, v BIGINT)")
    val res = spark.sql(s"CALL $cat.system.add_files('lake', '$landing', " +
      "'day=*/tenant=*/*.parquet')").collect()(0)
    assert(res.getLong(2) == 600L, res.toString)

    val t = spark.table(s"$cat.lake")
    assert(t.count() == 600L)
    // spliced values are exact: per-(day, tenant) sums match a direct
    // recompute of the generator
    val expect = spark.range(600)
      .select(
        when($"id" % 200 === 199, lit(null))
          .otherwise(date_add(lit(java.sql.Date.valueOf("2024-05-01")),
            ($"id" % 3).cast("int"))).as("day"),
        concat(lit("t a"), ($"id" % 2).cast("string")).as("tenant"),
        $"id".as("v"))
      .groupBy($"day", $"tenant").agg(sum($"v")).collect().toSet
    assert(t.groupBy($"day", $"tenant").agg(sum($"v")).collect().toSet
      == expect)
    // NULL partition values round-trip
    assert(t.filter($"day".isNull).count() == 3L)

    // the path constant is a PROVABLE dimension: a day slice skips files
    val q = t.filter($"day" === java.sql.Date.valueOf("2024-05-01"))
      .agg(sum($"v"))
    q.collect()
    assert(metric(q, "filesSkipped") > 0,
      s"path-constant stats skipped ${metric(q, "filesSkipped")}")
    // ... and an aligned retention delete is METADATA-ONLY
    val dir = new Path(root, "lake")
    val entriesBefore =
      ManifestFiles.entries(fsOf(dir), dir, None).map(_._1).toSet
    spark.sql(s"DELETE FROM $cat.lake WHERE day < DATE'2024-05-02'")
    val after = ManifestSnapshot.latest(fsOf(dir), dir)
    assert(!after.lines.exists(_.startsWith("#dels,")))
    assert(after.entries.map(_._1).toSet
      .subsetOf(entriesBefore))
    assert(spark.table(s"$cat.lake").filter($"day".isNotNull)
      .agg(min($"day")).head().getDate(0).toString == "2024-05-02")

    // a non-hive subdirectory refuses loudly
    val bad = s"$root/bad"
    spark.range(5).select($"id".as("v")).coalesce(1)
      .write.mode("overwrite").parquet(s"$bad/notkv")
    spark.sql(s"CREATE TABLE $cat.plain (v BIGINT)")
    val e = intercept[Exception](spark.sql(
      s"CALL $cat.system.add_files('plain', '$bad', 'notkv/*.parquet')")
      .collect())
    assert(e.getMessage.contains("k=v"), e.getMessage)
  }

  test("string partition directories import verbatim: %5CN is the " +
    "string \\N, only __HIVE_DEFAULT_PARTITION__ is NULL") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    val landing = s"$root/landing"
    Seq(("\\N", 1L), ("\\\\N", 2L), (null, 3L)).toDF("s", "v")
      .write.partitionBy("s").mode("overwrite").parquet(landing)
    assert(Set("s=%5CN", "s=%5C%5CN", "s=__HIVE_DEFAULT_PARTITION__")
      .subsetOf(new java.io.File(landing).list().toSet))
    spark.sql(s"CREATE TABLE $cat.lake (s STRING, v BIGINT)")
    spark.sql(s"CALL $cat.system.add_files('lake', '$landing', " +
      "'s=*/*.parquet')").collect()
    val got = spark.table(s"$cat.lake").collect()
      .map(r => r.getLong(1) -> Option(r.getString(0))).toMap
    assert(got == Map(1L -> Some("\\N"), 2L -> Some("\\\\N"), 3L -> None),
      got.toString)
    // the constants' lifted stats agree: value predicates find each row
    assert(spark.table(s"$cat.lake").filter($"s" === "\\N").count() == 1L)
    assert(spark.table(s"$cat.lake").filter($"s".isNull).count() == 1L)
  }

  test("integral partition directories must fit the column: SMALLINT " +
    "refuses p=70000 and TINYINT p=300 at import, in-range values land") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    def landing(name: String, ps: Seq[Int]): String = {
      val dir = s"$root/$name"
      ps.map(p => (p, p.toLong)).toDF("p", "v")
        .write.partitionBy("p").mode("overwrite").parquet(dir)
      dir
    }
    def addFiles(table: String, dir: String) = spark.sql(
      s"CALL $cat.system.add_files('$table', '$dir', 'p=*/*.parquet')")
      .collect()
    spark.sql(s"CREATE TABLE $cat.s (p SMALLINT, v BIGINT)")
    val e = intercept[Exception](addFiles("s", landing("wide", Seq(5, 70000))))
    assert(e.getMessage.contains("70000") && e.getMessage.contains("SMALLINT"),
      e.getMessage)
    assert(spark.table(s"$cat.s").count() == 0L, "a refused import lands nothing")
    addFiles("s", landing("fits", Seq(-32768, 32767)))
    assert(spark.table(s"$cat.s").orderBy($"v").collect()
      .map(_.getShort(0).toInt).toSeq == Seq(-32768, 32767))
    spark.sql(s"CREATE TABLE $cat.b (p TINYINT, v BIGINT)")
    val e2 = intercept[Exception](addFiles("b", landing("tiny", Seq(300))))
    assert(e2.getMessage.contains("300") && e2.getMessage.contains("TINYINT"),
      e2.getMessage)
  }

  test("lifted stats align metadata-level operations: a delete aligned " +
    "on imported day-pure files stays metadata-only") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    val landing = s"$root/landing"
    // day-pure foreign files (one per day), DATE-keyed
    spark.range(300)
      .select(date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          ($"id" % 3).cast("int")).as("d"), $"id".as("v"))
      .repartition(3, $"d")
      .write.mode("overwrite").partitionBy().parquet(landing)
    // rewrite one-file-per-day deterministically
    val fs = fsOf(new Path(landing))
    spark.read.parquet(landing).repartitionByRange(3, $"d")
      .sortWithinPartitions($"d")
      .write.mode("overwrite").parquet(landing)
    spark.sql(s"CREATE TABLE $cat.days (day DATE, v BIGINT)")
    spark.sql(s"CALL $cat.system.add_files('days', '$landing')").collect()
    val dir = new Path(root, "days")
    val entriesBefore = ManifestFiles.entries(fsOf(dir), dir, None).map(_._1).toSet
    spark.sql(s"DELETE FROM $cat.days WHERE day < DATE'2024-01-02'")
    val after = ManifestSnapshot.latest(fsOf(dir), dir)
    assert(!after.lines.exists(_.startsWith("#dels,")),
      "aligned delete must not write delete vectors")
    val entriesAfter = after.entries.map(_._1).toSet
    assert(entriesAfter.subsetOf(entriesBefore),
      "metadata delete must only UNLIST files, never write new ones")
    assert(spark.table(s"$cat.days").agg(min($"day")).head()
      .getDate(0).toString == "2024-01-02")
    assert(spark.table(s"$cat.days").count() == 200L)
  }
}
