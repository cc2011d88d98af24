package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Time/identity partition transforms in manifest DDL (round 12 —
  * Iceberg's retention layout): `CREATE TABLE … PARTITIONED BY
  * (days(ts))` / `(months(ts))` / `(col)` persists a `#tableconf,part`
  * line; every batch write range-distributes on the column and splits
  * task output one-file-per-partition-value, so file stats are
  * value-tight and `DELETE WHERE ts < cutoff` is metadata-only BY
  * CONSTRUCTION — q239 builds the same alignment by hand; this makes
  * the layout automatic on every INSERT. */
class ManifestPartitionSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_part_$tag").toString
    val cat = s"graft_part_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet

  /** 1000 events over 10 days starting 2024-03-01, deliberately
    * UNSORTED and spread over many input partitions. */
  private def events() =
    spark.range(0, 1000).select(
      $"id".as("k"),
      (lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime / 1000)
        .cast("long") + ($"id" * 7919 % 10) * 86400L + $"id" % 86400)
        .cast("timestamp").as("ts"),
      ($"id" % 100).cast("double").as("v"))
      .repartition(8)

  test("days(ts): INSERTs auto-route one file per day; retention DELETE " +
    "is metadata-only with no manual layout") {
    val (cat, root) = freshCat("days")
    spark.sql(s"CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP, v DOUBLE) " +
      "PARTITIONED BY (days(ts))")
    events().writeTo(s"$cat.ev").append()

    // every data file holds exactly one day
    val spans = spark.read.format("graft-manifest")
      .option("path", s"$root/ev").load()
      .groupBy($"_file")
      .agg(min(to_date($"ts")).as("lo"), max(to_date($"ts")).as("hi"))
      .collect()
    assert(spans.nonEmpty)
    spans.foreach(r => assert(r.get(1) == r.get(2),
      s"file ${r.get(0)} spans ${r.get(1)}..${r.get(2)} — not day-pure"))
    // range distribution keeps the count near one file per day (a day
    // straddling a range boundary may split once)
    val days = spans.map(_.get(1)).distinct.length
    assert(days == 10)
    assert(spans.length <= days + spark.conf
      .get("spark.sql.shuffle.partitions").toInt,
      s"${spans.length} files for $days days")

    // retention delete at a day boundary: pure snapshot edit — on-disk
    // files untouched, no delete vectors, no rewrites
    val before = dataFiles(s"$root/ev")
    spark.sql(s"DELETE FROM $cat.ev WHERE ts < TIMESTAMP'2024-03-04 00:00:00'")
    assert(dataFiles(s"$root/ev") == before,
      "aligned retention delete must not write or rewrite any file")
    val fs = new Path(s"$root/ev")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = ManifestSnapshot.latest(fs, new Path(s"$root/ev"))
    assert(snap.deleteFiles.isEmpty)
    val expected = (0 until 1000).count(i => i * 7919 % 10 >= 3)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head().getLong(0)
      == expected.toLong)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev " +
      "WHERE ts < TIMESTAMP'2024-03-04 00:00:00'").head().getLong(0) == 0L)

    // stats skipping on the partition column: a one-day query plans
    // only that day's file(s)
    val q = spark.read.format("graft-manifest").option("path", s"$root/ev")
      .load()
      .filter($"ts" >= lit(java.sql.Timestamp.valueOf("2024-03-08 00:00:00")) &&
        $"ts" < lit(java.sql.Timestamp.valueOf("2024-03-09 00:00:00")))
      .agg(count(lit(1)))
    q.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val finalPlan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def scansOf(p: SparkPlan): Seq[BatchScanExec] = p.collectWithSubqueries {
      case b: BatchScanExec => Seq(b)
      case st: QueryStageExec => scansOf(st.plan)
    }.flatten
    val scans = scansOf(finalPlan)
    val planned = scans.flatMap(_.metrics.get("filesPlanned")).map(_.value).sum
    val skipped = scans.flatMap(_.metrics.get("filesSkipped")).map(_.value).sum
    assert(planned >= 1 && planned <= 2, s"planned $planned files for one day")
    assert(skipped >= 5, s"expected most day files skipped, got $skipped")
  }

  test("identity partitioning on a string column: value-pure files, " +
    "equality retention delete metadata-only") {
    val (cat, root) = freshCat("id")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, tier STRING, v DOUBLE) " +
      "PARTITIONED BY (tier)")
    spark.range(0, 400).select($"id".as("k"),
        concat(lit("tier-"), $"id" % 5).as("tier"),
        ($"id" % 13).cast("double").as("v"))
      .repartition(6)
      .writeTo(s"$cat.t").append()
    val spans = spark.read.format("graft-manifest")
      .option("path", s"$root/t").load()
      .groupBy($"_file").agg(countDistinct($"tier").as("n")).collect()
    spans.foreach(r => assert(r.getLong(1) == 1L,
      s"file ${r.get(0)} mixes ${r.getLong(1)} tiers"))
    val before = dataFiles(s"$root/t")
    spark.sql(s"DELETE FROM $cat.t WHERE tier = 'tier-2'")
    assert(dataFiles(s"$root/t") == before)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 320L)
    assert(spark.sql(
        s"SELECT count(DISTINCT tier) FROM $cat.t").head().getLong(0) == 4L)
  }

  test("months(ts) groups by calendar month across year boundaries") {
    val (cat, root) = freshCat("mon")
    spark.sql(s"CREATE TABLE $cat.m (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (months(ts))")
    // 300 rows over Nov 2023 .. Feb 2024
    spark.range(0, 300).select($"id".as("k"),
        (lit(java.sql.Timestamp.valueOf("2023-11-15 12:00:00").getTime / 1000)
          .cast("long") + ($"id" % 4) * 2592000L).cast("timestamp").as("ts"))
      .repartition(5)
      .writeTo(s"$cat.m").append()
    val spans = spark.read.format("graft-manifest")
      .option("path", s"$root/m").load()
      .groupBy($"_file")
      .agg(countDistinct(date_format($"ts", "yyyy-MM")).as("n"))
      .collect()
    spans.foreach(r => assert(r.getLong(1) == 1L,
      s"file ${r.get(0)} mixes months"))
    assert(spark.table(s"$cat.m").count() == 300L)
  }

  test("streaming epochs split per day too: streamed history keeps " +
    "retention deletes metadata-only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val (cat, root) = freshCat("stream")
    spark.sql(s"CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_part_ck").toString
    val input = MemoryStream[Long](spark)
    def drain(): Unit = {
      val q = input.toDS().selectExpr("value AS k",
          "timestamp_seconds(1714521600 + (value % 4) * 86400 + value) AS ts")
        .writeStream.format("graft-manifest")
        .option("path", s"$root/ev")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      q.stop()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.id == q.id) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
    }
    input.addData(0L until 200L: _*)
    drain()
    input.addData(200L until 300L: _*)
    drain()
    // every streamed file is day-pure
    val spans = spark.read.format("graft-manifest")
      .option("path", s"$root/ev").load()
      .groupBy($"_file").agg(countDistinct(to_date($"ts")).as("n")).collect()
    assert(spans.nonEmpty)
    spans.foreach(r => assert(r.getLong(1) == 1L,
      s"streamed file ${r.get(0)} mixes days"))
    // retention delete at a day boundary over PURELY STREAMED history:
    // still a metadata-only snapshot edit
    val before = dataFiles(s"$root/ev")
    spark.sql(s"DELETE FROM $cat.ev WHERE ts < " +
      "timestamp_seconds(1714521600 + 2 * 86400)")
    assert(dataFiles(s"$root/ev") == before,
      "aligned retention delete on streamed files must write nothing")
    val expected = (0 until 300).count(_ % 4 >= 2)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head().getLong(0)
      == expected.toLong)
  }

  test("composite layout days(ts), region: files pure on BOTH dimensions; " +
    "retention delete on either column stays metadata-only") {
    val (cat, root) = freshCat("multi")
    spark.sql(s"CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP, region STRING) " +
      "PARTITIONED BY (days(ts), region)")
    spark.range(0, 600).select($"id".as("k"),
        (lit(1714521600L) + ($"id" * 7919 % 5) * 86400L + $"id" % 86400)
          .cast("timestamp").as("ts"),
        element_at(array(lit("apac"), lit("emea"), lit("amer")),
          ($"id" % 3 + 1).cast("int")).as("region"))
      .repartition(7).writeTo(s"$cat.ev").append()
    // every file holds exactly one (day, region) pair
    val spans = spark.read.format("graft-manifest")
      .option("path", s"$root/ev").load()
      .groupBy($"_file").agg(
        countDistinct(to_date($"ts")).as("d"),
        countDistinct($"region").as("r")).collect()
    assert(spans.nonEmpty)
    spans.foreach { r =>
      assert(r.getLong(1) == 1L && r.getLong(2) == 1L,
        s"file ${r.get(0)} not (day, region)-pure: ${r.getLong(1)} days, " +
          s"${r.getLong(2)} regions")
    }
    // retention delete on the TIME dimension: metadata-only
    val before = dataFiles(s"$root/ev")
    spark.sql(s"DELETE FROM $cat.ev WHERE ts < " +
      "timestamp_seconds(1714521600 + 2 * 86400)")
    assert(dataFiles(s"$root/ev") == before,
      "day-aligned delete on a composite layout must write nothing")
    // takedown delete on the SECOND dimension: also metadata-only,
    // because files are region-pure too
    spark.sql(s"DELETE FROM $cat.ev WHERE region = 'emea'")
    assert(dataFiles(s"$root/ev") == before,
      "region-aligned delete on a composite layout must write nothing")
    val expected = (0 until 600)
      .filter(i => i * 7919 % 5 >= 2).filterNot(_ % 3 == 1).size
    assert(spark.table(s"$cat.ev").count() == expected.toLong)
    // the declared layout surfaces through the catalog
    val t = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "ev"))
    assert(t.partitioning().map(_.toString).toSeq
      == Seq("days(ts)", "identity(region)"))
  }

  test("partition EVOLUTION: ALTER TBLPROPERTIES('partition.layout') " +
    "re-declares the layout metadata-only; compact re-lays old files; " +
    "'none' clears; invalid specs rejected") {
    val (cat, root) = freshCat("evo")
    spark.sql(s"CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP)")
    def rows(lo: Int, hi: Int) = spark.range(lo, hi).select($"id".as("k"),
      (lit(1714521600L) + ($"id" % 4) * 86400L + $"id").cast("timestamp")
        .as("ts"))
    rows(0, 200).repartition(3).writeTo(s"$cat.ev").append() // pre-layout
    spark.sql(s"ALTER TABLE $cat.ev " +
      "SET TBLPROPERTIES('partition.layout'='days(ts)')")
    rows(200, 300).repartition(3).writeTo(s"$cat.ev").append() // post-layout
    // post-evolution files are day-pure; pre-evolution files are not —
    // and both read correctly
    assert(spark.table(s"$cat.ev").count() == 300L)
    val meta = spark.table(s"$cat.`ev$$files`")
      .select($"file", $"partition").collect()
    assert(meta.count(_.getString(1) != null) > 0, "new files attributed")
    assert(meta.count(_.getString(1) == null) > 0, "old files unprovable")
    // compact re-lays EVERYTHING under the evolved layout
    spark.sql(s"CALL $cat.system.compact('ev', 1)")
    val spans = spark.read.format("graft-manifest")
      .option("path", s"$root/ev").load()
      .groupBy($"_file").agg(countDistinct(to_date($"ts")).as("n")).collect()
    spans.foreach(r => assert(r.getLong(1) == 1L,
      s"post-compact file ${r.get(0)} mixes days"))
    // now a retention delete is metadata-only on the whole history
    val before = dataFiles(s"$root/ev")
    spark.sql(s"DELETE FROM $cat.ev WHERE ts < " +
      "timestamp_seconds(1714521600 + 86400)")
    assert(dataFiles(s"$root/ev") == before)
    assert(spark.table(s"$cat.ev").count() ==
      (0 until 300).count(_ % 4 != 0).toLong)
    // clearing the layout: future writes stop splitting
    spark.sql(s"ALTER TABLE $cat.ev SET TBLPROPERTIES('partition.layout'='none')")
    val err = intercept[Exception] {
      spark.table(s"$cat.`ev$$partitions`").collect()
    }
    assert(err.getMessage.contains("no declared partition layout"))
    // invalid specs fail loudly
    val bad = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev " +
        "SET TBLPROPERTIES('partition.layout'='days(k)')")
    }
    assert(bad.getMessage.contains("TIMESTAMP or DATE"), bad.getMessage)
    val badTok = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev " +
        "SET TBLPROPERTIES('partition.layout'='weeks(ts)')")
    }
    assert(badTok.getMessage.contains("days(col)"), badTok.getMessage)
  }

  test("layout survives INSERT OVERWRITE and blocks dropping its column; " +
    "DDL rejects non-temporal days() and multi-transform specs") {
    val (cat, root) = freshCat("guard")
    spark.sql(s"CREATE TABLE $cat.g (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (days(ts))")
    def ins(lo: Int, hi: Int) =
      spark.range(lo, hi).select($"id".as("k"),
          (lit(1700000000L) + ($"id" % 3) * 86400L).cast("timestamp").as("ts"))
    ins(0, 100).writeTo(s"$cat.g").append()
    ins(100, 160).writeTo(s"$cat.g").overwrite(lit(true))
    // the #tableconf,part line survived the truncate: new files day-pure
    val spans = spark.read.format("graft-manifest")
      .option("path", s"$root/g").load()
      .groupBy($"_file").agg(countDistinct(to_date($"ts")).as("n")).collect()
    assert(spans.nonEmpty)
    spans.foreach(r => assert(r.getLong(1) == 1L))
    assert(spark.table(s"$cat.g").count() == 60L)

    val dropErr = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.g DROP COLUMN ts")
    }
    assert(dropErr.getMessage.contains("partition layout"), dropErr.getMessage)

    val typeErr = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad (k BIGINT, s STRING) " +
        "PARTITIONED BY (days(s))")
    }
    assert(typeErr.getMessage.contains("TIMESTAMP or DATE"),
      typeErr.getMessage)
    // two bucket transforms stay invalid (mixed specs allow at most one)
    val multiErr = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad2 (k BIGINT, m BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (bucket(4, k), bucket(2, m))")
    }
    assert(multiErr.getMessage.toLowerCase.contains("one bucket"),
      multiErr.getMessage)
  }
}
