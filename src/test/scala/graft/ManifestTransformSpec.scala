package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Round-13 transform roster: `years()`, `hours()`, `truncate(w, col)`
  * and MIXED `(days(ts), bucket(n, id))` specs. Each transform shares
  * ONE formula across the writer's split keys, the catalog's V2
  * function, and the scan's SPJ group derivation — so files land
  * value-pure, retention deletes on the transform dimension stay
  * metadata-only, and identically-laid tables storage-partition-join
  * with zero exchanges. */
class ManifestTransformSpec extends AnyFunSuite {

  lazy val spark = {
    val s = GraftSession.local(4)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    s
  }
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_tr_$tag").toString
    val cat = s"graft_tr_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def shuffles(df: DataFrame): Int = {
    df.collect()
    def count(p: SparkPlan): Int =
      p.collectWithSubqueries {
        case _: ShuffleExchangeLike => 1
        case q: QueryStageExec => count(q.plan)
      }.sum
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case p => count(p)
    }
  }

  private def noBroadcast[A](body: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally spark.conf.set(
      "spark.sql.autoBroadcastJoinThreshold", (32L << 20).toString)
  }

  /** The declared layout as the catalog's table reports it (DESCRIBE). */
  private def layoutOf(cat: String, table: String): Seq[String] =
    spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, table)).partitioning().map(_.toString).toSeq

  private def entryCount(root: String, table: String): Int = {
    val dir = new org.apache.hadoop.fs.Path(s"$root/$table")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestFiles.entries(fs, dir, None).length
  }

  test("hours(ts): INSERTs land hour-pure files and an hour-boundary " +
    "retention DELETE is metadata-only (no scan, no new files)") {
    val (cat, root) = freshCat("hr")
    spark.sql(s"CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (hours(ts))")
    assert(layoutOf(cat, "ev") == Seq("hours(ts)"))
    // 6 distinct hours, 40 rows each
    spark.range(0, 240).select($"id".as("k"),
        (lit(1700000000L) + ($"id" % 6) * 3600L).cast("timestamp").as("ts"))
      .repartition(5).writeTo(s"$cat.ev").append()
    val t = spark.read.format("graft-manifest").option("path", s"$root/ev").load()
    // value-pure: every file spans exactly one hour
    val spans = t.groupBy($"_file")
      .agg(countDistinct(date_trunc("hour", $"ts")).as("n")).collect()
    assert(spans.length == 6, s"expected one file per hour, got ${spans.length}")
    spans.foreach(r => assert(r.getLong(1) == 1L))
    // retention: drop the 2 oldest hours — metadata-only BY CONSTRUCTION
    val before = entryCount(root, "ev")
    spark.sql(s"DELETE FROM $cat.ev WHERE ts < " +
      "CAST(1700007200 AS TIMESTAMP)")
    val after = entryCount(root, "ev")
    assert(after == before - 2, s"$before -> $after")
    assert(spark.table(s"$cat.ev").count() == 160L)
    // no rewrite: surviving entries are the ORIGINAL files
    assert(spark.read.format("graft-manifest").option("path", s"$root/ev")
      .load().select($"_file").distinct().count() == 4L)
  }

  test("years(ts): two year-laid tables storage-partition-join with " +
    "zero exchanges") {
    val (cat, _) = freshCat("yr")
    spark.sql(s"CREATE TABLE $cat.a (k BIGINT, ts TIMESTAMP, v DOUBLE) " +
      "PARTITIONED BY (years(ts))")
    spark.sql(s"CREATE TABLE $cat.b (ts TIMESTAMP, name STRING) " +
      "PARTITIONED BY (years(ts))")
    assert(layoutOf(cat, "a") == Seq("years(ts)"))
    def tsOf(y: Column) = // Jan 1 of 2020+y, mid-year offset via k
      to_timestamp(concat((lit(2020) + y).cast("string"), lit("-03-01")))
    spark.range(0, 200).select($"id".as("k"),
        tsOf($"id" % 4).as("ts"), ($"id" % 7).cast("double").as("v"))
      .repartition(5).writeTo(s"$cat.a").append()
    spark.range(0, 4).select(tsOf($"id").as("ts"),
        concat(lit("y"), $"id").as("name"))
      .repartition(2).writeTo(s"$cat.b").append()
    noBroadcast {
      val q = spark.table(s"$cat.a").join(spark.table(s"$cat.b"), "ts")
        .groupBy($"name").agg(sum($"v").as("sv"))
      assert(q.collect().length == 4)
      assert(shuffles(spark.table(s"$cat.a").join(spark.table(s"$cat.b"),
        "ts").select($"name", $"v")) == 0, "year SPJ must plan no exchange")
    }
  }

  test("truncate(w, BIGINT): width-pure files, SPJ on the truncated key, " +
    "and a width-aligned retention delete stays metadata-only") {
    val (cat, root) = freshCat("twl")
    spark.sql(s"CREATE TABLE $cat.a (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (truncate(100, k))")
    spark.sql(s"CREATE TABLE $cat.b (k BIGINT, name STRING) " +
      "PARTITIONED BY (truncate(100, k))")
    spark.range(0, 500).select($"id".as("k"), ($"id" % 3).cast("double").as("v"))
      .repartition(4).writeTo(s"$cat.a").append()
    spark.range(0, 500, 7).select($"id".as("k"),
        concat(lit("n"), $"id").as("name"))
      .repartition(3).writeTo(s"$cat.b").append()
    // width-pure: each file's k range fits one 100-wide band
    val spans = spark.read.format("graft-manifest").option("path", s"$root/a")
      .load().groupBy($"_file")
      .agg((max(floor($"k" / 100)) === min(floor($"k" / 100))).as("pure"))
      .collect()
    assert(spans.length == 5 && spans.forall(_.getBoolean(1)))
    noBroadcast {
      assert(shuffles(spark.table(s"$cat.a").join(spark.table(s"$cat.b"),
        "k").select($"name", $"v")) == 0, "truncate SPJ must plan no exchange")
    }
    val before = entryCount(root, "a")
    spark.sql(s"DELETE FROM $cat.a WHERE k < 200")
    assert(entryCount(root, "a") == before - 2)
    assert(spark.table(s"$cat.a").count() == 300L)
  }

  test("truncate(w, STRING): prefix-pure files skip on prefix " +
    "predicates; widths beyond the stats truncation degrade the SPJ " +
    "layout instead of mis-grouping") {
    val (cat, root) = freshCat("tws")
    spark.sql(s"CREATE TABLE $cat.s (s STRING, v BIGINT) " +
      "PARTITIONED BY (truncate(2, s))")
    assert(layoutOf(cat, "s") == Seq("truncate(2, s)"))
    val prefixes = Seq("aa", "bb", "cc", "dd")
    prefixes.zipWithIndex.foreach { case (p, i) =>
      spark.range(0, 30).select(concat(lit(p), lit("-"), $"id").as("s"),
          ($"id" + i * 100).as("v"))
        .repartition(2).writeTo(s"$cat.s").append()
    }
    val t = spark.read.format("graft-manifest").option("path", s"$root/s").load()
    val spans = t.groupBy($"_file")
      .agg(countDistinct(substring($"s", 1, 2)).as("n")).collect()
    assert(spans.forall(_.getLong(1) == 1L), "files must be prefix-pure")
    // prefix-aligned delete is metadata-only
    val before = entryCount(root, "s")
    spark.sql(s"DELETE FROM $cat.s WHERE s >= 'cc' ")
    assert(spark.table(s"$cat.s").count() == 60L)
    assert(entryCount(root, "s") < before)
    // a width past StatsTruncLen never reports a (possibly wrong) layout:
    // string bounds are truncated at 16 code points, so derived keys
    // would be prefixes of the truth — the table still reads exactly
    spark.sql(s"CREATE TABLE $cat.wide (s STRING, v BIGINT) " +
      "PARTITIONED BY (truncate(20, s))")
    spark.range(0, 40).select(
        concat(lit("a-very-long-common-prefix-"), ($"id" % 2)).as("s"),
        $"id".as("v"))
      .repartition(2).writeTo(s"$cat.wide").append()
    assert(spark.table(s"$cat.wide").count() == 40L)
    assert(spark.table(s"$cat.wide").groupBy($"s").count().collect()
      .length == 2)
  }

  test("t$partitions types the new transforms: hours ordinals render " +
    "as hour strings, truncate groups surface at the column's type, and " +
    "both reconcile with a group-by of the data") {
    val (cat, _) = freshCat("meta")
    spark.sql(s"CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (hours(ts))")
    spark.range(0, 120).select($"id".as("k"),
        (lit(1700000000L) + ($"id" % 3) * 3600L).cast("timestamp").as("ts"))
      .repartition(4).writeTo(s"$cat.ev").append()
    val parts = spark.table(s"$cat.`ev$$partitions`")
    assert(parts.schema.fieldNames.head == "ts_hour")
    val fromMeta = parts.select($"ts_hour", $"row_count")
      .as[(String, Long)].collect().filter(_._1 != null).toMap
    val fromData = spark.table(s"$cat.ev")
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:00")
        .as("h")).count().as[(String, Long)].collect().toMap
    assert(fromMeta == fromData, s"$fromMeta vs $fromData")

    spark.sql(s"CREATE TABLE $cat.tw (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (truncate(100, k))")
    spark.range(0, 300).select($"id".as("k"), lit(1.0d).as("v"))
      .repartition(3).writeTo(s"$cat.tw").append()
    val tparts = spark.table(s"$cat.`tw$$partitions`")
    assert(tparts.schema.fieldNames.head == "k_trunc")
    assert(tparts.schema("k_trunc").dataType ==
      org.apache.spark.sql.types.LongType)
    val tm = tparts.select($"k_trunc", $"row_count")
      .as[(Option[Long], Long)].collect()
      .collect { case (Some(b), n) => b -> n }.toMap
    assert(tm == Map(0L -> 100L, 100L -> 100L, 200L -> 100L), tm.toString)
  }

  test("MIXED spec (days(ts), bucket(4, k)): files pure on BOTH " +
    "dimensions, the bucket SPJ layout still reports, and a day " +
    "retention delete stays metadata-only") {
    val (cat, root) = freshCat("mix")
    spark.sql(s"CREATE TABLE $cat.f (k BIGINT, ts TIMESTAMP, v DOUBLE) " +
      "PARTITIONED BY (days(ts), bucket(4, k))")
    spark.sql(s"CREATE TABLE $cat.d (k BIGINT, name STRING) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.range(0, 400).select($"id".as("k"),
        (lit(1700000000L) + ($"id" % 3) * 86400L).cast("timestamp").as("ts"),
        ($"id" % 5).cast("double").as("v"))
      .repartition(6).writeTo(s"$cat.f").append()
    spark.range(0, 50).select($"id".as("k"),
        concat(lit("n"), $"id").as("name"))
      .writeTo(s"$cat.d").append()
    val t = spark.read.format("graft-manifest").option("path", s"$root/f").load()
    // day-pure per file
    val spans = t.groupBy($"_file")
      .agg(countDistinct(to_date($"ts")).as("days")).collect()
    assert(spans.nonEmpty)
    spans.foreach(r => assert(r.getLong(1) == 1L, "file spans several days"))
    val dir = new org.apache.hadoop.fs.Path(s"$root/f")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = ManifestSnapshot.latest(fs, dir)
    val entries = snap.entries.map(_._1).toSet
    val bucketed = snap.buckets.keySet
    assert(entries.subsetOf(bucketed), "every split file records its bucket")
    // bucket SPJ still holds on the mixed table
    noBroadcast {
      assert(shuffles(spark.table(s"$cat.f").join(spark.table(s"$cat.d"),
        "k").select($"name", $"v")) == 0,
        "mixed-layout bucket SPJ must plan no exchange")
    }
    // day retention delete: metadata-only (drops day-0 files whole)
    val before = entryCount(root, "f")
    spark.sql(s"DELETE FROM $cat.f WHERE ts < " +
      "CAST(1700086400 AS TIMESTAMP)")
    assert(spark.table(s"$cat.f").count() < 400L)
    assert(entryCount(root, "f") < before)
    assert(spark.read.format("graft-manifest").option("path", s"$root/f")
      .load().select($"_file").distinct().count()
      == entryCount(root, "f").toLong,
      "survivors are the original files (no rewrite)")
  }
}
