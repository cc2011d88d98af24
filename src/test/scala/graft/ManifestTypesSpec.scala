package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Temporal + decimal columns in the manifest format (round 11): DATE
  * (days int), TIMESTAMP / TIMESTAMP_NTZ (epoch micros), DECIMAL(p,s) —
  * round-tripped through the parquet payload, stats-skipped, and
  * row-level-operated on. Before this the format refused every
  * non-primitive type, which no real table survives.
  */
class ManifestTypesSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_types").toString + "/t"

  private def typed(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    s.range(0, 100).select(
      $"id".as("k"),
      when($"id" % 7 =!= 0, date_add(lit(java.sql.Date.valueOf("2020-01-01")),
        $"id".cast("int"))).as("d"),
      when($"id" % 5 =!= 0,
        timestamp_seconds(lit(1622548800L) + $"id" * 60)).as("ts"),
      when($"id" % 3 =!= 0,
        timestamp_seconds(lit(1700000000L) + $"id").cast("timestamp_ntz"))
        .as("tn"),
      when($"id" % 2 === 0, ($"id" * 10 + 0.25).cast("decimal(12,2)")).as("m"))
  }

  test("date/timestamp/ntz/decimal round-trip through the parquet payload") {
    import spark.implicits._
    val path = tmp()
    val src = typed(spark)
    src.repartition(3).write.mode("append").format("graft-manifest")
      .option("path", path).save()
    val back = spark.read.format("graft-manifest").option("path", path).load()
    assert(back.schema == src.schema ||
      back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = src.orderBy($"k").collect().toSeq
    val b = back.orderBy($"k").collect().toSeq
    assert(a == b, "parquet payload round-trip mismatch")
    // typed predicates cross the payload correctly
    assert(back.filter($"d" >= java.sql.Date.valueOf("2020-03-01")).count() ==
      src.filter($"d" >= java.sql.Date.valueOf("2020-03-01")).count())
    assert(back.filter($"m" === new java.math.BigDecimal("240.25")).count() == 1L)
    val sums = back.agg(
      sum($"m").as("msum"), count($"ts").as("nts"), max($"tn").as("maxtn"))
      .collect()(0)
    val exp = src.agg(sum($"m"), count($"ts"), max($"tn")).collect()(0)
    assert(sums == exp)
  }

  test("stats skipping works on DATE bounds: a date-range predicate " +
    "opens only overlapping files") {
    import spark.implicits._
    val path = tmp()
    // 8 date-disjoint files
    (0 until 8).foreach { b =>
      spark.range(b * 30L, (b + 1) * 30L)
        .select($"id".as("k"),
          date_add(lit(java.sql.Date.valueOf("2020-01-01")),
            $"id".cast("int")).as("d"))
        .coalesce(1).write.mode("append").format("graft-manifest")
        .option("path", path).save()
    }
    val t = spark.read.format("graft-manifest").option("path", path).load()
      .filter($"d" >= java.sql.Date.valueOf("2020-04-01") &&
        $"d" < java.sql.Date.valueOf("2020-05-01"))
    assert(t.count() == 30L)
    val scans = t.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.head.inputRDD.getNumPartitions <= 2,
      s"date skipping planned ${scans.head.inputRDD.getNumPartitions} of 8 files")
  }

  test("COPY_ON_WRITE with typed predicates: DELETE by date, UPDATE a " +
    "decimal") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_typed_cow").toString
    val cat = "graft_ty_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.range(0, 50).select($"id".as("k"),
        date_add(lit(java.sql.Date.valueOf("2023-01-01")), $"id".cast("int"))
          .as("d"),
        ($"id" + 0.5).cast("decimal(10,2)").as("m"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(s"DELETE FROM $cat.t WHERE d < DATE'2023-01-11'")
    spark.sql(s"UPDATE $cat.t SET m = m + 100 WHERE d >= DATE'2023-02-01'")
    val got = spark.sql(s"SELECT count(*), sum(m) FROM $cat.t").head()
    assert(got.getLong(0) == 40L)
    val expected = (10 until 50).map { i =>
      BigDecimal(i) + BigDecimal("0.5") +
        (if (i >= 31) BigDecimal(100) else BigDecimal(0))
    }.sum
    assert(BigDecimal(got.getDecimal(1)) == expected)
  }

  test("decimal row-group pushdown: a selective decimal predicate reads " +
    "fewer rows than the file holds (int64 and int32 physical); inexact " +
    "scales fall back to residual filtering") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = Option(hconf.get("parquet.block.size"))
    hconf.setLong("parquet.block.size", 64 * 1024) // force many row groups
    try {
      val path = tmp()
      // money DECIMAL(12,2) -> int64 physical; small DECIMAL(7,2) ->
      // int32 physical; sorted so row groups are range-disjoint
      spark.range(0, 200000).select($"id".as("k"),
          ($"id" + 0.25).cast("decimal(12,2)").as("price"),
          (($"id" % 90000) + 0.50).cast("decimal(7,2)").as("fee"))
        .sort($"k").coalesce(1)
        .write.mode("append").format("graft-manifest").option("path", path).save()
      def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        val finalPlan = df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        def scans(p: SparkPlan): Seq[BatchScanExec] = p.collectWithSubqueries {
          case b: BatchScanExec => Seq(b)
          case q: QueryStageExec => scans(q.plan)
        }.flatten
        scans(finalPlan).flatMap(_.metrics.get("numOutputRows"))
          .map(_.value).sum
      }
      val t = spark.read.format("graft-manifest").option("path", path).load()
      val sel = t.filter($"price" >= new java.math.BigDecimal("190000.25"))
      assert(sel.count() == 10000L)
      assert(scanRows(sel.select($"k")) < 100000L,
        "int64 decimal predicate did not skip row groups")
      // int32 physical (precision 7): sorted within [0, 90000) twice —
      // equality on one value must not read the whole file
      val one = t.filter($"fee" === new java.math.BigDecimal("123.50"))
      assert(one.count() == 3L)
      assert(scanRows(one.select($"k")) < 100000L,
        "int32 decimal predicate did not skip row groups")
      // boundary soundness + inexact-scale fallback stays exact
      assert(t.filter($"price" === new java.math.BigDecimal("199999.25"))
        .count() == 1L)
      assert(t.filter($"price" === new java.math.BigDecimal("100.255"))
        .count() == 0L)
      assert(t.filter($"price" < new java.math.BigDecimal("0.25"))
        .count() == 0L)
    } finally {
      prev match {
        case Some(v) => hconf.set("parquet.block.size", v)
        case None => hconf.unset("parquet.block.size")
      }
    }
  }
}
