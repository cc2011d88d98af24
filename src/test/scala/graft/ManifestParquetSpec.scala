package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Parquet data layer of the manifest format: the read path is Spark's
  * own VectorizedParquetRecordReader (real columnar I/O — pruned columns
  * are never fetched), and the row path must agree with it bit for bit.
  */
class ManifestParquetSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_pq").toString + "/t"

  private def dataFiles(path: String): Seq[String] =
    new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSeq

  test("row path ≡ columnar path on parquet payload, bit for bit " +
    "(nulls, all primitive types, _file)") {
    import spark.implicits._
    val path = tmp()
    val df = spark.range(0, 4000).select(
      $"id".as("k"),
      when($"id" % 3 === 0, $"id" * 2).as("l"),
      when($"id" % 5 =!= 0, ($"id" / 7.0)).as("d"),
      when($"id" % 2 === 0, $"id".cast("int")).as("i"),
      when($"id" % 7 =!= 0, concat(lit("s"), $"id")).as("s"),
      ($"id" % 2 === 0).as("b"),
      $"id".cast("float").as("f"),
      $"id".cast("short").as("sh"),
      $"id".cast("byte").as("by"))
    df.repartition(3).write.mode("append").format("graft-manifest")
      .option("path", path).save()
    assert(dataFiles(path).forall(_.endsWith(".parquet")))
    def read(columnar: Boolean) = spark.read.format("graft-manifest")
      .option("path", path).option("columnar", columnar).load()
      .select($"k", $"l", $"d", $"i", $"s", $"b", $"f", $"sh", $"by",
        col("_file"))
    val rows = read(columnar = false).collect().sortBy(_.getLong(0))
    val cols = read(columnar = true).collect().sortBy(_.getLong(0))
    assert(rows.length == 4000 && rows.toSeq == cols.toSeq)
    // sanity: the default (no option) equals both
    val auto = spark.read.format("graft-manifest").option("path", path).load()
      .select($"k", $"l", $"d", $"i", $"s", $"b", $"f", $"sh", $"by",
        col("_file"))
      .collect().sortBy(_.getLong(0))
    assert(auto.toSeq == rows.toSeq)
  }

  test("parquet scans auto-batch; plan shows one ColumnarToRow over the " +
    "v2 scan") {
    import spark.implicits._
    val path = tmp()
    spark.range(0, 1000).select($"id".as("k"), ($"id" % 9).as("m"))
      .write.mode("append").format("graft-manifest").option("path", path).save()
    val t = spark.read.format("graft-manifest").option("path", path).load()
      .filter($"m" === 3).select($"k")
    val plan = t.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    assert(t.count() == (0 until 1000).count(_ % 9 == 3))
  }

  test("schema evolution on parquet files: ADD COLUMN null-fills old " +
    "files, RENAME is metadata-only (positional storage names)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pqevo").toString
    val cat = "graft_pqe_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.range(0, 10).select($"id".as("k"), ($"id" * 10).as("v"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN extra BIGINT")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO val")
    // post-evolution append carries all three columns
    spark.sql(s"INSERT INTO $cat.t VALUES (100, 1000, 7)")
    val got = spark.sql(
        s"SELECT k, val, extra FROM $cat.t ORDER BY k").collect().toSeq
    val expect = (0L until 10L).map(i => Row(i, i * 10, null)) :+
      Row(100L, 1000L, 7L)
    assert(got == expect)
    // pre-evolution files still skip on the renamed column's stats
    val pruned = spark.sql(s"SELECT k FROM $cat.t WHERE val = 1000")
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(100L))
  }

  test("stats skipping prunes parquet files at plan time: a range " +
    "predicate over 8 range-disjoint files plans 2") {
    import spark.implicits._
    val path = tmp()
    (0 until 8).foreach { b =>
      spark.range(b * 100L, (b + 1) * 100L).select($"id".as("k"))
        .coalesce(1).write.mode("append").format("graft-manifest")
        .option("path", path).save()
    }
    assert(dataFiles(path).count(_.endsWith(".parquet")) == 8)
    // observe planning through the scan's onPlanned seam: read twice,
    // once unfiltered (8 files) and once filtered (2 files)
    val all = spark.read.format("graft-manifest").option("path", path).load()
    assert(all.count() == 800L)
    val t = spark.read.format("graft-manifest").option("path", path).load()
      .filter($"k" >= 250 && $"k" < 350)
    assert(t.count() == 100L)
    val scans = t.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.inputRDD.getNumPartitions == 2,
      s"expected 2 surviving parquet files, planned " +
        s"${scans.head.inputRDD.getNumPartitions}")
  }

  test("row-group pushdown: a selective predicate reads fewer rows than " +
    "the file holds; a predicate on a post-evolution column falls back " +
    "cleanly on pre-evolution files") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val hconf = spark.sparkContext.hadoopConfiguration
    val prev = Option(hconf.get("parquet.block.size"))
    hconf.setLong("parquet.block.size", 64 * 1024) // force many row groups
    try {
      val path = tmp()
      spark.range(0, 200000).select($"id".as("k"), ($"id" % 97).as("m"))
        .sort($"k").coalesce(1)
        .write.mode("append").format("graft-manifest").option("path", path).save()
      assert(dataFiles(path).count(_.endsWith(".parquet")) == 1)
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
      val sel = t.filter($"k" >= 190000L)
      assert(sel.count() == 10000L)
      val produced = scanRows(sel.select($"k"))
      // without row-group skipping the single surviving FILE yields all
      // 200k rows to the residual filter; with it, only the tail groups
      assert(produced < 100000L,
        s"scan produced $produced rows — row groups not skipped")
      assert(produced >= 10000L)
      // soundness at the boundary
      assert(t.filter($"k" === 189999L).count() == 1L)
      assert(t.filter($"k" < 0L).count() == 0L)

      // post-evolution column over pre-evolution files: the parquet
      // predicate references a missing column — the reader retries
      // unfiltered and Spark's residual filter does the work
      val root = java.nio.file.Files.createTempDirectory("graft_pqrg").toString
      val cat = "graft_rg_" + math.abs(root.hashCode).toString
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      spark.range(0, 100).select($"id".as("k"))
        .write.mode("append").format("graft-manifest")
        .option("path", s"$root/t").save()
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMN tag STRING")
      spark.sql(s"INSERT INTO $cat.t VALUES (500, 'hit')")
      assert(spark.sql(s"SELECT k FROM $cat.t WHERE tag = 'hit'")
        .collect().map(_.getLong(0)).toSeq == Seq(500L))
      assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE tag IS NULL")
        .head().getLong(0) == 100L)
    } finally {
      prev match {
        case Some(v) => hconf.set("parquet.block.size", v)
        case None => hconf.unset("parquet.block.size")
      }
    }
  }

  test("empty projection (count(*)) over parquet payload") {
    import spark.implicits._
    val path = tmp()
    spark.range(0, 777).select($"id".as("k"))
      .write.mode("append").format("graft-manifest").option("path", path).save()
    val t = spark.read.format("graft-manifest").option("path", path).load()
    assert(t.count() == 777L)
  }
}
