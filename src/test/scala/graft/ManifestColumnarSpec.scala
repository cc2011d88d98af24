package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Vectorized manifest reads (`option("columnar", true)` →
  * `supportColumnarReads` → the parquet reader's 4096-row batches): same
  * rows as the row path bit for bit — including NULLs, `_file`, and
  * post-evolution null-fill — through ONE codegen'd `ColumnarToRow`
  * transition, with pruning, stats skipping, and the scan metrics
  * unchanged. Bucketed snapshots ignore the option (bucket splits
  * concatenate files; the reader kind must be uniform).
  */
class ManifestColumnarSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_colr").toString + "/t"

  private def scans(df: DataFrame): Seq[BatchScanExec] = {
    df.collect()
    def walk(p: SparkPlan): Seq[BatchScanExec] =
      p.collectWithSubqueries {
        case b: BatchScanExec => Seq(b)
        case q: QueryStageExec => walk(q.plan)
      }.flatten
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case p => walk(p)
    }
  }

  test("columnar scan returns the row path's rows exactly (nulls, _file, " +
    "all primitive types) and actually reads batches") {
    import spark.implicits._
    val path = tmp()
    spark.range(10000).select(
        $"id".as("k"),
        when($"id" % 3 === 0, $"id".cast("double")).as("d"),
        when($"id" % 5 === 0, concat(lit("s"), $"id")).as("s"),
        ($"id" % 2 === 0).as("b"))
      .repartition(3)
      .write.mode("append").format("graft-manifest").option("path", path)
      .save()
    def read(columnar: Boolean) =
      spark.read.format("graft-manifest").option("path", path)
        .option("columnar", columnar).load()
        .selectExpr("k", "d", "s", "b", "_file")
    val viaCol = read(true).orderBy($"k").collect().toSeq
    val viaRow = read(false).orderBy($"k").collect().toSeq
    assert(viaCol == viaRow)
    val sc = scans(read(true).filter($"k" >= 0).groupBy($"b").count())
    assert(sc.nonEmpty && sc.forall(_.supportsColumnar),
      "scan should report columnar")
  }

  test("pruning and stats skipping are unchanged in columnar mode") {
    import spark.implicits._
    val path = tmp()
    spark.range(100000).select($"id".as("key"), ($"id" % 7).as("m"))
      .repartitionByRange(8, $"key")
      .write.mode("append").format("graft-manifest").option("path", path)
      .save()
    val q = spark.read.format("graft-manifest").option("path", path)
      .option("columnar", true).load()
      .filter($"key" >= 90000L)
      .agg(count(lit(1)), sum($"key"))
    val row = q.collect()(0)
    assert(row.getLong(0) == 10000L)
    assert(row.getLong(1) == (90000L to 99999L).sum)
    val m = scans(q).flatMap(_.metrics.get("filesSkipped")).map(_.value).sum
    assert(m >= 6L, s"columnar mode lost skipping: $m")
  }

  test("a bucketed snapshot ignores the columnar option and keeps its " +
    "key-grouped row reads") {
    import spark.implicits._
    val path = tmp()
    spark.range(1000).select($"id".as("k"), ($"id" % 7).as("m"))
      .write.mode("append").format("graft-manifest").option("path", path)
      .option("bucketBy", "k").option("buckets", 4).save()
    val df = spark.read.format("graft-manifest").option("path", path)
      .option("columnar", true).load()
    assert(df.count() == 1000L)
    // bucket column in the output → layout reported → bucket splits →
    // row reader (a projection that prunes k away has plain file splits
    // and may batch — that scan has no layout to protect)
    val grouped = df.groupBy($"k").agg(sum($"m"))
    val sc = scans(grouped)
    assert(sc.nonEmpty && sc.forall(!_.supportsColumnar),
      "bucket splits must stay on the row reader")
    assert(grouped.collect().length == 1000)
  }
}
