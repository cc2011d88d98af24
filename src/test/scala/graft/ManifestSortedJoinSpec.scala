package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Sorted buckets: `option("sortedBy", col)` rides the same DSv2 write
  * seam (`requiredOrdering` — Spark inserts the in-partition sort), the
  * task writer VERIFIES rows streamed non-decreasing before marking the
  * file `#sorted`, and the scan reports `SupportsReportOrdering` when
  * every split reads at most one verified-sorted file. A bucketed+sorted
  * pair then sort-merge-joins with NEITHER exchange NOR sort — the full
  * Hive-bucketed-sorted-table contract on the custom format.
  */
class ManifestSortedJoinSpec extends AnyFunSuite {

  lazy val spark = {
    val s = GraftSession.local(4)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.sorting.enabled", "true")
    s
  }

  private def freshRoot(): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    val cat = "graft_sj_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def planNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] =
      p.collectWithSubqueries {
        case q: QueryStageExec => walk(q.plan)
        case n => Seq(n)
      }.flatten
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case p => walk(p)
    }
  }

  private def writeSorted(root: String, table: String, rows: Int): Unit = {
    import spark.implicits._
    spark.range(rows)
      .select($"id".as("k"), ($"id" % 7).cast("long").as("m"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/$table")
      .option("bucketBy", "k").option("buckets", 8)
      .option("sortedBy", "k").save()
  }

  test("bucketed+sorted tables sort-merge-join with neither exchange " +
    "nor sort") {
    val (cat, root) = freshRoot()
    writeSorted(root, "a", 6000)
    writeSorted(root, "b", 3000)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    try {
      val q = spark.sql(s"""
        SELECT a.k, a.m + b.m AS mm
        FROM $cat.a a JOIN $cat.b b ON a.k = b.k""")
      val nodes = planNodes(q)
      assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"expected no exchange:\n${q.queryExecution.executedPlan}")
      assert(!nodes.exists(_.isInstanceOf[SortExec]),
        s"expected no sort (scan reports ordering):\n${q.queryExecution.executedPlan}")
      val rows = q.collect()
      assert(rows.length == 3000)
      assert(rows.forall(r => r.getLong(1) == 2 * (r.getLong(0) % 7)))
    } finally spark.conf.set(
      "spark.sql.autoBroadcastJoinThreshold", (32L << 20).toString)
  }

  test("#sorted marks are VERIFIED: files written sorted carry the mark; " +
    "a second bucketed append (two files per bucket) stops the ordering " +
    "report but keeps SPJ") {
    val (cat, root) = freshRoot()
    writeSorted(root, "t", 2000)
    val dir = new org.apache.hadoop.fs.Path(s"$root/t")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sorted1 = ManifestSnapshot.latest(fs, dir).sorted
    val entries1 = ManifestFiles.entries(fs, dir, None).map(_._1)
    assert(entries1.nonEmpty && entries1.forall(sorted1.contains),
      "every first-commit file must be verified sorted")
    assert(sorted1.values.forall(_._1 == 0))

    writeSorted(root, "t", 2000) // 2 sorted files per bucket now
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.sql(
        s"SELECT a.k, COUNT(*) AS n FROM $cat.t a JOIN $cat.t b ON a.k = b.k GROUP BY a.k")
      val nodes = planNodes(q)
      // still zero exchanges (bucket layout stacks) …
      assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]))
      // … but a sort IS required again: concatenated sorted files are
      // not sorted, so the scan must not report ordering
      assert(nodes.exists(_.isInstanceOf[SortExec]),
        "two files per bucket must re-introduce the sort")
      assert(q.collect().map(_.getLong(1)).sum == 2000L * 4)
    } finally spark.conf.set(
      "spark.sql.autoBroadcastJoinThreshold", (32L << 20).toString)
  }

  test("an unsorted write never earns the mark (verification, not trust)") {
    import spark.implicits._
    val (_, root) = freshRoot()
    // bucketed but NOT sortedBy — no ordering demanded, rows arrive in
    // range order per partition though… write descending to be sure the
    // data itself is unsorted, then check: no sortedBy option ⇒ no marks
    spark.range(1000)
      .select((lit(1000L) - $"id").as("k"), lit(0L).as("m"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/u")
      .option("bucketBy", "k").option("buckets", 4).save()
    val dir = new org.apache.hadoop.fs.Path(s"$root/u")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(ManifestSnapshot.latest(fs, dir).sorted.isEmpty)
  }
}
