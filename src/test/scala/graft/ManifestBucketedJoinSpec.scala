package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Bucketed manifest tables → storage-partitioned join on the REAL table
  * format: `option("bucketBy", col).option("buckets", n)` writes through
  * DSv2's `RequiresDistributionAndOrdering` (Spark inserts the
  * hash-repartition; each task file is one bucket, recorded as a
  * `#bucket` manifest line), the scan plans one `HasPartitionKey` split
  * per bucket and reports `KeyGroupedPartitioning(bucket(n, col))`, and
  * the catalog's V2 `bucket` function makes the transform resolvable.
  * Two such tables joined on their bucket columns exchange NOTHING.
  */
class ManifestBucketedJoinSpec extends AnyFunSuite {

  lazy val spark = {
    val s = GraftSession.local(4)
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s
  }

  private def freshRoot(): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    val cat = "graft_bj_" + math.abs(root.hashCode).toString
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

  private def writeBucketed(root: String, table: String, rows: Int,
      key: String, buckets: Int): Unit = {
    import spark.implicits._
    spark.range(rows)
      .select($"id".as(key), ($"id" % 7).cast("long").as("m"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/$table")
      .option("bucketBy", key).option("buckets", buckets).save()
  }

  test("two bucketed manifest tables join on the bucket key with zero " +
    "shuffles; result matches the shuffled plan") {
    val (cat, root) = freshRoot()
    writeBucketed(root, "fact", 10000, "k", 8)
    writeBucketed(root, "dim", 2000, "k", 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = spark.sql(s"""
        SELECT f.k, COUNT(*) AS n, SUM(f.m + d.m) AS s
        FROM $cat.fact f JOIN $cat.dim d ON f.k = d.k
        GROUP BY f.k""")
      assert(shuffles(q) == 0,
        s"expected SPJ, plan:\n${q.queryExecution.executedPlan}")
      val rows = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.length == 2000)
      assert(rows.forall { case (k, n, s) => n == 1 && s == 2 * (k % 7) })
    } finally spark.conf.set(
      "spark.sql.autoBroadcastJoinThreshold", (32L << 20).toString)
  }

  test("bucketed appends stack (same layout keeps SPJ); a non-bucketed " +
    "append degrades to a normal scan, never a wrong one") {
    import spark.implicits._
    val (cat, root) = freshRoot()
    writeBucketed(root, "t", 1000, "k", 4)
    writeBucketed(root, "t", 1000, "k", 4) // second bucketed commit
    def scan() = spark.sql(s"SELECT k, m FROM $cat.t")
    assert(scan().count() == 2000)
    // layout intact: join with itself → SPJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // per-key aggregate: everything clusters on k, so zero exchanges
      // (a GLOBAL count would legitimately add its single-partition one)
      val self = spark.sql(
        s"SELECT a.k, COUNT(*) AS n FROM $cat.t a JOIN $cat.t b ON a.k = b.k GROUP BY a.k")
      assert(shuffles(self) == 0)
      assert(self.collect().map(_.getLong(1)).sum == 4000) // 2×2 per k

      // an unbucketed append breaks the invariant → scan keeps working,
      // partitioning just isn't reported any more (exchange returns)
      spark.range(5).select($"id".as("k"), lit(0L).as("m"))
        .write.mode("append").format("graft-manifest")
        .option("path", s"$root/t").save()
      val after = spark.sql(
        s"SELECT a.k, COUNT(*) AS n FROM $cat.t a JOIN $cat.t b ON a.k = b.k GROUP BY a.k")
      assert(shuffles(after) > 0, "mixed layout must not claim SPJ")
      // 5 keys now have 3 copies (9 pairs), the rest 2 copies (4 pairs)
      assert(after.collect().map(_.getLong(1)).sum == 995L * 4 + 5L * 9)
    } finally spark.conf.set(
      "spark.sql.autoBroadcastJoinThreshold", (32L << 20).toString)
  }

  test("one-side storage-partitioned shuffle: an unbucketed side is " +
    "re-bucketed through the catalog's V2 function instead of " +
    "exchanging both sides") {
    import spark.implicits._
    val (cat, root) = freshRoot()
    writeBucketed(root, "big", 8000, "k", 8)
    spark.range(300).select($"id".as("k"), lit(1L).as("w"))
      .createOrReplaceTempView("unbucketed_side")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    try {
      val q = spark.sql(s"""
        SELECT b.k, COUNT(*) AS n
        FROM $cat.big b JOIN unbucketed_side u ON b.k = u.k
        GROUP BY b.k""")
      // exactly ONE exchange: the unbucketed side lands on the bucketed
      // layout via GraftBucketFunction — Spark EVALUATES the V2 function
      // here, so a produceResult drifting from the write layout would
      // lose join matches, not just performance
      assert(shuffles(q) == 1,
        s"expected one-side shuffle, plan:\n${q.queryExecution.executedPlan}")
      val rows = q.collect()
      assert(rows.length == 300)
      assert(rows.forall(_.getLong(1) == 1L))
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (32L << 20).toString)
    }
  }

  test("recorded bucket ids equal pmod(murmur3(k), n) — the catalog's V2 " +
    "bucket function replays the layout") {
    val (cat, root) = freshRoot()
    writeBucketed(root, "chk", 500, "k", 4)
    val dir = new org.apache.hadoop.fs.Path(s"$root/chk")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = ManifestSnapshot.latest(fs, dir).buckets
    assert(buckets.nonEmpty)
    assert(buckets.values.forall { case (pos, n, id) =>
      pos == 0 && n == 4 && id >= 0 && id < 4 })
    // replay every row through the bound V2 function: the row must be in
    // the bucket its file recorded
    val f = GraftBucketFunction.bind(new org.apache.spark.sql.types.StructType()
      .add("n", org.apache.spark.sql.types.IntegerType)
      .add("v", org.apache.spark.sql.types.LongType))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions.ScalarFunction[Integer]]
    val rowsByFile = spark.read.format("graft-manifest")
      .option("path", dir.toString).load()
      .selectExpr("k", "_file").collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)))
    rowsByFile.foreach { case (file, ks) =>
      val (_, n, id) = buckets(file)
      ks.foreach { k =>
        val got = f.produceResult(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](n, k)))
        assert(got == id, s"k=$k in $file: function says $got, file says $id")
      }
    }
  }
}
