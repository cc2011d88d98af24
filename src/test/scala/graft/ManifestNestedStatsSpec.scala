package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Nested LEAF statistics (round 12 — Iceberg records min/max per nested
  * leaf field): struct leaves of statsCapable type get their own
  * `#stats` entries keyed by dotted position paths (`<physPos>.<i>…`),
  * and the skip evaluator resolves dotted filter references (`m.a`,
  * delivered by Spark's nested predicate pushdown) through the same
  * path, so a selective predicate on a struct member skips whole files.
  * A null struct counts as a null leaf (the value a row filter would
  * see). Strictly conservative like everything else: unresolvable
  * paths, non-orderable leaves, or absent entries simply never skip. */
class ManifestNestedStatsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_nst").toString + "/t"

  /** 8 files, range-disjoint in m.a: file b has m.a in [100b, 100b+100). */
  private def seed(path: String): Unit =
    (0 until 8).foreach { b =>
      spark.range(b * 100L, (b + 1) * 100L).select($"id".as("k"),
          struct($"id".cast("int").as("a"),
            concat(lit("t"), $"id" % 5).as("tag"),
            struct(($"id" % 50).cast("double").as("w")).as("inner")).as("m"))
        .coalesce(1).write.mode("append").format("graft-manifest")
        .option("path", path).save()
    }

  private def scansOf(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def go(p: SparkPlan): Seq[BatchScanExec] = p.collectWithSubqueries {
      case b: BatchScanExec => Seq(b)
      case q: QueryStageExec => go(q.plan)
    }.flatten
    go(finalPlan)
  }

  private def skipped(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    scansOf(df).flatMap(_.metrics.get("filesSkipped")).map(_.value).sum
  }

  test("a range predicate on a struct leaf skips range-disjoint files") {
    val path = tmp()
    seed(path)
    def t = spark.read.format("graft-manifest").option("path", path).load()
    val sel = t.filter($"m.a" >= 600).select($"k")
    assert(sel.count() == 200L)
    assert(skipped(sel) >= 6L,
      s"expected >=6 of 8 files skipped on m.a, got ${skipped(sel)}")
    // equality two levels down (m.inner.w cycles within every file — no
    // skipping possible, but the answer must stay exact)
    assert(t.filter($"m.inner.w" === 13.0).count() == 16L)
    // boundary soundness
    assert(t.filter($"m.a" === 599).count() == 1L)
    assert(t.filter($"m.a" < 0).count() == 0L)
    assert(skipped(t.filter($"m.a" < 0).select($"k")) == 8L)
  }

  test("string leaf bounds truncate like top-level strings; null structs " +
    "count as null leaves") {
    val path = tmp()
    import org.apache.spark.sql.types._
    // two files: one with long-tag rows, one with all-NULL structs
    spark.range(0, 50).select($"id".as("k"),
        struct(concat(lit("a" * 40), $"id").as("tag")).as("m"))
      .coalesce(1).write.mode("append").format("graft-manifest")
      .option("path", path).save()
    spark.range(50, 100).select($"id".as("k"),
        lit(null).cast("struct<tag:string>").as("m"))
      .coalesce(1).write.mode("append").format("graft-manifest")
      .option("path", path).save()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats = ManifestSnapshot.latest(fs, new org.apache.hadoop.fs.Path(path)).stats
    assert(stats.size == 2)
    // long string bounds are truncated (16 cp + increment headroom)
    val bounds = stats.values.flatMap(_.nested.get("1.0")).toSeq
    assert(bounds.nonEmpty, s"nested stats missing: ${stats.values}")
    bounds.flatMap(c => c.min.toSeq ++ c.max.toSeq).foreach(b =>
      assert(b.length <= 20, s"unbounded nested string stat: $b"))
    // the all-null-struct file records 50 nulls on the leaf
    assert(bounds.exists(_.nulls == 50L) || stats.values.exists(st =>
      st.nested.get("1.0").exists(_.nulls == 50L)))
    def t = spark.read.format("graft-manifest").option("path", path).load()
    // IS NOT NULL skips the all-null file; prefix predicate exact
    val nn = t.filter($"m.tag".isNotNull).select($"k")
    assert(nn.count() == 50L)
    assert(skipped(nn) == 1L, "all-null-struct file must skip for IS NOT NULL")
    assert(t.filter($"m.tag".startsWith("a" * 40)).count() == 50L)
    assert(t.filter($"m.tag".startsWith("zzz")).count() == 0L)
  }

  test("metadata-only DELETE aligns on a struct leaf") {
    val root = java.nio.file.Files.createTempDirectory("graft_nstmd").toString
    val cat = "graft_nst_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    seed(s"$root/t")
    def dataFiles(): Set[String] =
      new java.io.File(s"$root/t").listFiles().map(_.getName)
        .filter(_.startsWith("part-")).toSet
    val before = dataFiles()
    spark.sql(s"DELETE FROM $cat.t WHERE m.a < 300")
    assert(dataFiles() == before,
      "a leaf-aligned retention delete must be a pure snapshot edit")
    assert(spark.sql(s"SELECT count(*), min(m.a) FROM $cat.t").head()
      .toSeq == Seq(500L, 300))
  }
}
