package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** TYPE WIDENING on ALTER COLUMN (round 13 — Iceberg's safe
  * promotions): INT→BIGINT, FLOAT→DOUBLE, DECIMAL precision-up are
  * METADATA-ONLY. Positional storage makes the change read-side: old
  * files decode at their stored narrow type and upcast (Spark 4's
  * parquet converters).
  * Stats skipping survives integral/decimal promotions exactly;
  * float→double bounds are text-inexact and suppressed until a rewrite
  * clears the marker. Narrowing refuses with a pointer. At 100 TB this
  * is the difference between "the id column outgrew INT" being one
  * metadata commit and a full-table rewrite. */
class ManifestWidenSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_wide_$tag").toString
    val cat = s"graft_wide_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def metric(df: DataFrame, name: String): Long = {
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def scansOf(p: SparkPlan): Seq[BatchScanExec] =
      p.collectWithSubqueries {
        case b: BatchScanExec => Seq(b)
        case q: QueryStageExec => scansOf(q.plan)
      }.flatten
    scansOf(finalPlan).flatMap(_.metrics.get(name)).map(_.value).sum
  }

  test("INT→BIGINT: pre-widen parquet files read upcast through BOTH " +
    "reader paths; stats skipping stays sound AND effective; appends " +
    "and COW ops run green post-widen") {
    val (cat, root) = freshCat("il")
    spark.sql(s"CREATE TABLE $cat.t (k INT, v STRING)")
    // pre-widen files with DISJOINT k ranges (range-partitioned)
    spark.range(0, 3000).select($"id".cast("int").as("k"),
        concat(lit("v"), $"id").as("v"))
      .repartitionByRange(3, $"k").writeTo(s"$cat.t").append()
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN k TYPE BIGINT")
    val t0 = spark.table(s"$cat.t")
    assert(t0.schema("k").dataType.sql == "BIGINT")
    // row path (forced by columnar=false) and columnar path agree
    val row = spark.read.format("graft-manifest").option("path", s"$root/t")
      .option("columnar", "false").load()
      .agg(sum($"k"), count(lit(1))).collect()(0)
    assert(row.getLong(1) == 3000L && row.getLong(0) == (0L until 3000L).sum)
    val colr = spark.read.format("graft-manifest").option("path", s"$root/t")
      .option("columnar", "true").load()
      .agg(sum($"k"), count(lit(1))).collect()(0)
    assert(colr.getLong(0) == row.getLong(0))
    // integral promotion keeps skipping: old stats decode exactly long
    val q = spark.table(s"$cat.t").filter($"k" >= 2500L).agg(count(lit(1)))
    assert(q.collect()(0).getLong(0) == 500L)
    assert(metric(q, "filesSkipped") >= 2L,
      s"skipped ${metric(q, "filesSkipped")} — int→long stats must survive")
    // values beyond INT range land after the widen
    spark.sql(s"INSERT INTO $cat.t VALUES (${Long.MaxValue - 1}, 'big')")
    assert(spark.table(s"$cat.t").agg(max($"k")).head().getLong(0)
      == Long.MaxValue - 1)
    // COW row-level ops on the widened table
    spark.sql(s"UPDATE $cat.t SET v = 'patched' WHERE k = 7")
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 2999 AND k < 3000")
    val after = spark.table(s"$cat.t")
    assert(after.filter($"k" === 7L).head().getString(1) == "patched")
    assert(after.count() == 3000L) // 3000 + 1 - 1
    // time travel still reads the pre-widen image with the OLD schema
    assert(spark.read.format("graft-manifest").option("path", s"$root/t")
      .option("versionAsOf", "2").load().schema("k").dataType.sql == "INT")
  }

  test("FLOAT→DOUBLE reads upcast; stats skipping on the widened column " +
    "is suppressed (no false skips from text-inexact float bounds) " +
    "until a truncating rewrite clears the marker") {
    val (cat, root) = freshCat("fd")
    spark.sql(s"CREATE TABLE $cat.m (x FLOAT, g BIGINT)")
    spark.range(0, 1000).select(($"id".cast("float") / 10.0f).as("x"),
        $"id".as("g"))
      .repartitionByRange(2, $"g").writeTo(s"$cat.m").append()
    spark.sql(s"ALTER TABLE $cat.m ALTER COLUMN x TYPE DOUBLE")
    val t = spark.table(s"$cat.m")
    assert(t.schema("x").dataType.sql == "DOUBLE")
    assert(t.count() == 1000L)
    // the poster-child hazard: 0.1f upcast is 0.10000000149... — a
    // double predicate strictly above the TEXT bound "0.1" must still
    // find the row, so the widened column's stats must not skip
    val v = t.filter($"x" > 0.100000001d && $"x" < 0.2d).count()
    assert(v == 1L, s"row with x=0.1f upcast lost: got $v")
    val q = t.filter($"x" > lit(1e9d)).agg(count(lit(1)))
    assert(q.collect()(0).getLong(0) == 0L)
    assert(metric(q, "filesSkipped") == 0L,
      "float→double bounds are unsound — the scan must READ, not skip")
    // compact rewrites at double and restores skipping
    spark.sql(s"CALL $cat.system.compact('m', 2, 'g')")
    val dir = new Path(root, "m")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(ManifestSnapshot.latest(fs, dir).widened.isEmpty,
      "truncating rewrite must clear the widened marker")
    val q2 = spark.table(s"$cat.m").filter($"x" > lit(1e9d)).agg(count(lit(1)))
    assert(q2.collect()(0).getLong(0) == 0L)
    assert(metric(q2, "filesSkipped") >= 1L, "post-rewrite stats skip again")
  }

  test("metadata-only DELETE and runtime key pruning honor the float " +
    "widening suppression: a predicate over drifted text bounds must " +
    "rewrite (evaluating real rows), never drop files from stats") {
    val (cat, root) = freshCat("md")
    spark.sql(s"CREATE TABLE $cat.m (x FLOAT, g BIGINT)")
    // one file whose max stat records the TEXT "0.3" while its rows
    // upcast to 0.30000001192… — the poster-child drift
    spark.range(0, 50).select(
        (lit(0.3f) - $"id".cast("float") / 1000f).as("x"), $"id".as("g"))
      .coalesce(1).writeTo(s"$cat.m").append()
    spark.sql(s"ALTER TABLE $cat.m ALTER COLUMN x TYPE DOUBLE")
    val before = spark.table(s"$cat.m").count()
    // x <= 0.3d: the recorded bound "0.3" would PROVE all-match, but the
    // x=0.3f row upcasts above 0.3d and must SURVIVE this delete
    spark.sql(s"DELETE FROM $cat.m WHERE x <= 0.3")
    val t = spark.table(s"$cat.m")
    assert(t.count() == 1L && before == 50L,
      s"expected exactly the 0.3f row to survive, got ${t.count()}")
    assert(t.head().getDouble(0) > 0.3d)
    // and the file was REWRITTEN (COW), not metadata-dropped: the
    // surviving row lives in a fresh file
    val dir = new Path(root, "m")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(ManifestFiles.entries(fs, dir, None).length == 1)
  }

  test("DECIMAL precision-up widens too; narrowing and cross-family " +
    "changes refuse with pointers") {
    val (cat, root) = freshCat("dc")
    spark.sql(s"CREATE TABLE $cat.d (amt DECIMAL(9,2), k INT)")
    spark.range(0, 500).select(($"id".cast("decimal(9,2)") / 4).as("amt"),
        $"id".cast("int").as("k"))
      .writeTo(s"$cat.d").append()
    val total0 = spark.table(s"$cat.d").agg(sum($"amt")).head().getDecimal(0)
    spark.sql(s"ALTER TABLE $cat.d ALTER COLUMN amt TYPE DECIMAL(20,2)")
    spark.sql(s"ALTER TABLE $cat.d ALTER COLUMN k TYPE BIGINT")
    val t = spark.table(s"$cat.d")
    assert(t.schema("amt").dataType.sql == "DECIMAL(20,2)")
    assert(t.agg(sum($"amt")).head().getDecimal(0)
      .compareTo(total0) == 0, "pre-widen decimals must re-decode exact")
    // a value needing the wider precision lands fine
    spark.sql(s"INSERT INTO $cat.d VALUES (123456789012345678.99, 1)")
    assert(t.filter($"amt" > lit("1e17").cast("decimal(20,2)")).count() == 1L)
    // refusals are loud at every layer: Spark's analyzer rejects
    // narrowing before the catalog is consulted (Cast.canUpCast)…
    val narrow = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.d ALTER COLUMN k TYPE INT")
    }
    assert(narrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      narrow.getMessage)
    // …and the catalog's own guard carries the promotion menu for the
    // up-castable-but-not-metadata-safe shapes below
    val family = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.d ALTER COLUMN amt TYPE STRING")
    }
    assert(family.getMessage.contains("WIDENING"), family.getMessage)
    val scale = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.d ALTER COLUMN amt TYPE DECIMAL(22,4)")
    }
    assert(scale.getMessage.contains("WIDENING"), scale.getMessage)
  }

  test("merge-on-read composes: positional vectors and equality deletes " +
    "keep applying across a widen (keys re-decode under the new type)") {
    val (cat, root) = freshCat("mor")
    spark.sql(s"CREATE TABLE $cat.s (k INT, v STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    spark.range(0, 200).select($"id".cast("int").as("k"),
        concat(lit("a"), $"id").as("v")).writeTo(s"$cat.s").append()
    spark.sql(s"DELETE FROM $cat.s WHERE k % 10 = 3")           // vectors
    // pre-widen upsert: equality-delete tuples recorded as INT text
    spark.range(0, 20).select($"id".cast("int").as("k"),
        concat(lit("b"), $"id").as("v")).coalesce(1)
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/s").option("upsertKeys", "k").save()
    spark.sql(s"ALTER TABLE $cat.s ALTER COLUMN k TYPE BIGINT")
    val t = spark.table(s"$cat.s")
    // vectors still hide k%10=3 rows above 19; upsert rows won for 0..19
    assert(t.filter($"k" >= 20L && $"k" % 10 === 3L).count() == 0L)
    assert(t.filter($"k" < 20L && !$"v".startsWith("b")).count() == 0L)
    // post-widen upsert stacks on the same (now BIGINT) key
    spark.range(5, 10).select($"id".as("k"), lit("c").as("v")).coalesce(1)
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/s").option("upsertKeys", "k").save()
    assert(spark.table(s"$cat.s")
      .filter($"k" >= 5L && $"k" < 10L && $"v" =!= "c").count() == 0L)
  }
}
