package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** COLUMN DEFAULT VALUES (round 12 — `ALTER TABLE ADD COLUMN x T
  * DEFAULT <lit>`): the frozen literal's SQL text rides Spark's own
  * CURRENT_DEFAULT / EXISTS_DEFAULT metadata keys in the published
  * schema. Files written BEFORE the column existed surface the default
  * (a per-file footer probe finds the column missing);
  * rows written after — including explicit NULLs — are untouched; and
  * INSERTs that omit the column (or say DEFAULT) resolve through
  * Spark's own analysis because the catalog declares
  * SUPPORT_COLUMN_DEFAULT_VALUE. */
class ManifestDefaultsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_def_$tag").toString
    val cat = s"graft_def_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("pre-evolution parquet files surface the default; explicit " +
    "NULLs after the add stay NULL; INSERT resolves omitted columns") {
    val (cat, root) = freshCat("pq")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 40).select($"id".as("k")).writeTo(s"$cat.t").append()
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN score DOUBLE DEFAULT 1.5")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN tag STRING DEFAULT 'base'")
    // post-add rows: a value, an explicit NULL, and a DEFAULT keyword
    spark.sql(s"INSERT INTO $cat.t VALUES (100, 9.0, 'x')")
    spark.sql(s"INSERT INTO $cat.t VALUES (101, NULL, NULL)")
    spark.sql(s"INSERT INTO $cat.t VALUES (102, DEFAULT, DEFAULT)")
    spark.sql(s"INSERT INTO $cat.t (k) VALUES (103)") // omitted → default
    val t = spark.table(s"$cat.t")
    // 40 old rows + the DEFAULT/omitted ones carry 1.5/'base'
    assert(t.filter($"score" === 1.5 && $"tag" === "base").count() == 42L)
    assert(t.filter($"k" === 101L && $"score".isNull && $"tag".isNull)
      .count() == 1L)
    assert(t.filter($"k" === 100L && $"score" === 9.0).count() == 1L)
    // aggregates see the defaults (old files never wrote the column)
    assert(t.agg(sum($"score")).head().getDouble(0)
      == 40 * 1.5 + 9.0 + 1.5 + 1.5)
    // a forced-columnar read degrades to rows and stays correct
    assert(spark.read.format("graft-manifest").option("path", s"$root/t")
      .option("columnar", "true").load()
      .filter($"tag" === "base").count() == 42L)
    // the change feed surfaces old rows with the default too
    val feed = spark.read.format("graft-manifest").option("path", s"$root/t")
      .option("changeFeed", "true").load()
    assert(feed.filter($"_commit_version" === 2 && $"score" === 1.5)
      .count() == 40L)
  }

  test("typed defaults (date) cast exactly for pre-evolution rows and " +
    "survive a COW rewrite") {
    val (cat, _) = freshCat("date")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 20).select($"id".as("k")).writeTo(s"$cat.t").append()
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN d DATE " +
      "DEFAULT DATE'2024-03-01'")
    spark.sql(s"INSERT INTO $cat.t VALUES (50, DATE'2025-01-01')")
    val t = spark.table(s"$cat.t")
    assert(t.filter($"d" === java.sql.Date.valueOf("2024-03-01"))
      .count() == 20L)
    assert(t.filter($"k" === 50L).head().getDate(1)
      == java.sql.Date.valueOf("2025-01-01"))
    // a COW rewrite materializes the default physically and keeps it
    spark.sql(s"UPDATE $cat.t SET k = k + 1000 WHERE k < 5")
    assert(spark.table(s"$cat.t")
      .filter($"d" === java.sql.Date.valueOf("2024-03-01")).count() == 20L)
  }

  test("non-constant defaults refuse at declaration; defaults survive " +
    "RENAME of the defaulted column") {
    val (cat, _) = freshCat("guard")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 5).select($"id".as("k")).writeTo(s"$cat.t").append()
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t ADD COLUMN r DOUBLE DEFAULT rand()")
    }
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN v BIGINT DEFAULT 7")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO w")
    assert(spark.table(s"$cat.t").filter($"w" === 7L).count() == 5L)
  }
}
