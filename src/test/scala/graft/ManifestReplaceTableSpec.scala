package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Atomic CTAS / RTAS through the `StagingTableCatalog` seam: `CREATE
  * OR REPLACE TABLE … AS SELECT` swaps a manifest table's contents,
  * schema, and declared properties in ONE truncating commit — old
  * readers keep their version-pinned snapshots, a failed query leaves
  * the table byte-identical, and Spark's non-atomic drop-then-create
  * fallback never runs. Plain CTAS stages by create-then-drop-on-abort.
  */
class ManifestReplaceTableSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def withCatalog(body: (String, String) => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_rtas").toString
    val cat = "graft_rt_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    body(cat, root)
  }

  test("CREATE OR REPLACE TABLE AS SELECT atomically swaps contents, " +
    "schema, and declared properties; history keeps the pre-image") {
    withCatalog { (cat, root) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
        "TBLPROPERTIES('check.pos'='k >= 0')")
      spark.range(10).select($"id".as("k"),
        concat(lit("old-"), $"id").as("v")).writeTo(s"$cat.t").append()

      spark.sql(s"CREATE OR REPLACE TABLE $cat.t " +
        "TBLPROPERTIES('write.sort-order'='a') AS " +
        "SELECT CAST(id * 2 AS BIGINT) AS a, CAST(id AS DOUBLE) AS b " +
        "FROM range(5)")

      val t = spark.table(s"$cat.t")
      assert(t.columns.toSeq == Seq("a", "b"))
      assert(t.count() == 5L)
      assert(t.agg(sum($"a")).head().getLong(0) == 20L)
      // the OLD check constraint is gone, the NEW sort order declared
      val props = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(!props.contains("check.pos"), props.toString)
      assert(props.get("write.sort-order").contains("a"))
      // future inserts follow the replacement DDL (verified sort marks)
      spark.range(50).select(($"id" * 7 % 50).as("a"),
        $"id".cast("double").as("b")).coalesce(1)
        .writeTo(s"$cat.t").append()
      val dir = new Path(root, "t")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      assert(ManifestSnapshot.latest(fs, dir).sorted.nonEmpty)
      // time travel still reads the pre-replace image with ITS schema
      val old = spark.read.format("graft-manifest")
        .option("path", dir.toString).option("versionAsOf", "2").load()
      assert(old.columns.toSeq == Seq("k", "v") && old.count() == 10L)
    }
  }

  test("a failed RTAS query leaves the table byte-identical (abort " +
    "publishes nothing); REPLACE of a missing table refuses") {
    withCatalog { (cat, root) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
      spark.range(7).select($"id".as("k")).writeTo(s"$cat.t").append()
      val before = spark.table(s"$cat.t").collect().toSet
      val dir = new Path(root, "t")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val vBefore = ManifestFiles.latestVersion(fs, dir)

      intercept[Exception](spark.sql(
        s"CREATE OR REPLACE TABLE $cat.t AS " +
          "SELECT assert_true(id < 5, 'boom') AS x, id AS k FROM range(10)"))
      assert(ManifestFiles.latestVersion(fs, dir) == vBefore,
        "a failed replace must publish NOTHING")
      assert(spark.table(s"$cat.t").collect().toSet == before)

      val e = intercept[Exception](spark.sql(
        s"REPLACE TABLE $cat.nope AS SELECT 1 AS x"))
      assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
    }
  }

  test("self-referencing replace: REPLACE TABLE t AS SELECT … FROM t " +
    "reads the pre-image (snapshot isolation across the swap)") {
    withCatalog { (cat, root) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")
      spark.range(100).select($"id".as("k"),
        concat(lit("r"), $"id").as("v")).writeTo(s"$cat.t").append()
      spark.sql(s"CREATE OR REPLACE TABLE $cat.t AS " +
        s"SELECT k, v FROM $cat.t WHERE k % 2 = 0")
      assert(spark.table(s"$cat.t").count() == 50L)
      assert(spark.table(s"$cat.t").filter($"k" % 2 =!= 0).count() == 0L)
    }
  }

  test("plain REPLACE TABLE (no AS) publishes the empty replacement; " +
    "atomic CTAS creates, and drops on abort") {
    withCatalog { (cat, root) =>
      import spark.implicits._
      spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
      spark.range(3).select($"id".as("k")).writeTo(s"$cat.t").append()
      spark.sql(s"REPLACE TABLE $cat.t (a STRING, b BIGINT)")
      val t = spark.table(s"$cat.t")
      assert(t.columns.toSeq == Seq("a", "b") && t.count() == 0L)

      // atomic CTAS: a failing query must leave NO table behind
      intercept[Exception](spark.sql(
        s"CREATE TABLE $cat.fresh AS " +
          "SELECT assert_true(id < 5, 'boom') AS x FROM range(10)"))
      val e = intercept[Exception](spark.table(s"$cat.fresh").collect())
      assert(e.getMessage.contains("fresh"), e.getMessage)
      // and a succeeding one lands
      spark.sql(s"CREATE TABLE $cat.fresh AS SELECT id AS k FROM range(4)")
      assert(spark.table(s"$cat.fresh").count() == 4L)

      // staged CTAS defers visibility to its own version-1 claim; the
      // claim closure re-verifies the table is still FRESH. Simulate the
      // concurrent-CREATE race: a committer publishing v1 between the
      // stageCreate existence check and the data write's commit must
      // abort loudly instead of appending to someone else's table.
      spark.sql(s"CREATE TABLE $cat.victim (k BIGINT)") // v1 exists
      val race = intercept[Exception] {
        spark.range(5).select($"id".as("k"))
          .write.mode("append").format("graft-manifest")
          .option("path", s"$root/victim")
          .option("requireFreshTable", "true").save()
      }
      assert(race.getMessage.contains("concurrent"), race.getMessage)
      // the loser published NOTHING: the table still has v1 only
      assert(spark.table(s"$cat.victim").count() == 0L)
    }
  }
}
