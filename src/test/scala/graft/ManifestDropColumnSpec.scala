package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** `ALTER TABLE … DROP COLUMN` via positional tombstones (round 11):
  * the dropped field's physical position is retired with a
  * `#tableconf,dropped,<pos>` line, survivors pin their physical
  * position in `gpos` field metadata, and old files' bytes at the
  * retired position are simply unprojected at read. No data rewrite;
  * time travel to a pre-drop version still sees the column.
  */
class ManifestDropColumnSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def freshCat(): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_drop").toString
    val cat = "graft_dc_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("drop a middle column: old + new files read correctly; the " +
    "position is never reassigned") {
    import spark.implicits._
    val (cat, root) = freshCat()
    spark.range(0, 10).select($"id".as("k"), ($"id" * 2).as("gone"),
        concat(lit("s"), $"id").as("s"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN gone")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "s"))
    // post-drop append writes only live columns
    spark.sql(s"INSERT INTO $cat.t VALUES (100, 'sX')")
    val got = spark.sql(s"SELECT k, s FROM $cat.t ORDER BY k").collect().toSeq
    val expect = (0L until 10L).map(i => Row(i, s"s$i")) :+ Row(100L, "sX")
    assert(got == expect)
    // ADD COLUMN after the drop must NOT reuse the retired position:
    // if it did, old files' `gone` bytes would alias into the new column
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN fresh BIGINT")
    spark.sql(s"INSERT INTO $cat.t VALUES (200, 'sY', 7)")
    val got2 = spark.sql(s"SELECT k, s, fresh FROM $cat.t ORDER BY k")
      .collect().toSeq
    val expect2 = (0L until 10L).map(i => Row(i, s"s$i", null)) ++
      Seq(Row(100L, "sX", null), Row(200L, "sY", 7L))
    assert(got2 == expect2)
    // filters and stats skipping still work on the shifted columns
    assert(spark.sql(s"SELECT k FROM $cat.t WHERE s = 'sY'")
      .collect().map(_.getLong(0)).toSeq == Seq(200L))
  }

  test("time travel to a pre-drop version still sees the column") {
    import spark.implicits._
    val (cat, root) = freshCat()
    spark.range(0, 5).select($"id".as("k"), ($"id" * 10).as("v"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN v")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k"))
    val old = spark.sql(s"SELECT k, v FROM $cat.t VERSION AS OF 1 ORDER BY k")
    assert(old.collect().toSeq == (0L until 5L).map(i => Row(i, i * 10)))
  }

  test("COPY_ON_WRITE row-level ops on a post-drop table") {
    import spark.implicits._
    val (cat, root) = freshCat()
    spark.range(0, 20).select($"id".as("k"), lit("junk").as("gone"),
        ($"id" % 4).as("m"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN gone")
    spark.sql(s"DELETE FROM $cat.t WHERE m = 0")
    spark.sql(s"UPDATE $cat.t SET m = m * 100 WHERE m = 3")
    val got = spark.sql(s"SELECT k, m FROM $cat.t ORDER BY k").collect().toSeq
    val expect = (0L until 20L).filter(_ % 4 != 0).map { i =>
      Row(i, if (i % 4 == 3) 300L else i % 4)
    }
    assert(got == expect)
  }

  test("guard rails: dropping the bucket-layout column or the last " +
    "column is refused; DROP COLUMN IF EXISTS tolerates absence") {
    import spark.implicits._
    val (cat, root) = freshCat()
    spark.sql(s"CREATE TABLE $cat.b (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.b DROP COLUMN k")
    }
    assert(e.getMessage.contains("bucket/sort layout"), e.getMessage)
    spark.range(0, 3).select($"id".as("k"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/single").save()
    val cat2 = cat // same catalog root
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat2.single DROP COLUMN k")
    }
    assert(e2.getMessage.contains("last column"), e2.getMessage)
    spark.sql(s"ALTER TABLE $cat.b DROP COLUMN IF EXISTS nope") // no-op
    assert(spark.table(s"$cat.b").columns.toSeq == Seq("k", "v"))
  }
}
