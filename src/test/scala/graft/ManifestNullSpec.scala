package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** NULL round-trip through the manifest format's parquet payload:
  * NULLs of every primitive type stay NULL, and strings that look like
  * null markers (`"null"`, `\N`, `\\N`) stay the strings they are — in
  * the rows and in the `#stats` bounds that skipping decides on.
  */
class ManifestNullSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def tmp() =
    java.nio.file.Files.createTempDirectory("graft_null").toString + "/t"

  test("nulls of every primitive type round-trip; adversarial strings " +
    "survive verbatim") {
    import spark.implicits._
    val path = tmp()
    val rows = Seq(
      (1L, Some(2.5d), Some("x"), Some(true)),
      (2L, None, None, None),
      (3L, Some(-0.5d), Some("null"), Some(false)), // literal "null" string
      (4L, None, Some("\\N"), None),                // the marker itself
      (5L, Some(0.0d), Some("\\\\N"), Some(true)),  // escaped-marker shape
      (6L, Some(1.0d), Some(""), Some(false)))      // empty string ≠ null
    rows.toDF("k", "d", "s", "b")
      .write.mode("append").format("graft-manifest").option("path", path).save()
    val back = spark.read.format("graft-manifest").option("path", path).load()
      .orderBy($"k").collect()
    val expect = rows.map { case (k, d, s, b) =>
      Row(k, d.orNull, s.orNull, b.orNull) }
    assert(back.toSeq == expect)
  }

  test("null-aware predicates and skipping stay sound over null-bearing " +
    "files") {
    import spark.implicits._
    val path = tmp()
    // file A: k 0..99 with d null on odd k; file B: all-null d
    spark.range(100).select($"id".as("k"),
        when($"id" % 2 === 0, $"id".cast("double")).as("d"))
      .coalesce(1)
      .write.mode("append").format("graft-manifest").option("path", path).save()
    spark.range(100, 150).select($"id".as("k"),
        lit(null).cast("double").as("d"))
      .coalesce(1)
      .write.mode("append").format("graft-manifest").option("path", path).save()
    val t = spark.read.format("graft-manifest").option("path", path).load()
    assert(t.filter($"d".isNull).count() == 100L)   // 50 odd + 50 all-null
    assert(t.filter($"d".isNotNull).count() == 50L)
    assert(t.filter($"d" >= 50.0).count() == 25L)   // even k in [50,98]
    val agg = t.agg(count($"d"), sum($"d")).collect()(0)
    assert(agg.getLong(0) == 50L)
    assert(agg.getDouble(1) == (0 until 100 by 2).sum.toDouble)
  }

  test("stats bounds shaped like the NULL token never skip their file") {
    import spark.implicits._
    val path = tmp()
    // File A's string min/max is literally \N, file B's is \\N — the
    // stored stats are RAW values, and decoding them as null markers
    // would turn A's bounds into null (file looks all-null ⇒
    // skipped for ANY value predicate) and strip one backslash from
    // B's (shrunken max). Both lose rows silently.
    Seq((1L, "\\N"), (2L, "\\N")).toDF("k", "s").coalesce(1)
      .write.mode("append").format("graft-manifest").option("path", path).save()
    Seq((3L, "\\\\N"), (4L, "\\\\N")).toDF("k", "s").coalesce(1)
      .write.mode("append").format("graft-manifest").option("path", path).save()
    val t = spark.read.format("graft-manifest").option("path", path).load()
    assert(t.filter($"s" === "\\N").select("k").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
    assert(t.filter($"s" === "\\\\N").select("k").as[Long].collect().sorted
      .toSeq == Seq(3L, 4L))
    assert(t.filter($"s".isNotNull).count() == 4L)
    assert(t.filter($"s" >= "\\").count() == 4L)
  }

  test("COPY_ON_WRITE over null rows: DELETE WHERE col IS NULL") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_nullcow").toString
    val cat = "graft_null_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.range(60).select($"id".as("k"),
        when($"id" % 3 === 0, concat(lit("v"), $"id")).as("v"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(s"DELETE FROM $cat.t WHERE v IS NULL")
    val left = spark.sql(s"SELECT k, v FROM $cat.t ORDER BY k").collect()
    assert(left.length == 20)
    assert(left.forall(r => r.getLong(0) % 3 == 0 && r.getString(1).startsWith("v")))
  }
}
