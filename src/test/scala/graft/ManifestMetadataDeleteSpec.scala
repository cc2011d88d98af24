package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Metadata-only DELETE (`SupportsDelete` on ManifestTable): when every
  * file provably all-matches or none-matches the predicate via its
  * stats, the DELETE is a pure snapshot edit — no scan, no write, no
  * delete files. Misaligned predicates fall back to the row-level plan
  * (COW or MOR) automatically through Spark's
  * OptimizeMetadataOnlyDeleteFromTable.
  */
class ManifestMetadataDeleteSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def freshCat(): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_mdel").toString
    val cat = "graft_md_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  /** 8 range-disjoint files of 100 rows: file b covers k ∈ [100b, 100b+100). */
  private def seed(root: String): Unit = {
    import spark.implicits._
    (0 until 8).foreach { b =>
      spark.range(b * 100L, (b + 1) * 100L).select($"id".as("k"),
          concat(lit("v"), $"id").as("s"))
        .coalesce(1).write.mode("append").format("graft-manifest")
        .option("path", s"$root/t").save()
    }
  }

  private def dataFiles(root: String): Set[String] =
    new java.io.File(s"$root/t").listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet

  test("a file-aligned DELETE drops whole entries with no scan and no " +
    "new files") {
    val (cat, root) = freshCat()
    seed(root)
    val before = dataFiles(root)
    assert(before.size == 8)
    spark.sql(s"DELETE FROM $cat.t WHERE k < 300")
    // data files untouched on disk (vacuum reclaims later); snapshot
    // simply stopped listing three of them
    assert(dataFiles(root) == before)
    assert(spark.sql(s"SELECT count(*), min(k) FROM $cat.t").head()
      .toSeq == Seq(500L, 300L))
    val fs = new org.apache.hadoop.fs.Path(s"$root/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = ManifestSnapshot.latest(fs,
      new org.apache.hadoop.fs.Path(s"$root/t"))
    assert(snap.entries.length == 5)
    assert(snap.deleteFiles.isEmpty)
    // a second aligned delete with a compound predicate
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 700 AND s IS NOT NULL")
    assert(spark.sql(s"SELECT count(*), max(k) FROM $cat.t").head()
      .toSeq == Seq(400L, 699L))
  }

  test("a misaligned DELETE falls back to the row-level plan and stays " +
    "exact") {
    val (cat, root) = freshCat()
    seed(root)
    val before = dataFiles(root)
    spark.sql(s"DELETE FROM $cat.t WHERE k < 350") // splits file 3
    assert(spark.sql(s"SELECT count(*), min(k) FROM $cat.t").head()
      .toSeq == Seq(450L, 350L))
    // COW rewrote at least the split file: the on-disk set changed
    assert(dataFiles(root) != before)
  }

  test("metadata delete composes with merge-on-read tables") {
    import spark.implicits._
    val (cat, root) = freshCat()
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, s STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    (0 until 4).foreach { b =>
      spark.range(b * 100L, (b + 1) * 100L).select($"id".as("k"),
          concat(lit("v"), $"id").as("s"))
        .coalesce(1).write.mode("append").format("graft-manifest")
        .option("path", s"$root/t").save()
    }
    val before = dataFiles(root)
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 200") // aligned
    assert(dataFiles(root) == before)
    val fs = new org.apache.hadoop.fs.Path(s"$root/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = ManifestSnapshot.latest(fs,
      new org.apache.hadoop.fs.Path(s"$root/t"))
    assert(snap.deleteFiles.isEmpty,
      "aligned delete on a MOR table needs no delete file either")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 200L)
    // misaligned on MOR → positional delete file, still no rewrite
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 150")
    assert(dataFiles(root) == before -- // dropped entries still on disk
      Set.empty)
    val lines2 = ManifestSnapshot.latest(fs,
      new org.apache.hadoop.fs.Path(s"$root/t"))
    assert(lines2.deleteFiles.nonEmpty)
    assert(spark.sql(s"SELECT count(*), max(k) FROM $cat.t").head()
      .toSeq == Seq(150L, 149L))
  }

  test("all-null and string-prefix proofs: IS NULL aligned delete; " +
    "startsWith stays conservative under truncation") {
    import spark.implicits._
    val (cat, root) = freshCat()
    // file A: s all null; file B: s never null
    spark.range(0, 50).select($"id".as("k"), lit(null).cast("string").as("s"))
      .coalesce(1).write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.range(50, 100).select($"id".as("k"), concat(lit("v"), $"id").as("s"))
      .coalesce(1).write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    val before = dataFiles(root)
    spark.sql(s"DELETE FROM $cat.t WHERE s IS NULL")
    assert(dataFiles(root) == before, "IS NULL delete should be metadata-only")
    assert(spark.sql(s"SELECT count(*), min(k) FROM $cat.t").head()
      .toSeq == Seq(50L, 50L))
  }
}
