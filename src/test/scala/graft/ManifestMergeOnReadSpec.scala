package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Merge-on-read row-level operations (ManifestDelta.scala — DSv2
  * `SupportsDelta`, positional delete files): DELETE/UPDATE/MERGE on a
  * `delete.mode=merge-on-read` table touch NO existing data file; reads
  * apply the delete vectors; compact materializes them; time travel and
  * vacuum respect them.
  */
class ManifestMergeOnReadSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def freshCat(): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_mor").toString
    val cat = "graft_mor_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet

  private def delFiles(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("delete-")).toSet

  private def morTable(cat: String): Unit = {
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, m BIGINT, s STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    import spark.implicits._
    spark.range(0, 100).select($"id".as("k"), ($"id" % 10).as("m"),
        concat(lit("v"), $"id").as("s"))
      .repartition(2)
      .writeTo(s"$cat.t").append()
  }

  test("DELETE writes a delete file and touches no data file; reads " +
    "apply it exactly") {
    val (cat, root) = freshCat()
    morTable(cat)
    val before = dataFiles(s"$root/t")
    assert(before.nonEmpty)
    spark.sql(s"DELETE FROM $cat.t WHERE m = 3")
    assert(dataFiles(s"$root/t") == before,
      "merge-on-read DELETE must not rewrite or add data files")
    assert(delFiles(s"$root/t").nonEmpty, "expected a positional delete file")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 90L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE m = 3")
      .head().getLong(0) == 0L)
    // observable: the scan reports applied delete vectors (walk through
    // AQE's stage wrappers to the final BatchScanExec)
    val q = spark.sql(s"SELECT count(*) FROM $cat.t")
    q.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val finalPlan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def scansOf(p: SparkPlan): Seq[BatchScanExec] = p.collectWithSubqueries {
      case b: BatchScanExec => Seq(b)
      case st: QueryStageExec => scansOf(st.plan)
    }.flatten
    val applied = scansOf(finalPlan)
      .flatMap(_.metrics.get("deleteRowsApplied")).map(_.value).sum
    assert(applied == 10L, s"expected 10 applied row deletes, got $applied")
    val sums = spark.sql(s"SELECT sum(k) FROM $cat.t").head().getLong(0)
    assert(sums == (0L until 100L).filterNot(_ % 10 == 3).sum)
    // a second delete stacks (vectors merge at read)
    spark.sql(s"DELETE FROM $cat.t WHERE k < 5")
    assert(dataFiles(s"$root/t") == before)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 86L)
    // time travel to the pre-delete snapshot still sees every row
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
      .head().getLong(0) == 100L)
  }

  test("UPDATE = delete + insert: old file untouched, replacement rows " +
    "land in a fresh file") {
    val (cat, root) = freshCat()
    morTable(cat)
    val before = dataFiles(s"$root/t")
    spark.sql(s"UPDATE $cat.t SET s = 'updated' WHERE m = 7")
    val after = dataFiles(s"$root/t")
    assert(before.subsetOf(after), "original data files must survive")
    assert((after -- before).nonEmpty, "updated rows need a fresh file")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 100L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE s = 'updated'")
      .head().getLong(0) == 10L)
    assert(spark.sql(
        s"SELECT count(*) FROM $cat.t WHERE m = 7 AND s <> 'updated'")
      .head().getLong(0) == 0L)
  }

  test("MERGE upserts through the delta path") {
    import spark.implicits._
    val (cat, root) = freshCat()
    morTable(cat)
    val before = dataFiles(s"$root/t")
    spark.range(90, 110).select($"id".as("k"), lit(99L).as("m"),
        lit("merged").as("s"))
      .createOrReplaceTempView("mor_src")
    spark.sql(s"""
      MERGE INTO $cat.t AS t USING mor_src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET m = s.m, s = s.s
      WHEN NOT MATCHED THEN INSERT (k, m, s) VALUES (s.k, s.m, s.s)""")
    assert(before.subsetOf(dataFiles(s"$root/t")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 110L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE s = 'merged'")
      .head().getLong(0) == 20L)
    assert(spark.sql(s"SELECT sum(m) FROM $cat.t WHERE s = 'merged'")
      .head().getLong(0) == 20L * 99L)
  }

  test("compact materializes deletes: clean snapshot, same rows, no " +
    "delete files referenced") {
    val (cat, root) = freshCat()
    morTable(cat)
    spark.sql(s"DELETE FROM $cat.t WHERE m IN (1, 5)")
    val rowsBefore = spark.sql(
      s"SELECT count(*), sum(k) FROM $cat.t").head()
    spark.sql(s"CALL $cat.system.compact('t', 2)").collect()
    val rowsAfter = spark.sql(
      s"SELECT count(*), sum(k) FROM $cat.t").head()
    assert(rowsBefore == rowsAfter)
    val fs = new org.apache.hadoop.fs.Path(s"$root/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = ManifestSnapshot.latest(fs,
      new org.apache.hadoop.fs.Path(s"$root/t"))
    assert(snap.deleteFiles.isEmpty,
      "compaction must drop the #dels lines")
    // vacuum now reclaims the orphaned delete files and old data files
    spark.sql(s"CALL $cat.system.vacuum('t', 1)").collect()
    assert(delFiles(s"$root/t").isEmpty)
    assert(spark.sql(s"SELECT count(*), sum(k) FROM $cat.t").head() == rowsAfter)
  }

  test("rewrite_position_deletes folds many delete files into one " +
    "without touching data; results unchanged; vacuum reclaims the rest") {
    val (cat, root) = freshCat()
    morTable(cat)
    // three separate DELETEs → several per-task delete files
    spark.sql(s"DELETE FROM $cat.t WHERE m = 1")
    spark.sql(s"DELETE FROM $cat.t WHERE m = 4")
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 95")
    val data = dataFiles(s"$root/t")
    val delsBefore = delFiles(s"$root/t")
    assert(delsBefore.size >= 3)
    val expect = spark.sql(s"SELECT count(*), sum(k) FROM $cat.t").head()
    val res = spark.sql(
      s"CALL $cat.system.rewrite_position_deletes('t')").head()
    assert(res.getInt(0) >= 3 && res.getInt(1) == 1, res.toString)
    assert(dataFiles(s"$root/t") == data, "data files must be untouched")
    val fs = new org.apache.hadoop.fs.Path(s"$root/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = ManifestSnapshot.latest(fs,
      new org.apache.hadoop.fs.Path(s"$root/t"))
    assert(snap.deleteFiles.length == 1)
    assert(spark.sql(s"SELECT count(*), sum(k) FROM $cat.t").head() == expect)
    // old delete files age out once no retained version references them
    spark.sql(s"CALL $cat.system.vacuum('t', 1)").collect()
    assert(delFiles(s"$root/t").size == 1)
    assert(spark.sql(s"SELECT count(*), sum(k) FROM $cat.t").head() == expect)
  }

  test("vacuum keeps delete files referenced by retained versions") {
    val (cat, root) = freshCat()
    morTable(cat)
    spark.sql(s"DELETE FROM $cat.t WHERE m = 0")
    val dels = delFiles(s"$root/t")
    assert(dels.nonEmpty)
    spark.sql(s"CALL $cat.system.vacuum('t', 1)").collect()
    assert(delFiles(s"$root/t") == dels,
      "a live snapshot's delete files must survive vacuum")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 90L)
  }

  test("concurrent merge-on-read deletes both survive the optimistic " +
    "rebase (no lost delete vectors)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (cat, root) = freshCat()
    morTable(cat)
    // two committers race: publishSnapshot's claim loop rebases the
    // loser onto the winner's snapshot, so BOTH #dels lines must land
    val fs = Seq("m = 2", "m = 8").map { pred =>
      Future(spark.sql(s"DELETE FROM $cat.t WHERE $pred"))
    }
    fs.foreach(Await.result(_, 120.seconds))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 80L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE m IN (2, 8)")
      .head().getLong(0) == 0L)
    val hfs = new org.apache.hadoop.fs.Path(s"$root/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = ManifestSnapshot.latest(hfs,
      new org.apache.hadoop.fs.Path(s"$root/t"))
    assert(snap.deleteFiles.length >= 2,
      "both committers' delete files must be in the merged snapshot")
  }

  test("ALTER TABLE SET TBLPROPERTIES flips the delete mode in place") {
    import spark.implicits._
    val (cat, root) = freshCat()
    // start as plain COW (no property), upgrade to MOR
    spark.range(0, 40).select($"id".as("k"), ($"id" % 4).as("m"),
        lit("x").as("s"))
      .coalesce(1).write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(
      s"ALTER TABLE $cat.t SET TBLPROPERTIES('delete.mode'='merge-on-read')")
    val files = dataFiles(s"$root/t")
    spark.sql(s"DELETE FROM $cat.t WHERE m = 1") // misaligned → delta path
    assert(dataFiles(s"$root/t") == files,
      "after the flip, deletes must be merge-on-read")
    assert(delFiles(s"$root/t").nonEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 30L)
    // and back to copy-on-write: the next delete rewrites
    spark.sql(
      s"ALTER TABLE $cat.t SET TBLPROPERTIES('delete.mode'='copy-on-write')")
    spark.sql(s"DELETE FROM $cat.t WHERE m = 2")
    assert(dataFiles(s"$root/t") != files,
      "after flipping back, deletes rewrite data files again")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 20L)
    // rows deleted under MOR stay deleted across the flip
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE m = 1")
      .head().getLong(0) == 0L)
  }

  test("incremental reads refuse a range containing merge-on-read " +
    "deletes; _pos is selectable") {
    val (cat, root) = freshCat()
    morTable(cat)
    spark.sql(s"DELETE FROM $cat.t WHERE k = 0")
    val fs = new org.apache.hadoop.fs.Path(s"$root/t")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(s"$root/t")
    val tip = ManifestFiles.latestComplete(fs, dir)
    val e = intercept[IllegalStateException](
      ManifestFiles.addedBetween(fs, dir, 1, tip))
    assert(e.getMessage.contains("merge-on-read"), e.getMessage)
    // _pos metadata column reads ordinals; deleted ordinal is absent
    val pos = spark.sql(s"SELECT _file, _pos, k FROM $cat.t WHERE k < 3")
      .collect()
    assert(pos.length == 2) // k=0 deleted
    assert(pos.forall(_.getLong(1) >= 0L))
  }
}
