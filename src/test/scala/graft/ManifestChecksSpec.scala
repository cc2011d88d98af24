package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** CHECK constraints (round 12 — Delta's `delta.constraints.*`):
  * declared via `TBLPROPERTIES('check.<name>'='<expr>')`, validated by
  * real analysis at DDL/ALTER time, enforced at the commit boundary on
  * every write route that brings rows in — a violating row aborts the
  * whole batch and the table keeps its pre-batch state. Row-preserving
  * maintenance rewrites (compact, Z-order) evaluate none, matching ADD
  * CONSTRAINT's no-retro-validation rule. TRUE and NULL pass; only
  * FALSE violates (SQL three-valued CHECK). */
class ManifestChecksSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_chk_$tag").toString
    val cat = s"graft_chk_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("violating batches abort atomically; NULL passes; good batches " +
    "land; the violation names the constraint and renders the row") {
    val (cat, _) = freshCat("atomic")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('check.positive'='v >= 0')")
    spark.range(0, 50).select($"id".as("k"), ($"id" % 9).cast("double").as("v"))
      .writeTo(s"$cat.t").append()
    assert(spark.table(s"$cat.t").count() == 50L)
    // NULL passes (three-valued CHECK)
    Seq((100L, null.asInstanceOf[java.lang.Double]))
      .toDF("k", "v").writeTo(s"$cat.t").append()
    assert(spark.table(s"$cat.t").count() == 51L)
    // one bad row in a 50-row batch: NOTHING lands
    val e = intercept[Exception] {
      spark.range(200, 250).select($"id".as("k"),
          (lit(5.0) - when($"id" === 242, 100.0).otherwise(0.0)).as("v"))
        .writeTo(s"$cat.t").append()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("positive") && msg.contains("k=242"), msg)
    assert(spark.table(s"$cat.t").count() == 51L, "violating batch aborted")
  }

  test("every write route enforces: COW UPDATE, merge-on-read MERGE " +
    "inserts, and streaming epochs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val (cat, root) = freshCat("routes")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('check.positive'='v >= 0')")
    spark.range(0, 20).select($"id".as("k"), lit(1.0).as("v"))
      .writeTo(s"$cat.t").append()
    // COW UPDATE writing a violating value fails; table intact
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.t SET v = -5.0 WHERE k = 3")
    }
    assert(spark.table(s"$cat.t").filter($"v" < 0).count() == 0L)
    // merge-on-read insert files validate too (the WHEN MATCHED clause
    // keeps the MERGE a delta write: Spark plans an insert-only MERGE
    // as a plain append)
    spark.sql(s"ALTER TABLE $cat.t " +
      "SET TBLPROPERTIES('delete.mode'='merge-on-read')")
    val mor = intercept[Exception] {
      spark.sql(s"""MERGE INTO $cat.t USING (SELECT 999 AS k, -1.0 AS v) s
        ON $cat.t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    }
    assert(mor.getMessage.contains("CHECK constraint 'positive'"),
      mor.getMessage)
    assert(spark.table(s"$cat.t").count() == 20L)
    // streaming epochs validate; the good prefix before the bad batch
    // stays, the bad epoch aborts
    val ckpt = java.nio.file.Files.createTempDirectory("graft_chk_ck").toString
    val input = MemoryStream[Double](spark)
    def drain(): Boolean = {
      val q = input.toDS().selectExpr("CAST(value AS BIGINT) AS k",
          "value AS v")
        .writeStream.format("graft-manifest").option("path", s"$root/t")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(60000); true }
      catch { case _: Exception => false } finally q.stop()
    }
    input.addData(7.0, 8.0)
    assert(drain())
    assert(spark.table(s"$cat.t").count() == 22L)
    input.addData(-3.0)
    assert(!drain(), "violating epoch must fail the stream")
    assert(spark.table(s"$cat.t").filter($"v" < 0).count() == 0L)
  }

  test("row-preserving maintenance evaluates no CHECK: scoped, Z-order " +
    "and full compact fold rows a later constraint rejects, unchanged") {
    val (cat, root) = freshCat("maint")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE)")
    def slice(lo: Int, hi: Int): Unit =
      spark.range(lo, hi).select($"id".as("k"), ($"id" - 10).cast("double")
        .as("v")).coalesce(1).writeTo(s"$cat.t").append()
    slice(0, 20); slice(20, 40); slice(40, 60)
    // rows k < 10 violate the new constraint; ADD CONSTRAINT does not
    // retro-validate them
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('check.positive'='v >= 0')")
    def rows() = spark.table(s"$cat.t").orderBy($"k").collect().toSeq
    val before = rows()
    assert(before.count(_.getDouble(1) < 0) == 10)
    def files(): Int = {
      val dir = new org.apache.hadoop.fs.Path(root, "t")
      ManifestFiles.entries(dir.getFileSystem(
        spark.sessionState.newHadoopConf()), dir, None).length
    }
    spark.sql(s"CALL $cat.system.compact('t', 1, '', 'k < 40')").collect()
    assert(files() == 2 && rows() == before)
    spark.sql(s"CALL $cat.system.compact('t', 2, 'k,v')").collect()
    assert(rows() == before)
    spark.sql(s"CALL $cat.system.compact('t', 1)").collect()
    assert(files() == 1 && rows() == before)
    // writes that bring rows in still enforce
    intercept[Exception] {
      Seq((100L, -1.0)).toDF("k", "v").writeTo(s"$cat.t").append()
    }
    assert(rows() == before)
  }

  test("only compaction is maintenance: a user append carrying " +
    "option(maintenanceRewrite) still enforces the CHECK and lands no " +
    "#maint marker") {
    val (cat, root) = freshCat("maintopt")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('check.positive'='v >= 0')")
    def append(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("append").format("graft-manifest")
        .option("path", s"$root/t").option("maintenanceRewrite", "true")
        .save()
    val e = intercept[Exception](append(Seq((1L, -1.0)).toDF("k", "v")))
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("positive"), msg)
    append(Seq((2L, 1.0)).toDF("k", "v"))
    val dir = new org.apache.hadoop.fs.Path(root, "t")
    val snap = ManifestSnapshot.latest(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
    assert(!snap.lines.exists(_.startsWith("#maint,")),
      s"a row-bringing write is no maintenance step: ${snap.lines.toSeq}")
    assert(spark.table(s"$cat.t").count() == 1L)
  }

  test("DDL validation and evolution: bad expressions fail at declare " +
    "time; ALTER adds/drops; renames and drops of referenced columns " +
    "refuse; properties surface") {
    val (cat, _) = freshCat("ddl")
    // unknown column and non-boolean both fail at CREATE
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad (k BIGINT) " +
        "TBLPROPERTIES('check.c'='nope > 0')")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad2 (k BIGINT) " +
        "TBLPROPERTIES('check.c'='k + 1')")
    }
    // nondeterministic refused
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad3 (k BIGINT) " +
        "TBLPROPERTIES('check.c'='rand() > 0.5')")
    }
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, lang STRING)")
    spark.range(0, 5).select($"id".as("k"), lit("en").as("lang"))
      .writeTo(s"$cat.t").append()
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES(" +
      "'check.known_lang'=\"lang IN ('en','de','fr')\")")
    intercept[Exception] {
      Seq((9L, "xx")).toDF("k", "lang").writeTo(s"$cat.t").append()
    }
    // rename/drop of a referenced column refuse with a pointer
    val ren = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN lang TO language")
    }
    assert(ren.getMessage.contains("known_lang"), ren.getMessage)
    val drp = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN lang")
    }
    assert(drp.getMessage.contains("known_lang"), drp.getMessage)
    // the constraint surfaces as a property, and UNSET drops it
    val loaded = spark.sessionState.catalogManager.catalog(cat)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty, "t"))
    assert(loaded.properties().get("check.known_lang")
      == "lang IN ('en','de','fr')")
    spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES('check.known_lang')")
    Seq((9L, "xx")).toDF("k", "lang").writeTo(s"$cat.t").append()
    assert(spark.table(s"$cat.t").count() == 6L)
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN lang TO language")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "language"))
  }
}
