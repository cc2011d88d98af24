package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** ZERO-COPY SHALLOW CLONE (round 16 — Delta's `SHALLOW CLONE` shape):
  * `CALL clone(source, target)` lands ONE metadata commit whose
  * version-1 snapshot references the source's current files by
  * absolute path. The invariants every test drives: no bytes copied,
  * full independence of subsequent histories, declarative conf and
  * per-file stat riders carried, the Delta-documented vacuum caveat in
  * BOTH directions (clone vacuum can never touch shared files; source
  * vacuum breaks clones LOUDLY), and compaction severing the
  * dependency. */
class ManifestCloneSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_cl_$tag").toString
    val cat = s"graft_cl_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def dataFiles(root: String, t: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(root, t)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
  }

  private def entries(root: String, t: String): Seq[String] = {
    val dir = new org.apache.hadoop.fs.Path(root, t)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestSnapshot.latest(fs, dir).entries
      .map(_._1).toSeq
  }

  test("clone references the source's files (zero bytes copied), carries " +
    "stats/conf riders re-keyed, and the two histories are independent") {
    val (cat, root) = freshCat("basic")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('stats.ndv.columns'='k')")
    spark.range(0, 200).select($"id".as("k"), ($"id" * 0.5).as("v"))
      .repartition(3).writeTo(s"$cat.t").append()
    val res = spark.sql(s"CALL $cat.system.clone('t', 'dev')").collect()
    assert(res.head.getLong(2) == 0L, "bytes_copied must be 0")
    assert(res.head.getInt(0) == 3 && res.head.getLong(1) == 200L)
    // zero-copy: the clone's directory holds NO data files, its entries
    // are absolute references into the source, and its riders re-keyed
    assert(dataFiles(root, "dev").isEmpty, "a shallow clone copies no bytes")
    val es = entries(root, "dev")
    assert(es.nonEmpty && es.forall(n => n.startsWith("/") ||
      n.contains(":/")), es.mkString(","))
    val dir = new org.apache.hadoop.fs.Path(root, "dev")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = ManifestSnapshot.latest(fs, dir)
    assert(snap.stats.keySet == es.toSet,
      "per-file #stats must carry, re-keyed to the absolute names")
    assert(ManifestNdv.fromLines(snap.lines).keySet == es.toSet,
      "per-file #ndv sketches must carry too")
    // identical content
    assert(spark.table(s"$cat.dev").orderBy($"k").collect().toSeq ==
      spark.table(s"$cat.t").orderBy($"k").collect().toSeq)
    // independence, both directions
    spark.range(200, 250).select($"id".as("k"), lit(0.0).as("v"))
      .writeTo(s"$cat.dev").append()
    spark.range(500, 510).select($"id".as("k"), lit(1.0).as("v"))
      .writeTo(s"$cat.t").append()
    assert(spark.table(s"$cat.dev").count() == 250L)
    assert(spark.table(s"$cat.t").count() == 210L)
    assert(spark.table(s"$cat.dev").filter($"k" >= 500).count() == 0L)
    // a selective filter still skips files on the clone (stats carried)
    val narrow = spark.table(s"$cat.dev").filter($"k" === 5L)
    assert(narrow.count() == 1L)
  }

  test("row-level ops on the clone rewrite into files the clone OWNS; " +
    "compaction localizes everything, severing the source dependency") {
    val (cat, root) = freshCat("sever")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 100).select($"id".as("k")).coalesce(2)
      .writeTo(s"$cat.t").append()
    spark.sql(s"CALL $cat.system.clone('t', 'dev')")
    spark.sql(s"DELETE FROM $cat.dev WHERE k < 10") // COW rewrite
    assert(spark.table(s"$cat.dev").count() == 90L)
    assert(spark.table(s"$cat.t").count() == 100L,
      "a clone's COW delete must never touch the source")
    assert(dataFiles(root, "dev").nonEmpty,
      "the rewrite lands files in the CLONE's directory")
    spark.sql(s"CALL $cat.system.compact('dev', 1)")
    assert(entries(root, "dev").forall(n => !n.startsWith("/") &&
      !n.contains(":/")),
      "compaction must localize every remaining reference")
    assert(spark.table(s"$cat.dev").count() == 90L)
    // now the source can vacuum freely — the clone no longer cares
    spark.sql(s"INSERT OVERWRITE $cat.t SELECT 999 AS k")
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    assert(spark.table(s"$cat.dev").count() == 90L)
  }

  test("vacuum on the CLONE never reclaims shared files; vacuum on the " +
    "SOURCE breaks the clone LOUDLY (the documented Delta caveat)") {
    val (cat, root) = freshCat("vac")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 50).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()
    spark.sql(s"CALL $cat.system.clone('t', 'dev')")
    // churn the clone so its vacuum has something to look at
    spark.range(50, 60).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.dev").append()
    spark.sql(s"INSERT OVERWRITE $cat.dev SELECT id AS k FROM range(5)")
    spark.sql(s"CALL $cat.system.vacuum('dev', 1)")
    assert(spark.table(s"$cat.t").count() == 50L,
      "the clone's vacuum must never delete the source's bytes")
    // source-side: overwrite unlists the shared file, vacuum reclaims it
    val (cat2, _) = freshCat("vacsrc")
    spark.sql(s"CREATE TABLE $cat2.t (k BIGINT)")
    spark.range(0, 50).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat2.t").append()
    spark.sql(s"CALL $cat2.system.clone('t', 'dev')")
    spark.sql(s"INSERT OVERWRITE $cat2.t SELECT 1 AS k")
    spark.sql(s"CALL $cat2.system.vacuum('t', 1)")
    // count() alone would answer from metadata-only aggregate pushdown
    // without touching the missing bytes — force a data read
    val e = intercept[Exception] {
      spark.table(s"$cat2.dev").select($"k").collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: chain(t.getCause)
    assert(chain(e).exists(m => m.contains("part-") ||
        m.toLowerCase.contains("not exist") ||
        m.toLowerCase.contains("notfound")),
      s"a source vacuum must break the clone loudly, got: ${chain(e)}")
  }

  test("refusals: live MOR delete state, existing target, MVs; lineage " +
    "does not carry (the clone starts a fresh history)") {
    val (cat, _) = freshCat("ref")
    spark.sql(s"CREATE TABLE $cat.m (k BIGINT) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    spark.range(0, 30).select($"id".as("k")).writeTo(s"$cat.m").append()
    spark.sql(s"DELETE FROM $cat.m WHERE k = 3") // live vector
    val e1 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.clone('m', 'mdev')")
    }
    assert(e1.getMessage.contains("compact"), e1.getMessage)
    spark.sql(s"CALL $cat.system.compact('m', 1)") // materializes
    spark.sql(s"CALL $cat.system.clone('m', 'mdev')")
    assert(spark.table(s"$cat.mdev").count() == 29L)
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.clone('m', 'mdev')")
    }
    assert(e2.getMessage.contains("already exists"), e2.getMessage)
    // lineage: enabled on the source, absent on the clone
    spark.sql(s"ALTER TABLE $cat.m SET TBLPROPERTIES('row.lineage'='true')")
    spark.range(100, 105).select($"id".as("k")).writeTo(s"$cat.m").append()
    spark.sql(s"CALL $cat.system.clone('m', 'mdev2')")
    val ids = spark.sql(s"SELECT _row_id FROM $cat.mdev2").collect()
    assert(ids.forall(_.isNullAt(0)),
      "row lineage is per-history — the clone must read NULL ids")
    assert(spark.sql(s"SELECT _row_id FROM $cat.m").collect()
      .exists(!_.isNullAt(0)), "the source keeps its lineage")
  }
}
