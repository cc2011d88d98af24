package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** VARIANT columns in the manifest format (round 15 — the Iceberg-v3 /
  * Spark-4 shredded-variant era, applied with the round-12
  * ARRAY/BINARY/STRUCT/MAP playbook): semi-structured documents — the
  * most common LLM-pipeline ingest shape — live under snapshots, time
  * travel, schema evolution, and row-level ops WITHOUT pre-shredding.
  * Storage is the parquet variant pair (value+metadata binary) under
  * the positional `c<pos>` name; `#stats` carries NO bounds for the
  * column (variants are non-orderable — the standing contract), and a
  * `format=csv` write refuses at plan time (parquet is the only
  * payload). */
class ManifestVariantSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_var_$tag").toString
    val cat = s"graft_var_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def seed(cat: String): Unit = {
    spark.sql(s"CREATE TABLE $cat.docs (k BIGINT, doc VARIANT) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $cat.docs SELECT id AS k, " +
      "parse_json(concat('{\"n\":', id, ',\"tag\":\"t', id % 3, '\"', " +
      "CASE WHEN id % 5 = 0 THEN ',\"opt\":true' ELSE '' END, '}')) " +
      "FROM range(0, 200)")
  }

  private def extracted(cat: String, versionClause: String = "") =
    spark.sql(s"SELECT k, " +
      s"variant_get(doc, '$$.n', 'bigint') AS n, " +
      s"variant_get(doc, '$$.tag', 'string') AS tag, " +
      s"variant_get(doc, '$$.opt', 'boolean') AS opt " +
      s"FROM $cat.docs $versionClause")

  test("VARIANT round-trips through the manifest parquet payload: " +
    "typed path extraction, null-field semantics, and NULL variants " +
    "all survive; time travel composes") {
    val (cat, _) = freshCat("rt")
    seed(cat)
    val rows = extracted(cat).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getBoolean(3))).sortBy(_._1)
    assert(rows.length == 200)
    rows.foreach { case (k, n, tag, opt) =>
      assert(n == k && tag == s"t${k % 3}")
      assert((opt == true) == (k % 5 == 0))
    }
    // NULL variant values store and read as SQL NULL
    spark.sql(s"INSERT INTO $cat.docs VALUES (900, CAST(NULL AS VARIANT))")
    val nulls = spark.sql(
      s"SELECT doc FROM $cat.docs WHERE k = 900").collect()
    assert(nulls.length == 1 && nulls.head.isNullAt(0))
    // time travel: v2 (the seed) has 200 rows and no k=900
    assert(extracted(cat, "VERSION AS OF 2").count() == 200)
    // to_json round-trip preserves the document structure
    val js = spark.sql(s"SELECT to_json(doc) AS j FROM $cat.docs " +
      "WHERE k = 7").collect().head.getString(0)
    assert(js == """{"n":7,"tag":"t1"}""", js)
  }

  test("row-level ops over a VARIANT-bearing table: MOR delete hides " +
    "documents, CDC upsert replaces one, compaction materializes — the " +
    "variant bytes survive every rewrite") {
    val (cat, root) = freshCat("ops")
    seed(cat)
    spark.sql(s"DELETE FROM $cat.docs WHERE k % 4 = 1") // MOR vectors
    assert(extracted(cat).count() == 150)
    // CDC upsert re-documents k=8
    spark.sql("SELECT CAST(8 AS BIGINT) AS k, " +
        "parse_json('{\"n\":-8,\"tag\":\"fresh\"}') AS doc")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/docs").option("upsertKeys", "k").save()
    val r8 = extracted(cat).filter($"k" === 8).collect().head
    assert(r8.getLong(1) == -8L && r8.getString(2) == "fresh")
    // compaction rewrites every byte; values identical after
    val before = extracted(cat).collect().map(_.toString).sorted.toSeq
    spark.sql(s"CALL $cat.system.compact('docs')")
    val after = extracted(cat).collect().map(_.toString).sorted.toSeq
    assert(before == after, "compaction changed variant contents")
    // COW update of a SIBLING column rewrites files carrying variants
    spark.sql(s"ALTER TABLE $cat.docs SET TBLPROPERTIES(" +
      "'delete.mode'='copy-on-write')")
    spark.sql(s"UPDATE $cat.docs SET k = k + 1000 WHERE k % 4 = 2")
    val moved = extracted(cat).filter($"k" >= 1000).collect()
    assert(moved.nonEmpty &&
      moved.forall(r => r.getLong(1) == r.getLong(0) - 1000))
  }

  test("schema evolution around a VARIANT column: ADD/RENAME are " +
    "metadata-only; the CHANGE FEED carries variant legs; stats lines " +
    "carry no bounds for the variant slot; CSV payload refuses") {
    val (cat, root) = freshCat("evo")
    seed(cat)
    spark.sql(s"ALTER TABLE $cat.docs ADD COLUMN note STRING")
    spark.sql(s"ALTER TABLE $cat.docs RENAME COLUMN doc TO body")
    spark.sql(s"INSERT INTO $cat.docs SELECT 500, " +
      "parse_json('{\"n\":500}'), 'tagged'")
    val got = spark.sql(s"SELECT k, " +
      s"variant_get(body, '$$.n', 'bigint') AS n, note " +
      s"FROM $cat.docs WHERE k = 500").collect().head
    assert(got.getLong(1) == 500L && got.getString(2) == "tagged")
    // old rows read NULL for the added column, body unharmed
    assert(spark.sql(s"SELECT count(*) FROM $cat.docs " +
      "WHERE note IS NULL").collect().head.getLong(0) == 200)
    // the change feed surfaces insert legs with the variant column
    val feed = spark.read.format("graft-manifest")
      .option("path", s"$root/docs").option("changeFeed", "true")
      .option("changesFrom", "2").load()
    val legs = feed.selectExpr("k",
      "variant_get(body, '$.n', 'bigint') AS n", "_change_type").collect()
    assert(legs.length == 1 && legs.head.getLong(1) == 500L &&
      legs.head.getString(2) == "insert")
    // no stats bounds recorded for the variant slot (non-orderable)
    val dir = new Path(root, "docs")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val stats = ManifestSnapshot.latest(fs, dir).stats
    assert(stats.nonEmpty)
    stats.values.foreach(s => assert(!s.cols.contains(1),
      s"variant slot must carry no stats bounds, got ${s.cols.get(1)}"))
    // CSV refuses at plan time
    val e = intercept[Exception] {
      spark.sql("SELECT CAST(1 AS BIGINT) AS k, parse_json('{}') AS doc")
        .write.mode("append").format("graft-manifest")
        .option("path", s"$root/csvdocs").option("format", "csv").save()
    }
    assert(e.getMessage.contains("parquet is the only data-file payload"))
  }
}
