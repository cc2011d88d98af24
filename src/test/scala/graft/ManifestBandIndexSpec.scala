package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, Tables}

/** GOVERNED MinHash-BAND dedup index (round 14 — the near-duplicate
  * twin of the round-13 hyperplane ANN index): the `(band, bucket,
  * doc_id)` relation lives as a manifest table built map-side from the
  * q63 banded-MinHash machinery, maintained incrementally from the
  * corpus change feed, and candidate pairs come from a band-key
  * self-join on the index plus a candidates-only agreement verify —
  * never all-pairs, never a rebuild, never a corpus re-signature. */
class ManifestBandIndexSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_bnd_$tag").toString
    val cat = s"graft_bnd_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("build → takedown → feed maintenance ≡ full rebuild; candidates " +
    "through the index ≡ the direct banded-MinHash run on the live corpus") {
    val (cat, _) = freshCat("e2e")
    val docs = Tables.df(spark, sf, "documents").select($"doc_id", $"text")
    spark.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    docs.writeTo(s"$cat.docs").append()                          // v2
    spark.sql(s"CREATE TABLE $cat.bidx (band INT, bucket INT, doc_id BIGINT)")
    graft.api.Graft.minHashBandIndex(spark.table(s"$cat.docs"),
      "doc_id", "text").writeTo(s"$cat.bidx").append()
    // every signature-bearing doc lands `bands` rows, map-side
    val sigDocs = spark.table(s"$cat.docs")
      .filter(size(split(lower($"text"), " ")) >= 3).count()
    assert(spark.table(s"$cat.bidx").count() == sigDocs * 16)

    // TAKEDOWN: MOR delete on the corpus; the index follows the FEED
    spark.sql(s"DELETE FROM $cat.docs WHERE doc_id % 13 = 5")    // v3
    val v = graft.api.Graft.maintainMinHashBandIndex(spark, cat,
      "docs", "bidx", "doc_id", "text", fromVersion = 2)
    assert(v == 3)
    assert(spark.table(s"$cat.bidx")
      .filter($"doc_id" % 13 === 5).count() == 0L)
    val rebuilt = graft.api.Graft.minHashBandIndex(
      spark.table(s"$cat.docs"), "doc_id", "text")
    assert(sameRows(spark.table(s"$cat.bidx"), rebuilt),
      "incremental maintenance must equal the full rebuild")

    // candidates THROUGH the index == the direct q63 path on the
    // live corpus (identical pairs AND identical agreement estimates)
    val viaIndex = graft.api.Graft.minHashBandCandidates(
      spark.table(s"$cat.docs"), spark.table(s"$cat.bidx"),
      "doc_id", "text", threshold = 0.2)
    val direct = graft.api.Graft.minHashCandidates(
      spark.table(s"$cat.docs"), "doc_id", "text", threshold = 0.2)
    assert(sameRows(viaIndex, direct))

    // a no-op maintenance pass is version-free
    assert(graft.api.Graft.maintainMinHashBandIndex(spark, cat,
      "docs", "bidx", "doc_id", "text", fromVersion = v) == v)

    // COMPACTION-TRANSPARENT maintenance (round 16): the nightly
    // compaction's full-table remove+insert legs never reach the
    // apply — without skipMaintenance this pass would DELETE and
    // re-signature the ENTIRE index (exact, but a corpus-sized replay)
    def idxState(): (Int, Set[String]) = {
      val d = new org.apache.hadoop.fs.Path(
        spark.conf.get(s"spark.sql.catalog.$cat.root"), "bidx")
      val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
      (ManifestFiles.latestComplete(fs, d),
        ManifestSnapshot.latest(fs, d).entries
          .map(_._1).toSet)
    }
    val before = idxState()
    spark.sql(s"CALL $cat.system.compact('docs', 1)")           // v4
    val v2 = graft.api.Graft.maintainMinHashBandIndex(spark, cat,
      "docs", "bidx", "doc_id", "text", fromVersion = v)
    assert(v2 == v + 1, "the checkpoint advances past the compaction")
    assert(sameRows(spark.table(s"$cat.bidx"), rebuilt),
      "a compaction must leave the index bit-identical")
    assert(idxState() == before,
      "an empty feed must be a COMPLETE no-op on the index — no new " +
        "version, no touched data files (a corpus-sized replay would " +
        "have rewritten all of them)")
  }

  test("UPSERTS maintain too: re-texted docs drop their stale band rows " +
    "and land fresh ones — incremental ≡ rebuild across the upsert") {
    val (cat, root) = freshCat("up")
    val docs = Tables.df(spark, sf, "documents")
      .select($"doc_id", $"text").limit(300).cache()
    spark.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    docs.writeTo(s"$cat.docs").append()                          // v2
    spark.sql(s"CREATE TABLE $cat.bidx (band INT, bucket INT, doc_id BIGINT)")
    graft.api.Graft.minHashBandIndex(spark.table(s"$cat.docs"),
      "doc_id", "text").writeTo(s"$cat.bidx").append()
    // CDC upsert: rewrite 20 docs' text (reversed word order → the same
    // shingle REGION but different shingles → new band buckets)
    val retexted = docs.filter($"doc_id" < 20)
      .select($"doc_id",
        concat_ws(" ", reverse(split($"text", " "))).as("text"))
    retexted.coalesce(1).write.mode("append").format("graft-manifest")
      .option("path", s"$root/docs")
      .option("upsertKeys", "doc_id").save()                    // v3
    graft.api.Graft.maintainMinHashBandIndex(spark, cat, "docs", "bidx",
      "doc_id", "text", fromVersion = 2)
    val idx = spark.table(s"$cat.bidx")
    // exactly `bands` rows per signature-bearing doc — no stale extras
    assert(idx.groupBy($"doc_id").count()
      .filter($"count" =!= 16).count() == 0L)
    val rebuilt = graft.api.Graft.minHashBandIndex(
      spark.table(s"$cat.docs"), "doc_id", "text")
    assert(sameRows(idx, rebuilt),
      "post-upsert incremental maintenance must equal the full rebuild")
    docs.unpersist()
  }

  test("STREAMING maintenance: one live query follows the corpus " +
    "(append then takedown); index == rebuild after each drain") {
    val (cat, _) = freshCat("str")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_bnd_ck").toString
    val docs = Tables.df(spark, sf, "documents")
      .select($"doc_id", $"text").limit(200).cache()
    spark.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, text STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    spark.sql(s"CREATE TABLE $cat.bidx (band INT, bucket INT, doc_id BIGINT)")
    val q = graft.api.Graft.maintainMinHashBandIndexStream(spark, cat,
      "docs", "bidx", "doc_id", "text", ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L))
    try {
      docs.writeTo(s"$cat.docs").append()                        // v2
      q.processAllAvailable()
      assert(sameRows(spark.table(s"$cat.bidx"),
        graft.api.Graft.minHashBandIndex(
          spark.table(s"$cat.docs"), "doc_id", "text")))
      spark.sql(s"DELETE FROM $cat.docs WHERE doc_id % 7 = 2")   // v3
      q.processAllAvailable()
      assert(spark.table(s"$cat.bidx")
        .filter($"doc_id" % 7 === 2).count() == 0L)
      assert(sameRows(spark.table(s"$cat.bidx"),
        graft.api.Graft.minHashBandIndex(
          spark.table(s"$cat.docs"), "doc_id", "text")))
    } finally q.stop()
    docs.unpersist()
  }
}
