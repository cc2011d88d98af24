package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** ROW LINEAGE (round 14 — Iceberg v3's row-id model on the manifest
  * format): `TBLPROPERTIES('row.lineage'='true')` gives every row a
  * STABLE identity. Commit-time assignment mints `#firstrow,<file>,<id>`
  * riders from a `#tableconf,rowidnext` high-water mark inside the claim
  * loop (publishSnapshotV — one choke point, every commit route);
  * `_row_id` reads as first_row_id + position; rewrites (compaction,
  * Z-order, copy-on-write UPDATE/DELETE/MERGE) carry ids through a
  * materialized `_rid` parquet column (`#ridcol` marker) with the
  * Iceberg null-inheritance rule for rewrite-inserted rows. Identity
  * that survives maintenance is what makes downstream incremental
  * consumers (SCD trackers, feature stores, audit joins) possible at
  * 100 TB — without it every compaction invalidates every consumer. */
class ManifestRowLineageSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_rl_$tag").toString
    val cat = s"graft_rl_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def idsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def withIds(cat: String, t: String = "t"): DataFrame =
    spark.sql(s"SELECT k, _row_id FROM $cat.$t")

  test("appends assign dense, duplicate-free ids that continue across " +
    "commits; a non-lineage table reads NULL") {
    val (cat, _) = freshCat("assign")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('row.lineage'='true')")
    spark.range(0, 1000).select($"id".as("k"), lit("a").as("v"))
      .repartition(4).writeTo(s"$cat.t").append()
    val first = idsOf(withIds(cat))
    assert(first.size == 1000)
    assert(first.values.toSeq.distinct.size == 1000, "ids must be unique")
    assert(first.values.min == 0L && first.values.max == 999L,
      s"first commit should use ids 0..999, got " +
        s"[${first.values.min}, ${first.values.max}]")
    // stable across reads
    assert(idsOf(withIds(cat)) == first)
    spark.range(1000, 1500).select($"id".as("k"), lit("b").as("v"))
      .repartition(3).writeTo(s"$cat.t").append()
    val second = idsOf(withIds(cat))
    assert(second.size == 1500 && second.values.toSeq.distinct.size == 1500)
    // old rows keep their ids; new rows continue above the mark
    first.foreach { case (k, id) => assert(second(k) == id) }
    assert(second.filterNot(kv => first.contains(kv._1)).values.min >= 1000L)
    // a table that never enabled lineage answers NULL
    val (cat2, _) = freshCat("off")
    spark.sql(s"CREATE TABLE $cat2.t (k BIGINT)")
    spark.range(0, 5).select($"id".as("k")).writeTo(s"$cat2.t").append()
    val rows = spark.sql(s"SELECT k, _row_id FROM $cat2.t").collect()
    assert(rows.forall(_.isNullAt(1)), "_row_id must be NULL without lineage")
  }

  test("copy-on-write UPDATE preserves every row's id — updated and " +
    "untouched alike — through the file rewrite") {
    val (cat, root) = freshCat("cow")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('row.lineage'='true')")
    spark.range(0, 2000).select($"id".as("k"), ($"id" * 1.0).as("v"))
      .repartition(4).writeTo(s"$cat.t").append()
    val before = idsOf(withIds(cat))
    spark.sql(s"UPDATE $cat.t SET v = v + 1000000.0 WHERE k % 3 = 0")
    val after = idsOf(withIds(cat))
    assert(after.size == 2000)
    before.foreach { case (k, id) =>
      assert(after(k) == id, s"row k=$k changed identity across UPDATE")
    }
    // the updated values actually landed
    val updated = spark.sql(
      s"SELECT count(*) FROM $cat.t WHERE v >= 1000000.0").collect()(0).getLong(0)
    assert(updated == before.keys.count(_ % 3 == 0))
    // and the rewrite files are marked #ridcol
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val snap = ManifestSnapshot.latest(fs, new Path(s"$root/t"))
    assert(snap.ridCol.nonEmpty,
      "COW rewrite files must carry the materialized _rid marker")
  }

  test("MERGE preserves matched rows' ids and mints fresh ones for " +
    "inserted rows (the Iceberg null-inheritance rule)") {
    val (cat, _) = freshCat("merge")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('row.lineage'='true')")
    spark.range(0, 1000).select($"id".as("k"), ($"id" * 1.0).as("v"))
      .repartition(2).writeTo(s"$cat.t").append()
    val before = idsOf(withIds(cat))
    spark.range(500, 1500).select($"id".as("k"), lit(-1.0).as("v"))
      .createOrReplaceTempView("rl_merge_src")
    spark.sql(s"""
      MERGE INTO $cat.t AS t USING rl_merge_src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val after = idsOf(withIds(cat))
    assert(after.size == 1500)
    assert(after.values.toSeq.distinct.size == 1500, "ids must stay unique")
    before.foreach { case (k, id) =>
      assert(after(k) == id, s"matched row k=$k changed identity")
    }
    val minted = after.filterNot(kv => before.contains(kv._1)).values
    assert(minted.forall(_ >= 1000L),
      "inserted rows must mint ids above the pre-merge high-water mark")
  }

  test("compaction and Z-order reorder rows across files but never " +
    "re-mint identities; DELETE keeps survivors' ids") {
    val (cat, root) = freshCat("compact")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('row.lineage'='true')")
    (0 until 3).foreach { c =>
      spark.range(c * 500, (c + 1) * 500)
        .select($"id".as("k"), ($"id" % 7).as("v"))
        .repartition(3).writeTo(s"$cat.t").append()
    }
    val before = idsOf(withIds(cat))
    // Z-order style multi-column compact: maximal reordering
    spark.sql(s"CALL $cat.system.compact('t', 2, 'v,k')")
    val after = idsOf(withIds(cat))
    assert(after == before, "compaction re-minted row identities")
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val snap = ManifestSnapshot.latest(fs, new Path(s"$root/t"))
    val entries = snap.entries.map(_._1).toSet
    assert(entries.subsetOf(snap.ridCol),
      "every compacted file must be #ridcol-marked")
    // observability: t$files surfaces the lineage columns
    val meta = spark.sql(
      s"SELECT first_row_id, rid_column FROM $cat.`t$$files`").collect()
    assert(meta.nonEmpty && meta.forall(r => !r.isNullAt(0) && r.getBoolean(1)),
      "t\\$files must report first_row_id + rid_column on compacted files")
    // follow-up DELETE over the materialized-rid files
    spark.sql(s"DELETE FROM $cat.t WHERE k % 2 = 0")
    val survivors = idsOf(withIds(cat))
    survivors.foreach { case (k, id) =>
      assert(before(k) == id, s"survivor k=$k changed identity after DELETE")
    }
    assert(survivors.size == before.size / 2)
  }

  test("enabling lineage on an EXISTING table backfills ids " +
    "metadata-only; INSERT OVERWRITE never reuses retired ids") {
    val (cat, root) = freshCat("enable")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 600).select($"id".as("k"))
      .repartition(2).writeTo(s"$cat.t").append()
    assert(spark.sql(s"SELECT _row_id FROM $cat.t").collect()
      .forall(_.isNullAt(0)))
    val dir = new Path(s"$root/t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val dataBytes = fs.listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('row.lineage'='true')")
    // metadata-only: not one data byte moved
    assert(fs.listStatus(dir)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      == dataBytes)
    val ids = idsOf(withIds(cat))
    assert(ids.size == 600 && ids.values.toSeq.distinct.size == 600)
    // truncate retires ids 0..599; the mark never rewinds
    spark.range(0, 10).select($"id".as("k"))
      .write.mode("overwrite").format("graft-manifest")
      .option("path", s"$root/t").save()
    val fresh = idsOf(withIds(cat))
    assert(fresh.values.min >= 600L,
      s"overwrite reused retired ids: min=${fresh.values.min}")
  }

  test("rollback never rewinds the row-id mark: post-rollback appends " +
    "mint ABOVE everything the disavowed history handed out") {
    val (cat, _) = freshCat("rb")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('row.lineage'='true')")
    spark.range(0, 100).select($"id".as("k")).writeTo(s"$cat.t").append()
    val v2Ids = idsOf(withIds(cat))
    spark.range(100, 400).select($"id".as("k")).writeTo(s"$cat.t").append()
    // disavow the second append, then append anew
    spark.sql(s"CALL $cat.system.rollback('t', 2)")
    spark.range(1000, 1050).select($"id".as("k")).writeTo(s"$cat.t").append()
    val ids = idsOf(withIds(cat))
    // surviving rows keep their ids; fresh rows mint ABOVE the
    // disavowed history's mark (400), never inside it
    v2Ids.foreach { case (k, id) => assert(ids(k) == id) }
    val minted = ids.filterNot(kv => v2Ids.contains(kv._1)).values
    assert(minted.forall(_ >= 400L),
      s"rollback re-minted disavowed ids: min=${minted.min}")
  }

  test("lineage cannot be disabled once enabled") {
    val (cat, _) = freshCat("off")
    spark.sql(s"CREATE TABLE $cat.on (k BIGINT) " +
      "TBLPROPERTIES('row.lineage'='true')")
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE $cat.on SET TBLPROPERTIES('row.lineage'='false')"))
    assert(e.getMessage.contains("enable"))
  }

  test("the change feed carries `_row_id` per leg, and COW update legs " +
    "pair into update images on PURE IDENTITY — no business key needed") {
    val (cat, root) = freshCat("cdc")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('row.lineage'='true')")
    spark.range(0, 300).select($"id".as("k"), ($"id" * 1.0).as("v"))
      .repartition(2).writeTo(s"$cat.t").append()          // v2
    val tableIds = idsOf(withIds(cat))
    spark.sql(s"UPDATE $cat.t SET v = v + 500.0 WHERE k % 5 = 0") // v3
    val feed = spark.read.format("graft-manifest")
      .option("path", s"$root/t").option("changeFeed", "true")
      .option("changesFrom", "0").load()
    assert(feed.schema.fieldNames.contains("_row_id"))
    // insert legs of the initial append surface the SAME ids a table
    // read resolves
    val insertIds = feed
      .filter($"_commit_version" === 2 && $"_change_type" === "insert")
      .select($"k", $"_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(insertIds == tableIds)
    // the COW update's delete+insert legs share each row's identity —
    // withUpdateImages keyed ONLY on _row_id reconstructs pre/post pairs
    val images = ManifestChangeFeed.withUpdateImages(
      feed.filter($"_commit_version" === 3), Seq("_row_id"))
    val pre = images.filter($"_change_type" === "update_preimage")
      .select($"_row_id", $"v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val post = images.filter($"_change_type" === "update_postimage")
      .select($"_row_id", $"v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // COW rewrites the touched FILES: every rewritten row has a pre/post
    // pair keyed by its id; the 500-shift shows on exactly the k%5 rows
    assert(pre.keySet == post.keySet && pre.nonEmpty)
    val shifted = pre.count { case (rid, v0) => post(rid) == v0 + 500.0 }
    val same = pre.count { case (rid, v0) => post(rid) == v0 }
    assert(shifted == tableIds.keys.count(_ % 5 == 0),
      s"expected ${tableIds.keys.count(_ % 5 == 0)} shifted rows, " +
        s"got $shifted")
    assert(shifted + same == pre.size, "a pair changed by a wrong delta")
  }

  test("merge-on-read row-level ops keep ids positional: a MOR delete " +
    "hides rows without disturbing the others' identities") {
    val (cat, _) = freshCat("mor")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('row.lineage'='true', 'delete.mode'='merge-on-read')")
    spark.range(0, 800).select($"id".as("k"), ($"id" * 2).as("v"))
      .repartition(2).writeTo(s"$cat.t").append()
    val before = idsOf(withIds(cat))
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 600")
    val after = idsOf(withIds(cat))
    assert(after.size == 600)
    after.foreach { case (k, id) => assert(before(k) == id) }
    // a full compact then materializes the deletes AND preserves ids
    spark.sql(s"CALL $cat.system.compact('t')")
    assert(idsOf(withIds(cat)) == after,
      "compacting away MOR delete vectors changed identities")
  }

  test("merge-on-read UPDATE preserves identity: the replacement row " +
    "lands in a #ridcol file carrying the target's id (update stays an " +
    "update, not delete+insert, on lineage tables)") {
    val (cat, root) = freshCat("morupd")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('row.lineage'='true', 'delete.mode'='merge-on-read')")
    spark.range(0, 500).select($"id".as("k"), ($"id" * 1.0).as("v"))
      .repartition(2).writeTo(s"$cat.t").append()
    val before = idsOf(withIds(cat))
    spark.sql(s"UPDATE $cat.t SET v = v + 7000.0 WHERE k % 4 = 0")
    val after = idsOf(withIds(cat))
    assert(after.size == 500)
    before.foreach { case (k, id) =>
      assert(after(k) == id, s"MOR update changed identity of k=$k")
    }
    // the values moved, the insert leg is #ridcol-marked
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE v >= 7000.0")
      .collect()(0).getLong(0) == 125)
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val snap = ManifestSnapshot.latest(fs, new Path(s"$root/t"))
    assert(snap.ridCol.nonEmpty,
      "the MOR update's replacement file must carry the materialized ids")
    // and the CDF pairs the update legs on PURE identity
    val feed = spark.read.format("graft-manifest")
      .option("path", s"$root/t").option("changeFeed", "true")
      .option("changesFrom", "2").load()
    val images = ManifestChangeFeed.withUpdateImages(feed, Seq("_row_id"))
    val pre = images.filter($"_change_type" === "update_preimage").count()
    val post = images.filter($"_change_type" === "update_postimage").count()
    assert(pre == 125 && post == 125,
      s"MOR update legs must pair on _row_id: pre=$pre post=$post")
  }

  test("CREATE OR REPLACE keeps the row-id high-water mark: a " +
    "replacement that re-declares lineage mints ABOVE the old table's " +
    "ids, never reusing ids already handed to readers (both the RTAS " +
    "data path and the no-write REPLACE TABLE path)") {
    val (cat, root) = freshCat("replace")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('row.lineage'='true')")
    spark.range(0, 300).select($"id".as("k"), lit("a").as("v"))
      .writeTo(s"$cat.t").append()
    assert(idsOf(withIds(cat)).values.max == 299L)
    // RTAS: the staged replace truncates data AND #tableconf — the mark
    // must survive, so the replacement's 100 rows start at >= 300
    spark.sql(s"CREATE OR REPLACE TABLE $cat.t " +
      "TBLPROPERTIES('row.lineage'='true') AS " +
      "SELECT id AS k, 'b' AS v FROM range(1000, 1100)")
    val afterRtas = idsOf(withIds(cat))
    assert(afterRtas.size == 100)
    assert(afterRtas.values.min >= 300L,
      s"RTAS re-minted ids below the old mark: min=${afterRtas.values.min}")
    val markAfterRtas = afterRtas.values.max + 1
    // no-write REPLACE TABLE: the empty replacement still carries the
    // mark, so the next append continues above everything ever minted
    spark.sql(s"REPLACE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('row.lineage'='true')")
    spark.range(0, 50).select($"id".as("k"), lit("c").as("v"))
      .writeTo(s"$cat.t").append()
    val afterEmpty = idsOf(withIds(cat))
    assert(afterEmpty.size == 50)
    assert(afterEmpty.values.min >= markAfterRtas,
      s"REPLACE TABLE rewound the mark: min=${afterEmpty.values.min} " +
        s"< $markAfterRtas")
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    val snap = ManifestSnapshot.latest(fs, new Path(s"$root/t"))
    assert(snap.rowIdNext >= markAfterRtas + 50)
  }

  // ---- `_last_updated_version` (round 15 — Iceberg v3's second
  // lineage field) -------------------------------------------------------

  private def luvs(cat: String, t: String = "t"): Map[Long, Int] =
    spark.sql(s"SELECT k, _last_updated_version FROM $cat.$t").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("_last_updated_version: appends stamp their commit version; a " +
    "copy-on-write UPDATE bumps EXACTLY the updated rows (carried " +
    "rows in the same rewritten files keep theirs); compaction bumps " +
    "NOTHING (maintenance is not an update); non-lineage reads NULL") {
    val (cat, _) = freshCat("luv")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('row.lineage'='true')")
    spark.range(0, 300).select($"id".as("k"), ($"id" * 1.0).as("v"))
      .repartition(2).writeTo(s"$cat.t").append()                  // v2
    spark.range(300, 400).select($"id".as("k"), ($"id" * 1.0).as("v"))
      .writeTo(s"$cat.t").append()                                 // v3
    val afterAppends = luvs(cat)
    assert((0L until 300L).forall(afterAppends(_) == 2) &&
      (300L until 400L).forall(afterAppends(_) == 3),
      "append rows must stamp their own commit version")
    spark.sql(s"UPDATE $cat.t SET v = v + 1000.0 WHERE k % 5 = 0") // v4
    val afterUpdate = luvs(cat)
    afterUpdate.foreach { case (k, luv) =>
      if (k % 5 == 0) assert(luv == 4, s"updated k=$k must bump, got $luv")
      else assert(luv == afterAppends(k),
        s"carried k=$k must keep its version, got $luv")
    }
    spark.sql(s"CALL $cat.system.compact('t', 1)")                 // v5
    assert(luvs(cat) == afterUpdate,
      "compaction re-materializes every file but bumps no row")
    // identity + recency compose: _row_id stable, luv as before
    val both = spark.sql(s"SELECT k, _row_id, _last_updated_version " +
      s"FROM $cat.t").collect()
    assert(both.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
    // a non-lineage table answers NULL
    val (cat2, _) = freshCat("luvoff")
    spark.sql(s"CREATE TABLE $cat2.t (k BIGINT)")
    spark.range(0, 5).select($"id".as("k")).writeTo(s"$cat2.t").append()
    assert(spark.sql(s"SELECT _last_updated_version FROM $cat2.t")
      .collect().forall(_.isNullAt(0)))
  }

  test("_last_updated_version on enable-on-existing (round-16 advice): " +
    "pre-existing COW files read NULL (their write version is " +
    "unrecoverable — Iceberg v3 null-inheritance); pre-existing MOR " +
    "files resolve their true birth version through #born; rows " +
    "written AFTER the flip stamp their own commit") {
    // copy-on-write: no birth markers exist, so history reads NULL
    val (cat, _) = freshCat("luvflip")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 50).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                 // v2
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('row.lineage'='true')")
    val flipped = spark.sql(
      s"SELECT k, _last_updated_version FROM $cat.t").collect()
    assert(flipped.forall(_.isNullAt(1)),
      "enable-on-existing must NOT stamp old rows at the enable commit")
    spark.range(50, 60).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                 // v4
    val after = spark.sql(
      s"SELECT k, _last_updated_version FROM $cat.t").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert((0L until 50L).forall(after(_).isEmpty),
      "pre-flip rows stay NULL after later commits re-carry them")
    assert((50L until 60L).forall(after(_).contains(4)),
      s"post-flip appends stamp their own version, got ${after(55L)}")
    // merge-on-read: #born markers recover each file's birth version
    val (cat2, _) = freshCat("luvborn")
    spark.sql(s"CREATE TABLE $cat2.t (k BIGINT) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    spark.range(0, 30).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat2.t").append()                                // v2
    spark.sql(s"DELETE FROM $cat2.t WHERE k = 0")                  // v3 (MOR)
    spark.range(30, 40).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat2.t").append()                                // v4
    spark.sql(s"ALTER TABLE $cat2.t SET TBLPROPERTIES('row.lineage'='true')")
    val born = spark.sql(
      s"SELECT k, _last_updated_version FROM $cat2.t").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert((1L until 30L).forall(born(_).contains(2)),
      s"MOR pre-flip rows must resolve their #born version 2, " +
        s"got ${born(1L)}")
    assert((30L until 40L).forall(born(_).contains(4)),
      s"second append's rows must resolve #born version 4, got ${born(35L)}")
    // MAINTENANCE must not read as an update (round-16 self-review):
    // compacting the COW table carries pre-lineage NULLs through as the
    // 0 sentinel — rows keep reading NULL, not the compaction version,
    // while post-flip rows keep their true version
    spark.sql(s"CALL $cat.system.compact('t', 1)")                 // v5
    val compacted = spark.sql(
      s"SELECT k, _last_updated_version FROM $cat.t").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert((0L until 50L).forall(compacted(_).isEmpty),
      s"pre-lineage rows must stay NULL through compaction, " +
        s"got ${compacted(10L)}")
    assert((50L until 60L).forall(compacted(_).contains(4)),
      s"post-flip rows must keep their version through compaction, " +
        s"got ${compacted(55L)}")
    // COW row-level ops must not read as updates for SURVIVORS either
    // (round-16 review pass 3): the rewrite scan surfaces pre-lineage
    // NULL as the 0 sentinel, so a DELETE's untouched survivors keep
    // reading NULL while genuinely-updated rows stamp the commit
    spark.sql(s"DELETE FROM $cat.t WHERE k = 10")                  // v6
    val afterDel = spark.sql(
      s"SELECT k, _last_updated_version FROM $cat.t").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(!afterDel.contains(10L))
    assert((0L until 50L).filter(_ != 10L).forall(afterDel(_).isEmpty),
      s"a COW DELETE must not stamp untouched pre-lineage survivors, " +
        s"got ${afterDel(11L)}")
    assert((50L until 60L).forall(afterDel(_).contains(4)),
      "post-flip survivors keep their version through the COW delete")
    spark.sql(s"UPDATE $cat.t SET k = k + 1000 WHERE k = 20")      // v7
    val afterUpd = spark.sql(
      s"SELECT k, _last_updated_version FROM $cat.t").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    assert(afterUpd(1020L).contains(7),
      s"the updated row stamps the UPDATE's version, got ${afterUpd(1020L)}")
    assert((0L until 50L).filterNot(k => k == 10 || k == 20)
      .forall(afterUpd(_).isEmpty),
      s"COW UPDATE must not stamp copied pre-lineage rows, " +
        s"got ${afterUpd(21L)}")
    // DOCUMENTED caveat (see ManifestRowLevelOperation): inside a COW
    // row-level statement the sentinel scan serves the WHERE too, so a
    // pre-lineage row's `_last_updated_version` reads 0 there (NULL in
    // a SELECT) — write `coalesce(_last_updated_version, 0) = 0` for
    // the portable "never updated" condition
    spark.sql(s"DELETE FROM $cat.t " +
      "WHERE _last_updated_version IS NULL AND k = 30")           // no-op
    assert(afterUpd.keySet.contains(30L) &&
      spark.table(s"$cat.t").filter("k = 30").count() == 1L,
      "pre-lineage rows read the 0 sentinel (not NULL) inside COW " +
        "row-level predicates — the documented caveat moved; update " +
        "the ManifestRowLevelOperation scaladoc if this changed")
    spark.sql(s"DELETE FROM $cat.t " +
      "WHERE coalesce(_last_updated_version, 0) = 0 AND k = 30")
    assert(spark.table(s"$cat.t").filter("k = 30").count() == 0L,
      "the portable coalesce condition targets pre-lineage rows")
  }

  test("_last_updated_version: MERGE bumps matched-updated rows and " +
    "stamps inserted rows; merge-on-read UPDATE bumps through the " +
    "delta path; the CHANGE FEED carries the column per leg") {
    import spark.implicits._
    val (cat, root) = freshCat("luvmor")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('row.lineage'='true')")
    spark.range(0, 100).select($"id".as("k"), ($"id" * 1.0).as("v"))
      .writeTo(s"$cat.t").append()                                 // v2
    Seq((7L, 700.0), (500L, 1.0)).toDF("k", "v")
      .createOrReplaceTempView("luv_src")
    spark.sql(s"""
      MERGE INTO $cat.t AS t USING luv_src AS s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")    // v3
    val m = luvs(cat)
    assert(m(7L) == 3 && m(500L) == 3,
      s"merge-updated and merge-inserted rows must stamp v3, got " +
        s"${m(7L)}/${m(500L)}")
    assert(m(8L) == 2, s"untouched k=8 must keep v2, got ${m(8L)}")
    // MOR path: update legs land in fresh files → new version
    val (catM, rootM) = freshCat("luvdelta")
    spark.sql(s"CREATE TABLE $catM.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('row.lineage'='true', 'delete.mode'='merge-on-read')")
    spark.range(0, 100).select($"id".as("k"), ($"id" * 1.0).as("v"))
      .writeTo(s"$catM.t").append()                                // v2
    spark.sql(s"UPDATE $catM.t SET v = v + 50.0 WHERE k % 10 = 1") // v3
    val mm = luvs(catM)
    mm.foreach { case (k, luv) =>
      assert(luv == (if (k % 10 == 1) 3 else 2),
        s"MOR k=$k expected ${if (k % 10 == 1) 3 else 2}, got $luv")
    }
    // MOR delete leaves survivors untouched
    spark.sql(s"DELETE FROM $catM.t WHERE k % 10 = 2")             // v4
    assert(luvs(catM) == mm.filter { case (k, _) => k % 10 != 2 })
    // the change feed surfaces the column on every leg
    val feed = spark.read.format("graft-manifest")
      .option("path", s"$rootM/t").option("changeFeed", "true")
      .option("changesFrom", "2").load()
    val legs = feed.select($"k", $"_last_updated_version", $"_change_type")
      .collect()
    assert(legs.nonEmpty && legs.forall(!_.isNullAt(1)))
    val insLegs = legs.filter(_.getString(2) == "insert")
    assert(insLegs.nonEmpty && insLegs.forall(r => r.getInt(1) == 3),
      "update-insert legs must carry the updating version")
  }
}
