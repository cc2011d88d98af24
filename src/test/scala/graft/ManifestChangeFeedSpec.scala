package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Change data feed (round 12 — Delta CDF analogue): the row-level diff
  * a version range committed, as data columns + `_change_type`
  * ('insert'|'delete') + `_commit_version`. The invariant every test
  * drives: STATE(from) ⊎ inserts ∖ deletes == STATE(to), multiset-wise,
  * for any history — appends, MOR vector deletes, metadata-only
  * unlists, COW rewrites. */
class ManifestChangeFeedSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_cdf_$tag").toString
    val cat = s"graft_cdf_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def feed(root: String, from: Int, to: Option[Int] = None): DataFrame = {
    val r = spark.read.format("graft-manifest")
      .option("path", root).option("changeFeed", "true")
      .option("changesFrom", from.toString)
    to.fold(r)(t => r.option("changesTo", t.toString)).load()
  }

  /** state(from) ⊎ inserts ∖ deletes == state(to), compared as
    * (row → multiplicity) maps over the data columns. */
  private def checkInvariant(root: String, from: Int, to: Int): Unit = {
    def counts(df: DataFrame): Map[String, Long] = {
      val cols = df.columns.filterNot(_.startsWith("_")).sorted
      df.groupBy(cols.map(col): _*).count().collect()
        .map(r => cols.indices.map(i => String.valueOf(r.get(i)))
          .mkString("|") -> r.getLong(cols.length)).toMap
    }
    def stateAt(v: Int): Map[String, Long] =
      if (v == 0) Map.empty
      else counts(spark.read.format("graft-manifest")
        .option("path", root).option("versionAsOf", v.toString).load())
    val f = feed(root, from, Some(to))
    val ins = counts(f.filter($"_change_type" === "insert")
      .drop("_change_type", "_commit_version"))
    val del = counts(f.filter($"_change_type" === "delete")
      .drop("_change_type", "_commit_version"))
    val applied = (stateAt(from).keySet ++ ins.keySet ++ del.keySet).map { k =>
      k -> (stateAt(from).getOrElse(k, 0L) + ins.getOrElse(k, 0L)
        - del.getOrElse(k, 0L))
    }.filter(_._2 != 0L).toMap
    assert(applied == stateAt(to),
      s"feed $from..$to does not apply cleanly")
  }

  test("append-only history: every row surfaces as insert with its " +
    "commit version") {
    val (cat, root) = freshCat("ins")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING)")      // v1
    spark.range(0, 50).select($"id".as("k"), lit("a").as("v"))
      .writeTo(s"$cat.t").append()                              // v2
    spark.range(50, 80).select($"id".as("k"), lit("b").as("v"))
      .writeTo(s"$cat.t").append()                              // v3
    val f = feed(root + "/t", 0).collect()
    assert(f.length == 80)
    assert(f.forall(_.getAs[String]("_change_type") == "insert"))
    assert(f.count(_.getAs[Int]("_commit_version") == 2) == 50)
    assert(f.count(_.getAs[Int]("_commit_version") == 3) == 30)
    // _commit_timestamp matches the $snapshots clock per version
    val snapTs = spark.sql(
        s"CALL $cat.system.snapshots('t')").collect()
      .map(r => r.getInt(0) -> r.getTimestamp(3)).toMap
    assert(f.forall(r => r.getAs[java.sql.Timestamp]("_commit_timestamp")
      == snapTs(r.getAs[Int]("_commit_version"))))
    // a sub-range sees only its own commits
    assert(feed(root + "/t", 2).count() == 30)
    checkInvariant(root + "/t", 2, 3)
  }

  test("merge-on-read vector deletes surface exactly the deleted rows " +
    "as 'delete'") {
    val (cat, root) = freshCat("mor")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")           // v1
    spark.range(0, 100).select($"id".as("k"),
      ($"id" % 7).cast("double").as("v")).writeTo(s"$cat.t").append() // v2
    spark.sql(s"DELETE FROM $cat.t WHERE k % 10 = 3")           // v3
    val f = feed(root + "/t", 2)
    val dels = f.filter($"_change_type" === "delete").collect()
    assert(dels.length == 10)
    assert(dels.forall(_.getAs[Long]("k") % 10 == 3))
    assert(dels.forall(_.getAs[Int]("_commit_version") == 3))
    assert(f.filter($"_change_type" === "insert").count() == 0)
    checkInvariant(root + "/t", 0, 3)
    // stacked second delete only surfaces the NEW positions
    spark.sql(s"DELETE FROM $cat.t WHERE k % 10 = 7")           // v4
    val second = feed(root + "/t", 3).filter($"_change_type" === "delete")
    assert(second.count() == 10)
    assert(second.collect().forall(_.getAs[Long]("k") % 10 == 7))
    checkInvariant(root + "/t", 2, 4)
  }

  test("metadata-only delete (unlisted files) surfaces the rows visible " +
    "at the predecessor — earlier MOR holes stay deleted") {
    val (cat, root) = freshCat("meta")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, day BIGINT) " +
      "PARTITIONED BY (day) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")           // v1
    spark.range(0, 90).select($"id".as("k"), ($"id" % 3).as("day"))
      .writeTo(s"$cat.t").append()                              // v2
    spark.sql(s"DELETE FROM $cat.t WHERE k % 9 = 0")            // v3 (MOR)
    // day-aligned: unlists day-0 files without writing anything
    spark.sql(s"DELETE FROM $cat.t WHERE day = 0")              // v4
    val f4 = feed(root + "/t", 3).filter($"_change_type" === "delete")
      .collect()
    // day 0 had 30 rows; v3 already removed k%9==0 among them (k%3==0
    // and k%9==0 → 10 rows), so the unlist surfaces 20
    assert(f4.length == 20, s"got ${f4.length}")
    assert(f4.forall(r => r.getAs[Long]("day") == 0L &&
      r.getAs[Long]("k") % 9 != 0))
    checkInvariant(root + "/t", 0, 4)
    checkInvariant(root + "/t", 2, 4)
  }

  test("COW rewrites surface remove+insert whose net is the update") {
    val (cat, root) = freshCat("cow")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE)")      // v1
    spark.range(0, 60).select($"id".as("k"), lit(1.0).as("v"))
      .writeTo(s"$cat.t").append()                              // v2
    spark.sql(s"UPDATE $cat.t SET v = 2.0 WHERE k < 10")        // v3 (COW)
    val f = feed(root + "/t", 2, Some(3))
    val ins = f.filter($"_change_type" === "insert").collect()
    val del = f.filter($"_change_type" === "delete").collect()
    // the rewritten file(s) surface fully: deletes = old content,
    // inserts = new content; net = 10 rows flipped to 2.0
    assert(del.nonEmpty && ins.nonEmpty)
    assert(ins.count(_.getAs[Double]("v") == 2.0) == 10)
    checkInvariant(root + "/t", 2, 3)
  }

  test("schema evolution inside the range: every row projects through " +
    "the range-END schema (renames uniform, added columns null-fill)") {
    val (cat, root) = freshCat("evo")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE)")       // v1
    spark.range(0, 30).select($"id".as("k"), lit(1.5).as("v"))
      .writeTo(s"$cat.t").append()                               // v2
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO price")    // v3
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN tag STRING")       // v4
    spark.range(30, 40).select($"id".as("k"), lit(2.5).as("price"),
      lit("new").as("tag")).writeTo(s"$cat.t").append()          // v5
    val f = feed(root + "/t", 0)
    assert(f.columns.toSeq == Seq("k", "price", "tag",
      "_change_type", "_commit_version", "_commit_timestamp"))
    val rows = f.collect()
    assert(rows.length == 40)
    // pre-evolution rows surface under the NEW name, tag null-filled
    assert(rows.filter(_.getAs[Int]("_commit_version") == 2)
      .forall(r => r.getAs[Double]("price") == 1.5 && r.isNullAt(2)))
    assert(rows.filter(_.getAs[Int]("_commit_version") == 5)
      .forall(r => r.getAs[Double]("price") == 2.5 &&
        r.getAs[String]("tag") == "new"))
    checkInvariant(root + "/t", 0, 5)
  }

  test("guard rails: changeFeed defaults to full history; vacuumed " +
    "ranges and reclaimed bytes fail loudly") {
    val (cat, root) = freshCat("guard")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                // v1
    spark.range(0, 10).select($"id".as("k")).writeTo(s"$cat.t").append() // v2
    // no changesFrom = the whole history
    val full = spark.read.format("graft-manifest").option("path", s"$root/t")
      .option("changeFeed", "true").load().collect()
    assert(full.length == 10 &&
      full.forall(_.getAs[String]("_change_type") == "insert"))
    // overwrite drops v2's files from the tip; vacuum reclaims them —
    // the unlist step's bytes are gone, so the feed must refuse
    spark.range(10, 15).select($"id".as("k"))
      .writeTo(s"$cat.t").overwrite(lit(true))                  // v3
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    val e2 = intercept[Exception] {
      feed(root + "/t", 1).collect()
    }
    assert(e2.getMessage.contains("expired") ||
      e2.getMessage.contains("vacuumed"), e2.getMessage)
  }

  test("withUpdateImages: keyed upserts pair into update_preimage/" +
    "update_postimage; fresh inserts and takedowns keep their types") {
    import spark.implicits._
    val (cat, root) = freshCat("img")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")           // v1
    (0L until 10L).map(k => (k, s"a-$k")).toDF("k", "v")
      .writeTo(s"$cat.t").append()                              // v2
    // upsert: updates 5..9, fresh inserts 10..12
    (5L until 13L).map(k => (k, s"b-$k")).toDF("k", "v").coalesce(1)
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").option("upsertKeys", "k").save() // v3
    spark.sql(s"DELETE FROM $cat.t WHERE k % 10 = 2")           // v4 (vector)
    val img = ManifestChangeFeed.withUpdateImages(
      feed(s"$root/t", 2, Some(4)), Seq("k"))
    val rows = img.select($"k", $"v", $"_change_type", $"_commit_version")
      .as[(Long, String, String, Int)].collect()
    val byKey = rows.groupBy(_._1)
    (5L until 10L).foreach { k =>
      val legs = byKey(k).sortBy(_._3)
      assert(legs.map(t => (t._2, t._3, t._4)).toSet ==
        Set((s"a-$k", "update_preimage", 3), (s"b-$k", "update_postimage", 3)),
        s"k=$k legs: ${legs.toSeq}")
    }
    (10L until 12L).foreach { k =>
      assert(byKey(k).map(t => (t._3, t._4)).toSeq == Seq(("insert", 3)),
        s"k=$k: ${byKey(k).toSeq}")
    }
    // the takedown (k=2, and the upserted k=12 survives v4? 12%10=2!)
    assert(byKey(2L).map(t => (t._3, t._4)).toSeq == Seq(("delete", 4)))
    // k=12 was inserted at v3 AND vector-deleted at v4 — different
    // versions, so both legs keep their own types (no false pairing)
    assert(byKey(12L).map(t => (t._3, t._4)).toSet ==
      Set(("insert", 3), ("delete", 4)))
    // replay exactness: state(2) + images-as-changes == state(4)
    checkInvariant(s"$root/t", 2, 4)
  }

  test("rollback past a row-level delete poisons the feed range: " +
    "resurrected rows cannot be expressed and fail loudly; pre-rollback " +
    "ranges stay readable") {
    import spark.implicits._
    val (cat, root) = freshCat("rb")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")           // v1
    spark.range(0, 40).select($"id".as("k")).writeTo(s"$cat.t").append() // v2
    // modulo predicate: not provable from file stats, so the MOR delete
    // lands POSITIONAL VECTORS on surviving files (a metadata-only
    // unlist would be expressible — and fine — on rollback)
    spark.sql(s"DELETE FROM $cat.t WHERE k % 4 = 1")            // v3 (MOR)
    // rollback RESURRECTS the vectored rows on files that survive —
    // a diff no insert/delete leg can express
    spark.sql(s"CALL $cat.system.rollback('t', 2)")             // v4
    assert(spark.table(s"$cat.t").count() == 40L)
    val e = intercept[Exception] {
      feed(s"$root/t", 2, Some(4)).collect()
    }
    assert(e.getMessage.contains("removed delete state"), e.getMessage)
    assert(e.getMessage.contains("restart"), e.getMessage)
    // the range ending BEFORE the rollback still reads and applies
    checkInvariant(s"$root/t", 0, 3)
    // upsert flavor: an equality-delete set unlisted by rollback while
    // its target files survive poisons the range the same way
    spark.range(0, 5).select(($"id" + 100).as("k")).coalesce(1)
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").option("upsertKeys", "k").save() // v5
    spark.sql(s"CALL $cat.system.rollback('t', 4)")             // v6
    val e2 = intercept[Exception] {
      feed(s"$root/t", 4, Some(6)).collect()
    }
    assert(e2.getMessage.contains("equality-delete"), e2.getMessage)
  }

  test("STREAMING change feed: a 24/7 consumer receives deletes as " +
    "rows instead of dying on the delete-bearing commit") {
    import org.apache.spark.sql.streaming.Trigger
    val (cat, root) = freshCat("stream")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")           // v1
    spark.range(0, 40).select($"id".as("k")).writeTo(s"$cat.t").append() // v2
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdf_ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cdf_out").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("path", s"$root/t").option("changeFeed", "true")
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
    }
    drain()
    assert(spark.read.parquet(out).count() == 40L)
    // the delete-bearing commit arrives as DELETE ROWS (the plain tail
    // would fail or, with ignoreDeletes, silently skip)
    spark.sql(s"DELETE FROM $cat.t WHERE k % 4 = 1")            // v3
    spark.range(40, 50).select($"id".as("k")).writeTo(s"$cat.t").append() // v4
    drain()
    val rows = spark.read.parquet(out).collect()
    assert(rows.count(_.getAs[String]("_change_type") == "delete") == 10)
    assert(rows.filter(_.getAs[String]("_change_type") == "delete")
      .forall(_.getAs[Long]("k") % 4 == 1))
    assert(rows.count(_.getAs[String]("_change_type") == "insert") == 50)
    assert(rows.filter(r => r.getAs[Int]("_commit_version") == 4)
      .forall(r => r.getAs[Long]("k") >= 40))
  }

  test("maintenance markers: rangeRowPreserving proves a compaction " +
    "tail from ONE raw read; the carry caps at MaintKeep (bounded " +
    "inline metadata over any table lifetime); a data commit in the " +
    "range answers false") {
    val (cat, root) = freshCat("maint")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 100).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                              // v2
    spark.sql(s"CALL $cat.system.compact('t', 2)")              // v3
    spark.sql(s"CALL $cat.system.compact('t', 1)")              // v4
    val dir = new org.apache.hadoop.fs.Path(root, "t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(ManifestChangeFeed.rangeRowPreserving(fs, dir, 2, 4))
    assert(ManifestChangeFeed.rangeRowPreserving(fs, dir, 4, 2),
      "the proof is direction-free (row state identical both ways)")
    assert(!ManifestChangeFeed.rangeRowPreserving(fs, dir, 1, 4),
      "the data append at v2 is not row-preserving")
    assert(ManifestChangeFeed.rangeRowPreserving(fs, dir, 3, 3))
    // the carry keeps the NEWEST MaintKeep markers — bounded forever
    val many = (1 to ManifestFiles.MaintKeep + 88)
      .map(ManifestFiles.maintLine).toArray
    val carried = ManifestFiles.carryMaint(many, Array("entry.parquet,10"))
    val kept = ManifestSnapshot.ofLines(carried).maint
    assert(kept.size == ManifestFiles.MaintKeep)
    assert(kept.min == 89 && kept.max == ManifestFiles.MaintKeep + 88,
      "the cap must retire the OLDEST markers")
  }

  test("skipMaintenance: a mid-tail compaction's cancelling legs are " +
    "omitted (Delta/Iceberg CDC semantics — compactions produce no " +
    "changelog) while the signed fold stays identical; the default " +
    "feed still carries the full remove+insert pair") {
    val (cat, root) = freshCat("skipm")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")             // v1
    spark.range(0, 60).select($"id".as("k"), lit("a").as("v"))
      .writeTo(s"$cat.t").append()                                // v2
    spark.sql(s"DELETE FROM $cat.t WHERE k % 5 = 0")              // v3
    spark.sql(s"CALL $cat.system.compact('t', 1)")                // v4
    spark.range(60, 90).select($"id".as("k"), lit("b").as("v"))
      .writeTo(s"$cat.t").append()                                // v5
    def rows(skip: Boolean) = {
      val r = spark.read.format("graft-manifest")
        .option("path", s"$root/t").option("changeFeed", "true")
        .option("changesFrom", "2").option("changesTo", "5")
      (if (skip) r.option("skipMaintenance", "true") else r).load()
    }
    val full = rows(skip = false)
    val slim = rows(skip = true)
    assert(full.filter($"_commit_version" === 4).count() > 0,
      "the default feed keeps the compaction's legs (full fidelity)")
    assert(slim.filter($"_commit_version" === 4).count() === 0,
      "skipMaintenance must omit the marked step entirely")
    // the slim feed still carries the REAL changes around the skip
    assert(slim.filter($"_commit_version" === 3 &&
      $"_change_type" === "delete").count() === 12)
    assert(slim.filter($"_commit_version" === 5).count() === 30)
    def fold(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"k", $"v")
        .agg(sum(when($"_change_type" === "insert", 1L).otherwise(-1L))
          .as("n")).filter($"n" =!= 0L).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(fold(full) == fold(slim),
      "omitting cancelling legs must not change the signed fold")
    checkInvariant(s"$root/t", 2, 5)
  }

  test("skipMaintenance: a feed whose baseline snapshot was vacuumed " +
    "behind a maintenance run still plans — the marker proof never " +
    "reads the expired version; the default feed fails loudly") {
    val (cat, root) = freshCat("skipv")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                  // v1
    spark.range(0, 40).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                // v2
    spark.sql(s"CALL $cat.system.compact('t', 1)")                // v3
    spark.range(40, 50).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                // v4
    spark.sql(s"CALL $cat.system.vacuum('t', 2)")                 // keeps 3,4
    val e = intercept[Exception] { feed(s"$root/t", 2, Some(4)).collect() }
    assert(e.getMessage.contains("expired"), e.getMessage)
    val slim = spark.read.format("graft-manifest")
      .option("path", s"$root/t").option("changeFeed", "true")
      .option("skipMaintenance", "true")
      .option("changesFrom", "2").option("changesTo", "4").load()
    assert(slim.filter($"_change_type" === "delete").count() === 0)
    assert(slim.select($"k").as[Long].collect().sorted.toSeq ==
      (40L until 50L).toSeq,
      "only the post-maintenance append's legs surface")
  }

  test("skipMaintenance: the from=0 oldest-retained snapshot still " +
    "surfaces as inserts when that version IS a marked maintenance " +
    "commit — it diffs against the EMPTY baseline, not its predecessor") {
    val (cat, root) = freshCat("skip0")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                  // v1
    spark.range(0, 40).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                // v2
    spark.sql(s"CALL $cat.system.compact('t', 1)")                // v3
    spark.range(40, 50).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                // v4
    spark.sql(s"CALL $cat.system.vacuum('t', 2)")                 // keeps 3,4
    val slim = spark.read.format("graft-manifest")
      .option("path", s"$root/t").option("changeFeed", "true")
      .option("skipMaintenance", "true")
      .option("changesFrom", "0").option("changesTo", "4").load()
    assert(slim.filter($"_change_type" === "delete").count() === 0)
    assert(slim.select($"k").as[Long].collect().sorted.toSeq ==
      (0L until 50L).toSeq,
      "the oldest retained snapshot must surface in full")
    assert(slim.filter($"_commit_version" === 3).count() === 40,
      "the marked snapshot version carries the initial inserts")
  }

  test("skipMaintenance: a TAG-pinned baseline with the marked run-end " +
    "vacuumed falls back to diffing against the retained baseline — " +
    "the run's cancelling legs fold back in (unskipped, still exact) " +
    "instead of crashing on the expired run-end snapshot") {
    val (cat, root) = freshCat("skipt")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                  // v1
    spark.range(0, 30).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                // v2
    spark.sql(s"CALL $cat.system.create_tag('t', 'base', 2)")
    spark.sql(s"CALL $cat.system.compact('t', 1)")                // v3
    spark.range(30, 40).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                // v4
    spark.range(40, 45).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                // v5
    spark.sql(s"CALL $cat.system.vacuum('t', 2)") // keeps 2 (tag), 4, 5
    val dir = new org.apache.hadoop.fs.Path(root, "t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_MANIFEST.v3")),
      "precondition: the marked run-end must be vacuumed")
    val slim = spark.read.format("graft-manifest")
      .option("path", s"$root/t").option("changeFeed", "true")
      .option("skipMaintenance", "true")
      .option("changesFrom", "2").option("changesTo", "5").load()
    // the signed fold must still apply cleanly: state(2) + legs = state(5)
    val net = slim.groupBy($"k")
      .agg(sum(when($"_change_type" === "insert", 1L).otherwise(-1L))
        .as("n")).filter($"n" =!= 0L)
      .select($"k").as[Long].collect().sorted.toSeq
    assert(net == (30L until 45L).toSeq,
      "fold(baseline-anchored feed) must equal the real data tail")
  }

  test("vacuumed marked versions: the probes stay conservative and the " +
    "stream never logs an expired offset (round-16 review pass 4)") {
    val (cat, root) = freshCat("vacprobe")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                  // v1
    spark.range(0, 30).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                // v2
    spark.sql(s"CALL $cat.system.create_tag('t', 'base', 2)")
    spark.sql(s"CALL $cat.system.compact('t', 1)")                // v3
    spark.sql(s"DELETE FROM $cat.t WHERE k < 5")                  // v4 (COW)
    spark.sql(s"CALL $cat.system.vacuum('t', 1)") // keeps 2 (tag) + 4
    val dir = new org.apache.hadoop.fs.Path(root, "t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_MANIFEST.v3")))
    // rangeAppendOnly must NOT let the vacuumed marked v3 poison its
    // baseline into an empty listing (which would make v4's subset
    // check vacuously TRUE and pass a retraction): conservative false
    assert(!ManifestChangeFeed.rangeAppendOnly(fs, dir, 2, 4),
      "a COW delete behind a vacuumed compaction must refuse append-only")
    // rowPreservingPrefix must not advance a CDF baseline onto the
    // vacuumed version — consumers anchor reads there
    assert(ManifestChangeFeed.rowPreservingPrefix(fs, dir, 2, 4) == 2)
    // tailFoldable: marked-vacuumed steps are fine (the feed jumps
    // them); a vacuumed DATA step is not
    assert(ManifestChangeFeed.tailFoldable(fs, dir, 2, 4),
      "marked steps need no snapshot — the fold anchors at the baseline")
    // admission must never publish the vacuumed version as an offset:
    // a checkpoint there would wedge the stream on every replay
    val adm = ManifestFiles.admittedEnd(fs, dir, 2, 4, Some(1), None,
      countRemovals = true, skipMaint = true)
    assert(adm != 3, s"admitted offset $adm must never be the vacuumed " +
      "maintenance version")
    // a vacuumed DATA step still refuses foldability
    val (cat2, root2) = freshCat("vacdata")
    spark.sql(s"CREATE TABLE $cat2.t (k BIGINT)")                 // v1
    spark.range(0, 10).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat2.t").append()                               // v2
    spark.sql(s"CALL $cat2.system.create_tag('t', 'base', 2)")
    spark.range(10, 20).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat2.t").append()                               // v3
    spark.range(20, 30).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat2.t").append()                               // v4
    spark.sql(s"CALL $cat2.system.vacuum('t', 1)") // keeps 2 (tag) + 4
    val dir2 = new org.apache.hadoop.fs.Path(root2, "t")
    assert(!ManifestChangeFeed.tailFoldable(fs, dir2, 2, 4),
      "a vacuumed DATA step has no marker proof — must refuse")
  }

  test("skipMaintenance refuses outside change-feed reads") {
    val (cat, root) = freshCat("skipg")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    val e = intercept[Exception] {
      spark.read.format("graft-manifest").option("path", s"$root/t")
        .option("skipMaintenance", "true").load().collect()
    }
    assert(e.getMessage.contains("skipMaintenance"), e.getMessage)
  }
}
