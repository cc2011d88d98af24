package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** EQUALITY DELETES + CDC UPSERT (`option("upsertKeys", "k")` on
  * merge-on-read tables — the Iceberg-v2 value-keyed delete flavor):
  * an upsert append records the key tuples it replaces in a KB-scale
  * delete file and touches ZERO existing bytes — the write never reads
  * the table, which is what makes continuous CDC apply feasible at
  * 100 TB (the positional-vector path must scan to find ordinals).
  * Version-scoped applicability (`#born` birth markers vs the delete's
  * commit version) keeps an upsert from swallowing its own inserts. */
class ManifestEqDeleteSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_eqdel").toString

  private def register(root: String): String = {
    val cat = "graft_eq_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  private def fsOf(dir: Path) =
    dir.getFileSystem(spark.sessionState.newHadoopConf())

  test("batch upsert: later keys replace earlier rows without rewriting " +
    "any data file; same-batch inserts survive; time travel pre-images") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.state (k BIGINT, v STRING, n BIGINT) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    def batch(ks: Range, tag: String) =
      ks.toDF("k0").select($"k0".cast("long").as("k"),
        concat(lit(tag + "-"), $"k0").as("v"),
        ($"k0".cast("long") * 10).as("n"))
    batch(0 until 100, "base").writeTo(s"$cat.state").append()      // v2
    val dir = new Path(root, "state")
    val fs = fsOf(dir)
    val baseEntries = ManifestFiles.entries(fs, dir, None).map(_._1).toSet

    // upsert 50..149: replaces 50..99, inserts 100..149
    batch(50 until 150, "up1").coalesce(2)
      .write.mode("append").format("graft-manifest")
      .option("path", dir.toString).option("upsertKeys", "k").save() // v3

    val t = spark.table(s"$cat.state")
    assert(t.count() == 150L)
    assert(t.filter($"k" < 50 && !$"v".startsWith("base-")).count() == 0L)
    assert(t.filter($"k" >= 50 && !$"v".startsWith("up1-")).count() == 0L)
    // no data rewrite: every original entry is still listed, the new
    // lines are the upsert's own files + a KB-scale eqdel file
    val snap = ManifestSnapshot.latest(fs, dir)
    assert(baseEntries.subsetOf(
      snap.entries.map(_._1).toSet))
    assert(snap.eqDeleteFiles.length >= 1)
    // time travel reads the pre-upsert image
    assert(spark.read.format("graft-manifest").option("path", dir.toString)
      .option("versionAsOf", "2").load()
      .filter($"v".startsWith("base-")).count() == 100L)

    // a second upsert stacks: latest wins everywhere it touches
    batch(0 until 60, "up2").coalesce(1)
      .write.mode("append").format("graft-manifest")
      .option("path", dir.toString).option("upsertKeys", "k").save() // v4
    val t2 = spark.table(s"$cat.state")
    assert(t2.count() == 150L)
    assert(t2.filter($"k" < 60 && !$"v".startsWith("up2-")).count() == 0L)
    assert(t2.filter($"k" >= 60 && $"k" < 100 &&
      !$"v".startsWith("up1-")).count() == 0L)

    // projection that DOESN'T include the key still reads filtered rows
    // (the reader widens, filters, projects back)
    val vs = spark.table(s"$cat.state").select($"v").collect()
      .map(_.getString(0))
    assert(vs.length == 150 && vs.count(_.startsWith("up2-")) == 60)

    // $files surfaces the upsert state: pre-upsert files show the
    // delete sets applying to them (the "compact me" signal), upsert-era
    // files carry their birth version and dodge their own deletes
    val meta = spark.table(s"$cat.`state$$files`")
      .select($"file", $"born", $"eq_delete_sets").collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) -1 else r.getInt(1), r.getInt(2)))
    assert(meta.forall(_._2 > 0),
      s"every MOR entry must carry a birth version: ${meta.toSeq}")
    val maxSets = meta.map(_._3).max
    assert(maxSets >= 2 && meta.filter(_._2 == 2).forall(_._3 == maxSets),
      s"the base append's files must show EVERY delete set: ${meta.toSeq}")
    assert(meta.filter(_._2 == 3).forall(_._3 == 1),
      s"v3's files must dodge v3's own sets, see only v4's: ${meta.toSeq}")
    assert(meta.filter(_._2 == 4).forall(_._3 == 0),
      s"v4's files dodge everything: ${meta.toSeq}")

    // compact MATERIALIZES: eqdels gone, values identical
    val before = spark.table(s"$cat.state").orderBy($"k").collect().toSeq
    spark.sql(s"CALL $cat.system.compact('state', 2)").collect()
    val after = ManifestSnapshot.latest(fs, dir)
    assert(after.eqDeleteFiles.isEmpty)
    assert(!after.lines.exists(_.startsWith("#eqdels,")))
    assert(spark.table(s"$cat.state").orderBy($"k").collect().toSeq == before)
  }

  test("multi-column string+long keys: exact tuples replace, commas and " +
    "unicode in key strings round-trip; positional deletes compose") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.kv (grp STRING, id BIGINT, v BIGINT) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    val grps = Seq("plain", "with,comma", "unié中")
    val init = grps.flatMap(g => (0L until 10L).map(i => (g, i, i)))
      .toDF("grp", "id", "v")
    init.writeTo(s"$cat.kv").append()
    // a positional MOR delete first
    spark.sql(s"DELETE FROM $cat.kv WHERE grp = 'plain' AND id = 9")
    // upsert exactly (with,comma, 3) and (unié中, 7)
    Seq(("with,comma", 3L, 1000L), ("unié中", 7L, 2000L))
      .toDF("grp", "id", "v").coalesce(1)
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/kv").option("upsertKeys", "grp,id").save()
    val t = spark.table(s"$cat.kv")
    assert(t.count() == 29L) // 30 - 1 positional
    assert(t.filter($"grp" === "with,comma" && $"id" === 3).collect()
      .map(_.getLong(2)).toSeq == Seq(1000L))
    assert(t.filter($"grp" === "unié中" && $"id" === 7).collect()
      .map(_.getLong(2)).toSeq == Seq(2000L))
    // untouched tuples keep their values; the positional delete holds
    assert(t.filter($"grp" === "plain").count() == 9L)
    assert(t.filter($"v" < 100).count() == 27L)
  }

  test("streaming CDC upsert: per-epoch equality deletes, last epoch " +
    "wins, exactly-once through the txn marker") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.cdc (k BIGINT, v STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v")
      .writeStream.format("graft-manifest")
      .option("path", s"$root/cdc")
      .option("upsertKeys", "k")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      in.addData((0L, "a0"), (1L, "a1"), (2L, "a2"))
      q.processAllAvailable()
      in.addData((1L, "b1"), (3L, "b3"))
      q.processAllAvailable()
      val rows = spark.table(s"$cat.cdc").orderBy($"k").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows == Seq(0L -> "a0", 1L -> "b1", 2L -> "a2", 3L -> "b3"))
    } finally q.stop()
  }

  test("guards: non-MOR table, bad key type, NULL key, overwrite mode, " +
    "DROP of a keyed column, tail/CDF over delete-bearing ranges") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.cow (k BIGINT, v STRING)") // copy-on-write
    val df = Seq((1L, "x")).toDF("k", "v")
    val e1 = intercept[Exception](df.write.mode("append")
      .format("graft-manifest").option("path", s"$root/cow")
      .option("upsertKeys", "k").save())
    assert(e1.getMessage.contains("merge-on-read"), e1.getMessage)

    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, d DOUBLE, v STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    val e2 = intercept[Exception](Seq((1L, 1.0, "x")).toDF("k", "d", "v")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").option("upsertKeys", "d").save())
    assert(e2.getMessage.contains("exact-equality"), e2.getMessage)

    val e3 = intercept[Exception](
      Seq((null.asInstanceOf[java.lang.Long], 1.0, "x")).toDF("k", "d", "v")
        .write.mode("append").format("graft-manifest")
        .option("path", s"$root/t").option("upsertKeys", "k").save())
    assert(e3.getMessage != null)

    val e4 = intercept[Exception](Seq((1L, 1.0, "x")).toDF("k", "d", "v")
      .write.mode("overwrite").format("graft-manifest")
      .option("path", s"$root/t").option("upsertKeys", "k").save())
    assert(e4.getMessage.contains("overwrite"), e4.getMessage)

    // a live eqdel file blocks dropping its key column
    Seq((1L, 1.0, "x")).toDF("k", "d", "v").writeTo(s"$cat.t").append()
    Seq((1L, 2.0, "y")).toDF("k", "d", "v")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").option("upsertKeys", "k").save()
    val e5 = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.t DROP COLUMN k"))
    assert(e5.getMessage.contains("equality-delete"), e5.getMessage)

    // incremental tail refuses the eqdel-bearing range...
    val e6 = intercept[Exception](
      spark.read.format("graft-manifest").option("path", s"$root/t")
        .option("changesFrom", "2").load().collect())
    assert(e6.getMessage.contains("equality"), e6.getMessage)
    // ...unless acknowledged
    assert(spark.read.format("graft-manifest").option("path", s"$root/t")
      .option("changesFrom", "2").option("ignoreDeletes", "true")
      .load().count() == 1L)
    // the change feed EXPRESSES the upsert: delete(old row) +
    // insert(new row)
    val feed = spark.read.format("graft-manifest").option("path", s"$root/t")
      .option("changeFeed", "true").option("changesFrom", "2")
      .load().collect()
      .map(r => (r.getString(3), r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSet
    assert(feed == Set(("delete", 1L, 1.0, "x"), ("insert", 1L, 2.0, "y")),
      feed.toString)
  }

  test("change-typed upsert: 'delete' rows drop their keys' prior rows, " +
    "land no data rows and skip the CHECKs; other markers and a marker " +
    "without upsertKeys fail; the marker is never stored") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.g (k BIGINT, v STRING, n BIGINT) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read', " +
      "'check.n_set'='n IS NOT NULL')")
    (0L until 6L).map(k => (k, s"a$k", k)).toDF("k", "v", "n")
      .writeTo(s"$cat.g").append()
    val dir = new Path(root, "g")
    val fs = fsOf(dir)
    def typed(rows: (Long, String, Option[Long], String)*) =
      rows.toDF("k", "v", "n", "_change_type").coalesce(1)
    def upsert(df: org.apache.spark.sql.DataFrame) =
      df.write.mode("append").format("graft-manifest")
        .option("path", dir.toString).option("upsertKeys", "k").save()
    def state = spark.table(s"$cat.g").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")

    // k=1 updates, k=6 inserts, k=2 and k=3 vanish — one commit; the
    // 'delete' rows' NULL n would fail the CHECK, but never reach it
    val v0 = ManifestFiles.latestComplete(fs, dir)
    upsert(typed((1L, "b1", Some(10L), "insert"), (6L, "b6", Some(6L), "insert"),
      (2L, null, None, "delete"), (3L, null, None, "delete")))
    assert(ManifestFiles.latestComplete(fs, dir) == v0 + 1)
    assert(state == Set(0L -> "a0", 1L -> "b1", 4L -> "a4", 5L -> "a5",
      6L -> "b6"))

    // a delete-only step records its key and lands no data file
    val before = ManifestFiles.entries(fs, dir, None).map(_._1).toSet
    upsert(typed((4L, null, None, "delete")))
    val added = ManifestFiles.entries(fs, dir, None)
      .filterNot(e => before.contains(e._1))
    assert(added.isEmpty, added.toSeq)
    assert(state == Set(0L -> "a0", 1L -> "b1", 5L -> "a5", 6L -> "b6"))

    // the published schema never holds the marker
    assert(ManifestSnapshot.latest(fs, dir).requireSchema.fieldNames.toSeq ==
      Seq("k", "v", "n"))
    assert(spark.table(s"$cat.g").columns.toSeq == Seq("k", "v", "n"))

    // an 'insert' row still meets the CHECK
    val e0 = intercept[Exception](upsert(typed((7L, "x", None, "insert"))))
    assert(messages(e0).contains("n_set"), messages(e0))
    // a marker other than 'insert'/'delete' fails the write
    val e1 = intercept[Exception](
      upsert(typed((5L, "c5", Some(5L), "update_preimage"))))
    assert(messages(e1).contains("update_preimage"), messages(e1))
    // the marker without upsertKeys is refused
    val e2 = intercept[Exception](typed((8L, "x", Some(8L), "insert"))
      .write.mode("append").format("graft-manifest")
      .option("path", dir.toString).save())
    assert(messages(e2).contains("_change_type"), messages(e2))
    assert(state == Set(0L -> "a0", 1L -> "b1", 5L -> "a5", 6L -> "b6"))
  }

  test("the change feed expresses upserts: value-keyed delete legs carry " +
    "the replaced rows' OLD values, stacking and replay-exactness hold") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    def put(rows: Seq[(Long, String)], upsert: Boolean): Unit = {
      val w = rows.toDF("k", "v").coalesce(1)
        .write.mode("append").format("graft-manifest")
        .option("path", s"$root/t")
      (if (upsert) w.option("upsertKeys", "k") else w).save()
    }
    put(Seq(0L -> "a0", 1L -> "a1", 2L -> "a2"), upsert = false) // v2
    put(Seq(1L -> "b1", 3L -> "b3"), upsert = true)              // v3
    put(Seq(1L -> "c1", 0L -> "c0"), upsert = true)              // v4

    def feed(from: Int, to: Int) =
      spark.read.format("graft-manifest").option("path", s"$root/t")
        .option("changeFeed", "true")
        .option("changesFrom", from.toString)
        .option("changesTo", to.toString).load().collect()
        .map(r => (r.getString(2), r.getInt(3), r.getLong(0), r.getString(1)))

    // v3's delete legs carry the OLD value of k=1 exactly once
    assert(feed(2, 3).toSet == Set(
      ("delete", 3, 1L, "a1"), ("insert", 3, 1L, "b1"),
      ("insert", 3, 3L, "b3")))
    // v4 deletes BOTH the original a0 and v3's b1 (already-eq-deleted a1
    // must NOT re-emit — the skip set hides it)
    assert(feed(3, 4).toSet == Set(
      ("delete", 4, 0L, "a0"), ("delete", 4, 1L, "b1"),
      ("insert", 4, 1L, "c1"), ("insert", 4, 0L, "c0")))
    // replay exactness over the whole range: STATE(2) ⊎ ins ∖ dels ==
    // STATE(4), with multiplicities (group-by-count compare)
    val whole = feed(2, 4)
    val state2 = Seq(0L -> "a0", 1L -> "a1", 2L -> "a2")
    val replayed = (state2 ++ whole.filter(_._1 == "insert")
        .map(r => (r._3, r._4)))
      .diff(whole.filter(_._1 == "delete").map(r => (r._3, r._4)))
    val state4 = spark.table(s"$cat.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(replayed.sorted == state4.sorted, s"$replayed vs $state4")
    // the streaming change feed expresses them too
    val dirp = s"$root/sink"
    val q = spark.readStream.format("graft-manifest")
      .option("path", s"$root/t").option("changeFeed", "true")
      .load().writeStream.format("parquet")
      .option("path", dirp).option("checkpointLocation", s"$root/ck2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.parquet(dirp).collect()
      .map(r => (r.getString(2), r.getLong(0), r.getString(1)))
    assert(streamed.count(_._1 == "delete") == 3)
    assert(streamed.count(_._1 == "insert") == 7) // 3 base + 2 + 2
  }
}
