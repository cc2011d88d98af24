package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Round-12 hardening of the manifest format's row-level machinery:
  *
  *   - a merge-on-read commit VALIDATES that every data file its staged
  *     delete vectors reference still exists in the rebased predecessor
  *     (the Iceberg RowDelta rule) — a concurrent compact/COW rewrite
  *     landing between the MOR scan and the commit fails the commit
  *     loudly instead of silently no-op'ing the deletes;
  *   - `rewrite_position_deletes` lands a FRESH merged-file name per
  *     rebase attempt, so losing a claim race retries cleanly instead of
  *     aborting on rename-to-existing.
  */
class ManifestAdviceFixesSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_adv_$tag").toString
    val cat = s"graft_adv_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def dataFiles(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet

  test("MOR commit referencing a concurrently-rewritten data file fails " +
    "loudly; referencing a live file commits") {
    val (cat, root) = freshCat("val")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, s STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    import spark.implicits._
    spark.range(0, 50).select($"id".as("k"), concat(lit("v"), $"id").as("s"))
      .coalesce(1).writeTo(s"$cat.t").append()
    val dir = s"$root/t"
    val victim = dataFiles(dir).head
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new Path(dir).getFileSystem(hconf)
    val schema = ManifestSnapshot.latest(fs, new Path(dir)).requireSchema

    // Stage a delete vector against the current file the way a MOR task
    // would, then COMPACT the table before the commit lands — the race
    // the validation exists for, orchestrated deterministically.
    def stageDelete(queryId: String, delName: String,
        target: String): ManifestDeltaBatchWrite = {
      val staging = new Path(dir, s".staging-$queryId")
      fs.mkdirs(staging)
      val f = new Path(staging, s"$delName.tmp")
      val out = fs.create(f, true)
      try out.write(s"$target,0\n".getBytes("UTF-8")) finally out.close()
      new ManifestDeltaBatchWrite(dir, queryId, schema,
        new SerializableHadoopConf(hconf),
        WriteSpec.of(ManifestSnapshot.latest(fs, new Path(dir)), schema,
          hconf, maintenance = false))
    }

    val doomed = stageDelete("advq1", "delete-advq1-0.del", victim)
    spark.sql(s"CALL $cat.system.compact('t', 1)").collect()
    assert(!ManifestFiles.entries(fs, new Path(dir), None).map(_._1)
        .contains(victim),
      "compact should have rewritten the original file out of the snapshot")
    val err = intercept[IllegalStateException] {
      doomed.commit(Array(
        DeltaCommitted(Nil, Some("delete-advq1-0.del.tmp"), 1L)))
    }
    assert(err.getMessage.contains("concurrent"), err.getMessage)
    assert(err.getMessage.contains(victim), err.getMessage)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 50L,
      "the failed commit must not have removed any row")

    // positive control: a vector against the POST-compact file commits
    val live = ManifestFiles.entries(fs, new Path(dir), None).map(_._1).head
    val ok = stageDelete("advq2", "delete-advq2-0.del", live)
    ok.commit(Array(DeltaCommitted(Nil, Some("delete-advq2-0.del.tmp"), 1L)))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 49L)
  }

  test("rewrite_position_deletes folds repeatedly with per-run merged " +
    "names; vacuum ages out superseded merged files") {
    // The claim-retry branch itself (closure re-invoked after a LOST
    // race) is unreachable deterministically in one JVM — same-process
    // committers serialize on the per-table lock — but the fix's
    // invariant is observable: every fold run lands its OWN
    // delete-merged-<token> file (the name is generated inside the
    // rebase closure), so reruns and retries never rename onto an
    // existing destination; stale ones age out via vacuum.
    val (cat, root) = freshCat("rpd")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, s STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    import spark.implicits._
    spark.range(0, 40).select($"id".as("k"), lit("x").as("s"))
      .coalesce(1).writeTo(s"$cat.t").append()
    spark.sql(s"DELETE FROM $cat.t WHERE k = 1")
    spark.sql(s"DELETE FROM $cat.t WHERE k = 2")
    def mergedFiles(): Set[String] =
      new java.io.File(s"$root/t").listFiles().map(_.getName)
        .filter(_.startsWith("delete-merged-")).toSet
    val r1 = spark.sql(s"CALL $cat.system.rewrite_position_deletes('t')").head()
    assert(r1.getInt(0) == 2 && r1.getInt(1) == 1, s"got $r1")
    val firstMerged = mergedFiles()
    assert(firstMerged.size == 1)
    // more deletes stack on top of the merged file; a second fold lands
    // a DIFFERENT merged name and supersedes the first
    spark.sql(s"DELETE FROM $cat.t WHERE k = 3")
    val r2 = spark.sql(s"CALL $cat.system.rewrite_position_deletes('t')").head()
    assert(r2.getInt(0) == 2 && r2.getInt(1) == 1 && r2.getLong(2) == 3L,
      s"got $r2")
    val secondMerged = mergedFiles() -- firstMerged
    assert(secondMerged.size == 1,
      s"second fold must land a fresh merged file, got ${mergedFiles()}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 37L)
    // the superseded merged file is unreferenced by the retained tip
    spark.sql(s"CALL $cat.system.vacuum('t', 1)").collect()
    assert(mergedFiles() == secondMerged,
      "vacuum must age out the superseded merged delete file")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head().getLong(0) == 37L)
  }

  // ---- round 14 advice fixes ----

  test("vacuum's segment sweep horizon is >= 24h: an unreferenced " +
    "segment a stalled commit wrote 2h ago SURVIVES the sweep") {
    import spark.implicits._
    val (cat, root) = freshCat("seghz")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 40000).select($"id".as("k")).repartition(40)
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()                         // v2
    spark.range(0, 10).select($"id".as("k")).write.mode("overwrite")
      .format("graft-manifest").option("path", s"$root/t").save() // v3
    val dir = new Path(s"$root/t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val dead = ManifestFiles.segmentRefsFromRaw(
      ManifestSnapshot.at(fs, dir, 2).raw).map(_._1)
    assert(dead.nonEmpty)
    // 2 hours old: past the ROUND-13 horizon (1h), inside the new one
    fs.listStatus(dir).foreach { st =>
      if (st.getPath.getName.startsWith("_SEG."))
        fs.setTimes(st.getPath, System.currentTimeMillis() - 7200000L, -1)
    }
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    val onDisk = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("_SEG.")).toSet
    assert(dead.forall(onDisk.contains),
      s"a 2h-old segment was swept inside the 24h window: " +
        s"${dead.filterNot(onDisk.contains)}")
  }

  test("aborting CTAS loser leaves a racing winner's in-flight staging " +
    "bytes intact (abort cleanup is scoped, never rm -rf the dir)") {
    val (cat, root) = freshCat("scoped")
    val dir = new Path(s"$root/raced")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(dir, ".staging-winner"))
    val winnerFile = new Path(dir, ".staging-winner/part-00000")
    val out = fs.create(winnerFile)
    out.writeBytes("winner bytes"); out.close()
    intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.raced AS " +
        "SELECT assert_true(id < 5, 'boom') AS x FROM range(10)"))
    assert(fs.exists(winnerFile),
      "the aborting CTAS deleted the concurrent winner's staged bytes")
    // and with nothing foreign in the directory, abort still reclaims it
    val fresh = new Path(s"$root/fresh2")
    intercept[Exception](spark.sql(
      s"CREATE TABLE $cat.fresh2 AS " +
        "SELECT assert_true(id < 5, 'boom') AS x FROM range(10)"))
    assert(!fs.exists(new Path(fresh, "_MANIFEST.v1")))
    intercept[Exception](spark.table(s"$cat.fresh2").collect())
  }

  test("segCache evicts by SIZE, least-recently-used first — never the " +
    "whole working set at once") {
    import spark.implicits._
    val (_, root) = freshCat("lru")
    val path = s"$root/t"
    // 4 commits x 20 one-row files => 4 segments (>32 data lines each)
    (0 until 4).foreach { i =>
      spark.range(i * 20, (i + 1) * 20).select($"id".as("k"))
        .repartition(20).write.mode("append").format("graft-manifest")
        .option("path", path).save()
    }
    def scan(): Long =
      spark.read.format("graft-manifest").option("path", path).load().count()
    def readsDuring(f: => Unit): Long = {
      val before = ManifestFiles.segmentReads
      f
      ManifestFiles.segmentReads - before
    }
    // default cap: a repeated plan is pure memory reads
    ManifestFiles.clearSegmentCache()
    assert(readsDuring(scan()) > 0)
    assert(readsDuring(scan()) == 0L, "warm plan must not re-read segments")
    // tiny cap: entries evict EACH OTHER (size-aware), but the cache
    // still functions — no clear-everything, the newest entry survives
    spark.conf.set("spark.graft.segCache.maxBytes", "256")
    try {
      ManifestFiles.clearSegmentCache()
      assert(readsDuring(scan()) > 0)
      val rereads = readsDuring(scan())
      assert(rereads > 0, "a 256-byte cap must evict most segments")
    } finally {
      spark.conf.unset("spark.graft.segCache.maxBytes")
      ManifestFiles.clearSegmentCache()
    }
  }

  test("the change feed's import cache holds ONE entry per table dir " +
    "across vacuum advances (superseded epochs evict)") {
    import spark.implicits._
    val (cat, root) = freshCat("impc")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 10).select($"id".as("k")).writeTo(s"$cat.t").append()
    spark.range(10, 20).select($"id".as("k")).writeTo(s"$cat.t").append()
    def feedCount(): Long = spark.read.format("graft-manifest")
      .option("path", s"$root/t").option("changeFeed", "true")
      .option("changesFrom", "0").load().count()
    assert(feedCount() == 20L)
    val dir = new Path(s"$root/t")
    assert(ManifestChangeFeed.importCacheEntriesFor(dir) == 1)
    // vacuum advances the retention epoch; the dir still holds ONE entry
    spark.range(20, 30).select($"id".as("k")).writeTo(s"$cat.t").append()
    spark.sql(s"CALL $cat.system.vacuum('t', 2)")
    val vs = ManifestFiles.versions(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir).sorted
    spark.read.format("graft-manifest")
      .option("path", s"$root/t").option("changeFeed", "true")
      .option("changesFrom", vs.min.toString).load().count()
    assert(ManifestChangeFeed.importCacheEntriesFor(dir) == 1)
  }

  test("task-shared deserialized Hadoop conf is structurally read-only " +
    "(round-16 advice: the content-deduped parse is shared JVM-wide)") {
    val original = spark.sessionState.newHadoopConf()
    original.set("graft.test.marker", "42")
    val wrapped = new SerializableHadoopConf(original)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(wrapped); oos.close()
    val in = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    val shipped = in.readObject().asInstanceOf[SerializableHadoopConf]
    // reads work; the marker survived the round-trip
    assert(shipped.value.get("graft.test.marker") == "42")
    // mutation fails FAST at the write site (set and unset both funnel
    // every Hadoop setter)
    intercept[UnsupportedOperationException] {
      shipped.value.set("graft.test.marker", "boom")
    }
    intercept[UnsupportedOperationException] {
      shipped.value.unset("graft.test.marker")
    }
    assert(shipped.value.get("graft.test.marker") == "42")
    // the documented escape hatch: copy, then mutate the copy
    val copy = new org.apache.hadoop.conf.Configuration(shipped.value)
    copy.set("graft.test.marker", "43")
    assert(copy.get("graft.test.marker") == "43" &&
      shipped.value.get("graft.test.marker") == "42")
    // the driver-side original is untouched by the freeze
    original.set("graft.test.marker", "44")
    assert(original.get("graft.test.marker") == "44")
  }
}
