package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** BRANCHES with write support (round 12 — Iceberg refs / the
  * write-audit-publish workflow): `CALL create_branch` forks a writable
  * chain off main; `option("branch", b)` routes reads AND writes to it;
  * `CALL fast_forward` REPLAYS the staged branch commits onto main.
  * Branch chains share main's version numbering (the fork is a twin of
  * main's `v<base>`), so version-scoped metadata (`#born`/`#eqdels`)
  * means the same thing on both chains and replay is verbatim. Branch
  * data files co-locate with main's, so publish is a metadata commit
  * and vacuum treats every branch version as a live root. */
class ManifestBranchSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_br_$tag").toString
    val cat = s"graft_br_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def branchRead(root: String, b: String) =
    spark.read.format("graft-manifest")
      .option("path", root).option("branch", b).load()

  private def branchAppend(root: String, b: String, lo: Int, hi: Int): Unit =
    spark.range(lo, hi).select($"id".as("k"))
      .write.mode("append").format("graft-manifest")
      .option("path", root).option("branch", b).save()

  test("write-audit-publish: stage commits on a branch, main unmoved; " +
    "fast_forward publishes AND re-bases the branch for continuous " +
    "cycles; out-of-band main commits still diverge") {
    val (cat, root) = freshCat("wap")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                 // v1
    spark.range(0, 50).select($"id".as("k")).writeTo(s"$cat.t").append() // v2
    val r = spark.sql(s"CALL $cat.system.create_branch('t', 'audit')")
      .collect()
    assert(r.head.getString(0) == "audit" && r.head.getInt(1) == 2)
    // stage TWO commits on the branch
    branchAppend(s"$root/t", "audit", 50, 80)
    branchAppend(s"$root/t", "audit", 80, 90)
    // audit: branch sees staged rows, main does not
    assert(branchRead(s"$root/t", "audit").count() == 90L)
    assert(spark.table(s"$cat.t").count() == 50L)
    // SQL surface for the audit step: VERSION AS OF '<branch>' reads
    // the branch head through the catalog
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'audit'")
      .head().getLong(0) == 90L)
    // publish
    val ff = spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')")
      .collect()
    // REPLAY semantics: two staged branch commits (v3, v4 on the shared
    // numbering) land on main as versions 3 and 4, lines verbatim
    assert(ff.head.getInt(1) == 4)
    assert(spark.table(s"$cat.t").count() == 90L)
    // each staged commit is its own main version — time travel sees the
    // intermediate audit state, not one collapsed publish
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 3")
      .head().getLong(0) == 80L)
    // the branch chain is now a twin prefix of main: an empty cycle is a
    // version-free no-op, and the SAME long-lived branch serves the next
    // WAP cycle without re-basing
    val noop = spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')")
      .collect()
    assert(noop.head.getInt(1) == 4, "empty cycle must not publish")
    branchAppend(s"$root/t", "audit", 90, 120)
    assert(spark.table(s"$cat.t").count() == 90L, "staged, not published")
    spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')")
    assert(spark.table(s"$cat.t").count() == 120L)
    // an OUT-OF-BAND main commit still diverges the next cycle
    spark.range(500, 510).select($"id".as("k")).writeTo(s"$cat.t").append()
    branchAppend(s"$root/t", "audit", 120, 130)
    val stale = intercept[Exception] {
      spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')").collect()
    }
    assert(stale.getMessage.contains("diverged"), stale.getMessage)
    spark.sql(s"CALL $cat.system.drop_branch('t', 'audit')")
    intercept[Exception] { branchRead(s"$root/t", "audit").collect() }
  }

  test("divergence guard: main advancing after the fork blocks " +
    "fast_forward; abandoned staging is reclaimed by drop_branch+vacuum") {
    val (cat, root) = freshCat("div")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                 // v1
    spark.range(0, 20).select($"id".as("k")).writeTo(s"$cat.t").append() // v2
    spark.sql(s"CALL $cat.system.create_branch('t', 'wip')")
    branchAppend(s"$root/t", "wip", 20, 40)
    val branchFiles = branchRead(s"$root/t", "wip")
      .select(input_file_name()).distinct().count()
    assert(branchFiles > 0)
    // main moves on — the branch is now stale
    spark.range(100, 110).select($"id".as("k")).writeTo(s"$cat.t").append() // v3
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.fast_forward('t', 'wip')").collect()
    }
    assert(e.getMessage.contains("diverged"), e.getMessage)
    // divergence RECOVERY: cherry-pick the branch's append commit (v3 on
    // the shared numbering — v2 is the fork twin) onto the advanced main
    val cp = spark.sql(s"CALL $cat.system.cherry_pick('t', 3, 'wip')")
      .collect()
    assert(cp.head.getInt(1) > 0)
    assert(spark.table(s"$cat.t").count() == 50L) // 20 + 10 + picked 20
    // picking the same commit twice refuses
    val dup = intercept[Exception] {
      spark.sql(s"CALL $cat.system.cherry_pick('t', 3, 'wip')").collect()
    }
    assert(dup.getMessage.contains("already"), dup.getMessage)
    // vacuum keeps branch-referenced data while the branch lives
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    assert(branchRead(s"$root/t", "wip").count() == 40L)
    assert(spark.table(s"$cat.t").count() == 50L)
    // dropping the branch: the PICKED files are now main-referenced and
    // must survive the sweep; main keeps every row
    spark.sql(s"CALL $cat.system.drop_branch('t', 'wip')")
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    assert(spark.table(s"$cat.t").count() == 50L)
    // a non-append commit (COW rewrite) refuses to cherry-pick
    spark.sql(s"UPDATE $cat.t SET k = k + 1000 WHERE k < 5")
    val rewriteV = spark.sql(s"CALL $cat.system.snapshots('t')")
      .agg(max($"version")).head().getInt(0)
    val nonAppend = intercept[Exception] {
      spark.sql(s"CALL $cat.system.cherry_pick('t', $rewriteV)").collect()
    }
    assert(nonAppend.getMessage.contains("APPEND-ONLY"), nonAppend.getMessage)
  }

  test("crash mid-replay: a partially fast-forwarded main is a " +
    "consistent audited prefix and re-running fast_forward resumes " +
    "exactly the remaining tail (the documented recovery contract)") {
    import org.apache.hadoop.fs.Path
    val (cat, root) = freshCat("crash")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                 // v1
    spark.range(0, 20).select($"id".as("k")).writeTo(s"$cat.t").append() // v2
    spark.sql(s"CALL $cat.system.create_branch('t', 'audit')")
    branchAppend(s"$root/t", "audit", 20, 40)                    // v3 staged
    branchAppend(s"$root/t", "audit", 40, 60)                    // v4 staged
    branchAppend(s"$root/t", "audit", 60, 70)                    // v5 staged
    // simulate the crash: replay ONLY v3 onto main exactly as
    // fast_forward's loop does (raw copy minus #branchbase), then "die"
    val dir = new Path(s"$root/t")
    val hconf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(hconf)
    val wRaw = ManifestSnapshot.at(fs, dir, 3, Some("audit")).raw
      .filterNot(_.startsWith("#branchbase,"))
    val wSchema = ManifestSnapshot.at(fs, dir, 3, Some("audit")).requireSchema
    ManifestFiles.publishRawV(fs, hconf, dir,
      (_, v) => { require(v == 3, s"claimed $v"); (wRaw, Nil) }, wSchema)
    // the intermediate state is a CONSISTENT audited prefix, never torn
    assert(spark.table(s"$cat.t").count() == 40L)
    // resume: main's head is still a branch twin, so the divergence
    // check passes and the replay publishes exactly v4..v5
    val ff = spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')")
      .collect()
    assert(ff.head.getInt(1) == 5)
    assert(spark.table(s"$cat.t").count() == 70L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 4")
      .head().getLong(0) == 60L)
  }

  test("24/7 WAP: a STREAM stages epochs on a branch with exactly-once " +
    "markers; main stays clean until fast_forward") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val (cat, root) = freshCat("swap")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                 // v1
    spark.range(0, 10).select($"id".as("k")).writeTo(s"$cat.t").append() // v2
    spark.sql(s"CALL $cat.system.create_branch('t', 'ingest')")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_swap_ck").toString
    val input = MemoryStream[Long](spark)
    def drain(): Unit = {
      val q = input.toDS().selectExpr("value AS k")
        .writeStream.format("graft-manifest")
        .option("path", s"$root/t").option("branch", "ingest")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
    }
    input.addData(10L until 40L: _*)
    drain()
    input.addData(40L until 55L: _*)
    drain()
    // staged on the branch, invisible on main
    assert(branchRead(s"$root/t", "ingest").count() == 55L)
    assert(spark.table(s"$cat.t").count() == 10L)
    // a re-drain with nothing new is a no-op (epoch markers on the
    // branch chain dedup restarts)
    drain()
    assert(branchRead(s"$root/t", "ingest").count() == 55L)
    spark.sql(s"CALL $cat.system.fast_forward('t', 'ingest')")
    assert(spark.table(s"$cat.t").count() == 55L)
  }

  test("WAP with CDC upserts: branch-staged equality deletes apply to " +
    "inherited rows on branch reads, survive fast_forward verbatim, and " +
    "a LATER main upsert still replaces the published files (no " +
    "resurrection from branch-numbered birth markers)") {
    val (cat, root) = freshCat("upsert")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")            // main v1
    def rows(ks: Range, tag: String) =
      ks.toDF("k0").select($"k0".cast("long").as("k"),
        concat(lit(tag + "-"), $"k0").as("v"))
    rows(0 until 10, "base").writeTo(s"$cat.t").append()         // main v2
    def upsert(ks: Range, tag: String, branch: Option[String]): Unit = {
      val w = rows(ks, tag).coalesce(1).write.mode("append")
        .format("graft-manifest").option("path", s"$root/t")
        .option("upsertKeys", "k")
      branch.fold(w)(b => w.option("branch", b)).save()
    }
    // main upsert BEFORE the fork: the branch twin inherits live
    // equality-delete state, which shared numbering keeps meaningful
    upsert(8 until 10, "m0", None)                               // main v3
    spark.sql(s"CALL $cat.system.create_branch('t', 'stage')")   // stage v3
    // two staged upserts: shared numbering means their #eqdels versions
    // scope correctly against the INHERITED entries' #born markers —
    // the branch read already shows the replacement
    upsert(0 until 5, "s1", Some("stage"))                       // stage v4
    upsert(2 until 7, "s2", Some("stage"))                       // stage v5
    val staged = branchRead(s"$root/t", "stage")
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(staged.size == 10)
    assert((0L to 1L).forall(k => staged(k) == s"s1-$k"), staged.toString)
    assert((2L to 6L).forall(k => staged(k) == s"s2-$k"), staged.toString)
    assert(staged(7L) == "base-7", staged.toString)
    assert((8L to 9L).forall(k => staged(k) == s"m0-$k"), staged.toString)
    assert(spark.table(s"$cat.t").filter($"v".startsWith("s"))
      .count() == 0L, "main unmoved while staging")
    // publish: replay lands both upserts as main v4, v5 verbatim
    val ff = spark.sql(s"CALL $cat.system.fast_forward('t', 'stage')")
      .collect()
    assert(ff.head.getInt(1) == 5)
    val pub = spark.table(s"$cat.t")
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(pub == staged, "published head must equal the audited branch")
    // THE regression: a later MAIN upsert must replace every published
    // file — branch-numbered #born markers carried onto main would make
    // born(entry) >= deleteVersion and silently skip them
    upsert(0 until 10, "m", None)                                // main v6
    val after = spark.table(s"$cat.t")
      .select($"k", $"v").as[(Long, String)].collect().toMap
    assert(after.size == 10, s"resurrected duplicates: $after")
    assert((0L to 9L).forall(k => after(k) == s"m-$k"), after.toString)
  }

  test("time travel WITHIN a branch chain: versionAsOf + branch reads " +
    "a staged intermediate state") {
    val (cat, root) = freshCat("tt")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                 // main v1
    spark.range(0, 10).select($"id".as("k")).writeTo(s"$cat.t").append() // v2
    spark.sql(s"CALL $cat.system.create_branch('t', 'wip')")     // wip v2
    branchAppend(s"$root/t", "wip", 10, 30)                      // wip v3
    branchAppend(s"$root/t", "wip", 30, 60)                      // wip v4
    def at(v: Int) = spark.read.format("graft-manifest")
      .option("path", s"$root/t").option("branch", "wip")
      .option("versionAsOf", v.toString).load().count()
    assert(at(2) == 10L, "branch v2 = the fork twin (shared numbering)")
    assert(at(3) == 30L)
    assert(at(4) == 60L)
    assert(spark.table(s"$cat.t").count() == 10L, "main untouched")
    val missing = intercept[Exception] { at(9) }
    assert(missing.getMessage.contains("branch 'wip'"), missing.getMessage)
  }

  test("branch overwrite keeps the fork marker; guards: unknown branch " +
    "writes, streaming, and change feeds refuse") {
    val (cat, root) = freshCat("guard")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                 // v1
    spark.range(0, 10).select($"id".as("k")).writeTo(s"$cat.t").append() // v2
    spark.sql(s"CALL $cat.system.create_branch('t', 'redo')")
    // full REDO on the branch: overwrite, then publish the replacement
    spark.range(500, 520).select($"id".as("k"))
      .write.mode("overwrite").format("graft-manifest")
      .option("path", s"$root/t").option("branch", "redo").save()
    assert(branchRead(s"$root/t", "redo").count() == 20L)
    spark.sql(s"CALL $cat.system.fast_forward('t', 'redo')")
    assert(spark.table(s"$cat.t").count() == 20L)
    assert(spark.table(s"$cat.t").agg(min($"k")).head().getLong(0) == 500L)
    // time travel still reads the pre-publish main
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 2")
      .head().getLong(0) == 10L)
    val noBranch = intercept[Exception] {
      spark.range(0, 5).select($"id".as("k"))
        .write.mode("append").format("graft-manifest")
        .option("path", s"$root/t").option("branch", "nope").save()
    }
    assert(noBranch.getMessage.contains("create_branch"), noBranch.getMessage)
    val noStream = intercept[Exception] {
      val q = spark.readStream.format("graft-manifest")
        .option("path", s"$root/t").option("branch", "redo").load()
        .writeStream.format("console")
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft_br_ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(noStream.getMessage.contains("MAIN"), noStream.getMessage)
    val noCdf = intercept[Exception] {
      spark.read.format("graft-manifest").option("path", s"$root/t")
        .option("branch", "redo").option("changeFeed", "true").load()
        .collect()
    }
    assert(noCdf.getMessage.toLowerCase.contains("branch"), noCdf.getMessage)
  }

  test("a branch obeys its own #tableconf: a CHECK main drops after the " +
    "fork still guards batch appends and streaming epochs on the branch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val (cat, root) = freshCat("decl")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('check.positive'='v >= 0')")
    spark.range(0, 10).select($"id".as("k"), $"id".as("v"))
      .writeTo(s"$cat.t").append()
    spark.sql(s"CALL $cat.system.create_branch('t', 'keep')")
    spark.sql(s"ALTER TABLE $cat.t UNSET TBLPROPERTIES('check.positive')")
    def branchRows() =
      branchRead(s"$root/t", "keep").orderBy($"k").collect().toSeq
    val before = branchRows()
    def messages(e: Throwable): String = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val batch = intercept[Exception] {
      Seq((100L, -5L)).toDF("k", "v")
        .write.mode("append").format("graft-manifest")
        .option("path", s"$root/t").option("branch", "keep").save()
    }
    assert(messages(batch).contains("CHECK constraint 'positive'"),
      messages(batch))
    val input = MemoryStream[Long](spark)
    input.addData(-5L)
    val q = input.toDS().selectExpr("value + 200 AS k", "value AS v")
      .writeStream.format("graft-manifest")
      .option("path", s"$root/t").option("branch", "keep")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_br_decl_ck").toString)
      .trigger(Trigger.AvailableNow()).start()
    val epoch = intercept[Exception] {
      try q.awaitTermination(60000) finally q.stop()
    }
    assert(messages(epoch).contains("CHECK constraint 'positive'"),
      messages(epoch))
    assert(branchRows() == before, "the branch's rows stay unchanged")
    // main dropped the constraint: the same append lands there
    Seq((100L, -5L)).toDF("k", "v").writeTo(s"$cat.t").append()
    assert(spark.table(s"$cat.t").filter($"v" < 0).count() == 1L)
  }
}
