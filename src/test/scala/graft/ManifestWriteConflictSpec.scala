package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** WRITE-CONFLICT VALIDATION for replacing (copy-on-write) commits —
  * the COW twin of ManifestDelta's merge-on-read guard. A row-level
  * rewrite is computed against the SNAPSHOT ITS SCAN PLANNED; by claim
  * time a concurrent commit may have (a) rewritten one of the files
  * this rewrite replaces — landing both rewrites would DOUBLE the
  * surviving rows and resurrect the winner's deletions — or (b) landed
  * new row-level delete state (#dels vectors / #eqdels upsert sets)
  * the rewrite never saw — its files are born past an eqdel's version,
  * so committing would resurrect the concurrently-deleted rows. Both
  * must abort loudly (Delta's WriteSerializable conflict classes;
  * Iceberg's overwrite validation); blind APPENDS racing a row-level
  * op commute and must keep committing. Compaction's replacing commit
  * obeys the same three rules. The spec drives the real commit closures
  * (ManifestBatchWrite, ManifestCompaction) with REAL interleaved
  * commits — the exact race, deterministically. */
class ManifestWriteConflictSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_wc_$tag").toString
    val cat = s"graft_wc_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private val schema = new StructType().add("k", LongType)

  /** The table's write spec from its head, as the planner derives it. */
  private def specOf(path: String, conf: SerializableHadoopConf): WriteSpec = {
    val dir = new Path(path)
    WriteSpec.of(ManifestSnapshot.latest(dir.getFileSystem(conf.value), dir),
      schema, conf.value, maintenance = false)
  }

  /** Stage one replacement file holding `ks`, exactly as a row-level
    * operation's write task would, and return (write, commit message) —
    * commit() is then the claim-time validation under test. */
  private def stageReplacing(path: String, drop: Set[String],
      scannedState: Set[String], ks: Seq[Long]):
      (ManifestBatchWrite, Array[WriterCommitMessage]) = {
    val conf = new SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val write = new ManifestBatchWrite(path, s"wc-${ks.hashCode}", -1,
      schema, truncate = false, conf, specOf(path, conf),
      dropFromPrevious = () => drop,
      scannedDeleteState = () => Some(scannedState))
    val factory = write.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    // the staged write runs inside a REAL task (the writer reads its
    // TaskContext), exactly like the operation's own job would; the
    // task id must be session-unique like a real TID, or the staged
    // name collides with previously-landed files
    val ksLocal = ks.toArray
    val tid = 900000L + ManifestWriteConflictSpec.seq.incrementAndGet()
    val msgs = spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
      val w = factory.createWriter(0, tid)
      ksLocal.foreach { k =>
        val r = new GenericInternalRow(1)
        r.update(0, k)
        w.write(r.asInstanceOf[InternalRow])
      }
      w.commit()
    }.collect()
    (write, msgs.toArray[WriterCommitMessage])
  }

  private def deleteState(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Set[String] =
    ManifestSnapshot.latest(fs, dir).lines.filter(l =>
      l.startsWith("#dels,") || l.startsWith("#eqdels,")).toSet

  test("a replacing commit whose target file a concurrent commit " +
    "already rewrote ABORTS instead of doubling rows") {
    val (cat, root) = freshCat("gone")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 100).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()
    val dir = new Path(s"$root/t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val f0 = ManifestFiles.entries(fs, dir, None).head._1
    // "scan" sees f0; the rewrite drops it and re-lands the survivors
    val (write, msgs) = stageReplacing(s"$root/t", Set(f0),
      deleteState(fs, dir), (0L until 100L).filter(_ % 2 == 0))
    // concurrent commit rewrites f0 away before our claim
    spark.sql(s"CALL $cat.system.compact('t')")
    val e = intercept[IllegalStateException](write.commit(msgs))
    assert(e.getMessage.contains("concurrent commit already rewrote"))
    // nothing landed: the table still answers the compacted content
    assert(spark.table(s"$cat.t").count() == 100)
  }

  test("a replacing commit races new DELETE STATE (a CDC upsert's " +
    "equality-delete set) and ABORTS instead of resurrecting the " +
    "deleted rows") {
    val (cat, root) = freshCat("state")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    spark.range(0, 100).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()
    val dir = new Path(s"$root/t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val f0 = ManifestFiles.entries(fs, dir, None).head._1
    val (write, msgs) = stageReplacing(s"$root/t", Set(f0),
      deleteState(fs, dir), (0L until 100L).filter(_ % 2 == 0))
    // concurrent CDC upsert deletes-by-key and re-lands k=7 — the
    // staged rewrite above still CONTAINS no k=7 leg awareness
    spark.range(7, 8).select($"id".as("k"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").option("upsertKeys", "k").save()
    val e = intercept[IllegalStateException](write.commit(msgs))
    assert(e.getMessage.contains("new row-level delete state"))
  }

  test("a blind APPEND racing the replacing commit commutes: the " +
    "rewrite lands and both contents survive (snapshot isolation)") {
    val (cat, root) = freshCat("append")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 100).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()
    val dir = new Path(s"$root/t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val f0 = ManifestFiles.entries(fs, dir, None).head._1
    val (write, msgs) = stageReplacing(s"$root/t", Set(f0),
      deleteState(fs, dir), (0L until 100L).filter(_ % 2 == 0))
    spark.range(1000, 1010).select($"id".as("k"))
      .writeTo(s"$cat.t").append() // concurrent blind append
    write.commit(msgs) // must NOT throw
    val ks = spark.table(s"$cat.t").collect().map(_.getLong(0)).sorted
    assert(ks.length == 60)
    assert(ks.count(_ >= 1000) == 10, "the racing append's rows survive")
    assert(ks.filter(_ < 1000).forall(_ % 2 == 0),
      "the rewrite's survivors landed exactly once")
  }

  /** Plan a full compaction of `dir` from its head — the split the
    * procedure runs in one go: plan (head read + scope), write (the
    * pinned scan's rewrite job), commit (the claim under test). */
  private def planCompacting(dir: Path): ManifestCompaction.Plan =
    ManifestCompaction.plan(spark, dir, 1, "", "")

  test("a compaction racing a BLIND APPEND keeps the append's rows " +
    "(they commute); racing a concurrent REWRITE of its inputs it " +
    "ABORTS (both outputs landing would double rows)") {
    val (cat, root) = freshCat("cmp")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 100).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()
    val dir = new Path(s"$root/t")
    // compaction staged from the head's snapshot...
    val s1 = planCompacting(dir).write()
    // ...a blind append races it
    spark.range(5000, 5010).select($"id".as("k")).writeTo(s"$cat.t").append()
    s1.commit()
    val ks = spark.table(s"$cat.t").collect().map(_.getLong(0)).sorted
    assert(ks.length == 110, s"append rows must survive: ${ks.length}")
    assert(ks.count(_ >= 5000) == 10)
    // round 2: a concurrent rewrite of the compaction's INPUT aborts it
    val s2 = planCompacting(dir).write()
    spark.sql(s"CALL $cat.system.compact('t')") // steals every input
    val e = intercept[IllegalStateException](s2.commit())
    assert(e.getMessage.contains("rewrote or removed"))
    assert(spark.table(s"$cat.t").count() == 110, "nothing may land")
  }

  test("a compaction racing new DELETE STATE (a CDC upsert's " +
    "equality-delete set) ABORTS instead of resurrecting the deleted rows") {
    val (cat, root) = freshCat("cmpstate")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    spark.range(0, 100).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()
    val staged = planCompacting(new Path(s"$root/t")).write()
    spark.range(7, 8).select($"id".as("k"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").option("upsertKeys", "k").save()
    val e = intercept[IllegalStateException](staged.commit())
    assert(e.getMessage.contains("new row-level delete state"))
    assert(spark.table(s"$cat.t").count() == 100, "nothing may land")
  }

  test("an append landing between the compaction's head read and its " +
    "scan lands exactly once: the scan is pinned to the head's version " +
    "and the commit keeps the append as a blind append") {
    val (cat, root) = freshCat("pin")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 100).select($"id".as("k")).repartition(3)
      .writeTo(s"$cat.t").append()
    val plan = planCompacting(new Path(s"$root/t"))
    spark.range(5000, 5010).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append() // after the head read, before the scan
    val out = plan.write().commit()
    val ks = spark.table(s"$cat.t").collect().map(_.getLong(0)).sorted
    assert(ks.toSeq == ((0L until 100L) ++ (5000L until 5010L)),
      s"every row exactly once: ${ks.length} rows")
    assert(out.filesAfter == 2, s"the folded file plus the append's: $out")
  }

  test("a blind append's RIDER LINES survive the racing compaction " +
    "verbatim (round-15 self-review: entryName must know #luv/#luvcol/" +
    "#hist, or the keep-filter drops them and assignRowIds backfills " +
    "#luv at the COMPACTION's version — maintenance reading as an " +
    "update, the exact q266 invariant)") {
    val (cat, root) = freshCat("rid")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('row.lineage'='true', " +
      "'stats.histogram.columns'='k')")
    spark.range(0, 100).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append() // v2
    val dir = new Path(s"$root/t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val staged = planCompacting(dir).write()
    spark.range(5000, 5010).select($"id".as("k"))
      .writeTo(s"$cat.t").append() // v3, the blind append
    staged.commit() // v4, the compaction
    val snap = ManifestSnapshot.latest(fs, dir)
    val appendFile = snap.luv
      .collectFirst { case (n, 3) => n }
    assert(appendFile.isDefined,
      s"the append's #luv,<file>,3 must survive the compaction " +
        s"verbatim; luvs now: ${snap.luv}")
    assert(ManifestHist.fromLines(snap.lines).contains(appendFile.get),
      "the append's #hist sample must survive too")
    assert(snap.firstRow.contains(appendFile.get))
    // row-level truth: appended rows still read luv = 3, and the
    // compacted rows keep theirs (2) — maintenance never reads as an
    // update
    val luvs = spark.sql(s"SELECT k, _last_updated_version FROM $cat.t")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((5000L until 5010L).forall(luvs(_) == 3),
      s"append rows must keep THEIR commit version, got " +
        s"${luvs.filter(_._1 >= 5000)}")
    assert((0L until 100L).forall(luvs(_) == 2),
      s"the compaction carries each row's _luv, got ${luvs.filter(_._1 < 100)}")
  }

  test("end to end: SQL UPDATE and DELETE still work and validate " +
    "cleanly when nothing races") {
    val (cat, _) = freshCat("clean")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v DOUBLE)")
    spark.range(0, 500).select($"id".as("k"), ($"id" * 1.0).as("v"))
      .repartition(2).writeTo(s"$cat.t").append()
    spark.sql(s"UPDATE $cat.t SET v = -1.0 WHERE k < 100")
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 400")
    assert(spark.table(s"$cat.t").count() == 400)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE v = -1.0")
      .collect()(0).getLong(0) == 100)
  }
}

object ManifestWriteConflictSpec {
  // session-unique synthetic task ids for the hand-driven staging tasks
  val seq = new java.util.concurrent.atomic.AtomicLong(0L)
}
