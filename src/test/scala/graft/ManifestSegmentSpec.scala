package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** SEGMENTED snapshot storage (round 13 — Iceberg's manifest-list
  * model): the atomically-claimed `_MANIFEST.v<N>` is a small LIST
  * (inline control lines + `#seg` references to immutable `_SEG.*`
  * files carrying the bulk), so commit I/O is O(delta) instead of
  * O(table) — the difference between a streaming sink committing
  * per-epoch into a million-file table and rewriting a million-line
  * manifest each batch. Copy-style commits (branch, rollback,
  * fast_forward) re-reference segments verbatim; legacy full-listing
  * version files stay readable and convert on their first commit. */
class ManifestSegmentSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_seg").toString

  private def fsOf(dir: Path) =
    dir.getFileSystem(spark.sessionState.newHadoopConf())

  private def append(path: String, lo: Int, hi: Int, parts: Int = 1): Unit =
    spark.range(lo, hi).select($"id".as("k")).repartition(parts)
      .write.mode("append").format("graft-manifest")
      .option("path", path).save()

  private def rawBytes(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long =
    fs.getFileStatus(p).getLen

  test("commit I/O is O(delta): a 1-file append onto a wide table writes " +
    "a small list that re-references the big segment, not a relisting") {
    val path = tmpDir()
    append(path, 0, 64000, parts = 64)                            // v1: 64 files
    val dir = new Path(path)
    val fs = fsOf(dir)
    val raw1 = ManifestSnapshot.at(fs, dir, 1).raw
    assert(ManifestFiles.isListFormat(raw1))
    val segs1 = ManifestFiles.segmentRefsFromRaw(raw1)
    assert(segs1.nonEmpty, "64 files must spill into a segment")
    val bulkBytes = segs1.map(s => rawBytes(fs, new Path(dir, s._1))).sum

    append(path, 64000, 64010, parts = 1)                         // v2: 1 file
    val raw2 = ManifestSnapshot.at(fs, dir, 2).raw
    val segs2 = ManifestFiles.segmentRefsFromRaw(raw2)
    // v1's segments are re-referenced verbatim — never rewritten
    assert(segs1.map(_._1).toSet.subsetOf(segs2.map(_._1).toSet),
      s"v2 must reuse v1 segments: ${segs1.map(_._1)} vs ${segs2.map(_._1)}")
    // the commit's OWN bytes (list file + any new segment) are delta-sized
    val newSegBytes = (segs2.map(_._1).toSet -- segs1.map(_._1).toSet)
      .toSeq.map(n => rawBytes(fs, new Path(dir, n))).sum
    val commitBytes = rawBytes(fs, new Path(dir, "_MANIFEST.v2")) + newSegBytes
    assert(commitBytes * 10 < bulkBytes,
      s"commit wrote $commitBytes bytes vs $bulkBytes bulk — not O(delta)")
    // the materialized snapshot is exact
    assert(spark.read.format("graft-manifest").option("path", path)
      .load().count() == 64010L)
    val entries = ManifestFiles.entries(fs, dir, Some(2))
    assert(entries.length == 65 && entries.map(_._2).sum == 64010L)
  }

  test("unbounded tiny commits stay bounded: inline data spills " +
    "amortized, segment count respects the ceiling, reads stay exact") {
    val path = tmpDir()
    (0 until 80).foreach(i => append(path, i * 10, i * 10 + 10))
    val dir = new Path(path)
    val fs = fsOf(dir)
    val raw = ManifestSnapshot.at(fs, dir, 80).raw
    assert(ManifestFiles.isListFormat(raw))
    val segs = ManifestFiles.segmentRefsFromRaw(raw)
    assert(segs.length <= ManifestFiles.MaxSegments,
      s"${segs.length} segments exceed the ceiling")
    // the LIST itself stays small: control + bounded inline + seg refs
    assert(raw.length <= 150, s"list has ${raw.length} lines")
    assert(spark.read.format("graft-manifest").option("path", path)
      .load().count() == 800L)
    // every version in the chain still materializes consistently
    assert(ManifestFiles.entries(fs, dir, Some(40)).length == 40)
  }

  test("legacy full-listing version files read unchanged and convert " +
    "on their first commit") {
    val path = tmpDir()
    append(path, 0, 100, parts = 2)                               // v1
    val dir = new Path(path)
    val fs = fsOf(dir)
    // rewrite v1 as the LEGACY format: the materialized lines verbatim
    val legacy = ManifestFiles.linesOf(fs, dir, Some(1))
    val mf = new Path(dir, "_MANIFEST.v1")
    val out = fs.create(mf, true)
    try out.write(legacy.sorted.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    assert(!ManifestFiles.isListFormat(
      ManifestSnapshot.at(fs, dir, 1).raw))
    // reads pass through
    assert(spark.read.format("graft-manifest").option("path", path)
      .load().count() == 100L)
    assert(ManifestFiles.linesOf(fs, dir, Some(1)).sorted.toSeq ==
      legacy.sorted.toSeq)
    // the next commit converts: v2 is a list and the table stays exact
    append(path, 100, 120)
    assert(ManifestFiles.isListFormat(
      ManifestSnapshot.at(fs, dir, 2).raw))
    assert(spark.read.format("graft-manifest").option("path", path)
      .load().count() == 120L)
  }

  test("copy-style commits share segments: branch fork, rollback, and " +
    "fast_forward re-reference instead of re-listing") {
    val root = tmpDir()
    val cat = "graft_segcopy_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                  // v1
    spark.range(0, 50000).select($"id".as("k")).repartition(48)
      .writeTo(s"$cat.t").append()                                // v2: 48 files
    val dir = new Path(root, "t")
    val fs = fsOf(dir)
    val mainSegs = ManifestFiles.segmentRefsFromRaw(
      ManifestSnapshot.at(fs, dir, 2).raw).map(_._1).toSet
    assert(mainSegs.nonEmpty)
    // branch fork: same segments, tiny list
    spark.sql(s"CALL $cat.system.create_branch('t', 'b')")        // b v2
    val branchRaw = ManifestSnapshot.at(fs, dir, 2, Some("b")).raw
    assert(ManifestFiles.segmentRefsFromRaw(branchRaw).map(_._1).toSet
      == mainSegs)
    assert(branchRaw.length < 20)
    // a staged branch append + fast_forward re-reference too
    spark.range(50000, 50010).select($"id".as("k"))
      .write.mode("append").format("graft-manifest")
      .option("path", dir.toString).option("branch", "b").save()  // b v3
    spark.sql(s"CALL $cat.system.fast_forward('t', 'b')")         // main v3
    val ffSegs = ManifestFiles.segmentRefsFromRaw(
      ManifestSnapshot.at(fs, dir, 3).raw).map(_._1).toSet
    assert(mainSegs.subsetOf(ffSegs))
    assert(spark.table(s"$cat.t").count() == 50010L)
    // rollback: re-references version 2's segments verbatim
    spark.sql(s"CALL $cat.system.rollback('t', 2)")               // v4
    val rbRaw = ManifestSnapshot.at(fs, dir, 4).raw
    assert(ManifestFiles.segmentRefsFromRaw(rbRaw).map(_._1).toSet == mainSegs)
    assert(spark.table(s"$cat.t").count() == 50000L)
  }

  test("vacuum sweeps segments no retained version references (after " +
    "the safety window) and keeps every live one") {
    val root = tmpDir()
    val cat = "graft_segvac_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val path = s"$root/t"
    append(path, 0, 40000, parts = 40)                            // v1
    // full REDO drops every v1 entry from the head
    spark.range(0, 100).select($"id".as("k")).repartition(36)
      .write.mode("overwrite").format("graft-manifest")
      .option("path", path).save()                                // v2
    val dir = new Path(path)
    val fs = fsOf(dir)
    val deadSegs = ManifestFiles.segmentRefsFromRaw(
      ManifestSnapshot.at(fs, dir, 1).raw).map(_._1)
    val liveSegs = ManifestFiles.segmentRefsFromRaw(
      ManifestSnapshot.at(fs, dir, 2).raw).map(_._1)
    assert(deadSegs.nonEmpty && liveSegs.nonEmpty)
    // age every segment past the safety window (>= 24h since round 14 —
    // a stalled claim loop must never lose its segment), then expire v1
    fs.listStatus(dir).foreach { st =>
      if (st.getPath.getName.startsWith("_SEG."))
        fs.setTimes(st.getPath,
          System.currentTimeMillis() - 25L * 3600000L, -1)
    }
    spark.sql(s"CALL $cat.system.vacuum('t', 1)")
    val onDisk = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("_SEG.")).toSet
    assert(deadSegs.forall(!onDisk.contains(_)),
      s"dead segments survived: ${deadSegs.filter(onDisk.contains)}")
    assert(liveSegs.forall(onDisk.contains),
      s"live segments swept: ${liveSegs.filterNot(onDisk.contains)}")
    assert(spark.table(s"$cat.t").count() == 100L)
  }

  test("segment pruning: a pushed predicate disproved by the #segstats " +
    "union range skips the whole segment UNREAD, with file-level metric " +
    "parity") {
    val path = tmpDir()
    append(path, 0, 64000, parts = 48)                            // v1
    val dir = new Path(path)
    val fs = fsOf(dir)
    val raw1 = ManifestSnapshot.at(fs, dir, 1).raw
    // the segment carries an aggregate summary whose union covers the
    // member files' ranges
    val sums = raw1.filter(_.startsWith("#segstats,"))
      .flatMap(ManifestFiles.parseSegStats)
    assert(sums.length == 1, raw1.filterNot(_.contains("part-")).toSeq)
    val (files, rows, st) = sums.head._2
    assert(files == 48 && rows == 64000L)
    assert(st.cols(0).min.map(_.toLong).contains(0L))
    assert(st.cols(0).max.map(_.toLong).contains(63999L))
    // PROOF the scan never opens a pruned segment: graft a FAKE segment
    // ref (no file on disk) whose summary is disjoint from the predicate.
    // If pruning engages, the scan skips it unread and counts its files;
    // if it did not, the missing segment would silently resolve empty
    // and the counter could not include them.
    val mn = java.util.Base64.getEncoder.encodeToString("900000".getBytes)
    val mx = java.util.Base64.getEncoder.encodeToString("999999".getBytes)
    val fake = Array(
      "#seg,_SEG.nonexistent,14",
      s"#segstats,_SEG.nonexistent,7,7000,1234,0=0:$mn:$mx")
    val mf = new Path(dir, "_MANIFEST.v1")
    val out = fs.create(mf, true)
    try out.write((raw1 ++ fake).mkString("\n").getBytes("UTF-8"))
    finally out.close()
    import org.apache.spark.sql.functions._
    val q = spark.read.format("graft-manifest").option("path", path).load()
      .filter(col("k") < 100L).agg(count(lit(1)))
    assert(q.collect()(0).getLong(0) == 100L)
    def metric(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      val finalPlan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def scansOf(p: SparkPlan): Seq[BatchScanExec] =
        p.collectWithSubqueries {
          case b: BatchScanExec => Seq(b)
          case qs: QueryStageExec => scansOf(qs.plan)
        }.flatten
      scansOf(finalPlan).flatMap(_.metrics.get(name)).map(_.value).sum
    }
    // 48 real files + 7 pruned-by-segment phantoms all count as listed
    // (the phantom segment has no file on disk, so the count PROVES the
    // scan skipped it unread); skipped = the phantoms + whatever real
    // files happened to be file-level skippable
    assert(metric(q, "filesListed") == 55L, "segment pruning did not engage")
    assert(metric(q, "filesSkipped") >= 7L)
    assert(metric(q, "segmentsPruned") == 1L,
      "the dedicated segment counter must report the pruned phantom")
  }

  test("t$segments inspects the metadata layer: per-segment cardinality " +
    "+ summary presence, the inline row, and reconciliation with the " +
    "snapshot totals") {
    val root = tmpDir()
    val cat = "graft_segmeta_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")                   // v1
    spark.range(0, 40000).select($"id".as("k")).repartition(40)
      .writeTo(s"$cat.t").append()                                 // v2: seg
    spark.range(40000, 40005).select($"id".as("k")).coalesce(1)
      .writeTo(s"$cat.t").append()                                 // v3: inline
    val segs = spark.table(s"$cat.`t$$segments`")
    val rows = segs.collect().map(r => (r.getString(0), r.getInt(1),
      r.getLong(2), r.getBoolean(5)))
    val inline = rows.find(_._1 == "(inline)").get
    assert(inline._2 == 1 && inline._3 == 5L, inline.toString)
    val real = rows.filterNot(_._1 == "(inline)")
    assert(real.nonEmpty && real.forall(_._1.startsWith("_SEG.")))
    assert(real.map(_._2).sum == 40, s"segment files: ${real.toSeq}")
    assert(real.forall(_._4), "bulk segments carry #segstats summaries")
    // totals reconcile with the table itself
    assert(rows.map(_._3).sum == spark.table(s"$cat.t").count())
  }

  test("streaming epoch markers dedupe to the max per query — the " +
    "inline control section stays O(streams), not O(epochs)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val path = tmpDir()
    append(path, 0, 10)                                           // v1
    val ckpt = java.nio.file.Files.createTempDirectory("graft_seg_ck").toString
    val input = MemoryStream[Long](spark)
    def drain(): Unit = {
      val q = input.toDS().selectExpr("value AS k")
        .writeStream.format("graft-manifest").option("path", path)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
    }
    (0 until 5).foreach { i =>
      input.addData((10 + i * 5).toLong until (15 + i * 5).toLong: _*)
      drain()
    }
    val dir = new Path(path)
    val fs = fsOf(dir)
    val snap = ManifestSnapshot.latest(fs, dir)
    val txns = snap.lines.filter(_.startsWith("#txn,"))
    assert(txns.length == 1, s"expected 1 deduped #txn, got: ${txns.toSeq}")
    // exactly-once still holds: a no-op re-drain adds nothing
    val before = spark.read.format("graft-manifest").option("path", path)
      .load().count()
    drain()
    assert(spark.read.format("graft-manifest").option("path", path)
      .load().count() == before)
    assert(before == 35L)
  }
}
