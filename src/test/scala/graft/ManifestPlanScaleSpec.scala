package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** PLAN-PATH SCALE PROOF (round 14 — the missing half of the round-13
  * segment "done"): the same logical table built at two file counts a
  * HUNDREDFOLD apart must cost a selective scan the same plan-time
  * metadata I/O — segment reads grow with the MATCHING data, never the
  * table's total file count. Entries are manifest-only (no data bytes
  * land on disk): planning never opens data files, so the spec measures
  * exactly the metadata path a 10⁶-file corpus's driver would walk. */
class ManifestPlanScaleSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  /** Publish `commits` snapshots of `filesPer` manifest-only entries
    * each. Every entry covers a disjoint k-range of width 10, exactly
    * like time-keyed appends would, so a point predicate matches ONE
    * entry — and `#segstats` union ranges let whole segments prune. */
  private def buildTable(path: String, commits: Int, filesPer: Int): Unit = {
    val dir = new Path(path)
    val hconf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(hconf)
    val schema = new StructType().add("k", LongType)
    (0 until commits).foreach { c =>
      val lines = (0 until filesPer).flatMap { f =>
        val name = f"synthetic-$c%05d-$f%05d.parquet"
        val lo = (c.toLong * filesPer + f) * 10
        Seq(s"$name,10",
          ManifestFiles.statsLine(name, 1000L, Seq(0 ->
            ManifestFiles.ColStats(0, Some(lo.toString),
              Some((lo + 9).toString)))))
      }.toArray
      ManifestFiles.publishSnapshotV(fs, hconf, dir,
        (prev, _) => prev.lines ++ lines, schema)
    }
  }

  /** Cold-cache plan of `k = <point>`: (segment files read, partitions
    * planned). Planning only — the scan never executes. */
  private def planReads(path: String, k: Long): (Long, Int) = {
    ManifestFiles.clearSegmentCache()
    val before = ManifestFiles.segmentReads
    val df = spark.read.format("graft-manifest").option("path", path)
      .load().filter(col("k") === k)
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the plan"))
    val parts = scan.inputPartitions.length
    (ManifestFiles.segmentReads - before, parts)
  }

  test("a selective scan's plan-time segment reads track the MATCH, " +
    "not the table: 100x the files, same files planned, bounded reads") {
    val rootS = java.nio.file.Files
      .createTempDirectory("graft_scale_s").toString + "/t"
    val rootB = java.nio.file.Files
      .createTempDirectory("graft_scale_b").toString + "/t"
    buildTable(rootS, 2, 100)    //    200 entries,  2 segments
    buildTable(rootB, 100, 200)  // 20,000 entries, ~40+ segments (LSM)
    val dirB = new Path(rootB)
    val fsB = dirB.getFileSystem(spark.sessionState.newHadoopConf())
    val totalSegsB = ManifestFiles.segmentRefsFromRaw(
      ManifestSnapshot.latest(fsB, dirB).raw).size
    val totalEntriesB = ManifestFiles.entries(fsB, dirB, None).length
    assert(totalEntriesB == 20000)
    assert(totalSegsB >= 10, s"expected a segmented big table, " +
      s"got $totalSegsB segments")
    // the SAME point predicate against both tables
    val (readsS, partsS) = planReads(rootS, 55L)
    val (readsB, partsB) = planReads(rootB, 55L)
    // correctness of the plan: exactly the one matching file survives
    assert(partsS == 1, s"small table planned $partsS files")
    assert(partsB == 1, s"big table planned $partsB files")
    // THE scale assertion: metadata reads on the 100x table stay within
    // a small constant of the 1x table — never O(total segments)
    assert(readsS >= 1)
    assert(readsB <= math.max(4L, readsS * 4),
      s"plan-time segment reads grew with table size: " +
        s"$readsB reads at 20k files vs $readsS at 200 " +
        s"($totalSegsB segments available)")
    assert(readsB < totalSegsB / 2,
      s"a selective plan read $readsB of $totalSegsB segments — " +
        "segment pruning is not engaging")
  }

  /** Like buildTable, but every entry also carries `#ndv` and `#hist`
    * riders — the commit path then pre-merges them into per-segment
    * `#segndv`/`#seghist` summaries (round 16). */
  private def buildStatTable(path: String, commits: Int,
      filesPer: Int): Unit = {
    val dir = new Path(path)
    val hconf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(hconf)
    val schema = new StructType().add("k", LongType)
    (0 until commits).foreach { c =>
      val lines = (0 until filesPer).flatMap { f =>
        val name = f"synthetic-$c%05d-$f%05d.parquet"
        val lo = (c.toLong * filesPer + f) * 10
        val regs = ManifestNdv.emptyRegisters()
        (lo until lo + 10).foreach(v =>
          ManifestNdv.add(regs, ManifestNdv.hash(LongType, v)))
        val sample = Array.tabulate(8)(i => (lo + i).toDouble + 1.0)
        Seq(s"$name,10",
          ManifestFiles.statsLine(name, 1000L, Seq(0 ->
            ManifestFiles.ColStats(0, Some(lo.toString),
              Some((lo + 9).toString)))),
          ManifestNdv.line(name, Seq(0 -> regs)),
          ManifestHist.line(name, Seq(0 -> ((sample, 10L)))))
      }.toArray
      ManifestFiles.publishSnapshotV(fs, hconf, dir,
        (prev, _) => prev.lines ++ lines, schema)
    }
  }

  private def columnStatsOf(path: String, filterK: Option[Long] = None):
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics = {
    val df0 = spark.read.format("graft-manifest").option("path", path).load()
    val df = filterK.fold(df0)(k => df0.filter(col("k") === k))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the plan"))
    val stats = scan.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics()
    val cols = stats.columnStats()
    import scala.jdk.CollectionConverters._
    cols.asScala.collectFirst { case (ref, cs)
      if ref.fieldNames().sameElements(Array("k")) => cs }
      .getOrElse(fail(s"no column stats for k: ${cols.keySet()}"))
  }

  test("COLUMN-STAT assembly is O(segments), not O(kept files): a full " +
    "scan over 20k summarized files folds pre-merged #segndv/#seghist " +
    "lines — per-file contributions stay ~zero — and the estimates " +
    "stay right") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_scale_cs").toString + "/t"
    buildStatTable(root, 100, 200) // 20,000 entries
    val before = StatMergeProbe.perFile.get()
    val cs = columnStatsOf(root)
    val perFileFolds = StatMergeProbe.perFile.get() - before
    // THE scale assertion: everything arrives pre-merged per segment
    // (inline leftovers are bounded by InlineDataMax, not table size)
    assert(perFileFolds <= 96,
      s"plan-time column-stat assembly folded $perFileFolds per-file " +
        "contributions on a fully-summarized 20k-file table")
    // and the merged numbers are the RIGHT numbers
    assert(cs.nullCount().getAsLong == 0L)
    assert(cs.min().get() == 0L && cs.max().get() == 199999L,
      s"bounds ${cs.min()}/${cs.max()}")
    val ndv = cs.distinctCount().getAsLong.toDouble
    assert(math.abs(ndv - 200000.0) / 200000.0 < 0.15,
      s"ndv $ndv not within 15% of 200000")
    val h = cs.histogram().get()
    val bins = h.bins()
    assert(bins.length == ManifestHist.Buckets)
    assert(bins.head.lo() == 0.0 && bins.last.hi() == 199999.0,
      s"histogram must stretch to the exact bounds: " +
        s"[${bins.head.lo()}, ${bins.last.hi()}]")
    bins.sliding(2).foreach(p => assert(p(0).hi() <= p(1).hi()))
    // total mass ≈ height × bins = 200k non-null samples' weight
    assert(math.abs(h.height() * bins.length - 200000.0) < 1.0)
    // a PARTIALLY-pruned segment falls back to per-file assembly for
    // its own members only — stats then describe the kept file exactly
    val one = columnStatsOf(root, filterK = Some(555L))
    assert(one.min().get() == 550L && one.max().get() == 559L,
      s"post-pruning stats must describe the surviving file: " +
        s"${one.min()}/${one.max()}")
  }

  test("segment-summary histogram path is EXACT when per-file weights " +
    "are uniform and under the compress cap: bins bit-equal the pure " +
    "per-file merge") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_scale_cx").toString + "/t"
    buildStatTable(root, 1, 40) // one segment, 40×8 = 320 ≤ SegEmitCap
    val cs = columnStatsOf(root)
    val got = cs.histogram().get().bins()
      .map(b => (b.lo(), b.hi(), b.ndv())).toSeq
    val perFile = (0 until 40).map { f =>
      val lo = f.toLong * 10
      (Array.tabulate(8)(i => (lo + i).toDouble + 1.0), 10L)
    }
    val want0 = ManifestHist.merge(perFile).get
    // the scan stretches the outer bins to the exact #stats bounds
    val want = want0._2.clone()
    want(0) = (0.0, want(0)._2, want(0)._3)
    want(want.length - 1) =
      (want(want.length - 1)._1, 399.0, want(want.length - 1)._3)
    assert(got == want.toSeq,
      s"seg-path bins drifted from the per-file merge:\n$got\nvs\n" +
        want.toSeq)
  }

  test("an UNSELECTIVE scan still materializes everything (pruning is " +
    "exact, never lossy) and a warm re-plan costs zero reads") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_scale_u").toString + "/t"
    buildTable(root, 10, 50) // 500 entries
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    ManifestFiles.clearSegmentCache()
    val before = ManifestFiles.segmentReads
    val df = spark.read.format("graft-manifest").option("path", root).load()
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the plan"))
    assert(scan.inputPartitions.length == 500)
    val coldReads = ManifestFiles.segmentReads - before
    assert(coldReads >= 1)
    // warm re-plan: the (bounded, LRU) cache serves every segment
    val before2 = ManifestFiles.segmentReads
    val df2 = spark.read.format("graft-manifest").option("path", root)
      .load().filter(col("k") === 123L)
    val scan2 = df2.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the plan"))
    assert(scan2.inputPartitions.length == 1)
    assert(ManifestFiles.segmentReads - before2 == 0L,
      "warm plan re-read segments")
  }
}
