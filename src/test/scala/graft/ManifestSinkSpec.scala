package graft

import org.scalatest.funsuite.AnyFunSuite

/** ManifestSink (custom DSv2 write path) commit-protocol contract:
  * successful jobs publish an atomic _MANIFEST over renamed task files;
  * failed jobs leave NO visible output — no manifest, no staged temp
  * files (task-level abort deletes its own .tmp, job-level abort sweeps
  * the rest). The retry-success path (task fails once, retried attempt
  * commits, manifest complete) runs under local[4,2] in
  * RetryDeterminismSpec's subprocess. */
class ManifestSinkSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_manifest").toString

  test("commit publishes a manifest matching the files and row counts") {
    import spark.implicits._
    val path = tmpDir()
    spark.range(0, 1000, 1, 4)
      .select($"id", ($"id" % 7).as("m"))
      .write.mode("append").format("graft-manifest").option("path", path)
      .save()
    val dir = new java.io.File(path)
    val lines = new String(java.nio.file.Files.readAllBytes(
      dir.toPath.resolve("_MANIFEST")), "UTF-8").split("\n")
    val manifest = lines.filterNot(_.startsWith("#"))
    assert(manifest.length == 4)
    val listed = manifest.map(_.split(",")(0)).toSet
    val onDisk = dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet
    assert(listed == onDisk, s"manifest $listed vs disk $onDisk")
    assert(!onDisk.exists(_.endsWith(".tmp")))
    assert(manifest.map(_.split(",")(1).toLong).sum == 1000)
    // every data file also carries a `#stats` line with its exact size
    // and per-column min/max (round-10 data-skipping metadata)
    val stats = lines.filter(_.startsWith("#stats,"))
      .flatMap(graft.sources.ManifestFiles.parseStatsLine).toMap
    assert(stats.keySet == onDisk)
    assert(stats.values.forall(_.bytes > 0))
    val mins = stats.values.flatMap(_.cols(0).min).map(_.toLong)
    val maxs = stats.values.flatMap(_.cols(0).max).map(_.toLong)
    assert(mins.min == 0L && maxs.max == 999L)
    // Row content round-trips through an INDEPENDENT decoder.
    val back = spark.read.parquet(dir.listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath): _*)
    assert(back.count() == 1000)
  }

  test("empty write tasks land no file: an empty append repartitioned " +
    "to 3 commits its version with no entries; an empty CTAS still " +
    "creates the table") {
    import spark.implicits._
    import graft.sources.ManifestFiles
    val path = tmpDir()
    spark.range(0, 10).select($"id", ($"id" % 7).as("m")).coalesce(1)
      .write.mode("append").format("graft-manifest").option("path", path)
      .save()                                                    // v1
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val before = ManifestFiles.entries(fs, dir, None).map(_._1).toSet
    spark.range(0, 10).select($"id", ($"id" % 7).as("m"))
      .filter($"id" < 0).repartition(3)
      .write.mode("append").format("graft-manifest").option("path", path)
      .save()                                                    // v2
    assert(ManifestFiles.latestComplete(fs, dir) == 2,
      "an empty write still commits its version")
    val added = ManifestFiles.entries(fs, dir, None)
      .filterNot(e => before.contains(e._1))
    assert(added.isEmpty, added.toSeq)
    assert(new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSet == before)
    // CTAS of an empty result: the table exists, schema published, no entries
    val root = tmpDir()
    val cat = "graft_sink_empty_" + math.abs(root.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.e AS SELECT id, id % 7 AS m " +
      "FROM range(10) WHERE id < 0")
    val edir = new org.apache.hadoop.fs.Path(root, "e")
    assert(ManifestFiles.latestComplete(fs, edir) >= 1)
    assert(ManifestFiles.entries(fs, edir, None).isEmpty)
    assert(spark.table(s"$cat.e").columns.toSeq == Seq("id", "m"))
    assert(spark.table(s"$cat.e").count() == 0L)
  }

  test("parquet payload (the default) round-trips through STOCK " +
    "spark.read.parquet — an independent decoder") {
    import spark.implicits._
    val path = tmpDir()
    spark.range(0, 1000, 1, 4)
      .select($"id", ($"id" % 7).as("m"))
      .write.mode("append").format("graft-manifest").option("path", path).save()
    val dir = new java.io.File(path)
    val files = dir.listFiles().map(_.getName)
      .filter(_.startsWith("part-")).toSeq
    assert(files.nonEmpty && files.forall(_.endsWith(".parquet")))
    // positional storage names (c<pos>), so RENAME stays metadata-only
    val back = spark.read.parquet(dir.listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getAbsolutePath): _*)
    assert(back.columns.toSeq == Seq("c0", "c1"))
    assert(back.count() == 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum($"c0")).as[Long]
      .head() == (0L until 1000L).sum)
    // and the manifest reader sees the same rows with the schema names
    val t = spark.read.format("graft-manifest").option("path", path).load()
    assert(t.columns.toSeq == Seq("id", "m"))
    assert(t.agg(org.apache.spark.sql.functions.sum($"id")).as[Long]
      .head() == (0L until 1000L).sum)
  }

  test("missing or empty path option fails with a clear error") {
    import spark.implicits._
    val df = spark.range(0, 4).select($"id")
    val noPath = intercept[Exception] {
      df.write.mode("append").format("graft-manifest").save()
    }
    assert(noPath.getMessage.contains("requires .option(\"path\""),
      noPath.getMessage)
    val emptyPath = intercept[Exception] {
      df.write.mode("append").format("graft-manifest")
        .option("path", "  ").save()
    }
    assert(emptyPath.getMessage.contains("path option is empty"),
      emptyPath.getMessage)
  }

  test("failed job leaves no visible output (abort path)") {
    import spark.implicits._
    val path = tmpDir()
    val ex = intercept[Exception] {
      spark.range(0, 1000, 1, 4)
        .select($"id")
        .write.mode("append").format("graft-manifest")
        .option("path", path).option("failPartition", 2).save()
    }
    assert(ex.getMessage != null)
    val names = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty).map(_.getName)
    assert(!names.contains("_MANIFEST"), names.mkString(","))
    assert(!names.exists(_.endsWith(".tmp")), names.mkString(","))
  }
}
