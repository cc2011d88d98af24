package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** ROUTE PARITY: every governed-table write route derives the table's
  * declared write behaviour from the same write spec (WriteSpec.of) and
  * lands its files through the same landing step. The same rows written
  * through a batch append, one streaming epoch, a merge-on-read MERGE
  * insert, a scoped compact and a full compact must therefore land
  * files with identical `#stats` (top-level, struct-leaf and shredded-
  * variant keys), `#ndv` and `#hist` riders — only the file names
  * differ — and carry the declared bloom filters. */
class ManifestWriteRoutesSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_wr_$tag").toString
    val cat = s"graft_wr_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  // every declaration the write spec carries: a days() layout, NDV and
  // histogram sketches, blooms, shredded variant paths, a struct column
  private val Ddl =
    "(id BIGINT, ts TIMESTAMP, tag STRING, m STRUCT<a: INT, s: STRING>, " +
      "doc VARIANT) PARTITIONED BY (days(ts)) TBLPROPERTIES(" +
      "'delete.mode'='merge-on-read', 'stats.ndv.columns'='tag', " +
      "'stats.histogram.columns'='id', 'bloom.columns'='id', " +
      "'variant.shred'='doc:$.k:bigint,doc:$.lang:string')"

  // one day only: the merge-on-read route lands inserts unsplit, so a
  // single partition value keeps every route at one file
  private val Cols = Seq("id", "timestamp_seconds(1714521600) AS ts",
    "CASE WHEN id % 10 = 0 THEN NULL ELSE concat('t', id % 13) END AS tag",
    "named_struct('a', CAST(id % 17 AS INT), 's', concat('s', id)) AS m",
    """parse_json(concat('{"k":', id, ',"lang":"l', id % 3, '"}')) AS doc""")
  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).selectExpr(Cols: _*)

  /** The single live data file's name and its riders with the file name
    * (and the byte size, which depends on the row order) cut out. */
  private def riders(root: String, table: String): (String, Seq[String]) = {
    val dir = new Path(root, table)
    val snap = ManifestSnapshot.latest(
      dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
    val names = snap.entries.map(_._1).toSeq
    assert(names.length == 1, s"$table: expected one data file, got $names")
    val name = names.head
    def rider(kind: String, drop: Int): String = {
      val l = snap.lines.find(_.startsWith(s"#$kind,$name,")).getOrElse(
        fail(s"$table: no #$kind line for $name"))
      l.split(",", drop + 1).last
    }
    (name, Seq(rider("stats", 3), rider("ndv", 2), rider("hist", 2)))
  }

  private def hasBloom(root: String, table: String, file: String): Boolean = {
    val p = new Path(new Path(root, table), file)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, spark.sessionState.newHadoopConf()))
    try {
      val blocks = reader.getFooter.getBlocks
      !blocks.isEmpty && {
        val cols = blocks.get(0).getColumns
        (0 until cols.size()).exists(i =>
          cols.get(i).getPath.toDotString == "c0" &&
            cols.get(i).getBloomFilterOffset >= 0)
      }
    } finally reader.close()
  }

  test("batch, streaming, merge-on-read insert, scoped and full compact " +
    "land identical #stats/#ndv/#hist riders and the declared blooms") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val (cat, root) = freshCat("parity")
    val hconf = spark.sparkContext.hadoopConfiguration
    val prevDict = Option(hconf.get("parquet.enable.dictionary"))
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    // a fully dictionary-encoded chunk writes no bloom filter
    hconf.setBoolean("parquet.enable.dictionary", false)
    // one shuffle partition: every route's rows meet in one task
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try {
      Seq("batch", "stream", "mor", "scoped", "full").foreach(t =>
        spark.sql(s"CREATE TABLE $cat.$t $Ddl"))
      rows(0, 100).coalesce(1).writeTo(s"$cat.batch").append()

      val input = MemoryStream[Long](spark)
      input.addData(0L until 100L)
      val q = input.toDF().selectExpr("value AS id").selectExpr(Cols: _*)
        .writeStream.format("graft-manifest").option("path", s"$root/stream")
        .option("checkpointLocation", s"$root/_ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()

      rows(0, 100).coalesce(1).createOrReplaceTempView("wr_src")
      spark.sql(s"MERGE INTO $cat.mor t USING wr_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")

      Seq("scoped", "full").foreach { t =>
        rows(0, 50).coalesce(1).writeTo(s"$cat.$t").append()
        rows(50, 100).coalesce(1).writeTo(s"$cat.$t").append()
      }
      spark.sql(s"CALL $cat.system.compact('scoped', 1, '', 'id < 200')")
        .collect()
      spark.sql(s"CALL $cat.system.compact('full', 1)").collect()

      val (_, want) = riders(root, "batch")
      // the spec's declarations all reached the batch file
      val stats = want.head
      Seq("0=", "3.0=", "3.1=", s"${ManifestShred.PosBase}=",
          s"${ManifestShred.PosBase + 1}=").foreach(k =>
        assert(stats.split(";").exists(_.startsWith(k)),
          s"batch #stats lacks $k: $stats"))
      Seq("stream", "mor", "scoped", "full").foreach { t =>
        val (_, got) = riders(root, t)
        assert(got == want,
          s"$t riders differ from the batch append's:\n$got\nvs\n$want")
      }
      Seq("batch", "stream", "mor", "scoped", "full").foreach { t =>
        assert(hasBloom(root, t, riders(root, t)._1),
          s"$t file lacks the declared bloom filter on id")
      }
    } finally {
      prevDict match {
        case Some(v) => hconf.set("parquet.enable.dictionary", v)
        case None => hconf.unset("parquet.enable.dictionary")
      }
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }
}
