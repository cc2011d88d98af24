package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Parquet is the manifest format's only data-file payload. Any other
  * `format` — write option or `TBLPROPERTIES` — fails at plan or DDL
  * time with one error and stages nothing; `format=parquet` is accepted
  * and changes nothing. A snapshot entry that is not a parquet file
  * fails its scan with an `IllegalStateException` naming the file. */
class ManifestParquetOnlySpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private val refusal = "parquet is the only data-file payload"

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_po_$tag").toString
    val cat = s"graft_po_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  private def assertRefused(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    assert(messages(e).exists(_.contains(refusal)),
      s"expected the parquet-only refusal, got: ${messages(e).mkString(" | ")}")
  }

  private def untouched(dir: String): Boolean = {
    val f = new java.io.File(dir)
    !f.exists() || f.list().isEmpty
  }

  test("a non-parquet format refuses at plan and DDL time and stages " +
    "nothing: write option, table property, lineage table") {
    import spark.implicits._
    val (cat, root) = freshCat("ref")
    // write option, on an array column and on a plain one
    assertRefused(spark.range(10).select($"id", org.apache.spark.sql.functions
        .array($"id").as("tags"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/opt").option("format", "csv").save())
    assertRefused(spark.range(10).toDF("k")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/opt").option("format", "csv").save())
    assert(untouched(s"$root/opt"), "a refused write must stage nothing")
    // table property: CREATE, CTAS, and a lineage table
    assertRefused(spark.sql(
      s"CREATE TABLE $cat.p (k BIGINT) TBLPROPERTIES('format'='csv')"))
    assertRefused(spark.sql(s"CREATE TABLE $cat.q " +
      "TBLPROPERTIES('format'='orc') AS SELECT 1L AS k"))
    assertRefused(spark.sql(s"CREATE TABLE $cat.l (k BIGINT) " +
      "TBLPROPERTIES('format'='csv', 'row.lineage'='true')"))
    Seq("p", "q", "l").foreach(t =>
      assert(untouched(s"$root/$t"), s"a refused DDL must leave no '$t'"))
  }

  test("format=parquet is accepted and changes nothing") {
    import spark.implicits._
    val (cat, root) = freshCat("pq")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT) " +
      "TBLPROPERTIES('format'='parquet', 'row.lineage'='true')")
    spark.range(0, 10).toDF("k").writeTo(s"$cat.t").append()
    spark.range(10, 20).toDF("k").write.mode("append")
      .format("graft-manifest").option("path", s"$root/t")
      .option("format", "parquet").save()
    assert(spark.table(s"$cat.t").count() == 20L)
    val dir = new Path(root, "t")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = ManifestSnapshot.latest(fs, dir)
    assert(!snap.lines.exists(_.startsWith("#tableconf,format")))
    assert(snap.entries.map(_._1)
      .forall(_.endsWith(".parquet")))
  }

  test("a planned data file that is not parquet fails the scan by name") {
    import spark.implicits._
    val (_, root) = freshCat("file")
    val path = s"$root/t"
    spark.range(0, 5).toDF("k").write.mode("append")
      .format("graft-manifest").option("path", path).save()
    val dir = new Path(path)
    val hconf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(hconf)
    ManifestFiles.publishSnapshotV(fs, hconf, dir,
      (prev, _) => prev.lines :+ "part-00000-legacy,3",
      new StructType().add("k", LongType))
    val e = intercept[Exception](spark.read.format("graft-manifest")
      .option("path", path).load().collect())
    val ise = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).collectFirst { case x: IllegalStateException => x }
    assert(ise.exists(_.getMessage.contains("part-00000-legacy")),
      s"expected an IllegalStateException naming the file, got: " +
        messages(e).mkString(" | "))
  }
}
