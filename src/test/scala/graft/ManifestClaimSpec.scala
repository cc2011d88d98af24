package graft.sources

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FilterFileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** What the snapshot claim guarantees under races: a commit never
  * publishes a schema older than its predecessor's, a failed claim
  * rename never skips a version, and tag updates never lose a tag. */
class ManifestClaimSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(2)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_cl_$tag").toString
    val cat = s"graft_cl_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private def fsOf(dir: Path) =
    dir.getFileSystem(spark.sessionState.newHadoopConf())

  test("an append planned before a concurrent ADD COLUMN fails its claim " +
    "instead of publishing the stale schema") {
    val (cat, root) = freshCat("stale")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 10).select($"id".as("k")).writeTo(s"$cat.t").append()
    val dir = new Path(s"$root/t")
    val schema = new StructType().add("k", LongType)
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    // plan and stage the append against the one-column schema
    val write = new ManifestBatchWrite(s"$root/t", "stale-append", -1, schema,
      truncate = false, conf, WriteSpec.of(ManifestSnapshot.latest(fsOf(dir), dir),
        schema, conf.value, maintenance = false))
    val factory = write.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    val msgs = spark.sparkContext.parallelize(Seq(0), 1).map { _ =>
      val w = factory.createWriter(0, 990001L)
      val r = new GenericInternalRow(1)
      r.update(0, 42L)
      w.write(r.asInstanceOf[InternalRow])
      w.commit()
    }.collect().toArray[WriterCommitMessage]
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN v STRING")
    val e = intercept[IllegalStateException](write.commit(msgs))
    assert(e.getMessage.contains("concurrent schema change"), e.getMessage)
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "v"))
    assert(spark.table(s"$cat.t").count() == 10)
  }

  test("a claim rename that fails without a winner fails the commit and " +
    "never skips a version") {
    val (cat, root) = freshCat("skip")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 10).select($"id".as("k")).writeTo(s"$cat.t").append()
    spark.range(10, 20).select($"id".as("k")).writeTo(s"$cat.t").append()
    val dir = new Path(s"$root/t")
    val real = fsOf(dir)
    val before = ManifestFiles.entries(real, dir, None).map(_._1).toSet
    val head = ManifestFiles.latestVersion(real, dir)
    // the first claim rename fails as if a sweep removed its temp file
    val failed = new AtomicBoolean(false)
    val flaky = new FilterFileSystem(real) {
      override def rename(src: Path, dst: Path): Boolean =
        if (src.getName.startsWith("._claim-") && failed.compareAndSet(false, true))
          false
        else super.rename(src, dst)
    }
    val schema = ManifestSnapshot.latest(real, dir).requireSchema
    val conf = spark.sessionState.newHadoopConf()
    flaky.setConf(conf)
    val attempt = scala.util.Try(ManifestFiles.publishSnapshot(flaky, conf, dir,
      prev => prev.lines :+ "part-extra.parquet,1", schema))
    assert(failed.get())
    assert(attempt.isFailure, s"landed version ${attempt.toOption}")
    assert(ManifestFiles.versions(real, dir).max == head,
      s"versions ${ManifestFiles.versions(real, dir).sorted}")
    assert(before.subsetOf(ManifestFiles.entries(real, dir, None).map(_._1).toSet))
    // the next commit lands on the very next version with every entry
    spark.range(20, 30).select($"id".as("k")).writeTo(s"$cat.t").append()
    assert(ManifestFiles.latestVersion(real, dir) == head + 1)
    assert(spark.table(s"$cat.t").count() == 30)
  }

  test("concurrent create_tag calls all survive") {
    val (cat, root) = freshCat("tags")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT)")
    spark.range(0, 10).select($"id".as("k")).writeTo(s"$cat.t").append()
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            spark.sql(s"CALL $cat.system.create_tag('t', 'tag$i')").collect()
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val dir = new Path(s"$root/t")
    assert(ManifestFiles.tags(fsOf(dir), dir).keySet == (0 until n).map(i => s"tag$i").toSet)
  }
}
