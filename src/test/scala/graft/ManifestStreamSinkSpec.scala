package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ManifestFiles, ManifestSnapshot}

/** Native streaming WRITES into the manifest table format
  * (`writeStream.format("graft-manifest")` — ManifestStreamingWrite):
  * every micro-batch epoch commits as one snapshot, and exactly-once is
  * carried by a `#txn,<queryId>,<epoch>` marker INSIDE the atomically-
  * claimed version file (Delta's SetTransaction idea — data visibility
  * and epoch bookkeeping are the same atomic file, so no crash point
  * can double-commit or lose the marker). A replayed epoch — here a
  * checkpoint rolled back by deleting its commit record, the standard
  * restart-replay simulation — detects its marker and drops its staged
  * files instead of appending duplicates. */
class ManifestStreamSinkSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def runOnce(input: MemoryStream[Long], root: String, ckpt: String): Unit = {
    import spark.implicits._
    val q = input.toDS().selectExpr("value AS id", "concat('s-', value) AS tag")
      .writeStream.format("graft-manifest")
      .option("path", root)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()
    // Checkpoint-in-use tracking deregisters on the stream thread a beat
    // after stop(); an immediate restart on the same checkpoint races it.
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.exists(_.id == q.id) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    Thread.sleep(200)
  }

  test("each epoch commits one snapshot; replayed epochs dedupe exactly-once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ss").toString
    val root = s"$base/t"
    val ckpt = s"$base/ckpt"
    val input = MemoryStream[Long](spark)

    input.addData(0L until 5L: _*)
    runOnce(input, root, ckpt)
    input.addData(10L until 13L: _*)
    runOnce(input, root, ckpt)

    val read = () => spark.read.format("graft-manifest").option("path", root).load()
    assert(read().count() == 8)

    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(ManifestFiles.versions(fs, p).sorted == Seq(1, 2))
    // The txn marker rides the snapshot and names the last epoch.
    val snap = ManifestSnapshot.latest(fs, p)
    assert(snap.lines.count(_.startsWith("#txn,")) == 1, snap.lines.mkString("|"))

    // Restart replay: drop the checkpoint's newest commit record so the
    // engine re-runs the last batch, then redeliver its data.
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // ...and its checksum sidecar: a stale .crc makes the engine's
    // atomic re-create of the commit record fail as a phantom
    // "concurrent query".
    new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc").delete()
    runOnce(input, root, ckpt)

    // The replayed epoch saw its #txn marker and dropped its staged
    // files: same rows, no duplicates, and no duplicate file entries.
    assert(read().count() == 8)
    assert(read().select($"id").as[Long].collect().sorted.toSeq ==
      ((0L until 5L) ++ (10L until 13L)).sorted)
    val entryNames = ManifestFiles.entries(fs, p, None).map(_._1)
    assert(entryNames.distinct.length == entryNames.length)
    // Nothing staged left behind.
    val staged = fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith(".staging-"))
    staged.foreach { s =>
      assert(fs.listStatus(new Path(p, s)).isEmpty, s"staged leftovers in $s")
    }
  }

  test("streaming read composes with streaming write: format-to-format pipeline") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ss").toString
    val src = s"$base/src"
    val dst = s"$base/dst"

    // Two batch commits into the source table...
    (0L until 6L).toDF("id").selectExpr("id", "concat('p-', id) AS tag")
      .write.mode("append").format("graft-manifest").option("path", src).save()
    (20L until 23L).toDF("id").selectExpr("id", "concat('p-', id) AS tag")
      .write.mode("append").format("graft-manifest").option("path", src).save()

    // ...tailed by a stream and written straight into another manifest
    // table: version-offset source feeding epoch-snapshot sink.
    val q = spark.readStream.format("graft-manifest").option("path", src).load()
      .filter($"id" % 2 === 0)
      .writeStream.format("graft-manifest")
      .option("path", dst)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    q.stop()

    val out = spark.read.format("graft-manifest").option("path", dst).load()
    assert(out.select($"id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 2L, 4L, 20L, 22L))
  }
}
