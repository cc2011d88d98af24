package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestFiles

/** Optimistic concurrency of the manifest commit protocol
  * (ManifestFiles.publishSnapshot): concurrent committers claim version
  * numbers by rename-without-overwrite and REBASE their snapshot onto
  * the just-committed predecessor on every retry — so no committer ever
  * drops another's files from the merged snapshot (the lost-update bug
  * the naive read-pointer-then-write protocol has). This is the same
  * contract Delta/Iceberg give concurrent appenders. */
class ManifestConcurrencySpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  test("concurrent appends all survive: no lost updates, linear history") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cc").toString + "/t"
    val writers = 4
    val commitsEach = 3
    val rowsPerCommit = 5

    val pool = Executors.newFixedThreadPool(writers)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until writers).foreach { w =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          start.await()
          try {
            (0 until commitsEach).foreach { c =>
              val base = (w * commitsEach + c) * rowsPerCommit
              (base until base + rowsPerCommit).toDF("id")
                .select($"id".cast("long").as("id"),
                  concat(lit("w-"), $"id").as("tag"))
                .coalesce(1)
                .write.mode("append").format("graft-manifest")
                .option("path", root).save()
            }
          } catch { case t: Throwable => failures.add(t) }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS), "writers timed out")
    assert(failures.isEmpty, s"writer failed: ${failures.peek()}")

    val total = writers * commitsEach * rowsPerCommit
    val df = spark.read.format("graft-manifest").option("path", root).load()
    assert(df.count() == total)
    assert(df.select(sum($"id")).head().getLong(0) ==
      (0L until total).sum)

    // Linear history: one version per commit, and every snapshot is a
    // strict superset of its predecessor (nothing was ever dropped).
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val vs = ManifestFiles.versions(fs, p).sorted
    assert(vs == (1 to writers * commitsEach))
    vs.sliding(2).foreach {
      case Seq(a, b) =>
        val ea = ManifestFiles.entries(fs, p, Some(a)).map(_._1).toSet
        val eb = ManifestFiles.entries(fs, p, Some(b)).map(_._1).toSet
        assert(ea.subsetOf(eb), s"version $b lost entries from $a")
      case _ =>
    }
    // Final snapshot lists every commit's file exactly once.
    assert(ManifestFiles.entries(fs, p, None).length == writers * commitsEach)
  }

  test("an incomplete tip (a claimed _MANIFEST.v<N+1> whose _SCHEMA.v<N+1> " +
    "has not landed) reads as version N: latestComplete, path and catalog") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tip").toString
    val cat = "graft_tip_" + math.abs(root.hashCode)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val dir = new Path(root, "t")
    Seq(1, 2, 3).foreach { n =>
      (0 until n).toDF("id").coalesce(1).write.mode("append")
        .format("graft-manifest").option("path", dir.toString).save()
    }
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(ManifestFiles.latestComplete(fs, dir) == 3)
    // the crash window between the claim and its schema: v3 is claimed
    assert(fs.delete(new Path(dir, "_SCHEMA.v3"), false))
    assert(fs.exists(new Path(dir, "_MANIFEST.v3")))
    assert(ManifestFiles.latestComplete(fs, dir) == 2)
    assert(spark.read.format("graft-manifest").option("path", dir.toString)
      .load().count() == 3L)
    assert(spark.table(s"$cat.t").count() == 3L)
  }
}
