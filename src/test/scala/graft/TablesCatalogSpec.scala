package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` as a session catalog: a table's schema is inferred once per
  * session, dir, listing and set of parquet-inference confs, and every
  * other read or registration reuses it without a Spark job — while a
  * table rewritten on disk is seen by the very next read. Works on copies
  * of the sf0.001 tables under `target/`. */
class TablesCatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(2)

  private val source = "/root/testdata/sf0.001"
  private val root = new File("target/tables_catalog_spec").getAbsoluteFile

  /** A fresh copy of every sf0.001 table in `target/tables_catalog_spec/<name>`. */
  private def copyOfTestdata(name: String): String = {
    val dir = new File(root, name)
    deleteRecursively(dir)
    dir.mkdirs()
    Tables.names.foreach { t =>
      Files.copy(new File(source, s"$t.parquet").toPath,
        new File(dir, s"$t.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    dir.getPath
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Spark jobs started on this thread while `body` runs, counted after
    * the listener bus has drained. */
  private def jobsDuring[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val tag = s"tables-catalog-${System.nanoTime()}"
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty("graft.spec.tag") == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      val out = body
      (out, Drain.untilStable(jobs.get()))
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("a second read of an unchanged table runs no Spark job and equals a fresh read") {
    val dir = copyOfTestdata("unchanged")
    val (_, first) = jobsDuring(Tables.df(spark, dir, "lineitem"))
    assert(first >= 1, "the first read infers the schema")
    val (again, jobs) = jobsDuring(Tables.df(spark, dir, "lineitem"))
    assert(jobs == 0, s"a cached read ran $jobs jobs")
    val fresh = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(again.schema == fresh.schema)
    assert(sameRows(again, fresh))

    Tables.registerAll(spark, dir)
    val (_, regJobs) = jobsDuring(Tables.registerAll(spark, dir))
    assert(regJobs == 0, s"re-registering an unchanged dir ran $regJobs jobs")

    // A harness that restores the session confs after each query (as
    // GraftSession.withConfScope does) drops the nanosAsLong set; the next
    // read still hits the entry its registration left.
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val (_, afterRestore) = jobsDuring(Tables.df(spark, dir, "orders"))
    assert(afterRestore == 0, s"a read after a conf restore ran $afterRestore jobs")
  }

  test("a table rewritten with new rows and a new column is seen by the next read and view") {
    val dir = copyOfTestdata("rewritten")
    val path = s"$dir/lineitem.parquet"
    Tables.registerAll(spark, dir)
    val before = Tables.df(spark, dir, "lineitem")
    assert(before.count() > 5)
    val rows = before.limit(5).collect().toSeq
    val old = before.schema
    val next = spark.createDataFrame(java.util.Arrays.asList(rows: _*), old)
      .withColumn("extra_col", lit(7))
    next.coalesce(1).write.mode("overwrite").parquet(path)

    val after = Tables.df(spark, dir, "lineitem")
    assert(after.schema == old.add("extra_col", "int"))
    assert(after.count() == 5)
    assert(sameRows(after, next))

    Tables.registerAll(spark, dir)
    val viewed = spark.sql("SELECT count(*), min(extra_col), max(extra_col) FROM lineitem")
      .collect().head
    assert(viewed == Row(5L, 7, 7))
  }

  test("registerAll restores a view that other code replaced") {
    val dir = copyOfTestdata("replaced")
    Tables.registerAll(spark, dir)
    val nations = spark.table("nation").count()
    spark.range(1).createOrReplaceTempView("nation")
    Tables.registerAll(spark, dir)
    assert(spark.table("nation").count() == nations)
  }

  test("the same table name under two dirs keeps two independent entries") {
    val a = copyOfTestdata("dir_a")
    val b = copyOfTestdata("dir_b")
    val other = spark.range(3).selectExpr("id AS only_col")
    other.coalesce(1).write.mode("overwrite").parquet(s"$b/region.parquet")
    Tables.df(spark, a, "region")
    Tables.df(spark, b, "region")
    val (ra, ja) = jobsDuring(Tables.df(spark, a, "region"))
    val (rb, jb) = jobsDuring(Tables.df(spark, b, "region"))
    assert(ja == 0 && jb == 0, s"cached reads ran $ja and $jb jobs")
    assert(ra.schema == spark.read.parquet(s"$source/region.parquet").schema)
    assert(rb.schema.fieldNames.toSeq == Seq("only_col"))
    assert(rb.count() == 3)
  }

  test("changing a parquet-inference conf re-infers") {
    val dir = copyOfTestdata("confs")
    Tables.df(spark, dir, "customer")
    assert(jobsDuring(Tables.df(spark, dir, "customer"))._2 == 0)
    Confs.withValues(spark, "spark.sql.parquet.binaryAsString" -> "true") {
      val (df, jobs) = jobsDuring(Tables.df(spark, dir, "customer"))
      assert(jobs >= 1, "a changed inference conf must re-infer")
      assert(df.schema == spark.read.parquet(s"$dir/customer.parquet").schema)
    }
  }

  test("a new session gets its own temp views and entries") {
    val dir = copyOfTestdata("sessions")
    Tables.registerAll(spark, dir)
    val other = spark.newSession()
    assert(other.sessionState.catalog.getTempView("orders").isEmpty,
      "temp views are per session")
    val (_, first) = jobsDuring(Tables.df(other, dir, "orders"))
    assert(first >= 1, "a new session infers on its own")
    Tables.registerAll(other, dir)
    assert(other.table("orders").count() == spark.table("orders").count())
    assert(jobsDuring(Tables.registerAll(other, dir))._2 == 0)
  }

  test("events keeps its normalized TimestampType ts after a cache hit") {
    val dir = copyOfTestdata("events")
    Tables.df(spark, dir, "events")
    val (events, jobs) = jobsDuring(Tables.df(spark, dir, "events"))
    assert(jobs == 0)
    assert(events.schema("ts").dataType == TimestampType)
    assert(sameRows(events, Tables.df(spark, source, "events")))
  }
}
