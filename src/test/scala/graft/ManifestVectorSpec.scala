package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** ARRAY / BINARY / STRUCT columns in the manifest format (round 12 —
  * until now the governed format refused every non-primitive type, so
  * embeddings and multimodal payloads lived outside snapshots / time
  * travel / row-level ops):
  *
  *   - the parquet payload stores them natively (ParquetWriteSupport /
  *     VectorizedParquetRecordReader both handle nested types); a
  *     `format=csv` write refuses at plan time (parquet is the only
  *     payload);
  *   - `#stats` records NO bounds for them — there is no total order to
  *     record, and a `(nulls, absent, absent)` entry would collide with
  *     the all-null pattern and let a value predicate "prove" a
  *     populated file empty. Absent stats = never skipped (the format's
  *     standing conservative contract); sibling primitive columns keep
  *     their bounds and their skipping;
  *   - both read paths (row and columnar batch) agree bit-for-bit, and
  *     COW + MOR row-level operations work on tables carrying arrays;
  *   - the round-10 columnar cosine kernel claims a MANIFEST scan, so
  *     ANN scoring over the governed format runs on batches.
  */
class ManifestVectorSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_vec_$tag").toString
    val cat = s"graft_vec_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  /** id, vec array<float> (one null element, one null array), blob
    * binary (one null), tags array<string>, m struct<a:int, b:string>. */
  private def seed(n: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n).select(
      $"id",
      when($"id" % 11 === 10, lit(null))
        .otherwise(transform(sequence(lit(0), lit(7)),
          i => when(i === ($"id" % 8).cast("int") && $"id" % 5 === 4, lit(null))
            .otherwise((i + $"id" % 13).cast("float"))))
        .as("vec"),
      when($"id" % 9 === 8, lit(null))
        .otherwise(sha2(concat(lit("blob"), $"id"), 256).cast("binary"))
        .as("blob"),
      array(concat(lit("t"), $"id" % 4), lit("all")).as("tags"),
      struct(($"id" % 6).cast("int").as("a"),
        concat(lit("s"), $"id" % 3).as("b")).as("m"))
  }

  private def canon(df: DataFrame): Seq[String] =
    df.select($"id", $"vec".cast("array<double>"), hex($"blob"), $"tags",
        $"m.a", $"m.b")
      .collect().map(_.toString).sorted.toSeq

  test("arrays, binary, and structs round-trip through both read paths " +
    "bit-for-bit; stats bounds recorded only for primitives") {
    val (cat, root) = freshCat("rt")
    val path = s"$root/t"
    seed(200).repartition(3)
      .write.mode("append").format("graft-manifest").option("path", path).save()

    val expected = canon(seed(200))
    val viaColumnar = spark.read.format("graft-manifest").option("path", path)
      .option("columnar", "true").load()
    assert(viaColumnar.queryExecution.executedPlan.toString
        .contains("ColumnarToRow"),
      "all-parquet manifest scan with array/binary/struct columns should batch")
    assert(canon(viaColumnar) == expected)
    val viaRows = spark.read.format("graft-manifest").option("path", path)
      .option("columnar", "false").load()
    assert(canon(viaRows) == expected)

    // stats: bounds only for the primitive id column (position 0); the
    // non-orderable columns have NO ColStats entry at all
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val stats = ManifestSnapshot.latest(fs, dir).stats
    assert(stats.nonEmpty)
    stats.values.foreach { fsStats =>
      assert(fsStats.cols.keySet == Set(0),
        s"expected stats for the id column only, got ${fsStats.cols.keySet}")
      assert(fsStats.cols(0).min.isDefined && fsStats.cols(0).max.isDefined)
    }

    // a value predicate on the id column still skips; predicates
    // touching array columns return exact results (never skipped)
    assert(spark.read.format("graft-manifest").option("path", path).load()
      .filter($"id" === 7L).count() == 1L)
    assert(spark.read.format("graft-manifest").option("path", path).load()
      .filter($"vec".isNull).count() ==
      (0 until 200).count(_ % 11 == 10).toLong)
    assert(spark.read.format("graft-manifest").option("path", path).load()
      .filter($"blob".isNotNull).count() ==
      (0 until 200).count(_ % 9 != 8).toLong)
  }

  test("MAP columns round-trip through both read paths, survive COW " +
    "row-level ops, and null-fill on schema evolution") {
    val (cat, root) = freshCat("map")
    spark.sql(s"CREATE TABLE $cat.m (id BIGINT, tags MAP<STRING, BIGINT>)")
    def rows(lo: Int, hi: Int) = spark.range(lo, hi).select($"id",
      when($"id" % 7 === 6, lit(null))
        .otherwise(map(lit("a"), $"id", lit("b"), $"id" * 2)).as("tags"))
    rows(0, 120).repartition(3).writeTo(s"$cat.m").append()
    def canonMap(df: DataFrame): Seq[(Long, Option[(Long, Long)])] =
      df.select($"id", $"tags".getItem("a"), $"tags".getItem("b"))
        .collect().map { r =>
          (r.getLong(0),
            if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(2))))
        }.toSeq.sortBy(_._1)
    val expected = canonMap(rows(0, 120))
    assert(canonMap(spark.read.format("graft-manifest")
      .option("path", s"$root/m").option("columnar", "true").load()) == expected)
    assert(canonMap(spark.read.format("graft-manifest")
      .option("path", s"$root/m").option("columnar", "false").load()) == expected)
    // map access in SQL through the catalog
    assert(spark.sql(s"SELECT sum(tags['b']) FROM $cat.m").head().getLong(0)
      == (0 until 120).filter(_ % 7 != 6).map(_ * 2L).sum)
    // COW row-level ops on a map-bearing table
    spark.sql(s"DELETE FROM $cat.m WHERE id % 10 = 3")
    assert(spark.table(s"$cat.m").count() ==
      (0 until 120).count(_ % 10 != 3).toLong)
    spark.sql(s"UPDATE $cat.m SET tags = map('z', id) WHERE id < 5")
    // ids 0,1,2,4 — id=3 fell to the DELETE above
    assert(spark.sql(s"SELECT count(*) FROM $cat.m WHERE tags['z'] = id")
      .head().getLong(0) == 4L)
    // evolution: a map column ADDED later null-fills pre-evolution files
    spark.sql(s"ALTER TABLE $cat.m ADD COLUMN extra MAP<STRING, DOUBLE>")
    rows(200, 210).select($"id", $"tags",
        map(lit("w"), $"id".cast("double")).as("extra"))
      .writeTo(s"$cat.m").append()
    assert(spark.sql(s"SELECT count(*) FROM $cat.m WHERE extra IS NULL")
      .head().getLong(0) == (0 until 120).count(_ % 10 != 3).toLong)
    assert(spark.sql(s"SELECT sum(extra['w']) FROM $cat.m").head().getDouble(0)
      == (200 until 210).map(_.toDouble).sum)
  }

  test("csv payload refuses non-primitive columns at plan time") {
    val (_, root) = freshCat("csvref")
    val err = intercept[IllegalArgumentException] {
      seed(10).write.mode("append").format("graft-manifest")
        .option("path", s"$root/t").option("format", "csv").save()
    }
    assert(err.getMessage.contains("parquet is the only data-file payload"),
      err.getMessage)
    assert(!new java.io.File(s"$root/t").exists() ||
      new java.io.File(s"$root/t").listFiles().isEmpty,
      "plan-time refusal must leave nothing behind")
  }

  test("copy-on-write DELETE and UPDATE work on a table with array " +
    "columns; arrays survive the rewrite intact") {
    val (cat, root) = freshCat("cow")
    seed(120).repartition(2)
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(s"DELETE FROM $cat.t WHERE id % 3 = 0")
    spark.sql(s"UPDATE $cat.t SET tags = array('updated') WHERE id % 3 = 1")
    val expected = canon(
      seed(120).filter($"id" % 3 =!= 0)
        .withColumn("tags",
          when($"id" % 3 === 1, array(lit("updated"))).otherwise($"tags")))
    assert(canon(spark.table(s"$cat.t")) == expected)
    // time travel still sees the pre-delete arrays (v1 = the append)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 1")
      .head().getLong(0) == 120L)
  }

  test("merge-on-read DELETE on an array table writes only a delete " +
    "vector; compact materializes it; arrays intact throughout") {
    val (cat, root) = freshCat("mor")
    spark.sql(s"""CREATE TABLE $cat.t
      (id BIGINT, vec ARRAY<FLOAT>, blob BINARY, tags ARRAY<STRING>,
       m STRUCT<a: INT, b: STRING>)
      TBLPROPERTIES('delete.mode'='merge-on-read')""")
    // casts normalize nullability flags to the DDL schema's (the append
    // alignment check compares full dataTypes, containsNull included)
    seed(120).repartition(2)
      .select($"id", $"vec".cast("array<float>").as("vec"), $"blob",
        $"tags".cast("array<string>").as("tags"),
        $"m".cast("struct<a: int, b: string>").as("m"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    def dataFiles(): Set[String] =
      new java.io.File(s"$root/t").listFiles().map(_.getName)
        .filter(_.startsWith("part-")).toSet
    val before = dataFiles()
    spark.sql(s"DELETE FROM $cat.t WHERE id % 4 = 2")
    assert(dataFiles() == before,
      "merge-on-read DELETE must not rewrite array payload files")
    val expected = canon(seed(120).filter($"id" % 4 =!= 2))
    assert(canon(spark.table(s"$cat.t")) == expected)
    spark.sql(s"CALL $cat.system.compact('t', 1)").collect()
    assert(canon(spark.table(s"$cat.t")) == expected)
  }

  test("ALTER TABLE ADD COLUMN of an array type null-fills old files") {
    val (cat, root) = freshCat("evo")
    seed(30).select($"id", $"vec")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN extra ARRAY<BIGINT>")
    // deliberately NOT cast to array<bigint>-with-nullable-elements: the
    // write arrives nullability-TIGHTENED (containsNull=false) and the
    // alignment check must accept it (writeCompatible)
    seed(30).select(($"id" + 100).as("id"), $"vec",
        array($"id", $"id" * 2).as("extra"))
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/t").save()
    val out = spark.table(s"$cat.t")
    assert(out.filter($"id" < 100 && $"extra".isNotNull).count() == 0L)
    assert(out.filter($"id" >= 100).count() == 30L)
    assert(out.filter($"id" === 105L).select(element_at($"extra", 2))
      .head().getLong(0) == 10L)
  }

  test("the columnar cosine kernel claims a manifest parquet scan " +
    "(ANN scoring over the governed format runs on batches)") {
    import graft.functions.VectorExpressions.cosine
    import graft.plans.ColumnarKernelProjectExec
    val (_, root) = freshCat("kern")
    val path = s"$root/t"
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .write.mode("append").format("graft-manifest").option("path", path).save()
    val dim = spark.read.format("graft-manifest").option("path", path).load()
      .select(size($"embedding")).head().getInt(0)
    val qv = Array.tabulate(dim)(i => math.sin(i + 1).toFloat)
    def scored(columnar: Boolean) =
      spark.read.format("graft-manifest").option("path", path)
        .option("columnar", columnar.toString).load()
        .select($"vec_id", cosine($"embedding", typedlit(qv)).as("sim"))
    val kernelPlan = scored(columnar = true).queryExecution.executedPlan
    assert(kernelPlan.collect { case k: ColumnarKernelProjectExec => k }.nonEmpty,
      kernelPlan.toString)
    val viaKernel = scored(columnar = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    val rowPlan = scored(columnar = false).queryExecution.executedPlan
    assert(rowPlan.collect { case k: ColumnarKernelProjectExec => k }.isEmpty)
    val viaRows = scored(columnar = false).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
    assert(viaKernel.length == viaRows.length && viaKernel.nonEmpty)
    viaKernel.zip(viaRows).foreach { case ((ka, kv), (ra, rv)) =>
      assert(ka == ra && java.lang.Double.doubleToRawLongBits(kv) ==
        java.lang.Double.doubleToRawLongBits(rv),
        s"vec $ka: kernel=$kv row=$rv (not bit-equal)")
    }
  }
}
