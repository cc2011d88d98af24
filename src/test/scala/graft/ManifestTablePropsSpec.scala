package graft.sources

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** The table-property codec (ManifestTableProps): every supported
  * TBLPROPERTIES key maps to its `#tableconf` lines through ONE
  * definition, so CREATE, ALTER SET/UNSET and the catalog's load agree.
  * Per key: CREATE with a value and ALTER SET of the same value land
  * identical `#tableconf` lines, SHOW TBLPROPERTIES returns the value,
  * and UNSET restores the key's default (or is refused where that
  * default is, as for row lineage). */
class ManifestTablePropsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(2)

  private def freshCat(tag: String): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_tp_$tag").toString
    val cat = s"graft_tp_${tag}_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  private val Cols = "(k BIGINT, ts TIMESTAMP, doc VARIANT)"

  /** The table's `#tableconf` lines, minus the row-id high-water mark
    * (a counter, not a declaration). */
  private def conf(root: String, t: String): Seq[String] = {
    val dir = new Path(s"$root/$t")
    ManifestSnapshot.latest(dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
      .lines.filter(_.startsWith("#tableconf,"))
      .filterNot(_.startsWith("#tableconf,rowidnext,")).toSeq.sorted
  }

  private def shown(cat: String, t: String): Map[String, String] =
    spark.sql(s"SHOW TBLPROPERTIES $cat.$t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** (key, value, SHOW's rendering, DDL the table needs first). */
  private val cases = Seq(
    ("delete.mode", "merge-on-read", "merge-on-read", ""),
    ("bloom.columns", "k", "k", ""),
    ("stats.ndv.columns", "k", "k", ""),
    ("stats.histogram.columns", "k", "k", ""),
    ("variant.shred", "doc:$.a:bigint", "doc:$.a:bigint", ""),
    ("write.sort-order", "k DESC", "k DESC", ""),
    ("write.distribution-mode", "range", "range", "'write.sort-order'='k'"),
    ("partition.layout", "days(ts)", "days(ts)", ""),
    ("check.pos", "k > 0", "k > 0", ""))

  cases.foreach { case (key, value, show, pre) =>
    test(s"$key: CREATE and ALTER SET land the same lines, SHOW " +
      "TBLPROPERTIES returns the value, UNSET restores the default") {
      val (cat, root) = freshCat(key.replaceAll("[^a-z]", ""))
      val base = if (pre.isEmpty) "" else s" TBLPROPERTIES($pre)"
      val withPre = if (pre.isEmpty) "" else s"$pre, "
      spark.sql(s"CREATE TABLE $cat.c $Cols TBLPROPERTIES($withPre'$key'='$value')")
      spark.sql(s"CREATE TABLE $cat.a $Cols$base")
      val plain = conf(root, "a")
      spark.sql(s"ALTER TABLE $cat.a SET TBLPROPERTIES('$key'='$value')")
      assert(conf(root, "a") == conf(root, "c"))
      assert(conf(root, "a") != plain, s"$key landed no line")
      assert(shown(cat, "a").get(key).contains(show), shown(cat, "a"))
      assert(shown(cat, "c").get(key).contains(show), shown(cat, "c"))
      spark.sql(s"ALTER TABLE $cat.a UNSET TBLPROPERTIES('$key')")
      // a cleared shred declaration keeps its index high-water mark
      assert(conf(root, "a").filterNot(_.startsWith(ManifestShred.NextPrefix))
        == plain, s"UNSET $key left ${conf(root, "a")}")
      assert(!shown(cat, "a").contains(key))
    }
  }

  test("row.lineage: CREATE and ALTER SET agree; UNSET is refused on a " +
    "lineage table and a no-op elsewhere") {
    val (cat, root) = freshCat("lineage")
    spark.sql(s"CREATE TABLE $cat.c $Cols TBLPROPERTIES('row.lineage'='true')")
    spark.sql(s"CREATE TABLE $cat.a $Cols")
    spark.sql(s"CREATE TABLE $cat.n $Cols")
    spark.sql(s"ALTER TABLE $cat.a SET TBLPROPERTIES('row.lineage'='true')")
    assert(conf(root, "a") == conf(root, "c"))
    assert(conf(root, "a").contains(ManifestFiles.LineageLine))
    assert(shown(cat, "a").get("row.lineage").contains("true"))
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.a UNSET TBLPROPERTIES('row.lineage')"))
    assert(e.getMessage.contains("can only be enabled"), e.getMessage)
    assert(conf(root, "a").contains(ManifestFiles.LineageLine))
    val before = conf(root, "n")
    spark.sql(s"ALTER TABLE $cat.n UNSET TBLPROPERTIES('row.lineage')")
    spark.sql(s"ALTER TABLE $cat.n SET TBLPROPERTIES('row.lineage'='false')")
    assert(conf(root, "n") == before)
  }

  test("one ALTER sets write.sort-order and write.distribution-mode=range " +
    "together, as CREATE accepts them") {
    val (cat, root) = freshCat("sortrange")
    spark.sql(s"CREATE TABLE $cat.c $Cols TBLPROPERTIES(" +
      "'write.sort-order'='k', 'write.distribution-mode'='range')")
    spark.sql(s"CREATE TABLE $cat.a $Cols")
    spark.sql(s"ALTER TABLE $cat.a SET TBLPROPERTIES(" +
      "'write.sort-order'='k', 'write.distribution-mode'='range')")
    assert(conf(root, "a") == conf(root, "c"))
    assert(shown(cat, "a").get("write.distribution-mode").contains("range"))
    // clearing the sort order clears the range mode riding it
    spark.sql(s"ALTER TABLE $cat.a UNSET TBLPROPERTIES('write.sort-order')")
    assert(!conf(root, "a").contains(ManifestFiles.DistModeRangeLine))
  }

  test("'' and 'none' clear a column list on CREATE as on ALTER") {
    val (cat, root) = freshCat("none")
    spark.sql(s"CREATE TABLE $cat.c $Cols TBLPROPERTIES('bloom.columns'='none', " +
      "'write.sort-order'='')")
    spark.sql(s"CREATE TABLE $cat.a $Cols")
    assert(conf(root, "c") == conf(root, "a"))
  }

  test("partition.layout beside PARTITIONED BY must declare the same layout") {
    val (cat, root) = freshCat("both")
    spark.sql(s"CREATE TABLE $cat.t $Cols PARTITIONED BY (days(ts))")
    spark.sql(s"CREATE TABLE $cat.s $Cols PARTITIONED BY (days(ts)) " +
      "TBLPROPERTIES('partition.layout'='days(ts)')")
    assert(conf(root, "s") == conf(root, "t"))
    val e = intercept[Exception](spark.sql(s"CREATE TABLE $cat.x $Cols " +
      "PARTITIONED BY (days(ts)) TBLPROPERTIES('partition.layout'='months(ts)')"))
    assert(e.getMessage.contains("different partition layouts"), e.getMessage)
  }

  test("unsupported ALTER properties name every supported key") {
    val (cat, _) = freshCat("unsupported")
    spark.sql(s"CREATE TABLE $cat.a $Cols")
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.a SET TBLPROPERTIES('nope'='1')"))
    Seq("check.", "row.lineage", "stats.histogram.columns", "partition.layout",
        "variant.shred").foreach(k => assert(e.getMessage.contains(k), e.getMessage))
  }
}
