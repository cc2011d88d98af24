package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** INCREMENTAL MATERIALIZED VIEWS (round 14): the MV is a governed
  * manifest table + an `_MV.v<N>` definition/checkpoint chain; refresh
  * folds the source's CHANGE FEED into the touched groups only. The
  * invariant under test everywhere: after any mutation sequence and any
  * refresh/replay schedule, `read(mv)` equals a DIRECT recompute of the
  * definition over the source's current state — bit-identical, because
  * fractional sums accumulate in decimals, never floats. */
class ManifestMaterializedViewSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def tmpDir() =
    java.nio.file.Files.createTempDirectory("graft_mv").toString

  private def register(root: String): String = {
    val cat = "graft_mv_" + math.abs(root.hashCode).toString
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftManifestCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  private def fsOf(dir: Path) =
    dir.getFileSystem(spark.sessionState.newHadoopConf())

  /** Direct recompute of the MV definition over the source's CURRENT
    * state — the oracle every test compares against. Uses the same
    * exact-decimal sum idiom as the MV storage, so doubles compare
    * bit-identically. */
  private def direct(cat: String, source: String, filter: Option[String],
      keys: Seq[String], sel: String): DataFrame = {
    val where = filter.map(f => s"WHERE $f").getOrElse("")
    spark.sql(s"SELECT ${keys.mkString(", ")}, $sel FROM $cat.$source " +
      s"$where GROUP BY ${keys.mkString(", ")}")
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def seedSource(cat: String): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.src (k BIGINT, grp STRING, sub STRING, " +
      "v DOUBLE, w BIGINT) TBLPROPERTIES('delete.mode'='merge-on-read')")
    (1L to 400L).map(i => (i, s"g${i % 5}", s"s${i % 3}",
        i * 1.25 + (i % 7) * 0.01, if (i % 4 == 0) null else s"${i % 11}"))
      .toDF("k", "grp", "sub", "v", "ws")
      .select($"k", $"grp", $"sub", $"v",
        $"ws".cast("long").as("w"))
      .writeTo(s"$cat.src").append() // v2
  }

  private val aggSel =
    """CAST(COUNT(*) AS BIGINT) AS n, CAST(COUNT(w) AS BIGINT) AS nw,
       CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv,
       CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) / COUNT(v) AS av,
       CAST(SUM(w) AS BIGINT) AS sw""".replaceAll("\\s+", " ")

  private val aggSpecs = "count:*:n,count:w:nw,sum:v:sv,avg:v:av,sum:w:sw"

  private def readMv(cat: String, mv: String): DataFrame = {
    // sum(long) surfaces null when a group has only null inputs; the
    // direct oracle's SUM(w) does the same — but the MV's sw is
    // when(nn>0) guarded, so align the null semantics via the guard
    ManifestMaterializedView.read(spark, cat, mv)
  }

  private def assertMatches(cat: String, mv: String,
      filter: Option[String]): Unit = {
    val got = sortedRows(readMv(cat, mv))
    val want = sortedRows(direct(cat, "src", filter, Seq("grp"), aggSel))
    assert(got == want, s"MV drifted from direct recompute:\n" +
      s"got  ${got.take(5).mkString(" | ")}\n" +
      s"want ${want.take(5).mkString(" | ")}")
  }

  test("create materializes a pinned full aggregate; read derives " +
    "count/sum/avg exactly; describe reports the checkpoint") {
    seedSourceIn { (cat, filter) =>
      ManifestMaterializedView.create(spark, cat, "mv", "src",
        filter, Seq("grp"), ManifestMaterializedView.parseAggs(aggSpecs))
      assertMatches(cat, "mv", filter)
      val hist = spark.sql(
        s"CALL $cat.system.describe_materialized_view('mv')").collect()
      assert(hist.length == 1)
      assert(hist.head.getAs[String]("source") == "src")
      assert(hist.head.getAs[Int]("source_version") == 2)
      // commits racing the build pinned OUT: checkpoint says v2 exactly
      assert(hist.head.getAs[Int]("mv_version") == 2) // CREATE + append
    }
  }

  test("append-only refresh folds the feed into touched groups; a " +
    "source append moves ONLY diff-sized data; no-op refresh does not " +
    "commit") {
    import spark.implicits._
    seedSourceIn { (cat, filter) =>
      ManifestMaterializedView.create(spark, cat, "mv", "src",
        filter, Seq("grp"), ManifestMaterializedView.parseAggs(aggSpecs))
      // touch only groups g0/g1 (k multiples of 5 → grp g0; 401 → g1)
      Seq((500L, "g0", "s1", 7.5, Option(3L)), (401L, "g1", "s2", 2.25, None))
        .toDF("k", "grp", "sub", "v", "w").writeTo(s"$cat.src").append()
      val d = ManifestMaterializedView.refresh(spark, cat, "mv")
      assert(d.sourceVersion == 3)
      assertMatches(cat, "mv", filter)
      // no-op: source unmoved → same checkpoint object, no new _MV claim
      val mvDir = new Path(spark.conf.get(s"spark.sql.catalog.$cat.root"), "mv")
      val before = ManifestMaterializedView.versions(fsOf(mvDir), mvDir).max
      val d2 = ManifestMaterializedView.refresh(spark, cat, "mv")
      assert(d2 == d)
      assert(ManifestMaterializedView.versions(fsOf(mvDir), mvDir).max == before)
    }
  }

  test("a takedown that erases entire groups vanishes their MV rows " +
    "(multi-key 'delete' rows riding the refresh's one upsert commit) " +
    "and the survivors stay exact") {
    seedSourceIn { (cat, filter) =>
      // multi-key MV: the vanished (grp, sub) keys ride the upsert as
      // 'delete'-typed rows
      ManifestMaterializedView.create(spark, cat, "mv2", "src",
        filter, Seq("grp", "sub"), ManifestMaterializedView.parseAggs(aggSpecs))
      spark.sql(s"DELETE FROM $cat.src WHERE grp = 'g2'") // whole groups
      spark.sql(s"DELETE FROM $cat.src WHERE k % 50 = 1") // partial dents
      val mvDir = new Path(spark.conf.get(s"spark.sql.catalog.$cat.root"), "mv2")
      val before = ManifestFiles.latestComplete(fsOf(mvDir), mvDir)
      ManifestMaterializedView.refresh(spark, cat, "mv2")
      // upserted and vanished groups land in ONE MV-table version
      assert(ManifestFiles.latestComplete(fsOf(mvDir), mvDir) == before + 1)
      val got = sortedRows(readMv(cat, "mv2"))
      val want = sortedRows(direct(cat, "src", filter, Seq("grp", "sub"), aggSel))
      assert(got == want)
      assert(!readMv(cat, "mv2").collect().exists(_.getString(0) == "g2"),
        "vanished groups must be DELETED from the MV, not zeroed")
    }
  }

  test("CDC upserts propagate: old-value delete legs retract, new " +
    "values fold in — including rows crossing the MV filter") {
    import spark.implicits._
    seedSourceIn { (cat, filter) =>
      ManifestMaterializedView.create(spark, cat, "mv", "src",
        filter, Seq("grp"), ManifestMaterializedView.parseAggs(aggSpecs))
      // k=2 had v=2.52 (fails v > 3 filter) → now passes; k=100 passes
      // → re-priced; k=7 passes → drops BELOW the filter
      Seq((2L, "g2", "s2", 9.75, Option(1L)),
          (100L, "g0", "s1", 500.5, None),
          (7L, "g2", "s1", 0.25, Option(2L)))
        .toDF("k", "grp", "sub", "v", "w")
        .write.mode("append").format("graft-manifest")
        .option("path", spark.conf.get(s"spark.sql.catalog.$cat.root") + "/src")
        .option("upsertKeys", "k").save()
      ManifestMaterializedView.refresh(spark, cat, "mv")
      assertMatches(cat, "mv", filter)
    }
  }

  test("crash replay converges: a refresh whose checkpoint publish " +
    "never landed re-applies from the PINNED pre-state and the rows " +
    "come out identical") {
    import spark.implicits._
    seedSourceIn { (cat, filter) =>
      ManifestMaterializedView.create(spark, cat, "mv", "src",
        filter, Seq("grp"), ManifestMaterializedView.parseAggs(aggSpecs))
      Seq((601L, "g1", "s0", 44.5, Option(9L))).toDF("k", "grp", "sub", "v", "w")
        .writeTo(s"$cat.src").append()
      spark.sql(s"DELETE FROM $cat.src WHERE grp = 'g3' AND k % 2 = 0")
      ManifestMaterializedView.refresh(spark, cat, "mv")
      // simulate the crash: the data commits landed, the checkpoint
      // claim did not — delete the newest _MV version
      val mvDir = new Path(spark.conf.get(s"spark.sql.catalog.$cat.root"), "mv")
      val fs = fsOf(mvDir)
      val v = ManifestMaterializedView.versions(fs, mvDir).max
      assert(v == 2)
      fs.delete(new Path(mvDir, s"_MV.v$v"), false)
      // the replayed refresh reads the OLD checkpoint and must converge
      val d = ManifestMaterializedView.refresh(spark, cat, "mv")
      assert(d.sourceVersion == 4)
      assertMatches(cat, "mv", filter)
    }
  }

  test("streaming refresh: the change feed schedules refreshes; a fresh " +
    "stream checkpoint cannot double-apply (exactly-once rides the _MV " +
    "chain, not the stream)") {
    import spark.implicits._
    seedSourceIn { (cat, filter) =>
      ManifestMaterializedView.create(spark, cat, "mv", "src",
        filter, Seq("grp"), ManifestMaterializedView.parseAggs(aggSpecs))
      Seq((700L, "g0", "s0", 12.0, Option(4L))).toDF("k", "grp", "sub", "v", "w")
        .writeTo(s"$cat.src").append()
      spark.sql(s"DELETE FROM $cat.src WHERE k % 90 = 3")
      val ck1 = tmpDir()
      val q1 = ManifestMaterializedView.refreshStream(spark, cat, "mv", ck1)
      try q1.awaitTermination(120000) finally q1.stop()
      assertMatches(cat, "mv", filter)
      // a SECOND stream with a FRESH checkpoint replays the whole feed;
      // every refresh it triggers is a no-op (checkpoint already at head)
      val ck2 = tmpDir()
      val q2 = ManifestMaterializedView.refreshStream(spark, cat, "mv", ck2)
      try q2.awaitTermination(120000) finally q2.stop()
      assertMatches(cat, "mv", filter)
    }
  }

  test("min/max maintain incrementally: inserts fold via least/greatest " +
    "(no source scan), extremal retractions recompute ONLY the touched " +
    "groups, interior deletes skip the recompute, full-group takedowns " +
    "vanish through the recompute-dead path") {
    import spark.implicits._
    seedSourceIn { (cat, filter) =>
      val aggs = "count:*:n,min:v:mn,max:v:mx,max:w:mw"
      val sel = """CAST(COUNT(*) AS BIGINT) AS n, MIN(v) AS mn,
                   MAX(v) AS mx, MAX(w) AS mw""".replaceAll("\\s+", " ")
      ManifestMaterializedView.create(spark, cat, "mm", "src",
        filter, Seq("grp"), ManifestMaterializedView.parseAggs(aggs))
      def check(): Unit = {
        val got = sortedRows(ManifestMaterializedView.read(spark, cat, "mm"))
        val want = sortedRows(direct(cat, "src", filter, Seq("grp"), sel))
        assert(got == want)
      }
      check()
      // append extends g0's max — pure fold, no recompute
      Seq((1000L, "g0", "s0", 9999.0, Option(99L)))
        .toDF("k", "grp", "sub", "v", "w").writeTo(s"$cat.src").append()
      ManifestMaterializedView.refresh(spark, cat, "mm"); check()
      // interior delete (never the group extremum at either end)
      spark.sql(s"DELETE FROM $cat.src WHERE k = 102") // g2 interior value
      ManifestMaterializedView.refresh(spark, cat, "mm"); check()
      // extremal retraction: the appended 9999 max goes away → recompute
      spark.sql(s"DELETE FROM $cat.src WHERE k = 1000")
      ManifestMaterializedView.refresh(spark, cat, "mm"); check()
      // upsert REPLACES a group's max with a smaller value (retract+insert)
      val top = spark.sql(s"SELECT k FROM $cat.src WHERE grp = 'g1' " +
        "ORDER BY v DESC LIMIT 1").collect().head.getLong(0)
      Seq((top, "g1", "s0", 50.0, Option(1L)))
        .toDF("k", "grp", "sub", "v", "w")
        .write.mode("append").format("graft-manifest")
        .option("path", spark.conf.get(s"spark.sql.catalog.$cat.root") + "/src")
        .option("upsertKeys", "k").save()
      ManifestMaterializedView.refresh(spark, cat, "mm"); check()
      // full-group takedown: g4 vanishes via the recompute-dead path
      spark.sql(s"DELETE FROM $cat.src WHERE grp = 'g4'")
      ManifestMaterializedView.refresh(spark, cat, "mm"); check()
      assert(!ManifestMaterializedView.read(spark, cat, "mm")
        .collect().exists(_.getString(0) == "g4"))
    }
  }

  test("guardrails: unknown aggs rejected, non-primitive keys rejected, " +
    "duplicate aliases rejected, CALL surface round-trips") {
    val root = tmpDir()
    val cat = register(root)
    seedSource(cat)
    intercept[IllegalArgumentException] {
      ManifestMaterializedView.parseAggs("median:v:mv")
    }
    intercept[IllegalArgumentException] {
      ManifestMaterializedView.create(spark, cat, "mvx", "src", None,
        Seq("grp"), ManifestMaterializedView.parseAggs("sum:v:a,avg:v:a"))
    }
    // array key: build a source with one, expect the key-type guard
    spark.sql(s"CREATE TABLE $cat.arr (ks ARRAY<BIGINT>, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.arr VALUES (array(1,2), 10)")
    val e = intercept[IllegalArgumentException] {
      ManifestMaterializedView.create(spark, cat, "mvy", "arr", None,
        Seq("ks"), ManifestMaterializedView.parseAggs("sum:v:sv"))
    }
    assert(e.getMessage.contains("exact-equality"))
    // the CALL surface end to end
    spark.sql(s"CALL $cat.system.create_materialized_view('mvz', 'src', " +
      s"'grp', 'count:*:n,sum:v:sv', 'v > 3')")
    spark.sql(s"CALL $cat.system.refresh_materialized_view('mvz')")
    val got = sortedRows(ManifestMaterializedView.read(spark, cat, "mvz"))
    val want = sortedRows(direct(cat, "src", Some("v > 3"), Seq("grp"),
      "CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS sv"))
    assert(got == want)
  }

  /** Fixture: fresh root + catalog + seeded source; runs the body with
    * the MV filter every test shares (`v > 3` keeps some rows of every
    * group out, so filters are live in every path). */
  private def seedSourceIn(body: (String, Option[String]) => Unit): Unit = {
    val root = tmpDir()
    val cat = register(root)
    seedSource(cat)
    body(cat, Some("v > 3"))
  }

  // ---- STAR-JOIN MVs (round 15) ----------------------------------------

  /** Fixture: fact(sk, f_c, f_i, amt) ⋈ dimc(c_id, c_seg) ⋈
    * dimi(i_id, i_cat) — group keys come from the DIMS (the q268 star
    * rollup shape), fact is merge-on-read for CDC paths. */
  private def seedStar(cat: String): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.fact (sk BIGINT, f_c BIGINT, " +
      "f_i BIGINT, amt DOUBLE) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    spark.sql(s"CREATE TABLE $cat.dimc (c_id BIGINT, c_seg STRING)")
    spark.sql(s"CREATE TABLE $cat.dimi (i_id BIGINT, i_cat STRING)")
    (0L to 19L).map(i => (i, s"seg${i % 4}")).toDF("c_id", "c_seg")
      .writeTo(s"$cat.dimc").append()
    (0L to 9L).map(i => (i, s"cat${i % 3}")).toDF("i_id", "i_cat")
      .writeTo(s"$cat.dimi").append()
    (1L to 300L).map(k => (k, k % 20, k % 10, k * 0.5 + (k % 13) * 0.01))
      .toDF("sk", "f_c", "f_i", "amt").writeTo(s"$cat.fact").append()
  }

  private val starSel =
    """CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS sa,
       MIN(amt) AS mn, MAX(amt) AS mx""".replaceAll("\\s+", " ")

  private def starDirect(cat: String): DataFrame =
    spark.sql(s"SELECT c_seg, i_cat, $starSel FROM $cat.fact " +
      s"JOIN $cat.dimc ON f_c = c_id JOIN $cat.dimi ON f_i = i_id " +
      "WHERE amt > 5.0 GROUP BY c_seg, i_cat")

  private def starCheck(cat: String): Unit = {
    val got = sortedRows(readMv(cat, "star"))
    val want = sortedRows(starDirect(cat))
    assert(got == want, s"star MV drifted from direct recompute:\n" +
      s"got  ${got.take(4).mkString(" | ")}\nwant ${want.take(4).mkString(" | ")}")
  }

  test("STAR-JOIN MV: dim-keyed rollup materializes, and fact " +
    "appends/takedowns/upserts refresh incrementally from the fact CDF " +
    "joined to PINNED dims — incremental == recompute at every step") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    seedStar(cat)
    ManifestMaterializedView.create(spark, cat, "star", "fact",
      Some("amt > 5.0"), Seq("c_seg", "i_cat"),
      ManifestMaterializedView.parseAggs(
        "count:*:n,sum:amt:sa,min:amt:mn,max:amt:mx"),
      Seq(("dimc", "f_c = c_id", false), ("dimi", "f_i = i_id", false)))
    starCheck(cat)
    // the MV registered under its FACT source
    val factDir = new Path(root, "fact")
    assert(ManifestMaterializedView
      .registered(fsOf(factDir), factDir).contains("star"))
    // fact append touching a few (seg, cat) cells
    Seq((301L, 3L, 4L, 999.0), (302L, 7L, 4L, 8.5))
      .toDF("sk", "f_c", "f_i", "amt").writeTo(s"$cat.fact").append()
    ManifestMaterializedView.refresh(spark, cat, "star")
    starCheck(cat)
    // takedown that retracts the max of its group → joined recompute path
    spark.sql(s"DELETE FROM $cat.fact WHERE sk = 301")
    ManifestMaterializedView.refresh(spark, cat, "star")
    starCheck(cat)
    // CDC upsert re-pricing rows across the filter boundary
    Seq((5L, 5L, 5L, 1.0), (250L, 10L, 0L, 777.0))
      .toDF("sk", "f_c", "f_i", "amt")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/fact").option("upsertKeys", "sk").save()
    ManifestMaterializedView.refresh(spark, cat, "star")
    starCheck(cat)
    // fact-only movement must NOT have re-pinned the dims
    val mvDir = new Path(root, "star")
    val d = ManifestMaterializedView.readDef(fsOf(mvDir), mvDir)
    assert(d.dims.map(_.version) == Seq(2, 2),
      s"fact-only refreshes must keep dim pins, got ${d.dims}")
  }

  test("STAR-JOIN MV: a DIM change refreshes through the exact " +
    "DIM-DELTA step (the dim's own change feed folds through the fixed " +
    "fact — NEVER a full recompute), re-pins the checkpoint, and " +
    "matches a direct recompute at the new heads — including a dim " +
    "UPSERT that MOVES groups") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    seedStar(cat)
    // merge-on-read dim so upserts exercise the CDC legs in the dim CDF
    spark.sql(s"ALTER TABLE $cat.dimc SET TBLPROPERTIES(" +
      "'delete.mode'='merge-on-read')")
    ManifestMaterializedView.create(spark, cat, "star", "fact",
      Some("amt > 5.0"), Seq("c_seg", "i_cat"),
      ManifestMaterializedView.parseAggs(
        "count:*:n,sum:amt:sa,min:amt:mn,max:amt:mx"),
      Seq(("dimc", "f_c = c_id", false), ("dimi", "f_i = i_id", false)))
    val fullBefore = ManifestMaterializedView.fullRecomputes.get()
    // a new customer lands + a fact row pointing at it (fact AND dim
    // moved: both steps run in one refresh)
    Seq((20L, "seg9")).toDF("c_id", "c_seg").writeTo(s"$cat.dimc").append()
    Seq((400L, 20L, 1L, 42.0)).toDF("sk", "f_c", "f_i", "amt")
      .writeTo(s"$cat.fact").append()
    val d = ManifestMaterializedView.refresh(spark, cat, "star")
    starCheck(cat)
    assert(d.dims.find(_.table == "dimc").get.version >= 3,
      s"dim movement must re-pin, got ${d.dims}")
    assert(readMv(cat, "star").collect()
      .exists(_.getString(0) == "seg9"), "the new dim segment must appear")
    // dim UPSERT re-segments customer 3: every fact row of c_id=3 MOVES
    // from seg3 to seg_moved — the dim CDF's delete leg retracts the old
    // group's contributions (min/max retraction recompute path through
    // the JOIN) and the insert leg builds the new group
    Seq((3L, "seg_moved")).toDF("c_id", "c_seg")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/dimc").option("upsertKeys", "c_id").save()
    ManifestMaterializedView.refresh(spark, cat, "star")
    starCheck(cat)
    assert(readMv(cat, "star").collect()
      .exists(_.getString(0) == "seg_moved"))
    // a dim takedown erasing a whole segment deletes its MV groups, in
    // the dim step's one MV commit
    val starDir = new Path(root, "star")
    def mvHead = ManifestFiles.latestComplete(fsOf(starDir), starDir)
    val beforeTakedown = mvHead
    spark.sql(s"DELETE FROM $cat.dimc WHERE c_seg = 'seg9'")
    ManifestMaterializedView.refresh(spark, cat, "star")
    starCheck(cat)
    assert(mvHead == beforeTakedown + 1)
    assert(!readMv(cat, "star").collect().exists(_.getString(0) == "seg9"),
      "groups of the vanished dim segment must be DELETED from the MV")
    assert(ManifestMaterializedView.fullRecomputes.get() == fullBefore,
      "every dim change above must ride the DELTA step, not a recompute")
    // the FALLBACK is real: vacuum the dim past the pin and move it —
    // the refresh recomputes from truth instead of failing
    Seq((21L, "segX")).toDF("c_id", "c_seg").writeTo(s"$cat.dimc").append()
    spark.sql(s"CALL $cat.system.vacuum('dimc', 1)")
    Seq((401L, 21L, 2L, 50.0)).toDF("sk", "f_c", "f_i", "amt")
      .writeTo(s"$cat.fact").append()
    val beforeRecompute = mvHead
    ManifestMaterializedView.refresh(spark, cat, "star")
    starCheck(cat)
    assert(mvHead == beforeRecompute + 1) // the recompute's one commit
    assert(ManifestMaterializedView.fullRecomputes.get() > fullBefore,
      "an expired dim pin must fall back to the authoritative recompute")
  }

  // ---- LEFT-JOIN dims (round 16) ---------------------------------------

  /** Fixture: fact(sk, fb, f_c, amt) LEFT JOIN dimc(c_id, c_seg) where
    * dimc covers only HALF the fact's f_c domain — the SCD
    * incomplete-metadata idiom: unmatched fact rows keep their group
    * (keyed by the FACT column fb) with null dim aggregates. */
  private def seedLeft(cat: String): Unit = {
    import spark.implicits._
    spark.sql(s"CREATE TABLE $cat.fact (sk BIGINT, fb BIGINT, " +
      "f_c BIGINT, amt DOUBLE) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    spark.sql(s"CREATE TABLE $cat.dimc (c_id BIGINT, c_seg STRING) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    (0L to 9L).map(i => (i, s"seg${i % 3}")).toDF("c_id", "c_seg")
      .writeTo(s"$cat.dimc").append()
    (1L to 200L).map(k => (k, k % 5, k % 20, k * 0.5 + (k % 7) * 0.01))
      .toDF("sk", "fb", "f_c", "amt").writeTo(s"$cat.fact").append()
  }

  private def leftDirect(cat: String): DataFrame =
    spark.sql(s"SELECT fb, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS sa, " +
      "CAST(COUNT(c_seg) AS BIGINT) AS nc, MIN(c_seg) AS mns " +
      s"FROM $cat.fact LEFT JOIN $cat.dimc ON f_c = c_id GROUP BY fb")

  private def leftCheck(cat: String): Unit = {
    val got = sortedRows(readMv(cat, "lmv"))
    val want = sortedRows(leftDirect(cat))
    assert(got == want, s"left-dim MV drifted from direct recompute:\n" +
      s"got  ${got.take(4).mkString(" | ")}\nwant ${want.take(4).mkString(" | ")}")
  }

  test("LEFT-JOIN dim MV (round 16 — the SCD incomplete-metadata " +
    "idiom): unmatched fact rows KEEP their group with null dim " +
    "aggregates; fact appends refresh from the CDF against the pinned " +
    "left dim; a moved LEFT dim refreshes through the delta step with " +
    "NULL-PAD CORRECTION legs when rows cross the matched/unmatched " +
    "boundary — never a full recompute") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    seedLeft(cat)
    ManifestMaterializedView.create(spark, cat, "lmv", "fact", None,
      Seq("fb"), ManifestMaterializedView.parseAggs(
        "count:*:n,sum:amt:sa,count:c_seg:nc,min:c_seg:mns"),
      Seq(("dimc", "f_c = c_id", true)))
    leftCheck(cat)
    // the unmatched half is IN the MV: total count spans all 200 rows
    assert(readMv(cat, "lmv").agg(sum($"n")).head().getLong(0) == 200L,
      "unmatched fact rows must not vanish from a left-dim MV")
    val fullBefore = ManifestMaterializedView.fullRecomputes.get()
    // fact append with BOTH matched and unmatched rows
    Seq((301L, 1L, 3L, 10.0), (302L, 2L, 15L, 20.0))
      .toDF("sk", "fb", "f_c", "amt").writeTo(s"$cat.fact").append()
    ManifestMaterializedView.refresh(spark, cat, "lmv")
    leftCheck(cat)
    // dim movement WITHOUT boundary crossing: re-segment c_id=3 (its
    // fact rows stay matched — pure matched-leg delta)
    Seq((3L, "seg_moved")).toDF("c_id", "c_seg")
      .write.mode("append").format("graft-manifest")
      .option("path", s"$root/dimc").option("upsertKeys", "c_id").save()
    ManifestMaterializedView.refresh(spark, cat, "lmv")
    leftCheck(cat)
    // GAINED: a brand-new dim row matches previously-unmatched fact
    // rows (f_c = 15) — their null-pad contributions must retract
    Seq((15L, "seg_new")).toDF("c_id", "c_seg").writeTo(s"$cat.dimc").append()
    ManifestMaterializedView.refresh(spark, cat, "lmv")
    leftCheck(cat)
    // LOST: a dim takedown unmatches f_c = 2's rows — their null-pad
    // contributions must come back (count stays, dim aggregates shrink)
    spark.sql(s"DELETE FROM $cat.dimc WHERE c_id = 2")
    ManifestMaterializedView.refresh(spark, cat, "lmv")
    leftCheck(cat)
    assert(readMv(cat, "lmv").agg(sum($"n")).head().getLong(0) == 202L,
      "a lost dim match must never drop fact rows")
    assert(ManifestMaterializedView.fullRecomputes.get() == fullBefore,
      "every left-dim change above must ride the DELTA step")
    // guardrail: group keys may not come from a LEFT dim (nullable keys
    // cannot ride the CDC upsert path)
    val e = intercept[IllegalArgumentException] {
      ManifestMaterializedView.create(spark, cat, "bad", "fact", None,
        Seq("c_seg"), ManifestMaterializedView.parseAggs("count:*:n"),
        Seq(("dimc", "f_c = c_id", true)))
    }
    assert(e.getMessage.contains("LEFT dim"))
    // the CALL surface round-trips the LEFT kind
    spark.sql(s"CALL $cat.system.create_materialized_view('lmv2', " +
      "'fact', 'fb', 'count:*:n', '', 'dimc LEFT ON f_c = c_id')")
    val mvDir = new Path(root, "lmv2")
    val d2 = ManifestMaterializedView.readDef(fsOf(mvDir), mvDir)
    assert(d2.dims.head.isLeft, s"CALL must parse LEFT ON, got ${d2.dims}")
  }

  test("LEFT-dim MV with a DIM-side filter: null-padded rows evaluate " +
    "the filter over null dim columns consistently in the build, the " +
    "fact step, and both null-pad correction legs") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    seedLeft(cat)
    // keeps null-pads (unmatched rows) AND matched rows outside seg0 —
    // the filter must see NULL dim columns on every path identically
    val f = "coalesce(c_seg, '?') <> 'seg0'"
    ManifestMaterializedView.create(spark, cat, "lfm", "fact", Some(f),
      Seq("fb"), ManifestMaterializedView.parseAggs(
        "count:*:n,sum:amt:sa,count:c_seg:nc"),
      Seq(("dimc", "f_c = c_id", true)))
    def check(): Unit = {
      val got = sortedRows(readMv(cat, "lfm"))
      val want = sortedRows(spark.sql(
        s"SELECT fb, CAST(COUNT(*) AS BIGINT) AS n, " +
          "CAST(SUM(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS sa, " +
          "CAST(COUNT(c_seg) AS BIGINT) AS nc " +
          s"FROM $cat.fact LEFT JOIN $cat.dimc ON f_c = c_id " +
          s"WHERE $f GROUP BY fb"))
      assert(got == want, s"filtered left-dim MV drifted:\ngot  " +
        s"${got.take(4).mkString(" | ")}\nwant ${want.take(4).mkString(" | ")}")
    }
    check()
    val fullBefore = ManifestMaterializedView.fullRecomputes.get()
    Seq((401L, 4L, 17L, 9.0)).toDF("sk", "fb", "f_c", "amt")
      .writeTo(s"$cat.fact").append()
    ManifestMaterializedView.refresh(spark, cat, "lfm")
    check()
    // GAINED under the filter: f_c=17 rows move from null-pad (kept by
    // the filter) to seg2 matches (also kept) — both legs filter-true
    Seq((17L, "seg2")).toDF("c_id", "c_seg").writeTo(s"$cat.dimc").append()
    ManifestMaterializedView.refresh(spark, cat, "lfm")
    check()
    // GAINED into a FILTERED-OUT segment: f_c=18 rows leave the kept
    // null-pad state and their matched rows FAIL the filter — the MV
    // must shrink by exactly those rows
    Seq((18L, "seg0")).toDF("c_id", "c_seg").writeTo(s"$cat.dimc").append()
    ManifestMaterializedView.refresh(spark, cat, "lfm")
    check()
    // LOST from the filtered-out segment: rows return as null-pads
    spark.sql(s"DELETE FROM $cat.dimc WHERE c_id = 18")
    ManifestMaterializedView.refresh(spark, cat, "lfm")
    check()
    assert(ManifestMaterializedView.fullRecomputes.get() == fullBefore,
      "every step above must ride the DELTA path")
  }

  test("STAR-JOIN MV guardrails: duplicate column names across " +
    "fact/dims reject at create; unknown dim table rejects; the CALL " +
    "surface round-trips dims") {
    import spark.implicits._
    val root = tmpDir()
    val cat = register(root)
    seedStar(cat)
    spark.sql(s"CREATE TABLE $cat.clash (sk BIGINT, note STRING)")
    spark.sql(s"INSERT INTO $cat.clash VALUES (1, 'x')")
    val e = intercept[IllegalArgumentException] {
      ManifestMaterializedView.create(spark, cat, "bad", "fact", None,
        Seq("note"), ManifestMaterializedView.parseAggs("count:*:n"),
        Seq(("clash", "f_c = sk", false)))
    }
    assert(e.getMessage.contains("unique column names"))
    intercept[IllegalArgumentException] {
      ManifestMaterializedView.create(spark, cat, "bad2", "fact", None,
        Seq("c_seg"), ManifestMaterializedView.parseAggs("count:*:n"),
        Seq(("nosuch", "f_c = c_id", false)))
    }
    spark.sql(s"CALL $cat.system.create_materialized_view('starz', " +
      "'fact', 'c_seg', 'count:*:n,sum:amt:sa', 'amt > 5.0', " +
      "'dimc ON f_c = c_id')")
    val got = sortedRows(ManifestMaterializedView.read(spark, cat, "starz"))
    val want = sortedRows(spark.sql(
      s"SELECT c_seg, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"CAST(SUM(CAST(amt AS DECIMAL(18,6))) AS DOUBLE) AS sa " +
        s"FROM $cat.fact JOIN $cat.dimc ON f_c = c_id " +
        "WHERE amt > 5.0 GROUP BY c_seg"))
    assert(got == want)
  }

  test("MAINTENANCE-transparent refresh (round 16): compaction-only " +
    "movement re-pins the checkpoint with ZERO data work (no MV " +
    "commit, no recompute), and a vacuumed pin whose tail is " +
    "maintenance-only still avoids the full recompute") {
    import spark.implicits._
    seedSourceIn { (cat, filter) =>
      ManifestMaterializedView.create(spark, cat, "mvm", "src",
        filter, Seq("grp"), ManifestMaterializedView.parseAggs(aggSpecs))
      val root = spark.conf.get(s"spark.sql.catalog.$cat.root")
      val mvDir = new Path(root, "mvm")
      spark.sql(s"CALL $cat.system.compact('src', 2)") // v3, row-preserving
      val repins0 = ManifestMaterializedView.maintRepins.get()
      val recomp0 = ManifestMaterializedView.fullRecomputes.get()
      val mvDataV0 = ManifestFiles.latestComplete(fsOf(mvDir), mvDir)
      val d = ManifestMaterializedView.refresh(spark, cat, "mvm")
      assert(d.sourceVersion == 3)
      assert(ManifestMaterializedView.maintRepins.get() == repins0 + 1,
        "compaction-only movement must take the re-pin fast path")
      assert(ManifestMaterializedView.fullRecomputes.get() == recomp0)
      // only the checkpoint advanced — the MV table itself is untouched
      assert(ManifestFiles.latestComplete(fsOf(mvDir), mvDir) == mvDataV0)
      assert(d.mvVersion == mvDataV0)
      assertMatches(cat, "mvm", filter)
      // vacuum the pin away, with ONLY maintenance in the tail: the
      // marker proof reads the head snapshot, so no recompute either
      spark.sql(s"CALL $cat.system.compact('src', 1)") // v4, row-preserving
      spark.sql(s"CALL $cat.system.vacuum('src', 1)")  // pin v3 expired
      val recomp1 = ManifestMaterializedView.fullRecomputes.get()
      val d2 = ManifestMaterializedView.refresh(spark, cat, "mvm")
      assert(d2.sourceVersion == 4)
      assert(ManifestMaterializedView.fullRecomputes.get() == recomp1,
        "a maintenance-only tail past a vacuumed pin must re-pin, not " +
          "recompute")
      assertMatches(cat, "mvm", filter)
      // a REAL data commit after the re-pins folds normally
      Seq((900L, "g0", "s1", 9.0, Option(5L)))
        .toDF("k", "grp", "sub", "v", "w").writeTo(s"$cat.src").append()
      val d3 = ManifestMaterializedView.refresh(spark, cat, "mvm")
      assert(d3.sourceVersion == 5)
      assertMatches(cat, "mvm", filter)
      // COMPACT-THEN-APPEND with the pin vacuumed (round 16 — prefix
      // skipping): the effective baseline advances past the compaction
      // (its markers ride the head snapshot), so the refresh folds just
      // the append's CDF — never a full recompute, even though the pin
      // itself is gone
      spark.sql(s"CALL $cat.system.compact('src', 1)")           // v6
      Seq((901L, "g1", "s2", 8.5, Option(2L)))
        .toDF("k", "grp", "sub", "v", "w").writeTo(s"$cat.src").append() // v7
      spark.sql(s"CALL $cat.system.vacuum('src', 2)")  // pin v5 expired
      val recomp2 = ManifestMaterializedView.fullRecomputes.get()
      val d4 = ManifestMaterializedView.refresh(spark, cat, "mvm")
      assert(d4.sourceVersion == 7)
      assert(ManifestMaterializedView.fullRecomputes.get() == recomp2,
        "the maintenance prefix must carry the baseline past the " +
          "vacuumed pin — incremental, not recompute")
      assertMatches(cat, "mvm", filter)
    }
  }
}
