package perfbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.api.Graft
import graft.sources.{ManifestFiles, ManifestMaterializedView}

/** What every op sees: the session, the generated input tables, the
  * benchmark's scratch root, the seed and the span recorder. */
final case class Ctx(spark: SparkSession, data: String, work: File, seed: Long,
    tracer: Tracer)

/** One closed-loop operation. `run` is the timed part; `check` verifies
  * its output afterwards (untimed) and returns the mismatch, if any. */
trait Op {
  def kind: String
  /** "query", "commit", "refresh", "compact" or "probe". */
  def cls: String
  def run(): Any
  def check(out: Any): Option[String] = None
  /** Replaces the output with a wrong one (the failure-counting test). */
  def corrupt(out: Any): Any = out
  /** Extra fields recorded with the op after its check. */
  def extra(out: Any): Seq[(String, Any)] = Nil
  /** Traced run only: a probe of the layers the op touched, run after
    * the op's timing ends. */
  def probe(): Seq[(String, Any)] = Nil
}

trait Workload {
  def name: String
  def bootstrap(): Unit = ()
  /** The warm-up, run on the last set-up's session: one op of every kind,
    * so the timed window sees JIT-compiled code, Spark's generated-code
    * cache and the session's caches filled instead of each kind's first run. */
  def prime: Seq[Op]
  def op(i: Int): Op
  /** Post-window state the metrics need (e.g. bytes stored). */
  def endOfWindow(): Seq[(String, Any)] = Nil
  /** Untimed correctness checks after the window: (name, mismatch). */
  def finish(): Seq[(String, Option[String])] = Nil
  /** Traced run only: public API calls timed one by one after the window. */
  def apiProbes: Seq[Op] = Nil
}

object Workload {
  /** Workloads that run over the shared-directory shuffle (the shuffle
    * manager is fixed when the SparkContext starts). */
  val sharedShuffle: Set[String] = Set("olap_join_agg")

  /** Set-ups per run: the first counts from process start, and `setup_s`
    * is the median of the warm restarts after it. A query workload's
    * restart is a new session (0.1–0.3 s), so it restarts ten times;
    * `governed_cdc` also reloads its table (2–3 s), so it restarts once
    * to fit the run budget. */
  def setups(name: String): Int = if (name == "governed_cdc") 2 else 11

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "olap_join_agg" => new QueryWorkload(name, ctx,
      light = Seq("q01", "q03", "q123"),
      heavy = Seq("q193"))
    case "llm_corpus" => new QueryWorkload(name, ctx,
      light = Seq("q60", "q61", "q64", "q66", "q67", "q69", "q70", "q71", "q166", "q225"),
      heavy = Seq("q63", "q182"))
    case "governed_cdc" => new CdcWorkload(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Order-independent digest of a result: rows rendered, sorted, hashed. */
  def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toSeq.map(render).mkString("\u0001")).sorted
      .foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case other => other.toString
  }

  /** The seeded order of cycle `c` over a multiset of kinds. */
  def cycleOrder[T](items: Seq[T], seed: Long, c: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + c).shuffle(items)

  /** Cycle `c` of a query stream: every kind once, the light and the heavy
    * kinds each shuffled by the seed, then interleaved evenly so that any
    * prefix of the cycle holds them in the same proportion — a window that
    * ends mid-cycle then sees the same mix whatever the seed. */
  def stratifiedCycle[T](light: Seq[T], heavy: Seq[T], seed: Long, c: Int): Seq[T] = {
    def spread(xs: Seq[T]) = cycleOrder(xs, seed, c).zipWithIndex
      .map { case (x, j) => (x, (j + 0.5) / xs.size) }
    (spread(heavy) ++ spread(light)).sortBy(_._2).map(_._1)
  }
}

/** A seeded closed-loop stream of declared queries, in cycles that run
  * each query once. Every distinct query's first result in the window
  * becomes its reference (written out for the DuckDB oracle after the
  * run); every later run must reproduce its digest. */
final class QueryWorkload(val name: String, ctx: Ctx, light: Seq[String],
    heavy: Seq[String]) extends Workload {
  import ctx.spark

  private def fullName(prefix: String): String =
    SparkEntry.queries.keys.find(_.startsWith(prefix + "_")).getOrElse(
      throw new IllegalArgumentException(s"no declared query $prefix"))

  private val lightNames = light.map(fullName)
  private val heavyNames = heavy.map(fullName)
  private val cycleLen = light.size + heavy.size
  private val refs = mutable.LinkedHashMap[String, (Array[Row], StructType, String)]()

  /** A run of one declared query; warm-up runs keep no reference. */
  private final class QueryOp(val kind: String, reference: Boolean = true) extends Op {
    val cls = "query"
    def run(): Any = GraftSession.withConfScope(spark) {
      Graft.withCacheScope {
        val t = ctx.tracer
        val df = t.span("plans.build")(SparkEntry.queries(kind)(spark, ctx.data))
        val qe = df.queryExecution
        t.span("plans.analyze")(qe.analyzed)
        t.span("plans.optimize")(qe.optimizedPlan)
        t.span("plans.physical")(qe.executedPlan)
        (t.span("exec.collect")(df.collect()), df.schema)
      }
    }
    override def check(out: Any): Option[String] = if (!reference) None else {
      val (rows, schema) = out.asInstanceOf[(Array[Row], StructType)]
      val d = Workload.digest(rows)
      refs.get(kind) match {
        case None => refs(kind) = (rows, schema, d); None
        case Some((_, _, ref)) if ref == d => None
        case Some((r, _, _)) => Some(s"$kind: result digest differs from the " +
          s"window's first run (${rows.length} rows vs ${r.length})")
      }
    }
    override def corrupt(out: Any): Any = {
      val (rows, schema) = out.asInstanceOf[(Array[Row], StructType)]
      val extra = rows.headOption.getOrElse(Row.fromSeq(schema.map(_ => null)))
      (rows :+ extra, schema)
    }
  }

  def prime: Seq[Op] = (lightNames ++ heavyNames).map(new QueryOp(_, reference = false))

  def op(i: Int): Op = new QueryOp(Workload.stratifiedCycle(
    lightNames, heavyNames, ctx.seed, i / cycleLen)(i % cycleLen))

  /** Writes each reference result and its oracle SQL for run.py. */
  override def finish(): Seq[(String, Option[String])] = {
    val dir = new File(ctx.work, "results")
    dir.mkdirs()
    refs.foreach { case (q, (rows, schema, _)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(dir, q).getPath)
    }
    val oracle = refs.keys.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    java.nio.file.Files.writeString(new File(dir, "oracle_sql.json").toPath,
      Json(oracle))
    Nil
  }

  override def apiProbes: Seq[Op] = {
    val docs = spark.read.parquet(s"${ctx.data}/documents.parquet")
    val emb = spark.read.parquet(s"${ctx.data}/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var candidates = Set.empty[(Long, Long)]
    var edges: DataFrame = null
    def probe(k: String)(body: => Seq[(String, Any)]): Op = new Op {
      val kind = k
      val cls = "probe"
      def run(): Any = ctx.tracer.span(k)(body)
      override def extra(out: Any): Seq[(String, Any)] =
        out.asInstanceOf[Seq[(String, Any)]]
    }
    Seq(
      probe("api.min_hash_candidates") {
        candidates = pairs(Graft.minHashCandidates(docs, "doc_id", "text",
          threshold = 0.5))
        Seq("candidate_pairs" -> candidates.size.toLong)
      },
      probe("api.exact_jaccard_pairs") {
        edges = Graft.exactJaccardPairs(docs, "doc_id", "text", 0.5).localCheckpoint()
        val exact = pairs(edges)
        Seq("exact_pairs" -> exact.size.toLong,
          "confirmed_pairs" -> candidates.count(exact).toLong)
      },
      probe("api.dedup_clusters") {
        Seq("clustered_docs" -> Graft.dedupClusters(edges).collect().length.toLong)
      },
      probe("api.lsh_neighbors") {
        Seq("rows" -> Graft.lshNeighbors(emb, queries, "vec_id", "embedding",
          "vec_id", "embedding", k = 10).collect().length.toLong)
      },
      probe("api.topk_neighbors") {
        Seq("rows" -> Graft.topKNeighbors(emb, queries, "vec_id", "embedding",
          "vec_id", "embedding", k = 10).collect().length.toLong)
      })
  }
}

/** One row of the governed table, as the model holds it. */
final case class R(key: Long, cust: Long, status: String, prio: String,
    cents: Long, day: Long) {
  def row: Row = Row(key, cust, status, prio, cents,
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day)))
}

/** One long-lived merge-on-read governed table (loaded from `orders`) with
  * one incremental MV, driven by a seeded mix of ~1% commits. A model of
  * the table is replayed alongside; read ops are checked against it, and
  * after the window the scan, the MV and the change feed are too. */
final class CdcWorkload(ctx: Ctx) extends Workload {
  import ctx.spark

  val name = "governed_cdc"

  private val root = new File(ctx.work, "tables")
  private val dir = new Path(new File(root, "ord").toURI)
  private def fs: FileSystem = dir.getFileSystem(spark.sessionState.newHadoopConf())

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_orderpriority", StringType),
    StructField("o_cents", LongType), StructField("o_orderdate", DateType)))

  private def fromRow(r: Row): R = R(r.getLong(0), r.getLong(1), r.getString(2),
    r.getString(3), r.getLong(4), r.getDate(5).toLocalDate.toEpochDay)

  // the model: live rows by key, plus a dense key list for seeded sampling
  private val model = mutable.LongMap[R]()
  private val keys = ArrayBuffer[Long]()
  private val keyPos = mutable.LongMap[Int]()
  private var nextKey = 0L
  private var batch = 1
  private var v0 = 0

  private def put(r: R): Unit = {
    if (!model.contains(r.key)) { keyPos(r.key) = keys.size; keys += r.key }
    model(r.key) = r
    nextKey = math.max(nextKey, r.key + 1)
  }
  private def remove(k: Long): Unit = model.remove(k).foreach { _ =>
    val i = keyPos.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (last != k) { keys(i) = last; keyPos(last) = i }
  }

  private val statuses = Array("F", "O", "P")
  private val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val firstDay = java.time.LocalDate.parse("1995-01-01").toEpochDay
  private val lastDay = java.time.LocalDate.parse("2001-08-01").toEpochDay

  /** A new order, dated after the loaded ones (appends arrive in time order). */
  private def fresh(rng: java.util.SplittableRandom, key: Long): R =
    R(key, rng.nextLong(1000), statuses(rng.nextInt(3)), prios(rng.nextInt(5)),
      rng.nextLong(100000L, 50000000L), lastDay + rng.nextLong(365))

  private def liveSample(rng: java.util.SplittableRandom, n: Int): Seq[Long] =
    (0 until n).map(_ => keys(rng.nextInt(keys.size))).distinct

  private def frame(rows: Seq[R]): DataFrame =
    spark.createDataFrame(rows.map(_.row).asJava, schema)

  private def aggOf(rs: Iterable[R]): Map[(String, String), (Long, Long)] =
    rs.groupBy(r => (r.status, r.prio)).map { case (g, xs) =>
      g -> (xs.size.toLong, xs.map(_.cents).sum)
    }

  private def aggRows(rows: Array[Row]) = rows.map(r =>
    (r.getAs[String]("o_orderstatus"), r.getAs[String]("o_orderpriority")) ->
      (r.getAs[Long]("n"), r.getAs[Long]("cents"))).toMap

  override def bootstrap(): Unit = {
    model.clear(); keys.clear(); keyPos.clear(); nextKey = 0L
    spark.conf.set("spark.sql.catalog.cdc", "graft.sources.GraftManifestCatalog")
    spark.conf.set("spark.sql.catalog.cdc.root", root.toURI.toString)
    spark.sql("CREATE TABLE cdc.ord (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_orderpriority STRING, o_cents BIGINT, " +
      "o_orderdate DATE) TBLPROPERTIES('delete.mode'='merge-on-read')")
    val base = spark.read.parquet(s"${ctx.data}/orders.parquet").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("o_cents"),
      to_date(col("o_orderdate")).as("o_orderdate"))
    base.collect().foreach(r => put(fromRow(r)))
    base.repartitionByRange(8, col("o_orderdate")).writeTo("cdc.ord").append()
    spark.sql("CALL cdc.system.create_materialized_view('rev', 'ord', " +
      "'o_orderstatus,o_orderpriority', " +
      "'count:*:n,sum:o_cents:cents')").collect()
    batch = math.max(1, model.size / 100)
    v0 = ManifestFiles.latestVersion(fs, dir)
  }

  private abstract class Commit(val kind: String) extends Op {
    val cls = "commit"
    /** Applied to the model only once the commit returned. */
    def applyModel(): Unit
    override def check(out: Any): Option[String] = { applyModel(); None }
    override def probe(): Seq[(String, Any)] = ctx.tracer.span("sources.meta.resolve") {
      val t0 = System.nanoTime()
      val lines = ManifestFiles.linesOf(fs, dir, None)
      val resolve = System.nanoTime() - t0
      val before = ManifestFiles.entriesFromLines(ManifestFiles.linesOf(fs, dir,
        Some(ManifestFiles.latestVersion(fs, dir) - 1))).map(_._1).toSet
      val added = ManifestFiles.entriesFromLines(lines).filterNot(e => before(e._1))
      Seq("resolve_ns" -> resolve, "files_added" -> added.length.toLong,
        "rows_added" -> added.map(_._2).sum,
        "bytes_added" -> added.map(e => fs.getFileStatus(new Path(dir, e._1)).getLen).sum)
    }
  }

  private def commitOp(kind: String, rng: java.util.SplittableRandom): Op = kind match {
    case "append" =>
      val rows = (0 until batch).map(j => fresh(rng, nextKey + j))
      new Commit(kind) {
        def run(): Any = ctx.tracer.span("sources.write")(frame(rows).writeTo("cdc.ord").append())
        def applyModel(): Unit = rows.foreach(put)
      }
    case "upsert" =>
      val rows = liveSample(rng, batch).map { k =>
        model(k).copy(cents = rng.nextLong(100000L, 50000000L), status = statuses(rng.nextInt(3)))
      }
      new Commit(kind) {
        def run(): Any = ctx.tracer.span("sources.write")(frame(rows).write
          .format("graft-manifest").mode("append").option("path", dir.toString)
          .option("upsertKeys", "o_orderkey").save())
        def applyModel(): Unit = rows.foreach(put)
      }
    case "delete" =>
      val lo = keys(rng.nextInt(keys.size))
      val hi = lo + batch
      new Commit(kind) {
        def run(): Any = ctx.tracer.span("sources.write")(spark.sql(
          s"DELETE FROM cdc.ord WHERE o_orderkey >= $lo AND o_orderkey < $hi").collect())
        def applyModel(): Unit = (lo until hi).foreach(remove)
      }
    case "merge" =>
      val upd = liveSample(rng, batch / 2).map(k => model(k).copy(cents = rng.nextLong(100000L, 50000000L)))
      val ins = (0 until batch / 2).map(j => fresh(rng, nextKey + j))
      val rows = upd ++ ins
      new Commit(kind) {
        def run(): Any = ctx.tracer.span("sources.write") {
          frame(rows).createOrReplaceTempView("pb_merge_src")
          spark.sql("""MERGE INTO cdc.ord AS t USING pb_merge_src AS s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED THEN UPDATE SET o_custkey = s.o_custkey,
              o_orderstatus = s.o_orderstatus, o_orderpriority = s.o_orderpriority,
              o_cents = s.o_cents, o_orderdate = s.o_orderdate
            WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
              o_orderpriority, o_cents, o_orderdate) VALUES (s.o_orderkey,
              s.o_custkey, s.o_orderstatus, s.o_orderpriority, s.o_cents,
              s.o_orderdate)""").collect()
        }
        def applyModel(): Unit = rows.foreach(put)
      }
  }

  private final class Refresh extends Op {
    val kind = "refresh"
    val cls = "refresh"
    def run(): Any = ctx.tracer.span("sources.mv")(
      spark.sql("CALL cdc.system.refresh_materialized_view('rev')").collect())
  }

  private final class Compact extends Op {
    val kind = "compact"
    val cls = "compact"
    def run(): Any = ctx.tracer.span("sources.write")(
      spark.sql("CALL cdc.system.compact('ord', 8, 'o_orderdate')").collect())
  }

  private def read(kind0: String, sql: String, expected: => Any,
      parse: Array[Row] => Any): Op = new Op {
    val kind = kind0
    val cls = "query"
    def run(): Any = {
      val t = ctx.tracer
      val df = t.span("plans.build")(spark.sql(sql))
      val qe = df.queryExecution
      t.span("plans.analyze")(qe.analyzed)
      val rewritten = t.span("plans.optimize")(qe.optimizedPlan).toString.contains(".rev")
      t.span("plans.physical")(qe.executedPlan)
      (t.span("exec.collect")(df.collect()), rewritten)
    }
    override def check(out: Any): Option[String] = {
      val got = parse(out.asInstanceOf[(Array[Row], Boolean)]._1)
      val want = expected
      if (got == want) None else Some(s"$kind: got $got, model says $want")
    }
    override def corrupt(out: Any): Any = {
      val (rows, rw) = out.asInstanceOf[(Array[Row], Boolean)]
      (rows.drop(1), rw)
    }
    override def extra(out: Any): Seq[(String, Any)] =
      if (kind0 == "mv_query") Seq("mv_rewrite" -> out.asInstanceOf[(Array[Row], Boolean)]._2)
      else Nil
  }

  private def mvQuery: Op = read("mv_query",
    "SELECT o_orderstatus, o_orderpriority, count(*) AS n, sum(o_cents) AS cents " +
      "FROM cdc.ord " +
      "GROUP BY o_orderstatus, o_orderpriority",
    aggOf(model.values), aggRows)

  private def rangeScan(rng: java.util.SplittableRandom): Op = {
    val from = firstDay + rng.nextLong(lastDay - firstDay - 60)
    val to = from + 60
    def d(x: Long) = java.time.LocalDate.ofEpochDay(x)
    read("range_scan",
      s"SELECT count(*) AS n, sum(o_cents) AS cents FROM cdc.ord " +
        s"WHERE o_orderdate >= DATE '${d(from)}' AND o_orderdate < DATE '${d(to)}'",
      { val hit = model.values.filter(r => r.day >= from && r.day < to)
        Some((hit.size.toLong, hit.map(_.cents).sum)) },
      _.headOption.map(r => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))))
  }

  // Rounds of six commits (seeded order) and a date-range scan; every
  // second round adds refresh → the MV candidate aggregate, and one round
  // in four a sorted compact. Refresh costs ~10 commits, so keeping it to
  // one op in 16 keeps the latency percentiles off the step between the
  // two. The compact closes the second round, so every kind has run by
  // the 17th op and a short window still sees each kind.
  private val commitMix = Seq("append", "append", "upsert", "upsert", "delete", "merge")
  private val block: IndexedSeq[(Int, String)] = (0 until 4).flatMap { r =>
    commitMix.indices.map(k => r -> s"commit$k") ++ Seq(r -> "scan") ++
      (if (r % 2 == 1) Seq(r -> "refresh", r -> "mv_query") else Nil) ++
      (if (r == 1) Seq(r -> "compact") else Nil)
  }

  private def rngFor(i: Int) = new java.util.SplittableRandom(ctx.seed * 1000003L + i)

  def prime: Seq[Op] = commitMix.distinct.zipWithIndex.map { case (k, j) =>
    commitOp(k, rngFor(-2 - j))
  } ++ Seq(rangeScan(rngFor(-10)), new Refresh, mvQuery, new Compact)

  def op(i: Int): Op = {
    val rng = rngFor(i)
    val (r, slot) = block(i % block.size)
    val round = i / block.size * 4 + r
    slot match {
      case "scan" => rangeScan(rng)
      case "refresh" => new Refresh
      case "mv_query" => mvQuery
      case "compact" => new Compact
      case c => commitOp(Workload.cycleOrder(commitMix, ctx.seed, round)(c.last - '0'), rng)
    }
  }

  override def endOfWindow(): Seq[(String, Any)] = {
    val all = fs.listFiles(dir, true)
    var stored = 0L
    var log = 0L
    while (all.hasNext) {
      val f = all.next()
      stored += f.getLen
      val n = f.getPath.getName
      if (n.startsWith("_MANIFEST") || n.startsWith("_SCHEMA") || n.startsWith("_SEG."))
        log += f.getLen
    }
    val live = ManifestFiles.entries(fs, dir, None)
      .map { case (f, _) => fs.getFileStatus(new Path(dir, f)).getLen }.sum
    Seq("stored_bytes" -> stored, "live_bytes" -> live, "log_bytes" -> log,
      "versions" -> ManifestFiles.latestVersion(fs, dir).toLong,
      "live_rows" -> model.size.toLong)
  }

  override def finish(): Seq[(String, Option[String])] = {
    def guarded(name: String)(body: => Option[String]) =
      name -> (try body catch { case e: Throwable => Some(s"$name threw: $e") })
    Seq(
      guarded("scan_equals_model") {
        val got = spark.table("cdc.ord").collect().map(fromRow)
        val want = model.values.toSeq
        if (got.length == want.size && got.toSet == want.toSet) None
        else Some(s"table has ${got.length} rows, model ${want.size}; " +
          s"${(got.toSet -- want).size} rows not in the model")
      },
      guarded("mv_equals_recompute") {
        spark.sql("CALL cdc.system.refresh_materialized_view('rev')").collect()
        val got = aggRows(ManifestMaterializedView.read(spark, "cdc", "rev").collect())
        val want = aggOf(model.values)
        if (got == want) None else Some(s"MV $got != recompute $want")
      },
      guarded("change_feed_equals_snapshot_diff") {
        def load(opts: (String, String)*) =
          spark.read.format("graft-manifest").options(opts.toMap)
            .option("path", dir.toString).load()
        def counts(rows: Array[Row], sign: Row => Int) = {
          val m = mutable.Map[R, Int]().withDefaultValue(0)
          rows.foreach(r => m(fromRow(r)) += sign(r))
          m.filter(_._2 != 0).toMap
        }
        val feed = load("changeFeed" -> "true", "changesFrom" -> v0.toString)
          .select((schema.fieldNames.map(col) :+ col("_change_type")).toSeq: _*).collect()
        val net = counts(feed, r => if (r.getString(6).contains("delete") ||
          r.getString(6).contains("preimage")) -1 else 1)
        val before = counts(load("versionAsOf" -> v0.toString).collect(), _ => -1)
        val after = counts(load().collect(), _ => 1)
        val diff = (before.keySet ++ after.keySet).map(k =>
          k -> (after.getOrElse(k, 0) + before.getOrElse(k, 0))).filter(_._2 != 0).toMap
        if (net == diff) None
        else Some(s"feed nets ${net.size} changed rows, snapshot diff ${diff.size}")
      })
  }
}
