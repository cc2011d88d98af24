package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Session catalog of the generated parquet test tables (TESTDATA.md).
  *
  * Every query receives `(spark, sfDir)`; this object is the single place
  * that maps logical table names to files and registers temp views so both
  * the DataFrame-DSL and `spark.sql` entry points see the same relations
  * (mirrors the reference's `SessionCatalog` role for our fixed schema,
  * reference `sql/catalyst/.../catalog/SessionCatalog.scala`).
  *
  * What is cached: per `(session, dir, table)`, the schema parquet infers
  * for the table's files and the listing it was inferred from (every leaf
  * file's path, length and modification time). Inference costs a Spark
  * job per read; a cached schema turns every later read into
  * `spark.read.schema(cached).parquet(path)`, which runs none and still
  * builds a fresh relation (new attribute ids, so self-joins behave as
  * with an uncached read). `registerAll` re-registers all ten views on
  * every call from those schemas, which runs no job either.
  *
  * What invalidates an entry: every call re-lists the table's path (a few
  * microseconds on a local file) and re-infers when the listing differs,
  * so a file rewritten on disk is seen by the next read. The entry is also
  * keyed on the session's parquet-inference confs (`spark.sql.parquet.*`,
  * `spark.sql.legacy.parquet.*`, `spark.sql.caseSensitive`), so changing
  * one re-infers. Every resolve first sets
  * `spark.sql.legacy.parquet.nanosAsLong` (which `events` needs), so a
  * table read inside or outside `registerAll` carries the same conf key.
  *
  * Why entries are weakly keyed: the map is process-wide and keyed weakly
  * on the `SparkSession`, and its values hold only schemas and listings —
  * never a `DataFrame`, plan or session — so a stopped session stays
  * collectable. All access to the map holds its lock; inference runs
  * outside it.
  *
  * Scans stay fully declarative (`spark.read.parquet`) so Catalyst applies
  * partition pruning / filter pushdown / column pruning — at 100 TB these
  * tables would be directory-partitioned (e.g. lineitem by ship month) and
  * the same code path picks that up for free.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every leaf file under a table's path: (path, length, mtime), sorted. */
  private type Listing = Seq[(String, Long, Long)]

  private final case class Resolved(listing: Listing, schema: StructType)

  private type SessionTables =
    mutable.HashMap[(String, String, Seq[(String, String)]), Resolved]

  private val sessions = new java.util.WeakHashMap[SparkSession, SessionTables]()

  private def tablesOf(spark: SparkSession): SessionTables = sessions.synchronized {
    var t = sessions.get(spark)
    if (t == null) { t = new SessionTables; sessions.put(spark, t) }
    t
  }

  def df(spark: SparkSession, dir: String, name: String): DataFrame =
    relation(spark, dir, name, resolve(spark, dir, name))

  /** The schema parquet infers for `name`'s files — for `events`, before
    * `normalizeEventTs` — as the table's streaming readers declare it. */
  def schema(spark: SparkSession, dir: String, name: String): StructType =
    resolve(spark, dir, name).fold(spark.read.parquet(pathOf(dir, name)).schema)(_.schema)

  private def pathOf(dir: String, name: String): String = s"$dir/$name.parquet"

  /** The table's cached schema, re-inferred when its listing or the
    * session's inference confs changed; None when the path cannot be
    * listed (missing, a glob), where the uncached read reports as before. */
  private def resolve(spark: SparkSession, dir: String, name: String): Option[Resolved] = {
    // Harmless on current micros files; lets older nanos events load as long.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = pathOf(dir, name)
    listing(spark, path).map { files =>
      val key = (dir, name, inferenceConfs(spark))
      val tables = tablesOf(spark)
      sessions.synchronized(tables.get(key)).filter(_.listing == files)
        .getOrElse {
          val r = Resolved(files, spark.read.parquet(path).schema)
          sessions.synchronized(tables(key) = r)
          r
        }
    }
  }

  private def listing(spark: SparkSession, path: String): Option[Listing] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def leaves(st: FileStatus): Seq[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(leaves) else Seq(st)
      Some(leaves(fs.getFileStatus(p))
        .map(st => (st.getPath.toString, st.getLen, st.getModificationTime)).sortBy(_._1))
    } catch { case NonFatal(_) => None }

  private def inferenceConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }.sorted

  private def relation(spark: SparkSession, dir: String, name: String,
      r: Option[Resolved]): DataFrame = {
    val path = pathOf(dir, name)
    val raw = r.fold(spark.read.parquet(path))(t => spark.read.schema(t.schema).parquet(path))
    if (name != "events") raw
    else normalizeEventTs(raw).select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** Normalize `events.ts` across testdata generations so every consumer
    * (batch, streaming, tests) sees one engine-visible type: session-tz
    * `TimestampType`, microsecond precision.
    *
    *   - `LongType`: raw nanos from the legacy `nanosAsLong` read of older
    *     TIMESTAMP(NANOS) files (Spark's vectorized reader rejects nanos,
    *     SPARK-40819). Truncate to micros with floor semantics: `div`
    *     alone truncates toward zero, which rounds pre-1970 timestamps UP;
    *     subtracting the (always non-negative) pmod remainder first makes
    *     the division exact for any epoch sign — matching DuckDB's
    *     nanos→micros cast.
    *   - `TimestampNTZType`: current testdata writes plain `timestamp[us]`
    *     (no UTC adjustment), which Spark reads as TIMESTAMP_NTZ. Cast to
    *     TimestampType — value-identical under the engine's pinned UTC
    *     session zone, and what DuckDB sees as naive micros.
    *   - already `TimestampType`: pass through.
    *
    * Works on batch and streaming frames alike (pure column expressions). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Register all tables as temp views for `spark.sql` queries. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => df(spark, dir, n).createOrReplaceTempView(n))
}
