package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types._

/** METADATA-ONLY AGGREGATE PUSHDOWN (DSv2 `SupportsPushDownAggregates`,
  * the seam Iceberg/JDBC plug): an unfiltered global `COUNT(*)` /
  * `COUNT(col)` / `MIN(col)` / `MAX(col)` over a manifest table answers
  * from the snapshot's OWN metadata — entry row counts and `#stats`
  * null counts/bounds — without opening one data file. At 100 TB this
  * is the difference between "how many rows?" being a sub-second
  * driver read and a full-table scan; the spec proves the point by
  * DELETING the data files' bytes and counting anyway.
  *
  * Soundness gates (reject = Spark aggregates normally; pushdown must
  * never be a wrong answer):
  *   - global aggregates only (no GROUP BY), no pushed filters (Spark
  *     itself refuses aggregate pushdown under post-scan filters, and
  *     every manifest filter is post-scan by design — stats skipping is
  *     file-level, rows still need the filter);
  *   - no row-level delete state: MOR delete vectors / equality-delete
  *     sets hide rows the entry counts still include;
  *   - `COUNT(col)`/`MIN`/`MAX` need a `#stats` entry for EVERY file
  *     (pre-stats history degrades to no-pushdown, never a wrong count);
  *   - `MIN`/`MAX` exclude strings (bounds are TRUNCATED — a prefix is
  *     not a minimum), float/double (NaN makes file bounds treacherous —
  *     Iceberg draws the same line), widened columns (historical text
  *     re-decodes drifted), and anything whose raw bound fails to
  *     decode. `COUNT` is type-agnostic (null counts are exact). */
object ManifestAggPushdown {

  /** One pushed-aggregate column: its output field + computed value. */
  final case class Pushed(schema: StructType, values: Array[Any])

  private def colName(e: org.apache.spark.sql.connector.expressions.Expression):
      Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
    case _ => None
  }

  private def minMaxOk(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false // strings (truncated), float/double (NaN), the rest
  }

  /** Evaluate the gates and compute the answer. None = not pushable. */
  def tryPush(fs: FileSystem, dir: Path, version: Option[Int],
      branch: Option[String], schema: StructType,
      agg: Aggregation): Option[Pushed] = {
    if (agg.groupByExpressions.nonEmpty) return None
    if (agg.aggregateExpressions.isEmpty) return None
    val snap =
      try {
        val s = ManifestSnapshot.resolve(fs, dir, version, branch)
        s.lines // an unreadable segment declines the pushdown too
        s
      } catch { case _: Exception => return None }
    // an empty table has nothing to answer from; row-level delete state
    // hides rows the entry counts include
    if (snap.version <= 0 || snap.deleteFiles.nonEmpty ||
        snap.eqDeleteFiles.nonEmpty) return None
    val entries = snap.entries
    val stats = snap.stats
    val widened = snap.widened.keySet
    val allStats = entries.forall(e => stats.contains(e._1))
    val totalRows = entries.map(_._2).sum

    def statsOf(col: String): Option[Seq[ManifestFiles.ColStats]] = {
      if (!allStats) return None
      if (!schema.fieldNames.contains(col)) return None
      val i = schema.fieldIndex(col)
      val pos = ManifestFiles.physPos(schema, i)
      if (widened.contains(pos)) return None
      val per = entries.map(e => stats(e._1).cols.get(pos))
      // a file without a recorded slot for this column (pre-evolution,
      // non-orderable payload) breaks exactness
      if (per.exists(_.isEmpty)) None else Some(per.map(_.get).toSeq)
    }

    val fields = Array.newBuilder[StructField]
    val values = Array.newBuilder[Any]
    agg.aggregateExpressions.zipWithIndex.foreach { case (fn, i) =>
      fn match {
        case _: CountStar =>
          fields += StructField(s"agg_$i", LongType, nullable = false)
          values += totalRows
        case c: Count if !c.isDistinct =>
          val col = colName(c.column).getOrElse(return None)
          val per = statsOf(col).getOrElse(return None)
          fields += StructField(s"agg_$i", LongType, nullable = false)
          values += (totalRows - per.map(_.nulls).sum)
        case m: Min =>
          val col = colName(m.column).getOrElse(return None)
          val i2 = schema.fieldIndex(col)
          val dt = schema(i2).dataType
          if (!minMaxOk(dt)) return None
          val per = statsOf(col).getOrElse(return None)
          val best = bound(per.flatMap(_.min), dt, isMin = true)
            .getOrElse(return None)
          fields += StructField(s"agg_$i", dt, nullable = true)
          values += best.orNull
        case m: Max =>
          val col = colName(m.column).getOrElse(return None)
          val i2 = schema.fieldIndex(col)
          val dt = schema(i2).dataType
          if (!minMaxOk(dt)) return None
          val per = statsOf(col).getOrElse(return None)
          val best = bound(per.flatMap(_.max), dt, isMin = false)
            .getOrElse(return None)
          fields += StructField(s"agg_$i", dt, nullable = true)
          values += best.orNull
        case _ => return None
      }
    }
    Some(Pushed(StructType(fields.result()), values.result()))
  }

  /** Fold raw bounds via the shared merge (ManifestSkip.bestBound — one
    * comparator for pushdown AND the CBO stats) and decode the winner
    * to its INTERNAL row value. Outer None = an undecodable bound
    * (refuse pushdown); inner None = every file all-null (SQL NULL). */
  private def bound(raws: Seq[String], dt: DataType,
      isMin: Boolean): Option[Option[Any]] =
    ManifestSkip.bestBound(raws, dt, isMin).flatMap {
      case None => Some(None)
      case Some(raw) => ManifestSkip.decodeRaw(dt, raw).map {
        // decodeRaw hands decimals back as java BigDecimal; rows carry
        // catalyst Decimal
        case b: java.math.BigDecimal => Some(Decimal(b))
        case other => Some(other)
      }
    }
}

/** The pushed-aggregate scan: ONE partition, ONE precomputed row. The
  * values were resolved from the pinned snapshot's metadata at plan
  * time — `description()` says so, so EXPLAIN shows the file-free plan. */
private[sources] class ManifestAggScan(path: String,
    out: StructType, values: Array[Any]) extends Scan with Batch {
  override def readSchema(): StructType = out
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-manifest AGGREGATE-PUSHDOWN(metadata-only) $path " +
      out.fieldNames.mkString(",")
  override def planInputPartitions(): Array[InputPartition] =
    Array(ManifestAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val vs = p.asInstanceOf[ManifestAggPartition].values
          private var done = false
          override def next(): Boolean = if (done) false else { done = true; true }
          override def get(): InternalRow = new GenericInternalRow(vs.clone())
          override def close(): Unit = ()
        }
    }
}

private[sources] case class ManifestAggPartition(values: Array[Any])
  extends InputPartition
