package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Specialized per-column min/max trackers for the write path.
  *
  * A generic tracker would pay, per value: one box from `r.get`, one
  * `Option` from `ManifestSkip.normalize`, a runtime-type dispatch in
  * `ManifestSkip.cmp` (×2), and for strings an unconditional
  * `UTF8String.clone`. On a wide fact append that is tens of millions of
  * allocations doing nothing but comparing primitives (guide §1.2 step 2:
  * per-task work, after the job shape is right). These trackers dispatch
  * ONCE per column at writer construction and keep primitive state; the
  * recorded bounds agree with the skip evaluator's generic ordering
  * (`ManifestSkip.cmp` over `normalize`) bit-for-bit:
  *
  *   - comparison happens on [[ManifestSkip.normalize]]'s canonical form
  *     (integrals widen to long, float/double squash -0.0 to 0.0 and
  *     order NaN greatest via `Double.compare`, strings order by binary
  *     UTF-8, decimals by scale-insensitive `BigDecimal.compareTo`);
  *   - updates are STRICT (`<` / `>`), so ties keep the first-seen raw
  *     string (a file of `-0.0` then `0.0` records rawMin "-0.0", not
  *     "0.0");
  *   - the recorded raw string is `String.valueOf` of the ORIGINAL value
  *     (a float min records "0.1", never the widened
  *     "0.10000000149011612").
  *
  * Non-stats-capable types get no tracker (null slot) — same as
  * `normalize` returning None.
  *
  * The same trackers fold every bound the writer records: top-level
  * columns read the data row, nested struct leaves read the walked
  * struct, and shredded variant paths read a one-slot row holding the
  * extracted value.
  */
private[sources] object ManifestColTrackers {

  sealed abstract class Tracker {
    /** Record the non-null value at row slot `i`. */
    def add(r: InternalRow, i: Int): Unit
    def rawMin: String
    def rawMax: String
    /** This column's `#stats` entry; numeric bounds are exact. */
    def stats(nulls: Long): ManifestFiles.ColStats =
      ManifestFiles.ColStats(nulls, Option(rawMin), Option(rawMax))
  }

  private final class LongTracker(get: (InternalRow, Int) => Long)
      extends Tracker {
    private var seen = false
    private var mn = 0L
    private var mx = 0L
    override def add(r: InternalRow, i: Int): Unit = {
      val v = get(r, i)
      if (!seen) { mn = v; mx = v; seen = true }
      else { if (v < mn) mn = v; if (v > mx) mx = v }
    }
    override def rawMin: String = if (seen) String.valueOf(mn) else null
    override def rawMax: String = if (seen) String.valueOf(mx) else null
  }

  private final class DoubleTracker extends Tracker {
    private var seen = false
    private var mnN, mxN = 0.0d // normalized (compare domain)
    private var mnO, mxO = 0.0d // original (raw-string domain)
    override def add(r: InternalRow, i: Int): Unit = {
      val o = r.getDouble(i)
      val n = if (o == 0.0d) 0.0d else o
      if (!seen) { mnN = n; mxN = n; mnO = o; mxO = o; seen = true }
      else {
        if (java.lang.Double.compare(n, mnN) < 0) { mnN = n; mnO = o }
        if (java.lang.Double.compare(n, mxN) > 0) { mxN = n; mxO = o }
      }
    }
    override def rawMin: String = if (seen) String.valueOf(mnO) else null
    override def rawMax: String = if (seen) String.valueOf(mxO) else null
  }

  private final class FloatTracker extends Tracker {
    private var seen = false
    private var mnN, mxN = 0.0d
    private var mnO, mxO = 0.0f
    override def add(r: InternalRow, i: Int): Unit = {
      val o = r.getFloat(i)
      val d = o.toDouble
      val n = if (d == 0.0d) 0.0d else d
      if (!seen) { mnN = n; mxN = n; mnO = o; mxO = o; seen = true }
      else {
        if (java.lang.Double.compare(n, mnN) < 0) { mnN = n; mnO = o }
        if (java.lang.Double.compare(n, mxN) > 0) { mxN = n; mxO = o }
      }
    }
    override def rawMin: String = if (seen) String.valueOf(mnO) else null
    override def rawMax: String = if (seen) String.valueOf(mxO) else null
  }

  private final class BooleanTracker extends Tracker {
    private var seen = false
    private var mn = false
    private var mx = false
    override def add(r: InternalRow, i: Int): Unit = {
      val v = r.getBoolean(i)
      if (!seen) { mn = v; mx = v; seen = true }
      else { if (!v && mn) mn = false; if (v && !mx) mx = true }
    }
    override def rawMin: String = if (seen) String.valueOf(mn) else null
    override def rawMax: String = if (seen) String.valueOf(mx) else null
  }

  private final class StringTracker extends Tracker {
    private var mn: UTF8String = null
    private var mx: UTF8String = null
    private var rawMn: String = null
    private var rawMx: String = null
    override def add(r: InternalRow, i: Int): Unit = {
      val v = r.getUTF8String(i) // may point into a reused buffer
      if (mn == null) {
        mn = v.clone(); mx = mn
        rawMn = v.toString; rawMx = rawMn
      } else {
        if (v.compareTo(mn) < 0) { mn = v.clone(); rawMn = mn.toString }
        if (v.compareTo(mx) > 0) { mx = v.clone(); rawMx = mx.toString }
      }
    }
    override def rawMin: String = rawMn
    override def rawMax: String = rawMx
    // string bounds truncate (Iceberg's prefix / prefix+increment rule —
    // ManifestFiles.truncLower/truncUpper), so the manifest scales with
    // file count, not value size
    override def stats(nulls: Long): ManifestFiles.ColStats =
      ManifestFiles.ColStats(nulls, Option(rawMn).map(ManifestFiles.truncLower),
        Option(rawMx).flatMap(ManifestFiles.truncUpper))
  }

  private final class DecimalTracker(precision: Int, scale: Int)
      extends Tracker {
    private var mn: java.math.BigDecimal = null
    private var mx: java.math.BigDecimal = null
    private var rawMn: String = null
    private var rawMx: String = null
    override def add(r: InternalRow, i: Int): Unit = {
      val o = r.getDecimal(i, precision, scale)
      val v = o.toJavaBigDecimal
      if (mn == null) {
        mn = v; mx = v
        rawMn = String.valueOf(o); rawMx = rawMn
      } else {
        if (v.compareTo(mn) < 0) { mn = v; rawMn = String.valueOf(o) }
        if (v.compareTo(mx) > 0) { mx = v; rawMx = String.valueOf(o) }
      }
    }
    override def rawMin: String = rawMn
    override def rawMax: String = rawMx
  }

  /** Tracker for a stats-capable type; null for everything else (absent
    * stats = never skipped, the format's standing contract). */
  def forType(dt: DataType): Tracker = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      new LongTracker((r, i) => r.getLong(i))
    case IntegerType | DateType => new LongTracker((r, i) => r.getInt(i).toLong)
    case ShortType => new LongTracker((r, i) => r.getShort(i).toLong)
    case ByteType => new LongTracker((r, i) => r.getByte(i).toLong)
    case DoubleType => new DoubleTracker
    case FloatType => new FloatTracker
    case BooleanType => new BooleanTracker
    case StringType => new StringTracker
    case d: DecimalType => new DecimalTracker(d.precision, d.scale)
    case _ => null
  }
}
