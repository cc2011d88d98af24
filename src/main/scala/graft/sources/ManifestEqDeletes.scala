package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EQUALITY DELETES for the manifest format (round 12 — the second
  * Iceberg-v2 delete flavor; positional delete vectors live in
  * ManifestDelta.scala). An equality delete file holds KEY TUPLES, not
  * row positions: "every row whose (k1, k2) equals one of these is
  * deleted". That inversion is what makes CDC-style UPSERT writable
  * WITHOUT reading the table — a positional delete must first scan to
  * find ordinals; an equality delete just records the keys it replaces.
  * At 100 TB an upsert stream applies at memory-of-the-batch cost,
  * touching zero existing bytes.
  *
  * Write surface: `option("upsertKeys", "k1[,k2]")` on an append to a
  * merge-on-read table — batch AND streaming epochs. Each task tees the
  * distinct key tuples of the rows it writes into a tiny `.eqdel` file.
  * A batch upsert may carry one trailing `_change_type` STRING column
  * (the change feed's own name): an 'insert' row upserts as usual, a
  * 'delete' row only records its key — its group vanishes in the same
  * commit, and the row reaches neither the CHECKs, the stats nor the
  * data file; the column is never stored (an MV refresh step lands its
  * upserted and vanished groups this way, in one commit). The commit
  * lands `#eqdels,<file>,<p0;p1>,<version>` lines next to
  * `#born,<entry>,<version>` birth markers for its own data entries.
  * Scoping is EXPLICIT versioning (the manifest stores lines sorted, so
  * line order is useless): a delete set applies to an entry iff
  * born(entry) < deleteVersion — prior rows of those keys vanish, the
  * batch's own inserts survive their own deletes, and entries with no
  * birth marker (pre-eqdel history) default to 0, where every delete
  * correctly applies.
  *
  * Read surface: the scan resolves, per data file, which delete sets
  * apply (driver-side, KB-scale), and the reader factory wraps that
  * file's ROW reader with a hash-set filter on the key columns —
  * widening the projection when the query didn't ask for the keys, and
  * projecting back after. Columnar batching turns off scan-wide while
  * any set applies (uniform reader kind); `CALL compact` MATERIALIZES
  * equality deletes exactly like positional ones (the rewrite reads
  * through the scan); incremental tails refuse delete-bearing ranges
  * unless acknowledged, while the CHANGE FEED expresses them — each new
  * set surfaces as value-keyed 'delete' legs carrying the replaced
  * rows' old values (ManifestChangeFeed).
  *
  * Key columns are restricted to exact-equality primitives (integrals,
  * strings, boolean, date, timestamp): float/decimal equality is
  * representation-dependent and a near-miss key must be impossible by
  * construction. NULL keys refuse at write — a NULL never equals
  * anything in SQL, so a "delete by NULL key" could never apply. */
private[sources] object ManifestEqDeletes {

  /** One delete file's content, resolved against the CURRENT schema:
    * key field names (table names, not positions) and the parsed tuples
    * in each key's internal representation. */
  final case class EqSet(keyNames: Array[String], keyTypes: Array[DataType],
      tuples: Array[Array[Any]]) extends Serializable

  def keyTypeOk(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | BooleanType |
         StringType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), "UTF-8")

  /** One tuple component, encoded for the delete-file line: strings are
    * base64'd (they may contain the separator), everything else is its
    * internal String.valueOf — the `#stats` codec's convention. */
  def encodeComponent(dt: DataType, raw: String): String = dt match {
    case StringType => b64(raw)
    case _ => raw
  }

  private def parseComponent(dt: DataType, s: String): Any = dt match {
    case StringType => UTF8String.fromString(unb64(s))
    case _ => ManifestFiles.parseInternal(s, dt)
  }

  /** Read ONE delete file into its resolved set: key field names/types
    * from the positions against the given schema, tuples parsed to each
    * key's internal representation. A position that no longer resolves
    * fails loudly — silently ignoring it would resurface deleted rows. */
  def readSet(delFile: String, positions: Array[Int], schema: StructType,
      dir: Path, conf: org.apache.hadoop.conf.Configuration): EqSet = {
    val fs = dir.getFileSystem(conf)
    val keyIdx = positions.map { p =>
      ManifestFiles.fieldAtPhys(schema, p).getOrElse(
        throw new IllegalStateException(
          s"equality delete file $delFile references retired " +
            s"physical position $p — snapshot metadata is corrupt"))
    }
    val names = keyIdx.map(schema(_).name)
    val types = keyIdx.map(schema(_).dataType)
    val tuples = ManifestFiles.readManifest(fs, new Path(dir, delFile))
      .map { line =>
        val comps = line.split(",", -1)
        require(comps.length == types.length,
          s"equality delete file $delFile: tuple '$line' has " +
            s"${comps.length} components, expected ${types.length}")
        comps.zip(types).map { case (c, dt) => parseComponent(dt, c) }
      }
    EqSet(names, types, tuples)
  }

  /** Driver-side: file → the delete sets that apply to it, from one
    * snapshot. Applicability: born(entry) < deleteVersion (see
    * the header — explicit versions, never line order). Delete files are
    * read once (KB-scale tuple lists). A key position that no longer resolves
    * fails LOUDLY — silently ignoring it would resurface deleted rows
    * (the DROP COLUMN path refuses to retire referenced positions, so
    * this guards corruption, not a reachable state). */
  def assemble(snap: ManifestSnapshot, schema: StructType, dir: Path,
      conf: org.apache.hadoop.conf.Configuration):
      Map[String, Seq[EqSet]] = {
    if (!snap.raw.exists(_.startsWith("#eqdels,"))) return Map.empty
    val sets = snap.raw.collect {
      case l if l.startsWith("#eqdels,") =>
        val parts = l.split(",", 4)
        require(parts.length == 4 && parts(3).toIntOption.isDefined,
          s"malformed equality-delete line '$l'")
        val atVersion = parts(3).toInt
        (atVersion, readSet(parts(1), parts(2).split(";").map(_.toInt),
          schema, dir, conf))
    }
    snap.entries.flatMap { case (name, _) =>
      val bornAt = snap.born.getOrElse(name, 0)
      val applicable = sets.collect {
        case (v, s) if bornAt < v => s }
      if (applicable.isEmpty) None else Some(name -> applicable.toSeq)
    }.toMap
  }

  /** Row-matching probe over delete sets, bound to the projection the
    * rows arrive in. A NULL key never equals a recorded tuple
    * (write-side refuses null keys), so null-keyed rows never match. */
  final class Probe(sets: Seq[EqSet], projection: StructType)
      extends Serializable {
    private val probes: Array[(Array[Int], Array[DataType],
        java.util.HashSet[List[Any]])] =
      sets.map { s =>
        val idx = s.keyNames.map(projection.fieldIndex)
        val hs = new java.util.HashSet[List[Any]](s.tuples.length * 2)
        s.tuples.foreach(t => hs.add(t.toList))
        (idx, s.keyTypes, hs)
      }.toArray

    /** Does the row match ANY of the sets? */
    def matches(r: InternalRow): Boolean = {
      var i = 0
      while (i < probes.length) {
        val (idx, dts, hs) = probes(i)
        var nul = false
        val key = new Array[Any](idx.length)
        var j = 0
        while (j < idx.length && !nul) {
          if (r.isNullAt(idx(j))) nul = true
          else key(j) = r.get(idx(j), dts(j))
          j += 1
        }
        if (!nul && hs.contains(key.toList)) return true
        i += 1
      }
      false
    }
  }

  /** Names of the key columns a projection must carry to evaluate the
    * given sets, minus those it already has. */
  def missingKeys(sets: Seq[EqSet], projection: StructType): Seq[String] =
    sets.flatMap(_.keyNames).distinct
      .filterNot(projection.fieldNames.contains)

  /** Task-side: wrap a row reader (already projecting `widened`, the
    * required schema plus any key columns it lacked) with the delete
    * filter, projecting back to `required`. */
  def filtered(inner: PartitionReader[InternalRow], widened: StructType,
      required: StructType, sets: Seq[EqSet]): PartitionReader[InternalRow] = {
    val probe = new Probe(sets, widened)
    val identity = widened.length == required.length
    val picks: Array[Int] = required.fieldNames.map(widened.fieldIndex)
    val types: Array[DataType] = required.fields.map(_.dataType)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          if (!probe.matches(r)) { cur = r; return true }
        }
        false
      }
      override def get(): InternalRow = {
        if (identity) cur
        else {
          val out = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(picks.length)
          var i = 0
          while (i < picks.length) {
            out.update(i,
              if (cur.isNullAt(picks(i))) null else cur.get(picks(i), types(i)))
            i += 1
          }
          out
        }
      }
      override def close(): Unit = inner.close()
    }
  }

  /** Commit message of an upsert task: the inner append's message plus
    * the staged equality-delete file (absent when the task saw no rows). */
  final case class UpsertCommitted(inner: WriterCommitMessage,
      delFile: Option[String], keyCount: Long) extends WriterCommitMessage

  private val Insert = UTF8String.fromString("insert")
  private val Delete = UTF8String.fromString("delete")

  /** Write-side tee: records the DISTINCT key tuples of every row
    * flowing into `inner`, staging them as a tiny `.eqdel` line file on
    * commit. NULL keys fail the task loudly (a NULL key row could never
    * be replaced by a later upsert — refusing beats silently
    * accumulating duplicates). With `typeIdx >= 0` (a change-typed
    * upsert, the marker right after the `schema` columns) that column
    * of each row decides its fate: 'insert' flows on like a plain upsert
    * row, minus the marker; 'delete' only records its key — so the key's
    * prior rows vanish and nothing is written for it — and any other
    * value, NULL included, fails the task. */
  def tee(inner: DataWriter[InternalRow], schema: StructType,
      keys: Array[Int], typeIdx: Int, path: String, stagingName: String,
      delName: String, conf: SerializableHadoopConf): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val seen = new java.util.LinkedHashSet[String]()
      private val types = keys.map(schema(_).dataType)
      private val stripped =
        if (typeIdx < 0) null
        else org.apache.spark.sql.catalyst.ProjectingInternalRow(
          schema, schema.indices)

      private def inserts(row: InternalRow): Boolean = {
        val t = if (row.isNullAt(typeIdx)) null else row.getUTF8String(typeIdx)
        if (Insert == t) true
        else if (Delete == t) false
        else throw new IllegalArgumentException(
          s"${ManifestChangeFeed.TypeCol} is '$t' — a change-typed upsert " +
            "row must be 'insert' or 'delete'")
      }

      override def write(row: InternalRow): Unit = {
        val parts = new Array[String](keys.length)
        var i = 0
        while (i < keys.length) {
          if (row.isNullAt(keys(i))) throw new IllegalArgumentException(
            s"upsertKeys column '${schema(keys(i)).name}' is NULL — " +
              "upsert keys must be non-null (a NULL key can never be " +
              "matched by a later upsert)")
          parts(i) = encodeComponent(types(i),
            String.valueOf(row.get(keys(i), types(i))))
          i += 1
        }
        seen.add(parts.mkString(","))
        if (typeIdx < 0) inner.write(row)
        else if (inserts(row)) { stripped.project(row); inner.write(stripped) }
      }

      override def commit(): WriterCommitMessage = {
        val innerMsg = inner.commit()
        if (seen.isEmpty) UpsertCommitted(innerMsg, None, 0L)
        else {
          val f = new Path(new Path(path, stagingName), delName)
          val out = new java.io.PrintWriter(
            f.getFileSystem(conf.value).create(f, true))
          try {
            val it = seen.iterator()
            while (it.hasNext) out.println(it.next())
          } finally out.close()
          UpsertCommitted(innerMsg, Some(delName), seen.size.toLong)
        }
      }

      override def abort(): Unit = {
        inner.abort()
        val f = new Path(new Path(path, stagingName), delName)
        try f.getFileSystem(conf.value).delete(f, false)
        catch { case _: Exception => }
      }

      override def close(): Unit = inner.close()
    }
}
