package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** PARQUET data layer for the manifest table format — its one data-file
  * payload. Files land as real parquet through Spark's own
  * `ParquetWriteSupport` and read back through its
  * `VectorizedParquetRecordReader` — the exact scan stack the reference
  * builds on (`sql/core/.../parquet/ParquetFileFormat.scala:51`,
  * `VectorizedParquetRecordReader.java:48`) — so column pruning is real
  * storage I/O pruning (unread columns are never decoded OR fetched),
  * values are dictionary/RLE-encoded and compressed, and the columnar
  * scan path hands the engine the reader's own 4K-row batches with zero
  * re-parsing.
  *
  * A `format` write option or table property other than `parquet` is
  * refused at plan/DDL time ([[requireFormat]]); a snapshot entry whose
  * name lacks the `.parquet` extension fails its scan loudly
  * (`ManifestInputPartition`).
  *
  * Columns are stored under POSITIONAL names (`c<physical position>`),
  * never the schema names: `RENAME COLUMN` stays a metadata-only commit
  * (the reader maps requested schema fields to positional names at plan
  * time), and a column added by `ALTER TABLE ADD COLUMN` is simply
  * missing from pre-evolution files — the vectorized reader null-fills
  * missing requested fields.
  */
private[sources] object ManifestParquet {

  /** The stored (positional) column name of schema position `i`. */
  def colName(i: Int): String = "c" + i

  /** Top-level field names + total row count of one parquet file (a
    * footer read — the per-file EXISTS_DEFAULT projection probe). */
  def fileInfo(file: String, conf: Configuration): (Set[String], Long) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(file), conf))
    try {
      import scala.jdk.CollectionConverters._
      (r.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet,
        r.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
    } finally r.close()
  }

  def isParquet(entryName: String): Boolean = entryName.endsWith(".parquet")

  /** Parquet is the only data-file payload: a `format` write option or
    * table property must be absent or `parquet`. Checked before anything
    * is staged. */
  def requireFormat(format: Option[String]): Unit =
    format.filterNot(_ == "parquet").foreach { f =>
      throw new IllegalArgumentException(
        s"graft-manifest: format '$f' is not supported — parquet is " +
          "the only data-file payload")
    }

  /** Positional storage type, applied RECURSIVELY (round 12): struct
    * fields at every nesting level store under `c<index>` names, so a
    * nested RENAME is metadata-only exactly like a top-level one — the
    * reader maps the table schema's nested names to indices at plan
    * time. Nested ADDs append at the struct's end (alterTable enforces
    * it), so indices never shift; a field an old file lacks simply
    * null-fills through the reader's clipped-schema path. Array
    * elements / map entries are unnamed and recurse transparently. */
  private[sources] def storedType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.zipWithIndex.map {
      case (f, i) => StructField(colName(i), storedType(f.dataType),
        nullable = true) })
    case ArrayType(et, cn) => ArrayType(storedType(et), cn)
    case MapType(k, v, vn) => MapType(storedType(k), storedType(v), vn)
    case other => other
  }

  /** Write-side parquet schema: the table schema with positional names,
    * everything nullable (nullability is enforced by the engine above,
    * and relaxed storage nullability keeps old/new files union-able). */
  private def storedSchema(schema: StructType): StructType =
    StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      StructField(colName(ManifestFiles.physPos(schema, i)),
        storedType(f.dataType), nullable = true)
    })

  /** ParquetWriteSupport asserts these keys PRESENT (Spark's write path
    * always sets them from SQLConf). FORCE-set, don't default-fill: the
    * storage layout of manifest data files is the FORMAT's contract, not
    * the writing session's (and a session conf copied into the Hadoop
    * conf as the literal string "null" would crash `.toBoolean`). */
  /** Prepared writer Configurations, memoized per (base conf identity,
    * schema, lineage flags): a partition-split write opens one parquet
    * writer PER PARTITION FILE, and `new Configuration(base)` +
    * setSchema per file is measurable fixed cost (a 91-day layout paid
    * 91 copies per task). The base conf is a broadcast-shared, effectively
    * immutable object during a write job, so identity-keying is sound;
    * the map is bounded by live (conf, schema) pairs and cleared by JVM
    * exit — entries are a few KB each. */
  private val writerConfCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Configuration,
      java.util.concurrent.ConcurrentHashMap[
        (StructType, Boolean, Boolean), Configuration]]())

  private def writerConf(base: Configuration, schema: StructType,
      withRid: Boolean = false, withLuv: Boolean = false): Configuration = {
    // Configuration does not override equals, so the weak map keys on
    // identity — exactly the sharing contract (same broadcast conf
    // object ⇒ same contents); a dropped base conf unpins its entry
    val perBase = writerConfCache.synchronized {
      var m = writerConfCache.get(base)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[
          (StructType, Boolean, Boolean), Configuration]
        writerConfCache.put(base, m)
      }
      m
    }
    perBase.computeIfAbsent((schema, withRid, withLuv),
      _ => writerConfBuild(base, schema, withRid, withLuv))
  }

  private def writerConfBuild(base: Configuration, schema: StructType,
      withRid: Boolean, withLuv: Boolean): Configuration = {
    val conf = new Configuration(base)
    val stored = StructType(storedSchema(schema).fields ++
      (if (withRid) Seq(StructField(RidColName, LongType, nullable = true))
       else Seq.empty) ++
      (if (withLuv)
        Seq(StructField(LuvColName, IntegerType, nullable = true))
       else Seq.empty))
    ParquetWriteSupport.setSchema(stored, conf)
    conf.set("spark.sql.parquet.writeLegacyFormat", "false")
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    conf
  }

  private class RowWriterBuilder(out: org.apache.parquet.io.OutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        InternalRow, RowWriterBuilder](out) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration):
        org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Declared bloom-filter columns ride the (write-private) hadoop conf
    * from the driver's factory construction to every task writer —
    * values are the PHYSICAL `c<pos>` column names. */
  private val BloomKey = "graft.manifest.bloom.cols"
  def setBloomCols(conf: Configuration, positions: Seq[Int]): Unit =
    if (positions.nonEmpty)
      conf.set(BloomKey, positions.map(p => s"c$p").mkString(","))

  /** Open a parquet writer for rows of `schema` at `file`. Snappy, the
    * engine default — dictionary + RLE come with the format; declared
    * bloom columns (see [[setBloomCols]]) get a chunk-level bloom
    * filter, the point-lookup complement of min/max stats. */
  def createWriter(file: Path, schema: StructType,
      base: Configuration,
      // row lineage: rewrite files append the materialized `_rid` long
      // column (rows arrive with the carried id LAST, after the data
      // columns — NULL for rewrite-inserted rows), then the `_luv` int
      // column (NULL for updated/inserted rows — they resolve to the
      // rewriting commit's version)
      withRid: Boolean = false,
      withLuv: Boolean = false): org.apache.parquet.hadoop.ParquetWriter[InternalRow] = {
    val conf = writerConf(base, schema, withRid, withLuv)
    var b = new RowWriterBuilder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
      // honor the standard hadoop knob (tests shrink it to force multiple
      // row groups; production default 128 MB)
      .withRowGroupSize(conf.getLong(
        org.apache.parquet.hadoop.ParquetOutputFormat.BLOCK_SIZE,
        org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE))
    Option(base.get(BloomKey)).foreach { cols =>
      cols.split(",").foreach(c => b = b.withBloomFilterEnabled(c, true))
    }
    b.build()
  }

  /** Pushed-filter → parquet `FilterPredicate` translation for ROW-GROUP
    * skipping inside a file — the within-file complement of the
    * manifest's file-level stats skipping (Spark's scan does the same
    * via ParquetFilters; reference `ParquetFileFormat.scala:51`).
    * Strictly conservative: only columns whose physical parquet type we
    * wrote ourselves (ints/longs/strings/dates/timestamps — floats are
    * excluded wholesale, NaN makes their stats treacherous), only predicate
    * shapes whose parquet semantics exactly match SQL three-valued
    * logic, and `Or`/`In` only when every branch translates. Spark
    * re-evaluates every filter against the returned rows anyway, so the
    * only hazard is skipping a group with matches — each translated
    * shape is stats-sound by parquet's contract. */
  def toParquetFilter(f: org.apache.spark.sql.sources.Filter,
      fullSchema: StructType):
      Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.io.api.Binary
    import org.apache.spark.sql.{sources => sf}

    def stored(c: String): Option[(String, DataType)] =
      if (!fullSchema.fieldNames.contains(c)) None
      else {
        val i = fullSchema.fieldIndex(c)
        Some((colName(physIdx(fullSchema, i)), fullSchema(i).dataType))
      }
    def cmp(c: String, v: Any,
        onLong: (Operators2.LongCol, java.lang.Long) => org.apache.parquet.filter2.predicate.FilterPredicate,
        onInt: (Operators2.IntCol, java.lang.Integer) => org.apache.parquet.filter2.predicate.FilterPredicate,
        onBin: (Operators2.BinCol, Binary) => org.apache.parquet.filter2.predicate.FilterPredicate) =
      stored(c).flatMap { case (n, dt) =>
        (dt, v) match {
          case (LongType, x: java.lang.Number) if integral(x) =>
            Some(onLong(FilterApi.longColumn(n), x.longValue()))
          case (IntegerType | ShortType | ByteType, x: java.lang.Number)
              if integral(x) =>
            Some(onInt(FilterApi.intColumn(n), x.intValue()))
          case (StringType, s: String) =>
            Some(onBin(FilterApi.binaryColumn(n), Binary.fromString(s)))
          // temporal columns: exact internal-representation conversions
          case (DateType, d: java.sql.Date) =>
            Some(onInt(FilterApi.intColumn(n),
              org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d)))
          case (DateType, d: java.time.LocalDate) =>
            Some(onInt(FilterApi.intColumn(n), d.toEpochDay.toInt))
          case (TimestampType, t: java.sql.Timestamp) =>
            Some(onLong(FilterApi.longColumn(n),
              org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)))
          case (TimestampType, i: java.time.Instant) =>
            Some(onLong(FilterApi.longColumn(n),
              org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
          // DECIMAL (round 12): we write precision<=9 as INT32 and
          // precision<=18 as INT64 unscaled values (ParquetWriteSupport,
          // writeLegacyFormat=false), whose parquet stats compare SIGNED
          // — the same order as the decimal values at a fixed scale. The
          // filter value must rescale to the column's scale EXACTLY
          // (RoundingMode.UNNECESSARY) and fit the physical width;
          // anything else falls back to residual-only filtering.
          // Wider decimals land as FIXED_LEN_BYTE_ARRAY and are left
          // untranslated: their binary stats ordering is a logical-type
          // subtlety we refuse to bet correctness on.
          case (d: DecimalType, v) if d.precision <= 18 =>
            decimalUnscaled(d, v).flatMap { u =>
              if (d.precision <= 9) {
                if (u.bitLength() < 32)
                  Some(onInt(FilterApi.intColumn(n), u.intValueExact()))
                else None
              } else if (u.bitLength() < 64)
                Some(onLong(FilterApi.longColumn(n), u.longValueExact()))
              else None
            }
          case _ => None
        }
      }
    // Exact unscaled representation of a pushed decimal value at the
    // column's declared scale; None when the value does not rescale
    // exactly (a predicate like price = 1.005 over DECIMAL(12,2) cannot
    // be translated — the residual row filter answers it).
    def decimalUnscaled(d: DecimalType, v: Any): Option[java.math.BigInteger] = {
      val bd = v match {
        case b: java.math.BigDecimal => Some(b)
        case b: scala.math.BigDecimal => Some(b.bigDecimal)
        case x: java.lang.Number if integral(x) =>
          Some(java.math.BigDecimal.valueOf(x.longValue()))
        case _ => None
      }
      bd.flatMap(b => scala.util.Try(
          b.setScale(d.scale, java.math.RoundingMode.UNNECESSARY)).toOption)
        .map(_.unscaledValue())
    }
    def integral(x: java.lang.Number): Boolean =
      !x.isInstanceOf[java.lang.Double] && !x.isInstanceOf[java.lang.Float]

    f match {
      case sf.And(l, r) =>
        // And is sound one-sided: filtering groups by either conjunct
        // alone keeps a superset of matching groups
        (toParquetFilter(l, fullSchema), toParquetFilter(r, fullSchema)) match {
          case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
          case (a, b) => a.orElse(b)
        }
      case sf.Or(l, r) =>
        for {
          a <- toParquetFilter(l, fullSchema)
          b <- toParquetFilter(r, fullSchema)
        } yield FilterApi.or(a, b)
      case sf.EqualTo(c, v) if v != null =>
        cmp(c, v, FilterApi.eq(_, _), FilterApi.eq(_, _), FilterApi.eq(_, _))
      case sf.GreaterThan(c, v) if v != null =>
        cmp(c, v, FilterApi.gt(_, _), FilterApi.gt(_, _), FilterApi.gt(_, _))
      case sf.GreaterThanOrEqual(c, v) if v != null =>
        cmp(c, v, FilterApi.gtEq(_, _), FilterApi.gtEq(_, _), FilterApi.gtEq(_, _))
      case sf.LessThan(c, v) if v != null =>
        cmp(c, v, FilterApi.lt(_, _), FilterApi.lt(_, _), FilterApi.lt(_, _))
      case sf.LessThanOrEqual(c, v) if v != null =>
        cmp(c, v, FilterApi.ltEq(_, _), FilterApi.ltEq(_, _), FilterApi.ltEq(_, _))
      case sf.In(c, vs) if vs != null && vs.nonEmpty && vs.length <= 20 &&
          vs.forall(_ != null) =>
        val parts = vs.toSeq.map(v => cmp(c, v,
          FilterApi.eq(_, _), FilterApi.eq(_, _), FilterApi.eq(_, _)))
        if (parts.exists(_.isEmpty)) None
        else Some(parts.flatten.reduce(FilterApi.or))
      case sf.IsNull(c) =>
        stored(c).flatMap { case (n, dt) => dt match {
          case LongType | TimestampType =>
            Some(FilterApi.eq(FilterApi.longColumn(n),
              null.asInstanceOf[java.lang.Long]))
          case IntegerType | ShortType | ByteType | DateType =>
            Some(FilterApi.eq(FilterApi.intColumn(n),
              null.asInstanceOf[java.lang.Integer]))
          case StringType => Some(FilterApi.eq(FilterApi.binaryColumn(n),
            null.asInstanceOf[Binary]))
          case d: DecimalType if d.precision <= 9 =>
            Some(FilterApi.eq(FilterApi.intColumn(n),
              null.asInstanceOf[java.lang.Integer]))
          case d: DecimalType if d.precision <= 18 =>
            Some(FilterApi.eq(FilterApi.longColumn(n),
              null.asInstanceOf[java.lang.Long]))
          case _ => None
        }}
      case sf.IsNotNull(c) =>
        stored(c).flatMap { case (n, dt) => dt match {
          case LongType | TimestampType =>
            Some(FilterApi.notEq(FilterApi.longColumn(n),
              null.asInstanceOf[java.lang.Long]))
          case IntegerType | ShortType | ByteType | DateType =>
            Some(FilterApi.notEq(FilterApi.intColumn(n),
              null.asInstanceOf[java.lang.Integer]))
          case StringType => Some(FilterApi.notEq(FilterApi.binaryColumn(n),
            null.asInstanceOf[Binary]))
          case d: DecimalType if d.precision <= 9 =>
            Some(FilterApi.notEq(FilterApi.intColumn(n),
              null.asInstanceOf[java.lang.Integer]))
          case d: DecimalType if d.precision <= 18 =>
            Some(FilterApi.notEq(FilterApi.longColumn(n),
              null.asInstanceOf[java.lang.Long]))
          case _ => None
        }}
      case _ => None
    }
  }

  // physPos lives in ManifestFiles; short alias to keep cmp readable
  private def physIdx(schema: StructType, i: Int): Int =
    ManifestFiles.physPos(schema, i)

  /** Type aliases for the column kinds cmp dispatches over. */
  private object Operators2 {
    type LongCol = org.apache.parquet.filter2.predicate.Operators.LongColumn
    type IntCol = org.apache.parquet.filter2.predicate.Operators.IntColumn
    type BinCol = org.apache.parquet.filter2.predicate.Operators.BinaryColumn
  }

  /** Reader-side conf: requested schema (positional names) + the
    * semantics booleans Spark's own parquet scan pins. */
  private def readerConf(base: Configuration,
      requested: StructType): Configuration = {
    val conf = new Configuration(base)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, requested.json)
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set("spark.sql.parquet.binaryAsString", "false")
    conf.set("spark.sql.parquet.int96AsTimestamp", "true")
    conf.set("spark.sql.caseSensitive", "false")
    conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    conf.set("spark.sql.parquet.variant.annotateLogicalType.enabled", "false")
    conf.set("spark.sql.parquet.ignoreVariantAnnotation", "false")
    conf
  }

  /** The vectorized reader over ONE manifest parquet file, initialized
    * the way Spark's parquet scan does it: requested schema in the conf,
    * `_file` injected as a constant partition column, missing requested
    * columns null-filled by the reader itself. */
  def openVectorized(part: ManifestInputPartition, fullSchema: StructType,
      required: StructType, base: Configuration, capacity: Int,
      filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
      // IMPORTED file (`CALL add_files` — foreign parquet registered
      // without rewrite): physical position → the file's OWN field name,
      // recorded at import time. Positions absent from the map (columns
      // added after the import) keep their positional name and null-fill.
      importedNames: Map[Int, String] = Map.empty,
      // ROW LINEAGE: `#ridcol` files additionally project their
      // materialized `_rid` column (a RESERVED literal name — positional
      // `c<pos>` names can never collide with it)
      ridCol: Boolean = false,
      // `#luvcol` files likewise project the materialized `_luv` column
      luvCol: Boolean = false):
      (VectorizedParquetRecordReader, Array[Int]) = {
    val dataFields = required.fields
      .filter(f => f.name != "_file" && f.name != "_pos" &&
        f.name != "_row_id" && f.name != "_last_updated_version")
    val wantRid = ridCol && required.fieldNames.contains("_row_id")
    val wantLuv = luvCol &&
      required.fieldNames.contains("_last_updated_version")
    // Positional nested names come from the field's index in the TABLE
    // schema, not the (possibly nested-pruned) required struct — a
    // pruned struct<b> of a table struct<a,b> must request c1, not c0.
    def storedRequested(pruned: DataType, table: DataType): DataType =
      (pruned, table) match {
        case (ps: StructType, ts: StructType) =>
          StructType(ps.fields.map { pf =>
            val ti = ts.fieldIndex(pf.name)
            StructField(colName(ti),
              storedRequested(pf.dataType, ts(ti).dataType), nullable = true)
          })
        case (ArrayType(pe, cn), ArrayType(te, _)) =>
          ArrayType(storedRequested(pe, te), cn)
        case (MapType(pk, pv, vn), MapType(tk, tv, _)) =>
          MapType(storedRequested(pk, tk), storedRequested(pv, tv), vn)
        case (p, _) => p
      }
    val requested = StructType(dataFields.map { f =>
      val p = ManifestFiles.physPos(fullSchema, fullSchema.fieldIndex(f.name))
      StructField(
        importedNames.getOrElse(p, colName(p)),
        storedRequested(f.dataType,
          fullSchema(fullSchema.fieldIndex(f.name)).dataType),
        nullable = true)
    } ++ (if (wantRid) Seq(StructField(RidColName, LongType, nullable = true))
          else Seq.empty) ++
      (if (wantLuv)
        Seq(StructField(LuvColName, IntegerType, nullable = true))
       else Seq.empty))
    def confFor(withFilter: Boolean): Configuration = {
      val conf = readerConf(base, requested)
      // imported files: row-group pushdown stays OFF — the translated
      // predicates reference positional names this file doesn't have
      // (file-level stats skipping already happened; Spark re-filters)
      if (withFilter && importedNames.isEmpty) {
        val preds = filters.flatMap(toParquetFilter(_, fullSchema))
        if (preds.nonEmpty)
          org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(
            conf, preds.reduce(
              org.apache.parquet.filter2.predicate.FilterApi.and))
      }
      conf
    }
    def open(conf: Configuration): (VectorizedParquetRecordReader, Long) = {
      val file = new Path(part.file)
      val len = file.getFileSystem(conf).getFileStatus(file).getLen
      // mapred.FileSplit (extends the mapreduce one) — the reader base
      // class downcasts to it for its location-info path
      val split = new org.apache.hadoop.mapred.FileSplit(
        file, 0, len, Array.empty[String])
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, new org.apache.hadoop.mapred.TaskAttemptID())
      val reader = new VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, capacity)
      try {
        reader.initialize(split, ctx)
        // `_file` rides as a constant partition column (appended after the
        // data columns — the same seam Spark uses for directory partitions)
        if (required.fieldNames.contains("_file"))
          reader.initBatch(
            new StructType().add("_file", StringType, nullable = false),
            new GenericInternalRow(Array[Any](UTF8String.fromString(part.name))))
      } catch { case t: Throwable => reader.close(); throw t }
      (reader, len)
    }
    // Row-group pushdown can reference a column a PRE-EVOLUTION file does
    // not have — parquet's predicate validator throws on the missing
    // column rather than treating it as all-null, so fall back to an
    // unfiltered read of that file (Spark re-filters rows anyway).
    val reader =
      try open(confFor(withFilter = true))._1
      catch {
        case _: IllegalArgumentException if filters.nonEmpty =>
          open(confFor(withFilter = false))._1
      }
    // Batch column j of the reader ↔ output position outMap.indexOf(j):
    // reader columns are the data fields in `required` order, then the
    // `_rid` column when requested, then `_luv`, then the `_file`
    // constant; -2 marks `_pos`, -3 `_row_id`, -4
    // `_last_updated_version` (computed by the wrapping reader — with a
    // materialized batch column, coalesced against it).
    var di = 0
    val outMap = required.fields.map { f =>
      if (f.name == "_file")
        dataFields.length + (if (wantRid) 1 else 0) + (if (wantLuv) 1 else 0)
      else if (f.name == "_pos") -2
      else if (f.name == "_row_id") -3
      else if (f.name == "_last_updated_version") -4
      else { val j = di; di += 1; j }
    }
    (reader, outMap)
  }

  /** Reserved stored name of the materialized row-id column rewrite
    * files carry (row lineage). Never collides with positional `c<pos>`
    * data names. */
  val RidColName = "_rid"

  /** Reserved stored name of the materialized last-updated-version
    * column (round 15 — the second Iceberg-v3 lineage field). */
  val LuvColName = "_luv"

  def rowReader(part: ManifestInputPartition, fullSchema: StructType,
      required: StructType, conf: SerializableHadoopConf,
      filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
      importedNames: Map[Int, String] = Map.empty,
      // ROW LINEAGE: the file's assigned first row id (-1 = none) and
      // whether it carries a materialized `_rid` column
      firstRow: Long = -1L, ridCol: Boolean = false,
      // `_last_updated_version`: the file's `#luv` default (-1 = none)
      // and whether it carries a materialized `_luv` column
      luv: Int = -1, luvCol: Boolean = false,
      // row-level COW scans: pre-lineage NULL surfaces as the 0
      // sentinel so the rewrite writer can tell it apart from a
      // PRESERVE_ON_UPDATE-nulled (updated) row; stored sentinels pass
      // through unmapped for the same reason (the rewrite re-stores 0)
      luvSentinel: Boolean = false):
      PartitionReader[InternalRow] = {
    // `_pos`, `_row_id` (= first + position, even under a materialized
    // coalesce) and merge-on-read deletes need FILE-ABSOLUTE ordinals,
    // so row-group skipping (which hides whole position ranges) must
    // stay off for those reads (`_luv` is position-free: a materialized
    // column or a per-file constant)
    val needOrdinals =
      required.fieldNames.contains("_pos") ||
        required.fieldNames.contains("_row_id") || part.deletes.nonEmpty
    val (reader, outMap) = openVectorized(part, fullSchema, required,
      conf.value, 4096, if (needOrdinals) Array.empty else filters,
      importedNames, ridCol = ridCol, luvCol = luvCol)
    // batch index of the materialized `_rid` column (right after the
    // data fields) when this file carries one and `_row_id` is requested
    val nData = required.fields.count(f =>
      f.name != "_file" && f.name != "_pos" && f.name != "_row_id" &&
        f.name != "_last_updated_version")
    val ridIdx =
      if (ridCol && required.fieldNames.contains("_row_id")) nData else -1
    val luvIdx =
      if (luvCol && required.fieldNames.contains("_last_updated_version"))
        nData + (if (ridIdx >= 0) 1 else 0)
      else -1
    val identity = outMap.sameElements(outMap.indices)
    val types = required.fields.map(_.dataType)
    new PartitionReader[InternalRow] {
      private var ordinal = -1L
      private val dels = part.deletes
      private var di = 0
      override def next(): Boolean = {
        while (reader.nextKeyValue()) {
          ordinal += 1
          while (di < dels.length && dels(di) < ordinal) di += 1
          if (di >= dels.length || dels(di) != ordinal) return true
        }
        false
      }
      private def rowId(row: InternalRow): Any =
        if (ridIdx >= 0 && !row.isNullAt(ridIdx)) row.getLong(ridIdx)
        else if (firstRow >= 0) firstRow + ordinal
        else null
      private def luvOf(row: InternalRow): Any =
        if (luvIdx >= 0 && !row.isNullAt(luvIdx)) {
          // 0 is the UNKNOWN sentinel (versions start at 1): a
          // maintenance rewrite carries a pre-lineage row's NULL
          // `_last_updated_version` as 0 so it keeps reading NULL —
          // a null column slot means "this commit touched the row"
          // (PRESERVE_ON_UPDATE=false nulls it on update/insert) and
          // resolves to the file default, which would wrongly stamp
          // pre-lineage history at the compaction version
          val v = row.getInt(luvIdx)
          if (v == 0 && !luvSentinel) null else v
        }
        else if (luv >= 0) luv
        else if (luvSentinel) 0
        else null
      override def get(): InternalRow = {
        val row = reader.getCurrentValue.asInstanceOf[InternalRow]
        if (identity) row
        else {
          val out = new GenericInternalRow(outMap.length)
          var i = 0
          while (i < outMap.length) {
            out.update(i,
              if (outMap(i) == -2) ordinal
              else if (outMap(i) == -3) rowId(row)
              else if (outMap(i) == -4) luvOf(row)
              else if (row.isNullAt(outMap(i))) null
              else row.get(outMap(i), types(i)))
            i += 1
          }
          out
        }
      }
      override def close(): Unit = reader.close()
    }
  }

  def columnarReader(part: ManifestInputPartition, fullSchema: StructType,
      required: StructType, conf: SerializableHadoopConf,
      filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
      importedNames: Map[Int, String] = Map.empty):
      PartitionReader[ColumnarBatch] = {
    val (reader, outMap) = openVectorized(part, fullSchema, required,
      conf.value, 4096, filters, importedNames)
    reader.enableReturningBatches()
    val identity = outMap.sameElements(outMap.indices)
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = reader.nextKeyValue()
      override def get(): ColumnarBatch = {
        val b = reader.getCurrentValue.asInstanceOf[ColumnarBatch]
        if (identity) b
        else {
          // column objects are READER-OWNED — the wrapper only reorders
          // references, and only the reader's close releases them
          val cols = outMap.map(b.column)
          new ColumnarBatch(
            cols.toArray[org.apache.spark.sql.vectorized.ColumnVector],
            b.numRows())
        }
      }
      override def close(): Unit = reader.close()
    }
  }
}

/** Footer inspection for `CALL add_files` (see ManifestProcedures
  * .addFiles): validates a FOREIGN parquet file positionally against the
  * table schema and lifts its footer metadata — row count and per-column
  * min/max/null-count statistics — into the manifest's `#stats` codec.
  * Strictly conservative: any block missing statistics (or an
  * un-liftable value) drops that COLUMN's stats for the whole file
  * (absent stats = never skipped); float/double stats are always dropped
  * (a foreign writer's NaN handling is unknowable, and NaN-polluted
  * bounds would make skips unsound). Parquet's own truncated binary
  * bounds are already conservative (prefix min / incremented max), and
  * the format's 16-codepoint string truncation re-applies on top. */
private[sources] object ManifestImport {
  import scala.jdk.CollectionConverters._

  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.io.api.Binary
  import org.apache.parquet.schema.{LogicalTypeAnnotation, Type => PType}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  /** Manifest lines registering `src` as entry `name`: the data entry,
    * its `#stats`, and the `#import` field-name map. `consts` pins
    * schema columns whose value lives in the file's PARTITION PATH
    * (hive layouts), not its footer — they splice as per-file constants
    * at read and record exact min==max stats, so partition-dimension
    * proofs (SPJ groups, metadata deletes) work on imported hive data.
    * Throws (nothing published, nothing moved yet) on any
    * incompatibility. */
  def inspect(src: Path, name: String, bytes: Long, schema: StructType,
      conf: Configuration,
      consts: Seq[(Int, Option[String])] = Seq.empty): Seq[String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(src, conf))
    try {
      val msg = r.getFileMetaData.getSchema
      val constIdx = consts.map(_._1).toSet
      val dataIdx = schema.indices.filterNot(constIdx)
      require(msg.getFieldCount == dataIdx.length,
        s"$src has ${msg.getFieldCount} fields, the table has " +
          s"${dataIdx.length} non-partition columns — add_files aligns " +
          "files positionally")
      val fields = msg.getFields.asScala.toSeq
      dataIdx.zip(fields).foreach { case (i, f) =>
        require(compatible(f, schema(i).dataType),
          s"$src field ('${f.getName}': $f) is not readable as table " +
            s"column '${schema(i).name}' ${schema(i).dataType.sql}")
      }
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val stats = dataIdx.zipWithIndex.flatMap { case (i, fi) =>
        columnStats(blocks, fi, schema(i).dataType, rows)
          .map(cs => ManifestFiles.physPos(schema, i) -> cs)
      } ++ consts.map { case (i, raw) =>
        // a partition-path column is value-pure by construction: exact
        // min==max bounds (string bounds truncate like everywhere)
        val (mn, mx) = raw match {
          case None => (None, None)
          case Some(v) if schema(i).dataType == StringType =>
            (Some(ManifestFiles.truncLower(v)), ManifestFiles.truncUpper(v))
          case Some(v) => (Some(v), Some(v))
        }
        ManifestFiles.physPos(schema, i) ->
          ManifestFiles.ColStats(if (raw.isEmpty) rows else 0L, mn, mx)
      }
      Seq(s"$name,$rows",
        ManifestFiles.statsLine(name, bytes, stats, Nil),
        ManifestFiles.importLine(name,
          dataIdx.zip(fields).map { case (i, f) =>
            (ManifestFiles.physPos(schema, i), f.getName) },
          consts.map { case (i, raw) =>
            (ManifestFiles.physPos(schema, i), raw) }))
    } finally r.close()
  }

  /** A hive partition-path value, parsed to the column's INTERNAL raw
    * string (the `#stats`/constant codec): dates to epoch days,
    * integrals verbatim-validated, `__HIVE_DEFAULT_PARTITION__` to NULL.
    * Refuses column types whose path encoding is ambiguous. */
  def parsePathValue(col: String, dt: DataType,
      v: String): Option[String] = {
    if (v == "__HIVE_DEFAULT_PARTITION__") return None
    // the same %XX unescaping Spark/Hive applied when writing the
    // directory (URLDecoder would additionally corrupt a literal '+')
    val decoded = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.unescapePathName(v)
    def fail(detail: String): Nothing = throw new IllegalArgumentException(
      s"partition-path value '$decoded' is not a valid $detail for " +
        s"column '$col'")
    Some(dt match {
      case LongType =>
        decoded.toLongOption.getOrElse(fail("BIGINT")).toString
      case IntegerType =>
        decoded.toIntOption.getOrElse(fail("INT")).toString
      case ShortType =>
        decoded.toShortOption.getOrElse(fail("SMALLINT")).toString
      case ByteType =>
        decoded.toByteOption.getOrElse(fail("TINYINT")).toString
      case BooleanType =>
        decoded.toBooleanOption.getOrElse(fail("BOOLEAN")).toString
      case DateType =>
        scala.util.Try(java.time.LocalDate.parse(decoded)).toOption
          .getOrElse(fail("DATE (yyyy-MM-dd)")).toEpochDay.toString
      case StringType => decoded
      case other => throw new IllegalArgumentException(
        s"add_files cannot take column '$col' of type ${other.sql} from " +
          "a partition path — integrals, string, boolean, and date only")
    })
  }

  /** Can the vectorized reader decode parquet field `f` as `dt`? The
    * physical type AND logical annotation must agree — a near-miss
    * (nanos timestamp, differently-scaled decimal) must refuse at
    * import, not corrupt at read. */
  private def compatible(f: PType, dt: DataType): Boolean = {
    if (f.isPrimitive == false ||
      f.isRepetition(PType.Repetition.REPEATED)) return false
    val p = f.asPrimitiveType()
    val ptn = p.getPrimitiveTypeName
    val ann = p.getLogicalTypeAnnotation
    def intAnn(bits: Int) =
      ann == null || ann == LogicalTypeAnnotation.intType(bits, true)
    dt match {
      case LongType => ptn == INT64 && intAnn(64)
      case IntegerType => ptn == INT32 && intAnn(32)
      case ShortType => ptn == INT32 && (intAnn(32) ||
        ann == LogicalTypeAnnotation.intType(16, true))
      case ByteType => ptn == INT32 && (intAnn(32) ||
        ann == LogicalTypeAnnotation.intType(8, true))
      case DoubleType => ptn == DOUBLE
      case FloatType => ptn == FLOAT
      case BooleanType => ptn == BOOLEAN
      case StringType =>
        ptn == BINARY && ann == LogicalTypeAnnotation.stringType()
      case DateType =>
        ptn == INT32 && ann == LogicalTypeAnnotation.dateType()
      case TimestampType => ptn == INT64 && ann ==
        LogicalTypeAnnotation.timestampType(true,
          LogicalTypeAnnotation.TimeUnit.MICROS)
      case TimestampNTZType => ptn == INT64 && ann ==
        LogicalTypeAnnotation.timestampType(false,
          LogicalTypeAnnotation.TimeUnit.MICROS)
      case d: DecimalType => ann match {
        case dec: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
          dec.getPrecision == d.precision && dec.getScale == d.scale &&
            (ptn == INT32 || ptn == INT64 || ptn == BINARY ||
              ptn == FIXED_LEN_BYTE_ARRAY)
        case _ => false
      }
      case _ => false // non-primitive table types refused by the caller
    }
  }

  /** Raw `#stats` string + canonical comparison value of one footer
    * bound, in the SAME codec the task writers record (String.valueOf of
    * the internal representation). */
  private def lift(dt: DataType, v: Any): Option[(String, Any)] = (dt, v) match {
    case (LongType | TimestampType | TimestampNTZType, l: java.lang.Long) =>
      Some((l.toString, l))
    case (IntegerType | ShortType | ByteType | DateType, i: java.lang.Integer) =>
      Some((i.toString, i))
    case (BooleanType, b: java.lang.Boolean) => Some((b.toString, b))
    case (StringType, b: Binary) =>
      val s = b.toStringUsingUTF8
      Some((s, s))
    case (d: DecimalType, x) =>
      val unscaled: Option[java.math.BigInteger] = x match {
        case i: java.lang.Integer =>
          Some(java.math.BigInteger.valueOf(i.longValue()))
        case l: java.lang.Long => Some(java.math.BigInteger.valueOf(l))
        case b: Binary => Some(new java.math.BigInteger(b.getBytes))
        case _ => None
      }
      unscaled.map { u =>
        val bd = new java.math.BigDecimal(u, d.scale)
        (bd.toString, bd)
      }
    case _ => None
  }

  /** Fold one column's bounds across every block, in the skip
    * evaluator's canonical order. None = record NO stats (conservative);
    * an all-null column records `(nulls, absent, absent)` — the codec's
    * all-null pattern. */
  private def columnStats(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      i: Int, dt: DataType,
      totalRows: Long): Option[ManifestFiles.ColStats] = {
    dt match { // foreign float/double stats: NaN posture unknowable
      case DoubleType | FloatType => return None
      case _ =>
    }
    var nulls = 0L
    var mnRaw: String = null; var mnC: Any = null
    var mxRaw: String = null; var mxC: Any = null
    val it = blocks.iterator
    while (it.hasNext) {
      val b = it.next()
      val st = b.getColumns.get(i).getStatistics
      if (st == null || !st.isNumNullsSet) return None
      nulls += st.getNumNulls
      if (st.getNumNulls < b.getRowCount) {
        if (!st.hasNonNullValue) return None
        val (rawMn, cMn) = lift(dt, st.genericGetMin).getOrElse(return None)
        val (rawMx, cMx) = lift(dt, st.genericGetMax).getOrElse(return None)
        def canon(a: Any): Any = ManifestSkip.normalize(dt, a).getOrElse(
          return None)
        if (mnC == null || ManifestSkip.cmp(canon(cMn), canon(mnC)) < 0) {
          mnC = cMn; mnRaw = rawMn
        }
        if (mxC == null || ManifestSkip.cmp(canon(cMx), canon(mxC)) > 0) {
          mxC = cMx; mxRaw = rawMx
        }
      }
    }
    if (nulls >= totalRows) Some(ManifestFiles.ColStats(nulls, None, None))
    else if (mnRaw == null) None // no block produced bounds
    else {
      val (mn, mx) =
        if (dt == StringType)
          (Some(ManifestFiles.truncLower(mnRaw)),
            ManifestFiles.truncUpper(mxRaw))
        else (Some(mnRaw), Some(mxRaw))
      Some(ManifestFiles.ColStats(nulls, mn, mx))
    }
  }
}
