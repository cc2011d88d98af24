package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, MetadataBuilder, ShortType, StringType, StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Custom DataSource V2 WRITE path with the two-phase commit protocol
  * (reference: `FileFormatWriter` + `HadoopMapReduceCommitProtocol` —
  * task writers stage output, the DRIVER publishes atomically):
  *
  *   - each job stages under its own namespace `.staging-<queryId>/` so
  *     two concurrent writes to the same path never touch each other's
  *     in-flight files (each abort sweeps only its own staging dir);
  *   - each task's `DataWriter` streams rows to a staged part file and
  *     only its `commit()` reports the file; `abort()` deletes it, so
  *     failed/retried/speculated attempts leave nothing visible;
  *   - `BatchWrite.commit(messages)` — driver-side, runs once, after every
  *     task committed — moves the staged files up and then publishes the
  *     snapshot through `ManifestFiles.publishSnapshot` (atomic version
  *     claim + rebase-on-conflict; the version file is the single atomic
  *     publish point). A driver crash mid-commit can leave part files
  *     visible to directory listing, so READERS MUST TRUST ONLY
  *     MANIFEST-LISTED FILES (the `_spark_metadata` idea); the spec
  *     reads through the manifest.
  *   - `BatchWrite.abort` removes this job's staging namespace only.
  *
  * All I/O goes through the Hadoop `FileSystem` API resolved from the
  * session's Hadoop configuration (serialized to executors the way
  * FileFormatWriter ships its job conf), so any `fs.*` scheme works —
  * local paths in tests, HDFS/object stores in production. Rows land as
  * PARQUET, the one data-file payload (Spark's own ParquetWriteSupport /
  * VectorizedParquetRecordReader, see ManifestParquet.scala).
  * `failPartition` injects a first-attempt task failure for
  * ManifestSinkSpec's abort/atomicity proofs. Usage:
  * `df.write.format("graft-manifest").option("path", p)`.
  *
  * Since round 8 every commit is additionally an immutable VERSIONED
  * snapshot (`_MANIFEST.v<N>` + `_SCHEMA.v<N>`): append merges the prior
  * snapshot, `mode("overwrite")` truncates, and ManifestSource.scala
  * provides the batch READ path plus a TableCatalog with `VERSION AS
  * OF`/`TIMESTAMP AS OF` SQL over those snapshots.
  */
private[sources] object ManifestSink {
  /** The data-file name a snapshot line refers to: a data entry's name
    * prefix, a `#stats` line's second field, none for other metadata
    * (`#txn` markers never match a dropped file). Lets COPY_ON_WRITE
    * commits drop a rewritten file's STATS line together with its entry. */
  def entryName(line: String): Option[String] =
    if (line.startsWith("#stats,")) line.split(",", 4).lift(1)
    else if (line.startsWith("#bucket,") || line.startsWith("#sorted,"))
      line.split(",", 3).lift(1) // drop layout marks with their entry
    else if (line.startsWith("#import,") || line.startsWith("#born,") ||
        line.startsWith("#ndv,") || line.startsWith("#firstrow,") ||
        line.startsWith("#ridcol,") || line.startsWith("#luv,") ||
        line.startsWith("#luvcol,") || line.startsWith("#hist,"))
      line.split(",", 3).lift(1) // name maps / birth marks / sketches /
                                 // lineage + histogram riders travel
                                 // with their file
    else if (line.startsWith("#")) None
    else Some(line.substring(0, line.lastIndexOf(',')))

  /** Split a snapshot's entries by how the ANDed `filters` relate to
    * each file's stats: (provably all-match, provably none-match,
    * undecidable). Metadata-only DELETE requires the third set empty. */
  def partitionByMatch(filters: Array[org.apache.spark.sql.sources.Filter],
      schema: StructType, snap: ManifestSnapshot):
      (Set[String], Set[String], Seq[String]) = {
    val entries = snap.entries
    val stats = snap.stats
    // float→double WIDENED columns: their text-stored bounds re-decode
    // to DIFFERENT doubles than the rows' upcast values, so neither
    // all-match nor no-match is provable from them — a filter touching
    // one sends every file to `mixed` (the COW rewrite path, which
    // evaluates real rows; cost, never wrongness). Same suppression the
    // scan's statsSafeFilters applies.
    val widenedFloat: Set[String] = snap.widened
      .collect { case (pos, "float") => pos }
      .flatMap(p => ManifestFiles.fieldAtPhys(schema, p))
      .map(schema(_).name).toSet
    def statsSafe(f: org.apache.spark.sql.sources.Filter): Boolean =
      widenedFloat.isEmpty || !f.references.exists(widenedFloat.contains)
    // DELETE's condition arrives as a conjunction
    val all = scala.collection.mutable.Set.empty[String]
    val none = scala.collection.mutable.Set.empty[String]
    val mixed = scala.collection.mutable.ArrayBuffer.empty[String]
    entries.foreach { case (n, rows) =>
      val st = stats.get(n)
      if (filters.nonEmpty && filters.forall(f => statsSafe(f) &&
          ManifestSkip.provesAllMatch(f, schema, st, Some(rows)))) all += n
      else if (filters.exists(f => statsSafe(f) &&
          ManifestSkip.canSkip(f, schema, st, Some(rows)))) none += n
      else mixed += n
    }
    (all.toSet, none.toSet, mixed.toSeq)
  }
}

class ManifestSink extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-manifest"
  override def supportsExternalMetadata(): Boolean = true
  // Read path: the schema was published at commit time (`_SCHEMA[.vN]`),
  // so "inference" is a lookup, never a data scan. Write path to a fresh
  // directory: nothing there yet — empty schema, the writer's df schema
  // arrives via getTable.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("path")).map { p =>
      val dir = new Path(p)
      val fs = dir.getFileSystem(
        SparkSession.active.sessionState.newHadoopConf())
      if (fs.exists(new Path(dir, "_SCHEMA"))) {
        val base = ManifestSnapshot.resolve(fs, dir,
          Option(options.get("versionAsOf"))
            .map(ManifestFiles.resolveVersionStr(fs, dir, _)),
          Option(options.get("branch"))).requireSchema
        // change-feed reads surface the table's columns PLUS the
        // _change_type/_commit_version constants — and on row-lineage
        // tables, each leg's `_row_id` (COW rewrites PRESERVE ids, so
        // update legs pair on pure identity with no business key). The
        // gpos=-1 marker keeps the appended field out of the physical-
        // position namespace (it is computed, never stored positionally).
        if (Option(options.get("changeFeed")).exists(_.toBoolean)) {
          // IO failures PROPAGATE (round-15 advice): quietly deciding
          // "not lineage" on a transient FS error would drop _row_id
          // from the CDF schema — the silent corruption the row-level
          // operations' lineage read refuses too. An empty chain reads
          // as Array.empty → false, the one legitimate no-lineage case.
          val lineage = ManifestSnapshot.latest(fs, dir).lineage
          val withRid =
            if (!lineage) base
            else base.add(StructField("_row_id",
              org.apache.spark.sql.types.LongType, nullable = true,
              new MetadataBuilder().putLong("gpos", -1L).build()))
              .add(StructField("_last_updated_version",
                org.apache.spark.sql.types.IntegerType, nullable = true,
                new MetadataBuilder().putLong("gpos", -1L).build()))
          ManifestChangeFeed.outputSchema(withRid)
        } else base
      } else new StructType()
    }.getOrElse(new StructType())
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new ManifestTable(schema, properties)
}

/** Hadoop Configuration is not java-serializable; ship it to the task
  * writers via Writable round-trip (the same trick Spark's own
  * SerializableConfiguration uses — that class is private[spark]).
  *
  * Deserialization is CONTENT-DEDUPED per JVM: Spark hands every task
  * its own copy of the stage's task binary, so without the cache every
  * scan/write task re-parsed the ~1000-property Configuration —
  * executor profiling showed that single readFields as the hottest
  * manifest-task frame (it beat the actual parquet work on small
  * files). Tasks treat the shipped conf as read-only (driver-side
  * mutations like setBloomCols happen before serialization), so all
  * tasks of all stages can share one parsed instance per unique
  * content; Configuration reads are synchronized internally. */
private[sources] object SerializableHadoopConf {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Configuration]
  // every distinct session-conf content is a new key (catalog
  // registrations ride the serialized conf), so bound the cache for
  // long-lived multi-tenant drivers: a rare full clear only costs the
  // next task of each stage one re-parse
  private val MaxEntries = 256

  /** STRUCTURAL read-only enforcement (round-16 advice item): every
    * task in the JVM shares one parsed instance per content, which is
    * sound only while nobody mutates it. Every Hadoop setter funnels
    * through 3-arg `set` (setInt/setBoolean/… call set(String,String)
    * which calls this) or `unset`, so freezing those two after the
    * deserializing readFields makes a future task-side mutation fail
    * fast at the write site instead of silently corrupting unrelated
    * concurrent queries. Driver-side mutations (setBloomCols etc.)
    * happen on the ORIGINAL conf before serialization, never on this
    * shared parse. */
  private[sources] final class FrozenConfiguration
      extends Configuration(false) {
    private var frozen = false
    def freeze(): Unit = frozen = true
    override def set(name: String, value: String, source: String): Unit = {
      if (frozen) throw new UnsupportedOperationException(
        s"task-shared Hadoop Configuration is read-only (set '$name') — " +
          "copy it (new Configuration(conf)) before mutating")
      super.set(name, value, source)
    }
    override def unset(name: String): Unit = {
      if (frozen) throw new UnsupportedOperationException(
        s"task-shared Hadoop Configuration is read-only (unset '$name') — " +
          "copy it (new Configuration(conf)) before mutating")
      super.unset(name)
    }
  }

  private def parsed(bytes: Array[Byte]): Configuration = {
    val key = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      java.util.Base64.getEncoder.encodeToString(d.digest(bytes))
    }
    if (cache.size > MaxEntries) cache.clear()
    cache.computeIfAbsent(key, _ => {
      val c = new FrozenConfiguration
      c.readFields(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      c.freeze()
      c
    })
  }
}

private[sources] class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    value.write(dos)
    dos.flush()
    val bytes = bos.toByteArray
    out.writeInt(bytes.length)
    out.write(bytes)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    val bytes = new Array[Byte](in.readInt())
    in.readFully(bytes)
    value = SerializableHadoopConf.parsed(bytes)
  }
}

private[sources] object ManifestTable {
  /** Can data of type `from` land in a column declared `to`? Exact type
    * match with nullability TIGHTENING allowed at every nesting level
    * (Spark's `equalsIgnoreCompatibleNullability`, re-stated here — the
    * original is private[sql]). Needed because the optimizer strips a
    * no-op loosening cast: an `array(col)` of non-null elements arrives
    * as `array<t> (containsNull=false)` for an `ARRAY<t>` column, which
    * is a perfectly safe write. The loose direction (nullable data into
    * a non-null slot) stays refused. Nested struct field NAMES must
    * match the table schema — rows bind to nested storage positions
    * through it (storage names are positional at every level since the
    * round-12 nested evolution); top-level names are positional and not
    * compared here. */
  /** Everything-nullable copy of a schema (StructType.asNullable is
    * private[spark]) — the first write to a fresh table publishes this,
    * so incidental non-nullability in the first DF never rejects later
    * appends (Spark's own file sinks normalize the same way). */
  def nullableSchema(st: StructType): StructType =
    StructType(st.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(dt: DataType): DataType = dt match {
    case s: StructType => nullableSchema(s)
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(nullableType(et), true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(nullableType(k), nullableType(v), true)
    case o => o
  }

  def writeCompatible(from: DataType, to: DataType): Boolean = (from, to) match {
    case (org.apache.spark.sql.types.ArrayType(f, fn),
          org.apache.spark.sql.types.ArrayType(t, tn)) =>
      (tn || !fn) && writeCompatible(f, t)
    case (org.apache.spark.sql.types.MapType(fk, fv, fn),
          org.apache.spark.sql.types.MapType(tk, tv, tn)) =>
      (tn || !fn) && writeCompatible(fk, tk) && writeCompatible(fv, tv)
    case (f: StructType, t: StructType) =>
      f.length == t.length && f.fields.zip(t.fields).forall { case (ff, tf) =>
        ff.name == tf.name && (tf.nullable || !ff.nullable) &&
          writeCompatible(ff.dataType, tf.dataType)
      }
    case (f, t) => f == t
  }
}

private[sources] class ManifestTable(schema0: StructType,
    properties: JMap[String, String],
    // Catalog-resolved tables always carry the published `_SCHEMA`, so
    // they use Spark's strict output resolution — required for row-level
    // command alignment (ACCEPT_ANY_SCHEMA sets skipSchemaResolution,
    // which leaves UpdateTable/MergeIntoTable unaligned and unrewritable).
    // Path-based writes keep ACCEPT_ANY_SCHEMA: a fresh directory infers
    // an empty schema that strict resolution would refuse to write to.
    strictSchema: Boolean = false)
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsDelete {
  override def name(): String = "graft_manifest_sink"
  override def schema(): StructType = schema0
  // surface the catalog-resolved properties (delete.mode,
  // bloom.columns, layout) for DESCRIBE EXTENDED / SHOW TBLPROPERTIES
  override def properties(): JMap[String, String] = properties0
  private def properties0: JMap[String, String] = properties

  /** This table pinned to a BRANCH head (SQL `VERSION AS OF 'branch'`):
    * same directory, the branch chain's schema, and a `branch` property
    * the scan builder routes on. */
  private[sources] def withBranch(b: String): ManifestTable = {
    val p = new java.util.HashMap[String, String](properties)
    p.put("branch", b)
    val dir = new Path(properties.get("path"))
    val fs = dir.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    new ManifestTable(ManifestSnapshot.latest(fs, dir, Some(b)).requireSchema,
      p, strictSchema = true)
  }

  // Declared layout surfaced for introspection (DESCRIBE/SHOW CREATE),
  // decoded from the properties the catalog's load() surfaced; SPJ
  // itself rides the Scan's outputPartitioning.
  override def partitioning(): Array[Transform] =
    ManifestTableProps.transforms(properties)

  // ---- METADATA-ONLY DELETE (SupportsDelete; Iceberg's partition-
  // aligned delete generalized to stats-aligned): when every file either
  // provably ALL-matches the predicate (ManifestSkip.provesAllMatch) or
  // provably NONE-match (canSkip), the DELETE is a pure snapshot edit —
  // drop the all-match entries, write nothing. Spark's
  // OptimizeMetadataOnlyDeleteFromTable asks canDeleteWhere first and
  // falls back to the row-level plan (COW or MOR) on false, so
  // misaligned deletes keep exact row semantics automatically. At
  // 100 TB this is how `DELETE WHERE day < retention` stays O(metadata).
  private def tablePath: Option[String] = Option(properties.get("path"))

  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    tablePath.exists { p =>
      val dir = new Path(p)
      val fs = dir.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
      ManifestSink.partitionByMatch(filters, schema0,
        ManifestSnapshot.latest(fs, dir))._3.isEmpty
    }

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val p = tablePath.getOrElse(throw new IllegalArgumentException(
      "graft-manifest metadata delete needs a table path"))
    val dir = new Path(p)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    ManifestFiles.publishSnapshot(fs, conf, dir, previous => {
      // Re-prove against the CLAIM-TIME predecessor: a commit that
      // landed between canDeleteWhere and here may have broken the
      // alignment — failing loudly beats deleting rows approximately.
      val (drop, _, mixed) =
        ManifestSink.partitionByMatch(filters, schema0, previous)
      if (mixed.nonEmpty) throw new IllegalStateException(
        s"graft-manifest metadata delete: concurrent commit broke " +
          s"predicate/file alignment (e.g. ${mixed.head}); retry the DELETE")
      previous.lines.filterNot(line =>
        ManifestSink.entryName(line).exists(drop.contains))
    }, schema0, basis = Some(schema0))
  }

  // `_file` = the manifest entry name a row came from; `_pos` = the
  // row's ordinal within that file. Both user-queryable metadata
  // columns; together they are the group identity for copy-on-write
  // plans (`_file`) and the ROW identity for merge-on-read delta plans
  // (`_file`, `_pos`).
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
      },
      // ROW LINEAGE (round 14): the row's stable identity across
      // compaction / Z-order / copy-on-write rewrites — NULL on tables
      // that never enabled `row.lineage`
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_row_id"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = true
      },
      // `_last_updated_version` (round 15 — Iceberg v3's second lineage
      // field): the commit version that last WROTE this row. The
      // preservation contract is Spark's own metadata seam
      // (MetadataColumn.PRESERVE_ON_UPDATE): row-level UPDATE/MERGE
      // plans NULLIFY the carried value for updated rows — they resolve
      // to the rewriting commit's version — while copied rows keep
      // theirs; maintenance rewrites (compact/Z-order) materialize
      // everything verbatim, so maintenance never reads as an update.
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_last_updated_version"
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.IntegerType
        override def isNullable: Boolean = true
        override def metadataInJSON(): String =
          s"""{"${org.apache.spark.sql.connector.catalog.MetadataColumn
            .PRESERVE_ON_UPDATE}": false,
              "${org.apache.spark.sql.connector.catalog.MetadataColumn
            .PRESERVE_ON_REINSERT}": false}"""
      })

  // DELETE FROM / UPDATE / MERGE INTO, group-based COPY_ON_WRITE (the
  // same DSv2 seam Iceberg plugs): Spark plans a ReplaceData — scan the
  // affected files through the operation's scan (runtime-group-filtered
  // on `_file`, so untouched files never rescan or rewrite), recompute
  // their surviving rows, and commit replaces exactly those files with
  // the rewrite. Each operation is one new snapshot; the pre-image stays
  // reachable via time travel.
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-manifest row-level operations need the table resolved " +
          "through GraftManifestCatalog (no path property present)"))
    // the table head, read ONCE per operation: lineage decides the
    // metadata columns the operation requests, and its write spec
    // derives from the same lines. An absent table is not lineage; an IO
    // failure PROPAGATES — quietly deciding "not lineage" would re-mint
    // every updated row's identity.
    val dir = new Path(path)
    val head = ManifestSnapshot.latest(
      dir.getFileSystem(SparkSession.active.sessionState.newHadoopConf()), dir)
    // merge-on-read tables (`TBLPROPERTIES('delete.mode'='merge-on-read')`)
    // take the DELTA path: positional delete files instead of rewriting
    // whole data files (ManifestDelta.scala)
    if (Option(properties.get("delete.mode")).contains("merge-on-read"))
      () => new ManifestDeltaOperation(info.command(), path, schema0, head)
    else
      () => new ManifestRowLevelOperation(info.command(), path, schema0, head)
  }
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps = java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.BATCH_READ, TableCapability.TRUNCATE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
    if (!strictSchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder = {
    def opt(k: String): Option[String] =
      Option(options.get(k)).orElse(Option(properties.get(k)))
    val p = opt("path").getOrElse(throw new IllegalArgumentException(
      "graft-manifest read requires .option(\"path\", <directory URI>)"))
    // tag names resolve as range endpoints too ("changes since the
    // 'golden' tag") — the same refs VERSION AS OF reads
    def resolveRef(s: String): Int = ManifestFiles.resolveVersionStr(
      new Path(p).getFileSystem(
        SparkSession.active.sessionState.newHadoopConf()), new Path(p), s)
    val changes = opt("changesFrom").map(resolveRef).map { from =>
      require(opt("versionAsOf").isEmpty,
        "graft-manifest: changesFrom and versionAsOf are mutually exclusive")
      (from, opt("changesTo").map(resolveRef))
    }
    val changeFeed = opt("changeFeed").exists(_.toBoolean)
    val skipMaintenance = opt("skipMaintenance").exists(_.toBoolean)
    require(!skipMaintenance || changeFeed,
      "graft-manifest: skipMaintenance applies to change feed reads — " +
        "set .option(\"changeFeed\", true)")
    // a catalog-resolved table's schema cannot grow the CDF columns
    // (Table.schema() is fixed at load) — route to the path-based reader
    require(!changeFeed ||
      schema0.fieldNames.contains(ManifestChangeFeed.TypeCol),
      "graft-manifest: change feed reads are path-based — " +
        "spark.read.format(\"graft-manifest\").option(\"path\", dir)" +
        ".option(\"changeFeed\", true).option(\"changesFrom\", v)")
    val branch = opt("branch")
    require(branch.isEmpty || (changes.isEmpty && !changeFeed),
      "graft-manifest: branch reads are snapshot reads — incremental " +
        "tails and change feeds follow MAIN only")
    new ManifestScanBuilder(p, opt("versionAsOf").map(resolveRef), schema0,
      new SerializableHadoopConf(
        SparkSession.active.sessionState.newHadoopConf()),
      changes = changes,
      columnar = opt("columnar").map(_.toBoolean),
      ignoreDeletes = opt("ignoreDeletes").exists(_.toBoolean),
      changeFeed = changeFeed,
      skipMaintenance = skipMaintenance,
      branch = branch,
      filesSubset = opt("filesSubset")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet),
      caps = ManifestAdmission.Caps(
        maxFiles = opt("maxFilesPerTrigger").map { s =>
          val n = s.trim.toInt
          require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
          n
        },
        maxBytes = opt("maxBytesPerTrigger").map { s =>
          val b = s.trim.toLong
          require(b > 0, s"maxBytesPerTrigger must be positive, got $b")
          b
        },
        maxRows = opt("maxRowsPerTrigger").map { s =>
          val r = s.trim.toLong
          require(r > 0, s"maxRowsPerTrigger must be positive, got $r")
          r
        },
        minRows = opt("minRowsPerTrigger").map { s =>
          val r = s.trim.toLong
          require(r > 0, s"minRowsPerTrigger must be positive, got $r")
          r
        },
        delayMs = opt("maxTriggerDelayMs").map { s =>
          val d = s.trim.toLong
          require(d >= 0, s"maxTriggerDelayMs must be >= 0, got $d")
          d
        }.getOrElse(15000L)),
      variantSkip = opt("variantSkip"))
  }
  /** Per-field type diff for the append-mismatch error (simpleString
    * hides nullability flags, which are part of dataType equality). */
  private def mismatchDetail(e: StructType, incoming: StructType): String =
    if (e.length != incoming.length) ""
    else e.fields.zip(incoming.fields).zipWithIndex.collect {
      case ((a, b), i) if !ManifestTable.writeCompatible(b.dataType, a.dataType) =>
        s"field $i '${a.name}': table ${a.dataType.json} vs " +
          s"write ${b.dataType.json}"
    }.mkString(" (", "; ", ")")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // Same options→properties fallback as the scan builder: a table
    // resolved through GraftManifestCatalog carries its path in table
    // properties (SQL `INSERT INTO <cat>.<table>` passes no write
    // options), while `df.write.format(...)` passes it as an option.
    val raw = Option(info.options.get("path"))
      .orElse(Option(properties.get("path"))).getOrElse(
        throw new IllegalArgumentException(
          "graft-manifest sink requires .option(\"path\", <directory URI>)"))
    if (raw.trim.isEmpty) throw new IllegalArgumentException(
      "graft-manifest sink: path option is empty — pass a directory URI")
    val path =
      try new Path(raw)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"graft-manifest sink: malformed path '$raw': ${e.getMessage}", e)
      }
    // payload: write option, then table property — refused at plan
    // time unless parquet (a task-side failure would stage garbage)
    ManifestParquet.requireFormat(Option(info.options.get("format"))
      .orElse(Option(properties.get("format"))))
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var truncateRequested = false
      override def truncate(): WriteBuilder = { truncateRequested = true; this }
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
        // Bucketed layout (`option("bucketBy", col)` + `option("buckets", n)`):
        // demand a clustered-by-col distribution with EXACTLY n partitions
        // through DSv2's write-distribution seam — Spark inserts the
        // hash-repartition itself (partitionId = pmod(murmur3(col), n)), so
        // every task file holds one bucket and the commit records it for
        // the storage-partitioned-join read side. Zero extra shuffles: the
        // repartition IS the bucketing.
        private val bucketSpec: Option[(String, Int)] = {
          // option first (ad-hoc bucketed write), then the DDL-declared
          // layout a catalog-created table carries in its properties —
          // `INSERT INTO cat.t` clusters automatically
          def fromEither(k: String) = Option(info.options.get(k))
            .orElse(Option(properties.get(k)))
          val col = fromEither("bucketBy")
          val n = fromEither("buckets").map(_.toInt)
          (col, n) match {
            case (Some(c), Some(k)) =>
              require(k >= 1, s"buckets must be >= 1, got $k")
              val f = info.schema().fields.find(_.name == c).getOrElse(
                throw new IllegalArgumentException(
                  s"bucketBy column '$c' not in ${info.schema().fieldNames.mkString(",")}"))
              require(f.dataType == org.apache.spark.sql.types.LongType,
                s"bucketBy supports BIGINT columns (got ${f.dataType.sql}): " +
                  "the recorded layout must equal Spark's own " +
                  "HashPartitioning of the column")
              Some((c, k))
            case (None, None) => None
            case _ => throw new IllegalArgumentException(
              "bucketBy and buckets must be set together")
          }
        }
        // BRANCH writes (write-audit-publish): the commit lands on the
        // branch's own chain; the branch must exist (create_branch).
        // Branch chains share main's version numbering (the fork is a
        // twin of main's v<base>), so version-scoped metadata — `#born`
        // birth markers, `#eqdels` sequencing — means the same thing on
        // both chains: upserts stage on branches and live equality
        // deletes survive the fork, verbatim through fast_forward's
        // replay.
        private val branch = Option(info.options.get("branch"))
          .orElse(Option(properties.get("branch")))

        // The head this write commits onto — main, or the chain named by
        // `branch` — read ONCE: the layout, the upsert and lineage
        // checks, the append-schema alignment and the write spec all
        // derive from it, so a branch obeys its own `#tableconf`. A
        // missing table reads as empty; a missing branch or an
        // unreadable table fails the plan.
        private val head = ManifestSnapshot.latest(
          path.getFileSystem(SparkSession.active.sessionState.newHadoopConf()),
          path, branch)

        // REPLACE TABLE staging (see GraftManifestCatalog.stageReplace):
        // the catalog passes the NEW DDL's #tableconf lines — the write
        // must honor THOSE, never the to-be-replaced table's layout
        // (presence of the key is the replace marker)
        private val replaceConf: Option[Array[String]] =
          Option(info.options.get("replaceConfLines"))
            .orElse(Option(properties.get("replaceConfLines")))
            .map(v => v.split("\n").filter(_.nonEmpty))

        // the declared write behaviour this write plans and writes with
        private val declared: ManifestSnapshot =
          replaceConf.map(ManifestSnapshot.ofLines).getOrElse(head)

        // schema index of a declared physical position: a staged
        // CREATE/REPLACE's lines reference the NEW schema (fresh
        // positions == indices), anything else the head's schema
        private def declaredIndex(pos: Int): Option[Int] =
          if (replaceConf.isDefined) Some(pos).filter(_ < info.schema().length)
          else head.schema.flatMap(ManifestFiles.fieldAtPhys(_, pos))

        // Declared days/months/identity partition layout (the
        // `#tableconf,part` lines; staged REPLACE refuses transforms, so
        // its lines never carry `part`). The write demands a RANGE
        // distribution + in-partition sort on the column: clustered rows
        // let the task-side partition-splitting writer keep one open
        // file at a time, and the file count stays ~one per partition
        // value instead of tasks × values.
        private val partLayout: Seq[(Int, String)] =
          declared.partConfs.flatMap { case (pos, kind) =>
            declaredIndex(pos).map(idx => (idx, kind)) }

        // Declared `write.sort-order` (the `#tableconf,sortorder` line):
        // schema indices in declared order. The write demands a PER-TASK
        // lexicographic sort on these columns, appended after any
        // partition clustering — no shuffle is added to the insert path
        // (Iceberg's write.distribution-mode=none + sort order); each
        // landed file is clustered on the keys, earns a verified
        // `#sorted` mark on the leading one, and compaction later turns
        // per-file order into disjoint table-wide ranges.
        // range distribution mode (declared with the sort order)
        private val distRange: Boolean = declared.distModeRange

        // (schema index, desc, nullsLast) per declared sort key — the
        // full Iceberg sort-order surface, directions included
        private val sortLayout: Seq[(Int, Boolean, Boolean)] =
          declared.sortKeys.flatMap(k =>
            declaredIndex(k.pos).map(i => (i, k.desc, k.nullsLast)))

        // `option("upsertKeys", "k1[,k2]")` — CDC UPSERT append via
        // EQUALITY DELETES (see ManifestEqDeletes): each task tees its
        // rows' distinct key tuples into a delete file, the commit
        // orders them BEFORE the batch's entries, and prior rows of
        // those keys vanish without this write reading ANY existing
        // data. Batch and streaming epochs share the seam.
        private val upsertKeys: Seq[Int] = {
          val opt = Option(info.options.get("upsertKeys"))
            .orElse(Option(properties.get("upsertKeys")))
          opt.map { cs =>
            require(bucketSpec.isEmpty,
              "upsertKeys cannot combine with a bucket-clustered write")
            require(head.mergeOnRead,
              "upsertKeys requires a merge-on-read table " +
                "(TBLPROPERTIES('delete.mode'='merge-on-read')) — " +
                "equality deletes are a MOR concept")
            val keys = cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
              .map { c =>
                val i = info.schema().fieldNames.indexOf(c)
                require(i >= 0, s"upsertKeys column '$c' not in " +
                  info.schema().fieldNames.mkString(","))
                val dt = info.schema().fields(i).dataType
                require(ManifestEqDeletes.keyTypeOk(dt),
                  s"upsertKeys column '$c' is ${dt.sql} — keys must be " +
                    "exact-equality primitives (integrals, string, " +
                    "boolean, date, timestamp)")
                i
              }
            require(keys.nonEmpty, "upsertKeys must name at least one column")
            require(keys.distinct.length == keys.length,
              "duplicate column in upsertKeys")
            keys
          }.getOrElse(Seq.empty)
        }

        // `option("sortedBy", col)` — sorted buckets: demand an
        // in-partition sort through the same write seam, so every bucket
        // file lands sorted and a bucketed+sorted join needs neither
        // exchange NOR sort. Only meaningful with bucketBy.
        private val sortedBy: Option[String] = {
          val c = Option(info.options.get("sortedBy"))
            .orElse(Option(properties.get("sortedBy")))
          c.foreach { col =>
            require(bucketSpec.isDefined,
              "sortedBy requires bucketBy/buckets (sorted buckets)")
            require(info.schema().fieldNames.contains(col),
              s"sortedBy column '$col' not in ${info.schema().fieldNames.mkString(",")}")
          }
          c
        }
        private def partSortOrder(idx: Int) =
          org.apache.spark.sql.connector.expressions.Expressions.sort(
            org.apache.spark.sql.connector.expressions.Expressions.column(
              info.schema().fields(idx).name),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)

        private def keySortOrder(k: (Int, Boolean, Boolean)) = {
          import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
          Expressions.sort(
            Expressions.column(info.schema().fields(k._1).name),
            if (k._2) SortDirection.DESCENDING else SortDirection.ASCENDING,
            if (k._3) NullOrdering.NULLS_LAST else NullOrdering.NULLS_FIRST)
        }

        override def requiredDistribution():
            org.apache.spark.sql.connector.distributions.Distribution =
          bucketSpec match {
            case Some((c, _)) =>
              org.apache.spark.sql.connector.distributions.Distributions
                .clustered(Array(
                  org.apache.spark.sql.connector.expressions.Expressions.identity(c)))
            case None =>
              if (partLayout.nonEmpty)
                // composite layouts range-distribute lexicographically on
                // ALL partition columns in declared order — clustered
                // rows keep the split writer near one open file
                org.apache.spark.sql.connector.distributions.Distributions
                  .ordered(partLayout.map(p => partSortOrder(p._1)).toArray)
              else if (distRange && sortLayout.nonEmpty)
                // declared write.distribution-mode=range: inserts pay one
                // range shuffle on the sort columns, so files land
                // range-DISJOINT without waiting for a compaction
                org.apache.spark.sql.connector.distributions.Distributions
                  .ordered(sortLayout.map(keySortOrder).toArray)
              else
                org.apache.spark.sql.connector.distributions.Distributions
                  .unspecified()
          }
        override def requiredNumPartitions(): Int =
          bucketSpec.map(_._2).getOrElse(0)
        override def requiredOrdering():
            Array[org.apache.spark.sql.connector.expressions.SortOrder] =
          sortedBy.map(c => Array(
            org.apache.spark.sql.connector.expressions.Expressions.sort(
              org.apache.spark.sql.connector.expressions.Expressions.column(c),
              org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)))
            .getOrElse {
              // partition clustering first (the split writer's file-count
              // guarantee rides it), then the declared sort order — a
              // sort column that IS a partition column needs no second
              // sort key (each file is value-pure on it already)
              val partIdx = partLayout.map(_._1)
              (partIdx.map(partSortOrder) ++
                sortLayout.filterNot(k => partIdx.contains(k._1))
                  .map(keySortOrder)).toArray
            }

        /** The schema this write publishes. The authoritative previous
          * schema is the head's
          * published one (schema0 is the DataFrame's own schema on
          * path-based writes — supportsExternalMetadata). Appends must
          * align with it positionally (ACCEPT_ANY_SCHEMA paths hand us
          * the INPUT's column names verbatim — a SQL `INSERT ... VALUES`
          * arrives as col1/col2/... — so the commit republishes the
          * names already published); truncate may legitimately rewrite
          * the schema. */
        private def targetSchema(incoming: StructType): StructType = {
          val existing = if (truncateRequested) None else head.schema
          existing.foreach { e =>
            val aligned = e.length == incoming.length &&
              e.fields.zip(incoming.fields).forall { case (t, w) =>
                ManifestTable.writeCompatible(w.dataType, t.dataType) }
            if (!aligned) throw new IllegalArgumentException(
              s"graft-manifest append schema mismatch: table has " +
                s"${e.simpleString}, write provides ${incoming.simpleString}" +
                mismatchDetail(e, incoming))
          }
          // first write to a fresh table: publish NULLABLE at every level
          // (Spark's own file sinks do the same) — the first DF's
          // incidental non-nullability must not reject later appends
          existing.getOrElse(ManifestTable.nullableSchema(incoming))
        }

        private def carriesChangeType(incoming: StructType): Boolean =
          incoming.fields.lastOption
            .exists(_.name == ManifestChangeFeed.TypeCol)

        override def toBatch: BatchWrite = {
          if (truncateRequested) require(upsertKeys.isEmpty,
            "upsertKeys with mode(\"overwrite\") is meaningless — the " +
              "truncate already discards every prior row")
          // CHANGE-TYPED upsert: a trailing `_change_type` column tags
          // each row 'insert' or 'delete' for the equality-delete tee
          // (see ManifestEqDeletes.tee) and is never stored
          val typed = carriesChangeType(info.schema())
          if (typed) require(upsertKeys.nonEmpty &&
            info.schema().last.dataType == StringType,
            s"a trailing ${ManifestChangeFeed.TypeCol} column marks a " +
              "change-typed upsert: it must be a STRING column of a " +
              "write with option(\"upsertKeys\", …)")
          val incoming =
            if (typed) StructType(info.schema().fields.dropRight(1))
            else info.schema()
          val finalSchema = targetSchema(incoming)
          val hconf = new SerializableHadoopConf(
            SparkSession.active.sessionState.newHadoopConf())
          new ManifestBatchWrite(
            path.toString, info.queryId(),
            Option(info.options.get("failPartition")).map(_.toInt).getOrElse(-1),
            finalSchema, truncateRequested, hconf,
            WriteSpec.of(declared, finalSchema, hconf.value,
              maintenance = false),
            bucketSpec = bucketSpec.map { case (c, n) =>
              // record the PHYSICAL position so renames/drops keep the
              // layout valid (name resolves in the write's own schema)
              (ManifestFiles.physPos(finalSchema, incoming.fieldIndex(c)), n)
            },
            // row INDEX for the writer's sort check; the commit converts
            // it to the physical position when marking #sorted. A declared
            // write.sort-order marks (and verifies) its LEADING column —
            // lexicographic order implies order on the first key.
            sortPos = sortedBy.map(c => (incoming.fieldIndex(c), false, false))
              .orElse(sortLayout.headOption),
            // a DDL-declared layout (from table properties) must survive
            // INSERT OVERWRITE — re-emit its #tableconf line on truncate;
            // a staged REPLACE instead swaps in the NEW DDL's lines
            confLines = replaceConf.getOrElse(
              if (Option(properties.get("bucketBy")).isDefined)
                bucketSpec.map { case (c, n) =>
                  ManifestFiles.tableConfLine(
                    ManifestFiles.physPos(finalSchema, incoming.fieldIndex(c)),
                    n, sortedBy.map(c2 => ManifestFiles.physPos(finalSchema,
                      incoming.fieldIndex(c2))))
                }.toArray
              else Array.empty),
            branch = branch,
            upsertKeys = upsertKeys,
            typeIdx = if (typed) incoming.length else -1,
            replaceConf = replaceConf.isDefined,
            requireFresh = Option(properties.get("requireFreshTable"))
              .contains("true"))
        }
        override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          if (truncateRequested) throw new UnsupportedOperationException(
            "graft-manifest streaming sink supports append output mode " +
              "only (Complete-mode truncation would also discard the " +
              "exactly-once #txn markers)")
          require(!carriesChangeType(info.schema()),
            s"a trailing ${ManifestChangeFeed.TypeCol} column marks a " +
              "change-typed upsert, which is a batch write")
          // the write spec re-derives per epoch (see ManifestStreamingWrite)
          new ManifestStreamingWrite(path.toString, info.queryId(),
            targetSchema(info.schema()),
            new SerializableHadoopConf(
              SparkSession.active.sessionState.newHadoopConf()),
            branch, upsertKeys = upsertKeys)
        }
      }
    }
  }
}

/** One row-level operation instance spans its scan AND its write (the
  * `GroupBasedRowLevelOperation` contract): the scan records which
  * manifest entries it finally planned (post group filter) on the
  * driver, and the replacing write's commit drops exactly those entries
  * from the previous snapshot. Fresh Hadoop conf is resolved lazily so
  * the operation builder stays cheap at analysis time. */
private[sources] class ManifestRowLevelOperation(
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    path: String, tableSchema: StructType, head: ManifestSnapshot)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  @volatile private var scanned: Array[String] = Array.empty
  // the delete-state lines (#dels/#eqdels) of the snapshot the scan
  // planned — the replacing commit validates none appeared since (a
  // concurrent MOR delete / CDC upsert would otherwise RESURRECT its
  // deleted rows: this rewrite's files were computed without the new
  // state, and post-rewrite files are born past an eqdel's version)
  @volatile private var scannedDeleteState: Set[String] = Set.empty

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"graft-manifest COPY_ON_WRITE $cmd $path"

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    // statsSkip OFF: the commit drops exactly the planned files, and the
    // pushed predicate here is the SURVIVOR condition — stats-skipping a
    // fully-deleted file would keep it alive (see ManifestScanBuilder).
    new ManifestScanBuilder(path, None, tableSchema,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
      onPlanned = names => scanned = names, statsSkip = false,
      onDeleteState = state => scannedDeleteState = state,
      // pre-lineage rows surface the 0 sentinel (not NULL) to the
      // rewrite, so a COW DELETE/UPDATE/MERGE cannot stamp untouched
      // pre-lineage survivors with its own version (they must keep
      // reading NULL — the same contract the compaction rewrite keeps).
      // DOCUMENTED CAVEAT: the sentinel scan also serves the
      // statement's own WHERE evaluation, so `_last_updated_version`
      // predicates INSIDE a COW row-level statement see 0 where a
      // SELECT sees NULL for pre-lineage rows (both encode "never
      // updated since lineage enabled" — write such conditions as
      // `coalesce(_last_updated_version, 0) = 0`); pinned by
      // ManifestRowLineageSpec. The alternative — NULL to predicates,
      // sentinel to the writer — is unreachable: both read the same
      // scan output attribute, and Spark's PRESERVE_ON_UPDATE nulling
      // erases the distinction before the writer could recover it.
      luvSentinel = lineage)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          // Replacement rows carry the table's columns; keep its names.
          val schema = if (tableSchema.nonEmpty) tableSchema else info.schema()
          val conf = new SerializableHadoopConf(
            SparkSession.active.sessionState.newHadoopConf())
          val inner = new ManifestBatchWrite(
            path, info.queryId(), -1, schema, truncate = false, conf,
            WriteSpec.of(head, schema, conf.value, maintenance = false),
            dropFromPrevious = () => scanned.toSet,
            scannedDeleteState = () => Some(scannedDeleteState),
            // ROW LINEAGE through copy-on-write: the operation asked for
            // `_row_id` (see requiredMetadataAttributes), so Spark's
            // DataAndMetadataWritingSparkTask hands each replacement row's
            // [_file, _row_id] metadata projection to the writer's 2-arg
            // write — carried from the target for surviving/updated rows,
            // NULL for MERGE-inserted ones — and the rewrite files
            // materialize it as their `_rid` column
            ridFromMeta = lineage)
          // When the statement's own WHERE references a metadata column
          // (e.g. `DELETE ... WHERE _last_updated_version IS NULL`),
          // Spark folds ALL requested metadata columns into the DATA
          // schema instead of the split metadata projection — the rows
          // arrive as [table cols…, _file, _pos?, _row_id, _luv]. The
          // adapter projects the row back to the table schema and
          // re-routes _row_id/_last_updated_version through the 2-arg
          // meta channel, so lineage semantics are identical to the
          // split-task path (round-16 review pass 4: this shape
          // previously crashed the parquet writer on arity).
          val in = info.schema()
          if (tableSchema.isEmpty || in.fieldNames.sameElements(
              tableSchema.fieldNames)) inner
          else {
            val dataIdx = tableSchema.fieldNames
              .map(n => in.fieldNames.indexOf(n))
            require(dataIdx.forall(_ >= 0),
              s"graft-manifest row-level write schema ${in.fieldNames
                .mkString(",")} is missing table columns " +
                tableSchema.fieldNames.mkString(","))
            val extras = in.fieldNames.zipWithIndex
              .filterNot { case (_, i) => dataIdx.contains(i) }
            val meta = Set("_file", "_pos", "_row_id",
              "_last_updated_version")
            require(extras.forall(e => meta.contains(e._1)),
              s"graft-manifest row-level write schema carries unexpected " +
                s"columns: ${extras.map(_._1).mkString(",")}")
            val ridAt = in.fieldNames.indexOf("_row_id")
            val luvAt = in.fieldNames.indexOf("_last_updated_version")
            new RowLevelMetaAdapter(inner, tableSchema, dataIdx, ridAt,
              luvAt)
          }
        }
      }
    }

  private def lineage: Boolean = head.lineage

  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val base = Array(
      org.apache.spark.sql.connector.expressions.Expressions.column("_file"))
    if (lineage)
      base ++ Array(
        org.apache.spark.sql.connector.expressions.Expressions.column("_row_id"),
        org.apache.spark.sql.connector.expressions.Expressions
          .column("_last_updated_version"))
    else base
  }
}

/** Adapts a COW rewrite whose data rows carry folded-in metadata
  * columns (the WHERE referenced one) back to the writer's split
  * contract: project the table columns, hand `_row_id` /
  * `_last_updated_version` through the 2-arg meta channel. `_file` /
  * `_pos` are positional bookkeeping of the SOURCE file — the rewrite
  * assigns fresh ones, so they drop. */
private[sources] class RowLevelMetaAdapter(
    inner: BatchWrite, tableSchema: StructType, dataIdx: Array[Int],
    ridAt: Int, luvAt: Int) extends BatchWrite {
  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo):
      org.apache.spark.sql.connector.write.DataWriterFactory = {
    val f = inner.createBatchWriterFactory(info)
    val dts = tableSchema.fields.map(_.dataType)
    val di = dataIdx
    val (ra, la) = (ridAt, luvAt)
    new org.apache.spark.sql.connector.write.DataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long):
          org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
        val d = f.createWriter(partitionId, taskId)
        new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
          private val meta = new org.apache.spark.sql.catalyst
            .expressions.GenericInternalRow(3)
          private val data = new org.apache.spark.sql.catalyst
            .expressions.GenericInternalRow(di.length)
          override def write(r: InternalRow): Unit = {
            var i = 0
            while (i < di.length) {
              data.update(i,
                if (r.isNullAt(di(i))) null else r.get(di(i), dts(i)))
              i += 1
            }
            meta.update(0, null)
            meta.update(1,
              if (ra < 0 || r.isNullAt(ra)) null
              else java.lang.Long.valueOf(r.getLong(ra)))
            meta.update(2,
              if (la < 0 || r.isNullAt(la)) null
              else java.lang.Integer.valueOf(r.getInt(la)))
            d.write(meta, data)
          }
          override def commit():
              org.apache.spark.sql.connector.write.WriterCommitMessage =
            d.commit()
          override def abort(): Unit = d.abort()
          override def close(): Unit = d.close()
        }
      }
    }
  }
  override def commit(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    inner.commit(messages)
  override def abort(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    inner.abort(messages)
  override def useCommitCoordinator(): Boolean =
    inner.useCommitCoordinator()
}

private[sources] case class FileCommitted(name: String, rows: Long,
    bytes: Long = -1L, stats: Seq[(Int, ManifestFiles.ColStats)] = Nil,
    bucket: Int = -1,
    // (physical position, desc, nullsLast) of the sort key this file was
    // VERIFIED ordered on — the commit marks it `#sorted`
    sorted: Option[(Int, Boolean, Boolean)] = None,
    // struct LEAF stats, keyed by dotted position paths (round 12)
    nestedStats: Seq[(String, ManifestFiles.ColStats)] = Nil,
    // per-file HLL registers for declared stats.ndv.columns, keyed by
    // PHYSICAL position (round 14 — ManifestNdv)
    ndv: Seq[(Int, Array[Byte])] = Nil,
    // per-file histogram samples for declared stats.histogram.columns
    // (round 15 — ManifestHist): (physical pos, (sorted sample, nonNull))
    hist: Seq[(Int, (Array[Double], Long))] = Nil,
    // row lineage: this file carries a materialized `_rid` column
    // (rewrite output) — the commit marks it `#ridcol`
    ridCol: Boolean = false,
    // and a materialized `_luv` column — the commit marks it `#luvcol`
    luvCol: Boolean = false)
  extends WriterCommitMessage

/** A partition-split task's commit: one staged file per partition value
  * the task saw (days/months/identity layouts). */
private[sources] case class FilesCommitted(files: Seq[FileCommitted])
  extends WriterCommitMessage

/** A governed table's declared write behaviour, derived from its
  * `#tableconf` lines by ONE function that every write route calls
  * (batch / copy-on-write, streaming epochs, merge-on-read inserts,
  * compaction), so a declaration cannot
  * reach one route and miss another. Schema indices throughout:
  *   - `partSpec`: (index, kind) per declared days/months/identity/…
  *     transform, in declared order — the task splits its rows into
  *     one staged file per composite partition value;
  *   - `checks`: bound CHECK constraints (see ManifestChecks);
  *   - `ndvPos`: stats.ndv.columns ∪ stats.histogram.columns — each
  *     tracks a per-file HLL (ManifestNdv);
  *   - `histPos`: stats.histogram.columns — each tracks a per-file
  *     sample (ManifestHist);
  *   - `shred`: declared variant.shred paths as (index of the variant
  *     column, spec index for the synthetic #stats position, JSON path,
  *     typed extraction domain) — see ManifestShred.
  * Declared bloom columns ride the task conf instead (see [[WriteSpec.of]]). */
private[sources] final case class WriteSpec(
    partSpec: Seq[(Int, String)],
    checks: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)],
    ndvPos: Array[Int],
    histPos: Array[Int],
    shred: Array[(Int, Int, String, DataType)])

private[sources] object WriteSpec {
  /** The write spec of `lines` against the write's `schema`. Sets the
    * declared bloom columns on `conf` (physical `c<pos>` names, the
    * parquet writer's column identifiers), so call it driver-side
    * before the conf ships to the tasks. A row-preserving `maintenance`
    * rewrite re-lands rows that already committed and evaluates no
    * CHECK — the same "existing rows are not retro-validated" rule
    * ADD CONSTRAINT follows. */
  def of(decl: ManifestSnapshot, schema: StructType, conf: Configuration,
      maintenance: Boolean): WriteSpec = {
    ManifestParquet.setBloomCols(conf, decl.bloom)
    def indices(positions: Seq[Int]): Array[Int] =
      positions.flatMap(ManifestFiles.fieldAtPhys(schema, _)).toArray
    val hist = decl.hist
    WriteSpec(
      partSpec = decl.partConfs.flatMap { case (pos, kind) =>
        ManifestFiles.fieldAtPhys(schema, pos).map(idx => (idx, kind)) },
      checks =
        if (maintenance) Seq.empty
        else ManifestChecks.bind(SparkSession.active, schema,
          decl.checks),
      // histogram columns track NDV sketches too: catalyst's
      // FilterEstimation refuses a histogram without count stats
      // (hasCountStats), so a histogram-only declaration would never fire
      ndvPos = indices((decl.ndv ++ hist).distinct),
      histPos = indices(hist),
      shred = ManifestShred.writerSpecs(decl.shred, schema))
  }
}

private[sources] class ManifestBatchWrite(path: String, queryId: String,
    failPartition: Int, schema: StructType, truncate: Boolean,
    conf: SerializableHadoopConf,
    // the table's declared write behaviour, derived by the planner from
    // the same head read it planned the layout from (a staged REPLACE
    // derives it from the NEW DDL's lines)
    spec: WriteSpec,
    // Row-level COPY_ON_WRITE: entries the operation's scan planned are
    // dropped from the previous snapshot and replaced by this commit's
    // fresh files (evaluated at commit time, after the scan executed).
    // Old versions keep referencing the dropped files — time travel
    // still reads the pre-image.
    dropFromPrevious: () => Set[String] = () => Set.empty,
    // Some(state) on a replacing commit: the #dels/#eqdels lines of the
    // snapshot the operation SCANNED — the claim closure validates the
    // rewrite against concurrent commits (see below)
    scannedDeleteState: () => Option[Set[String]] = () => None,
    // (colPos, n) when this write was bucket-clustered — each commit
    // message's partitionId IS the file's bucket id.
    bucketSpec: Option[(Int, Int)] = None,
    // column position the write demanded an in-partition sort on; the
    // task writer VERIFIES monotonicity as rows stream and only then
    // marks the file `#sorted` (trust but verify — a planner change that
    // dropped the sort would degrade ordering, never corrupt it)
    sortPos: Option[(Int, Boolean, Boolean)] = None,
    // DDL `#tableconf` lines to guarantee in the committed snapshot
    // (appends inherit them from the predecessor; truncate must re-emit)
    confLines: Array[String] = Array.empty,
    // write-audit-publish: commit onto this branch's chain, not main's
    branch: Option[String] = None,
    // CDC upsert (equality deletes): schema indices of the key columns;
    // the commit lands `#eqdels` lines BEFORE this batch's entries
    upsertKeys: Seq[Int] = Seq.empty,
    // change-typed upsert: incoming-row index of the `_change_type`
    // marker, right after the data columns (-1 = every row inserts; see
    // ManifestEqDeletes.tee)
    typeIdx: Int = -1,
    // staged REPLACE TABLE: the truncate drops the OLD #tableconf lines
    // (confLines carries the new DDL's) instead of preserving them
    replaceConf: Boolean = false,
    // staged CREATE (atomic CTAS): this commit must BE version 1 — a
    // concurrent CREATE that claimed first aborts this one loudly
    // instead of silently merging two tables
    requireFresh: Boolean = false,
    // row lineage via the COW metadata channel (write(meta, row))
    ridFromMeta: Boolean = false) extends BatchWrite {

  // Per-job staging namespace: concurrent writes (or an overlapping retry
  // of another job) can never see or delete each other's in-flight files.
  private val stagingName = s".staging-$queryId"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new ManifestWriterFactory(path, stagingName, schema, conf, spec,
      failPartition = failPartition, recordBucket = bucketSpec.isDefined,
      sortPos = sortPos, upsertKeys = upsertKeys.toArray, typeIdx = typeIdx,
      ridFromMeta = ridFromMeta)

  // Driver-side, exactly once, only after EVERY task committed: publish.
  // Each commit is a VERSION: append merges the predecessor snapshot's
  // entries, truncate (mode("overwrite")) starts from empty. Versioning
  // and concurrency live in ManifestFiles.publishSnapshot — optimistic
  // rebase: the claim loop re-reads the predecessor on every retry, so
  // concurrent committers merge rather than overwrite each other (no
  // lost updates; spec: ManifestConcurrencySpec). Readers of "latest"
  // see either the old or the new complete snapshot, never a mix;
  // version readers see immutable files.
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    val staging = new Path(dir, stagingName)
    val landed = ManifestWriters.landTasks(fs, dir, staging, messages,
      schema, upsertKeys, bucketSpec)
    val drop = dropFromPrevious()
    val scanState = scannedDeleteState()
    // The base snapshot is supplied by publishSnapshot's claim loop (the
    // immediate predecessor version, re-read on every retry), so a
    // concurrent committer's files are never lost from the merge.
    ManifestFiles.publishSnapshotV(fs, conf.value, dir, (prev, version) => {
      val previous = prev.lines
      require(!requireFresh || (previous.isEmpty && version == 1),
        s"graft-manifest at $path: a concurrent committer published a " +
          "version while this CREATE TABLE AS SELECT was staging — " +
          "aborting instead of appending to someone else's table")
      // WRITE-CONFLICT VALIDATION for replacing commits (the COW twin of
      // the MOR guard in ManifestDelta): (a) every file this rewrite
      // replaces must still be listed — a concurrent rewrite/compaction
      // of the same file would otherwise DOUBLE its surviving rows (both
      // rewrites land) and resurrect the winner's deletions; (b) no
      // delete state (#dels vectors, #eqdels upsert sets) may have
      // landed since the scan — the rewrite was computed without it, and
      // rewrite files are born past an eqdel's version, so committing
      // anyway would resurrect concurrently-deleted rows. Blind APPENDS
      // racing a row-level op stay fine (their files are neither dropped
      // nor delete state) — snapshot-isolation semantics, matching
      // Delta's WriteSerializable and Iceberg's overwrite validation.
      if (drop.nonEmpty) {
        val gone = drop -- prev.names
        if (gone.nonEmpty) throw new IllegalStateException(
          s"graft-manifest at $path: this row-level operation rewrites " +
            s"${gone.size} file(s) a concurrent commit already rewrote " +
            s"or removed (e.g. ${gone.head}); retry the operation " +
            "against the current snapshot")
      }
      // delete-state validation runs for EVERY commit that declared a
      // scanned state
      scanState.foreach { known =>
        val newState = previous.filter(l => l.startsWith("#dels,") ||
          l.startsWith("#eqdels,")).filterNot(known)
        if (newState.nonEmpty) throw new IllegalStateException(
          s"graft-manifest at $path: a concurrent commit landed new " +
            s"row-level delete state (e.g. ${newState.head}) after " +
            "this operation's scan — committing the rewrite would " +
            "resurrect those deleted rows; retry the operation " +
            "against the current snapshot")
      }
      // DDL intent (#tableconf) persists until DROP TABLE: truncation
      // replaces the DATA, not the declared layout — and a branch's
      // fork-point marker (#branchbase) must survive both shapes, or
      // fast_forward loses its divergence check. The row-id high-water
      // mark (#tableconf,rowidnext) survives even a CREATE OR REPLACE
      // that drops every other conf line: ids already handed to readers
      // must never be re-minted for different rows, and a replacement
      // that re-declares row.lineage would otherwise restart from 0.
      val base =
        if (truncate) previous.filter(l =>
          ((!replaceConf || l.startsWith("#tableconf,rowidnext,")) &&
            l.startsWith("#tableconf,") &&
            // a truncating rewrite replaces EVERY byte at the current
            // type — the narrow-history widening markers clear with it
            !l.startsWith("#tableconf,widened,")) ||
            l.startsWith("#branchbase,"))
        else previous.filterNot(line => ManifestSink.entryName(line).exists(drop))
      val conf0 = confLines.filterNot(base.contains)
      conf0 ++ base ++ landed(prev, version)
    }, schema, branch, basis = if (truncate) None else Some(schema))
    fs.delete(staging, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    dir.getFileSystem(conf.value)
      .delete(new Path(dir, stagingName), true)
  }
}

/** Task-side staged data-file writers and the driver-side landing step
  * shared by every governed-table write route. Files are parquet (real
  * columnar storage through Spark's ParquetWriteSupport, see
  * ManifestParquet); staged names end in `.parquet.tmp`. Min/max/null
  * counts stream through the SAME canonical ordering the skip
  * evaluator uses. */
private[sources] object ManifestWriters {

  /** Open one task's writer — the helper every route calls: one staged
    * file, or a partition-splitting writer when `spec` declares a
    * layout; then the CHECK wrapper; then the equality-delete tee for
    * upserts, outermost so a change-typed 'delete' row reaches neither
    * the CHECKs nor the file. Staged names derive from `prefix`:
    * `<prefix>.parquet.tmp`, split files `<prefix>-s<n>.parquet.tmp`, the
    * delete file `<prefix>.eqdel.tmp`. */
  def task(path: String, stagingName: String, prefix: String,
      schema: StructType, conf: SerializableHadoopConf, spec: WriteSpec,
      injectFailure: Boolean = false,
      // >= 0 on a bucketed write: the task's bucket id, recorded by every
      // file it lands (split files too — a mixed bucket + transform
      // layout lands files pure on both dimensions)
      bucket: Int = -1,
      sortPos: Option[(Int, Boolean, Boolean)] = None,
      // CDC upsert key indices — tee the rows' key tuples into a delete
      // file (see ManifestEqDeletes.tee)
      upsertKeys: Array[Int] = Array.empty, typeIdx: Int = -1,
      ridIdx: Int = -1, ridFromMeta: Boolean = false,
      luvIdx: Int = -1): DataWriter[InternalRow] = {
    def file(name: String): DataWriter[InternalRow] =
      create(path, stagingName, name, schema, conf, spec, injectFailure,
        bucket, sortPos, ridIdx, ridFromMeta, luvIdx)
    val base =
      if (spec.partSpec.isEmpty) file(s"$prefix.parquet.tmp")
      else new PartitionSplitWriter(
        spec.partSpec.map { case (idx, kind) =>
          (idx, kind, schema(idx).dataType) },
        seq => file(s"$prefix-s$seq.parquet.tmp"))
    val checked = ManifestChecks.wrap(base, spec.checks, schema)
    if (upsertKeys.isEmpty) checked
    else ManifestEqDeletes.tee(checked, schema, upsertKeys, typeIdx, path,
      stagingName, s"$prefix.eqdel.tmp", conf)
  }

  /** Move a staged file to its final name (the `.tmp` suffix dropped). */
  def rename(fs: FileSystem, dir: Path, staging: Path, tmp: String): String = {
    val fin = tmp.stripSuffix(".tmp")
    require(fs.rename(new Path(staging, tmp), new Path(dir, fin)),
      s"staged file $tmp vanished before commit")
    fin
  }

  /** Land one staged data file: its entry line plus the `#stats`,
    * `#ndv`, `#hist`, `#ridcol`, `#luvcol`, `#bucket` (on a bucketed
    * write's (position, n)) and `#sorted` riders. */
  def land(fs: FileSystem, dir: Path, staging: Path, m: FileCommitted,
      bucketSpec: Option[(Int, Int)] = None): Seq[String] = {
    val fin = rename(fs, dir, staging, m.name)
    Seq(s"$fin,${m.rows}",
      ManifestFiles.statsLine(fin, m.bytes, m.stats, m.nestedStats)) ++
      (if (m.ndv.nonEmpty) Seq(ManifestNdv.line(fin, m.ndv)) else Nil) ++
      (if (m.hist.nonEmpty) Seq(ManifestHist.line(fin, m.hist)) else Nil) ++
      (if (m.ridCol) Seq(ManifestFiles.ridColLine(fin)) else Nil) ++
      (if (m.luvCol) Seq(ManifestFiles.luvColLine(fin)) else Nil) ++
      bucketSpec.map { case (pos, n) =>
        ManifestFiles.bucketLine(fin, pos, n, m.bucket) } ++
      m.sorted.map { case (pos, desc, nullsLast) =>
        ManifestFiles.sortedLine(fin, pos, desc, nullsLast) }
  }

  /** The data files of one batch or streaming task's commit message. */
  def filesOf(m: WriterCommitMessage): Seq[FileCommitted] = m match {
    case f: FileCommitted => Seq(f)
    case FilesCommitted(files) => files // partition-split task
    case ManifestEqDeletes.UpsertCommitted(inner, _, _) => filesOf(inner)
  }

  /** Land a batch or streaming commit: the upsert tees' staged
    * equality-delete files, then every data file. Returns the lines to
    * add, rendered inside the claim closure where the attempted version
    * is known: `#eqdels` (explicit sequencing — see ManifestEqDeletes),
    * the fresh entries with their riders, and `#born` marks. */
  def landTasks(fs: FileSystem, dir: Path, staging: Path,
      messages: Array[WriterCommitMessage], schema: StructType,
      upsertKeys: Seq[Int], bucketSpec: Option[(Int, Int)] = None):
      (ManifestSnapshot, Int) => Array[String] = {
    val eqdelFins = messages.collect {
      case ManifestEqDeletes.UpsertCommitted(_, Some(tmp), _) =>
        rename(fs, dir, staging, tmp)
    }
    val files = messages.flatMap(filesOf)
    val fresh = files.flatMap(land(fs, dir, staging, _, bucketSpec))
    val freshNames = files.map(_.name.stripSuffix(".tmp"))
    val eqPositions = upsertKeys.map(k =>
      ManifestFiles.physPos(schema, k)).mkString(";")
    (previous, version) => {
      val eqdels = eqdelFins.map(f => s"#eqdels,$f,$eqPositions,$version")
      // merge-on-read tables mark every entry's BIRTH version so later
      // equality deletes can scope around it; elsewhere the marker is
      // dead weight and stays absent
      val born: Array[String] =
        if (previous.mergeOnRead || eqdelFins.nonEmpty)
          freshNames.map(n => ManifestFiles.bornLine(n, version))
        else Array.empty
      eqdels ++ fresh ++ born
    }
  }

  private def create(path: String, stagingName: String, name: String,
      schema: StructType, conf: SerializableHadoopConf, spec: WriteSpec,
      injectFailure: Boolean, bucket: Int,
      sortPos: Option[(Int, Boolean, Boolean)],
      // row lineage REWRITE: index in the incoming row holding the
      // carried `_row_id` (after the data columns); >= 0 materializes it
      // into the file's `_rid` column and marks the commit `#ridcol`
      ridIdx: Int,
      // row lineage through COPY-ON-WRITE row-level plans: Spark's
      // DataAndMetadataWritingSparkTask delivers each row's projected
      // METADATA row through the two-argument `write(metadata, row)` —
      // our requiredMetadataAttributes order puts `_row_id` at slot 1
      // (after `_file`) and `_last_updated_version` at slot 2; true
      // materializes both exactly like ridIdx/luvIdx
      ridFromMeta: Boolean,
      // `_last_updated_version` carry: index in the incoming row (after
      // the data columns and the carried `_row_id`); >= 0 materializes
      // it into the file's `_luv` column and marks the commit `#luvcol`
      luvIdx: Int): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val ndvPos = spec.ndvPos
      private val histPos = spec.histPos
      private val shred = spec.shred
      private val file = new Path(new Path(path, stagingName), name)
      private val fs: FileSystem = file.getFileSystem(conf.value)
      private val withRid = ridIdx >= 0 || ridFromMeta
      private val withLuv = luvIdx >= 0 || ridFromMeta
      // opened on the FIRST row, so a task that receives none lands no
      // file — no entry, `#stats` or `#born` line either
      private var pqOut: org.apache.parquet.hadoop.ParquetWriter[InternalRow] =
        null
      // projection [data columns…, carried _row_id, carried _luv] → the
      // writer's (stored schema + _rid [+ _luv]) layout
      private val ridProj: org.apache.spark.sql.catalyst.ProjectingInternalRow =
        if (ridIdx < 0) null
        else org.apache.spark.sql.catalyst.ProjectingInternalRow(
          StructType((schema.fields :+
            org.apache.spark.sql.types.StructField("_rid", LongType,
              nullable = true)) ++
            (if (luvIdx >= 0)
              Seq(org.apache.spark.sql.types.StructField("_luv",
                org.apache.spark.sql.types.IntegerType, nullable = true))
             else Seq.empty)),
          ((0 until schema.length) :+ ridIdx) ++
            (if (luvIdx >= 0) Seq(luvIdx) else Seq.empty))
      private var closed = false
      private var rows = 0L
      private val attempt = org.apache.spark.TaskContext.get().attemptNumber()

      // Per-column stats tracked AS ROWS STREAM THROUGH (no second pass):
      // null counts here, min/max in the column's canonical comparison
      // domain through specialized per-column trackers (no boxing/Option/
      // type-dispatch per value — see ManifestColTrackers). Raw bounds are
      // `String.valueOf` of the field (the `#stats` codec).
      private val nulls = new Array[Long](schema.length)
      private val colTrackers: Array[ManifestColTrackers.Tracker] =
        schema.fields.map(f => ManifestColTrackers.forType(f.dataType))

      // NESTED LEAF stats (round 12): orderable leaves reachable through
      // STRUCTS get their own bounds, keyed by dotted position paths —
      // (storage key, getStruct steps as (ordinal, numFields), leaf
      // ordinal, leaf type). A null struct anywhere on the path counts
      // as a null leaf (what a row predicate would see).
      private val leaves: Array[(String, Array[(Int, Int)], Int, DataType)] = {
        val buf = scala.collection.mutable.ArrayBuffer
          .empty[(String, Array[(Int, Int)], Int, DataType)]
        def walk(st: StructType, keyPrefix: String,
            steps: List[(Int, Int)]): Unit =
          st.fields.zipWithIndex.foreach { case (f, i) =>
            f.dataType match {
              case inner: StructType =>
                walk(inner, s"$keyPrefix.$i", steps :+ (i -> inner.length))
              case dt if ManifestSkip.statsCapable(dt) =>
                buf += ((s"$keyPrefix.$i", steps.toArray, i, dt))
              case _ => () // arrays/maps: no stable leaf identity
            }
          }
        schema.indices.foreach { i =>
          schema(i).dataType match {
            case st0: StructType =>
              walk(st0, ManifestFiles.physPos(schema, i).toString,
                List(i -> st0.length))
            case _ => ()
          }
        }
        buf.toArray
      }
      private val leafNulls = new Array[Long](leaves.length)
      private val leafTrackers: Array[ManifestColTrackers.Tracker] =
        leaves.map(l => ManifestColTrackers.forType(l._4))

      private def trackLeaves(r: InternalRow): Unit = {
        var li = 0
        while (li < leaves.length) {
          val (_, steps, ord, _) = leaves(li)
          var cur = r
          var si = 0
          while (si < steps.length && cur != null) {
            val (o, n) = steps(si)
            cur = if (cur.isNullAt(o)) null else cur.getStruct(o, n)
            si += 1
          }
          if (cur == null || cur.isNullAt(ord)) leafNulls(li) += 1
          else leafTrackers(li).add(cur, ord)
          li += 1
        }
      }
      // declared-NDV sketches: one register set per tracked column
      private val ndvRegs: Array[Array[Byte]] =
        Array.fill(ndvPos.length)(ManifestNdv.emptyRegisters())
      // monomorphic accessors, dispatched once per column (round 17 —
      // the ManifestColTrackers pattern applied to sketch maintenance)
      private val ndvHash: Array[(InternalRow, Int) => Long] =
        ndvPos.map(i => ManifestNdv.hashGetter(schema(i).dataType))

      private val histTrackers: Array[ManifestHist.Tracker] =
        Array.fill(histPos.length)(new ManifestHist.Tracker)
      private val histGet: Array[(InternalRow, Int) => Double] =
        histPos.map(i => ManifestHist.doubleGetter(schema(i).dataType))

      // VARIANT SHREDDING (round 16 — ManifestShred): one bound
      // variant_get per declared path, evaluated per row with
      // failOnError so a file whose data would THROW at query time
      // records NO stats (skipping must never swallow an error); a
      // missing path / true null counts as null, exactly what the
      // query's comparison sees
      private val shredEvals:
          Array[org.apache.spark.sql.catalyst.expressions.Expression] =
        shred.map { case (idx, _, path, dt) =>
          org.apache.spark.sql.catalyst.expressions.variant.VariantGet(
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              idx, org.apache.spark.sql.types.VariantType, nullable = true),
            org.apache.spark.sql.catalyst.expressions.Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(path),
              StringType),
            dt, failOnError = true, timeZoneId = Some("UTC"))
        }
      private val shredNulls = new Array[Long](shred.length)
      private val shredTrackers: Array[ManifestColTrackers.Tracker] =
        shred.map(s => ManifestColTrackers.forType(s._4))
      // the extracted value, reused as the trackers' one-slot row
      private val shredSlot =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      private val shredDirty = new Array[Boolean](shred.length)

      private def trackShred(r: InternalRow): Unit = {
        var si = 0
        while (si < shred.length) {
          if (!shredDirty(si)) {
            val v = try shredEvals(si).eval(r)
              catch { case _: Exception => shredDirty(si) = true; null }
            if (!shredDirty(si)) {
              if (v == null) shredNulls(si) += 1
              else {
                shredSlot.update(0, v)
                shredTrackers(si).add(shredSlot, 0)
              }
            }
          }
          si += 1
        }
      }

      private def trackHist(r: InternalRow): Unit = {
        var hi = 0
        while (hi < histPos.length) {
          val i = histPos(hi)
          if (!r.isNullAt(i))
            histTrackers(hi).add(histGet(hi)(r, i))
          hi += 1
        }
      }

      private def trackNdv(r: InternalRow): Unit = {
        var ni = 0
        while (ni < ndvPos.length) {
          val i = ndvPos(ni)
          if (!r.isNullAt(i))
            ManifestNdv.add(ndvRegs(ni), ndvHash(ni)(r, i))
          ni += 1
        }
      }

      // sortedBy verification: rows must arrive non-decreasing in the
      // sort column (nulls first, matching ASC NULLS FIRST) for the file
      // to earn its `#sorted` mark
      private var sortedOk = sortPos.isDefined
      private var prevSortKey: Any = _
      private var seenNonNullSortKey = false
      private var seenNullSortKey = false

      // carried-id holder for the COW metadata path: [data…] ++ [rid]
      private val ridHolder =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
      private val metaJoined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow

      /** COW row-level plans (ReplaceData with metadata attrs): `meta`
        * is the [_file, _row_id, _last_updated_version] projection of
        * this row — materialize slot 1 as the file's `_rid` (NULL for
        * MERGE-inserted rows, which later resolve to the file's own
        * fresh range) and slot 2 as `_luv` (NULLIFIED by Spark's
        * preserve-on-update seam for UPDATED rows, which resolve to
        * this commit's version). */
      override def write(meta: InternalRow, r: InternalRow): Unit =
        if (!ridFromMeta || meta == null || meta.numFields < 2) write(r)
        else {
          ridHolder.update(0,
            if (meta.isNullAt(1)) null
            else java.lang.Long.valueOf(meta.getLong(1)))
          ridHolder.update(1,
            if (meta.numFields < 3 || meta.isNullAt(2)) null
            else java.lang.Integer.valueOf(meta.getInt(2)))
          writeRow(r, metaJoined(r, ridHolder))
        }

      override def write(r: InternalRow): Unit =
        writeRow(r,
          if (ridIdx >= 0) { ridProj.project(r); ridProj }
          else if (ridFromMeta) {
            // no metadata delivered for this row: mint-at-read semantics
            ridHolder.update(0, null)
            ridHolder.update(1, null)
            metaJoined(r, ridHolder)
          } else r)

      private def writeRow(r: InternalRow, out: InternalRow): Unit = {
        if (injectFailure && attempt == 0 && rows == 2)
          throw new RuntimeException("injected write failure")
        var i = 0
        while (i < schema.length) {
          if (r.isNullAt(i)) nulls(i) += 1
          else {
            val t = colTrackers(i)
            if (t != null) t.add(r, i)
          }
          i += 1
        }
        if (pqOut == null) pqOut = ManifestParquet.createWriter(file, schema,
          conf.value, withRid = withRid, withLuv = withLuv)
        pqOut.write(out)
        if (leaves.nonEmpty) trackLeaves(r)
        if (ndvPos.nonEmpty) trackNdv(r)
        if (histPos.nonEmpty) trackHist(r)
        if (shred.nonEmpty) trackShred(r)
        sortPos.foreach { case (p, desc, nullsLast) =>
          if (sortedOk) {
            if (r.isNullAt(p)) {
              // NULLS FIRST: a null after any non-null breaks order;
              // NULLS LAST: nulls may only form the tail
              if (!nullsLast && seenNonNullSortKey) sortedOk = false
              seenNullSortKey = true
            } else {
              if (nullsLast && seenNullSortKey) sortedOk = false
              val v = ManifestSkip.normalize(schema(p).dataType,
                r.get(p, schema(p).dataType)) match {
                case Some(u: org.apache.spark.unsafe.types.UTF8String) => u.clone()
                case Some(other) => other
                case None => null
              }
              if (v == null) sortedOk = false // unorderable type
              else {
                if (seenNonNullSortKey) {
                  val c = ordered(prevSortKey, v)
                  if (if (desc) c < 0 else c > 0) sortedOk = false
                }
                prevSortKey = v
                seenNonNullSortKey = true
              }
            }
          }
        }
        rows += 1
      }

      // the ONE canonical comparator — shared with the skip evaluator so
      // recorded min/max and evaluated bounds can never order differently
      private def ordered(a: Any, b: Any): Int = ManifestSkip.cmp(a, b)

      private def closeOut(): Unit = if (!closed) {
        closed = true
        if (pqOut != null) pqOut.close()
      }

      override def commit(): WriterCommitMessage = {
        closeOut()
        if (pqOut == null) return FilesCommitted(Nil)
        val bytes = fs.getFileStatus(file).getLen
        // Non-orderable columns (arrays / binary / structs) have no
        // tracker and get NO stats entry: bounds are meaningless and a
        // (nulls, absent, absent) record would collide with the all-null
        // pattern. Absent stats = never skipped, the format's standing
        // conservative contract.
        val stats = schema.indices.filter(colTrackers(_) != null).map(i =>
          ManifestFiles.physPos(schema, i) -> colTrackers(i).stats(nulls(i)))
        val shredStats = shred.indices.collect {
          case si if !shredDirty(si) =>
            (ManifestShred.PosBase + shred(si)._2) ->
              shredTrackers(si).stats(shredNulls(si))
        }
        val nested = leaves.indices.map(li =>
          leaves(li)._1 -> leafTrackers(li).stats(leafNulls(li)))
        val ndv = ndvPos.indices.map(ni =>
          ManifestFiles.physPos(schema, ndvPos(ni)) -> ndvRegs(ni))
        val hist = histPos.indices.collect {
          case hi if !histTrackers(hi).isEmpty =>
            ManifestFiles.physPos(schema, histPos(hi)) ->
              histTrackers(hi).result()
        }
        FileCommitted(name, rows, bytes, stats ++ shredStats, bucket,
          sortPos.filter(_ => sortedOk).map { case (p, desc, nullsLast) =>
            (ManifestFiles.physPos(schema, p), desc, nullsLast) },
          nested, ndv, hist, ridCol = withRid, luvCol = withLuv)
      }
      override def abort(): Unit = {
        try closeOut() catch { case _: Exception => }
        fs.delete(file, false)
      }
      override def close(): Unit = closeOut()
    }
}

/** Task-writer factory of the batch AND streaming routes — they differ
  * only by the staged-name prefix: streaming prefixes the epoch, so
  * retried epochs never collide with committed files and abort's
  * per-epoch sweep can select them. */
private[sources] class ManifestWriterFactory(path: String, stagingName: String,
    schema: StructType, conf: SerializableHadoopConf, spec: WriteSpec,
    failPartition: Int = -1,
    // bucketed write: the task's partitionId IS its bucket id (the
    // required distribution pinned partitioning to pmod(murmur3(col), n))
    recordBucket: Boolean = false,
    sortPos: Option[(Int, Boolean, Boolean)] = None,
    upsertKeys: Array[Int] = Array.empty,
    typeIdx: Int = -1,
    // row lineage via the COW metadata channel
    ridFromMeta: Boolean = false)
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    open(f"part-$partitionId%05d-$taskId", partitionId)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    open(f"part-e$epochId-$partitionId%05d-$taskId", partitionId)

  private def open(prefix: String, partitionId: Int): DataWriter[InternalRow] =
    ManifestWriters.task(path, stagingName, prefix, schema, conf, spec,
      injectFailure = partitionId == failPartition,
      bucket = if (recordBucket) partitionId else -1,
      sortPos = sortPos, upsertKeys = upsertKeys, typeIdx = typeIdx,
      ridFromMeta = ridFromMeta)
}

/** Partition-splitting task writer for days/months/identity layouts:
  * routes each row to the staged file of its partition value, opening
  * writers on demand. The write's required RANGE distribution +
  * in-partition sort mean values arrive clustered, so in practice one
  * file is open at a time and the per-task file count is the number of
  * distinct values the task's range covers — at 100 TB a day-laid
  * INSERT lands ~one file per day regardless of parallelism, which is
  * exactly the layout `DELETE WHERE ts < cutoff` needs to stay
  * metadata-only. Rows with a NULL partition value get their own file.
  * Each inner writer is the standard staged writer `newFile(n)` opens
  * for the task's n-th value (stats, payload, abort semantics all
  * shared); rows arrive ordered (partition cols, sort cols), so each
  * file streams ordered on a declared sort key and earns its own
  * verified `#sorted` mark. The task's commit message carries every
  * file it produced. */
private[sources] class PartitionSplitWriter(
    specs: Seq[(Int, String, DataType)],
    newFile: Int => DataWriter[InternalRow])
    extends DataWriter[InternalRow] {

  private val writers = scala.collection.mutable
    .LinkedHashMap.empty[List[Long], DataWriter[InternalRow]]
  private val NullKey = Long.MinValue
  private val specsArr = specs.toArray

  /** Partition key of a row on ONE transform column: days/months map
    * the temporal value to its day/month index (timestamps via floorDiv
    * so pre-epoch values land in the right day); identity keys
    * numerics/dates directly and strings/other orderables via a stable
    * hash (the key only routes rows to files — the VALUE-pure file's
    * stats are what proofs use, so hash collisions merely co-locate two
    * values in one file, which is still a correct, slightly weaker
    * layout). Composite layouts route on the List of per-column keys. */
  private def keyAt(row: InternalRow, colIdx: Int, kind: String,
      dt: DataType): Long = {
    if (row.isNullAt(colIdx)) return NullKey
    val dayOf: Long = dt match {
      case DateType => row.getInt(colIdx).toLong
      case TimestampType | TimestampNTZType =>
        Math.floorDiv(row.getLong(colIdx), 86400000000L)
      case _ => 0L
    }
    kind match {
      // the ONE shared transform math (also the catalog's V2 function
      // and the scan's group derivation — three consumers, one formula)
      case "hours" =>
        GraftTimeTransformFunction.hourOf(row.getLong(colIdx)).toLong
      case k if GraftTimeTransformFunction.TimeKinds(k) =>
        GraftTimeTransformFunction.dayOf(k, dayOf).toLong
      case k if GraftTruncateFunction.widthOf(k).isDefined =>
        val w = GraftTruncateFunction.widthOf(k).get
        dt match {
          case LongType => GraftTruncateFunction.truncLong(w, row.getLong(colIdx))
          case IntegerType =>
            GraftTruncateFunction.truncLong(w, row.getInt(colIdx).toLong)
          // routing key only — the file's own stats prove the layout, so
          // a hash collision merely co-locates two prefixes (still
          // correct, the scan degrades that group)
          case StringType => GraftTruncateFunction
            .truncStr(w, row.getUTF8String(colIdx)).hashCode.toLong
          case _ => 0L
        }
      case _ => dt match { // identity
        case LongType => row.getLong(colIdx)
        case IntegerType => row.getInt(colIdx).toLong
        case ShortType => row.getShort(colIdx).toLong
        case ByteType => row.getByte(colIdx).toLong
        case DateType => row.getInt(colIdx).toLong
        case TimestampType | TimestampNTZType => row.getLong(colIdx)
        case BooleanType => if (row.getBoolean(colIdx)) 1L else 0L
        case StringType => row.getUTF8String(colIdx).hashCode.toLong
        case DoubleType =>
          java.lang.Double.hashCode(row.getDouble(colIdx)).toLong
        case FloatType => java.lang.Float.hashCode(row.getFloat(colIdx)).toLong
        case d: DecimalType =>
          row.getDecimal(colIdx, d.precision, d.scale).hashCode.toLong
        case _ => 0L // unreachable: DDL requires an orderable primitive
      }
    }
  }

  private def key(row: InternalRow): List[Long] =
    specsArr.map { case (i, k, dt) => keyAt(row, i, k, dt) }.toList

  private def writerFor(row: InternalRow): DataWriter[InternalRow] =
    writers.getOrElseUpdate(key(row), newFile(writers.size))

  override def write(row: InternalRow): Unit = writerFor(row).write(row)

  // COW metadata channel (row lineage): route by the DATA row, forward
  // the metadata row to the inner writer — the default 1-arg fallback
  // would silently drop every carried id
  override def write(meta: InternalRow, row: InternalRow): Unit =
    writerFor(row).write(meta, row)

  override def commit(): WriterCommitMessage =
    FilesCommitted(writers.values.toSeq.flatMap(w =>
      ManifestWriters.filesOf(w.commit())))

  override def abort(): Unit = writers.values.foreach { w =>
    try w.abort() catch { case _: Exception => }
  }

  override def close(): Unit = writers.values.foreach(_.close())
}

/** STREAMING write half: each epoch is one snapshot commit with
  * EXACTLY-ONCE dedup via a `#txn,<queryId>,<epoch>` marker line that
  * rides the atomically-claimed version file (Delta's SetTransaction
  * idea — there is no crash window between "data visible" and "epoch
  * recorded", they are the same file). A replayed epoch (restart from
  * an older checkpoint state, task-level retry storm) sees its marker
  * in the predecessor snapshot and cleans up its staged files instead
  * of double-committing. Append output mode only. */
private[sources] class ManifestStreamingWrite(path: String, queryId: String,
    schema: StructType, conf: SerializableHadoopConf,
    // 24/7 WRITE-AUDIT-PUBLISH: a stream staged on a branch keeps main
    // clean while an auditor periodically fast_forwards the vetted
    // prefix; the `#txn` exactly-once markers ride the branch chain
    branch: Option[String] = None,
    // streaming CDC upsert: key indices for the equality-delete tee —
    // each epoch's delete file applies to every PRIOR epoch's rows
    upsertKeys: Seq[Int] = Seq.empty)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val stagingName = s".staging-$queryId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // declared days/months/identity layout: each micro-batch's tasks
    // split output per partition value, so streamed history keeps
    // retention deletes metadata-only. Without a demanded distribution
    // the per-epoch file count is tasks × values touched this epoch —
    // for time layouts an epoch usually touches one or two days, so the
    // cost stays near one file per task.
    // One read per epoch of the chain the epoch commits onto, so a
    // running stream picks up ALTERed write behaviour.
    val head = ManifestSnapshot.latest(
      new Path(path).getFileSystem(conf.value), new Path(path), branch)
    new ManifestWriterFactory(path, stagingName, schema, conf,
      WriteSpec.of(head, schema, conf.value, maintenance = false),
      upsertKeys = upsertKeys.toArray)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    val staging = new Path(dir, stagingName)
    val already = ManifestSnapshot.latest(fs, dir, branch)
      .committedEpoch(queryId).exists(_ >= epochId)
    if (already) {
      def sweep(m: WriterCommitMessage): Unit = m match {
        case f: FileCommitted =>
          fs.delete(new Path(staging, f.name), false)
        case FilesCommitted(files) => files.foreach(sweep)
        case ManifestEqDeletes.UpsertCommitted(inner, del, _) =>
          sweep(inner)
          del.foreach(d => fs.delete(new Path(staging, d), false))
      }
      messages.foreach(sweep)
      return
    }
    val landed = ManifestWriters.landTasks(fs, dir, staging, messages,
      schema, upsertKeys)
    ManifestFiles.publishSnapshotV(fs, conf.value, dir, (previous, version) =>
      previous.lines.filterNot(_.startsWith(s"#txn,$queryId,")) ++
        landed(previous, version) :+ s"#txn,$queryId,$epochId",
      schema, branch, basis = Some(schema))
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    val staging = new Path(dir, stagingName)
    if (fs.exists(staging)) fs.listStatus(staging).foreach { st =>
      if (st.getPath.getName.startsWith(s"part-e$epochId-"))
        fs.delete(st.getPath, false)
    }
  }
}
