package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** MERGE-ON-READ row-level operations for the manifest format (round 11;
  * the DSv2 `SupportsDelta` seam — the delta-based half of the row-level
  * story Iceberg v2 ships as positional delete files; the group-based
  * COPY_ON_WRITE half lives in ManifestSink.scala):
  *
  *   - the row identity is `(_file, _pos)` — the manifest entry a row
  *     came from and its ordinal in that file (both served as metadata
  *     columns by the readers);
  *   - a DELETE writes a tiny DELETE FILE of `(dataFile, ordinal)` pairs
  *     instead of rewriting the data file: the commit adds a
  *     `#dels,<name>` line to the snapshot and touches NOTHING else —
  *     at 100 TB this turns "delete 100 rows" from a multi-GB file
  *     rewrite into a few-KB metadata append;
  *   - UPDATE and MERGE updates split into delete + insert
  *     (`representUpdateAsDeleteAndInsert`): deleted ordinals land in
  *     the delete file, replacement/new rows land in fresh data files
  *     through the SAME staged writers and write spec as any append
  *     (stats, payload, two-phase commit, CHECKs, NDV/histogram
  *     sketches, shredded-variant stats and bloom filters all shared;
  *     only the partition split is skipped — see
  *     ManifestDeltaOperation.newWriteBuilder);
  *   - scans apply delete files at plan time (`ManifestScan.deleteMap` →
  *     per-partition sorted ordinals, skipped as rows stream); `CALL
  *     compact` MATERIALIZES deletes — the rewrite reads through the
  *     scan and publishes a clean snapshot with no `#dels` lines;
  *     `vacuum` keeps delete files referenced by retained versions;
  *     incremental/streaming reads FAIL LOUDLY across a delete (a
  *     file-level tail cannot see row removals — Delta's default).
  *
  * Enable per table: `CREATE TABLE cat.t (…)
  * TBLPROPERTIES('delete.mode'='merge-on-read')` — persisted as a
  * `#tableconf,deletemode,merge-on-read` line, surviving truncate like
  * every DDL intent. Copy-on-write remains the default.
  */
private[sources] class ManifestDeltaOperation(
    cmd: RowLevelOperation.Command, path: String, tableSchema: StructType,
    head: ManifestSnapshot)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-manifest MERGE_ON_READ $cmd $path"

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    // Unlike COPY_ON_WRITE, stats skipping is safe here: a skipped file
    // simply contributes no (file, pos) pairs — there is no "commit
    // drops exactly the planned files" coupling to poison.
    new ManifestScanBuilder(path, None, tableSchema,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()))

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"),
      org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))

  // lineage decides the update representation and the metadata columns
  private def lineage: Boolean = head.lineage

  /** ROW LINEAGE through merge-on-read updates: with lineage on, an
    * UPDATE stays an UPDATE (not delete+insert), so `update(metadata,
    * id, row)` receives the target row's [_file, _row_id] metadata and
    * the replacement row lands in a `#ridcol` file CARRYING the id —
    * the same stable-identity contract the COW path keeps. Without
    * lineage the delete+insert representation stays (no plan churn). */
  override def representUpdateAsDeleteAndInsert(): Boolean = !lineage

  override def requiredMetadataAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (lineage)
      Array(
        org.apache.spark.sql.connector.expressions.Expressions.column("_file"),
        org.apache.spark.sql.connector.expressions.Expressions.column("_row_id"))
    else Array.empty

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new DeltaWrite {
        override def toBatch: DeltaBatchWrite = {
          val schema = if (tableSchema.nonEmpty) tableSchema else info.schema()
          val conf = new SerializableHadoopConf(
            SparkSession.active.sessionState.newHadoopConf())
          // Insert files land UNSPLIT on a partitioned table: the delta
          // write requests no clustered distribution, so splitting would
          // open one file per partition value in every task.
          val spec = WriteSpec.of(head, schema, conf.value,
            maintenance = false).copy(partSpec = Seq.empty)
          new ManifestDeltaBatchWrite(path, info.queryId(), schema, conf,
            spec, carryRowIds = lineage)
        }
      }
    }
}

private[sources] case class DeltaCommitted(
    data: Seq[FileCommitted], delFile: Option[String], delRows: Long)
  extends WriterCommitMessage

/** Driver half: rename staged data + delete files, publish ONE snapshot
  * appending the fresh data entries (with stats) and the `#dels` marker
  * lines. Nothing is ever dropped from the predecessor — that is the
  * whole point of merge-on-read. */
private[sources] class ManifestDeltaBatchWrite(path: String, queryId: String,
    schema: StructType, conf: SerializableHadoopConf, spec: WriteSpec,
    // row lineage: updates carry their target row's id into `#ridcol`
    // insert files (see ManifestDeltaOperation.requiredMetadataAttributes)
    carryRowIds: Boolean = false) extends DeltaBatchWrite {

  private val stagingName = s".staging-$queryId"

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new ManifestDeltaWriterFactory(path, stagingName, schema, conf, spec,
      carryRowIds = carryRowIds)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    val staging = new Path(dir, stagingName)
    val fresh = messages.flatMap { case DeltaCommitted(data, del, _) =>
      data.flatMap(ManifestWriters.land(fs, dir, staging, _)) ++
        del.map(d => s"#dels,${ManifestWriters.rename(fs, dir, staging, d)}")
    }
    // Data files the staged delete vectors point INTO (the Iceberg
    // RowDelta validation): read once driver-side — delete files are
    // KB-scale (file, ordinal) pair lists.
    val referenced: Set[String] = fresh.filter(_.startsWith("#dels,"))
      .map(_.split(",", 2)(1))
      .flatMap(dn => ManifestFiles.readManifest(fs, new Path(dir, dn))
        .map(l => l.substring(0, l.lastIndexOf(','))))
      .toSet
    val freshNames = fresh.filterNot(_.startsWith("#"))
      .map(l => l.substring(0, l.lastIndexOf(',')))
    ManifestFiles.publishSnapshotV(fs, conf.value, dir, (previous, version) => {
      // A concurrent compact / COPY_ON_WRITE rewrite landing between our
      // MOR scan and this commit drops the files these ordinals index —
      // appending the vectors anyway would silently no-op them and the
      // deleted rows would resurface. Fail the commit (user retries
      // against the rewritten snapshot) instead of losing the delete.
      val gone = referenced -- previous.names
      if (gone.nonEmpty) throw new IllegalStateException(
        s"graft-manifest at $path: merge-on-read commit references " +
          s"${gone.size} data file(s) a concurrent commit rewrote or " +
          s"removed (e.g. ${gone.head}); retry the operation against " +
          "the current snapshot")
      // MOR insert files mark their birth version — a later equality
      // delete must not swallow rows an UPDATE re-landed after it
      previous.lines ++ fresh ++
        freshNames.map(n => ManifestFiles.bornLine(n, version))
    }, schema, basis = Some(schema))
    fs.delete(staging, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    dir.getFileSystem(conf.value).delete(new Path(dir, stagingName), true)
  }
}

private[sources] class ManifestDeltaWriterFactory(path: String,
    stagingName: String, schema: StructType,
    conf: SerializableHadoopConf,
    // the table's write spec, as every route applies it: a merge-on-read
    // UPDATE/MERGE can insert brand-new rows, so CHECKs validate them,
    // and insert files carry the declared sketches, shred stats and
    // blooms — or CBO's forall-coverage gate would silently suppress
    // distinctCount after the first upsert
    spec: WriteSpec,
    // row lineage: update() carries the target row's [_file, _row_id]
    // metadata into a second, `#ridcol` insert file
    carryRowIds: Boolean = false)
    extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      // Inserts stream through the SAME staged data writer any append
      // uses (stats tracking, parquet payload, abort semantics shared);
      // opened lazily — a pure DELETE task writes no data file at all.
      private var dataWriter: DataWriter[InternalRow] = _
      private def data(): DataWriter[InternalRow] = {
        if (dataWriter == null)
          dataWriter = ManifestWriters.task(path, stagingName,
            f"part-$partitionId%05d-$taskId", schema, conf, spec)
        dataWriter
      }
      // UPDATE legs on a lineage table: replacement rows land in their
      // own `#ridcol` file, the carried id materialized (the metadata
      // row is [_file, _row_id] — exactly the 2-arg writer's contract)
      private var updWriter: DataWriter[InternalRow] = _
      private def upd(): DataWriter[InternalRow] = {
        if (updWriter == null)
          updWriter = ManifestWriters.task(path, stagingName,
            f"part-u$partitionId%05d-$taskId", schema, conf, spec,
            ridFromMeta = true)
        updWriter
      }
      // Deleted (file, ordinal) pairs stage as a tiny line file.
      private val delName = f"delete-$partitionId%05d-$taskId.del.tmp"
      private var delOut: java.io.PrintWriter = _
      private var delRows = 0L
      private def del(): java.io.PrintWriter = {
        if (delOut == null) {
          val f = new Path(new Path(path, stagingName), delName)
          delOut = new java.io.PrintWriter(
            f.getFileSystem(conf.value).create(f, true))
        }
        delOut
      }

      override def insert(row: InternalRow): Unit = data().write(row)

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        // id fields arrive in rowId() order: (_file string, _pos long)
        del().println(s"${id.getUTF8String(0)},${id.getLong(1)}")
        delRows += 1
      }

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        delete(meta, id)
        // lineage (representUpdateAsDeleteAndInsert=false): the target
        // row's [_file, _row_id] metadata rides into the replacement —
        // identity survives the update, exactly like the COW path
        if (carryRowIds && meta != null && meta.numFields >= 2)
          upd().write(meta, row)
        else insert(row)
      }

      override def commit(): WriterCommitMessage = {
        val dataMsg = Seq(Option(dataWriter), Option(updWriter)).flatten
          .flatMap(w => ManifestWriters.filesOf(w.commit()))
        if (delOut != null) delOut.close()
        DeltaCommitted(dataMsg,
          if (delRows > 0) Some(delName) else {
            // an opened-but-empty delete file is dropped at task level
            if (delOut != null) {
              val f = new Path(new Path(path, stagingName), delName)
              f.getFileSystem(conf.value).delete(f, false)
            }
            None
          }, delRows)
      }

      override def abort(): Unit = {
        if (dataWriter != null) dataWriter.abort()
        if (updWriter != null) updWriter.abort()
        if (delOut != null) {
          delOut.close()
          val f = new Path(new Path(path, stagingName), delName)
          f.getFileSystem(conf.value).delete(f, false)
        }
      }

      override def close(): Unit = {
        if (dataWriter != null) dataWriter.close()
        if (updWriter != null) updWriter.close()
        if (delOut != null) delOut.close()
      }
    }
}
