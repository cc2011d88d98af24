package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** GOVERNED VIEWS (round 14): view definitions stored as versioned
  * metadata in the catalog root — a view `v` is a directory holding a
  * `_VIEW.v<N>` chain, claimed through the same rename-if-absent loop
  * snapshots use, so CREATE OR REPLACE is one atomic commit, concurrent
  * CREATEs race loudly (exactly one claim lands), and old definitions
  * remain readable (`VERSION AS OF` on the VIEW resolves the definition
  * that was current at that version). This is the modern twin of the
  * reference's session-catalog-only views
  * (`sql/core/.../command/views.scala` in the 2.1 fork — definitions
  * there live in a metastore and have no history); Iceberg's view
  * metadata files are the contemporary equivalent.
  *
  * Spark 4.1 ships the `ViewCatalog` interface but no engine consumer
  * yet (verified: nothing in catalyst/sql references it), so
  * GraftManifestCatalog implements the STANDARD interface for API
  * clients and future engine versions, while today's SQL surface rides
  * two seams of our own: `CALL cat.system.create_view/drop_view/...`
  * for DDL, and a resolution rule (plans/GovernedViews.scala) that
  * expands `SELECT ... FROM cat.v` from the stored definition.
  *
  * File format (one field per line, Base64 payloads — the SQL text may
  * contain anything):
  * {{{
  *   #view,1
  *   #sql,<b64 sql>
  *   #curcat,<b64 catalog>            current catalog at create time
  *   #curns,<b64 comma-joined>        current namespace at create time
  *   #schema,<b64 StructType.json>
  *   #qcol,<b64 name>                 repeated, ordered
  *   #alias,<b64 name>                repeated, ordered
  *   #comment,<b64 text or ->         repeated, ordered (- = null)
  *   #prop,<b64 key>,<b64 value>      repeated
  * }}}
  */
object ManifestViews {

  final case class ViewDef(sql: String, currentCatalog: String,
      currentNamespace: Array[String], schema: StructType,
      queryColumnNames: Array[String], columnAliases: Array[String],
      columnComments: Array[String],
      properties: Map[String, String])

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  def encode(d: ViewDef): Array[String] =
    Array("#view,1",
      s"#sql,${b64(d.sql)}",
      s"#curcat,${b64(d.currentCatalog)}",
      s"#curns,${b64(d.currentNamespace.mkString(","))}",
      s"#schema,${b64(d.schema.json)}") ++
      d.queryColumnNames.map(n => s"#qcol,${b64(n)}") ++
      d.columnAliases.map(n => s"#alias,${b64(n)}") ++
      d.columnComments.map(c => s"#comment,${if (c == null) "-" else b64(c)}") ++
      d.properties.toSeq.sortBy(_._1).map { case (k, v) =>
        s"#prop,${b64(k)},${b64(v)}"
      }

  def decode(lines: Array[String]): ViewDef = {
    require(lines.headOption.contains("#view,1"),
      s"not a graft view definition (header ${lines.headOption})")
    def one(tag: String): String = lines
      .collectFirst { case l if l.startsWith(s"#$tag,") =>
        unb64(l.substring(tag.length + 2)) }
      .getOrElse(throw new IllegalStateException(s"view missing #$tag"))
    def many(tag: String): Array[String] = lines
      .filter(_.startsWith(s"#$tag,")).map(_.substring(tag.length + 2))
    ViewDef(
      sql = one("sql"),
      currentCatalog = one("curcat"),
      currentNamespace =
        one("curns").split(",").filter(_.nonEmpty),
      schema = DataType.fromJson(one("schema")).asInstanceOf[StructType],
      queryColumnNames = many("qcol").map(unb64),
      columnAliases = many("alias").map(unb64),
      columnComments = many("comment").map(c => if (c == "-") null else unb64(c)),
      properties = lines.filter(_.startsWith("#prop,")).map { l =>
        val p = l.split(",", 3)
        unb64(p(1)) -> unb64(p(2))
      }.toMap)
  }

  def versions(fs: FileSystem, dir: Path): Seq[Int] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_VIEW.v"))
      .flatMap(_.stripPrefix("_VIEW.v").toIntOption)

  def exists(fs: FileSystem, dir: Path): Boolean = versions(fs, dir).nonEmpty

  def read(fs: FileSystem, dir: Path, version: Option[Int]): ViewDef = {
    val vs = versions(fs, dir)
    val v = version.getOrElse(
      if (vs.isEmpty) 0 else vs.max)
    require(vs.contains(v),
      s"no view version $v at $dir (have: ${vs.sorted.mkString(",")})")
    decode(ManifestFiles.readManifest(fs, new Path(dir, s"_VIEW.v$v")))
  }

  /** Claim the next `_VIEW.v<N>` through the snapshot claim loop
    * ([[ManifestFiles.claim]] under the directory's view lock).
    * `expectFresh = true` (CREATE) refuses when ANY version exists —
    * re-checked on every attempt under the lock, so exactly one CREATE
    * wins and the loser fails loudly. Returns the landed version. */
  def publish(fs: FileSystem, dir: Path, d: ViewDef,
      expectFresh: Boolean): Int = {
    if (!fs.exists(dir)) fs.mkdirs(dir)
    ManifestFiles.withClaimLock(dir, "view") {
      ManifestFiles.claim(fs, dir, (0 +: versions(fs, dir)).max + 1,
          v => s"_VIEW.v$v") { v =>
        if (expectFresh && v > 1)
          throw new IllegalStateException(
            s"view at $dir already exists (versions " +
              s"${versions(fs, dir).sorted.mkString(",")}) — CREATE OR " +
              "REPLACE to evolve it")
        ((encode(d).mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8), Nil)
      }._1
    }
  }
}
