package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.types._

/** The ONE map between a governed table's TBLPROPERTIES and its
  * `#tableconf` lines. Every supported key is one [[Key]]:
  *   - `owns` picks the lines the key's value lives in;
  *   - `encode` parses and validates a value against the schema and the
  *     table's current lines and returns the key's lines (`None` is the
  *     key's default — what UNSET means);
  *   - `decode` renders the lines back into the value `load` surfaces
  *     (`None` = the default, not surfaced).
  *
  * CREATE and the staged CREATE/REPLACE fold their properties over the
  * declared layout lines ([[create]], [[replace]]); ALTER applies its
  * SET/UNSET changes to the claim's predecessor lines ([[alter]]: drop
  * the lines a key owns, append the encoded ones); the catalog's `load`
  * calls [[decode]]. Cross-key rules run once, on the resulting line
  * set ([[crossCheck]]). Partition transforms from `PARTITIONED BY` and
  * the `partition.layout` string share one validator ([[partSpec]]).
  * See docs/MANIFEST_FORMAT.md for the table of keys. */
private[sources] object ManifestTableProps {

  private final case class Key(name: String, owns: String => Boolean,
      encode: (StructType, Array[String], Option[String]) => Seq[String],
      decode: (StructType, ManifestSnapshot) => Option[String])

  private val CheckPrefix = "check."

  /** `''` and `'none'` clear a list-valued key, like UNSET. */
  private def cleared(v: Option[String]): Option[String] =
    v.map(_.trim).filterNot(s => s.isEmpty || s == "none")

  private def joined(names: Seq[String]): Option[String] =
    Some(names.mkString(",")).filter(_.nonEmpty)

  /** A column-list key (bloom, NDV, histogram columns): one line of
    * physical positions; `why(dt)` names why a type is refused. */
  private def columnList(name: String, line: Seq[Int] => String,
      read: ManifestSnapshot => Seq[Int], why: DataType => Option[String]): Key = {
    val prefix = line(Nil)
    Key(name, _.startsWith(prefix),
      (schema, _, v) => cleared(v).toSeq.flatMap { cs =>
        val positions = cs.split(",").map(_.trim).filter(_.nonEmpty).map { c =>
          require(schema.fieldNames.contains(c),
            s"$name column '$c' not in ${schema.fieldNames.mkString(",")}")
          val i = schema.fieldIndex(c)
          why(schema(i).dataType).foreach(w => throw new IllegalArgumentException(
            s"$name column '$c' has type ${schema(i).dataType.simpleString}, $w"))
          ManifestFiles.physPos(schema, i)
        }
        if (positions.isEmpty) Nil else Seq(line(positions.toSeq))
      },
      (schema, snap) => joined(read(snap)
        .flatMap(ManifestFiles.fieldAtPhys(schema, _)).map(schema(_).name)))
  }

  /** A one-line switch key: `on` is the value that lands `line`, `off`
    * the default that removes it. */
  private def switch(name: String, line: String, on: String, off: String): Key =
    Key(name, _ == line,
      (_, _, v) => v.map(_.trim).getOrElse(off) match {
        case `on` => Seq(line)
        case `off` => Nil
        case other => throw new IllegalArgumentException(
          s"$name must be '$off' or '$on', got '$other'")
      },
      (_, snap) => if (snap.raw.contains(line)) Some(on) else None)

  private val Keys: Seq[Key] = Seq(
    switch("delete.mode", ManifestFiles.MergeOnReadLine,
      on = "merge-on-read", off = "copy-on-write"),
    columnList("bloom.columns", ManifestFiles.bloomLine,
      _.bloom, _ => None),
    columnList("stats.ndv.columns", ManifestFiles.ndvConfLine,
      _.ndv, dt =>
        if (ManifestNdv.capable(dt)) None else Some("which has no stable sketch identity")),
    columnList("stats.histogram.columns", ManifestFiles.histConfLine,
      _.hist, dt =>
        if (ManifestHist.capable(dt)) None
        else Some("which has no histogram domain (numeric/temporal only)")),
    // surviving paths keep their synthetic #stats index across
    // re-declarations, and the high-water line outlives a clear (see
    // ManifestShred.reindex)
    Key("variant.shred",
      l => l.startsWith("#tableconf,shred,") || l.startsWith(ManifestShred.NextPrefix),
      (schema, lines, v) => {
        val (specs, next) = ManifestShred.reindex(lines,
          cleared(v).toSeq.flatMap(ManifestShred.parseDecl(schema, _)))
        if (specs.isEmpty && next == 0) Nil
        else ManifestShred.confLines(specs) :+ ManifestShred.nextLine(next)
      },
      (schema, snap) => joined(snap.shred.flatMap { sp =>
        ManifestFiles.fieldAtPhys(schema, sp.pos).map(i =>
          s"${schema(i).name}:${sp.path}:" + ManifestShred.typeName(sp.dt))
      })),
    switch("row.lineage", ManifestFiles.LineageLine, on = "true", off = "false"),
    Key("write.sort-order", _.startsWith("#tableconf,sortorder,"),
      (schema, _, v) => cleared(v).toSeq.map(cs =>
        ManifestFiles.sortOrderLine(parseSortOrder(schema, cs))),
      (schema, snap) => joined(snap.sortKeys.flatMap { k =>
        ManifestFiles.fieldAtPhys(schema, k.pos).map { i =>
          schema(i).name + (if (k.desc) " DESC" else "") +
            (if (k.nullsLast != k.desc)
               (if (k.nullsLast) " NULLS LAST" else " NULLS FIRST")
             else "")
        }
      })),
    Key("write.distribution-mode", _ == ManifestFiles.DistModeRangeLine,
      (_, _, v) => v.map(_.trim).getOrElse("none") match {
        case "range" => Seq(ManifestFiles.DistModeRangeLine)
        case "none" | "" => Nil
        case other => throw new IllegalArgumentException(
          s"write.distribution-mode must be 'none' or 'range', got '$other'")
      },
      (_, snap) => if (snap.distModeRange) Some("range") else None),
    Key("partition.layout", _.startsWith("#tableconf,part,"),
      (schema, _, v) => partLines(schema,
        cleared(v).toSeq.flatMap(layoutTokens).map { case (kind, c) =>
          partSpec(schema, kind, c) }),
      (schema, snap) => {
        val specs = snap.partConfs
        val named = specs.flatMap { case (pos, kind) =>
          ManifestFiles.fieldAtPhys(schema, pos).map(i =>
            GraftTruncateFunction.widthOf(kind) match {
              case Some(w) => s"truncate($w ${schema(i).name})"
              case None => s"$kind(${schema(i).name})"
            })
        }
        // all-or-nothing: a half-resolved layout must not surface
        if (named.length == specs.length) joined(named) else None
      }))

  /** CHECK constraints are a key family: `check.<name>`. */
  private def checkKey(n: String): Key =
    Key(CheckPrefix + n, _.startsWith(s"#tableconf,check,$n,"),
      (schema, _, v) => v.toSeq.map { txt =>
        ManifestChecks.validate(SparkSession.active, schema, n, txt)
        ManifestFiles.checkLine(n, txt)
      },
      (_, snap) => snap.checks.collectFirst {
        case (`n`, txt) => txt })

  private def keyOf(k: String): Option[Key] =
    if (k.startsWith(CheckPrefix)) Some(checkKey(k.stripPrefix(CheckPrefix)))
    else Keys.find(_.name == k)

  def supports(k: String): Boolean = keyOf(k).isDefined

  /** Every supported key, for messages that list them. */
  def keyNames: Seq[String] = Keys.map(_.name) :+ s"$CheckPrefix<name>"

  /** `lines` with each (key, value) change applied in order — `None`
    * sets the key's default — then the cross-key rules. Validation runs
    * against `lines`, so inside a claim it sees the predecessor. */
  def alter(schema: StructType, lines: Array[String],
      changes: Seq[(String, Option[String])]): Array[String] = {
    val after = changes.foldLeft(lines) { case (ls, (k, v)) =>
      val key = keyOf(k).getOrElse(throw new UnsupportedOperationException(
        s"unsupported table property '$k' — supported: ${keyNames.mkString(", ")}"))
      ls.filterNot(key.owns) ++ key.encode(schema, ls, v)
    }
    crossCheck(lines, after, changes.map(_._1).toSet)
  }

  /** A fresh table's `#tableconf` lines: the `PARTITIONED BY` layout,
    * then every supported property in key order (CHECKs by name).
    * Other properties (Spark's own owner/comment/provider …) are not
    * table configuration and pass untouched. */
  def create(schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): Array[String] = {
    val layout = fromTransforms(schema, partitions)
    ManifestParquet.requireFormat(Option(properties.get("format")))
    val props = properties.asScala
    val checks = props.keys.filter(_.startsWith(CheckPrefix)).toSeq.sorted
    val lines = alter(schema, layout, (Keys.map(_.name) ++ checks)
      .flatMap(k => props.get(k).map(v => k -> Some(v))))
    val declared = ManifestSnapshot.ofLines(layout).partConfs
    require(declared.isEmpty || ManifestSnapshot.ofLines(lines).partConfs == declared,
      "PARTITIONED BY and TBLPROPERTIES('partition.layout') declare " +
        "different partition layouts")
    lines
  }

  /** A staged REPLACE's lines: the properties over no layout. A
    * replaced layout is refused like REPLACE's partition transforms. */
  def replace(schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): Array[String] = {
    require(partitions.isEmpty && !properties.containsKey("partition.layout"),
      "REPLACE TABLE with partition transforms is not supported — " +
        "CREATE a new table and ALTER TABLE RENAME it into place")
    create(schema, partitions, properties)
  }

  /** The properties `load` surfaces for `snap`, plus the bucket layout
    * the write path clusters on (`bucketBy`/`buckets`/`sortedBy`). */
  def decode(schema: StructType, snap: ManifestSnapshot): Seq[(String, String)] =
    (Keys ++ snap.checks.map(c => checkKey(c._1)))
      .flatMap(k => k.decode(schema, snap).map(k.name -> _)) ++
      snap.tableConf.toSeq.flatMap { case (pos, n, sp) =>
        ManifestFiles.fieldAtPhys(schema, pos).toSeq.flatMap { i =>
          Seq("bucketBy" -> schema(i).name, "buckets" -> n.toString) ++
            sp.flatMap(ManifestFiles.fieldAtPhys(schema, _))
              .map(s => "sortedBy" -> schema(s).name)
        }
      }

  /** The rules that span keys, on the line set a change produces:
    *   - range distribution needs a sort order, and clearing the sort
    *     order clears range mode;
    *   - a bucket-laid table takes no sort order and no re-declared
    *     partition layout (bucket and time/identity layouts declared
    *     together only through `PARTITIONED BY`);
    *   - row lineage can only be enabled. */
  private def crossCheck(before: Array[String], after: Array[String],
      touched: Set[String]): Array[String] = {
    val (was, now) = (ManifestSnapshot.ofLines(before), ManifestSnapshot.ofLines(after))
    val bucketLaid = now.tableConf.isDefined
    require(!bucketLaid || now.sortKeys.isEmpty,
      "write.sort-order conflicts with a bucket layout — sorted " +
        "buckets are declared via the layout's own sort slot " +
        "(option(\"sortedBy\", col))")
    require(!bucketLaid || !touched("partition.layout"),
      "partition.layout cannot be set on a bucket-laid table " +
        "(bucket and time/identity layouts are exclusive)")
    require(!was.lineage || now.lineage,
      "row.lineage can only be enabled ('true'); ids already handed " +
        "to readers cannot be revoked")
    if (!now.distModeRange || now.sortKeys.nonEmpty) after
    else {
      require(!touched("write.distribution-mode"),
        "write.distribution-mode=range needs a declared " +
          "write.sort-order — there is nothing to range-distribute on")
      after.filterNot(_ == ManifestFiles.DistModeRangeLine)
    }
  }

  /** `write.sort-order` value → sort keys (validated: live columns,
    * orderable primitives, no duplicates). Grammar per key:
    * `col [ASC|DESC] [NULLS FIRST|NULLS LAST]` — Iceberg's sort-order
    * surface; direction defaults ASC, null placement defaults to the
    * direction's SQL pairing. */
  private def parseSortOrder(schema: StructType,
      cs: String): Seq[ManifestFiles.SortKey] = {
    val keys = cs.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { spec =>
      val toks = spec.split("\\s+").toList
      val c = toks.head
      val (desc, rest) = toks.tail.map(_.toLowerCase) match {
        case "desc" :: r => (true, r)
        case "asc" :: r => (false, r)
        case r => (false, r)
      }
      val nullsLast = rest match {
        case Nil => desc
        case List("nulls", "first") => false
        case List("nulls", "last") => true
        case _ => throw new IllegalArgumentException(
          s"write.sort-order: cannot parse '$spec' — use " +
            "'col [ASC|DESC] [NULLS FIRST|NULLS LAST]'")
      }
      require(schema.fieldNames.contains(c),
        s"write.sort-order column '$c' not in ${schema.fieldNames.mkString(",")}")
      require(ManifestSkip.statsCapable(schema(c).dataType),
        s"write.sort-order needs orderable primitive columns — " +
          s"'$c' is ${schema(c).dataType.sql}")
      ManifestFiles.SortKey(
        ManifestFiles.physPos(schema, schema.fieldIndex(c)), desc, nullsLast)
    }
    require(keys.nonEmpty, "write.sort-order must name at least one column")
    require(keys.map(_.pos).distinct.length == keys.length,
      "duplicate column in write.sort-order")
    keys
  }

  // ---- partition transforms ---------------------------------------------

  /** One partition transform of `kind` on column `col`, validated
    * against the schema: (physical position, `#tableconf,part` kind).
    * The one check behind `PARTITIONED BY` and `partition.layout`. */
  private def partSpec(schema: StructType, kind: String,
      col: String): (Int, String) = {
    require(schema.fieldNames.contains(col),
      s"partition column '$col' not in ${schema.fieldNames.mkString(",")}")
    val dt = schema(col).dataType
    GraftTruncateFunction.widthOf(kind) match {
      case Some(w) =>
        require(w >= 1, s"truncate width must be >= 1, got $w")
        require(dt == LongType || dt == IntegerType || dt == StringType,
          s"truncate supports BIGINT/INT/STRING columns, got ${dt.sql}")
      case None if kind == "identity" =>
        require(ManifestSkip.statsCapable(dt),
          s"identity partitioning needs an orderable primitive " +
            s"column, got ${dt.sql}")
      case None =>
        require(GraftTimeTransformFunction.TimeKinds(kind),
          s"unknown partition transform '$kind'")
        require(dt == TimestampType || dt == TimestampNTZType ||
            (dt == DateType && kind != "hours"),
          s"$kind() needs a TIMESTAMP${if (kind == "hours") ""
            else " or DATE"} column, got ${dt.sql}")
    }
    (ManifestFiles.physPos(schema, schema.fieldIndex(col)), kind)
  }

  private def partLines(schema: StructType,
      specs: Seq[(Int, String)]): Seq[String] = {
    specs.groupBy(_._1).collectFirst { case (pos, g) if g.length > 1 =>
      throw new IllegalArgumentException("duplicate partition transform on " +
        s"column ${ManifestFiles.fieldAtPhys(schema, pos).map(schema(_).name)
          .getOrElse(pos.toString)}")
    }
    specs.map { case (pos, kind) => ManifestFiles.partConfLine(pos, kind) }
  }

  /** `partition.layout` tokens → (kind, column), unvalidated:
    * `days(col)`/`months`/`years`/`hours`, `truncate(<w> <col>)` (layout
    * strings are comma-split, so width and column separate on
    * whitespace), `identity(col)` or a bare `col`. */
  private def layoutTokens(v: String): Seq[(String, String)] =
    v.split(",").map(_.trim).toSeq.map { token =>
      val timeKind = GraftTimeTransformFunction.TimeKinds.find(k =>
        token.startsWith(s"$k(") && token.endsWith(")"))
      token match {
        case s if timeKind.isDefined =>
          val k = timeKind.get
          (k, s.stripPrefix(s"$k(").stripSuffix(")").trim)
        case s if s.startsWith("truncate(") && s.endsWith(")") =>
          val ps = s.stripPrefix("truncate(").stripSuffix(")").trim.split("\\s+")
          require(ps.length == 2 && ps(0).toIntOption.exists(_ >= 1),
            s"truncate spec '$s' — use truncate(<w> <col>)")
          (GraftTruncateFunction.kindOf(ps(0).toInt), ps(1))
        case s if s.startsWith("identity(") && s.endsWith(")") =>
          ("identity", s.stripPrefix("identity(").stripSuffix(")").trim)
        case s if !s.contains("(") => ("identity", s)
        case s => throw new IllegalArgumentException(
          s"partition.layout transform '$s' — use days(col), " +
            "months(col), years(col), hours(col), " +
            "truncate(<w> <col>), identity(col)/col, or 'none'")
      }
    }

  /** DECLARED layout transforms → the bucket line and the
    * time/identity/truncate `#tableconf,part` lines IN DECLARED ORDER;
    * the write side splits task output so each data file holds one
    * COMPOSITE partition value (see ManifestWriters) —
    * `PARTITIONED BY (days(ts), region)` lands day+region-pure files, so
    * a retention delete on either dimension stays metadata-only and two
    * identically-laid tables storage-partition-join on the composite
    * key. MIXED specs may add ONE `bucket(n, col)`: the write clusters
    * tasks by bucket and splits files by the remaining transforms —
    * files land pure on BOTH. */
  private def fromTransforms(schema: StructType,
      partitions: Array[Transform]): Array[String] = {
    def litInt(t: Transform): Option[Int] = t.arguments.collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value.toString.toInt
    }
    def colOf(t: Transform): String =
      t.references.headOption.map(_.fieldNames.mkString("."))
        .getOrElse(throw new IllegalArgumentException(
          s"malformed ${t.name} transform: $t"))
    def width(t: Transform): Int = litInt(t).getOrElse(
      throw new IllegalArgumentException(s"malformed ${t.name} transform: $t"))
    val (buckets, parts) = partitions.toSeq.partition(_.name == "bucket")
    require(buckets.length <= 1, "at most one bucket(n, col) transform")
    val bucket = buckets.map { t =>
      val c = colOf(t)
      require(schema.fieldNames.contains(c),
        s"partition column '$c' not in ${schema.fieldNames.mkString(",")}")
      require(schema(c).dataType == LongType,
        s"bucket supports BIGINT columns, got ${schema(c).dataType.sql}")
      ManifestFiles.tableConfLine(
        ManifestFiles.physPos(schema, schema.fieldIndex(c)), width(t), None)
    }
    bucket.toArray ++ partLines(schema, parts.map { t =>
      t.name match {
        case k if GraftTimeTransformFunction.TimeKinds(k) || k == "identity" =>
          partSpec(schema, k, colOf(t))
        case "truncate" =>
          partSpec(schema, GraftTruncateFunction.kindOf(width(t)), colOf(t))
        case other => throw new UnsupportedOperationException(
          "graft-manifest supports PARTITIONED BY lists of days/months/" +
            "years/hours(ts), truncate(w, col), identity (col), plus at " +
            s"most one bucket(n, col); got $other")
      }
    })
  }

  /** The declared layout as Spark transforms (DESCRIBE, SHOW CREATE),
    * from the properties `decode` surfaced. */
  def transforms(properties: JMap[String, String]): Array[Transform] = {
    val bucket = for {
      c <- Option(properties.get("bucketBy"))
      n <- Option(properties.get("buckets"))
    } yield Expressions.bucket(n.toInt, c)
    val part = Option(properties.get("partition.layout")).toSeq
      .flatMap(layoutTokens).map { case (kind, c) =>
        GraftTruncateFunction.widthOf(kind) match {
          case Some(w) => Expressions.apply("truncate",
            Expressions.literal(Integer.valueOf(w)), Expressions.column(c))
          case None => kind match {
            case "days" => Expressions.days(c)
            case "months" => Expressions.months(c)
            case "years" => Expressions.years(c)
            case "hours" => Expressions.hours(c)
            case _ => Expressions.identity(c)
          }
        }
      }
    (bucket.toSeq ++ part).toArray
  }
}
