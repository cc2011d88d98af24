package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** INCREMENTAL MATERIALIZED VIEWS over governed tables (round 14 — the
  * capstone over governed views + the change feed): a materialized view
  * is a real graft-manifest table (the materialization, with snapshots,
  * time travel, and row-level ops like any other) plus a versioned
  * definition-and-checkpoint chain (`_MV.v<N>` files in the MV table's
  * own directory, claimed exactly like snapshot versions). REFRESH
  * never rescans the source: it reads the source's CHANGE FEED from the
  * checkpointed version, folds the delta into the touched groups only,
  * and lands the result as one CDC upsert — cost tracks the CHANGES and
  * the touched-group count, never the source or the MV size. The
  * reference has no MV machinery at all (2.1 views are definitions
  * only); Delta Live Tables / Iceberg materialized views are the
  * contemporary equivalents.
  *
  * Supported definition shape (star joins round 15): `SELECT <groupBy>,
  * <aggs> FROM <source> [JOIN <dim> ON <cond>]* [WHERE <filter>] GROUP
  * BY <groupBy>` with aggs drawn from count(*) / count(e) / sum(e) /
  * avg(e) / min(e) / max(e), where `e` is any deterministic scalar
  * expression over the joined columns and group keys may come from the
  * DIMS (the canonical star rollup). Dims are INNER-joined
  * slowly-changing tables PINNED at a version in the checkpoint — the
  * pinning is what keeps the incremental fold exact (a fact delta
  * joined to the same dim rows contributes exactly its signed share);
  * a dim that moved folds its OWN change feed through the fixed fact
  * (the joined multiset is linear in every input — round-15 stretch),
  * falling back to a full recompute only when the dim's history is
  * unexpressable (vacuumed past the pin).
  * The count/sum/avg family folds pure deltas; MIN/MAX fold inserts
  * (least/greatest) and fall back to a PER-GROUP recompute only when a
  * retracted value ties or beats the stored extremum — the textbook
  * bounded-recompute strategy, with the recompute restricted to exactly
  * the affected groups via a key semi-join the source's pruning bounds.
  * [[compensate]] applies the same signed fold at PLAN time for the
  * stale-tolerant rewrite (plans/MvRewrite.scala).
  *
  * EXACTNESS: fractional sums accumulate in DECIMAL(38,6) (per-row cast
  * to DECIMAL(18,6)), never in floating point, so the incremental fold
  * is order-independent and bit-identical to a direct recompute — avg
  * derives at read time as one double division of exact operands.
  *
  * CRASH SAFETY (the design's one non-obvious invariant): every refresh
  * computes the new absolute group values from `MV AS OF
  * checkpoint.mvVersion` — the PINNED pre-state — never from the MV's
  * current head. The data commit (one upsert whose 'delete'-typed rows
  * drop the vanished groups) and the checkpoint publish are separate
  * atomic steps, so a crash between them leaves an orphan data commit;
  * the next refresh, still reading the OLD checkpoint, recomputes the
  * SAME absolute values from the same pinned inputs and replaces the
  * orphan's rows with identical ones. Replays converge; nothing
  * double-counts. (Concurrent refreshes are likewise safe — wasteful, not
  * wrong.)
  *
  * Group-key caveat: keys ride the upsert's equality-delete path, so
  * they must be exact-equality primitives and NON-NULL (a null group
  * key would never match its own delete leg); create() enforces the
  * type rule and documents the null rule.
  *
  * Operations notes: (a) each refresh step lands one CDC upsert, and
  * stacked equality-delete sets degrade the MV's own read path
  * conservatively (columnar batching off) until `CALL compact`
  * materializes them — schedule compaction like any CDC-ingested table;
  * (b) the checkpoint references a SOURCE version, so source vacuum
  * retention must cover the refresh cadence — an expired checkpoint fails
  * loudly with the format's expired-version surface, and the remedy is
  * drop+create. */
object ManifestMaterializedView {

  /** One aggregate column: `func` ∈ count_star | count | sum | avg |
    * min | max; `expr` is SQL text over source columns (ignored for
    * count_star); `alias` is the user-visible output column. */
  final case class AggSpec(func: String, expr: String, alias: String) {
    def isMinMax: Boolean = func == "min" || func == "max"
  }

  /** One JOINED DIMENSION (round 15 — star-join MVs; LEFT joins round
    * 16): a governed table joined to the fact via `onSql`, PINNED at
    * `version` in the checkpoint. Pinning is what makes the incremental
    * fold exact: a fact delta joined to the same dim rows contributes
    * exactly its signed share — insert and delete legs of an update
    * join identically, for INNER and LEFT kinds alike (the fact row's
    * match set — or its null-padding — is a pure function of the pinned
    * dim state). A dim that moves re-pins through an exact DIM-DELTA
    * step (see [[refresh]]): linear matched-row legs for both kinds,
    * plus null-pad CORRECTION legs for a LEFT dim whose fact rows
    * crossed the matched/unmatched boundary; only unexpressable dim
    * history (vacuumed past the pin) pays the authoritative full
    * recompute. `kind` ∈ inner | left — the SCD idiom (LEFT JOIN dim,
    * incomplete metadata keeps the fact row with null dim columns) is
    * the shape governed corpora actually use. */
  final case class DimSpec(table: String, onSql: String, version: Int,
      kind: String = "inner") {
    def isLeft: Boolean = kind == "left"
  }

  final case class MvDef(source: String, filterSql: Option[String],
      groupBy: Seq[String], aggs: Seq[AggSpec],
      sourceVersion: Int, mvVersion: Int,
      dims: Seq[DimSpec] = Seq.empty)

  /** Split on TOP-LEVEL commas only (an entry may contain commas inside
    * parens, e.g. `coalesce(a, 0)`). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; val cur = new StringBuilder
    s.foreach {
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case c =>
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        cur += c
    }
    out += cur.result()
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Parse `"count:*:n,sum:floor(x):sx,avg:y:ay"` — `func:expr:alias`
    * triples. */
  def parseAggs(s: String): Seq[AggSpec] =
    splitTopLevel(s).map { part =>
      val bits = part.split(":", 3).map(_.trim)
      require(bits.length == 3,
        s"agg spec '$part' must be func:expr:alias")
      val func = bits(0).toLowerCase match {
        case "count" if bits(1) == "*" => "count_star"
        case f @ ("count" | "sum" | "avg" | "min" | "max") => f
        case f => throw new IllegalArgumentException(
          s"unsupported MV aggregate '$f' — count/sum/avg/min/max only")
      }
      AggSpec(func, bits(1), bits(2))
    }

  /** Parse `"orders ON l_orderkey = o_orderkey,customer LEFT ON ..."` —
    * `table [LEFT] ON condition` entries (versions pin at create
    * time); `LEFT` declares a left-outer dim. */
  def parseDims(s: String): Seq[(String, String, Boolean)] =
    splitTopLevel(s).map { part =>
      val u = part.toUpperCase
      val li = u.indexOf(" LEFT ON ")
      if (li > 0)
        (part.substring(0, li).trim, part.substring(li + 9).trim, true)
      else {
        val i = u.indexOf(" ON ")
        require(i > 0,
          s"dim spec '$part' must be '<table> [LEFT] ON <join condition>'")
        (part.substring(0, i).trim, part.substring(i + 4).trim, false)
      }
    }

  // ---- definition codec (`_MV.v<N>`, one field per line, b64) --------

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  def encode(d: MvDef): Array[String] =
    Array("#mv,1",
      s"#source,${b64(d.source)}",
      s"#filter,${d.filterSql.map(b64).getOrElse("-")}",
      s"#srcver,${d.sourceVersion}",
      s"#mvver,${d.mvVersion}") ++
      d.dims.map(ds => s"#dim,${b64(ds.table)},${b64(ds.onSql)},${ds.version}" +
        (if (ds.isLeft) ",left" else "")) ++
      d.groupBy.map(k => s"#key,${b64(k)}") ++
      d.aggs.map(a => s"#agg,${b64(a.func)},${b64(a.expr)},${b64(a.alias)}")

  def decode(lines: Array[String]): MvDef = {
    require(lines.headOption.contains("#mv,1"),
      s"not a graft materialized-view definition (${lines.headOption})")
    def one(tag: String): String = lines
      .collectFirst { case l if l.startsWith(s"#$tag,") =>
        l.substring(tag.length + 2) }
      .getOrElse(throw new IllegalStateException(s"mv missing #$tag"))
    MvDef(
      source = unb64(one("source")),
      filterSql = one("filter") match {
        case "-" => None; case f => Some(unb64(f)) },
      groupBy = lines.filter(_.startsWith("#key,"))
        .map(l => unb64(l.substring(5))).toSeq,
      aggs = lines.filter(_.startsWith("#agg,")).map { l =>
        val p = l.split(",", 4)
        AggSpec(unb64(p(1)), unb64(p(2)), unb64(p(3)))
      }.toSeq,
      sourceVersion = one("srcver").toInt,
      mvVersion = one("mvver").toInt,
      dims = lines.filter(_.startsWith("#dim,")).map { l =>
        val p = l.split(",", 5)
        DimSpec(unb64(p(1)), unb64(p(2)), p(3).toInt,
          if (p.length == 5 && p(4) == "left") "left" else "inner")
      }.toSeq)
  }

  def versions(fs: FileSystem, dir: Path): Seq[Int] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_MV.v"))
      .flatMap(_.stripPrefix("_MV.v").toIntOption)

  def isMaterializedView(fs: FileSystem, dir: Path): Boolean =
    versions(fs, dir).nonEmpty

  /** Test-visible observability: definition reads performed (the
    * plan-scale spec asserts MvRewrite's discovery probes only the
    * fact's OWN registry, flat in catalog size). */
  val defReads = new java.util.concurrent.atomic.AtomicLong

  def readDef(fs: FileSystem, dir: Path): MvDef = {
    defReads.incrementAndGet()
    val vs = versions(fs, dir)
    require(vs.nonEmpty, s"no materialized view at $dir")
    decode(ManifestFiles.readManifest(fs, new Path(dir, s"_MV.v${vs.max}")))
  }

  /** Claim the next `_MV.v<N>` through the snapshot claim loop
    * ([[ManifestFiles.claim]] under the directory's MV lock; see
    * ManifestViews.publish). Returns the landed version. */
  def publishDef(fs: FileSystem, dir: Path, d: MvDef,
      expectFresh: Boolean): Int = {
    if (!fs.exists(dir)) fs.mkdirs(dir)
    ManifestFiles.withClaimLock(dir, "mv") {
      ManifestFiles.claim(fs, dir, (0 +: versions(fs, dir)).max + 1,
          v => s"_MV.v$v") { v =>
        if (expectFresh && v > 1)
          throw new IllegalStateException(
            s"materialized view at $dir already exists " +
              s"(versions ${versions(fs, dir).sorted.mkString(",")})")
        ((encode(d).mkString("\n") + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8), Nil)
      }._1
    }
  }

  // ---- per-source MV registry (round 15 — kills MvRewrite's
  // O(catalog) discovery) ------------------------------------------------

  /** `<sourceTableDir>/_mvreg/<mvName>` marker files: create() registers
    * the MV under its FACT source, and MvRewrite lists only this small
    * directory instead of every sibling of the catalog root — plan-time
    * FS operations stay flat in catalog size. Advisory: a stale marker
    * (MV dir later deleted by hand) is skipped by the rewrite's
    * per-candidate guard; vacuum/remove_orphan_files never touch it
    * (they sweep files, not `_`-prefixed directories). */
  def registryDir(srcDir: Path): Path = new Path(srcDir, "_mvreg")

  def register(fs: FileSystem, srcDir: Path, mv: String): Unit = {
    val d = registryDir(srcDir)
    if (!fs.exists(d)) fs.mkdirs(d)
    val out = fs.create(new Path(d, mv), true)
    out.close()
  }

  def registered(fs: FileSystem, srcDir: Path): Seq[String] = {
    val d = registryDir(srcDir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
  }

  // ---- dimension joins (round 15 — star-join MVs) ----------------------

  private def tableAt(spark: SparkSession, root: String, table: String,
      version: Int): DataFrame =
    spark.read.format("graft-manifest")
      .option("path", new Path(root, table).toString)
      .option("versionAsOf", version.toString).load()

  /** Join the fact (or its change feed — extra CDF columns ride along
    * untouched) to every dim at its PINNED version, each per its
    * declared kind (inner or left): the incremental algebra needs each
    * fact row's dim match set — or its null-padding — to be a pure
    * function of the pinned dim state, which pinning guarantees for
    * both kinds. `substitute` swaps one dim's read for another frame
    * (the dim-delta step's CDF) while keeping the join construction in
    * ONE place; a SUBSTITUTED dim always joins INNER — only matched
    * rows flow through a delta leg, and the null-pad corrections for a
    * moved LEFT dim are separate signed legs (see [[refresh]]). */
  def withDims(spark: SparkSession, root: String, d: MvDef,
      fact: DataFrame,
      substitute: Map[String, DataFrame] = Map.empty): DataFrame =
    d.dims.foldLeft(fact) { (df, ds) =>
      val sub = substitute.get(ds.table)
      df.join(sub.getOrElse(
          tableAt(spark, root, ds.table, ds.version)),
        expr(ds.onSql),
        if (sub.isDefined || !ds.isLeft) "inner" else "left")
    }

  // ---- storage plan ---------------------------------------------------

  /** Hidden liveness counter: a group exists iff its signed row count is
    * positive; refresh deletes rows that fold to zero. Always stored. */
  val CntCol = "__mv_cnt"
  private[graft] def nnCol(a: AggSpec) = s"__mv_nn_${a.alias}"
  private[graft] def sumCol(a: AggSpec) = s"__mv_sum_${a.alias}"
  private[graft] def extCol(a: AggSpec) = s"__mv_ext_${a.alias}"
  // delta-only companions for min/max (never stored): the insert legs'
  // extremum folds in; the delete legs' extremum decides recompute
  private[graft] def insCol(a: AggSpec) = s"__mv_ins_${a.alias}"
  private[graft] def retCol(a: AggSpec) = s"__mv_ret_${a.alias}"

  /** Decimal accumulation type for non-integral sums: per-row cast to
    * (18,6) — the repo-wide exact-double-sum idiom — accumulated at
    * (38,6) so adds never widen the stored type. */
  private val RowDec = DecimalType(18, 6)
  private val AccDec = DecimalType(38, 6)

  private def sumStorageType(in: DataType): DataType = in match {
    case ByteType | ShortType | IntegerType | LongType => LongType
    case FloatType | DoubleType => AccDec
    case d: DecimalType => DecimalType(38, d.scale)
    case other => throw new IllegalArgumentException(
      s"MV sum/avg over ${other.sql} is unsupported (numeric only)")
  }

  private def orderableOk(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType |
        TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** The shared signed fold columns (count/sum families) — ONE formula
    * serving the full build (sign = +1) and the delta (sign = ±1), so
    * the two paths cannot drift. */
  private def foldAggCols(df: DataFrame, d: MvDef, sign: Column):
      scala.collection.mutable.LinkedHashMap[String, Column] = {
    val sgn = sign.cast(LongType)
    // ONE analyzer pass types every aggregate expression (round 17):
    // the per-expression `df.select(expr(e)).schema` ran a full analysis
    // of the (CDF-join-sized) child plan PER sum/avg/min/max spec —
    // pure driver fixed cost on every create/refresh/compensate step
    val typedExprs = d.aggs.collect {
      case a if a.func == "sum" || a.func == "avg" ||
        a.func == "min" || a.func == "max" => a.expr
    }.distinct
    val typeOf: Map[String, DataType] =
      if (typedExprs.isEmpty) Map.empty
      else {
        val types = df.select(typedExprs.map(e => expr(e)): _*)
          .schema.map(_.dataType)
        // positional pairing: an expression expanding to several output
        // columns would shift every later type onto the wrong aggregate
        require(types.length == typedExprs.length,
          s"MV aggregate typing: ${typedExprs.length} expressions " +
            s"resolved to ${types.length} columns (${typedExprs.mkString(", ")})" +
            " — each aggregate input must be a single-column expression")
        typedExprs.zip(types).toMap
      }
    def exprType(e: String): DataType = typeOf(e)
    val cols = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    cols(CntCol) = sum(sgn).cast(LongType).as(CntCol)
    d.aggs.foreach { a =>
      val e = expr(a.expr)
      a.func match {
        case "count_star" => // derived from CntCol at read time
        case "count" =>
          cols.getOrElseUpdate(nnCol(a),
            sum(when(e.isNotNull, sgn).otherwise(lit(0L)))
              .cast(LongType).as(nnCol(a)))
        case "sum" | "avg" =>
          val st = sumStorageType(exprType(a.expr))
          val rowType: DataType = st match {
            case AccDec => RowDec
            case dec: DecimalType => dec
            case _ => LongType
          }
          cols.getOrElseUpdate(sumCol(a),
            sum(sgn * coalesce(e.cast(rowType), lit(0).cast(rowType)))
              .cast(st).as(sumCol(a)))
          cols.getOrElseUpdate(nnCol(a),
            sum(when(e.isNotNull, sgn).otherwise(lit(0L)))
              .cast(LongType).as(nnCol(a)))
        case "min" | "max" =>
          require(orderableOk(exprType(a.expr)),
            s"MV ${a.func}(${a.expr}) is ${exprType(a.expr).sql} — " +
              "min/max need an orderable primitive")
        // stored by the caller (full build: the plain extremum; delta:
        // split into insert-leg fold + delete-leg recompute trigger)
      }
    }
    cols
  }

  private def extExpr(a: AggSpec, e: Column): Column =
    if (a.func == "min") min(e) else max(e)

  /** The MV's FULL storage shape over complete data — the initial build
    * and the per-group recompute path (sign = +1 throughout). */
  def aggRows(df: DataFrame, d: MvDef): DataFrame = {
    val cols = foldAggCols(df, d, lit(1L))
    d.aggs.filter(_.isMinMax).foreach { a =>
      cols.getOrElseUpdate(extCol(a),
        extExpr(a, expr(a.expr)).as(extCol(a)))
    }
    val aggCols = cols.values.toSeq
    df.groupBy(d.groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** The DELTA shape over a change-feed slice: the signed fold columns
    * plus, per min/max agg, the insert legs' extremum (folds in via
    * least/greatest — adding a value never needs history) and the
    * delete legs' extremum (a retraction can only change min/max if it
    * TIES OR BEATS the stored bound — that group recomputes). */
  def deltaRows(feed: DataFrame, d: MvDef): DataFrame = {
    val sign = when(col(ManifestChangeFeed.TypeCol) === "insert", lit(1L))
      .otherwise(lit(-1L))
    val cols = foldAggCols(feed, d, sign)
    d.aggs.filter(_.isMinMax).foreach { a =>
      val e = expr(a.expr)
      cols.getOrElseUpdate(insCol(a),
        extExpr(a, when(sign > 0, e)).as(insCol(a)))
      cols.getOrElseUpdate(retCol(a),
        extExpr(a, when(sign < 0, e)).as(retCol(a)))
    }
    val aggCols = cols.values.toSeq
    feed.groupBy(d.groupBy.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
  }

  /** The user-facing projection over the storage columns. Sums and avgs
    * surface null when the group holds no non-null inputs (ANSI
    * semantics); avg is a single double division of exact operands. */
  private def readCols(d: MvDef, storage: StructType): Seq[Column] =
    d.groupBy.map(col) ++ d.aggs.map { a =>
      a.func match {
        case "count_star" => col(CntCol).as(a.alias)
        case "count" => col(nnCol(a)).as(a.alias)
        case "sum" =>
          val st = storage(sumCol(a)).dataType
          val v = if (st == AccDec)
            col(sumCol(a)).cast(DoubleType) else col(sumCol(a))
          when(col(nnCol(a)) > 0, v).as(a.alias)
        case "avg" =>
          when(col(nnCol(a)) > 0,
            col(sumCol(a)).cast(DoubleType) / col(nnCol(a))).as(a.alias)
        case "min" | "max" => col(extCol(a)).as(a.alias)
      }
    }

  // ---- lifecycle -------------------------------------------------------

  private def catRoot(spark: SparkSession, catalog: String): String =
    spark.conf.get(s"spark.sql.catalog.$catalog.root")

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Create the MV: one full aggregate of the source AS OF its current
    * version (pinned — commits racing the build cannot leak in) joined
    * to each dim AS OF its current version, landed as the MV table's
    * first snapshot, then the definition+checkpoint claims `_MV.v1`.
    * The MV table is merge-on-read so refreshes apply as CDC upserts
    * (KB-scale delete metadata, zero rewrite). Star-join definitions
    * require globally unique column names across fact and dims (the
    * definition's expressions are bare-name SQL over the join). */
  def create(spark: SparkSession, catalog: String, mv: String,
      source: String, filterSql: Option[String], groupBy: Seq[String],
      aggs: Seq[AggSpec],
      dims: Seq[(String, String, Boolean)] = Seq.empty): MvDef = {
    require(groupBy.nonEmpty, "MV needs at least one group-by column")
    require(aggs.nonEmpty, "MV needs at least one aggregate")
    require(aggs.map(_.alias).distinct.length == aggs.length,
      "duplicate MV aggregate alias")
    val root = catRoot(spark, catalog)
    val srcDir = new Path(root, source)
    val mvDir = new Path(root, mv)
    val fs = fsFor(spark, srcDir)
    require(fs.exists(new Path(srcDir, "_MANIFEST")),
      s"MV source '$source' is not a graft-manifest table at $srcDir")
    require(dims.map(_._1).distinct.length == dims.length &&
      !dims.map(_._1).contains(source),
      "MV dims must be distinct tables, none of them the fact source")
    val dimSpecs = dims.map { case (t, on, left) =>
      val dDir = new Path(root, t)
      require(fs.exists(new Path(dDir, "_MANIFEST")),
        s"MV dim '$t' is not a graft-manifest table at $dDir")
      DimSpec(t, on, ManifestFiles.latestComplete(fs, dDir),
        if (left) "left" else "inner")
    }
    // a LEFT dim's columns are NULL for unmatched fact rows, and group
    // keys ride the CDC upsert's equality-delete path, which cannot
    // express null keys — group by fact (or inner-dim) columns and let
    // the left dim feed null-safe AGGREGATES instead
    dimSpecs.filter(_.isLeft).foreach { ds =>
      val dimCols = tableAt(spark, root, ds.table, ds.version)
        .schema.fieldNames.toSet
      val bad = groupBy.filter(dimCols.contains)
      require(bad.isEmpty,
        s"MV group key(s) ${bad.mkString(", ")} come from LEFT dim " +
          s"'${ds.table}' — left-dim columns are nullable and null " +
          "group keys cannot ride the CDC upsert path")
    }
    val srcVer = ManifestFiles.latestComplete(fs, srcDir)
    val d0 = MvDef(source, filterSql, groupBy, aggs, srcVer, 0, dimSpecs)
    val src = tableAt(spark, root, source, srcVer)
    if (dimSpecs.nonEmpty) {
      val all = src.schema.fieldNames ++ dimSpecs.flatMap(ds =>
        tableAt(spark, root, ds.table, ds.version).schema.fieldNames)
      val dup = all.groupBy(identity).collect { case (n, g) if g.length > 1 => n }
      require(dup.isEmpty,
        s"star-join MV needs globally unique column names; duplicated: " +
          dup.toSeq.sorted.mkString(", "))
      // the refresh joins the fact's CHANGE FEED to the dims, and on
      // lineage facts the feed also carries the row-lineage columns —
      // a dim column with any of these names would make the joined
      // frame ambiguous at the FIRST REFRESH (after a clean create)
      val reserved = Set(ManifestChangeFeed.TypeCol,
        ManifestChangeFeed.VersionCol, ManifestChangeFeed.TimestampCol,
        "_row_id", "_last_updated_version")
      require(!all.exists(reserved.contains),
        "MV fact/dim columns must not shadow the change-feed or " +
          s"row-lineage columns (${reserved.mkString(", ")})")
    }
    val joined = withDims(spark, root, d0, src)
    // STABILITY GATE (round-16 self-review): the definition's filter and
    // aggregate expressions re-evaluate at EVERY refresh, so a
    // non-deterministic (rand(), uuid()) or time-dependent
    // (current_timestamp()) expression makes groups folded at different
    // refreshes reflect different predicates — the MV silently stops
    // equaling its defining query. Refuse at create, both front doors.
    def checkStable(what: String, sql: String,
        e: org.apache.spark.sql.catalyst.expressions.Expression): Unit = {
      require(e.deterministic,
        s"MV $what '$sql' is non-deterministic — refreshes would " +
          "evaluate it differently each time")
      import org.apache.spark.sql.catalyst.expressions.{CurrentDate,
        CurrentTimestamp, CurrentTimeZone, LocalTimestamp, Now}
      val timeDep = e.collectFirst {
        case x @ (_: CurrentDate | _: CurrentTimestamp | _: Now |
            _: LocalTimestamp | _: CurrentTimeZone) => x.prettyName
      }
      require(timeDep.isEmpty,
        s"MV $what '$sql' depends on evaluation time " +
          s"(${timeDep.get}) — each refresh would apply a different " +
          "window; materialize the bound as a literal instead")
    }
    // ONE analyzer pass resolves every checked expression (round 17 —
    // this gate ran a full analysis of the joined plan per aggregate)
    val checked: Seq[(String, String)] =
      filterSql.map(("filter", _)).toSeq ++
        aggs.filter(_.func != "count_star")
          .map(a => (s"aggregate ${a.alias}", a.expr))
    if (checked.nonEmpty) {
      val analyzedExprs = joined
        .select(checked.map { case (_, sql) => expr(sql) }: _*)
        .queryExecution.analyzed.expressions
      // positional pairing: an expression expanding to several output
      // columns would check the rest against the wrong analyzed form
      require(analyzedExprs.length == checked.length,
        s"MV stability gate: ${checked.length} expressions resolved to " +
          s"${analyzedExprs.length} (${checked.map(_._2).mkString(", ")})" +
          " — each filter/aggregate input must be a single-column expression")
      checked.zip(analyzedExprs).foreach { case ((what, sql), e) =>
        checkStable(what, sql, e)
      }
    }
    val rows = aggRows(filterSql.map(f => joined.filter(expr(f)))
      .getOrElse(joined), d0)
    groupBy.foreach { k =>
      val f = rows.schema.fields(rows.schema.fieldIndex(k))
      require(ManifestEqDeletes.keyTypeOk(f.dataType),
        s"MV group key '$k' is ${f.dataType.sql} — keys ride the CDC " +
          "upsert path and must be exact-equality primitives")
    }
    spark.sql(s"CREATE TABLE $catalog.$mv (${rows.schema.toDDL}) " +
      "TBLPROPERTIES('delete.mode'='merge-on-read')")
    rows.write.mode("append").format("graft-manifest")
      .option("path", mvDir.toString).save()
    val d = d0.copy(mvVersion = ManifestFiles.latestComplete(fs, mvDir))
    publishDef(fs, mvDir, d, expectFresh = true)
    register(fs, srcDir, mv)
    d
  }

  /** Incremental refresh: fold the source's change feed
    * (checkpoint.sourceVersion, head] into the touched groups. Absolute
    * new values come from `MV AS OF checkpoint.mvVersion` ⋈ delta —
    * a join sized by the TOUCHED groups, never the MV (Catalyst prunes
    * the MV side through the join's runtime filter at scale; the feed
    * side is diff-sized by construction). Returns the new checkpoint
    * (or the old one unchanged when the source has not moved). */
  def refresh(spark: SparkSession, catalog: String, mv: String): MvDef = {
    val root = catRoot(spark, catalog)
    val mvDir = new Path(root, mv)
    val fs = fsFor(spark, mvDir)
    var d = readDef(fs, mvDir)
    val srcDir = new Path(root, d.source)
    val head = ManifestFiles.latestComplete(fs, srcDir)
    val dimHeads: Map[String, Int] = d.dims.map(ds =>
      ds.table -> ManifestFiles.latestComplete(fs, new Path(root, ds.table)))
      .toMap
    // RETENTION PRE-CHECK, on MOVED inputs only (an unmoved input's pin
    // IS its retained head, and the common no-op refresh must stay two
    // metadata reads): every incremental step reads PINNED state — a
    // pin vacuumed past retention makes incremental history
    // unexpressable, and the authoritative full recompute at the heads
    // is the remedy.
    def retained(table: String, pin: Int): Boolean =
      pin <= 0 || ManifestFiles.versions(fs, new Path(root, table))
        .contains(pin)
    // memoized MAINTENANCE-PREFIX probe (round 16): the highest version
    // whose row state provably equals the pin's — the retention
    // pre-check, the re-pin fast path, and each step's CDF baseline all
    // ask the same (table, pin, head) question. `effFrom == head` means
    // the whole tail was maintenance (pure re-pin); `pin < effFrom <
    // head` means the nightly compact-then-append pattern — the fold
    // starts PAST the compaction instead of replaying its full-table
    // delete+insert legs (which cancel exactly, but only after reading
    // the table twice).
    val prefixCache = scala.collection.mutable.Map.empty[(String, Int, Int), Int]
    def effFrom(table: String, pin: Int, to: Int): Int =
      prefixCache.getOrElseUpdate((table, pin, to),
        ManifestChangeFeed.rowPreservingPrefix(fs, new Path(root, table),
          pin, to))
    // incremental history is expressable iff the EFFECTIVE baseline is
    // retained — a vacuumed pin behind a maintenance prefix never
    // forces the recompute (the proof reads only the head's markers)
    def expressable(table: String, pin: Int, to: Int): Boolean = {
      // marker-aware (round-16 review pass 4): the fold only needs the
      // effective baseline and the UNMARKED steps' snapshots — marked
      // steps are jumped by the skipping feed (vacuumed run-ends fall
      // back to the baseline), so their expiry must not force a
      // recompute; a vacuumed DATA step still does, before the fold
      // would fail loudly mid-flight
      val f = effFrom(table, pin, to)
      f <= 0 || ManifestChangeFeed.tailFoldable(fs, new Path(root, table),
        f, to)
    }
    def recomputeAtHeads(cur: MvDef): MvDef =
      recomputeFull(spark, catalog, mv, cur.copy(
        sourceVersion = head,
        dims = cur.dims.map(x => x.copy(version = dimHeads(x.table)))))
    if ((head > d.sourceVersion &&
          !expressable(d.source, d.sourceVersion, head)) ||
        d.dims.exists(ds => dimHeads(ds.table) > ds.version &&
          !expressable(ds.table, ds.version, dimHeads(ds.table))))
      return recomputeAtHeads(d)
    // Any step whose history the change feed cannot EXPRESS (rollback
    // past row-level delete state resurrects rows no diff can carry)
    // also falls back to the authoritative recompute — cost, never
    // correctness (recomputeFull converges from any intermediate step).
    def stepOrRecompute(cur: MvDef, what: String,
        feed: => DataFrame, next: MvDef): Option[MvDef] =
      try Some(applyStep(spark, catalog, mv, cur, feed, next))
      catch {
        case e: IllegalStateException =>
          Console.err.println(s"graft MV '$mv': $what delta-step fell " +
            s"back to a full recompute (${e.getMessage.take(120)})")
          None
      }
    // MAINTENANCE RE-PIN (round 16): an input that moved ONLY by
    // row-preserving maintenance commits (compaction / Z-order /
    // delete-file rewrites, proven by their `#maint` markers in ONE
    // metadata read) holds exactly the rows the pin held — the step's
    // fold would cancel to zero after reading the data twice. Publish
    // the advanced pin instead: zero data I/O, exact by the marker's
    // contract. Checked BEFORE the CDF read so nightly maintenance on
    // a 100 TB fact costs a refresh nothing.
    // FACT STEP: fold the fact's change feed against the PINNED dims —
    // exact because the pinned join state is identical on both sides of
    // the fold (an update's delete and insert legs join the same rows).
    if (head > d.sourceVersion) {
      val from = effFrom(d.source, d.sourceVersion, head)
      if (from == head) {
        maintRepins.incrementAndGet()
        val next = d.copy(sourceVersion = head)
        publishDef(fs, mvDir, next, expectFresh = false)
        d = next
      } else {
        // skipMaintenance (round 16): a mid-tail compaction's cancelling
        // delete+insert legs never enter the fold — the prefix advance
        // above handles LEADING maintenance, this handles the rest
        val feed0 = spark.read.format("graft-manifest")
          .option("path", srcDir.toString).option("changeFeed", "true")
          .option("skipMaintenance", "true")
          .option("changesFrom", from.toString)
          .option("changesTo", head.toString).load()
        d = stepOrRecompute(d, s"fact '${d.source}'",
          withDims(spark, root, d, feed0),
          d.copy(sourceVersion = head)) match {
          case Some(next) => next
          case None => return recomputeAtHeads(d)
        }
      }
    }
    // DIM STEPS (round 15 stretch — the bounded alternative to a full
    // recompute): the joined multiset is LINEAR in each input, so one
    // dim moving pin→head with everything else fixed contributes
    // exactly fold(fact ⋈ dimCDF ⋈ otherDims@pins) — the SAME signed
    // fold, with the sign riding the DIM's change-feed legs. Dims step
    // one at a time (each step re-pins that dim in the checkpoint, so
    // crash replay converges per step, and later steps see earlier
    // advances); cost tracks the DIM's diff joined through the fact —
    // the fact scan prunes by the changed join keys via runtime
    // filters, so a one-customer re-segmentation touches the matching
    // files, not the corpus.
    d.dims.map(_.table).foreach { t =>
      val ds = d.dims.find(_.table == t).get
      val dimHead = dimHeads(t)
      if (dimHead > ds.version) {
        val stepNext = d.copy(dims = d.dims.map(x =>
          if (x.table == t) x.copy(version = dimHead) else x))
        val dimFrom = effFrom(t, ds.version, dimHead)
        if (dimFrom == dimHead) {
          // the dim's rows at head ARE its rows at the pin — re-pin
          // without touching the fact or the dim (zero data I/O),
          // then continue to the next dim
          maintRepins.incrementAndGet()
          publishDef(fs, mvDir, stepNext, expectFresh = false)
          d = stepNext
        } else {
        val dimCdf = spark.read.format("graft-manifest")
          .option("path", new Path(root, t).toString)
          .option("changeFeed", "true")
          .option("skipMaintenance", "true")
          .option("changesFrom", dimFrom.toString)
          .option("changesTo", dimHead.toString).load()
        val fact = tableAt(spark, root, d.source, d.sourceVersion)
        val matched = withDims(spark, root, d, fact,
          substitute = Map(t -> dimCdf))
        // a LEFT dim's delta additionally needs NULL-PAD CORRECTION
        // legs: only fact rows that join a CHANGED dim row can cross
        // the matched/unmatched boundary, so candidates are one
        // semi-join against the diff, and each side's match status is
        // one semi/anti join against the dim's pinned old/new state —
        // a row that GAINED its first match retracts its null-padded
        // contribution (the matched legs added the real one), a row
        // that LOST its last match inserts it back. Rows whose match
        // count changed without crossing zero carry no null-pad either
        // side and need no correction.
        val feed = if (!ds.isLeft) matched else {
          // the old-state read anchors at the EFFECTIVE baseline: same
          // rows as the pin by the marker proof, and still retained
          // even when the pin itself was vacuumed
          val dimOld = tableAt(spark, root, t, dimFrom)
          val dimNew = tableAt(spark, root, t, dimHead)
          val cand = fact.join(dimCdf, expr(ds.onSql), "left_semi")
          val gained = cand.join(dimNew, expr(ds.onSql), "left_semi")
            .join(dimOld, expr(ds.onSql), "left_anti")
          val lost = cand.join(dimOld, expr(ds.onSql), "left_semi")
            .join(dimNew, expr(ds.onSql), "left_anti")
          def pad(rows: DataFrame, sign: String): DataFrame = {
            val withNulls = dimNew.schema.fields.foldLeft(rows)((df, f) =>
              df.withColumn(f.name, lit(null).cast(f.dataType)))
            withDims(spark, root,
              d.copy(dims = d.dims.filterNot(_.table == t)), withNulls)
              .withColumn(ManifestChangeFeed.TypeCol, lit(sign))
          }
          matched
            .unionByName(pad(gained, "delete"), allowMissingColumns = true)
            .unionByName(pad(lost, "insert"), allowMissingColumns = true)
        }
        d = stepOrRecompute(d, s"dim '$t'", feed, stepNext) match {
          case Some(next) => next
          case None => return recomputeAtHeads(d)
        }
        }
      }
    }
    d
  }

  /** Test-visible: maintenance-only re-pins taken (the spec asserts a
    * compaction-only input advance publishes a checkpoint without any
    * data I/O — no new MV version, no recompute). */
  val maintRepins = new java.util.concurrent.atomic.AtomicLong

  /** One EXACT incremental step: fold `feedJoined` (a signed change
    * feed joined through the other, FIXED inputs) into the MV pinned at
    * `d`, land the touched groups, and publish `next` as the new
    * checkpoint. Shared by the fact step and each dim step — the
    * algebra is identical because the joined multiset is linear in
    * every input. */
  private def applyStep(spark: SparkSession, catalog: String, mv: String,
      d: MvDef, feedJoined: DataFrame, next: MvDef): MvDef = {
    val root = catRoot(spark, catalog)
    val mvDir = new Path(root, mv)
    val fs = fsFor(spark, mvDir)
    // ONE evaluation of the CDF-join-aggregate: the fold's consumers
    // (negative-count guard, recompute probe, live write, dead diff)
    // would otherwise each re-run it (self-review, the recomputeFull
    // lesson applied to the hot path)
    val delta = deltaRows(
      d.filterSql.map(f => feedJoined.filter(expr(f)))
        .getOrElse(feedJoined), d)
    // the try opens HERE (round-16 advice): an exception while reading
    // the MV pre-state or constructing the join must still unpersist —
    // a leaked block in a long-lived session never ages out
    var joined: DataFrame = null
    try {

    val pre = spark.read.format("graft-manifest")
      .option("path", mvDir.toString)
      .option("versionAsOf", d.mvVersion.toString).load()
    val storage = pre.schema
    val minmax = d.aggs.filter(_.isMinMax)
    val foldCols = storage.fieldNames.toSeq
      .filterNot(d.groupBy.contains)
      .filterNot(minmax.map(extCol).contains)
    val deltaCols = delta.schema.fieldNames.toSeq
      .filterNot(d.groupBy.contains)
    val dAliased = delta.select(
      (d.groupBy.map(col) ++ deltaCols.map(c => col(c).as(s"__d_$c"))): _*)
    // right join: only TOUCHED groups surface; untouched MV rows are
    // never rewritten (and never read past the join's key filter).
    // Persist THIS (group-count-scale) relation: every consumer below —
    // the gates aggregate, the live write, the dead diff — is a cheap
    // projection/filter over it, so the CDF join runs exactly once.
    joined = pre.join(dAliased, d.groupBy, "right").persist()
    // a retraction forces a group recompute ONLY when it ties or beats
    // the stored extremum (dropping an interior value never moves
    // min/max); a missing pre row with a retraction is drift — the
    // recompute path absorbs it with authoritative source truth
    val needR: Column = minmax.map { a =>
      val ret = col(s"__d_${retCol(a)}")
      val preE = col(extCol(a))
      ret.isNotNull && (preE.isNull ||
        (if (a.func == "min") ret <= preE else ret >= preE))
    }.foldLeft(lit(false))(_ || _)
    val foldRow = d.groupBy.map(col) ++ storage.fieldNames.toSeq
      .filterNot(d.groupBy.contains).map { c =>
        if (foldCols.contains(c)) {
          val zero = lit(0).cast(storage(c).dataType)
          (coalesce(col(c), zero) + col(s"__d_$c"))
            .cast(storage(c).dataType).as(c)
        } else { // min/max storage: fold the insert legs' extremum in
          val a = minmax.find(x => extCol(x) == c).get
          val ins = col(s"__d_${insCol(a)}")
          (if (a.func == "min") least(col(c), ins)
           else greatest(col(c), ins)).as(c)
        }
      }
    val folded = joined.filter(!needR).select(foldRow: _*)
    val recompute = joined.filter(needR)
      .select(d.groupBy.map(col): _*)

    // ONE gates pass (round 16): the negative guard, the recompute
    // probe, and the live/dead presence checks each cost a job before;
    // one aggregate over the persisted fold answers all four and fills
    // the cache the step's one write below reads.
    val foldCnt = coalesce(col(CntCol), lit(0).cast(storage(CntCol).dataType))
      .plus(col(s"__d_$CntCol")).cast(storage(CntCol).dataType)
    val gateRow = joined.select(
      sum(when(needR, 1L).otherwise(0L)).as("nr"),
      sum(when(!needR && foldCnt < 0, 1L).otherwise(0L)).as("neg"),
      sum(when(!needR && foldCnt === 0, 1L).otherwise(0L)).as("dead"),
      sum(when(!needR && foldCnt > 0, 1L).otherwise(0L)).as("live")).first()
    def gate(i: Int): Long = if (gateRow.isNullAt(i)) 0L else gateRow.getLong(i)
    val (nR, negative, nDead, nLive) = (gate(0), gate(1), gate(2), gate(3))
    require(negative == 0,
      s"MV '$mv' fold produced $negative negative group counts — the " +
        "change feed and the definition disagree (source rewritten " +
        "outside the feed, or a non-deterministic agg expression?)")

    // groups whose extremum retracted (`recompute` above): recompute
    // from the step's END state, restricted to EXACTLY those groups (a
    // semi-join the source's partition/stats pruning and runtime
    // filters bound) — triggered only by extremal retractions, never
    // by appends; gated on the diff-sized probe so an append-only (or
    // interior-delete) refresh never scans the source at all
    val recomputed = if (minmax.isEmpty || nR == 0) None
    else {
      val srcHead = withDims(spark, root, next,
        tableAt(spark, root, next.source, next.sourceVersion))
      val filtered = d.filterSql.map(f => srcHead.filter(expr(f)))
        .getOrElse(srcHead)
      Some(aggRows(filtered.join(recompute, d.groupBy, "left_semi"), d)
        .select((d.groupBy.map(col) ++ storage.fieldNames.toSeq
          .filterNot(d.groupBy.contains).map(col)): _*))
    }

    // fold groups at zero vanish, the rest upsert — one projection, so
    // the write keeps the fold's task count; recomputed groups upsert,
    // and those the recompute no longer returns vanish
    val foldStep = folded.withColumn(ManifestChangeFeed.TypeCol,
      when(col(CntCol) > 0, lit("insert")).otherwise(lit("delete")))
    val step = recomputed.fold(foldStep) { r =>
      foldStep
        .unionAll(r.withColumn(ManifestChangeFeed.TypeCol, lit("insert")))
        .unionAll(vanished(recompute.join(r.select(d.groupBy.map(col): _*),
          d.groupBy, "left_anti"), d.groupBy, r.schema))
    }
    if (nLive > 0 || nDead > 0 || nR > 0) landStep(mvDir, d.groupBy, step)
    val landed = next.copy(
      mvVersion = ManifestFiles.latestComplete(fs, mvDir))
    publishDef(fs, mvDir, landed, expectFresh = false)
    landed
    } finally {
      if (joined != null) joined.unpersist()
    }
  }

  /** Vanished groups as 'delete' rows shaped like `storage`: the group
    * keys, every other column null. */
  private def vanished(keys: DataFrame, groupBy: Seq[String],
      storage: StructType): DataFrame =
    keys.select(storage.fields.toSeq.map { f =>
      if (groupBy.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    } :+ lit("delete").as(ManifestChangeFeed.TypeCol): _*)

  /** Land one refresh step as ONE MV commit: an upsert whose
    * `_change_type` column tags each group 'insert' or 'delete'
    * (ManifestEqDeletes.tee), so readers never see half a step. */
  private def landStep(mvDir: Path, groupBy: Seq[String],
      step: DataFrame): Unit =
    step.write.mode("append").format("graft-manifest")
      .option("path", mvDir.toString)
      .option("upsertKeys", groupBy.mkString(",")).save()

  /** Test-visible: full recomputes taken (the dim-delta spec asserts
    * dim movement does NOT land here). */
  val fullRecomputes = new java.util.concurrent.atomic.AtomicLong

  /** FULL recompute at the pins already set in `pinned` (unexpressable
    * history, or any drift remedy): re-aggregate the joined inputs,
    * upsert every live group and, in the same commit, drop groups the
    * recompute no longer produces (diffed against `MV AS OF` the OLD
    * checkpoint — pinned pre-state, same crash-replay convergence as the
    * incremental path). Costs one scan of the joined inputs; ordinary fact and dim
    * movement never lands here. */
  private def recomputeFull(spark: SparkSession, catalog: String,
      mv: String, pinned: MvDef): MvDef = {
    fullRecomputes.incrementAndGet()
    val root = catRoot(spark, catalog)
    val mvDir = new Path(root, mv)
    val fs = fsFor(spark, mvDir)
    val old = readDef(fs, mvDir)
    val joined = withDims(spark, root, pinned,
      tableAt(spark, root, pinned.source, pinned.sourceVersion))
    // ONE evaluation of the joined aggregate: the write reads it twice
    // (the live rows and the dead-group anti-join)
    val rows = aggRows(pinned.filterSql.map(f => joined.filter(expr(f)))
      .getOrElse(joined), pinned).persist()
    try {
      val pre = spark.read.format("graft-manifest")
        .option("path", mvDir.toString)
        .option("versionAsOf", old.mvVersion.toString).load()
      val dead = pre.select(pinned.groupBy.map(col): _*)
        .join(rows.select(pinned.groupBy.map(col): _*),
          pinned.groupBy, "left_anti")
      landStep(mvDir, pinned.groupBy,
        rows.withColumn(ManifestChangeFeed.TypeCol, lit("insert"))
          .unionAll(vanished(dead, pinned.groupBy, rows.schema)))
    } finally rows.unpersist()
    val next = pinned.copy(
      mvVersion = ManifestFiles.latestComplete(fs, mvDir))
    publishDef(fs, mvDir, next, expectFresh = false)
    next
  }

  /** Read the MV through its definition: derived user-facing columns
    * (count/sum/avg aliases) over the storage table. */
  def read(spark: SparkSession, catalog: String, mv: String): DataFrame = {
    val mvDir = new Path(catRoot(spark, catalog), mv)
    val d = readDef(fsFor(spark, mvDir), mvDir)
    val t = spark.table(s"$catalog.$mv")
    t.select(readCols(d, t.schema): _*)
  }

  /** DELTA COMPENSATION (round 15 — stale-tolerant MV rewrite): the
    * group-level state the MV WOULD hold at `factVersion`, computed as
    * `MV AS OF checkpoint.mvVersion ⊎ signed-fold(fact CDF
    * (checkpoint.sourceVersion, factVersion] ⋈ pinned dims)` — the same
    * algebra [[refresh]] trusts, applied at PLAN time so a head read N
    * commits past the checkpoint still answers from the MV plus a
    * diff-sized feed instead of rescanning the source. Storage-shaped
    * output (keys + fold columns [+ extrema iff `withExtrema`]), dead
    * groups filtered. Extrema compensate only over an APPEND-ONLY tail
    * (the caller proves it via [[ManifestChangeFeed.rangeAppendOnly]]):
    * a retraction can beat a stored extremum, and the bounded-recompute
    * remedy belongs to refresh, not to a read-path rewrite. */
  def compensate(spark: SparkSession, catalog: String, mv: String,
      d: MvDef, factVersion: Int, withExtrema: Boolean): DataFrame = {
    val root = catRoot(spark, catalog)
    val mvDir = new Path(root, mv)
    val srcDir = new Path(root, d.source)
    val pre = spark.read.format("graft-manifest")
      .option("path", mvDir.toString)
      .option("versionAsOf", d.mvVersion.toString).load()
    // the fold starts PAST any row-preserving maintenance prefix
    // (round 16): a compaction between the checkpoint and the scanned
    // version would otherwise replay its full-table delete+insert legs
    // at plan time — they cancel exactly, but the "accelerated" read
    // would have scanned the table twice
    val effFrom = ManifestChangeFeed.rowPreservingPrefix(
      fsFor(spark, srcDir), srcDir, d.sourceVersion, factVersion)
    // skipMaintenance is REQUIRED here, not just cheaper: the extrema
    // gate (rangeAppendOnly) accepts marked mid-tail compactions, whose
    // delete legs this fold's insert-legs-only extrema column could
    // never retract — skipping them keeps gate and fold in agreement
    val feed0 = spark.read.format("graft-manifest")
      .option("path", srcDir.toString).option("changeFeed", "true")
      .option("skipMaintenance", "true")
      .option("changesFrom", effFrom.toString)
      .option("changesTo", factVersion.toString).load()
    val feed = withDims(spark, root, d, feed0)
    val delta = deltaRows(
      d.filterSql.map(f => feed.filter(expr(f))).getOrElse(feed), d)
    val minmax = if (withExtrema) d.aggs.filter(_.isMinMax) else Seq.empty
    val foldCols = pre.schema.fieldNames.toSeq
      .filterNot(d.groupBy.contains)
      .filterNot(d.aggs.filter(_.isMinMax).map(extCol).contains)
    def shaped(df: DataFrame, ext: AggSpec => Column): DataFrame =
      df.select((d.groupBy.map(col) ++ foldCols.map(col) ++
        minmax.map(a => ext(a).as(extCol(a)))): _*)
    val both = shaped(pre, a => col(extCol(a)))
      .unionByName(shaped(delta, a => col(insCol(a))))
    val aggCols = foldCols.map(c =>
      sum(col(c)).cast(pre.schema(c).dataType).as(c)) ++
      minmax.map(a => extExpr(a, col(extCol(a))).as(extCol(a)))
    both.groupBy(d.groupBy.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .filter(col(CntCol) > 0)
  }

  /** 24/7 refresh: the source's STREAMING change feed is the SCHEDULER —
    * each non-empty micro-batch triggers one [[refresh]], which reads
    * its own delta from its own `_MV` checkpoint. Exactly-once comes
    * from the MV chain (pinned pre-state + absolute upserts), NOT the
    * stream's checkpoint, so replayed epochs and even a deleted stream
    * checkpoint cannot double-apply. Admission caps
    * (`maxFilesPerTrigger`/`maxBytesPerTrigger`) bound each batch, which
    * bounds each refresh's delta in turn. */
  def refreshStream(spark: SparkSession, catalog: String, mv: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      options: Map[String, String] = Map.empty):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val root = catRoot(spark, catalog)
    val mvDir = new Path(root, mv)
    val d = readDef(fsFor(spark, mvDir), mvDir)
    var reader = spark.readStream.format("graft-manifest")
      .option("path", new Path(root, d.source).toString)
      .option("changeFeed", "true")
      // the stream is only the SCHEDULER: a maintenance-only commit
      // produces an empty batch and triggers no refresh (plan-time
      // reads stay exact on a maintenance-moved fact without one)
      .option("skipMaintenance", "true")
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    reader.load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (batch.take(1).nonEmpty)
          refresh(batch.sparkSession, catalog, mv)
        () // Unit: keeps the Scala-2.13 foreachBatch overload unambiguous
      }
      .start()
  }
}
