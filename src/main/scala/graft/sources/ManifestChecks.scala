package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

/** CHECK CONSTRAINTS (round 12 — Delta's `delta.constraints.*`):
  * `TBLPROPERTIES('check.<name>'='<boolean sql expr>')` persists a
  * `#tableconf,check` line (expression text base64'd — it may contain
  * commas); every write route that brings rows in (appends, INSERT
  * OVERWRITE, streaming epochs, copy-on-write and merge-on-read
  * row-level writes) validates each incoming row and FAILS THE COMMIT
  * on the first violation (the staged files abort, the table never
  * sees a half-applied batch). Row-preserving maintenance rewrites
  * (full and scoped compact, Z-order — the `#maint` commits) evaluate
  * no CHECK: like ADD CONSTRAINT, they never retro-validate rows that
  * already committed. SQL semantics: TRUE and NULL pass, only FALSE
  * violates (the standard CHECK three-valued rule).
  *
  * Binding happens ONCE, driver-side, at write planning: the expression
  * text parses and analyzes against the table schema (so unknown
  * columns and non-boolean expressions fail at DDL/ALTER time with an
  * analysis error), then binds to row ordinals — the bound tree is a
  * serializable, interpreter-evaluable Catalyst Expression, so task
  * writers carry no SQL machinery.
  *
  * Reference seam: constraint enforcement in SplitServe's Spark lineage
  * lives in the analyzer's DML checks (`sql/core`); the versioned
  * format moves it to the commit boundary, where ALL ingest routes
  * (batch, streaming epochs, COW rewrites, MOR insert files) converge
  * on one write spec (WriteSpec.of). */
private[sources] object ManifestChecks {

  def encode(expr: String): String =
    java.util.Base64.getEncoder.encodeToString(expr.getBytes("UTF-8"))
  def decode(b64: String): String =
    new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")

  /** Column names an expression references — the guard DROP/RENAME
    * consults before retiring a column a constraint still needs. */
  def referencedColumns(spark: SparkSession, exprText: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(exprText).collect {
      case u: UnresolvedAttribute => u.nameParts.head
    }.toSet

  /** Validate (parse + analyze against `schema`, require deterministic
    * boolean) and return the ANALYZED condition. Fails with Spark's own
    * analysis error on unknown columns / non-boolean expressions. */
  def validate(spark: SparkSession, schema: StructType, name: String,
      exprText: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"check constraint name '$name' must be [A-Za-z0-9_]+")
    val (cond, _) = analyzed(spark, schema, exprText)
    require(cond.deterministic,
      s"check constraint '$name' must be deterministic: $exprText")
  }

  /** (condition, the child plan's output it references) — binding must
    * use the SAME attribute ids analysis minted. */
  private def analyzed(spark: SparkSession, schema: StructType,
      exprText: String): (Expression,
      Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) = {
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    df.filter(org.apache.spark.sql.functions.expr(exprText))
      .queryExecution.analyzed
      .collectFirst { case f: Filter => (f.condition, f.child.output) }
      .getOrElse(throw new IllegalArgumentException(
        s"could not analyze check constraint: $exprText"))
  }

  /** Driver-side bind of every stored check against the WRITE schema →
    * (name, text, bound expression) triples for the task writers. */
  def bind(spark: SparkSession, schema: StructType,
      checks: Seq[(String, String)]): Seq[(String, String, Expression)] =
    checks.map { case (name, text) =>
      val (cond, out) = analyzed(spark, schema, text)
      val bound = BindReferences.bindReference(cond,
        org.apache.spark.sql.catalyst.expressions.AttributeSeq(out))
      (name, text, bound)
    }

  /** COLUMN DEFAULT VALUES (round 12 — the standard `ALTER TABLE ADD
    * COLUMN x INT DEFAULT 5`): the EXISTS_DEFAULT metadata key (Spark's
    * own) stores the frozen literal's SQL text; files written BEFORE the
    * column existed surface it instead of NULL. Evaluated DRIVER-side
    * (the readers ship plain internal values). */
  def existsDefaults(spark: SparkSession,
      required: StructType): Seq[(String, Any)] =
    required.fields.toSeq.flatMap { f =>
      if (f.metadata.contains("EXISTS_DEFAULT"))
        Some(f.name -> evalDefault(spark,
          f.metadata.getString("EXISTS_DEFAULT"), f.dataType))
      else None
    }

  /** Parse + fold + cast a default's SQL text to the column type's
    * INTERNAL value; loud analysis errors at declaration time. */
  def evalDefault(spark: SparkSession, sql: String,
      dt: org.apache.spark.sql.types.DataType): Any = {
    val e = spark.sessionState.sqlParser.parseExpression(sql)
    require(e.foldable && e.deterministic,
      s"DEFAULT must be a constant expression, got: $sql")
    org.apache.spark.sql.catalyst.expressions.Cast(e, dt, Some("UTC")).eval(null)
  }

  /** Wrap a task writer: every row must satisfy every check before it
    * reaches the inner writer; a violation aborts the whole commit. */
  def wrap(inner: DataWriter[InternalRow],
      checks: Seq[(String, String, Expression)],
      schema: StructType): DataWriter[InternalRow] =
    if (checks.isEmpty) inner
    else new DataWriter[InternalRow] {
      private def check(row: InternalRow): Unit = {
        var i = 0
        while (i < checks.length) {
          val (name, text, expr) = checks(i)
          if (expr.eval(row) == false) {
            val rendered = schema.fields.zipWithIndex.map { case (f, j) =>
              s"${f.name}=${if (row.isNullAt(j)) "NULL"
                else row.get(j, f.dataType)}"
            }.mkString(", ")
            throw new IllegalArgumentException(
              s"CHECK constraint '$name' ($text) violated by row [$rendered]" +
                " — the commit is aborted, no rows from this batch land")
          }
          i += 1
        }
      }
      override def write(row: InternalRow): Unit = {
        check(row)
        inner.write(row)
      }
      // COW metadata channel (row lineage): forward the metadata row —
      // the interface's 1-arg default would silently drop carried ids
      override def write(meta: InternalRow, row: InternalRow): Unit = {
        check(row)
        inner.write(meta, row)
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
}
