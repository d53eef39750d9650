package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType, NullType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.KeyService

/** The export pipeline's stages as native Catalyst expressions — the
  * envelope parse, key unwrap, business-audit lift, validation and
  * equality re-wrap (see [[graft.pipeline.ExportPipeline]]). Like the
  * expressions in GraftExpressions.scala, each `doGenCode` is a static
  * call into [[ExprRuntime]]; none is a ScalaUDF, so the analyzer
  * resolves no encoders when the pipeline is built, and none falls
  * back to interpreted evaluation inside whole-stage codegen.
  *
  * Expressions that carry an object (the run's KeyService, the
  * snapshot type) have no SQL function form; their Columns are built
  * with `ColumnBridge.of`.
  */
case class EnvelopeFields(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == NullType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = EnvelopeReader.DataType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_envelope"

  protected override def nullSafeEval(input: Any): Any =
    ExprRuntime.envelope(input.asInstanceOf[UTF8String])

  protected override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => s"""
      ${ev.value} = graft.expressions.ExprRuntime.envelope($v);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): EnvelopeFields =
    copy(child = newChild)
}

/** An expression that hands every child's value, NULL as Java null
  * (the way a ScalaUDF passes a null String), to one static
  * [[ExprRuntime]] method, preceded by the `objects` it carries, and
  * reads a null result as SQL NULL. A `bigint` child arrives as a
  * `java.lang.Long`. */
private[expressions] trait RuntimeCall extends Expression {
  /** The [[ExprRuntime]] method. */
  protected def method: String
  /** Each child's type (a NULL literal passes too). */
  protected def argTypes: Seq[DataType]
  /** Leading arguments as (Java type of the method's parameter,
    * object), held in the generated class's references. */
  protected def objects: Seq[(String, AnyRef)]
  /** The interpreted call: `method` applied to `objects` and `args`. */
  protected def call(args: IndexedSeq[Any]): Any

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType).zip(argTypes).forall { case (c, t) =>
        c == t || c == NullType } && children.size == argTypes.size)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${argTypes.mkString(", ")}, got ${children.map(_.dataType)}")

  override def eval(input: InternalRow): Any =
    call(children.map(_.eval(input)).toIndexedSeq)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val args = objects.map { case (t, o) => ctx.addReferenceObj("arg", o, t) } ++
      evs.map(e => s"${e.isNull} ? null : ${e.value}")
    ev.copy(code = code"""
      ${blocksToBlock(evs.map(_.code))}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.expressions.ExprRuntime.$method(${args.mkString(", ")});
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }
}

/** `graft_unwrap_key(kek, encKey)`: the record's data key through the
  * run's [[KeyService]]; NULL on any failure. */
case class UnwrapKey(keys: KeyService, kek: Expression, encKey: Expression)
    extends RuntimeCall {
  @transient override lazy val children: Seq[Expression] = Seq(kek, encKey)
  protected def argTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_unwrap_key"
  protected def method: String = "unwrapKey"
  protected def objects: Seq[(String, AnyRef)] = Seq(classOf[KeyService].getName -> keys)
  // the plan's text shows the key columns, not the service object
  override protected def stringArgs: Iterator[Any] = children.iterator
  protected def call(a: IndexedSeq[Any]): Any = ExprRuntime.unwrapKey(keys,
    a(0).asInstanceOf[UTF8String], a(1).asInstanceOf[UTF8String])

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): UnwrapKey = copy(kek = c(0), encKey = c(1))
}

/** `graft_business_audit(decrypted, lastModified)`:
  * `struct<decrypted, err>` from `Transforms.businessAudit`, `err =
  * 'audit_failed'` when it refuses the document. */
case class BusinessAudit(decrypted: Expression, lastModified: Expression)
    extends RuntimeCall {
  @transient override lazy val children: Seq[Expression] =
    Seq(decrypted, lastModified)
  protected def argTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = BusinessAudit.DataType
  override def prettyName: String = "graft_business_audit"
  protected def method: String = "businessAudit"
  protected def objects: Seq[(String, AnyRef)] = Nil
  protected def call(a: IndexedSeq[Any]): Any = ExprRuntime.businessAudit(
    a(0).asInstanceOf[UTF8String], a(1).asInstanceOf[UTF8String])

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): BusinessAudit =
    copy(decrypted = c(0), lastModified = c(1))
}

object BusinessAudit {
  val DataType: StructType = StructType(Seq(
    StructField("decrypted", StringType), StructField("err", StringType)))
}

/** `graft_validate(decrypted, idJson, ts, db, collection, outer,
  * inner)`: the normalized document and manifest columns from
  * `Validator.validate` under `snapshotType`, or `err =
  * 'bad_decrypted'`; NULL when `ts` is NULL. */
case class ValidateRecord(snapshotType: String, children: Seq[Expression])
    extends RuntimeCall {
  protected def argTypes: Seq[DataType] =
    Seq(StringType, StringType, LongType, StringType, StringType, StringType, StringType)
  override def dataType: DataType = ValidateRecord.DataType
  override def prettyName: String = "graft_validate"
  protected def method: String = "validate"
  protected def objects: Seq[(String, AnyRef)] = Seq("java.lang.String" -> snapshotType)
  protected def call(a: IndexedSeq[Any]): Any = {
    def s(i: Int) = a(i).asInstanceOf[UTF8String]
    ExprRuntime.validate(snapshotType, s(0), s(1),
      a(2).asInstanceOf[java.lang.Long], s(3), s(4), s(5), s(6))
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ValidateRecord = copy(children = c)
}

object ValidateRecord {
  val DataType: StructType = StructType(Seq(
    StructField("doc", StringType), StructField("m_id", StringType),
    StructField("m_ts", LongType, nullable = false),
    StructField("m_db", StringType), StructField("m_collection", StringType),
    StructField("m_source", StringType), StructField("m_outer", StringType),
    StructField("m_inner", StringType), StructField("m_original_id", StringType),
    StructField("err", StringType)))
}

/** `graft_equality_wrap(doc, inner)`: `Transforms.equalityWrap`. */
case class EqualityWrap(doc: Expression, inner: Expression) extends RuntimeCall {
  @transient override lazy val children: Seq[Expression] = Seq(doc, inner)
  protected def argTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_equality_wrap"
  protected def method: String = "equalityWrap"
  protected def objects: Seq[(String, AnyRef)] = Nil
  protected def call(a: IndexedSeq[Any]): Any = ExprRuntime.equalityWrap(
    a(0).asInstanceOf[UTF8String], a(1).asInstanceOf[UTF8String])

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): EqualityWrap = copy(doc = c(0), inner = c(1))
}

/** `graft_fence(e)`: `e` itself, marked nondeterministic so that
  * Catalyst pushes no Filter through the Project that computes it
  * (PushDownPredicates leaves Projects with a nondeterministic field
  * alone). A predicate on the column then reads the value the Project
  * computed once, instead of re-deriving `e` from the Project's input
  * with every alias inlined (see [[graft.pipeline.ExportPipeline.records]]). */
case class FilterFence(child: Expression) extends UnaryExpression with Nondeterministic {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_fence"

  override protected def initializeInternal(partitionIndex: Int): Unit = ()
  override protected def evalInternal(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)

  override protected def withNewChildInternal(newChild: Expression): FilterFence =
    copy(child = newChild)
}
