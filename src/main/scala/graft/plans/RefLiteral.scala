package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graft.{ExpressionColumns => ExpressionUtils}
import org.apache.spark.sql.types._

/** A literal whose generated code reads its value from the references
  * array instead of inlining it as a Java constant.
  *
  * Spark already binds non-primitive literals (strings, decimals) this
  * way; primitive ones are spliced into the source, so `{id: 2345}` and
  * `{id: 777}` compile to two classes that differ in one constant. Bound
  * by reference, the two queries generate identical code and the second
  * one reuses the first one's compiled class from the codegen cache.
  *
  * It is still a [[Literal]]: `Literal(v, t)` patterns match it, so
  * constant propagation, parquet pushdown and [[BucketPrune]] keep
  * treating it as a constant. Rules that fold it into a NEW literal (a
  * cast of a constant) produce a plain one, which only costs the reuse.
  */
class RefLiteral(value: Any, dataType: DataType) extends Literal(value, dataType) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !RefLiteral.bindable(dataType)) super.doGenCode(ctx, ev)
    else {
      val jt = CodeGenerator.javaType(dataType)
      val boxed = CodeGenerator.boxedType(dataType)
      val ref = ctx.addReferenceObj("lit", value, boxed)
      val v = ctx.addMutableState(jt, "lit", v => s"$v = $ref.${jt}Value();")
      ExprCode.forNonNullValue(JavaCode.global(v, dataType))
    }
}

object RefLiteral {
  /** Types whose Spark literal codegen inlines the value. */
  private def bindable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        FloatType | DoubleType | DateType | TimestampType |
        TimestampNTZType => true
    case _ => false
  }

  /** `functions.lit` for a driver value, reference-bound when its Spark
    * type is primitive (plain `lit` otherwise).
    */
  def lit(v: Any): Column = {
    val l = Literal(v)
    if (l.value == null || !bindable(l.dataType))
      org.apache.spark.sql.functions.lit(v)
    else ExpressionUtils.column(new RefLiteral(l.value, l.dataType))
  }
}
