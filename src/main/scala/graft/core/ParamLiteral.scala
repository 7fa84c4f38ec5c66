package graft.core

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.DataType

/** A [[Literal]] whose generated code reads its value from the compiled
  * class's `references` array instead of spelling it in the Java source.
  *
  * Spark caches compiled classes by their source text, and `Literal`
  * writes a primitive value into that text (`value == 7777L`), so every
  * read of a value not seen before compiles a fresh class. This literal
  * loads the value once, when the class is instantiated, into a field of
  * the column's Java type: two plans that differ only in such values share
  * one compiled class. Strings, decimals and the other object-typed
  * literals already bind by reference in `Literal` itself.
  *
  * Everything else is `Literal`'s: its `Literal(v, t)` extractor matches,
  * so Parquet filter pushdown and partition-filter splitting see a plain
  * literal; constant folding keeps it as it is; interpreted evaluation,
  * equality, hashing and the plan string are unchanged. A cast of it that
  * constant folding evaluates becomes a plain `Literal` again.
  */
final class ParamLiteral(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      f => s"$f = $ref.${javaType}Value();", forceInline = true)
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  /** `lit(value)`, bound by reference where `Literal` would inline it:
    * non-null boolean, integral, floating-point, date and timestamp values.
    */
  def column(value: Any): Column = value match {
    case _: java.lang.Boolean | _: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer |
         _: java.lang.Long | _: java.lang.Float | _: java.lang.Double |
         _: java.sql.Date | _: java.time.LocalDate | _: java.sql.Timestamp | _: java.time.Instant =>
      val l = Literal(value)
      GraftBridge.column(new ParamLiteral(l.value, l.dataType))
    case _ => lit(value)
  }
}
