// Lives in the org.apache.spark.sql namespace because the Column <->
// Expression bridge (classic.ExpressionUtils) and AbstractDataType are
// private[sql] developer APIs in Spark 4 — the standard pattern for
// libraries shipping custom codegen expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** The one shape of graft's native scalar expressions. Each declares its
  * input types, result type, `prettyName` and one typed Scala method,
  * `kernel`, from its children's internal values (`ArrayData`,
  * `UTF8String`, `long`, ...) to the result's internal value. Interpreted
  * eval and generated code both call that method, so the two cannot
  * disagree; the generated code calls it on a reference to the expression
  * (`addReferenceObj`), so a primitive result stays primitive and a
  * driver-built parameter is read from the expression's own fields,
  * never inlined into the generated source.
  *
  * Null rules: a null child gives a null result without calling the
  * kernel. Past that, a kernel with a reference result returns null for
  * a null result, and a kernel with a primitive result that can be null
  * extends [[NullableKernel1]] or [[NullableKernel2]] and marks the
  * [[NullBit]] it is handed instead of boxing every row's result.
  */
sealed trait Kernel extends Expression with ImplicitCastInputTypes {

  /** Whether `kernel` takes a trailing [[NullBit]]. */
  private[graft] def marksNull: Boolean = false

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this, getClass.getName)
    val ins = children.map(_.genCode(ctx))
    val bit = Option.when(marksNull)(ctx.addMutableState(classOf[NullBit].getName, "nullBit",
      v => s"$v = new ${classOf[NullBit].getName}();"))
    val call = s"$self.kernel(${(ins.map(_.value.toString) ++ bit).mkString(", ")})"
    val compute = bit match {
      case Some(b) => s"${ev.value} = $call;\n${ev.isNull} = $b.take();"
      case None if CodeGenerator.isPrimitiveType(dataType) => s"${ev.isNull} = false;\n${ev.value} = $call;"
      case None => s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
    }
    // each child is evaluated only when the ones before it are non-null,
    // as UnaryExpression/BinaryExpression.nullSafeCodeGen do
    val guarded = children.zip(ins).foldRight(compute) { case ((c, in), inner) =>
      s"${in.code}\n" + (if (c.nullable) s"if (!${in.isNull}) {\n$inner\n}" else inner)
    }
    val out = ev.copy(code = code"""
      |boolean ${ev.isNull} = true;
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |$guarded""".stripMargin)
    if (nullable) out else out.copy(isNull = FalseLiteral)
  }
}

/** Where a kernel whose primitive result can be null marks this row's
  * result null. Generated code keeps one per generated class, eval one
  * per call, so no two threads share one.
  */
final class NullBit {
  private[this] var marked = false
  /** Marks this row's result null. */
  def set(): Unit = marked = true
  /** Whether this row's result was marked null; clears the mark. */
  def take(): Boolean = { val m = marked; marked = false; m }
}

abstract class Kernel1[A, R] extends UnaryExpression with Kernel {
  def kernel(a: A): R
  protected override def nullSafeEval(a: Any): Any = kernel(a.asInstanceOf[A])
}

abstract class Kernel2[A, B, R] extends BinaryExpression with Kernel {
  def kernel(a: A, b: B): R
  protected override def nullSafeEval(a: Any, b: Any): Any =
    kernel(a.asInstanceOf[A], b.asInstanceOf[B])
}

abstract class NullableKernel1[A, R] extends UnaryExpression with Kernel {
  def kernel(a: A, out: NullBit): R
  private[graft] override def marksNull: Boolean = true
  protected override def nullSafeEval(a: Any): Any = {
    val out = new NullBit
    val r = kernel(a.asInstanceOf[A], out)
    if (out.take()) null else r
  }
}

abstract class NullableKernel2[A, B, R] extends BinaryExpression with Kernel {
  def kernel(a: A, b: B, out: NullBit): R
  private[graft] override def marksNull: Boolean = true
  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val out = new NullBit
    val r = kernel(a.asInstanceOf[A], b.asInstanceOf[B], out)
    if (out.take()) null else r
  }
}

/** A large driver-built parameter of a native expression (a Bloom
  * sketch, an n-gram model, IVF centroids, PQ codebooks, z-order cuts).
  * Equality is content equality (`Objects.deepEquals`: arrays by their
  * elements), so two expressions over the same parameter compare equal
  * and canonicalization, common-subexpression elimination and exchange
  * reuse can unify them; a bare `Array[Byte]` field would compare by
  * identity. The hash is computed once (the parameter can be MBs, and
  * canonicalization hashes expressions repeatedly), and plan strings
  * show `label`, never the content: a treeString, explain or ledger dump
  * would otherwise print tens of KB of doubles per occurrence.
  */
final class ContentKeyed[T](val value: T, label: String) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case p: ContentKeyed[_] => (p eq this) || java.util.Objects.deepEquals(value, p.value)
    case _ => false
  }
  @transient override lazy val hashCode: Int =
    java.util.Arrays.deepHashCode(Array[AnyRef](value.asInstanceOf[AnyRef]))
  override def toString: String = label
}
