package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.urls.UrlCanon

/**
 * Static, null-free (input already null-checked by the caller) helpers that
 * the generated code calls. Kept as a top-level object so Scala emits static
 * forwarders — the codegen string references them as plain Java statics.
 */
object UrlExprHelper {
  def canon(u: UTF8String): UTF8String =
    UTF8String.fromString(UrlCanon.canonicalize(u.toString))
  def hostRev(u: UTF8String): UTF8String =
    UTF8String.fromString(UrlCanon.hostRev(u.toString))
  def hostOf(u: UTF8String): UTF8String =
    UTF8String.fromString(UrlCanon.hostOf(u.toString))
}

/** Base for our string→string scalar expressions: null-safe, codegen'd via a
  * static helper call (stays inside whole-stage codegen, foldable on
  * literals — a plain Scala UDF would be neither). */
abstract class UrlStringExpression extends UnaryExpression {
  override def dataType: DataType = StringType
  /** simple name of the UrlExprHelper method to call */
  protected def helperMethod: String
  protected def eval1(s: String): String

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(eval1(v.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlExprHelper.$helperMethod($c)")
}

/** RFC 3986 canonical form — see [[graft.urls.UrlCanon.canonicalize]]. */
case class CanonicalizeUrl(child: Expression) extends UrlStringExpression {
  override protected def helperMethod: String = "canon"
  override protected def eval1(s: String): String = UrlCanon.canonicalize(s)
  override def prettyName: String = "canonicalize_url"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** "www.example.com" → "com.example.www" sort key. */
case class HostRev(child: Expression) extends UrlStringExpression {
  override protected def helperMethod: String = "hostRev"
  override protected def eval1(s: String): String = UrlCanon.hostRev(s)
  override def prettyName: String = "host_rev"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Lowercased host component of a URL. */
case class UrlHost(child: Expression) extends UrlStringExpression {
  override protected def helperMethod: String = "hostOf"
  override protected def eval1(s: String): String = UrlCanon.hostOf(s)
  override def prettyName: String = "url_host"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UrlExpressions {
  private def col(e: Expression): Column = GraftBridge.column(e)
  private def expr(c: Column): Expression = GraftBridge.expression(c)

  def canonicalize_url(c: Column): Column = col(CanonicalizeUrl(expr(c)))
  def host_rev(c: Column): Column = col(HostRev(expr(c)))
  def url_host(c: Column): Column = col(UrlHost(expr(c)))
}
