package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** String → double under the reference's cast matrix (ref:
  * slide/utils.py:1059-1066), parsed once per row — the kernel behind
  * every string→float/double/integral cell of [[graft.functions.SqlCast]].
  *
  * The result equals, row for row, the composition it replaces:
  * `CASE lower(trim(s)) WHEN nan forms THEN NULL WHEN inf forms THEN ±∞
  * ELSE CAST(s AS DOUBLE) END` under a non-ANSI session. The scan:
  *
  *  1. trims spaces (0x20 only, as Spark's `trim`); an empty string or a
  *     lone sign is NULL;
  *  2. matches `[+-]?nan` case-insensitively → NULL;
  *  3. returns NULL, with no exception, when the first character after
  *     the sign is printable ASCII that starts no number or literal
  *     (anything but a digit, `.`, `n`/`N` or `i`/`I`);
  *  4. hands everything else (decimals, inf forms, hex floats, `d`/`f`
  *     suffixes, tab- or newline-padded literals, non-ASCII) to Spark's
  *     own non-ANSI cast: `Double.valueOf`, then
  *     `Cast.processFloatingPointSpecialLiterals` on NumberFormatException.
  *
  * Step 4 needs no inf test of its own: Spark's cast maps every string
  * the composition's inf test matches to the same ±∞. It differs only on
  * nan, which it parses to NaN, not NULL, so step 2 decides nan first.
  * The composition's literal tests never match a non-ASCII string,
  * because only ASCII letters lower-case to the ASCII letters of the
  * nan/inf forms (the Kelvin sign becomes `k`; `İ` becomes two
  * characters).
  */
case class SqlStrToDouble(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_str_to_double"

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) null
    else {
      val bits = SqlStrToDouble.parseBits(s.asInstanceOf[UTF8String])
      if (bits == SqlStrToDouble.NullBits) null
      else java.lang.Double.longBitsToDouble(bits)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val kernel = classOf[SqlStrToDouble].getName
    nullSafeCodeGen(ctx, ev, s => {
      val bits = ctx.freshName("bits")
      s"""
         |long $bits = $kernel.parseBits($s);
         |if ($bits == ${SqlStrToDouble.NullBits}L) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = Double.longBitsToDouble($bits);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(
      newChild: Expression): SqlStrToDouble =
    copy(child = newChild)
}

object SqlStrToDouble {

  /** The result for SQL NULL, as raw double bits: a signalling NaN, which
    * neither `Double.valueOf` nor the special-literal table produces
    * (their NaN is the canonical quiet one).
    */
  final val NullBits = 0x7ff0000000000001L

  /** Raw bits of the cast result, or [[NullBits]] for NULL. */
  def parseBits(s: UTF8String): Long = {
    var i = 0
    var e = s.numBytes
    while (i < e && s.getByte(i) == ' ') i += 1
    while (e > i && s.getByte(e - 1) == ' ') e -= 1
    if (i == e) return NullBits
    val j = if (s.getByte(i) == '-' || s.getByte(i) == '+') i + 1 else i
    if (j == e) return NullBits
    val c = s.getByte(j)
    val l = c | 0x20
    if (l == 'n' && equalsAsciiCi(s, j, e, "nan")) NullBits
    else if (c > ' ' && c < 0x7f && !(c >= '0' && c <= '9') && c != '.' &&
        l != 'n' && l != 'i') NullBits
    else fallback(s)
  }

  /** Bytes `[from, to)` spell the lower-case ASCII word `w`, in any case. */
  private def equalsAsciiCi(s: UTF8String, from: Int, to: Int,
      w: String): Boolean = {
    if (to - from != w.length) return false
    var k = 0
    while (k < w.length) {
      if ((s.getByte(from + k) | 0x20) != w.charAt(k)) return false
      k += 1
    }
    true
  }

  /** Spark's non-ANSI string→double, verbatim. */
  private def fallback(s: UTF8String): Long = {
    val str = s.toString
    try java.lang.Double.doubleToRawLongBits(java.lang.Double.parseDouble(str))
    catch {
      case _: NumberFormatException =>
        Cast.processFloatingPointSpecialLiterals(str, false) match {
          case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d)
          case _ => NullBits
        }
    }
  }
}
