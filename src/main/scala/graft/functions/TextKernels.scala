package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native 60-bit md5 hash of a string: the first 8 digest bytes read as a
  * big-endian long, shifted right by 4. Bit-identical to the portable
  * string pipeline `conv(substring(md5(s), 1, 15), 16, 10)::long` (15 hex
  * digits = the top 60 bits), which builds a 32-char hex string, cuts it
  * and converts its base on every call — MinHash pays that k times per
  * shingle. Null in, null out.
  *
  * Codegen keeps one `MessageDigest` per generated class; the interpreted
  * path (e.g. inside a `transform` lambda, which is evaluated row by row)
  * uses a thread-local one. Both feed the same [[Hash60.hash]]. */
case class Hash60(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"hash60 requires a string input, got ${t.sql}")
  }
  override def dataType: DataType = LongType

  override def nullSafeEval(s: Any): Any = Hash60.hash(Hash60.digest.get(), s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = Hash60.getClass.getName.stripSuffix("$")
    val md = ctx.addMutableState(classOf[MessageDigest].getName, "hash60Md",
      v => s"$v = $obj.newDigest();")
    defineCodeGen(ctx, ev, s => s"$obj.hash($md, $s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "hash60"
}

object Hash60 {
  /** Column-API entry point. */
  def apply(c: Column): Column = ColumnShim.column(Hash60(ColumnShim.expression(c)))

  def newDigest(): MessageDigest = MessageDigest.getInstance("MD5")

  private val digest: ThreadLocal[MessageDigest] = ThreadLocal.withInitial(() => newDigest())

  /** Top 60 bits of md5 over the string's UTF-8 bytes, read in place when
    * the string sits on a byte array (the usual UnsafeRow case). */
  def hash(md: MessageDigest, s: UTF8String): Long = {
    s.getBaseObject match {
      case a: Array[Byte] => md.update(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
      case _ => md.update(s.getBytes)
    }
    val d = md.digest()
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4
  }
}

/** Word n-gram shingles of a token array: every window of `n` consecutive
  * tokens joined by `' '`, null tokens skipped as `array_join` does. A
  * null array or one shorter than `n` gives an empty array, never null.
  *
  * The built-in formulation `transform(sequence(0, size(ws) - n), i ->
  * array_join(slice(ws, i + 1, n), ' '))` is a lambda evaluated row by row
  * outside codegen and subexpression elimination, so every shingle
  * re-evaluates `ws` — re-splitting the whole document, O(tokens²) per
  * document. This reads the array once and copies each window's bytes
  * straight into its output string. */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width must be positive, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"shingles requires array<string>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    Shingles.windows(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = Shingles.getClass.getName.stripSuffix("$")
    val ws = child.genCode(ctx)
    ev.copy(code = code"""
      ${ws.code}
      ArrayData ${ev.value} = $obj.windows(${ws.isNull} ? null : ${ws.value}, $n);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "shingles"
}

object Shingles {
  /** Column-API entry point. */
  def apply(ws: Column, n: Int): Column = ColumnShim.column(Shingles(ColumnShim.expression(ws), n))

  def windows(ws: ArrayData, n: Int): ArrayData = {
    val len = if (ws == null) 0 else ws.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val toks = Array.tabulate(len)(i => if (ws.isNullAt(i)) null else ws.getUTF8String(i))
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i < out.length) {
      var bytes = 0
      var present = 0
      var j = i
      while (j < i + n) {
        if (toks(j) != null) { bytes += toks(j).numBytes; present += 1 }
        j += 1
      }
      val buf = new Array[Byte](bytes + math.max(present - 1, 0))
      // the separator goes before every present token but the first; an
      // empty token still takes its separator, as in array_join
      var off = 0
      var first = true
      j = i
      while (j < i + n) {
        val t = toks(j)
        if (t != null) {
          if (!first) { buf(off) = ' '; off += 1 }
          first = false
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + off)
          off += t.numBytes
        }
        j += 1
      }
      out(i) = UTF8String.fromBytes(buf)
      i += 1
    }
    new GenericArrayData(out)
  }
}
