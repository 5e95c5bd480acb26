package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Predicate, RLike, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** A `^`-anchored regex over ASCII atoms, decided on UTF-8 bytes with
  * the same verdict as `java.util.regex` `find` on the decoded string:
  * an ASCII atom never matches a byte of a multi-byte character (nor a
  * whole non-ASCII char), and a final `$` also matches before one
  * trailing line terminator, as Java's does. Atoms are matched greedily
  * without backtracking, which [[AsciiRegex.parse]] makes exact by
  * requiring each `+` atom's class to be disjoint from the next atom's.
  */
final class AsciiRegex private (classes: Array[Array[Boolean]],
                                plus: Array[Boolean], toEnd: Boolean)
    extends Serializable {

  /** bytes from `i` are exactly one line terminator (Java's `$`) */
  private def lineEnd(s: UTF8String, i: Int, len: Int): Boolean = {
    def b(j: Int) = s.getByte(j) & 0xff
    len - i match {
      case 1 => b(i) == '\r' || (b(i) == '\n' && (i == 0 || b(i - 1) != '\r'))
      case 2 => (b(i) == '\r' && b(i + 1) == '\n') ||
        (b(i) == 0xc2 && b(i + 1) == 0x85)
      case 3 => b(i) == 0xe2 && b(i + 1) == 0x80 &&
        (b(i + 2) == 0xa8 || b(i + 2) == 0xa9)
      case _ => false
    }
  }

  /** byte `i` is in class `c` (a byte >= 0x80 is negative, and no
    * atom holds one) */
  private def in(s: UTF8String, i: Int, len: Int, c: Array[Boolean]) =
    i < len && { val b = s.getByte(i); b >= 0 && c(b) }

  def matches(s: UTF8String): Boolean = {
    val len = s.numBytes()
    var i = 0; var k = 0
    while (k < classes.length) {
      if (!in(s, i, len, classes(k))) return false
      i += 1
      if (plus(k)) while (in(s, i, len, classes(k))) i += 1
      k += 1
    }
    !toEnd || i == len || lineEnd(s, i, len)
  }
}

object AsciiRegex {
  private def plain(c: Char) =
    c >= 0x20 && c < 0x7f && !"\\^$.|?*+()[]{}".contains(c)
  private def classChar(c: Char) = plain(c) && c != '&' && c != '-'

  /** `pattern` when it is `^`, then atoms — a printable ASCII character
    * that is not a metacharacter, or a `[...]` class of such characters
    * and ranges — each optionally followed by `+`, then optionally `$`;
    * a `+` atom's class must not overlap the next atom's. None for
    * anything else (which stays on java.util.regex). */
  def parse(p: String): Option[AsciiRegex] = {
    if (!p.startsWith("^")) return None
    val toEnd = p.endsWith("$")
    val body = p.substring(1, if (toEnd) p.length - 1 else p.length)
    val classes = Seq.newBuilder[Array[Boolean]]
    val plus = Seq.newBuilder[Boolean]
    var i = 0
    while (i < body.length) {
      val cls = new Array[Boolean](128)
      if (body(i) == '[') {
        var j = i + 1
        while (j < body.length && body(j) != ']') {
          if (!classChar(body(j))) return None
          if (j + 2 < body.length && body(j + 1) == '-' &&
              classChar(body(j + 2)) && body(j) <= body(j + 2)) {
            (body(j) to body(j + 2)).foreach(c => cls(c) = true); j += 3
          } else { cls(body(j)) = true; j += 1 }
        }
        if (j >= body.length || j == i + 1) return None
        i = j + 1
      } else if (plain(body(i))) { cls(body(i)) = true; i += 1 }
      else return None
      val isPlus = i < body.length && body(i) == '+'
      if (isPlus) i += 1
      classes += cls; plus += isPlus
    }
    val cs = classes.result(); val ps = plus.result()
    val exact = cs.indices.dropRight(1).forall(k =>
      !ps(k) || !(0 until 128).exists(c => cs(k)(c) && cs(k + 1)(c)))
    if (exact) Some(new AsciiRegex(cs.toArray, ps.toArray, toEnd)) else None
  }

  /** `r` as an [[AsciiRegexMatch]] when its pattern is a string literal
    * [[parse]] accepts and the subject uses binary string collation. */
  def lower(r: RLike): Option[Expression] = r.right match {
    case Literal(p: UTF8String, StringType) if r.left.dataType == StringType &&
        parse(p.toString).isDefined =>
      Some(AsciiRegexMatch(r.left, p.toString))
    case _ => None
  }
}

/** `child RLIKE pattern` for a pattern [[AsciiRegex.parse]] accepts,
  * decided on the UTF-8 bytes: no string decode, no java.util.regex. */
case class AsciiRegexMatch(child: Expression, pattern: String)
    extends UnaryExpression with Predicate {

  @transient private lazy val regex = AsciiRegex.parse(pattern).get

  override def nullSafeEval(input: Any): Any =
    regex.matches(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val r = ctx.addReferenceObj("regex", regex, classOf[AsciiRegex].getName)
    defineCodeGen(ctx, ev, c => s"$r.matches($c)")
  }

  override protected def withNewChildInternal(c: Expression): AsciiRegexMatch =
    copy(child = c)
}
