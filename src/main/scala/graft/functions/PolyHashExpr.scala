package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** UTF-8 → Unicode-CODE-POINT polynomial folds, shared by interpreted
  * eval AND codegen (one static call per row; the decode loop JITs —
  * the Mix.hashUtf8/Murmur3 pattern). ROUND 11: both fingerprint
  * folds iterate CODE POINTS, not UTF-8 bytes — identical for ASCII
  * (every previously gated hash is unchanged) and equal to the DuckDB
  * replay's `ord(substr(...))` character iteration on ANY input; the
  * unicode second-fixture (astral emoji, CJK, combining marks) pinned
  * the divergence the old byte fold had. Every intermediate
  * ≤ 31·(10⁹+7) + 0x10FFFF ≪ 2⁶³ (ANSI-safe, no wrap). */
object PolyFold {
  private final val P = 1000000007L
  private final val P2 = 1000000009L

  /** h = fold(codepoints, 0, (h, cp) => (h·31 + cp) mod P). */
  def poly(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xff
      var cp = b0
      var len = 1
      if (b0 >= 0xf0) { cp = b0 & 0x07; len = 4 }
      else if (b0 >= 0xe0) { cp = b0 & 0x0f; len = 3 }
      else if (b0 >= 0xc0) { cp = b0 & 0x1f; len = 2 }
      var k = 1
      while (k < len && i + k < bytes.length) {
        cp = (cp << 6) | (bytes(i + k) & 0x3f); k += 1
      }
      h = (h * 31L + cp.toLong) % P
      i += len
    }
    h
  }

  /** INDEPENDENT second code-point fold — base 37 mod 10⁹+9 (a
    * different base AND a different prime modulus from [[poly]]).
    * Exists for DOUBLE HASHING: a shuffle key built from (poly, poly2)
    * lives in a ~10¹⁸ key space, so hash-keyed joins (q245's gram
    * pairs) tolerate collisions at 100 TB gram counts where a single
    * mod-10⁹ fold would collide constantly. Intermediates
    * ≤ 37·(10⁹+9) + 0x10FFFF ≪ 2⁶³ — ANSI-safe, and DuckDB replays it
    * with the same `(h·37 + ord) % 1000000009` list_reduce as poly. */
  def poly2(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xff
      var cp = b0
      var len = 1
      if (b0 >= 0xf0) { cp = b0 & 0x07; len = 4 }
      else if (b0 >= 0xe0) { cp = b0 & 0x0f; len = 3 }
      else if (b0 >= 0xc0) { cp = b0 & 0x1f; len = 2 }
      var k = 1
      while (k < len && i + k < bytes.length) {
        cp = (cp << 6) | (bytes(i + k) & 0x3f); k += 1
      }
      h = (h * 37L + cp.toLong) % P2
      i += len
    }
    h
  }

  /** Rolling word fold: per-word char fold base 31, flushed into a
    * base-131 word-order fold at every SPACE code point. */
  def roll(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var wh = 0L
    var i = 0
    while (i < bytes.length) {
      val b0 = bytes(i) & 0xff
      var cp = b0
      var len = 1
      if (b0 >= 0xf0) { cp = b0 & 0x07; len = 4 }
      else if (b0 >= 0xe0) { cp = b0 & 0x0f; len = 3 }
      else if (b0 >= 0xc0) { cp = b0 & 0x1f; len = 2 }
      var k = 1
      while (k < len && i + k < bytes.length) {
        cp = (cp << 6) | (bytes(i + k) & 0x3f); k += 1
      }
      if (cp == 0x20) { acc = (acc * 131L + wh) % P; wh = 0L }
      else wh = (wh * 31L + cp.toLong) % P
      i += len
    }
    (acc * 131L + wh) % P
  }
}

/** Native ENGINE-SHARED polynomial string hash:
  *   h = fold(code points, 0, (h, cp) => (h·31 + cp) mod (10⁹+7))
  * — the arithmetic any SQL engine can replicate exactly (DuckDB:
  * `list_reduce` over `ord(substr(...))`), unlike xxhash64. Since
  * round 11 the fold iterates UNICODE CODE POINTS (see [[PolyFold]]) —
  * byte ≡ code point for ASCII, and non-ASCII now matches the ord()
  * replay too.
  *
  * One tight loop over the UTF8String per row — the interpreted
  * `aggregate(split(s, ''), …)` HOF form this replaces allocates a
  * per-character array and evaluates an expression tree per character
  * (measured: the q95 winnowing scan went from pathological to
  * scan-speed when moved onto this). */
case class PolyHashExpr(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_polyhash"
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_polyhash expects a string arg, got ${child.dataType.sql}")

  override protected def nullSafeEval(v: Any): Any =
    PolyFold.poly(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.PolyFold$$.MODULE$$.poly($s);")

  override protected def withNewChildInternal(
      newChild: Expression): PolyHashExpr = copy(child = newChild)
}


/** The [[PolyFold.poly2]] twin of [[PolyHashExpr]] — base 37 mod
  * 10⁹+9. Never used alone: it is the second component of the
  * double-hash shuffle keys (q245), where joint collision probability
  * is the product of two ~10⁻⁹ terms because base AND modulus differ. */
case class PolyHash2Expr(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_polyhash2"
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_polyhash2 expects a string arg, got ${child.dataType.sql}")

  override protected def nullSafeEval(v: Any): Any =
    PolyFold.poly2(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.PolyFold$$.MODULE$$.poly2($s);")

  override protected def withNewChildInternal(
      newChild: Expression): PolyHash2Expr = copy(child = newChild)
}


/** string → long ROLLING word-hash fold (tx4's rolling_hash): words are
  * split on single spaces, each word char-folds base 31 mod P, and the
  * word hashes fold base 131 mod P in order — token-order-sensitive, so
  * shuffled words fingerprint differently. Streaming formulation: the
  * running word hash flushes at every space byte, so no intermediate
  * word array exists; empty words (consecutive/leading/trailing spaces)
  * flush as hash 0, exactly what the HOF/DuckDB `string_split` forms
  * compute. Code-point iteration as [[PolyHashExpr]] (round 11; the
  * space separator is code point 0x20, which no multi-byte UTF-8
  * character contains). */
case class RollHashExpr(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_rollhash"
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_rollhash expects a string arg, got ${child.dataType.sql}")

  override protected def nullSafeEval(v: Any): Any = {
    PolyFold.roll(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.PolyFold$$.MODULE$$.roll($s);")

  override protected def withNewChildInternal(
      newChild: Expression): RollHashExpr = copy(child = newChild)
}
