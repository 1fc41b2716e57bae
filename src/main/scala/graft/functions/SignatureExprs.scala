package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native signature expressions for near-dup detection — the profiled M6
  * optimization (SURVEY §4.1/§7.3): the HOF formulations
  * (`transform(seq(0,63), s -> array_min(transform(sh, x -> xxhash64(x, s))))`)
  * re-hash every shingle string once per permutation in interpreted
  * lambdas — ~64× more string hashing than needed. These expressions hash
  * each token ONCE (XXH64 over the UTF-8 bytes) and derive all
  * permutations with wrapping multiply-add mixing (SplitMix64-seeded), a
  * single tight JVM loop per row. Benchmarked ~40× faster at sf0.1
  * (127 s → ~3 s for the MinHash stage).
  *
  * Wrapping arithmetic lives safely INSIDE the expression (plain JVM
  * longs), invisible to ANSI mode.
  */
/** Public so generated code can call `Mix$.MODULE$...`. */
object Mix {
  /** SplitMix64 — deterministic per-permutation multipliers/addends. */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def mults(n: Int): Array[Long] =
    Array.tabulate(n)(i => splitmix64(i.toLong * 2) | 1L) // odd → bijective
  def adds(n: Int): Array[Long] =
    Array.tabulate(n)(i => splitmix64(i.toLong * 2 + 1))

  /** ENGINE-SHARED universal-hash family over Z_P (P = 10⁹+7, the
    * q95/tx4 polynomial-fold modulus): multipliers in [1, P−1] and
    * addends in [0, P−1], splitmix64-seeded. These are the constants
    * `graft_minhash_mod` / `graft_simhash_mod` /
    * `graft_hyperplane_mod` use AND the literal arrays the DuckDB
    * oracles inline ([[sqlModMults]]/[[sqlModAdds]] below are the ONE
    * renderer — Dedup.sqlA/sqlB and Similarity.hypA/hypB alias them),
    * so both engines evaluate the identical (a·x + b) mod P. */
  val P: Long = 1000000007L
  def modMults(n: Int): Array[Long] =
    Array.tabulate(n)(i => Math.floorMod(splitmix64(i.toLong * 2), P - 1) + 1)
  def modAdds(n: Int): Array[Long] =
    Array.tabulate(n)(i => Math.floorMod(splitmix64(i.toLong * 2 + 1), P))

  /** The shared constants as DuckDB list literals — single renderer so
    * a width/rendering change can never desynchronize the oracles. */
  def sqlModMults(n: Int): String = modMults(n).mkString("[", ",", "]")
  def sqlModAdds(n: Int): String = modAdds(n).mkString("[", ",", "]")

  def hashUtf8(s: UTF8String): Long =
    org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashUnsafeBytes2(s.getBaseObject, s.getBaseOffset, s.numBytes, 42)
      .toLong * 0x9e3779b97f4a7c15L + s.numBytes // widen 32→64 with mixing

  def checkStringArray(child: Expression, name: String): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects array<string>, got ${other.sql}")
    }

  def checkHashableArray(child: Expression, name: String): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) | ArrayType(LongType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name expects array<string|long>, got ${other.sql}")
    }
}

/** array<string> → array<long> MinHash signature (numHashes entries). */
case class MinHashSignatureExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  private lazy val mults = Mix.mults(numHashes)
  private lazy val adds = Mix.adds(numHashes)

  override def prettyName: String = "graft_minhash"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    Mix.checkHashableArray(child, prettyName)

  private lazy val elementsAreLongs =
    child.dataType == ArrayType(LongType, containsNull = false) ||
      child.dataType == ArrayType(LongType, containsNull = true)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        // ONE element hash (pre-hashed long arrays just get remixed)
        val h = if (elementsAreLongs) Mix.splitmix64(arr.getLong(i))
                else Mix.hashUtf8(arr.getUTF8String(i))
        var s = 0
        while (s < numHashes) {
          val v = h * mults(s) + adds(s) // wrapping permutation
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("minhashMults", mults, "long[]")
      val ad = ctx.addReferenceObj("minhashAdds", adds, "long[]")
      val i = ctx.freshName("i"); val k = ctx.freshName("k")
      val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
      val h = ctx.freshName("h"); val v = ctx.freshName("v")
      val elemHash =
        if (elementsAreLongs)
          s"graft.functions.Mix$$.MODULE$$.splitmix64($a.getLong($i))"
        else
          s"graft.functions.Mix$$.MODULE$$.hashUtf8($a.getUTF8String($i))"
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $h = $elemHash;
         |    for (int $k = 0; $k < $numHashes; $k++) {
         |      long $v = $h * $m[$k] + $ad[$k];
         |      if ($v < $mins[$k]) $mins[$k] = $v;
         |    }
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignatureExpr = copy(child = newChild)
}

/** array<long> → array<long> ENGINE-SHARED MinHash signature: element
  * values are expected in [0, P) (graft_polyhash outputs), permutation k
  * is the universal hash (modMults(k)·x + modAdds(k)) mod P — arithmetic
  * any SQL engine replays exactly (DuckDB: nested list_transform over
  * inline constant arrays), unlike the wrapping-multiply production
  * signature. Same tight one-loop-per-row shape as
  * [[MinHashSignatureExpr]]; the mod costs ~2× but stays scan-speed. */
case class MinHashModExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  private lazy val mults = Mix.modMults(numHashes)
  private lazy val adds = Mix.modAdds(numHashes)

  override def prettyName: String = "graft_minhash_mod"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<long>, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = Math.floorMod(arr.getLong(i), Mix.P)
        var k = 0
        while (k < numHashes) {
          val v = (mults(k) * x + adds(k)) % Mix.P // < P² ≪ 2⁶³, no wrap
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("minhashModMults", mults, "long[]")
      val ad = ctx.addReferenceObj("minhashModAdds", adds, "long[]")
      val i = ctx.freshName("i"); val k = ctx.freshName("k")
      val n = ctx.freshName("n"); val mins = ctx.freshName("mins")
      val x = ctx.freshName("x"); val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |long[] $mins = new long[$numHashes];
         |java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $x = Math.floorMod($a.getLong($i), 1000000007L);
         |    for (int $k = 0; $k < $numHashes; $k++) {
         |      long $v = ($m[$k] * $x + $ad[$k]) % 1000000007L;
         |      if ($v < $mins[$k]) $mins[$k] = $v;
         |    }
         |  }
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinHashModExpr = copy(child = newChild)
}

/** array<string> → long 64-bit SimHash (sign of per-bit ±1 votes). */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression {

  override def prettyName: String = "graft_simhash"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    Mix.checkStringArray(child, prettyName)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = Mix.hashUtf8(arr.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i"); val b = ctx.freshName("b")
      val n = ctx.freshName("n"); val votes = ctx.freshName("votes")
      val h = ctx.freshName("h"); val sig = ctx.freshName("sig")
      s"""
         |int $n = $a.numElements();
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $h = graft.functions.Mix$$.MODULE$$
         |      .hashUtf8($a.getUTF8String($i));
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SimHash64Expr = copy(child = newChild)
}

/** array<long> → array<long> ENGINE-SHARED SimHash as 4 × 16-bit band
  * values: token hashes (graft_polyhash per occurrence — multiplicity
  * counts) vote ±1 on each of 64 bits via the parity of the universal
  * hash (modMults(j)·x + modAdds(j)) mod P; bit j of the signature is
  * votes(j) > 0, packed as band b = Σ_{j∈[16b,16b+16)} bit_j·2^(j−16b).
  * Band values stay in [0, 2¹⁶) — always positive, so the DuckDB replay
  * (relational votes: per-distinct-token counts × 64 parity rows)
  * needs no sign care, unlike a single packed 64-bit long. */
case class SimHashModExpr(child: Expression) extends UnaryExpression {

  private lazy val mults = Mix.modMults(64)
  private lazy val adds = Mix.modAdds(64)

  override def prettyName: String = "graft_simhash_mod"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<long>, got ${other.sql}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Long](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val x = Math.floorMod(arr.getLong(i), Mix.P)
        var j = 0
        while (j < 64) {
          if ((mults(j) * x + adds(j)) % Mix.P % 2L == 1L) votes(j) += 1
          else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    val out = new Array[Long](4)
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) out(j / 16) |= (1L << (j % 16))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("simhashModMults", mults, "long[]")
      val ad = ctx.addReferenceObj("simhashModAdds", adds, "long[]")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val votes = ctx.freshName("votes")
      val x = ctx.freshName("x"); val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |long[] $votes = new long[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    long $x = Math.floorMod($a.getLong($i), 1000000007L);
         |    for (int $j = 0; $j < 64; $j++) {
         |      if (($m[$j] * $x + $ad[$j]) % 1000000007L % 2L == 1L)
         |        $votes[$j]++; else $votes[$j]--;
         |    }
         |  }
         |}
         |long[] $out = new long[4];
         |for (int $j = 0; $j < 64; $j++) {
         |  if ($votes[$j] > 0) $out[$j / 16] |= (1L << ($j % 16));
         |}
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SimHashModExpr = copy(child = newChild)
}

/** array<float|double> → long: packed sign bits of `planes` pseudo-random
  * hyperplane projections (plane (p,i) weight = ±1 from splitmix64 parity,
  * one tight loop per row — the random-hyperplane LSH family for cosine
  * distance). */
case class HyperplaneLshExpr(child: Expression, planes: Int)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "graft_hyperplane"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.FloatType, _) |
           ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_hyperplane expects array<float|double>, got ${other.sql}")
    }

  private lazy val isFloat = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        // deterministic ±1 weight from splitmix64 parity of (p, i)
        val w = if ((Mix.splitmix64(p.toLong * 1000003L + i) & 1L) == 0L)
          1.0 else -1.0
        acc += x * w
        i += 1
      }
      if (acc >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneLshExpr = copy(child = newChild)
}

/** ENGINE-SHARED twin of [[HyperplaneLshExpr]] — weight(p,i) = +1 iff
  * (modMults(p)·i + modAdds(p)) mod P is odd (the same universal-hash
  * vote parity the shared SimHash uses), and each plane's projection
  * accumulates in INDEX ORDER, so a relational replay (DuckDB
  * list_reduce left fold over the same ±x terms) reproduces the
  * identical IEEE double sum and therefore the identical sign bit.
  * This is what lets the embedding-LSH candidate set (q33d/q34b) sit
  * under the hard oracle, the way graft_minhash_mod did for q33a. */
case class HyperplaneModExpr(child: Expression, planes: Int)
    extends UnaryExpression {

  private lazy val mults = Mix.modMults(planes)
  private lazy val adds = Mix.modAdds(planes)

  override def prettyName: String = "graft_hyperplane_mod"
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.FloatType, _) |
           ArrayType(org.apache.spark.sql.types.DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_hyperplane_mod expects array<float|double>, got ${other.sql}")
    }

  private lazy val isFloat = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var i = 0
      while (i < n) {
        // null elements are SKIPPED (acc unchanged), mirroring the
        // MinHashModExpr/SimHashModExpr siblings; the gated corpora are
        // null-free (FixtureGuardSpec) so the oracle replay never sees
        // one — this guard only fixes the NPE/garbage-read hazard.
        if (!arr.isNullAt(i)) {
          val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          // (a·i + b) mod P < P² ≪ 2⁶³ — no wrap; parity = the ±1 vote
          val odd = ((mults(p) * i + adds(p)) % Mix.P & 1L) == 1L
          acc += (if (odd) x else -x)
        }
        i += 1
      }
      if (acc >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val m = ctx.addReferenceObj("hyperplaneModMults", mults, "long[]")
      val ad = ctx.addReferenceObj("hyperplaneModAdds", adds, "long[]")
      val i = ctx.freshName("i"); val p = ctx.freshName("p")
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val x = ctx.freshName("x"); val bucket = ctx.freshName("bucket")
      val getElem = if (isFloat) s"(double) $a.getFloat($i)"
                    else s"$a.getDouble($i)"
      // IDENTICAL op order to nullSafeEval: per plane, index-order
      // double adds — the IEEE sum (hence the sign bit) is bit-equal
      // across interpreted, codegen, and the DuckDB left fold.
      s"""
         |int $n = $a.numElements();
         |long $bucket = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i)) {
         |      double $x = $getElem;
         |      if ((($m[$p] * $i + $ad[$p]) % 1000000007L & 1L) == 1L)
         |        $acc += $x; else $acc += -$x;
         |    }
         |  }
         |  if ($acc >= 0) $bucket |= (1L << $p);
         |}
         |${ev.value} = $bucket;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): HyperplaneModExpr = copy(child = newChild)
}

object SignatureExprs {

  private def intArg(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  /** Listed in `graft.SqlSurface.natives` and registered by
    * [[register]]. */
  val functions: Seq[Native.Function] = Seq(
    Native("graft_minhash", classOf[MinHashSignatureExpr],
        "(array, numHashes)") {
      case Seq(arr, n) => MinHashSignatureExpr(arr, intArg(n)) },
    Native("graft_minhash_mod", classOf[MinHashModExpr],
        "(array, numHashes)") {
      case Seq(arr, n) => MinHashModExpr(arr, intArg(n)) },
    Native("graft_simhash_mod", classOf[SimHashModExpr], "(array)") {
      case Seq(arr) => SimHashModExpr(arr) },
    Native("graft_hyperplane", classOf[HyperplaneLshExpr],
        "(array, planes)") {
      case Seq(arr, n) => HyperplaneLshExpr(arr, intArg(n)) },
    Native("graft_hyperplane_mod", classOf[HyperplaneModExpr],
        "(array, planes)") {
      case Seq(arr, n) => HyperplaneModExpr(arr, intArg(n)) },
    Native("graft_simhash", classOf[SimHash64Expr], "(array)") {
      case Seq(arr) => SimHash64Expr(arr) },
    Native("graft_polyhash", classOf[PolyHashExpr], "(string)") {
      case Seq(str) => PolyHashExpr(str) },
    Native("graft_polyhash2", classOf[PolyHash2Expr], "(string)") {
      case Seq(str) => PolyHash2Expr(str) },
    Native("graft_rollhash", classOf[RollHashExpr], "(string)") {
      case Seq(str) => RollHashExpr(str) })

  /** Register the signature functions on a live session:
    * `graft_minhash(arr, n)`, `graft_hyperplane(arr, p)`,
    * `graft_simhash(arr)`. */
  def register(spark: SparkSession): Unit = Native.register(spark, functions)
}
