package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the dedup family — the one place the
  * built-in function set genuinely can't express the operation efficiently
  * (SURVEY §4): popcount over BinaryType bitsets. `bit_count` exists only
  * for integral types; computing Jaccard over set-bitmaps with built-ins
  * would mean exploding the bitmap back to rows.
  *
  * `BitsetJaccard` participates in whole-stage codegen (`doGenCode` emits a
  * primitive byte loop); `TokensToBitset` is an eval-mode builder for the
  * bitmap column. Registered via [[GraftFunctions.register]] (runtime) or
  * [[GraftExtensions]] (`spark.sql.extensions=graft.plans.GraftExtensions`).
  */
final case class BitsetJaccard(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "bitset_jaccard"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected (binary, binary), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    var inter = 0
    var union = 0
    val n = math.max(x.length, y.length)
    var i = 0
    while (i < n) {
      val xb = if (i < x.length) x(i) & 0xFF else 0
      val yb = if (i < y.length) y(i) & 0xFF else 0
      inter += java.lang.Integer.bitCount(xb & yb)
      union += java.lang.Integer.bitCount(xb | yb)
      i += 1
    }
    if (union == 0) 0.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val inter = ctx.freshName("inter")
      val union = ctx.freshName("union")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val xb = ctx.freshName("xb")
      val yb = ctx.freshName("yb")
      s"""
         |int $inter = 0;
         |int $union = 0;
         |int $n = Math.max($a.length, $b.length);
         |for (int $i = 0; $i < $n; $i++) {
         |  int $xb = $i < $a.length ? ($a[$i] & 0xFF) : 0;
         |  int $yb = $i < $b.length ? ($b[$i] & 0xFF) : 0;
         |  $inter += java.lang.Integer.bitCount($xb & $yb);
         |  $union += java.lang.Integer.bitCount($xb | $yb);
         |}
         |${ev.value} = $union == 0 ? 0.0 : ((double) $inter) / $union;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Directional set containment |A∩B| / |A| over BinaryType bitsets — the
  * Broder containment coefficient. Jaccard misses near-SUPERSET
  * duplication (a page quoting another whole document scores low on
  * union-normalized overlap but ~1.0 on containment of the smaller side),
  * so the dedup family needs both. Asymmetric by design: `bitset_contain(a,
  * b)` normalizes by |a|. 0.0 when |a| = 0. Same codegen shape as
  * [[BitsetJaccard]] — one primitive byte loop inside whole-stage codegen. */
final case class BitsetContain(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "bitset_contain"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected (binary, binary), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    var inter = 0
    var card = 0
    var i = 0
    while (i < x.length) {
      val xb = x(i) & 0xFF
      val yb = if (i < y.length) y(i) & 0xFF else 0
      inter += java.lang.Integer.bitCount(xb & yb)
      card += java.lang.Integer.bitCount(xb)
      i += 1
    }
    if (card == 0) 0.0 else inter.toDouble / card
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val inter = ctx.freshName("inter")
      val card = ctx.freshName("card")
      val i = ctx.freshName("i")
      val xb = ctx.freshName("xb")
      val yb = ctx.freshName("yb")
      s"""
         |int $inter = 0;
         |int $card = 0;
         |for (int $i = 0; $i < $a.length; $i++) {
         |  int $xb = $a[$i] & 0xFF;
         |  int $yb = $i < $b.length ? ($b[$i] & 0xFF) : 0;
         |  $inter += java.lang.Integer.bitCount($xb & $yb);
         |  $card += java.lang.Integer.bitCount($xb);
         |}
         |${ev.value} = $card == 0 ? 0.0 : ((double) $inter) / $card;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sequential dot product over two ARRAY<DOUBLE> columns — codegen'd
  * replacement for `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (s,x) -> s+x)`:
  * higher-order functions evaluate INTERPRETED per row (lambda closures), so
  * the brute-force ANN scans spent their time in eval overhead rather than
  * multiply-adds. The fold order is identical (index-ascending multiply,
  * left-to-right add), so results stay bit-equal to the HOF formulation and
  * DuckDB's `list_dot_product` — the determinism contract of the similarity
  * oracle suite. */
final case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected (array<double>, array<double>), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Build a bitset (BINARY) from an array of tokens and a vocab map
  * (token -> bit index). Eval-mode (the bitmap build is off the hot loop —
  * one per row vs O(n) jaccard comparisons per row). */
final case class TokensToBitset(tokens: Expression, vocab: Expression)
    extends BinaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def left: Expression = tokens
  override def right: Expression = vocab
  override def dataType: DataType = BinaryType
  override def prettyName: String = "tokens_to_bitset"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (tokens.dataType, vocab.dataType) match {
      case (ArrayType(StringType, _), MapType(StringType, IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected (array<string>, map<string,int>), got $other")
    }
  }

  override protected def nullSafeEval(toks: Any, voc: Any): Any = {
    val arr = toks.asInstanceOf[ArrayData]
    val map = voc.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
    // materialize vocab lookup (small, per-row; callers should pass a
    // foldable literal so this folds to a constant map)
    val keys = map.keyArray()
    val vals = map.valueArray()
    val lookup = new java.util.HashMap[UTF8String, Int](map.numElements())
    var i = 0
    while (i < map.numElements()) {
      lookup.put(keys.getUTF8String(i), vals.getInt(i))
      i += 1
    }
    var maxBit = -1
    var j = 0
    while (j < map.numElements()) { maxBit = math.max(maxBit, vals.getInt(j)); j += 1 }
    val out = new Array[Byte](maxBit / 8 + 1)
    var t = 0
    while (t < arr.numElements()) {
      val idx = lookup.get(arr.getUTF8String(t))
      if (idx != null) out(idx >> 3) = (out(idx >> 3) | (1 << (idx & 7))).toByte
      t += 1
    }
    out
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(tokens = newLeft, vocab = newRight)
}

/** Build a fixed-width hashed token fingerprint (BINARY bitset) from an
  * array of tokens: bit index = first 5 hex digits of md5(token), taken as
  * a base-16 integer, mod `width`. No vocabulary, no driver state — the
  * fingerprint of a document is computable anywhere from the tokens alone,
  * which is what makes the d06 verify path scale-independent of vocabulary
  * size (vs the map-literal vocab variant, whose plan grew with the
  * corpus). The identical function is expressible in ANSI SQL (md5 +
  * hex-digit arithmetic), so the oracle reproduces it bit-for-bit.
  * Eval-mode ([[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback]]):
  * one build per row, off the O(candidates) jaccard hot loop. */
final case class TokensToHashBitset(tokens: Expression, width: Expression)
    extends BinaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def left: Expression = tokens
  override def right: Expression = width
  override def dataType: DataType = BinaryType
  override def prettyName: String = "tokens_to_hashbits"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (tokens.dataType, width.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected (array<string>, int), got $other")
    }

  // MessageDigest is stateful and not thread-safe; the same expression
  // instance can be evaluated concurrently (driver-side constant folding
  // next to task eval in local mode), so the digest is task-thread-local
  @transient private lazy val md5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  override protected def nullSafeEval(toks: Any, w: Any): Any = {
    val arr = toks.asInstanceOf[ArrayData]
    val bits = w.asInstanceOf[Int]
    require(bits > 0 && bits % 8 == 0, s"width must be a positive multiple of 8, got $bits")
    val md = md5.get()
    val out = new Array[Byte](bits / 8)
    var t = 0
    while (t < arr.numElements()) {
      val d = md.digest(arr.getUTF8String(t).getBytes)
      // first 5 hex digits = top 20 bits of the digest, big-endian
      val hex5 = ((d(0) & 0xFF) << 12) | ((d(1) & 0xFF) << 4) | ((d(2) & 0xF0) >> 4)
      val idx = hex5 % bits
      out(idx >> 3) = (out(idx >> 3) | (1 << (idx & 7))).toByte
      t += 1
    }
    out
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(tokens = newLeft, width = newRight)
}
