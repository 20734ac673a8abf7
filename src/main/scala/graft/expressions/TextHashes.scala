package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text-hash kernels as codegen'd expressions: the MinHash
  * signature and SimHash fingerprint computed per document in a single
  * projection, instead of the explode → per-shingle hashing → groupBy
  * formulation (which pays a row explosion of ×shingles plus a shuffle
  * just to aggregate the minima/sums back per document).
  *
  * The aggregation formulations remain in [[graft.ops.Shingles]] — they
  * mirror the DuckDB oracle CTE-for-CTE and serve as the differential
  * twin (TextHashesSpec pins bit-equality of both paths). The
  * expressions exist for the PLAN: signature generation becomes
  * embarrassingly parallel with zero shuffle, which is the shape you
  * want feeding a 100 TB LSH banding stage.
  *
  * The shingle-overlap kernel ([[ShingleJaccardExpr]],
  * [[ShingleOverlapExpr]]) is the verification side of the same ladder:
  * the exact distinct 3-gram intersection of two documents from one
  * hash-set pass, where the array formulation built each shingle SET as
  * strings through interpreted higher-order functions and intersected
  * them — and Catalyst copied those projections into every filter and
  * join condition it pushed a Jaccard threshold into.
  *
  * Codegen note: like Spark's own regexp/json expressions, doGenCode
  * emits a call to a static runtime helper — the loop-heavy hashing
  * lives in ordinary JVM code, the generated code stays inside the
  * WholeStageCodegen span, and the interpreted `nullSafeEval` twin uses
  * the identical helper so both paths are one implementation.
  */
object TextHashes {
  private val hex = "0123456789abcdef".toCharArray

  // MessageDigest.getInstance walks the JCA provider list and allocates on
  // every call — this is the hottest loop in the dedup ladder (2 digests
  // per shingle in minhash, 1 per token in simhash), so reuse one instance
  // per thread. digest() leaves the instance reset for the next call.
  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private def md5Hex(s: String): String = {
    val md = md5Local.get()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hex((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hex(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private val seedPrefix =
    Array("0:", "1:").map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private val hexBytes = hex.map(_.toByte)

  /** Feeds the UTF-8 bytes of `u` to `md` in place (no String, no copy
    * for the usual on-heap value). */
  private def update(md: java.security.MessageDigest, u: UTF8String): Unit =
    u.getBaseObject match {
      case a: Array[Byte] =>
        md.update(a, (u.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt,
          u.numBytes)
      case _ => md.update(u.getBytes)
    }

  /** 8 lowercase hex digits of `v` read as unsigned. */
  private def hex8(v: Int): UTF8String = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) {
      b(i) = hexBytes((v >>> (28 - 4 * i)) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(b)
  }

  /** 8-slice one-permutation MinHash over word 3-gram shingles — per
    * document, two seeded md5s per shingle, each split into four 8-hex
    * slices, minimum per slice. Null when the
    * document has fewer than 3 tokens (no shingles — mirrors the
    * aggregation path, where such docs produce no signature row).
    *
    * Works on bytes: the seed prefix, the three tokens and their
    * separating spaces go straight into the digest (the same bytes as
    * the UTF-8 of `seed:w1 w2 w3`), and each slice is the big-endian
    * unsigned int of four digest bytes, whose unsigned order is the
    * lexicographic order of its 8 hex digits. Only the 8 winners are
    * rendered as hex. */
  def minhashSliced(words: ArrayData): GenericArrayData = {
    val n = words.numElements()
    if (n < 3) return null
    val w = Array.tabulate(n)(words.getUTF8String)
    val md = md5Local.get()
    val d = new Array[Byte](16)
    val mins = Array.fill(8)(-1) // 0xffffffff, the unsigned maximum
    var i = 0
    while (i + 2 < n) {
      var seed = 0
      while (seed < 2) {
        md.update(seedPrefix(seed))
        update(md, w(i)); md.update(' '.toByte)
        update(md, w(i + 1)); md.update(' '.toByte)
        update(md, w(i + 2))
        md.digest(d, 0, 16)
        var k = 0
        while (k < 4) {
          val v = ((d(4 * k) & 0xff) << 24) | ((d(4 * k + 1) & 0xff) << 16) |
            ((d(4 * k + 2) & 0xff) << 8) | (d(4 * k + 3) & 0xff)
          val j = 4 * seed + k
          if (Integer.compareUnsigned(v, mins(j)) < 0) mins(j) = v
          k += 1
        }
        seed += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(hex8))
  }

  /** The distinct word 3-grams of one token array, hashed into an
    * open-addressing table of gram start positions (slot = start + 1,
    * 0 = empty). Two grams are equal when their three tokens are
    * byte-equal. */
  private final class Grams(val w: Array[UTF8String]) {
    val n: Int = math.max(w.length - 2, 0)
    private val gh: Array[Int] = {
      val h = w.map(_.hashCode)
      Array.tabulate(n) { i =>
        var x = h(i) * 0x9e3779b1 ^ h(i + 1)
        x = x * 0x9e3779b1 ^ h(i + 2)
        x ^ (x >>> 16)
      }
    }
    private val slots = {
      var c = 2
      while (c < 2 * n) c <<= 1
      new Array[Int](c)
    }
    private val mask = slots.length - 1

    private def same(i: Int, o: Grams, j: Int): Boolean =
      w(i) == o.w(j) && w(i + 1) == o.w(j + 1) && w(i + 2) == o.w(j + 2)

    /** Slot holding a gram equal to `o`'s gram `j`, else the empty slot
      * where it would go. */
    private def find(o: Grams, j: Int): Int = {
      var p = o.gh(j) & mask
      while (slots(p) != 0 && !same(slots(p) - 1, o, j)) p = (p + 1) & mask
      p
    }

    /** Adds gram `j` of this array; false when an equal one is in. */
    def add(j: Int): Boolean = {
      val p = find(this, j)
      val fresh = slots(p) == 0
      if (fresh) slots(p) = j + 1
      fresh
    }

    def contains(o: Grams, j: Int): Boolean = slots(find(o, j)) != 0
  }

  private def tokens(a: ArrayData): Array[UTF8String] =
    if (a == null) Array.empty
    else Array.tabulate(a.numElements())(a.getUTF8String)

  /** (|A ∩ B|, |A|, |B|) over the DISTINCT word 3-gram shingle sets of
    * two token arrays — the counts of `array_intersect` and `size` over
    * [[graft.ops.Shingles.shingleSetOfWords]] of each side, from one
    * hash-set pass per side and no shingle string. A null or
    * under-3-token array has the empty set. The tokens must hold no
    * space, as those of a whitespace split never do: then equal token
    * triples are exactly equal space-joined shingle strings. */
  def shingleCounts(a: ArrayData, b: ArrayData): Array[Int] = {
    val ga = new Grams(tokens(a))
    val gb = new Grams(tokens(b))
    var na = 0
    var i = 0
    while (i < ga.n) { if (ga.add(i)) na += 1; i += 1 }
    var ni = 0
    var nb = 0
    var j = 0
    while (j < gb.n) {
      if (gb.add(j)) {
        nb += 1
        if (ga.contains(gb, j)) ni += 1
      }
      j += 1
    }
    Array(ni, na, nb)
  }

  /** Exact distinct word 3-gram Jaccard |A ∩ B| / |A ∪ B| of two token
    * arrays (see [[shingleCounts]]), the double `ni / (na + nb - ni)`
    * that SQL computes from those counts; NaN when both sets are empty
    * (the expression turns that into null). */
  def shingleJaccard(a: ArrayData, b: ArrayData): Double = {
    val c = shingleCounts(a, b)
    val union = c(1) + c(2) - c(0)
    if (union == 0) Double.NaN else c(0).toDouble / union
  }

  /** [[shingleCounts]] as a (ni, na, nb) struct value. */
  def shingleOverlap(a: ArrayData, b: ArrayData): InternalRow = {
    val c = shingleCounts(a, b)
    new GenericInternalRow(Array[Any](c(0), c(1), c(2)))
  }

  /** 64-bit SimHash over tokens as four 16-bit chunks — per token, the
    * md5's first 16 hex digits parse to 64 bits; each bit votes ±1; a
    * chunk packs its 16 bit-signs MSB-first. */
  def simhash64(words: ArrayData): GenericArrayData = {
    val votes = new Array[Int](64)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      val h = md5Hex(words.getUTF8String(i).toString)
      var j = 0
      while (j < 4) {
        val v = java.lang.Long.parseLong(h.substring(4 * j, 4 * j + 4), 16)
        var b = 0
        while (b < 16) {
          if (((v >> (15 - b)) & 1L) == 1L) votes(16 * j + b) += 1
          else votes(16 * j + b) -= 1
          b += 1
        }
        j += 1
      }
      i += 1
    }
    val chunks = new Array[Long](4)
    var j = 0
    while (j < 4) {
      var c = 0L
      var b = 0
      while (b < 16) {
        if (votes(16 * j + b) > 0) c |= (1L << (15 - b))
        b += 1
      }
      chunks(j) = c
      j += 1
    }
    new GenericArrayData(chunks)
  }
}

/** words: array&lt;string&gt; → array&lt;string&gt;(8) MinHash signature
  * (null under 3 tokens). */
case class MinHashSlicedExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sliced"

  override def nullSafeEval(input: Any): Any =
    TextHashes.minhashSliced(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val code = nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.expressions.TextHashes.minhashSliced($c);
         |${ev.isNull} = (${ev.value} == null);
         |""".stripMargin)
    code
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** words: array&lt;string&gt; → array&lt;long&gt;(4) SimHash chunks. */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType)
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    TextHashes.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextHashes.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** (words a, words b) → exact distinct word 3-gram Jaccard of the two
  * documents ([[TextHashes.shingleJaccard]]); null when neither has 3
  * tokens. A null array counts as an empty document, as in its test
  * twin, `shingleSetOfWords` + `array_intersect`. */
case class ShingleJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_jaccard"

  override def eval(input: InternalRow): Any = {
    val r = TextHashes.shingleJaccard(
      left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData])
    if (r.isNaN) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      |${l.code}
      |${r.code}
      |double ${ev.value} = graft.expressions.TextHashes.shingleJaccard(
      |  ${l.isNull} ? null : ${l.value}, ${r.isNull} ? null : ${r.value});
      |boolean ${ev.isNull} = java.lang.Double.isNaN(${ev.value});
      |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** (words a, words b) → struct(ni, na, nb) of distinct word 3-gram
  * shingle counts ([[TextHashes.shingleCounts]]), for callers that need
  * more than the Jaccard (containment). Never null. */
case class ShingleOverlapExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StructType(Seq("ni", "na", "nb")
    .map(StructField(_, IntegerType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_overlap"

  override def eval(input: InternalRow): Any =
    TextHashes.shingleOverlap(
      left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = code"""
      |${l.code}
      |${r.code}
      |InternalRow ${ev.value} = graft.expressions.TextHashes.shingleOverlap(
      |  ${l.isNull} ? null : ${l.value}, ${r.isNull} ? null : ${r.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
