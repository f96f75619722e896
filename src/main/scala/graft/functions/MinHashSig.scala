package graft.functions

import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The whole MinHash signature of a document in ONE map-side pass:
  * `minhash_sig(text, k, n)[i]` = min over the document's word
  * k-gram shingles of hash function i from the same Carter-Wegman
  * family the aggregate reference form (test-scope
  * `DedupReference.minHash`) aggregates — bit-identical
  * output, ZERO shuffle.
  *
  * This is the 100 TB-shaped front end of the LSH dedup pipeline
  * (reference near-dup flow: tools/dedup/minhash.rs analogue): the
  * aggregate formulation pays the corpus's full (doc, shingle)
  * explode into a hash-aggregate (map-side combined, but every
  * shingle row still passes through the operator and its hash
  * table); here the signature never leaves the row it came from, so
  * the FIRST exchange of the whole dedup chain becomes the (already
  * tiny) band-bucket shuffle. The shingle relation is still derived
  * where a consumer genuinely needs the rows (jaccard posting lists
  * — candidate-restricted by then).
  *
  * Semantics reproduced exactly from the aggregate form:
  *   - tokens = split(text, "\\s+")  (Spark split, limit -1);
  *   - documents with fewer than k tokens yield NULL (the aggregate
  *     form drops them via `filter(size(toks) >= k)`);
  *   - shingle string = the k tokens joined by a single space
  *     (concat_ws over non-null strings);
  *   - per shingle, one md5: h1 = top 60 bits of digest bytes 0-7,
  *     h2 = top 60 bits of bytes 8-15 (= hex chars [1..15] and
  *     [17..31] of Spark's md5() hex form);
  *   - h_i = (h1 + (i*h2hi mod 2^30)*2^30 + i*h2lo) mod 2^60 with
  *     h2 split at 2^30 so every intermediate stays < 2^61 — exact
  *     in int64, matching the DuckDB oracle replay digit-for-digit.
  *
  * A Catalyst expression (not a UDF, not a chain of interpreted
  * higher-order functions): codegen emits one static call and the
  * surrounding scan→filter→band projection stays inside
  * WholeStageCodegen.
  */
case class MinHashSig(child: Expression, k: Int, n: Int)
    extends UnaryExpression {
  require(k >= 1, s"shingle size k must be >= 1, got $k")
  require(n >= 1 && n <= 64, s"signature width n must be in [1,64], got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], k, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      // compute() returns null for < k tokens — propagate as SQL NULL
      s"""
         |${ev.value} = graft.functions.MinHashSig.compute($a, $k, $n);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  import org.apache.spark.sql.GraftExpressionBridge._

  private val Ws = Pattern.compile("\\s+")
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private final val Space = ' '.toByte
  private final val Mask60 = (1L << 60) - 1 // values are taken mod 2^60
  private final val Mask30 = (1L << 30) - 1

  /** Java entry point shared by interpreted eval and generated code.
    * Returns null when the text has fewer than k whitespace tokens. */
  def compute(text: UTF8String, k: Int, n: Int): ArrayData = {
    val toks = Ws.split(text.toString, -1)
    val m = toks.length - k + 1
    if (m <= 0) return null
    // token bytes once (shingles overlap k times; re-encoding per
    // shingle would be O(n·k) UTF-8 conversions)
    val tb = new Array[Array[Byte]](toks.length)
    var t = 0
    while (t < toks.length) {
      tb(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      t += 1
    }
    val mins = new Array[Long](n)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val md = md5.get()
    var i = 0
    while (i < m) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(Space)
        md.update(tb(i + j))
        j += 1
      }
      val d = md.digest()
      // top 60 bits of bytes 0-7 / 8-15 = hex chars [0,15) / [16,31)
      val h1 = (beLong(d, 0) >>> 4) & Mask60
      val h2 = (beLong(d, 8) >>> 4) & Mask60
      val h2hi = h2 >>> 30
      val h2lo = h2 & Mask30
      var f = 0
      while (f < n) {
        val v = (h1 + (f * h2hi % 1073741824L) * 1073741824L + f * h2lo) %
          1152921504606846976L
        if (v < mins(f)) mins(f) = v
        f += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  private def beLong(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  /** Column wrapper: the n-wide minhash signature of `text`'s word
    * k-gram shingle set, or NULL for documents shorter than k tokens. */
  def signature(text: Column, k: Int, n: Int): Column =
    toColumn(MinHashSig(toExpression(text), k, n))
}
