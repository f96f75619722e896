package graft.functions

import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The 64-bit SimHash of a document in ONE map-side pass:
  * `simhash_sig(text)` = [hi, lo], bit-identical to
  * the aggregate reference form (test-scope `DedupReference.simHash`
  * over `DedupReference.wordSet`) (reference near-dup flow:
  * tools/dedup/simhash analogue).
  *
  * The aggregate formulation pays TWO corpus-wide exchanges before a
  * signature exists: `wordSet`'s `.distinct()` shuffles every
  * exploded (doc, word) occurrence, then the 64-column vote
  * aggregation shuffles the distinct pairs again. Here the distinct
  * is an in-row hash set and the votes accumulate in a 64-int local
  * array — the signature never leaves the row, so simhash becomes a
  * pure map operator (the right shape at 100 TB, where the word
  * explode dominates the job).
  *
  * Semantics reproduced exactly from the aggregate form:
  *   - tokens = split(text, "\\s+") (Spark split, limit -1); votes
  *     are over the DISTINCT token set (±1 per distinct word per bit);
  *   - per word one md5: h1 = hex chars [0,8) as uint32 (digest
  *     bytes 0-3), h2 = hex chars [8,16) (bytes 4-7);
  *   - vote j of a half = bit (31 - j) of the parsed 32-bit value,
  *     mapped to ±1; bit set iff the vote sum is STRICTLY positive;
  *   - lo packs h1's bits j=0..31 as b<<j, hi packs h2's — matching
  *     `simHash`'s (simhash_hi, simhash_lo) layout and the DuckDB
  *     per-hex-digit oracle replay digit-for-digit;
  *   - null text yields NULL (the aggregate form drops the doc at
  *     the explode); empty text tokenizes to the single empty word,
  *     exactly as Spark's split does.
  *
  * A Catalyst expression (not a UDF): codegen emits one static call
  * and the surrounding scan→projection stays in WholeStageCodegen.
  */
case class SimHashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    SimHashSig.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimHashSig.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashSig {
  import org.apache.spark.sql.GraftExpressionBridge._

  private val Ws = Pattern.compile("\\s+")
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Java entry point shared by interpreted eval and generated code.
    * Returns [simhash_hi, simhash_lo]. */
  def compute(text: UTF8String): ArrayData = {
    val toks = Ws.split(text.toString, -1)
    val seen = new java.util.HashSet[String](Math.max(16, toks.length * 2))
    // vote sums per bit: [0,32) = lo half (md5 bytes 0-3),
    // [32,64) = hi half (bytes 4-7)
    val votes = new Array[Int](64)
    val md = md5.get()
    var t = 0
    while (t < toks.length) {
      val w = toks(t)
      if (seen.add(w)) {
        md.reset()
        val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val h1 = beInt(d, 0)
        val h2 = beInt(d, 4)
        var j = 0
        while (j < 32) {
          votes(j) += (((h1 >>> (31 - j)) & 1) << 1) - 1
          votes(j + 32) += (((h2 >>> (31 - j)) & 1) << 1) - 1
          j += 1
        }
      }
      t += 1
    }
    var hi = 0L
    var lo = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) lo |= 1L << j
      if (votes(j + 32) > 0) hi |= 1L << j
      j += 1
    }
    new GenericArrayData(Array(hi, lo))
  }

  private def beInt(b: Array[Byte], off: Int): Int = {
    var v = 0
    var i = 0
    while (i < 4) { v = (v << 8) | (b(off + i) & 0xff); i += 1 }
    v
  }

  /** Column wrapper: [simhash_hi, simhash_lo] of `text`'s distinct
    * word set, or NULL for null text. */
  def signature(text: Column): Column =
    toColumn(SimHashSig(toExpression(text)))
}
