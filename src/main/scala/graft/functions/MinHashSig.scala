package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the FULL minhash signature of a
  * document in one pass — `array<bigint>` of length `numHashes` where
  * `sig[i] = min over word-bigram shingles of (a_i * h + b_i) % P`,
  * with `h` = first 32 bits of md5(shingle) and (a_i, b_i, P) the
  * exact [[graft.operators.DedupOps]] universal-hash constants.
  *
  * Bit-identical to the explode→groupBy reference form
  * (`DedupOps.signaturesFrom`: shingle_hashes → explode →
  * `numHashes` min() aggregates) because a minimum is insensitive to
  * duplicates — so this pass skips `array_distinct`'s LinkedHashSet
  * entirely and folds every bigram occurrence directly into a
  * `long[numHashes]` buffer. What the aggregate form pays and this
  * does not: materializing one row per (doc, shingle), the per-row
  * 1+numHashes aggregate-buffer updates through the hash-aggregate
  * machinery, and a shuffle of (numHashes+1)-column partial rows per
  * doc. Here the signature never leaves the document's partition —
  * the plan stays a narrow codegen map over the documents scan,
  * which is the shape that survives a 1000-executor 100 TB corpus
  * (zero exchange, linear in corpus bytes).
  *
  * Documents with fewer than 2 tokens have no shingles and return
  * NULL, like a NULL text: unsignable is one null test for callers
  * (`isnotnull`), matching their absence from the aggregate form's
  * groupBy output.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires STRING input, got ${child.dataType.catalogString}")
    else if (numHashes <= 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires numHashes > 0, got $numHashes")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any =
    MinHashSig.signature(input.asInstanceOf[UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""${ev.value} = graft.functions.MinHashSig.signature($c, $numHashes);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

object MinHashSig {
  import graft.operators.DedupOps.{coeffA, coeffB, P}

  // (a_i, b_i) prefix arrays per signature width, built once per width
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def coeffs(n: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(n, { m =>
      (Array.tabulate(m)(coeffA), Array.tabulate(m)(coeffB))
    })

  def signature(text: UTF8String, n: Int): ArrayData = {
    // tokenization contract: Spark's split(text, ' ') with limit -1
    // (all empty tokens kept) — identical to ShingleHashes
    val toks = text.toString.split(" ", -1)
    if (toks.length < 2) return null
    val (a, b) = coeffs(n)
    val sig = new Array[Long](n)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < toks.length - 1) {
      val d = md.digest((toks(i) + " " + toks(i + 1))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 8 hex chars of md5 = bytes 0..3 as an unsigned 32-bit
      // value — the same h ShingleHashes feeds the aggregate form
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var j = 0
      while (j < n) {
        // a_i <= 767 and h < 2^32 keep a_i*h + b_i far below 2^63
        val v = (a(j) * h + b(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Column form. */
  def minhash_sig(c: Column, numHashes: Int): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(c), numHashes))
}
