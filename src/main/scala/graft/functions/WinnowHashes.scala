package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native Catalyst expression: WINNOWED fingerprints of a token array —
  * the sorted distinct minima of every `w`-window over the POSITIONAL
  * word-n-gram hash stream (Schleimer, Wilkerson & Aiken, "Winnowing:
  * local algorithms for document fingerprinting", SIGMOD 2003 — the MOSS
  * scheme).
  *
  * This is the candidate generator for asymmetric containment at scale:
  * each document keeps ~`2/(w+1)` of its gram hashes, and the winnowing
  * GUARANTEE holds — any contiguous shared token run of at least
  * `w + n − 1` tokens between two documents yields at least one shared
  * fingerprint (every length-`w` gram window inside the run selects the
  * same minimum in both documents). Quotation/subset detection — the
  * workload [[graft.text.Dedup.containmentPairs]] exists for — is exactly
  * the contiguous case, so recall for quotes of ≥ `w + n − 1` words is
  * DETERMINISTIC, not probabilistic; scattered (non-contiguous) overlap
  * is found with probability rising in the shared mass, the documented
  * lossy trade of every sketch-candidate path
  * ([[graft.text.Dedup.minhashVerifiedPairs]]'s banding makes the same
  * one).
  *
  * Gram hashes are positional (one per window start, multiplicity and
  * order preserved) but use the SAME token-hash chaining as
  * [[NgramHashes]], so a shared token run produces identical gram hash
  * runs in both documents. Ties inside a window select the RIGHTMOST
  * minimal hash (the paper's robust-winnowing choice, made deterministic
  * here by position). Short docs (fewer than `w` grams) emit the single
  * minimum of all their grams — never an empty fingerprint set for a
  * non-empty token array. */
case class WinnowHashes(first: Expression, second: Expression,
                        third: Expression) extends TernaryExpression {

  override def prettyName: String = "graft_winnow_hashes"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = first.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string> tokens, foldable int n, " +
          "foldable int w)")
    }

  override def nullSafeEval(tokensAny: Any, nAny: Any, wAny: Any): Any =
    WinnowHashes.compute(tokensAny.asInstanceOf[ArrayData],
      nAny.asInstanceOf[Int], wAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (tokens, n, w) =>
      s"${ev.value} = graft.functions.WinnowHashes.compute($tokens, $n, $w);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object WinnowHashes {

  def compute(tokens: ArrayData, n: Int, w: Int): ArrayData = {
    val total = tokens.numElements()
    // null elements skipped (SQL can hand the kernel any array: degrade
    // like filter(x -> x IS NOT NULL), never NPE)
    var len = 0
    var j = 0
    while (j < total) { if (!tokens.isNullAt(j)) len += 1; j += 1 }
    val tokenHashes = new Array[Long](len)
    var i = 0
    j = 0
    while (j < total) {
      if (!tokens.isNullAt(j)) {
        tokenHashes(i) = XXH64.hashUTF8String(tokens.getUTF8String(j), 42L)
        i += 1
      }
      j += 1
    }
    // positional gram hashes — same chaining as NgramHashes, but kept in
    // window order and WITH multiplicity (winnowing is positional)
    val count = math.max(len - n + 1, if (len > 0) 1 else 0)
    if (count == 0) return new GenericArrayData(new Array[Long](0))
    val grams = new Array[Long](count)
    i = 0
    while (i < count) {
      var h = 42L
      var k = i
      val end = math.min(i + n, len)
      while (k < end) { h = XXH64.hashLong(tokenHashes(k), h); k += 1 }
      grams(i) = h
      i += 1
    }
    // winnow: rightmost minimum of each w-window; windows = count−w+1
    // (min 1 — short docs fingerprint their global minimum)
    val windows = math.max(count - w + 1, 1)
    val sel = new Array[Long](windows)
    var nSel = 0
    var prevPos = -1
    i = 0
    while (i < windows) {
      val end = math.min(i + w, count)
      var minPos = i
      var k = i + 1
      while (k < end) { if (grams(k) <= grams(minPos)) minPos = k; k += 1 }
      if (minPos != prevPos) {
        sel(nSel) = grams(minPos); nSel += 1; prevPos = minPos
      }
      i += 1
    }
    // sorted distinct — the join key set
    val out = java.util.Arrays.copyOf(sel, nSel)
    java.util.Arrays.sort(out)
    var o = 0
    i = 0
    while (i < nSel) {
      if (i == 0 || out(i) != out(i - 1)) { out(o) = out(i); o += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, o))
  }
}
