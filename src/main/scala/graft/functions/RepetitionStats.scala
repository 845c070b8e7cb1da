package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: the Gopher n-gram repetition statistics of
  * ONE document, computed per row with no explode and no shuffle —
  * `struct(nchars, top_cover, dup_chars, tot_chars)` over a token array:
  *
  *  - `nchars`     = `length(array_join(tokens, " "))` (Σ len + gaps);
  *  - `top_cover`  = max over topN-grams of `count · gramLen` (NULL when
  *    the doc is too short for a topN-gram);
  *  - `dup_chars`  = Σ over dupN-grams seen more than once of
  *    `count · gramLen` (NULL when no dupN-gram);
  *  - `tot_chars`  = Σ over all dupN-grams of `count · gramLen`.
  *
  * `gramLen` is the character length of `concat_ws(" ", gram tokens)` =
  * Σ token lens + (n−1), via a prefix-sum — gram strings never
  * materialize; gram identity is the XXH64-chained token-hash combination
  * (same chaining as [[NgramHashes]]; 64-bit collisions would merge two
  * gram counts, same documented odds as the gram-string xxhash64 it
  * replaced).
  *
  * Replaces the tagged-explode → per-doc groupBy topology
  * ([[graft.text.Repetition.withNgramRepetitionShuffle]], kept as the
  * differential-spec reference): the metric is per-document LOCAL, so the
  * gram shuffle bought nothing, and the explode re-evaluated the
  * gram-builder HOF under the Generate's inferred `size > 0` filter
  * (CLAUDE.md invariant 6 — measured r11: 28 s → map-only at sf0.1). At
  * 100 TB this is the difference between a map-only scan and shuffling
  * every gram of the corpus. */
case class RepetitionStats(first: Expression, second: Expression,
                           third: Expression) extends TernaryExpression {

  override def prettyName: String = "graft_repetition_stats"
  override def dataType: DataType = StructType(Seq(
    StructField("nchars", LongType, nullable = false),
    StructField("top_cover", LongType, nullable = true),
    StructField("dup_chars", LongType, nullable = true),
    StructField("tot_chars", LongType, nullable = true)))
  override def nullable: Boolean = first.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType)
        if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable int topN, foldable int dupN)")
    }

  override def nullSafeEval(t: Any, topN: Any, dupN: Any): Any =
    RepetitionStats.compute(t.asInstanceOf[ArrayData],
      topN.asInstanceOf[Int], dupN.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, topN, dupN) =>
      s"${ev.value} = graft.functions.RepetitionStats.compute($t, $topN, $dupN);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object RepetitionStats {

  /** (Σ count·glen over all grams, Σ count·glen over grams with count>1,
    * max count·glen) of the n-grams of the hashed tokens; null marker −1
    * when the doc has no n-gram. */
  private def gramStats(tokenHashes: Array[Long], lenPrefix: Array[Long],
                        n: Int): (Long, Long, Long) = {
    val count = tokenHashes.length - n + 1
    if (count <= 0) return (-1L, -1L, -1L)
    // gram hash → (count, glen)
    val m = new java.util.HashMap[java.lang.Long, Array[Long]](count * 2)
    var i = 0
    while (i < count) {
      var h = 42L
      var j = i
      while (j < i + n) { h = XXH64.hashLong(tokenHashes(j), h); j += 1 }
      val glen = lenPrefix(i + n) - lenPrefix(i) + (n - 1)
      val cur = m.get(h)
      if (cur == null) m.put(h, Array(1L, glen)) else cur(0) += 1L
      i += 1
    }
    var tot = 0L; var dup = 0L; var top = 0L
    val it = m.values().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cover = e(0) * e(1)
      tot += cover
      if (e(0) > 1L) dup += cover
      if (cover > top) top = cover
    }
    (tot, dup, top)
  }

  def compute(tokens: ArrayData, topN: Int, dupN: Int): InternalRow = {
    val total = tokens.numElements()
    // Null elements are skipped (also a SQL function — a
    // null-element array must degrade like filter(x -> x IS NOT NULL)
    // upstream, not NPE; r11 advice).
    var n = 0
    var j = 0
    while (j < total) { if (!tokens.isNullAt(j)) n += 1; j += 1 }
    val hashes = new Array[Long](n)
    val lenPrefix = new Array[Long](n + 1)
    var i = 0
    j = 0
    while (j < total) {
      if (!tokens.isNullAt(j)) {
        val t = tokens.getUTF8String(j)
        hashes(i) = XXH64.hashUTF8String(t, 42L)
        lenPrefix(i + 1) = lenPrefix(i) + t.numChars()
        i += 1
      }
      j += 1
    }
    val nchars = if (n == 0) 0L else lenPrefix(n) + (n - 1)
    val (_, _, topCover) = gramStats(hashes, lenPrefix, topN)
    val (tot, dup, _) = gramStats(hashes, lenPrefix, dupN)
    new GenericInternalRow(Array[Any](
      nchars,
      if (topCover < 0) null else topCover,
      if (tot < 0) null else dup,
      if (tot < 0) null else tot))
  }
}
