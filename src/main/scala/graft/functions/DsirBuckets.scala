package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native Catalyst expression: PORTABLE md5 bucket ids of the unigrams ++
  * bigrams of a token array — the hashed-feature stream of
  * [[graft.text.Dsir]] / [[graft.text.Classifier]] in one kernel pass.
  *
  * Bucket semantics are bit-identical to the Column form
  * `conv(substring(md5(gram),1,15),16,10) % buckets` (the cross-engine
  * contract every DSIR/NB oracle replays in DuckDB): the first 15 hex
  * digits of the md5 of the gram's UTF-8 bytes are the high 60 bits of the
  * digest's first 8 bytes, taken mod `buckets`. Bigram bytes are fed to
  * the digest incrementally (`tok₁ ⧺ ' ' ⧺ tok₂`) so gram strings never
  * materialize; each token's bytes are extracted once and reused by both
  * grams that reference it.
  *
  * Replaces a per-gram expression chain (HOF transform + concat_ws +
  * md5 + hex substring + base-16 conv + decimal cast) that dominated the
  * DSIR family's runtime (measured r11: the scorer materialization was
  * ~8 s at sf0.1, ~4× the whole rest of the entry) — and, being ONE
  * array-in/array-out expression on a materialized attribute, it is
  * structurally immune to the CollapseProject / InferFiltersFromGenerate
  * re-evaluation traps (CLAUDE.md invariant 6).
  *
  * Output order is unigrams then bigrams; multiplicity preserved (DSIR
  * counts occurrences). Empty array → empty output; single token → one
  * unigram. */
case class DsirBuckets(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_dsir_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable int buckets)")
    }

  override def nullSafeEval(tokensAny: Any, bucketsAny: Any): Any =
    DsirBuckets.compute(tokensAny.asInstanceOf[ArrayData],
      bucketsAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (tokens, buckets) =>
      s"${ev.value} = graft.functions.DsirBuckets.compute($tokens, $buckets);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DsirBuckets {

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val Space = Array[Byte](' '.toByte)

  /** High 60 bits of the digest's first 8 bytes ≡ the value of the first
    * 15 hex digits of the md5 hex string. */
  private def bucket60(digest: Array[Byte], buckets: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
    (v >>> 4) % buckets
  }

  /** Non-null token bytes, in order. The kernels are also SQL functions
    * (`graft_dsir_buckets` / `graft_token_buckets`, installed by
    * [[GraftFunctions.register]] or [[GraftExtensions]]), so arbitrary
    * SQL can hand them arrays with null elements — those are
    * SKIPPED (treated as absent; neighbours become bigram-adjacent),
    * matching what `filter(arr, x -> x IS NOT NULL)` upstream would
    * produce, instead of crashing with a raw NPE (r11 advice). */
  private def nonNullBytes(tokens: ArrayData): Array[Array[Byte]] = {
    val total = tokens.numElements()
    val buf = new java.util.ArrayList[Array[Byte]](total)
    var i = 0
    while (i < total) {
      if (!tokens.isNullAt(i)) buf.add(tokens.getUTF8String(i).getBytes)
      i += 1
    }
    buf.toArray(new Array[Array[Byte]](buf.size))
  }

  def compute(tokens: ArrayData, buckets: Int): ArrayData = {
    val bytes = nonNullBytes(tokens)
    val n = bytes.length
    val out = new Array[Long](if (n >= 2) 2 * n - 1 else n)
    if (n == 0) return new GenericArrayData(out)
    val d = md.get()
    var k = 0
    var i = 0
    while (i < n) {
      d.reset()
      d.update(bytes(i))
      out(k) = bucket60(d.digest(), buckets); k += 1
      i += 1
    }
    i = 0
    while (i < n - 1) {
      d.reset()
      d.update(bytes(i)); d.update(Space); d.update(bytes(i + 1))
      out(k) = bucket60(d.digest(), buckets); k += 1
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Unigram-only variant (the NB classifier's feature gate). */
  def computeUnigrams(tokens: ArrayData, buckets: Int): ArrayData = {
    val bytes = nonNullBytes(tokens)
    val n = bytes.length
    val out = new Array[Long](n)
    val d = md.get()
    var i = 0
    while (i < n) {
      d.reset()
      d.update(bytes(i))
      out(i) = bucket60(d.digest(), buckets)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Unigram-only md5 bucket ids of a token array — same portable gate as
  * [[DsirBuckets]] without the bigrams ([[graft.text.Classifier]]'s
  * feature stream). */
case class TokenBuckets(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_token_buckets"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = left.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, foldable int buckets)")
    }

  override def nullSafeEval(tokensAny: Any, bucketsAny: Any): Any =
    DsirBuckets.computeUnigrams(tokensAny.asInstanceOf[ArrayData],
      bucketsAny.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (tokens, buckets) =>
      s"${ev.value} = graft.functions.DsirBuckets.computeUnigrams($tokens, $buckets);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
