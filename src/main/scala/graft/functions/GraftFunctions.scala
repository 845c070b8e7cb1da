package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnShim

/** Wiring for graft's native Catalyst expressions.
  *
  * Operator code builds kernels BY EXPRESSION: one typed Column builder
  * per kernel, the expression injected directly into the Column through
  * [[org.apache.spark.sql.graft.ColumnShim]]. No function registry is
  * consulted, so an analysed plan holds the same expression whichever
  * session analyses it — a plan rooted at a store-read frame, or a
  * `foreachBatch` frame on a cloned session, resolves without any
  * per-session registration. Literal parameters are typed (`n: Int`),
  * exactly the foldable int/bool/binary literals each kernel checks for.
  *
  * The SQL face is for SQL users only: [[register]] (per session) and
  * [[GraftExtensions]] (at session build) install the same `graft_*`
  * names from ONE table, [[descriptors]]. */
object GraftFunctions {

  private def e(c: Column): Expression = ColumnShim.expression(c)
  private def c(x: Expression): Column = ColumnShim.column(x)

  // ---- typed Column builders (operator code uses these) ----

  /** The graft latin tokenizer ([[GraftTokens]]). */
  def tokens(text: Column, keepAccents: Boolean, dropEmpty: Boolean): Column =
    c(GraftTokens(e(text), Literal(keepAccents), Literal(dropEmpty)))
  def cosine(a: Column, b: Column): Column = c(CosineSimilarity(e(a), e(b)))
  def minhash(tokens: Column, numHashes: Int): Column =
    c(MinHashSig(e(tokens), Literal(numHashes)))
  def simhash(tokens: Column): Column = c(SimHashSig(e(tokens)))
  def jaccardSorted(a: Column, b: Column): Column = c(JaccardSorted(e(a), e(b)))
  def sortedIntersect(a: Column, b: Column): Column = c(SortedIntersect(e(a), e(b)))
  def ngramHashes(tokens: Column, n: Int): Column =
    c(NgramHashes(e(tokens), Literal(n)))
  def minhashLong(grams: Column, numHashes: Int): Column =
    c(MinHashLong(e(grams), Literal(numHashes)))
  def srpKeys(vec: Column, nBits: Int, nTables: Int): Column =
    c(SrpKeys(e(vec), Literal(nBits), Literal(nTables)))
  def eqPositions(a: Column, b: Column): Column = c(EqPositions(e(a), e(b)))
  def bloomMightContain(value: Column, bloom: Array[Byte]): Column =
    c(BloomMightContain(e(value), Literal(bloom)))
  /** Aggregate: use inside `agg(...)`. */
  def topK(item: Column, k: Int, capacity: Int): Column =
    c(TopKSketch(e(item), k, capacity).toAggregateExpression())
  def scrubRepeats(text: Column): Column = c(ScrubRepeats(e(text)))
  def charEntropy(text: Column): Column = c(CharEntropy(e(text)))
  def dsirBuckets(tokens: Column, buckets: Int): Column =
    c(DsirBuckets(e(tokens), Literal(buckets)))
  def tokenBuckets(tokens: Column, buckets: Int): Column =
    c(TokenBuckets(e(tokens), Literal(buckets)))
  def repetitionStats(tokens: Column, topN: Int, dupN: Int): Column =
    c(RepetitionStats(e(tokens), Literal(topN), Literal(dupN)))
  def deflateLen(text: Column): Column = c(DeflateLen(e(text)))
  def bootstrapWeights(key: Column, nReplicates: Int, salt: String): Column =
    c(BootstrapWeights(e(key), Literal(nReplicates), Literal(salt)))
  def cmsBuckets(item: Column, depth: Int, hexChars: Int): Column =
    c(CmsBuckets(e(item), Literal(depth), Literal(hexChars)))
  def winnowHashes(tokens: Column, n: Int, w: Int): Column =
    c(WinnowHashes(e(tokens), Literal(n), Literal(w)))

  // ---- SQL face ----

  type Descriptor = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn[E <: Expression: ClassTag](name: String)(
      build: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name),
      new ExpressionInfo(implicitly[ClassTag[E]].runtimeClass.getName, name), build)

  /** Every SQL-visible kernel: name → builder over the resolved arguments. */
  val descriptors: Seq[Descriptor] = Seq(
    fn[CosineSimilarity]("graft_cosine")(a => CosineSimilarity(a(0), a(1))),
    fn[MinHashSig]("graft_minhash")(a => MinHashSig(a(0), a(1))),
    fn[SimHashSig]("graft_simhash")(a => SimHashSig(a(0))),
    fn[JaccardSorted]("graft_jaccard_sorted")(a => JaccardSorted(a(0), a(1))),
    fn[SortedIntersect]("graft_sorted_intersect")(a => SortedIntersect(a(0), a(1))),
    fn[NgramHashes]("graft_ngram_hashes")(a => NgramHashes(a(0), a(1))),
    fn[MinHashLong]("graft_minhash_long")(a => MinHashLong(a(0), a(1))),
    fn[SrpKeys]("graft_srp_keys")(a => SrpKeys(a(0), a(1), a(2))),
    fn[EqPositions]("graft_eq_positions")(a => EqPositions(a(0), a(1))),
    fn[BloomMightContain]("graft_bloom_might_contain")(a => BloomMightContain(a(0), a(1))),
    fn[TopKSketch]("graft_topk")(TopKSketch.fromExprs),
    fn[ScrubRepeats]("graft_scrub_repeats")(a => ScrubRepeats(a(0))),
    fn[CharEntropy]("graft_char_entropy")(a => CharEntropy(a(0))),
    fn[DsirBuckets]("graft_dsir_buckets")(a => DsirBuckets(a(0), a(1))),
    fn[TokenBuckets]("graft_token_buckets")(a => TokenBuckets(a(0), a(1))),
    fn[RepetitionStats]("graft_repetition_stats")(a => RepetitionStats(a(0), a(1), a(2))),
    fn[DeflateLen]("graft_deflate_len")(a => DeflateLen(a(0))),
    fn[BootstrapWeights]("graft_bootstrap_weights")(a => BootstrapWeights(a(0), a(1), a(2))),
    fn[CmsBuckets]("graft_cms_buckets")(a => CmsBuckets(a(0), a(1), a(2))),
    fn[WinnowHashes]("graft_winnow_hashes")(a => WinnowHashes(a(0), a(1), a(2))))

  /** Installs every [[descriptors]] name into this session's function
    * registry, for `expr("graft_…")` / SQL. Idempotent per registry:
    * names already present (an earlier call, or [[GraftExtensions]]) are
    * left as they are. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}

/** Session-build wiring: `.withExtensions(new GraftExtensions)` injects the
  * same [[GraftFunctions.descriptors]] as [[GraftFunctions.register]], plus
  * the [[graft.plans.RangeJoinRewrite]] optimizer rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
  }
}
