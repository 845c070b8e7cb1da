package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.sim.{Cluster, Similarity}
import graft.text.Dedup

/** The pair-join core of the near-dup family (`ops/Pairs`): the bucket
  * self-join every batch pair generator runs, and the source guard that
  * keeps it the only one. */
class PairsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Every Exchange a plan subtree reads, by identity: down through query
    * stages and into the exchange a ReusedExchange stands for. */
  private def exchanges(p: SparkPlan): Set[SparkPlan] = p match {
    case r: ReusedExchangeExec => exchanges(r.child)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => e.children.flatMap(exchanges).toSet + e
    case other => other.children.flatMap(exchanges).toSet
  }

  /** Every join of the finalized plan whose two sides read the SAME
    * exchanges — the bucket Exchange itself, or, where AQE drops the bucket
    * repartition because the keyed frame is already partitioned on the key,
    * the exchanges beneath it; either way no shuffle runs twice. */
  private def selfJoins(df: DataFrame): Seq[BaseJoinExec] = {
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case s: QueryStageExec => all(s.plan)
      case other => other.children.flatMap(all)
    })
    all(df.queryExecution.executedPlan).collect {
      case j: BaseJoinExec
          if exchanges(j.left).nonEmpty && exchanges(j.left) == exchanges(j.right) => j
    }
  }

  /** Every operator the finalized plan runs: down through query stages,
    * but not into the exchange a ReusedExchange stands for (it ran once,
    * where it first appears). */
  private def ran(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => ran(a.executedPlan)
    case s: QueryStageExec => ran(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other.children.flatMap(ran)
  })

  /** Every text with an exact copy, a one-token edit and a half-length
    * quote, so each generator finds pairs and AQE prunes no join as empty. */
  private def quoteCorpus(rng: scala.util.Random): DataFrame = {
    import spark.implicits._
    (0L until 60L).flatMap { i =>
      val ws = Seq.fill(30)(s"w${rng.nextInt(400)}")
      Seq(ws, ws, ws.updated(rng.nextInt(30), "edit"), ws.take(15))
        .zipWithIndex.map { case (t, k) => (4 * i + k, t.mkString(" ")) }
    }.toDF("doc_id", "text")
  }

  test("batch pair generators: one-read shuffle_hash bucket self-join") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val docs = quoteCorpus(rng)
    val emb = (1L to 200L).map(i => (i, Seq.fill(16)(rng.nextGaussian())))
      .toDF("vec_id", "embedding")
    val cents = emb.where(col("vec_id") <= 4).orderBy("vec_id")
      .select(Cluster.quantize(col("embedding")).as("q"))
      .collect().map(_.getSeq[Long](0).toVector).toVector
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "Dedup.minhashLsh" -> (() => Dedup.minhashLsh(docs, "text", "doc_id", threshold = 0.5)),
      "Dedup.minhashPairs" -> (() => Dedup.minhashPairs(docs, "text", "doc_id", threshold = 0.5)),
      "Dedup.minhashVerifiedPairs" ->
        (() => Dedup.minhashVerifiedPairs(docs, "text", "doc_id", threshold = 0.5)),
      "Dedup.simhashPairs" -> (() => Dedup.simhashPairs(docs, "text", "doc_id")),
      "Dedup.ngramJaccardPairs" ->
        (() => Dedup.ngramJaccardPairs(docs, "text", "doc_id", threshold = 0.5)),
      "Dedup.containmentVerifiedPairs" ->
        (() => Dedup.containmentVerifiedPairs(docs, "text", "doc_id", threshold = 0.8)),
      "Similarity.cosineDupPairs" ->
        (() => Similarity.cosineDupPairs(emb, "vec_id", "embedding", dim = 16, threshold = -1.0)),
      "Cluster.semanticDupPairs" ->
        (() => Cluster.semanticDupPairs(emb, "vec_id", "embedding", cents, threshold = -1.0)))
    val runs = cases.map { case (name, op) =>
      val df = op()
      df.collect() // finalize THIS dataset before walking it (invariant 8)
      val joins = selfJoins(df)
      ((name, joins.size, joins.forall(_.isInstanceOf[ShuffledHashJoinExec])),
        df.queryExecution.executedPlan.toString)
    }
    val want = cases.map { case (name, _) => (name, 1, true) }
    assert(runs.map(_._1) == want, runs.collect {
      case ((name, n, shj), plan) if (n, shj) != ((1, true)) => s"$name:\n$plan"
    }.mkString("\n"))
  }

  /** The finalized plan's shuffles (each once), and those keyed on a doc
    * id: the by-id gram-array fetch and the candidate dedup. */
  private def containmentShuffles(docs: DataFrame) = {
    val df = Dedup.containmentVerifiedPairs(docs, "text", "doc_id", threshold = 0.8)
    assert(df.collect().nonEmpty) // finalize THIS dataset (invariant 8)
    val ops = ran(df.queryExecution.executedPlan)
    val shuffles = ops.collect { case e: ShuffleExchangeExec => e }
    val byId = shuffles.filter(_.outputPartitioning match {
      case HashPartitioning(Seq(k), _) =>
        k.references.map(_.name).toSet.subsetOf(Set("__id", "id_a", "id_b"))
      case _ => false
    })
    (df, ops, shuffles, byId, df.queryExecution.executedPlan.toString)
  }

  test("containmentVerifiedPairs verifies in the bucket: 3 shuffles, none " +
      "keyed on a doc id, the postings ⋈ kept-keys join runs once") {
    // short closed-vocabulary docs, the first 20 with a quoted opening:
    // few shared fingerprints per doc, so the arrays ride the bucket
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val closed = (0L until 200L).map(i => i -> Seq.fill(10 + rng.nextInt(31))(s"v${rng.nextInt(30)}"))
    val docs = (closed ++ closed.take(20).map { case (i, ws) => (i + 1000L, ws.take(12)) })
      .map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("doc_id", "text")
    val (df, ops, shuffles, byId, plan) = containmentShuffles(docs)
    // the df aggregate, the fingerprint bucket (its second side reused)
    // and the dedup of the verified pairs; no by-id gram-array fetch
    assert(shuffles.size == 3, plan)
    assert(byId.isEmpty, plan)
    assert(ops.count {
      case j: BaseJoinExec => j.joinType == LeftSemi
      case _ => false
    } == 1, plan)
    assert(selfJoins(df).size == 1, plan)
  }

  test("containmentVerifiedPairs fetches arrays by id where carrying them " +
      "would ship more: long near-duplicate pages") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val pages = (0L until 8L).map(i => i -> Seq.fill(200)(s"p${rng.nextInt(100000)}"))
    val docs = (pages ++ pages.map { case (i, ws) => (i + 100L, ws.updated(100, "edit")) } :+
        (200L -> pages.head._2.slice(50, 80)))
      .map { case (i, ws) => (i, ws.mkString(" ")) }.toDF("doc_id", "text")
    val (df, _, shuffles, byId, plan) = containmentShuffles(docs)
    // the bucket carries no array; the fetch and the candidate dedup are
    // keyed on doc ids
    val bucket = shuffles.filter(_.outputPartitioning match {
      case HashPartitioning(Seq(k), _) => k.references.map(_.name).toSet == Set("__key")
      case _ => false
    })
    assert(bucket.nonEmpty, plan)
    assert(!bucket.exists(_.output.exists(_.dataType.isInstanceOf[ArrayType])), plan)
    assert(byId.nonEmpty, plan)
    assert(selfJoins(df).size == 1, plan)
  }

  test("one pair-join core: bucket self-joins, array fetches and the probe " +
      "broadcast gate appear only in Pairs") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val pairs = root.resolve("graft/ops/Pairs.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != pairs).toSeq
    assert(files.nonEmpty)
    val aliasedId = """.*\.as\("id_[ab]"\).*"""
    val hits = for {
      p: Path <- files
      lines = Files.readAllLines(p).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      // an id_a/id_b-aliased side with a shuffle_hash join right after it
      selfJoin = line.matches(aliasedId) &&
        lines.slice(i, i + 4).exists(_.contains("hint(\"shuffle_hash\")"))
      if selfJoin || line.contains("as(\"g_a\")") || line.contains("as(\"g_b\")") ||
        line.contains("useBroadcast") || line.contains("broadcastMaxProbeDocs")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString(
      "pair-join plumbing outside graft.ops.Pairs (use selfJoin / bucketJoin / " +
        "withArrays / probeSide):\n", "\n", ""))
  }
}
