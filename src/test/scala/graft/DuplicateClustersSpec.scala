package graft

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.text.Dedup

/** `Dedup.duplicateClusters` (per-partition union-find, then label rounds
  * on the root graph when the contraction left several partitions) against
  * its reference, the plain label rounds of `Dedup.labelRounds`. Every
  * input runs at one partition (the shared session: AQE coalesces a small
  * pair list into one task, the path with no label round) and at four (a
  * session with coalescing off: the root-graph path). */
class DuplicateClustersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val fourParts: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }

  private def rows(df: DataFrame): Set[(Any, Any)] =
    df.collect().map(r => (r.get(0), r.get(1))).toSet

  /** The contracted labels equal the reference at one and four partitions,
    * with the reference's column names and types. */
  private def sameAsRounds(name: String, pairs: DataFrame): Unit =
    for (s <- Seq(spark, fourParts)) {
      val df = s.createDataFrame(pairs.rdd, pairs.schema)
      val got = Dedup.duplicateClusters(df)
      val want = Dedup.labelRounds(df)._1
      assert(got.schema.map(f => f.name -> f.dataType) ==
        want.schema.map(f => f.name -> f.dataType), name)
      assert(rows(got) == rows(want), s"$name at ${s.conf.get("spark.sql.shuffle.partitions")} partitions")
    }

  test("duplicateClusters equals the label rounds on random graphs, chain, star, duplicate/reversed/self pairs") {
    for (seed <- 1 to 4) {
      val r = new Random(seed)
      val pairs = Seq.fill(120)((1L + r.nextInt(150), 1L + r.nextInt(150)))
      sameAsRounds(s"random seed $seed", pairs.toDF("id_a", "id_b"))
    }
    sameAsRounds("20-hop chain", (1L until 21L).map(i => (i, i + 1)).toDF("id_a", "id_b"))
    sameAsRounds("reversed 20-hop chain", (1L until 21L).map(i => (i + 1, i)).toDF("id_a", "id_b"))
    sameAsRounds("star", (1L to 30L).map(i => (50L, if (i == 7) 3L else 100L + i))
      .toDF("id_a", "id_b"))
    sameAsRounds("duplicate, reversed and self pairs",
      Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L), (3L, 4L), (4L, 3L), (9L, 9L), (2L, 4L))
        .toDF("id_a", "id_b"))
  }

  test("duplicateClusters keeps Int ids Int and gives no rows for no pairs") {
    sameAsRounds("Int ids", Seq((5, 2), (2, 9), (11, 10)).toDF("id_a", "id_b"))
    assert(Dedup.duplicateClusters(Seq((5, 2)).toDF("id_a", "id_b")).schema.map(_.dataType) ==
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
    sameAsRounds("no pairs", Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(Dedup.duplicateClusters(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).collect().isEmpty)
  }

  test("duplicateClusters: a null id connects nothing and comes out once as (null, null)") {
    // the output of the label-rounds-only implementation on this input,
    // recorded before the contraction was added
    val pairs = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L)), (None, None),
      (Some(7L), Some(8L))).toDF("id_a", "id_b")
    val want: Set[(Any, Any)] = Set((1L, 1L), (2L, 1L), (5L, 5L), (7L, 7L), (8L, 7L), (null, null))
    for (s <- Seq(spark, fourParts))
      assert(rows(Dedup.duplicateClusters(s.createDataFrame(pairs.rdd, pairs.schema))) == want)
  }

  test("duplicateClusters on a one-task pair list runs at most 3 jobs through collect") {
    val pairs = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ((out, rounds), jobs) = TestSpark.jobsOf {
      val (labels, rounds) = Dedup.duplicateClustersWithRounds(pairs)
      (labels.collect(), rounds)
    }
    assert(out.map(_.getLong(1)).toSet == Set(1L) && out.length == 200)
    assert(rounds == 0 && jobs <= 3, s"$rounds rounds, $jobs jobs")
    // the same list over four partitions takes the root-graph path
    val (labels4, rounds4) = Dedup.duplicateClustersWithRounds(
      fourParts.createDataFrame(pairs.rdd, pairs.schema))
    assert(rounds4 > 0 && labels4.collect().toSet == out.toSet)
  }
}
