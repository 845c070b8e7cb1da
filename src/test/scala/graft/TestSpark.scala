package graft

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `df`'s rows on a new session of the shared context with `n` shuffle
    * partitions — how a spec varies the slice count of an operator that
    * takes it from its frame's session. */
  def withShufflePartitions(df: DataFrame, n: Int): DataFrame = {
    val s = df.sparkSession.newSession()
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    s.createDataFrame(df.rdd, df.schema)
  }

  /** `body`'s result and the number of Spark jobs it launched on this
    * thread: a listener counts job starts tagged with a fresh job group,
    * read after the listener bus has drained. */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-test-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    TestBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val r = body
      TestBus.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
