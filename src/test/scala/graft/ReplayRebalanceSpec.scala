package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.sources.CdcReplay

/** `CdcReplay.batch` round-robins only a scan narrower than the cores:
  * a parquet `events` directory of at least `defaultParallelism` splits
  * goes straight into the envelope with no `Exchange`, and deciding that
  * runs no Spark job beyond the schema read every parquet scan makes;
  * the single-row-group fixture keeps its rebalance.
  */
class ReplayRebalanceSpec extends SparkSpec {

  private def plan(dir: String) = CdcReplay.batch(spark, dir).queryExecution.executedPlan

  test("a scan of defaultParallelism splits plans no exchange and runs no job") {
    val cores = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft_replay_wide").toString
    graft.queries.Tables.events(spark, sf).limit(2000).repartition(2 * cores)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // reading the parquet schema is a job of its own, in either plan
    val read = jobsOf(graft.queries.Tables.events(spark, dir).queryExecution.executedPlan)
    assert(read._1.execute().getNumPartitions >= cores)
    val wide = jobsOf(plan(dir))
    assert(!wide._1.toString.contains("Exchange"), wide._1)
    assert(wide._2 == read._2)
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val marker = "replay-rebalance-marker"
    val jobs = new AtomicInteger()
    val markers = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markers.incrementAndGet()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      // listener events arrive in order: once the marker job is seen,
      // every job started before it has been counted
      sc.setJobDescription(marker)
      try sc.parallelize(1 to 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (markers.get == 0 && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markers.get == 1)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("the single-row-group fixture keeps its round robin") {
    val narrow = plan(sf).toString
    assert(narrow.contains("RoundRobinPartitioning"), narrow)
  }
}
