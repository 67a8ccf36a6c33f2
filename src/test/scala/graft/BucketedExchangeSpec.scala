package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Files

import graft.operators.CdcApply
import graft.streaming.{StreamingJoinView, StreamingRollup}

/** Shuffle count of each bucketed merge's state WRITE, read off the
  * executed plan a [[QueryExecutionListener]] receives (through AQE's
  * final plan and its query stages; a cached batch counts as a scan —
  * its own exchanges ran before the epoch). Each epoch is measured on a
  * 3-partition input over 16 buckets, twice: a 200-key epoch (every
  * bucket touched, the protocol clusters) and a 1-key epoch (one
  * bucket of a narrow batch, it does not). Every merge is one keyed
  * aggregate, so it runs ONE shuffle either way — the aggregate's
  * exchange is also the clustering exchange. The Mongo replica adds
  * one: the window of `lastChangePerKeyMongo`, which picks each key's
  * change before the merge.
  */
class BucketedExchangeSpec extends SparkSpec {

  private val Buckets = 16

  private val plans =
    new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  private lazy val listening = spark.listenerManager.register(
    new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

  /** Every node of `p`, through AQE's final plan, its query stages and
    * inner children (a cached relation's plan is not a SparkPlan child,
    * so it is not entered).
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children ++ other.innerChildren.collect {
      case c: SparkPlan => c }
  }).flatMap(nodes)

  /** Output paths of the file writes in `p`. */
  private def writes(p: SparkPlan): Seq[String] = nodes(p).collect {
    case d: DataWritingCommandExec => d.cmd
  }.collect {
    case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
  }

  /** Shuffles of the write of `stateDir`'s epoch `batchId` (listener
    * events arrive asynchronously — poll for the one naming its path).
    */
  private def writeShuffles(stateDir: String, batchId: Long): Int = {
    val path = s"$stateDir/state-$batchId"
    val deadline = System.nanoTime() + 30e9.toLong
    def find = plans.toArray(Array.empty[QueryExecution]).find(
      qe => writes(qe.executedPlan).exists(_.endsWith(path)))
    while (find.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    nodes(find.getOrElse(fail(s"no write plan for $path")).executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])
  }

  private def threeParts(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, 3).toDF("partitionKey", "value")
  }

  private def env(k: Int, epoch: Long): (String, String) =
    (s"db.t.$k", s"""{"after":{"event_id":"$k","value":"$epoch"},""" +
      s""""source":{"ts_ms":${1000L + epoch},"pos":$k},"op":"u",""" +
      s""""ts_ms":${1000L + epoch}}""")

  /** Seed epoch 0, then the 200-key epoch 1 and the 1-key epoch 2:
    * the write shuffles of epochs 1 and 2 under each named state dir.
    */
  private def measure(dirs: Seq[String])(
      advance: (Seq[Int], Long) => Unit): Seq[(Int, Int)] = {
    listening
    val wide = 0 until 200
    advance(wide, 0L)
    advance(wide, 1L)
    advance(Seq(7), 2L)
    dirs.map(d => (writeShuffles(d, 1L), writeShuffles(d, 2L)))
  }

  test("versioned replica: one shuffle on a 200-key and on a 1-key epoch") {
    val dir = Files.createTempDirectory("graft_xv").toString
    val got = measure(Seq(dir)) { (keys, e) =>
      CdcApply.materializerVersioned(spark, dir, Buckets)(
        threeParts(keys.map(env(_, e))), e)
    }
    assert(got == Seq((1, 1)))
  }

  test("plain replica: one shuffle on a 200-key and on a 1-key epoch") {
    val dir = Files.createTempDirectory("graft_xp").toString
    val got = measure(Seq(dir)) { (keys, e) =>
      CdcApply.materializer(spark, dir, Buckets)(
        threeParts(keys.map(env(_, e))), e)
    }
    assert(got == Seq((1, 1)))
  }

  test("Mongo replica: its window plus the merge, two shuffles on a " +
      "200-key and on a 1-key epoch") {
    def mongoEnv(k: Int, epoch: Long): (String, String) = {
      val doc = s"""{"event_id":"$k","value":"$epoch"}"""
        .replace("\"", "\\\"")
      (s"db.t.$k", s"""{"_id":"evt_$k","operationType":"update",""" +
        s""""fullDocument":"$doc","ts_ms":${1000L + epoch}}""")
    }
    val dir = Files.createTempDirectory("graft_xm").toString
    val got = measure(Seq(dir)) { (keys, e) =>
      CdcApply.materializerMongo(spark, dir, Buckets)(
        threeParts(keys.map(mongoEnv(_, e))), e)
    }
    assert(got == Seq((2, 2)))
  }

  test("signed rollup: one shuffle on a 200-group and on a 1-group " +
      "epoch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_xr").toString
    val got = measure(Seq(dir)) { (keys, e) =>
      StreamingRollup.materializerSigned(spark, dir, Seq("g"),
        Seq("v_sum" -> "v"), "s", Buckets)(
        spark.sparkContext.parallelize(keys.map(k => (s"g$k", e, 1)), 3)
          .toDF("g", "v", "s"), e)
    }
    assert(got == Seq((1, 1)))
  }

  test("join view: both side advances and the view advance run one " +
      "shuffle on a 200-key and on a 1-key epoch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_xj").toString
    val got = measure(Seq("left", "right", "view").map(s => s"$root/$s")) {
      (keys, e) =>
        def side(k: String, v: String) = spark.sparkContext
          .parallelize(keys.map(i => (i.toLong, e * 1000L + i)), 3)
          .toDF(k, v)
        StreamingJoinView.materializerSigned(spark, root, Seq("lk"),
          Seq("rk"), None, None, Buckets)(side("lk", "lv"),
          side("rk", "rv"), e)
    }
    assert(got == Seq((1, 1), (1, 1), (1, 1)))
  }
}
