package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Files

import graft.operators.{CdcApply, ExactlyOnce}
import graft.streaming.{StateKeys, StreamingJoinView, StreamingRollup}

/** Randomized equivalence of the bucketed merges — each one aggregate
  * grouped on (__bucket, key) over the protocol's clustering step —
  * against an INDEPENDENT batch reference: the [[CdcApply
  * .applyBatchVersioned]] fold (with and without a tombstone horizon),
  * the [[CdcApply.applyBatch]] fold for the plain MySQL replica, the
  * `applyChanges ∘ lastChangePerKeyMongo` fold for the Mongo one, the
  * from-scratch signed aggregate, and the bag join of every ingested
  * row. The random epochs alternate wide ones (> 4 touched buckets:
  * the protocol clusters) with near-empty ones (≤ 4 buckets of a
  * narrow batch: it does not), so every state mixes clustered and
  * unclustered versions; each case also reads the write plans and
  * asserts that exactly the wide epochs clustered. Batches include
  * out-of-order versions, deletes, retractions and within-batch
  * duplicates.
  */
class FusedAdvanceSpec extends SparkSpec {

  private val Buckets = 16

  /** Every node of `p`, through AQE's final plan and its query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children ++ other.innerChildren.collect {
      case c: SparkPlan => c }
  }).flatMap(nodes)

  /** Output path of each file write -> whether its plan holds the
    * protocol's clustering `repartition` (a REPARTITION_BY_NUM exchange).
    */
  private val clustered =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private lazy val listening = spark.listenerManager.register(
    new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val all = nodes(qe.executedPlan)
        val byNum = all.exists {
          case s: ShuffleExchangeExec => s.shuffleOrigin == REPARTITION_BY_NUM
          case _ => false
        }
        all.collect { case d: DataWritingCommandExec => d.cmd }.collect {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        }.foreach(clustered.put(_, byNum))
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

  /** Asserts that the write of `stateDir`'s epoch e clustered exactly
    * when `touched(e)` > 4 (listener events arrive asynchronously —
    * poll for each path).
    */
  private def assertClustering(stateDir: String, touched: Seq[Long]): Unit =
    touched.zipWithIndex.foreach { case (n, e) =>
      val path = s"$stateDir/state-$e"
      val deadline = System.nanoTime() + 30e9.toLong
      def find = scala.jdk.CollectionConverters.MapHasAsScala(clustered)
        .asScala.collectFirst { case (p, c) if p.endsWith(path) => c }
      while (find.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      assert(find.contains(n > 4),
        s"$path: $n touched buckets, clustered ${find.getOrElse("?")}")
    }

  /** Touched buckets per epoch of the epochs' state keys (column
    * `__k`), asserting that both shapes occur: ≤ 4 and > 4.
    */
  private def assertBothShapes(epochs: Seq[DataFrame]): Seq[Long] = {
    val touched = epochs.map(_.select(ExactlyOnce.bucketOf("__k", Buckets))
      .distinct().count())
    assert(touched.exists(_ <= 4) && touched.exists(_ > 4),
      s"touched buckets per epoch: $touched")
    touched
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def env(key: String, eid: Long, et: String, v: Long,
      tsMs: Long, pos: Long, op: String): (String, String) = {
    val before =
      if (op == "d" || op == "u")
        s""""before":{"event_id":"$eid","event_type":"$et","value":"${v - 1}"},"""
      else ""
    (key,
      s"""{"after":${if (op == "d") "null"
        else s"""{"event_id":"$eid","event_type":"$et","value":"$v"}"""},
         |$before"source":{"ts_ms":$tsMs,"pos":$pos},"op":"$op","ts_ms":$tsMs}"""
        .stripMargin.replace("\n", ""))
  }

  test("versioned-replica merge == the applyBatchVersioned fold, with and " +
      "without a tombstone horizon, over wide and near-empty epochs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val epochs = (0L until 8L).map { epoch =>
      // even epochs spread over 40 keys, odd ones stay on 2
      val keys = if (epoch % 2 == 0) 40 else 2
      (0 until 30).map { i =>
        val k = rnd.nextInt(keys)
        val op = rnd.nextInt(10) match {
          case n if n < 2 => "d"
          case n if n < 4 => "c"
          case _ => "u"
        }
        // coarse ts drifting forward so cross-epoch out-of-order,
        // near-ties and horizon-aged tombstones all occur; pos keeps
        // (ts, pos) unique per key
        env(s"db.t.$k", 1000L + k, s"et$k", rnd.nextInt(100),
          1000L + epoch + rnd.nextInt(6), epoch * 1000L + i, op)
      }.toDF("partitionKey", "value")
    }
    val touched =
      assertBothShapes(epochs.map(_.withColumn("__k", col("partitionKey"))))
    val bucket = ExactlyOnce.bucketOf("partitionKey", Buckets)
    // the reference: per epoch, the touched buckets' state folds
    // through applyBatchVersioned (GC lands only where an epoch
    // writes), the others carry over
    def reference(horizon: Long) =
      rows(epochs.foldLeft(CdcApply.emptyVersioned(spark)) {
        (state, batch) =>
          val touched = batch.select(bucket).distinct().as[Int].collect().toSeq
          state.filter(!bucket.isin(touched: _*))
            .unionByName(CdcApply.applyBatchVersioned(
              state.filter(bucket.isin(touched: _*)), batch, horizon))
            .localCheckpoint()
      })
    val wants = Seq(Long.MaxValue, 3L).map(h => h -> reference(h))
    def tombstones(rs: Seq[String]) = rs.count(_.endsWith(",true]"))
    // the horizon really collects some tombstones, and not all
    assert(tombstones(wants(0)._2) > tombstones(wants(1)._2))
    assert(tombstones(wants(1)._2) > 0)
    listening
    wants.foreach { case (horizon, want) =>
      val dir = Files.createTempDirectory("graft_fav").toString
      epochs.zipWithIndex.foreach { case (b, e) =>
        CdcApply.materializerVersioned(spark, dir, Buckets, horizon)(b, e)
      }
      val got = rows(ExactlyOnce.currentStateBucketed(spark, dir)(
        CdcApply.emptyVersioned(spark))
        .select(CdcApply.emptyVersioned(spark).columns.map(col).toSeq: _*))
      assert(got == want, s"horizon $horizon")
      assertClustering(dir, touched)
    }
  }

  /** A Mongo change-stream envelope; `image = false` leaves out the
    * `fullDocument` a non-delete needs.
    */
  private def mongoEnv(key: String, v: Long, tsMs: Long, pos: Long,
      op: String, image: Boolean = true): (String, String) = {
    val opType = op match {
      case "d" => "delete"
      case "u" => "update"
      case _ => if (pos % 2 == 0) "insert" else "replace"
    }
    val doc = if (op == "d" || !image) "" else {
      val esc = s"""{"key":"$key","value":"$v"}""".replace("\"", "\\\"")
      s""""fullDocument":"$esc","""
    }
    (key, s"""{"_id":"evt_$pos","operationType":"$opType",$doc"ts_ms":$tsMs}""")
  }

  private val OldTs = 1L

  /** Changes (key, ts_ms, pos, op, value) of 8 epochs for the plain
    * replicas. Even epochs spread over 40 keys, odd ones stay on keys
    * 0 and 1; epochs 4 and 5 are mostly deletes; ts_ms is drawn at
    * random, so a batch change is often older than the state's
    * version. Each batch also redelivers 5 of its changes and arrives
    * shuffled. Epoch 6 adds an update to key 5 newer than any other
    * change, and epoch 7 one older than any (`OldTs`).
    */
  private def plainEpochs(seed: Long): Seq[Seq[(Int, Long, Long, String, Int)]] = {
    val rnd = new scala.util.Random(seed)
    (0L until 8L).map { epoch =>
      val keys = if (epoch % 2 == 0) 40 else 2
      val deletes = if (epoch == 4 || epoch == 5) 7 else 2
      val fresh = (0 until 30).map { i =>
        val op = rnd.nextInt(10) match {
          case n if n < deletes => "d"
          case n if n < deletes + 1 => "c"
          case _ => "u"
        }
        (rnd.nextInt(keys), 1000L + rnd.nextInt(20), epoch * 1000L + i, op,
          rnd.nextInt(100))
      }
      val pinned = epoch match {
        case 6 => Seq((5, 2000L, 6999L, "u", 99))
        case 7 => Seq((5, OldTs, 7999L, "u", 100))
        case _ => Nil
      }
      rnd.shuffle(fresh ++ Seq.fill(5)(fresh(rnd.nextInt(fresh.size))) ++ pinned)
    }
  }

  /** Runs `materialize` over `epochs` and compares the replica with
    * the per-epoch `fold` of the same batches; also asserts that the
    * reference lets epoch 7's older change to key 5 beat the state.
    */
  private def plainCase(epochs: Seq[DataFrame], prefix: String)(
      materialize: String => (DataFrame, Long) => Unit)(
      fold: (DataFrame, DataFrame) => DataFrame): Unit = {
    import spark.implicits._
    val touched =
      assertBothShapes(epochs.map(_.withColumn("__k", col("partitionKey"))))
    val states = epochs.scanLeft(CdcApply.emptyReplica(spark))(
      (state, batch) => fold(state, batch).localCheckpoint())
    def oldKeyTs(state: DataFrame) = state
      .filter(col("partitionKey") === s"$prefix.5")
      .select(col("ts_ms")).as[Long].collect().toSeq
    assert(oldKeyTs(states(7)) == Seq(2000L))
    assert(oldKeyTs(states(8)) == Seq(OldTs))
    listening
    val dir = Files.createTempDirectory("graft_fap").toString
    epochs.zipWithIndex.foreach { case (b, e) => materialize(dir)(b, e) }
    val cols = CdcApply.replicaSchema.fieldNames.toSeq.map(col)
    assert(rows(CdcApply.replica(spark, dir).select(cols: _*)) ==
      rows(states.last.select(cols: _*)))
    assertClustering(dir, touched)
  }

  test("plain MySQL replica merge == the applyBatch fold: any batch " +
      "change beats the state, the batch's latest change wins") {
    import spark.implicits._
    val epochs = plainEpochs(20260819L).map(_.map { case (k, ts, pos, op, v) =>
      env(s"db.t.$k", 1000L + k, s"et$k", v, ts, pos, op)
    }.toDF("partitionKey", "value"))
    plainCase(epochs, "db.t")(dir => CdcApply.materializer(spark, dir, Buckets))(
      CdcApply.applyBatch)
  }

  test("Mongo replica merge == the applyChanges(lastChangePerKeyMongo) " +
      "fold: any batch change beats the state, the batch's latest " +
      "change wins") {
    import spark.implicits._
    val epochs = plainEpochs(20260820L).map(_.map { case (k, ts, pos, op, v) =>
      mongoEnv(s"m.$k", v, ts, pos, op)
    }.toDF("partitionKey", "value"))
    plainCase(epochs, "m")(dir => CdcApply.materializerMongo(spark, dir, Buckets))(
      (state, batch) => CdcApply.applyChanges(state,
        CdcApply.lastChangePerKeyMongo(batch)))
  }

  test("Mongo replica merge checks only the change a key keeps: a losing " +
      "imageless update or drop passes, a winning one fails") {
    import spark.implicits._
    def run(changes: (String, String)*): Seq[String] = {
      val dir = Files.createTempDirectory("graft_fam").toString
      CdcApply.materializerMongo(spark, dir, Buckets)(
        changes.toDF("partitionKey", "value"), 0L)
      rows(CdcApply.replica(spark, dir)
        .select(CdcApply.replicaSchema.fieldNames.toSeq.map(col): _*))
    }
    def drop(tsMs: Long, pos: Long) = ("k", s"""{"_id":"evt_$pos",""" +
      s""""operationType":"drop","ts_ms":$tsMs}""")
    val kept = mongoEnv("k", 7, 20L, 4L, "c")
    assert(run(mongoEnv("k", 1, 10L, 1L, "u", image = false), drop(10L, 3L),
      kept) == Seq("[k,Map(key -> k, value -> 7),20,4]"))
    Seq(mongoEnv("k", 1, 30L, 5L, "u", image = false) -> "fullDocument",
        drop(30L, 7L) -> "unsupported mongo operationType").foreach {
      case (bad, why) =>
        val e = intercept[Throwable](run(kept, bad))
        val sw = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(sw))
        assert(sw.toString.contains(why), sw.toString.take(500))
    }
  }

  test("signed-rollup merge == the from-scratch signed aggregate over " +
      "wide and near-empty retraction epochs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260817L)
    // retractions take back a row inserted earlier (the rollup's
    // contract: they match inserts value-for-value)
    val live = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val batches = (0L until 8L).map { epoch =>
      val groups = if (epoch % 2 == 0) 30 else 1
      (0 until 40).map { _ =>
        val mine = live.indices.filter(i =>
          live(i)._1.drop(1).toInt < groups)
        if (mine.nonEmpty && rnd.nextInt(4) == 0) {
          val (g, v) = live.remove(mine(rnd.nextInt(mine.size)))
          (g, v, -1L)
        } else {
          val r = (s"g${rnd.nextInt(groups)}", rnd.nextInt(50).toLong)
          live += r
          (r._1, r._2, 1L)
        }
      }
    }
    val epochs = batches.map(_.toDF("g", "v", "sign"))
    val touched = assertBothShapes(
      epochs.map(_.withColumn("__k", StateKeys.packKey(Seq("g")))))
    val want = rows(batches.flatten.toDF("g", "v", "sign")
      .groupBy(col("g"))
      .agg(sum(col("sign")).as("n"),
        sum(col("sign").cast("decimal(18,2)") *
          col("v").cast("decimal(18,2)")).cast("decimal(38,2)").as("v_sum"))
      .filter(col("n") =!= 0))
    assert(want.nonEmpty)
    listening
    val dir = Files.createTempDirectory("graft_far").toString
    epochs.zipWithIndex.foreach { case (b, e) =>
      StreamingRollup.materializerSigned(
        spark, dir, Seq("g"), Seq("v_sum" -> "v"), "sign", Buckets)(b, e)
    }
    val got = rows(StreamingRollup.rollup(spark, dir, Seq("g"))
      .select(col("g"), col("n"), col("v_sum").cast("decimal(38,2)")))
    assert(got == want)
    assertClustering(dir, touched)
  }

  test("join-view merges (side compaction + signed view merge) == the " +
      "bag join of every ingested row over wide and near-empty epochs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260818L)
    // both feeds signed: ~1/4 retractions (out of order allowed — the
    // view is bilinear in the multiplicities), duplicate keys within a
    // batch, and key ranges that only partially overlap so every
    // Δ×state arm (match, no-match, retract-to-zero, negative dip)
    // gets exercised
    def feed(base: Long, epoch: Long) = {
      val keys = if (epoch % 2 == 0) 20 else 1
      (0 until 30).map { _ =>
        (base + rnd.nextInt(keys), rnd.nextInt(6).toLong,
          if (rnd.nextInt(4) == 0) -1L else 1L)
      }
    }
    val batches = (0L until 8L).map(e => (feed(0L, e), feed(4L, e)))
    val epochs = batches.map { case (l, r) =>
      (l.toDF("lk", "lv", "sign"), r.toDF("rk", "rv", "sign"))
    }
    // the view advance is always narrow: it clusters when the two
    // sides touch more than 4 buckets together
    val touched = assertBothShapes(epochs.map { case (l, r) =>
      l.select(StateKeys.packKey(Seq("lk")).as("__k")).unionByName(
        r.select(StateKeys.packKey(Seq("rk")).as("__k")))
    })
    def net(rs: Seq[(Long, Long, Long)], k: String, v: String, m: String) =
      rs.toDF(k, v, "sign").groupBy(col(k), col(v))
        .agg(sum(col("sign")).as(m)).filter(col(m) =!= 0)
    val want = rows(net(batches.flatMap(_._1), "lk", "lv", "ml")
      .join(net(batches.flatMap(_._2), "rk", "rv", "mr"),
        col("lk") === col("rk"))
      .select(col("lk"), col("lv"), col("rk"), col("rv"),
        (col("ml") * col("mr")).as("__m")))
    assert(want.nonEmpty)
    listening
    val root = Files.createTempDirectory("graft_fajv").toString
    epochs.zipWithIndex.foreach { case ((l, r), e) =>
      StreamingJoinView.materializerSigned(spark, root, Seq("lk"), Seq("rk"),
        Some("sign"), Some("sign"), Buckets)(l, r, e)
    }
    val got = rows(StreamingJoinView.view(spark, root)
      .select(col("lk"), col("lv"), col("rk"), col("rv"), col("__m")))
    assert(got == want)
    assertClustering(s"$root/view", touched)
  }
}
