package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.operators.ExactlyOnce

/** Randomized protocol check for the bucketed epoch-fenced state: a
  * deterministic-seed sequence of upsert epochs, interleaved with
  * injected crash debris (torn bucket dirs, orphan .tmp markers) and
  * garbage replays of already-committed epochs, must always read back
  * exactly the in-memory model — and the ledger must stay bounded no
  * matter how the epochs landed. The unit suites pin each crash window
  * individually; this spec checks their COMPOSITION under arbitrary
  * interleavings.
  */
class BucketedStateFuzzSpec extends SparkSpec {

  private val Buckets = 8

  private def emptyKV = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))))
  }

  private def readState(stateDir: String): Map[Long, Long] =
    ExactlyOnce.currentStateBucketed(spark, stateDir)(emptyKV)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("25 randomized upsert epochs with injected crash debris and " +
      "garbage replays always read back the in-memory model") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val stateDir = Files.createTempDirectory("graft_fuzz").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    var model = Map.empty[Long, Long]

    (0L until 25L).foreach { epoch =>
      // crash debris from a hypothetical torn attempt of THIS epoch:
      // a partial bucket dir (no marker) and an orphan tmp marker
      if (rnd.nextInt(4) == 0)
        Seq((999L, -1L)).toDF("k", "v").write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$stateDir/state-$epoch/__bucket=${rnd.nextInt(Buckets)}")
      if (rnd.nextInt(5) == 0) {
        val out = fs.create(new org.apache.hadoop.fs.Path(
          s"$stateDir/_ledger/epoch-$epoch.tmp"), true)
        out.write("0,1".getBytes("UTF-8")); out.close()
      }

      val keys = Seq.fill(1 + rnd.nextInt(10))(1L + rnd.nextInt(40)).distinct
      val vals = keys.map(k => k -> (epoch * 1000L + k))
      val batch = vals.toDF("k", "v")
      assert(ExactlyOnce.advanceStateBucketed(spark, stateDir, epoch, batch,
        "k", Buckets)(emptyKV)((cur, cluster) =>
        cluster(cur.join(batch.select(col("k")), Seq("k"), "left_anti")
          .unionByName(batch))),
        s"epoch $epoch was unexpectedly fenced")
      model = model ++ vals

      // at-least-once: a replay of an already-committed epoch with
      // GARBAGE content must be fenced to a no-op
      if (rnd.nextInt(3) == 0) {
        val replayOf = rnd.nextLong(epoch + 1)
        assert(!ExactlyOnce.advanceStateBucketed(spark, stateDir, replayOf,
          Seq((666L, -666L)).toDF("k", "v"), "k", Buckets)(emptyKV)((_, cluster) =>
          cluster(Seq((666L, -666L)).toDF("k", "v"))),
          s"replay of committed epoch $replayOf was not fenced")
      }

      if (rnd.nextInt(5) == 0)
        assert(readState(stateDir) == model, s"diverged at epoch $epoch")
    }

    assert(readState(stateDir) == model)
    // the ledger stayed bounded: one live marker plus the folded view
    val ledger = fs.listStatus(new org.apache.hadoop.fs.Path(
      s"$stateDir/_ledger")).map(_.getPath.getName)
    assert(ledger.count(_.matches("^epoch-\\d+$")) <= 2,
      s"ledger accumulates markers: ${ledger.toSeq.sorted}")
    assert(!ledger.exists(_.endsWith(".tmp")),
      s"crash-orphan tmp files not swept: ${ledger.toSeq.sorted}")
    // and on-disk state is bounded by keep-2: at most 2 versions/bucket
    val stateDirs = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
      .map(_.getPath.getName).filter(_.startsWith("state-"))
    val versionsPerBucket = stateDirs.flatMap { n =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$stateDir/$n"))
        .map(_.getPath.getName).filter(_.startsWith("__bucket="))
    }.groupBy(identity).map(_._2.length)
    assert(versionsPerBucket.forall(_ <= 2),
      s"keep-2 violated: ${versionsPerBucket.toSeq}")
  }
}
