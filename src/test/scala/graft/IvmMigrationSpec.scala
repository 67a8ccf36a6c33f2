package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The in-smoke bucket migration path of [[ScaleHarness.runIvmE2E]]:
  * bulk epochs at the small count, stop at the last bulk epoch's
  * frontier, rebucketState every standing state (replica, rollup, both
  * join-view roots' left/right/view), resume the SAME stream from its
  * checkpoint for the steady/ripple epochs at the new count — and the
  * parity restatements must still be exact against the from-scratch
  * batch answer over everything ingested. This is the sf0.001 twin of
  * the 100× (4 waves) and 300× (8 waves) scale runs' gated migrations
  * (`graft.Scale 100`, `graft.Scale 300`), so a protocol regression
  * fails in the suite, not mid-run.
  */
class IvmMigrationSpec extends SparkSpec {

  test("IVM e2e with a mid-stream 8->32 rebucket migration keeps exact " +
      "parity and records the migration") {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // 4 waves fit the default four bulk epochs; 8 waves (the 300× shape)
    // need one bulk epoch per wave fence, so the migration moves to the
    // epoch-7 frontier and the ripple/steady epochs follow it
    Seq(4, 8).foreach { waves =>
      val dir = Files.createTempDirectory("graft_ivm_mig").toString
      // the harness reads $dir/events.parquet and builds all state under
      // $dir — stage the fixture's events there
      queries.Tables.events(spark, sf)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val res = ScaleHarness.runIvmE2E(spark, dir, 8, migrateTo = Some(32),
        migrationWaves = waves, parityGroups = 4)
      val bulk = math.max(4, waves)
      val migration = res.section.get("migration").collect {
        case m: ScaleHarness.Obj @unchecked => m
      }
      assert(migration.nonEmpty, s"$waves waves: migration was not recorded")
      assert(res.migrationOldGenPeakMb.exists(_ > 0),
        "migration-window old-gen peak was not measured")
      assert(res.section("replica_hash_match") == true,
        "bucket-group content-hash parity broke post-migration")
      assert(migration.get("after_epoch") == bulk - 1)
      assert(migration.get("to_buckets") == 32)
      assert(migration.get("states_migrated") == 8)
      assert(migration.get("waves") == waves)
      assert(res.parityPass, s"$waves waves: post-migration parity broke: " +
        ScaleHarness.json(res.section))
      assert(res.section("ripple_neg_rows").asInstanceOf[Long] > 0,
        s"$waves waves: the dim retraction at epoch $bulk did not ripple")
      assert(res.steadyOverheadSec > 0, "no steady epochs were measured")
      val epochIds = res.section("epochs").asInstanceOf[Iterable[_]].map {
        case e: ScaleHarness.Obj @unchecked => e("epoch")
      }.toSeq
      assert(epochIds == (0L until bulk + 6L), s"epochs ran: $epochIds")
      // the artifact section carries both bucket shapes
      assert(res.section("buckets") == 8)
      assert(res.section("buckets_steady") == 32)
      assert(res.section("parity_groups") == 4)
      // the migrated dirs are pinned at the new count: a stale-count
      // advance must trip the pin, not silently mis-bucket
      implicit val ss: org.apache.spark.sql.SparkSession = spark
      import spark.implicits._
      val oneRow = graft.operators.CdcEnrichment.enrichMySql(
        graft.sources.CdcReplay.batch(spark, dir).limit(1)
          .select(col("value")).as[String],
        queries.CdcQueries.config).toDF()
      val e = intercept[RuntimeException] {
        graft.operators.CdcApply.materializerVersioned(
          spark, s"$dir/ivm_replica_rb", 8)(oneRow, 99L)
      }
      assert(e.getMessage.contains("bucketed 32 ways"), e.getMessage)
    }
  }
}
