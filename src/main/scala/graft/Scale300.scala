package graft

import org.apache.spark.sql.functions._

/** 300× IVM-chain scale probe (r15 verdict item 6): the next notch for
  * the CDC → IVM pipeline — ~30 M events / ~27 M replica rows — run at
  * the STATE-PROPORTIONAL bucket count to confirm the steady floor
  * stays scheduler-bound (exchange count, not per-bucket volume — the
  * r13/r14 profiles' conclusion) when both the state and the bucket
  * count grow 3× past the 100× shape.
  *
  * Bucket sizing rule (recorded in SCALING.md): target ~35 k replica
  * rows per bucket — the shape the r14 A/B measured fastest (100×:
  * 9 M rows / 256 buckets). At 300×: 27 M rows / 35 k ≈ 768 buckets.
  * The chain bulk-loads at 256 (the shape a deployment is running
  * when its corpus triples) and adopts 768 via an 8-wave
  * `rebucketState` migration AT the 27 M-row frontier — proving the
  * O(state/waves) migration-window claim one notch past its 100×
  * evidence (r16 verdict item 3), gated at
  * [[ScaleGates.MigrationWindowOldGenMaxMb]]. Parity restates per
  * bucket group (r16 verdict item 2) so the verifier's working set
  * is bounded like the migrator's.
  *
  * Writes `SCALE300_r{N}.json`; when args(1) names an existing 30×
  * artifact it is ALSO spliced in under the `"x300"` key.
  *
  * Not part of the driver contract; run manually per round:
  *   SPARK_DRIVER_MEM=32g sbt "runMain graft.Scale300 SCALE300_r16.json SCALE_r16.json"
  */
object Scale300 {

  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("SCALE300_r16.json")
    val injectInto = args.drop(1).headOption
    HostLoad.awaitQuiet(threshold = 8.0, maxWaitSec = 180, tag = "scale300")
    val spark = Sessions.local(32, partitions = 64)
    val dir = "/tmp/graft_scale300"
    val sf = "/root/testdata/sf0.1"

    // 300x events: same construction as the 100x build, 3x the clones
    val base = graft.queries.Tables.events(spark, sf)
    (0 until 300).map(i =>
      base.withColumn("event_id", col("event_id") + lit(i.toLong * 100000)))
      .reduce(_ unionAll _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val nEvents = spark.read.parquet(s"$dir/events.parquet").count()
    println(s"[scale] built 300x: $nEvents events")

    // ~27M replica rows / ~35k rows-per-bucket target => 768 buckets.
    // r17 (verdict item 3): the chain now PROVES the wave migration at
    // 27M-row state instead of bulk-loading directly at 768 — bulk at
    // 256 (the 100× shape a deployment would actually be running when
    // the corpus tripled), then a 256→768 8-wave migration mid-chain
    // (~3.4M rows/wave, the same O(state/waves) discipline the 100×
    // 4-wave run measured at 3.8GB), then steady/ripple epochs at 768.
    // Parity restates per 8 bucket groups (verdict item 2) so the
    // verifier's working set is bounded the same way the migrator's is.
    val BulkBuckets = 256
    val IvmBuckets = 768
    val MigrationWaves = 8
    val ivmRes = ScaleHarness.runIvmE2E(spark, dir, BulkBuckets,
      migrateTo = Some(IvmBuckets), migrationWaves = MigrationWaves,
      parityGroups = 8)
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    if (!ivmRes.parityPass) failed += "cdc_ivm_e2e_300x"
    if (!ScaleGates.ivm100SteadyOk(ivmRes.steadyOverheadSec)) {
      failed += "ivm300_steady_overhead"
      System.err.println(f"[scale] GATE: 300x ivm steady overhead " +
        f"${ivmRes.steadyOverheadSec}%.2f s at $IvmBuckets buckets " +
        f"exceeds ${ScaleGates.Ivm100SteadyOverheadMaxSec} s")
    }
    if (!ScaleGates.ivmRippleOk(ivmRes.rippleSecMax)) {
      failed += "ivm300_ripple_regression"
      System.err.println(f"[scale] GATE: 300x ivm ripple epoch " +
        f"${ivmRes.rippleSecMax}%.2f s exceeds " +
        f"${ScaleGates.IvmRippleMaxSec} s")
    }
    if (!ScaleGates.migrationWindowOk(
        ivmRes.migrationOldGenPeakMb.getOrElse(-1L))) {
      failed += "ivm300_migration_window_old_gen"
      System.err.println(s"[scale] GATE: 300x migration-window old-gen " +
        s"${ivmRes.migrationOldGenPeakMb.getOrElse(-1L)}MB exceeds " +
        s"${ScaleGates.MigrationWindowOldGenMaxMb}MB " +
        s"(O(state/waves) discipline lost)")
    }

    val oldGenPeakMb = ScaleHarness.oldGenPeakOverallMb
    val heapMaxMb = Runtime.getRuntime.maxMemory >> 20
    println(s"[scale] 300x old-gen peak ${oldGenPeakMb}MB of ${heapMaxMb}MB")

    val json =
      s"""{"metric":"scale_smoke_300x","value":${math.round(ivmRes
          .steadyOverheadSec * 100) / 100.0},"unit":"sec","scale":"300x-sf0.1","built":{"events":$nEvents},"materializers":{"cdc_ivm_e2e":${ScaleHarness
          .ivmJson(ivmRes, BulkBuckets)}},"bucket_sizing":{"rows_per_bucket_target":35000,"buckets_bulk":$BulkBuckets,"buckets_steady":$IvmBuckets,"replica_rows":${ivmRes.repGot}},"memory":{"heap_max_mb":$heapMaxMb,"old_gen_peak_mb":$oldGenPeakMb,"headroom_mb":${heapMaxMb - oldGenPeakMb}},"failed":${failed
          .map("\"" + _ + "\"").mkString("[", ",", "]")},"methodology":"300x IVM chain through the shared ScaleHarness.runIvmE2E (identical protocol code to the 30x/100x smokes): 4 bulk epochs at 256 buckets (the pre-growth deployment shape), then a 256->768 wave migration at the 27M-row frontier ($MigrationWaves fenced waves, ~3.4M rows each, migration-window old-gen gated <= ${ScaleGates.MigrationWindowOldGenMaxMb}MB), then dim-ripple epochs 4-5 + facts-only steady epochs 6-9 at 768 (~35k replica rows/bucket), parity restated PER BUCKET GROUP (8 groups, count + order-free content hash, live side bucket-pruned) vs from-scratch batch answers, steady gated <= 3.5s (ScaleGates.Ivm100SteadyOverheadMaxSec)"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scale] wrote $outPath")
    println(json)
    injectInto.map(java.nio.file.Paths.get(_)).foreach { p =>
      if (ScaleHarness.spliceJsonSection(p, "x300", json))
        println(s"[scale] spliced x300 section into $p")
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
