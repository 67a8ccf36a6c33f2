package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

import graft.operators.ExactlyOnce

/** State-dir rebucketing ([[ExactlyOnce.rebucketState]]): the
  * maintenance op that adopts a bigger bucket count on a standing
  * state (the IVM_PROFILE_r14 lever) must preserve the live state
  * exactly, hand the new dir over to normally-fenced epochs at the
  * new count, refuse mismatched advances and dirty targets, and stay
  * replay-safe.
  */
class RebucketSpec extends SparkSpec {

  private def emptyKV = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))))
  }

  private def readState(dir: String): Map[Long, Long] =
    ExactlyOnce.currentStateBucketed(spark, dir)(emptyKV)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def upsert(dir: String, buckets: Int, epoch: Long,
      vals: Seq[(Long, Long)]): Boolean = {
    import spark.implicits._
    val batch = vals.toDF("k", "v")
    ExactlyOnce.advanceStateBucketed(spark, dir, epoch, batch,
      "k", buckets)(emptyKV)((cur, cluster) =>
      cluster(cur.join(batch.select(col("k")), Seq("k"), "left_anti")
        .unionByName(batch)))
  }

  test("rebucket 8 -> 32 preserves live state, re-assigns buckets, and " +
      "the new dir advances normally at 32") {
    val src = Files.createTempDirectory("graft_rb_src").toString
    val dst = Files.createTempDirectory("graft_rb_dst").toString + "/state"
    var model = Map.empty[Long, Long]
    (0L until 5L).foreach { e =>
      val vals = (1L to 40L).filter(k => (k + e) % 3 == 0)
        .map(k => k -> (e * 1000 + k))
      assert(upsert(src, 8, e, vals))
      model = model ++ vals
    }
    assert(readState(src) == model)

    assert(ExactlyOnce.rebucketState(spark, src, dst, "k", 32))
    assert(readState(dst) == model, "live state changed across rebucket")
    // keys actually re-assigned: some bucket above the old count is
    // populated (with 32 buckets over 40 keys this is certain)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val highBuckets = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dst/state-0"))
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("__bucket=") =>
        s.stripPrefix("__bucket=").toInt }
    assert(highBuckets.exists(_ >= 8),
      s"no bucket above the old count was written: ${highBuckets.sorted}")
    // src stays intact and readable (time travel / rollback safety)
    assert(readState(src) == model)

    // the handover: later epochs advance dst at 32 with normal fencing
    (5L until 8L).foreach { e =>
      val vals = (1L to 60L).filter(k => (k + e) % 4 == 0)
        .map(k => k -> (e * 1000 + k))
      assert(upsert(dst, 32, e, vals))
      model = model ++ vals
    }
    assert(readState(dst) == model)

    // a from-scratch 32-bucket state fed the same epochs agrees —
    // rebucket + continue is indistinguishable from always-32
    val fresh = Files.createTempDirectory("graft_rb_fresh").toString
    var freshModel = Map.empty[Long, Long]
    (0L until 5L).foreach { e =>
      val vals = (1L to 40L).filter(k => (k + e) % 3 == 0)
        .map(k => k -> (e * 1000 + k))
      upsert(fresh, 32, e, vals); freshModel = freshModel ++ vals
    }
    (5L until 8L).foreach { e =>
      val vals = (1L to 60L).filter(k => (k + e) % 4 == 0)
        .map(k => k -> (e * 1000 + k))
      upsert(fresh, 32, e, vals); freshModel = freshModel ++ vals
    }
    assert(readState(fresh) == readState(dst))
  }

  test("rebucket guards: replay is a fenced no-op, mismatched advance " +
      "and dirty target fail loudly") {
    val src = Files.createTempDirectory("graft_rb2_src").toString
    val dst = Files.createTempDirectory("graft_rb2_dst").toString + "/s"
    assert(upsert(src, 8, 0L, Seq(1L -> 10L, 2L -> 20L, 33L -> 30L)))
    assert(ExactlyOnce.rebucketState(spark, src, dst, "k", 32))
    val state = readState(dst)

    // crash-replay of the migration epoch: fenced no-op
    assert(!ExactlyOnce.rebucketState(spark, src, dst, "k", 32))
    assert(readState(dst) == state)

    // advancing the migrated dir at the OLD count trips the pin
    val e1 = intercept[RuntimeException](
      upsert(dst, 8, 1L, Seq(3L -> 31L)))
    assert(e1.getMessage.contains("bucketed 32 ways"), e1.getMessage)

    // rebucketing into a dir that holds unrelated state (different
    // epoch) is refused — it would union two states
    val e2 = intercept[IllegalArgumentException](
      ExactlyOnce.rebucketState(spark, src, dst, "k", 32, batchId = 7L))
    assert(e2.getMessage.contains("different epoch"), e2.getMessage)

    // a source with no committed state is refused
    val e3 = intercept[IllegalArgumentException](
      ExactlyOnce.rebucketState(spark,
        Files.createTempDirectory("graft_rb2_none").toString,
        dst + "_x", "k", 32))
    assert(e3.getMessage.contains("no committed state"), e3.getMessage)
  }

  test("a dst holding an UNRELATED state with the same epoch committed " +
      "is a mis-pointed migration and fails loudly, never a fenced no-op") {
    val src = Files.createTempDirectory("graft_rb3_src").toString
    val dst = Files.createTempDirectory("graft_rb3_dst").toString + "/s"
    assert(upsert(src, 8, 0L, Seq(1L -> 10L)))
    // the dst already carries a different state whose epoch 0 (the
    // default migration batchId) committed — the pre-provenance guard
    // passed this as "fenced replay" and returned false, leaving the
    // caller unable to tell 'already migrated' from 'never migrated'
    assert(upsert(dst, 32, 0L, Seq(77L -> 770L)))
    val e = intercept[RuntimeException](
      ExactlyOnce.rebucketState(spark, src, dst, "k", 32))
    assert(e.getMessage.contains("no provenance marker"), e.getMessage)
    assert(readState(dst) == Map(77L -> 770L), "unrelated state disturbed")
  }

  test("wave migration: waves partition the dst buckets, a mid-wave crash " +
      "resumes fenced into the identical state, and the final fence " +
      "blocks pre-migration epoch replays") {
    val src = Files.createTempDirectory("graft_rbw_src").toString
    val dst = Files.createTempDirectory("graft_rbw_dst").toString + "/s"
    var model = Map.empty[Long, Long]
    (0L until 4L).foreach { e =>
      val vals = (1L to 100L).filter(k => (k + e) % 3 == 0)
        .map(k => k -> (e * 1000 + k))
      assert(upsert(src, 8, e, vals))
      model = model ++ vals
    }
    // simulated crash after wave 1 of 4 (wave epochs 4..7: 4,5 are
    // committed, 6,7 never ran, the hwm fence was never written)
    val boom = intercept[RuntimeException](
      ExactlyOnce.rebucketState(spark, src, dst, "k", 32, batchId = 7L,
        waves = 4, crashAfterWave = Some(1)))
    assert(boom.getMessage.contains("simulated crash"), boom.getMessage)
    // resuming with a DIFFERENT wave split would interleave
    // incompatible bucket-group epochs — loud failure, not silent mix
    val wf = intercept[RuntimeException](
      ExactlyOnce.rebucketState(spark, src, dst, "k", 32, batchId = 7L,
        waves = 2))
    assert(wf.getMessage.contains("4 waves, not 2"), wf.getMessage)
    // ...and a different migration epoch is refused the same way
    val ef = intercept[IllegalArgumentException](
      ExactlyOnce.rebucketState(spark, src, dst, "k", 32, batchId = 9L,
        waves = 4))
    assert(ef.getMessage.contains("different epoch"), ef.getMessage)
    // the resume with the SAME parameters: committed waves are fenced,
    // remaining waves run, and the migrated state is exactly the src's
    assert(ExactlyOnce.rebucketState(spark, src, dst, "k", 32,
      batchId = 7L, waves = 4))
    assert(readState(dst) == model, "wave migration lost or duplicated rows")
    // each wave epoch wrote ONLY its own bucket group (d % 4 == w) —
    // the O(wave) confinement the split exists for
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    (4L to 7L).foreach { e =>
      val w = (e - 4).toInt
      val p = new org.apache.hadoop.fs.Path(s"$dst/state-$e")
      if (fs.exists(p)) fs.listStatus(p).map(_.getPath.getName)
        .collect { case s if s.startsWith("__bucket=") =>
          s.stripPrefix("__bucket=").toInt }
        .foreach(b => assert(b % 4 == w,
          s"dst bucket $b written by wave $w's epoch $e"))
    }
    // the cutover fence: a resumed stream replaying any pre-migration
    // epoch (0..3, all below the wave epochs) against the dst is a
    // fenced no-op, not a double-apply
    assert(!upsert(dst, 32, 2L, Seq(999L -> 9999L)))
    assert(readState(dst) == model)
    // a full replay of the whole migration is a fenced no-op
    assert(!ExactlyOnce.rebucketState(spark, src, dst, "k", 32,
      batchId = 7L, waves = 4))
    assert(readState(dst) == model)
  }

  test("a crash between the final migration commit and the hwm fence is " +
      "healed by the replay writing the fence idempotently") {
    val src = Files.createTempDirectory("graft_rbh_src").toString
    val dst = Files.createTempDirectory("graft_rbh_dst").toString + "/s"
    var model = Map.empty[Long, Long]
    (0L until 3L).foreach { e =>
      val vals = (1L to 60L).filter(k => (k + e) % 4 == 0)
        .map(k => k -> (e * 100 + k))
      assert(upsert(src, 8, e, vals))
      model = model ++ vals
    }
    // monolithic migration (waves=1) crashing right after its single
    // epoch committed, BEFORE the hwm write — the r15-advice hazard:
    // the old code only wrote the hwm when the advance returned true,
    // so this replay path left pre-migration epochs unfenced forever
    val boom = intercept[RuntimeException](
      ExactlyOnce.rebucketState(spark, src, dst, "k", 32, batchId = 7L,
        crashAfterWave = Some(0)))
    assert(boom.getMessage.contains("simulated crash"), boom.getMessage)
    // the hazard is real at this point: epoch 3 is NOT fenced on dst
    assert(!ExactlyOnce.isEpochCommitted(spark, dst, 3L),
      "precondition: crash window should leave pre-migration epochs open")
    // the replay finds the epoch fenced (returns false) but must still
    // write the fence — pre-migration replays are then no-ops
    assert(!ExactlyOnce.rebucketState(spark, src, dst, "k", 32,
      batchId = 7L))
    assert(ExactlyOnce.isEpochCommitted(spark, dst, 3L),
      "healing replay did not write the hwm fence")
    assert(!upsert(dst, 32, 3L, Seq(777L -> 7L)))
    assert(readState(dst) == model)
  }

  test("non-structural ledger tags (codec stamps) migrate with the state " +
      "so the stamping materializer can resume on the dst") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_rb4").toString
    val src = s"$root/src"; val dst = s"$root/dst"
    def batch(rows: Seq[(String, Long, Int)]) =
      rows.toDF("g", "v", "sgn")
    // the rollup materializer stamps StateKeys.CodecTag on first write
    graft.streaming.StreamingRollup.materializerSigned(spark, src,
      Seq("g"), Seq("v_sum" -> "v"), "sgn", 8)(
      batch(Seq(("a", 10L, 1), ("b", 5L, 1), ("a", 3L, 1))), 0L)
    assert(ExactlyOnce.rebucketState(spark, src, dst, "__gkey", 32,
      batchId = 0L))
    // resuming the SAME materializer on the migrated dir must not trip
    // its codec-stamp guard (committed epochs + missing tag)
    graft.streaming.StreamingRollup.materializerSigned(spark, dst,
      Seq("g"), Seq("v_sum" -> "v"), "sgn", 32)(
      batch(Seq(("a", -3L, 1), ("c", 7L, 1))), 1L)
    val got = graft.streaming.StreamingRollup.rollup(spark, dst, Seq("g"))
      .select(org.apache.spark.sql.functions.col("g"),
        org.apache.spark.sql.functions.col("v_sum").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 10L, "b" -> 5L, "c" -> 7L), got.toString)
  }

  test("migparams lifecycle: stale pre-commit markers are cleared on the " +
      "fresh path, conflicting pins fail, and a pin-less committed dst " +
      "falls back to the strict epoch fence") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def ledger(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/_ledger")
    def mark(dir: String, name: String): Unit = {
      fs.mkdirs(ledger(dir))
      fs.create(new org.apache.hadoop.fs.Path(ledger(dir), name), true)
        .close()
    }
    def pins(dir: String): Seq[String] =
      fs.listStatus(ledger(dir)).map(_.getPath.getName).toSeq
        .filter(_.startsWith("migparams-")).sorted

    // (a) a crashed PRE-COMMIT attempt left a marker with different
    // params and no committed state — a legit run must clear it, not
    // leave two pins for a later replay to coin-flip between
    val src = Files.createTempDirectory("graft_rb5_src").toString
    val dstA = Files.createTempDirectory("graft_rb5_a").toString + "/s"
    assert(upsert(src, 8, 6L, Seq(1L -> 10L, 2L -> 20L, 33L -> 30L)))
    mark(dstA, "migparams-99-2")
    assert(ExactlyOnce.rebucketState(spark, src, dstA, "k", 32,
      batchId = 7L, waves = 2))
    assert(pins(dstA) == Seq("migparams-7-2"), pins(dstA).toString)
    assert(!ExactlyOnce.rebucketState(spark, src, dstA, "k", 32,
      batchId = 7L, waves = 2), "replay with the surviving pin must fence")

    // (b) a committed dst carrying a CONFLICTING extra pin (pre-fix
    // residue) is validated against ALL pins and fails loudly
    val dstB = Files.createTempDirectory("graft_rb5_b").toString + "/s"
    assert(ExactlyOnce.rebucketState(spark, src, dstB, "k", 32,
      batchId = 7L, waves = 2))
    mark(dstB, "migparams-99-2")
    val eb = intercept[IllegalArgumentException](
      ExactlyOnce.rebucketState(spark, src, dstB, "k", 32,
        batchId = 7L, waves = 2))
    assert(eb.getMessage.contains("different epoch"), eb.getMessage)

    // (c) a committed dst with NO pin (pre-r16 migration): a replay
    // with the SAME final epoch passes the strict fence as a no-op; a
    // DIFFERENT batchId is refused instead of running unfenced waves
    // on top of the completed migration
    val dstC = Files.createTempDirectory("graft_rb5_c").toString + "/s"
    assert(ExactlyOnce.rebucketState(spark, src, dstC, "k", 32,
      batchId = 5L))
    fs.delete(new org.apache.hadoop.fs.Path(ledger(dstC), "migparams-5-1"),
      false)
    val model = readState(dstC)
    assert(!ExactlyOnce.rebucketState(spark, src, dstC, "k", 32,
      batchId = 5L), "same-epoch replay of a pin-less dst must fence")
    assert(readState(dstC) == model)
    fs.delete(new org.apache.hadoop.fs.Path(ledger(dstC), "migparams-5-1"),
      false) // the healing replay re-wrote it; drop again for the bad path
    val ec = intercept[IllegalArgumentException](
      ExactlyOnce.rebucketState(spark, src, dstC, "k", 32, batchId = 6L))
    assert(ec.getMessage.contains("no migparams pin"), ec.getMessage)
    assert(readState(dstC) == model, "refused replay disturbed the state")
  }
}
