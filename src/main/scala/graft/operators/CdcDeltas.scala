package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Debezium envelope stream → SIGNED RETRACTION DELTAS: the bridge
  * from the reference's CDC feed to the incremental-view-maintenance
  * operators ([[graft.streaming.StreamingRollup]].materializerSigned,
  * [[graft.streaming.StreamingJoinView]].materializerSigned). Standard
  * IVM change translation over the op codes the reference dispatches
  * on (flink-cdc-msk `MySQLCDC2AWSMSK.scala:116-131` — `d` reads the
  * `before` image, everything else `after`):
  *
  *   - `c` / `r` → (+1, after)           — insert / snapshot read
  *   - `d`       → (−1, before)          — delete retracts the row
  *   - `u`       → (−1, before), (+1, after) — update = retract + insert
  *
  * One row in, ≤ 2 rows out via a single `explode` over a computed
  * two-element array — no second scan of the feed, codegen all the
  * way. Downstream, `sum(sign)` per group IS the live row count and
  * `sum(sign × x)` the live sum; a view fed these deltas tracks the
  * replica's content exactly, which is what makes the rollup/join-view
  * retraction arms the lake-side continuation of the reference's
  * pipeline.
  */
object CdcDeltas {

  /** Enriched records (`value` = envelope JSON) → one delta row per
    * image: `image` (the dynamic row map), `sign` (±1), plus the
    * binlog position (`ts_ms`, `pos`) for consumers that order.
    */
  def signedDeltas(enriched: DataFrame): DataFrame = {
    val env = enriched.withColumn("env",
      from_json(col("value"), graft.model.CdcEnvelope.mysqlEnvelope))
    env.select(
        col("env.op").as("op"),
        col("env.before").as("before"),
        col("env.after").as("after"),
        col("env.source.ts_ms").as("ts_ms"),
        col("env.source.pos").as("pos"))
      .withColumn("delta", explode(
        when(col("op") === "d",
          array(struct(col("before").as("image"), lit(-1).as("sign"))))
          .when(col("op") === "u",
            array(struct(col("before").as("image"), lit(-1).as("sign")),
              struct(col("after").as("image"), lit(1).as("sign"))))
          .otherwise(
            array(struct(col("after").as("image"), lit(1).as("sign"))))))
      .select(col("delta.image").as("image"),
        col("delta.sign").as("sign"), col("ts_ms"), col("pos"))
  }
}
