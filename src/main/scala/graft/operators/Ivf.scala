package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps.{arrayDot, l2Norm}

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to sign-bit LSH (sim_knn_lsh): a small coarse codebook
  * partitions vectors into cells; a probe scores only the vectors of
  * its `nprobe` nearest cells.
  *
  * Codebook here: per-label mean vectors (k = #labels, deterministic —
  * a k-means codebook drops in without changing the plan). Plan shape:
  * centroids are tiny and BROADCAST twice (assignment + probe routing);
  * the only shuffle is the per-cell candidate join keyed on cell_id —
  * at 100 TB this is the classic IVF sharding: cells are the partition
  * key, probes fan out to nprobe shards.
  */
object Ivf {

  /** Per-label centroid codebook: cell_id, c (array<double>), cnorm.
    *
    * Centroid elements are computed as ORDER-INDEPENDENT exact
    * decimal(28,14) sums divided as double, then quantized to 6 dp —
    * a coarse quantizer needs no more precision, and the quantization
    * makes the codebook bit-reproducible across engines/runs (shuffle
    * order no longer leaks into the cell assignment).
    */
  /** Embedding dimensionality — uniform across every fixture,
    * scale-smoke corpus, and retrain input (the declared-query oracles
    * hardcode `range(1, 65)` for the same reason). The one-pass
    * aggregate below relies on it: per-dim sums as 64 parallel
    * aggregate expressions in ONE HashAggregate instead of a
    * posexplode (64× the rows through a Generate) followed by TWO
    * keyed exchanges ((cell, pos) then cell) and a
    * collect_list/array_sort rebuild (r17, guide §2.3/§2.4: one
    * exchange of k wide rows replaces two exchanges of k·64 rows plus
    * a 64× row explosion). Sums stay exact decimal(28,14) — order
    * independent — so the centroids are bit-identical to the explode
    * formulation on uniform-dims input.
    */
  val Dims = 64

  /** Loud dims guard (r17 verdict item 3): [[Dims]] is load-bearing for
    * the one-pass centroid aggregates — `sum(element_at(v, i))` silently
    * SKIPS a null element, so a short vector would produce wrong
    * centroids instead of failing where the old posexplode form degraded
    * visibly. Gating every summed vector on `size(v) = Dims` turns the
    * latent silent-wrong into an immediate task failure. Cost: one
    * codegen size() comparison per row.
    */
  private[graft] def dimsChecked(v: Column): Column =
    when(size(v) === Dims, v).otherwise(raise_error(concat(
      lit(s"expected $Dims-dim vector, got size "), size(v).cast("string"))))

  def codebook(vecs: DataFrame): DataFrame = {
    val sums = (1 to Dims).map(i =>
      sum(element_at(col("v"), i).cast("decimal(28,14)")).as(s"_s$i"))
    vecs
      .withColumn("v", dimsChecked(col("v")))
      .groupBy(col("label").as("cell_id"))
      .agg(sums.head, (sums.tail :+ count(lit(1)).as("_n")): _*)
      .select(col("cell_id"),
        array((1 to Dims).map(i =>
          round(col(s"_s$i").cast("double") / col("_n"), 6)): _*).as("c"))
      .withColumn("cnorm", l2Norm(col("c")))
  }

  /** Driver-collected (cell_id, centroid) rows of a codebook frame —
    * k tiny rows (iteration/plan control, the same class as the
    * KMeans convergence snapshot; never data movement).
    */
  private[graft] def codebookRows(cents: DataFrame): Seq[(Any, Seq[Double])] =
    cents.select(col("cell_id"), col("c")).collect()
      .map(r => (r.get(0), r.getSeq[Double](1))).toSeq

  /** Per-row nearest-cell entry over collected codebook rows:
    * `least` over one codegen'd `struct(score, cell_id)` per cell,
    * score = c·c − 2·v·c with c·c folded to a driver-side literal
    * (bit-identical fold order to the runtime `array_dot(c,c)`).
    * Exactly the `min_by(cell_id, struct(score, cell_id))` ordering —
    * lexicographic with the tie on cell_id — so the assignment is
    * bit-identical to the old crossJoin(broadcast) + min_by shape
    * while running as a ZERO-exchange map (guide §2.4; the old shape
    * paid a corpus-wide hash(vec_id) exchange + SortAggregate pair).
    */
  private[graft] def nearestCell(rows: Seq[(Any, Seq[Double])],
      v: Column): Column = {
    require(rows.nonEmpty, "empty codebook")
    val entries = rows.map { case (cid, c) =>
      struct(
        (lit(KMeans.selfDot(c)) - arrayDot(v, typedlit(c)) * 2).as("score"),
        lit(cid).as("cell_id"))
    }
    (if (entries.size == 1) entries.head else least(entries: _*))
      .getField("cell_id")
  }

  /** Assign each vector (vec_id, v, norm) to its nearest-centroid cell
    * (L2 argmin via -2·v·c + c·c; v·v is constant per vector),
    * carrying the vector columns through. Deterministic tie-break on
    * cell_id. Collects the k-row codebook and assigns PER ROW — zero
    * exchange (see [[nearestCell]]); eager on `cents` (k rows). (No
    * aggregate anymore: the r13 carried-vector aggregate deleted the
    * corpus re-join, and the r17 per-row argmin deleted the aggregate's
    * own hash(vec_id) exchange too.)
    */
  private[graft] def assignCarrying(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      nearestCell(codebookRows(cents), col("v")).as("cell_id"),
      col("v"), col("norm"))

  /** Top-k per probe over its nprobe nearest cells.
    *
    * Plan discipline (round-13 exchange diet, then the r17 per-row
    * argmin): the node frame localCheckpoints once (it feeds the
    * codebook aggregation AND the final scan); the codebook is
    * COLLECTED (k tiny rows — the same bounded class as the KMeans
    * convergence snapshot) and re-enters the plan as a LocalRelation
    * for probe routing and as per-row argmin literals for the index —
    * so the assignment is a zero-exchange map fused into the candidate
    * scan, and the old cents/indexed checkpoints (two extra jobs) and
    * the assignment's hash(vec_id) exchange are gone. The candidate
    * scan BROADCASTS the probe-routing side — at most MaxProbes ×
    * nprobe ≈ 128 rows by construction — so the index is scanned in
    * place instead of being shuffled on cell_id: at 100 TB the probes
    * ship to the cells, never the reverse.
    *
    * Checkpoint lifecycle: each `search` call localCheckpoints the
    * corpus fresh and does NOT unpersist it — the single-shot-query
    * contract every declared query follows (the harness owns the
    * session and sweeps storage between operators; `graft.Scale`'s
    * per-op unpersist already covers the bench path). A long-lived
    * session issuing repeated searches should either sweep
    * `getPersistentRDDs` between calls or build the index ONCE and
    * reuse it — and on a real cluster a standing index belongs in the
    * bucketed materializer (durable, executor-loss-safe), not in
    * localCheckpoint blocks, which are unrecoverable on executor loss.
    */
  def search(spark: SparkSession, sfDir: String,
      k: Int = 10, nprobe: Int = 2): DataFrame = {
    val vecs = graft.queries.Tables.rebalance(
      graft.queries.Tables.embeddings(spark, sfDir))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", l2Norm(col("v")))
      .localCheckpoint()
    val cb = codebook(vecs)
    val centRows = cb.collect() // k tiny rows, ONE job
    val centsLocal = spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*), cb.schema)
    val rows = centRows.map(r => (r.get(0), r.getSeq[Double](1))).toSeq
    // vec_id, cell_id, v, norm — zero-exchange per-row assignment,
    // fused into the candidate-scan stage (no standalone index job)
    val indexed = vecs.select(col("vec_id"),
      nearestCell(rows, col("v")).as("cell_id"), col("v"), col("norm"))

    // probe routing: nprobe nearest cells per probe — bounded probe
    // sample (at most SimilarityQueries.MaxProbes at any corpus size)
    val probes = vecs.filter(
        graft.queries.SimilarityQueries.probePred(col("vec_id")))
      .select(col("vec_id").as("probe_id"),
        col("v").as("pv"), col("norm").as("pnorm"))
    scanCandidates(indexed, routeProbes(centsLocal, probes, nprobe), k)
  }

  /** Probe routing: the nprobe nearest cells per probe row
    * (probe_id, pv, pnorm) against a broadcast codebook. Shared by the
    * per-query [[search]] and the durable standing index
    * ([[graft.streaming.StreamingIvfIndex]]) — the standing index ALSO
    * turns the routed cells into a touched-shard set so its candidate
    * read is bucket-pruned.
    */
  private[graft] def routeProbes(cents: DataFrame, probes: DataFrame,
      nprobe: Int): DataFrame =
    probes.crossJoin(broadcast(cents))
      .withColumn("score",
        arrayDot(col("c"), col("c")) - arrayDot(col("pv"), col("c")) * 2)
      .withColumn("cr", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("score"), col("cell_id"))))
      .filter(col("cr") <= nprobe)
      .select(col("probe_id"), col("pv"), col("pnorm"), col("cell_id"))

  /** Exact brute-force cosine top-k of `probes` (probe_id, pv, pnorm)
    * over `indexed` (vec_id, v, norm) — the truth side of every ANN
    * recall gate (the sim_recall_report shape, factored so the standing
    * index's recall rows reuse it verbatim). Probe side broadcast,
    * index side scanned in place.
    */
  private[graft] def bruteTopK(indexed: DataFrame, probes: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    broadcast(probes).as("p")
      .join(indexed.as("e"), col("p.probe_id") =!= col("e.vec_id"))
      .select(col("p.probe_id"), col("e.vec_id"),
        (arrayDot(col("p.pv"), col("e.v")) /
          (col("p.pnorm") * col("e.norm"))).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id"))
  }

  /** Mean recall@k of `got` against `truth` (both (probe_id, vec_id)
    * top-k row sets over the same probes): |got ∩ truth| / k averaged
    * over truth's probes.
    */
  private[graft] def recallAtK(got: DataFrame, truth: DataFrame,
      k: Int): Double = {
    val t = truth.select(col("probe_id"), col("vec_id"))
    val g = got.select(col("probe_id"), col("vec_id"))
    val overlap = t.join(g, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("o"))
    t.select(col("probe_id")).distinct()
      .join(overlap, Seq("probe_id"), "left")
      .agg(avg(coalesce(col("o"), lit(0L)) / k.toDouble))
      .head().getDouble(0)
  }

  /** Candidate scan + top-k: only vectors in the probed cells; the
    * probe side is ≤ MaxProbes × nprobe rows — broadcast it so the
    * index side never shuffles.
    */
  private[graft] def scanCandidates(indexed: DataFrame,
      probeCells: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    broadcast(probeCells).as("p")
      .join(indexed.as("e"),
        col("p.cell_id") === col("e.cell_id") &&
          col("p.probe_id") =!= col("e.vec_id"))
      .select(col("p.probe_id"), col("e.vec_id"),
        (arrayDot(col("p.pv"), col("e.v")) /
          (col("p.pnorm") * col("e.norm"))).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy(col("probe_id"), col("rnk"))
  }
}
