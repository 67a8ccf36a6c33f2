package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import QueryDef.{uhash, uhashSql}

/** Deduplication operators over the `documents` / `embeddings` fixtures —
  * the LLM-training-pipeline surface: exact (hash-groupBy), MinHash+LSH
  * (shingle → minhash signature → band → bucket-join), SimHash (bitwise
  * majority fingerprint), n-gram Jaccard (blocked pairwise), and
  * embedding-cosine near-dup (blocked pairwise over exact double math).
  *
  * Scale design (100 TB):
  *   - exact dedup is a single hash aggregation on the text hash — the
  *     partial (map-side) aggregation collapses duplicates before the
  *     shuffle, so shuffle volume is O(distinct), not O(rows)
  *   - MinHash/LSH is the scale path for near-dup: cost is O(rows ×
  *     shingles) for signatures, then a shuffle keyed on (band, signature)
  *     whose buckets are tiny; no O(n²) stage exists
  *   - pairwise Jaccard / cosine are quadratic and therefore ALWAYS
  *     blocked (by lang / label here); at full scale the blocks come from
  *     LSH buckets, keeping the same plan shape
  *   - every hash is the deterministic 31-polynomial (JavaStringHash, a
  *     codegen'd Catalyst expression) so results are reproducible across
  *     engines and runs.
  */
object DedupQueries {

  private val NumHashes = 16
  private val BandSize = 4
  private val NumBands = NumHashes / BandSize

  /** Max vectors per label block in the pairwise-exact embedding dedup —
    * bounds per-block pair work at cap² (dropped tail is counted by the
    * `dedup_embedding_block_cap` observed metric and mirrored in the
    * oracle, so the cap is part of the operator's semantics, not a
    * silent truncation).
    */
  val EmbedBlockCap = 4096

  /** Max document frequency for a (lang, bigram) key in the n-gram
    * Jaccard inverted index. Grams hotter than this are dropped before
    * the self-join (mirrored in the oracle): a gram in >cap docs is a
    * stop-bigram carrying ~zero similarity signal but df² join work —
    * at sf0.1 the cap removes 65% of pair-rows while dropping <20% of
    * grams. Dropped volume is reported via the `ngram_df_cap` observed
    * metric.
    */
  val NgramDfCap = 100
  /** Max docs per LSH bucket before the bucket is dropped from pair
    * generation (see [[minhashPairs]]) — C(cap,2) bounds per-bucket
    * pair work; over-cap buckets are trivially-duplicate clusters for
    * exact dedup, not pairwise LSH.
    */
  val MinHashBucketCap = 64
  /** First prime above 2^32 — the minhash modulus. */
  private val P = 4294967311L
  private def aCoef(i: Int): Long = 2L * i + 1
  private def bCoef(i: Int): Long = 7919L * i + 1

  private val shingleHashesSql: String =
    s"""d AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |  range(1, greatest(len(toks) - 1, 2)),
       |  i -> toks[CAST(i AS INTEGER)] || ' ' ||
       |       toks[CAST(least(i + 1, len(toks)) AS INTEGER)] || ' ' ||
       |       toks[CAST(least(i + 2, len(toks)) AS INTEGER)]))) AS s FROM d),
       |hh AS (SELECT doc_id, ${uhashSql("s")} AS h FROM sh)""".stripMargin

  /** MinHash signatures: doc_id + NumBands band-signature strings.
    *
    * Computed PER ROW by the fused codegen pair
    * [[graft.functions.ClampedShingleHashes]] →
    * [[graft.functions.MinHashBands]] (same shingle semantics, hash
    * family, and band layout as [[shingleHashesSql]]/[[signaturesSql]],
    * proven by the unchanged oracle hash): the signature stage is
    * scan→project with NO exchange — the earlier explode →
    * groupBy(doc_id) → 16 partial-aggregated mins form paid a shuffle
    * keyed on doc_id at any scale. The LSH bucket join is now the dedup
    * pipeline's only shuffle.
    */
  private def signatures(s: SparkSession, dir: String): DataFrame = {
    val bands = graft.functions.MinHashBands.minhashBands(
      graft.functions.ClampedShingleHashes.clampedShingleHashes(col("text")),
      NumHashes, BandSize)
    Tables.rebalance(Tables.documents(s, dir))
      .withColumn("bands", bands)
      .select(col("doc_id") +: (0 until NumBands).map(b =>
        element_at(col("bands"), b + 1).as(s"band$b")): _*)
  }

  private val signaturesSql: String = {
    val mins = (0 until NumHashes)
      .map(i => s"MIN((h * ${aCoef(i)} + ${bCoef(i)}) % $P) AS mh$i").mkString(", ")
    val bands = (0 until NumBands).map { b =>
      (0 until BandSize).map(r => s"CAST(mh${b * BandSize + r} AS VARCHAR)")
        .mkString(" || '-' || ") + s" AS band$b"
    }.mkString(", ")
    s"""$shingleHashesSql,
       |sig AS (SELECT doc_id, $mins FROM hh GROUP BY doc_id),
       |bands AS (SELECT doc_id, $bands FROM sig)""".stripMargin
  }

  /** LSH candidate pairs (doc_a < doc_b), reused by the pair query and
    * the clustering query.
    *
    * Buckets larger than [[MinHashBucketCap]] docs are dropped before
    * the self-join (broadcast anti join, counted via an observed
    * metric): a bucket of n docs emits C(n,2) pairs, so a dup-saturated
    * corpus (every text present k times ⇒ every bucket holds k
    * identical signatures) would otherwise blow up quadratically in k.
    * An over-cap bucket is by definition a trivially-duplicate cluster —
    * exact dedup (the cheaper operator, composed first in
    * pipe_curate_e2e) is the right tool for it, not pairwise LSH. The
    * cap is mirrored in the oracle SQL so the hash check covers it at
    * every SF. Same pattern as [[NgramDfCap]].
    */
  /** The signature frame, materialized ONCE per derivation: the bucket
    * census and the kept side are separate post-shuffle stages over
    * the same rebalance exchange, so without the checkpoint the
    * minhash computation — the pipeline's heaviest codegen stage (16
    * hash transforms per shingle) — runs twice per execution (stage
    * reuse covers only the exchange BELOW it). The leaf is node-sized
    * (doc_id + 4 band strings) and inherits the rebalance's
    * scheduler-width layout. Shared by the pair derivation and the
    * signature-agreement estimator's lookups.
    */
  private def minhashSignaturesCheckpointed(
      s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "sigs")(signatures(s, dir).localCheckpoint())

  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    if (derivationCacheOn(s)) minhashPairsCheckpointed(s, dir)
    else minhashPairsFrom(minhashSignaturesCheckpointed(s, dir))

  /** The pair frame, rebalanced + materialized once: the graph
    * operators (pagerank, triangles) consume it several times in-plan,
    * and with the derivation cache on it is THE shared artifact every
    * LSH-family query starts from. The rebalance runs BEFORE the
    * checkpoint so AQE cannot coalesce the leaf to 1–2 partitions
    * (the round-12 degree-job lesson).
    */
  def minhashPairsCheckpointed(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir, "pairs")(Tables.rebalance(
      minhashPairsFrom(minhashSignaturesCheckpointed(s, dir)))
      .localCheckpoint())

  // --------------------------------------------------------------------
  // Session-scoped derivation cache — machinery and contract live in
  // [[DerivationCache]] (shared with the gram-hash family in
  // [[OpsQueries]]); these delegates keep the LSH family's established
  // entry points.
  def derivationCacheOn(s: SparkSession): Boolean = DerivationCache.on(s)

  def memoOwnedRddIds(s: SparkSession): Set[Int] =
    DerivationCache.memoOwnedRddIds(s)

  def clearDerivationMemos(s: SparkSession): Unit = DerivationCache.clear(s)

  private def memoized(s: SparkSession, dir: String, key: String)(
      build: => DataFrame): DataFrame =
    DerivationCache.memoized(s, dir, key)(build)

  /** Clone-set instrument of [[graft.Scale100]]'s recall gate: the exploded
    * (doc_id, band, sigh, fsig) band-bucket frame — `sigh` is the SAME
    * 63-bit (band id | band signature) bucket key [[minhashPairsFrom]]
    * shuffles on, `fsig` the full-signature hash (16/16 minhash
    * agreement ⇒ same fsig) that identifies clone sets.
    */
  private[graft] def lshBandFrame(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSignaturesCheckpointed(s, dir)
    sig.select(col("doc_id"),
      QueryDef.uhash64(concat_ws("|",
        (0 until NumBands).map(b => col(s"band$b")): _*)).as("fsig"),
      posexplode(array((0 until NumBands).map(b =>
        QueryDef.uhash64(concat(lit(s"$b|"), col(s"band$b")))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "sigh")
  }

  private def minhashPairsFrom(sig: DataFrame): DataFrame = {
    // the bucket key is the 8-byte shared hash of (band id | band
    // signature), not the ~40-char signature string: every downstream
    // exchange — the hot-bucket census, the bucket self-join, the
    // pair distinct — ships and compares one long per row (the same
    // playbook as the gram-hash inverted index). The key is the
    // 63-BIT pack of two independent salted 31-poly hashes
    // (QueryDef.uhash64): a 32-bit key's expected collisions are
    // N²/2^33 — ≈ 1 already near 90 k (doc × band) keys and
    // guaranteed merges in the millions, each of which either emits
    // spurious pairs between docs sharing no band signature or pushes
    // a merged census count over MinHashBucketCap so a genuine
    // duplicate bucket gets dropped. The 63-bit pack keeps the
    // expectation below one collision out to ~4 B keys. The oracle
    // buckets on the IDENTICAL pack, so the hash gate stays
    // bit-exact either way.
    val buckets = sig.select(col("doc_id"),
      explode(array((0 until NumBands).map(b =>
        QueryDef.uhash64(concat(lit(s"$b|"), col(s"band$b")))): _*)).as("sigh"))
    val hot = buckets.groupBy(col("sigh"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > MinHashBucketCap)
      .observe("minhash_bucket_cap",
        count(lit(1)).as("hot_buckets"),
        sum(col("n")).as("dropped_rows"))
      .select(col("sigh"))
    val kept = buckets.join(broadcast(hot), Seq("sigh"), "left_anti")
    kept.as("a").join(kept.as("b"),
        col("a.sigh") === col("b.sigh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Shared-bigram pair counts (doc_a < doc_b, shared, sa, sb) via the
    * inverted-index join — the common core of the n-gram Jaccard and
    * containment operators. The gram stage is one fused
    * [[graft.functions.WordGramHashes]] call (codegen; replaces the
    * interpreted split → zip_with → array_distinct → hash chain); grams
    * hotter than [[NgramDfCap]] are dropped before the self-join via a
    * broadcast anti join (the blocklist is tiny by construction) and
    * counted by the `metricName` observed metric. Work is Σ_gram df²
    * bounded by cap² per gram — no cartesian stage at any scale.
    */
  private def sharedGramCounts(
      s: SparkSession, dir: String, metricName: String): DataFrame = {
    // checkpoint the PRE-explode gram arrays (the minhashPairs sig
    // pattern): the df census and the kept side are separate
    // post-shuffle stages, so the fused gram hashing would otherwise
    // run twice per execution; the explode itself is cheap to repeat
    val grams = Tables.rebalance(Tables.documents(s, dir))
      .withColumn("ghs", graft.functions.WordGramHashes.wordGramHashes(
        col("text"), 2, concat(col("lang"), lit("|"))))
      .select(col("doc_id"), col("ghs"))
      .localCheckpoint()
    // SIZE-FREE postings (r18, guide §2.3/§8: shuffle keys and
    // metadata, not payloads): the posting row the inverted-index
    // self-join exchanges is (doc_id, gh) — the per-doc gram count
    // `sz` no longer rides every posting (before: carried through the
    // self-join exchange AND the pair aggregation's grouping key, Σ df²
    // rows at scale). Doc sizes are a node-sized (doc_id, sz) side
    // table — one row per DOCUMENT, derived from the same checkpointed
    // leaf — joined back onto the AGGREGATED pair table, which is
    // orders of magnitude smaller than the posting stream. The join
    // takes the gated broadcast hint (footer row count, limit/8
    // derated like the signature-lookup gate: these rows are ~16 B);
    // past the gate it degrades to a keyed join against the pair
    // table, never against postings.
    val inv = grams.select(col("doc_id"), explode(col("ghs")).as("gh"))
    val hot = inv.groupBy(col("gh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > NgramDfCap)
      .observe(metricName,
        count(lit(1)).as("hot_grams"),
        sum(col("df")).as("dropped_rows"))
      .select(col("gh"))
    val kept = inv.join(broadcast(hot), Seq("gh"), "left_anti")
    val counts = kept.as("a").join(kept.as("b"),
        col("a.gh") === col("b.gh") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    // both lookups are the IDENTICAL projection over the checkpointed
    // leaf (aliases only), so the physical broadcast exchange is built
    // once and the second join takes a ReusedExchange
    val sizes = grams.select(col("doc_id"), size(col("ghs")).as("sz"))
    val bh = graft.operators.ConnectedComponents.hintIf(
      Tables.documentsRowCount(s, dir) <=
        graft.operators.ConnectedComponents.BroadcastNodeLimit / 8)
    counts
      .join(bh(sizes.as("sza")), col("doc_a") === col("sza.doc_id"))
      .join(bh(sizes.as("szb")), col("doc_b") === col("szb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        col("sza.sz").as("sa"), col("szb.sz").as("sb"), col("shared"))
  }

  /** [[sharedGramCounts]] behind the session derivation cache: the
    * inverted-index join is the gram family's heavy stage and its
    * output (doc_a, doc_b, sa, sb, shared) is identical for Jaccard
    * and containment — only the score projection differs. With the
    * cache on the counts frame is derived once per (session, sfDir)
    * under the family-neutral `gram_df_cap` metric and checkpointed;
    * with it off each query keeps its own standalone plan AND its own
    * observed-metric name (the per-query harnesses see no change).
    */
  private[graft] def sharedGramCountsMemo(
      s: SparkSession, dir: String, metricName: String): DataFrame =
    if (DerivationCache.on(s))
      DerivationCache.memoized(s, dir, "gram_counts")(
        sharedGramCounts(s, dir, "gram_df_cap").localCheckpoint())
    else sharedGramCounts(s, dir, metricName)

  /** DuckDB mirror of [[sharedGramCounts]] (CTE chain ending in `shared`). */
  private val sharedGramSql: String =
    s"""g AS (
        SELECT doc_id, lang,
          list_distinct(list_transform(
            range(1, len(string_split(trim(text), ' '))),
            i -> string_split(trim(text), ' ')[CAST(i AS INTEGER)] || ' ' ||
                 string_split(trim(text), ' ')[CAST(i AS INTEGER) + 1])) AS grams
        FROM documents),
        inv0 AS (
          SELECT doc_id, lang, len(grams) AS sz, unnest(grams) AS gram FROM g),
        inv AS (
          SELECT doc_id, sz, ${uhashSql("lang || '|' || gram")} AS gh FROM inv0),
        dfc AS (SELECT gh, COUNT(*) AS df FROM inv GROUP BY gh),
        kept AS (
          SELECT inv.doc_id, inv.sz, inv.gh
          FROM inv JOIN dfc ON inv.gh = dfc.gh WHERE dfc.df <= $NgramDfCap),
        shared AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sa, b.sz AS sb,
            COUNT(*) AS shared
          FROM kept a JOIN kept b
            ON a.gh = b.gh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id, a.sz, b.sz)"""

  /** DuckDB mirror of [[minhashPairs]]'s bucket stage (bx → bc → bk →
    * pr), bucketed on the SAME 8-byte (band id | band signature) hash
    * the Spark side shuffles on — shared by the pair, clusters, and
    * quality-report oracles.
    */
  private val bucketsSql: String =
    s"""bx AS (
          ${(0 until NumBands)
            .map(b =>
              s"SELECT doc_id, ${QueryDef.uhash64Sql(s"'$b|' || band$b")} AS sigh FROM bands")
            .mkString(" UNION ALL ")}),
        bc AS (SELECT sigh FROM bx GROUP BY sigh
          HAVING COUNT(*) <= $MinHashBucketCap),
        bk AS (SELECT bx.* FROM bx JOIN bc ON bx.sigh = bc.sigh),
        pr AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b
            ON a.sigh = b.sigh AND a.doc_id < b.doc_id)"""

  /** Shared oracle for `dedup_clusters` and `dedup_clusters_star`: the
    * LSH pair graph closed with a recursive CTE — both Spark
    * implementations (min-label and large-star/small-star) must agree
    * with it bit-for-bit.
    */
  /** The clusters CTE chain (LSH pair graph + recursive closure), sans
    * final SELECT — composable by every clusters-consuming oracle.
    */
  private val clustersCtes: String =
    s"""WITH RECURSIVE $signaturesSql,
        $bucketsSql,
        ed AS (
          SELECT doc_a AS src, doc_b AS dst FROM pr
          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pr),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.dst, reach.r FROM reach JOIN ed e ON e.src = reach.id)"""

  private val clustersOracleSql: String =
    s"""$clustersCtes
        SELECT id AS doc_id, MIN(r) AS cluster_id
        FROM reach GROUP BY id ORDER BY doc_id"""

  val defs: Map[String, QueryDef] = Map(

    // ------------------------------------------------------- exact dedup
    "dedup_exact" -> QueryDef(
      (s, dir) => {
        // group on a 64-bit hash of the normalized text, not the text:
        // the exchange ships 8 bytes/row instead of the payload (the
        // oracle groups on the text itself — identical groups barring a
        // 64-bit collision, which the hash-check would expose)
        Tables.documents(s, dir)
          .groupBy(xxhash64(lower(trim(col("text")))).as("text_hash"))
          .agg(min(col("doc_id")).as("keeper_doc_id"),
            count(lit(1)).as("n_copies"))
          .select(col("keeper_doc_id"), col("n_copies"))
          .orderBy(col("keeper_doc_id"))
      },
      Some("""SELECT MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
        FROM documents GROUP BY lower(trim(text))
        ORDER BY keeper_doc_id""")),

    // ------------------------------------------- MinHash signatures (LSH)
    "dedup_minhash_sig" -> QueryDef(
      (s, dir) => signatures(s, dir).orderBy(col("doc_id")),
      Some(s"""WITH $signaturesSql
        SELECT * FROM bands ORDER BY doc_id""")),

    // --------------------------------------- LSH candidate pairs (bucket)
    // Scale path: explode band columns into (band_id, sig) rows, then
    // a single shuffle join keyed on the bucket — never O(n²).
    "dedup_minhash_pairs" -> QueryDef(
      (s, dir) => minhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH $signaturesSql,
        $bucketsSql
        SELECT doc_a, doc_b FROM pr
        ORDER BY doc_a, doc_b""")),

    // ------------------- signature-agreement Jaccard estimate per pair
    // The standard MinHash estimator: E[fraction of agreeing minhash
    // values] = Jaccard(shingle sets). Scored per CANDIDATE pair from
    // the signatures alone — the triage instrument that ranks LSH
    // candidates without re-reading any text, which at corpus scale is
    // the difference between a signature-table join and a second full
    // text pass. The signature lookups are node-sized and take the
    // gated broadcast hint; the per-hash comparison unpacks the band
    // strings (bounded: NumHashes values per side).
    "dedup_minhash_jaccard_est" -> QueryDef(
      (s, dir) => {
        val sig = minhashSignaturesCheckpointed(s, dir)
        // gate at LIMIT/8, not the full 50M-row ceiling: that ceiling is
        // calibrated for narrow (id)/(id, rank) build sides, while a
        // signature row carries doc_id + 4 band strings (~50-60 B) — a
        // forced broadcast near the full gate would blow Spark's 8 GB
        // broadcast hard cap and fail the job rather than fall back
        // (the triangle-close pair broadcast uses the same derating)
        val bh = graft.operators.ConnectedComponents.hintIf(
          Tables.documentsRowCount(s, dir) <=
            graft.operators.ConnectedComponents.BroadcastNodeLimit / 8)
        val aSide = sig.select(col("doc_id").as("doc_a") +:
          (0 until NumBands).map(b => col(s"band$b").as(s"a_band$b")): _*)
        val bSide = sig.select(col("doc_id").as("doc_b") +:
          (0 until NumBands).map(b => col(s"band$b").as(s"b_band$b")): _*)
        val nMatch = (0 until NumBands).map { b =>
          size(filter(
            zip_with(split(col(s"a_band$b"), "-"), split(col(s"b_band$b"), "-"),
              (x, y) => when(x === y, lit(1)).otherwise(lit(null))),
            x => x.isNotNull)).cast("long")
        }.reduce(_ + _)
        // cache off: derive pairs from the SAME sig leaf the lookup
        // sides use (one checkpoint in-plan); cache on: the shared
        // checkpointed pair frame
        val pairs =
          if (derivationCacheOn(s)) minhashPairsCheckpointed(s, dir)
          else minhashPairsFrom(sig)
        pairs
          .join(bh(aSide), "doc_a")
          .join(bh(bSide), "doc_b")
          .select(col("doc_a"), col("doc_b"), nMatch.as("n_match"))
          .withColumn("jaccard_est",
            col("n_match").cast("double") / lit(NumHashes.toDouble))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH $signaturesSql,
        $bucketsSql,
        m AS (
          SELECT p.doc_a, p.doc_b,
            CAST(${(0 until NumHashes)
              .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
              .mkString(" + ")} AS BIGINT) AS n_match
          FROM pr p
          JOIN sig a ON a.doc_id = p.doc_a
          JOIN sig b ON b.doc_id = p.doc_b)
        SELECT doc_a, doc_b, n_match,
          CAST(n_match AS DOUBLE) / $NumHashes AS jaccard_est
        FROM m ORDER BY doc_a, doc_b""")),

    // ----------------------------- dedup quality gate (precision/recall)
    // The report that justifies the LSH approximation: MinHash candidate
    // pairs vs the exact n-gram-Jaccard ground truth at the SAME 0.12
    // threshold the declared near-dup query uses. One full-outer join of
    // two already-bounded pair sets + a single aggregation — the gate
    // costs no more than the two pipelines it certifies, and both
    // inherit their caps (bucket cap, df cap) so it runs at any scale.
    "dedup_quality_report" -> QueryDef(
      (s, dir) => {
        // union + ONE pair-keyed aggregate instead of a full-outer join
        // (r18, guide §2.4): both pair sets are distinct by
        // construction (the LSH pairs end in .distinct(); the gram
        // counts group by the pair), so FULL OUTER JOIN + flag sums ==
        // union the flagged sides, max the flags per pair, sum the
        // flags globally. The join shape exchanged BOTH sides on
        // (doc_a, doc_b) and sorted them into an SMJ; the union shape
        // pays one hash exchange of the same rows and no sort.
        val cand = minhashPairs(s, dir)
          .select(col("doc_a"), col("doc_b"),
            lit(1L).as("is_cand"), lit(0L).as("is_true"))
        val truth = sharedGramCounts(s, dir, "quality_df_cap")
          .filter(col("shared").cast("double") /
            (col("sa") + col("sb") - col("shared")).cast("double") >= 0.12)
          .select(col("doc_a"), col("doc_b"),
            lit(0L).as("is_cand"), lit(1L).as("is_true"))
        cand.unionAll(truth)
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(max(col("is_cand")).as("c"), max(col("is_true")).as("t"))
          .agg(sum(col("c")).as("n_candidates"),
            sum(col("t")).as("n_true"),
            sum(col("c") * col("t")).as("n_hits"))
          // null-safe ratios: on a fully dup-saturated corpus the df cap
          // can empty the truth set (every gram goes stop-hot — found by
          // the 30x scale smoke, where ANSI mode turned this into a
          // DIVIDE_BY_ZERO). An undefined ratio is NULL, not a crash.
          .withColumn("precision",
            when(col("n_candidates") === 0L, lit(null).cast("double"))
              .otherwise(col("n_hits").cast("double") /
                col("n_candidates").cast("double")))
          .withColumn("recall",
            when(col("n_true") === 0L, lit(null).cast("double"))
              .otherwise(col("n_hits").cast("double") /
                col("n_true").cast("double")))
      },
      Some(s"""WITH $signaturesSql,
        $bucketsSql,
        $sharedGramSql,
        tr AS (
          SELECT doc_a, doc_b FROM shared
          WHERE CAST(shared AS DOUBLE) / CAST(sa + sb - shared AS DOUBLE) >= 0.12),
        flags AS (
          SELECT CASE WHEN p.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_cand,
                 CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END AS is_true
          FROM pr p FULL OUTER JOIN tr t
            ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b),
        agg AS (
          SELECT CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
                 CAST(SUM(is_true) AS BIGINT) AS n_true,
                 CAST(SUM(is_cand * is_true) AS BIGINT) AS n_hits
          FROM flags)
        SELECT n_candidates, n_true, n_hits,
          CASE WHEN n_candidates = 0 THEN NULL
            ELSE CAST(n_hits AS DOUBLE) / CAST(n_candidates AS DOUBLE)
          END AS precision,
          CASE WHEN n_true = 0 THEN NULL
            ELSE CAST(n_hits AS DOUBLE) / CAST(n_true AS DOUBLE)
          END AS recall
        FROM agg ORDER BY n_candidates""")),

    // ----------------------------- duplicate clusters (connected comps)
    // Pairs → clusters: iterative min-label propagation
    // (graft.operators.ConnectedComponents); the oracle closes the same
    // pair graph with a recursive CTE.
    "dedup_clusters" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").as("id"))
        val pairs = minhashPairs(s, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        graft.operators.ConnectedComponents.run(docs, pairs,
            knownVertexCount = Some(Tables.documentsRowCount(s, dir)))
          .select(col("id").as("doc_id"), col("cluster_id"))
          .orderBy(col("doc_id"))
      },
      Some(clustersOracleSql)),

    // Same clusters via the web-scale path: alternating large-star/
    // small-star edge rewriting (O(log n) rounds on any topology, vs
    // diameter rounds for min-label). Declared against the IDENTICAL
    // oracle as dedup_clusters, so the driver gate proves the two
    // implementations agree every round.
    "dedup_clusters_star" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").as("id"))
        val pairs = minhashPairs(s, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        graft.operators.ConnectedComponents.runStar(docs, pairs,
            knownVertexCount = Some(Tables.documentsRowCount(s, dir)))
          .select(col("id").as("doc_id"), col("cluster_id"))
          .orderBy(col("doc_id"))
      },
      Some(clustersOracleSql)),

    // ----------------------------- PageRank over the candidate graph
    // Power-iteration PageRank (10 rounds, damping 0.85) on the LSH
    // pair graph — ranking the "hub" documents whose text is shared the
    // most widely (the canonical-selection signal that size alone
    // misses). ALL arithmetic is integer fixed-point in rank-micros
    // (1e6 = rank 1.0): per-edge contribution is floor(rank/deg) and
    // the damping update is 150000 + (85·Σ)//100, so every engine —
    // and every task retry — produces the same bits, no float-sum
    // order dependence anywhere. Per round: one join + one keyed sum,
    // lineage truncated via localCheckpoint (the CC loop pattern).
    // The oracle unrolls the same 10 rounds as chained CTEs.
    //
    // Convergence early-exit (round-4 verdict item 7): the update is a
    // deterministic function next = f(prev) of the whole rank vector,
    // so the integer formulation has an EXACT fixed point — if round k
    // produces bit-identical ranks to round k-1, every later round
    // reproduces them too, and stopping at k emits the same bits the
    // full 10 rounds (and the 10-round-unrolled oracle) would. The
    // check rides the rounds that already materialize a checkpoint: the
    // iterate carries its previous rank, and an isEmpty probe on the
    // checkpointed frame costs one cached scan. On near-regular graphs
    // (the 30x clone smoke: 30-cliques) ranks settle by round 2-3, so
    // the scale path drops ~70% of the rounds; on graphs that keep
    // drifting all 10 rounds run, exactly as before.
    "graph_pagerank" -> QueryDef(
      (s, dir) => {
        val nodes = Tables.documents(s, dir)
          .select(col("doc_id").as("id"))
        // the DIRECTED pair set (a < b) comes from the shared
        // checkpointed derivation (memoized under the session
        // derivation cache), then symmetrizes from the leaf: the
        // expensive LSH derivation materializes once at HALF the row
        // count the symmetrized union would write, and the union over
        // two leaf scans is nearly free. `edgesTruncated = true` tells
        // the operator the plan is already leaf-cheap so it must not
        // re-checkpoint it (that double materialization measured ~6 s
        // slower at 30x when both checkpoints ran).
        val half = minhashPairsCheckpointed(s, dir)
          .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        // symmetrize by in-row explode, not union-of-leaf: a union
        // scans the checkpointed leaf once per branch (2x the task
        // count in the degree job and the cache fill); the explode
        // emits both orientations from ONE scan
        val ed = half.select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        // the operator picks the physical regime at runtime (node
        // count vs BroadcastNodeLimit): broadcast rank under the gate,
        // co-partitioned edges+rank past it — either way the edge
        // table is never re-exchanged per round (PageRank scaladoc)
        // `symmetric = true`: `ed` is the explicit both-directions
        // union just above, so the operator skips the source-only
        // split machinery (dst-distinct, anti-join, emptiness probe)
        graft.operators.PageRank.run(nodes, ed, rounds = 10,
          symmetric = true, edgesTruncated = true)
          .select(col("id").as("doc_id"), col("rank").as("rank_micro"))
          .orderBy(col("doc_id"))
      },
      Some {
        val rounds = (1 to 10).map { k =>
          s"""p$k AS (
            SELECT b.id,
              CAST(150000 + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS rank
            FROM p0 b LEFT JOIN (
              SELECT ed.dst AS id, SUM(p${k - 1}.rank // prdeg.dg) AS c
              FROM ed JOIN p${k - 1} ON ed.src = p${k - 1}.id
                JOIN prdeg ON prdeg.src = ed.src
              GROUP BY ed.dst) s ON b.id = s.id)"""
        }.mkString(",\n")
        s"""$clustersCtes,
        p0 AS (SELECT doc_id AS id, CAST(1000000 AS BIGINT) AS rank
          FROM documents),
        prdeg AS (SELECT src, COUNT(*) AS dg FROM ed GROUP BY src),
        $rounds
        SELECT id AS doc_id, rank AS rank_micro
        FROM p10 ORDER BY doc_id"""
      }),

    // --------------------------- triangle census over the candidate graph
    // Per-document triangle participation on the LSH pair graph — the
    // local-density signal that separates tight duplicate cliques
    // (every member pairwise-similar ⇒ many triangles) from chains of
    // borderline matches (path-shaped ⇒ zero triangles), i.e. which
    // clusters are safe to collapse aggressively. Scale shape: edges are
    // oriented from the lower-degree endpoint to the higher (ties by
    // id), so wedge enumeration costs Σ C(out_deg,2) with out-degree
    // bounded by √(2·|E|) regardless of hub skew — the classic
    // degree-ordered node-iterator. The triangle SET is orientation-
    // invariant, so the oracle enumerates the same triangles with the
    // plain a<b<c form and the hash check pins equality.
    "graph_triangles" -> QueryDef(
      (s, dir) => {
        // one checkpointed pair instance (the shared derivation),
        // reused 3× in-plan: the truncation both kills the re-executed
        // lineage and keeps the observed metric single-instanced (the
        // pagerank pattern); rebalanced at the leaf so the degree job
        // is not AQE-coalesced to 1–2 partitions
        val pairs = minhashPairsCheckpointed(s, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        val deg = pairs.select(explode(array(col("a"), col("b"))).as("id"))
          .groupBy(col("id")).agg(count(lit(1)).as("dg"))
        val lowFirst = col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b"))
        // the degree table is one row per NODE (≪ edges) — broadcast
        // both orientation lookups so the edge set is never shuffled
        // for them (the pagerank rank-vector trade). Gated on the doc
        // count (an upper bound on graph nodes): past the gate the
        // hints drop for two shuffles instead of failing the job.
        val bh = graft.operators.ConnectedComponents.hintIf(
          Tables.documentsRowCount(s, dir) <=
            graft.operators.ConnectedComponents.BroadcastNodeLimit)
        // the oriented edge set is consumed twice by the wedge
        // self-join (e1/e2); an explicit localCheckpoint here was
        // A/B-measured at 30× (r13) as a wash — AQE's runtime stage
        // reuse already dedupes the identical per-side subtrees, and
        // the extra materialization barrier costs standalone runs —
        // so the frame stays lazy
        val oriented = pairs
          .join(bh(deg.select(col("id").as("a"), col("dg").as("da"))), "a")
          .join(bh(deg.select(col("id").as("b"), col("dg").as("db"))), "b")
          .select(when(lowFirst, col("a")).otherwise(col("b")).as("src"),
            when(lowFirst, col("b")).otherwise(col("a")).as("dst"))
        // wedges centered at the low-degree vertex; u < v by id so each
        // wedge enumerates once, closed against the canonical pair set
        val wedges = oriented.as("e1").join(oriented.as("e2"),
            col("e1.src") === col("e2.src") &&
              col("e1.dst") < col("e2.dst"))
          .select(col("e1.src").as("x"),
            least(col("e1.dst"), col("e2.dst")).as("u"),
            greatest(col("e1.dst"), col("e2.dst")).as("v"))
        // the wedge set is the SQUARE of the orientation bound — on the
        // dup-saturated smoke ~C(30,3) per clone clique, an order of
        // magnitude more rows than the pair set — so the closing join
        // broadcasts the (bucket-capped, edge-sized) pair set and the
        // wedge stream pipelines out of the self-join with no exchange.
        // Gated on the MEASURED pair count (one cheap job over the
        // checkpointed leaf); past the gate the hint drops and the
        // close falls back to the pair-keyed shuffle.
        val bhPairs = graft.operators.ConnectedComponents.hintIf(
          pairs.count() <=
            graft.operators.ConnectedComponents.BroadcastNodeLimit / 8)
        val tri = wedges.join(bhPairs(pairs),
          col("u") === col("a") && col("v") === col("b"))
        tri.select(explode(array(col("x"), col("u"), col("v"))).as("doc_id"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_triangles"))
          .orderBy(col("doc_id"))
      },
      Some(s"""$clustersCtes,
        tri AS (
          SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
          FROM pr e1
          JOIN pr e2 ON e1.doc_a = e2.doc_a AND e1.doc_b < e2.doc_b
          JOIN pr e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b),
        tn AS (SELECT x AS doc_id FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
        SELECT doc_id, COUNT(*) AS n_triangles
        FROM tn GROUP BY doc_id ORDER BY doc_id""")),

    // ------------------------------- cluster-size distribution report
    // The number a dedup pass is judged by: how many clusters of each
    // size exist and how much document mass sits in them (size 1 =
    // unique docs; the tail = near-dup families). Two keyed aggregates
    // over the cluster labels — output is O(distinct sizes), a
    // dashboard-sized report at any corpus scale.
    "dedup_cluster_sizes" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").as("id"))
        val pairs = minhashPairs(s, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        graft.operators.ConnectedComponents.run(docs, pairs,
            knownVertexCount = Some(Tables.documentsRowCount(s, dir)))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("size"))
          .groupBy(col("size"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("size")).as("n_docs"))
          .orderBy(col("size"))
      },
      Some(s"""$clustersCtes,
        cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id
          FROM reach GROUP BY id),
        sz AS (SELECT cluster_id, COUNT(*) AS size
          FROM cl GROUP BY cluster_id)
        SELECT size, COUNT(*) AS n_clusters,
          CAST(SUM(size) AS BIGINT) AS n_docs
        FROM sz GROUP BY size ORDER BY size""")),

    // ------------------------------- canonical document selection
    // Clusters → one KEPT document per cluster: the longest member
    // (tie → lowest doc_id), plus the cluster's size and byte mass —
    // the decision table a dedup pass actually materializes (which doc
    // survives, what got folded into it). Cluster labels come from the
    // same connected-components operator; keeper choice is one max_by
    // aggregate over the (cluster, doc) join — no window over the full
    // corpus, fully key-partitioned.
    "dedup_canonical" -> QueryDef(
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").as("id"), col("n_chars"))
        val pairs = minhashPairs(s, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
        graft.operators.ConnectedComponents
          .run(docs.select(col("id")), pairs,
            knownVertexCount = Some(Tables.documentsRowCount(s, dir)))
          .join(docs, "id")
          .groupBy(col("cluster_id"))
          .agg(
            max_by(col("id"), struct(col("n_chars"), -col("id")))
              .as("keeper_doc_id"),
            count(lit(1)).as("cluster_size"),
            sum(col("n_chars")).as("total_chars"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""$clustersCtes,
        cl AS (SELECT id AS doc_id, MIN(r) AS cluster_id
          FROM reach GROUP BY id),
        j AS (SELECT cl.cluster_id, cl.doc_id, d.n_chars
          FROM cl JOIN documents d USING (doc_id)),
        rk AS (
          SELECT cluster_id, doc_id, n_chars,
            ROW_NUMBER() OVER (PARTITION BY cluster_id
              ORDER BY n_chars DESC, doc_id ASC) AS r,
            COUNT(*) OVER (PARTITION BY cluster_id) AS sz,
            SUM(n_chars) OVER (PARTITION BY cluster_id) AS tchars
          FROM j)
        SELECT cluster_id, doc_id AS keeper_doc_id,
          CAST(sz AS BIGINT) AS cluster_size,
          CAST(tchars AS BIGINT) AS total_chars
        FROM rk WHERE r = 1 ORDER BY cluster_id""")),

    // ----------------------------------------------------------- SimHash
    "dedup_simhash" -> QueryDef(
      (s, dir) => {
        val words = Tables.rebalance(Tables.documents(s, dir))
          .select(col("doc_id"),
            explode(split(trim(col("text")), " ")).as("w"))
          .select(col("doc_id"), uhash(col("w")).as("h"))
        val bitSums = (0 until 32).map(j =>
          sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
            .otherwise(-1)).as(s"b$j"))
        val sig = (0 until 32).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _)
        words.groupBy(col("doc_id"))
          .agg(bitSums.head, bitSums.tail: _*)
          .select(col("doc_id"), sig.as("simhash"))
          .orderBy(col("doc_id"))
      },
      Some {
        val bitSums = (0 until 32)
          .map(j => s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
          .mkString(", ")
        val sig = (0 until 32)
          .map(j => s"(CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
          .mkString(" + ")
        s"""WITH t AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents),
        hh AS (SELECT doc_id, ${uhashSql("w")} AS h FROM t),
        bits AS (SELECT doc_id, $bitSums FROM hh GROUP BY doc_id)
        SELECT doc_id, $sig AS simhash FROM bits ORDER BY doc_id"""
      }),

    // ------------------------------------------- n-gram Jaccard (blocked)
    // Inverted-index formulation: explode distinct word-bigrams, shuffle
    // join on a 32-bit hash of (lang, gram), count shared grams per pair,
    // derive jaccard from shared + set sizes. Produces exactly the
    // blocked all-pairs result over the kept grams (a zero-overlap pair
    // has jaccard 0 < threshold; the oracle joins on the identical hash,
    // so any hash collision affects both engines identically) while
    // doing work proportional to Σ_gram df(gram)² instead of
    // O(block²·|grams|). Grams with df > [[NgramDfCap]] (stop-bigrams —
    // the df² hot tail) are dropped via a broadcast anti join BEFORE the
    // self-join and counted by an observed metric; the cap is mirrored
    // in the oracle so the hash check covers it at every SF. This is the
    // plan that survives a 100× scale-up: the inverted-index join's
    // per-key work is bounded by cap², and the jaccard denominator still
    // uses the full (uncapped) set sizes. The fixture parquet is a
    // single row-group, so the scan is repartitioned before the
    // (CPU-heavy) gram explode.
    "dedup_ngram_jaccard" -> QueryDef(
      (s, dir) =>
        sharedGramCountsMemo(s, dir, "ngram_df_cap")
          .select(col("doc_a"), col("doc_b"),
            (col("shared").cast("double") /
              (col("sa") + col("sb") - col("shared")).cast("double"))
              .as("jaccard"))
          .filter(col("jaccard") >= 0.12)
          .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH $sharedGramSql
        SELECT doc_a, doc_b,
          CAST(shared AS DOUBLE) / CAST(sa + sb - shared AS DOUBLE) AS jaccard
        FROM shared
        WHERE CAST(shared AS DOUBLE) / CAST(sa + sb - shared AS DOUBLE) >= 0.12
        ORDER BY doc_a, doc_b""")),

    // --------------------------------- n-gram containment (asymmetric)
    // Containment = shared / min(|A|, |B|): catches a short document
    // embedded inside a longer one (quote farms, boilerplate wrappers,
    // partial copies) that symmetric Jaccard under-scores — the other
    // half of the n-gram dedup story. Same inverted-index machinery
    // and df cap as dedup_ngram_jaccard; only the score differs.
    "dedup_containment" -> QueryDef(
      (s, dir) =>
        sharedGramCountsMemo(s, dir, "containment_df_cap")
          .select(col("doc_a"), col("doc_b"),
            round(col("shared").cast("double") /
              least(col("sa"), col("sb")).cast("double"), 6)
              .as("containment"))
          .filter(col("containment") >= 0.2)
          .orderBy(col("doc_a"), col("doc_b")),
      Some(s"""WITH $sharedGramSql
        SELECT doc_a, doc_b,
          ROUND(CAST(shared AS DOUBLE) / CAST(least(sa, sb) AS DOUBLE), 6)
            AS containment
        FROM shared
        WHERE ROUND(CAST(shared AS DOUBLE) / CAST(least(sa, sb) AS DOUBLE), 6)
          >= 0.2
        ORDER BY doc_a, doc_b""")),

    // --------------------------------- embedding-cosine near-dup (blocked)
    // Pairwise-exact within a label block, with the block size CAPPED at
    // [[EmbedBlockCap]] vectors (rank by vec_id inside the block, tail
    // dropped and counted via an observed metric): per-block pair work is
    // bounded by cap² regardless of input size, so the plan survives a
    // 100× scale-up. The cap is mirrored in the oracle (QUALIFY on the
    // same rank), so the hash check holds at every SF. The UNCAPPED scale
    // path is dedup_embedding_lsh (sign-bit buckets).
    "dedup_embedding" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.rebalance(Tables.embeddings(s, dir)).select(
          col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
          .withColumn("norm", graft.functions.VectorOps.l2Norm(col("v")))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("label")).orderBy(col("vec_id"))))
          .observe("dedup_embedding_block_cap",
            count(when(col("rk") > EmbedBlockCap, 1)).as("dropped_rows"))
          .filter(col("rk") <= EmbedBlockCap)
          .drop("rk")
        val a = e.as("a")
        val b = e.as("b")
        a.join(b, col("a.label") === col("b.label") &&
            col("a.vec_id") < col("b.vec_id"))
          .select(
            col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            (graft.functions.VectorOps.arrayDot(col("a.v"), col("b.v")) /
              (col("a.norm") * col("b.norm"))).as("cos_sim"))
          .filter(col("cos_sim") >= 0.25)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some(s"""WITH e AS (
        SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
        n0 AS (SELECT vec_id, label, v,
          sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS norm
        FROM e),
        n AS (SELECT vec_id, label, v, norm FROM n0
          QUALIFY ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id)
            <= $EmbedBlockCap)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65),
              i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])),
            (acc, x) -> acc + x) / (a.norm * b.norm) AS cos_sim
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform(range(1, 65),
              i -> a.v[CAST(i AS INTEGER)] * b.v[CAST(i AS INTEGER)])),
            (acc, x) -> acc + x) / (a.norm * b.norm) >= 0.25
        ORDER BY vec_a, vec_b""")),

    // ----------------------- incremental dedup (new batch vs corpus)
    // The daily-ingest shape: a ~10% hash-selected increment is checked
    // against the REST of the corpus (the standing index) — each new
    // doc is either a near-dup of something existing (any shared LSH
    // bucket) or new-unique. At 100 TB the corpus side is the
    // precomputed signature store keyed on (band, signature): the
    // increment's signatures are per-row (no shuffle), the probe is one
    // bucket-keyed join against the index, and NOTHING rescans corpus
    // text. Output per increment doc: dup flag, distinct existing
    // matches, and the lowest matching corpus doc (the merge target).
    "dedup_incremental" -> QueryDef(
      (s, dir) => {
        val bands = graft.functions.MinHashBands.minhashBands(
          graft.functions.ClampedShingleHashes.clampedShingleHashes(
            col("text")), NumHashes, BandSize)
        val longb = Tables.rebalance(Tables.documents(s, dir))
          .withColumn("h", uhash(concat(lit("doc_"), col("doc_id"))))
          .withColumn("bands", bands)
          .select(col("doc_id"), col("h"),
            explode(array((0 until NumBands).map(b =>
              struct(lit(b).as("band_id"),
                element_at(col("bands"), b + 1).as("sig"))): _*))
              .as("bk"))
          .select(col("doc_id"), col("h"),
            col("bk.band_id").as("band_id"), col("bk.sig").as("sig"))
        val inc = longb.filter(col("h") % 10 === 0)
          .select(col("doc_id"), col("band_id"), col("sig"))
        val corp = longb.filter(col("h") % 10 =!= 0)
          .select(col("doc_id").as("cdoc"), col("band_id"), col("sig"))
        val matches = inc.join(corp, Seq("band_id", "sig"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("cdoc")).as("nm"),
            min(col("cdoc")).as("first_match"))
        inc.select(col("doc_id")).distinct()
          .join(matches, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("nm").isNotNull, 1L).otherwise(0L).as("is_dup"),
            coalesce(col("nm"), lit(0L)).as("n_matches"),
            col("first_match"))
          .orderBy(col("doc_id"))
      },
      Some {
        val unbands = (0 until NumBands).map(b =>
          s"SELECT doc_id, h, $b AS band_id, band$b AS sig FROM hb")
          .mkString(" UNION ALL ")
        s"""WITH $signaturesSql,
        hb AS (SELECT bands.*,
            ${uhashSql("'doc_' || CAST(doc_id AS VARCHAR)")} AS h
          FROM bands),
        lb AS ($unbands),
        ib AS (SELECT doc_id, band_id, sig FROM lb WHERE h % 10 = 0),
        cb AS (SELECT doc_id AS cdoc, band_id, sig FROM lb
          WHERE h % 10 <> 0),
        m AS (SELECT ib.doc_id, COUNT(DISTINCT cb.cdoc) AS nm,
            MIN(cb.cdoc) AS first_match
          FROM ib JOIN cb ON ib.band_id = cb.band_id AND ib.sig = cb.sig
          GROUP BY ib.doc_id)
        SELECT i.doc_id,
          CAST(CASE WHEN m.nm IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
          CAST(COALESCE(m.nm, 0) AS BIGINT) AS n_matches,
          m.first_match
        FROM (SELECT DISTINCT doc_id FROM ib) i
        LEFT JOIN m ON i.doc_id = m.doc_id
        ORDER BY i.doc_id"""
      }))
}
