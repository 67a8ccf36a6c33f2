package graft

/** Regression gates for the won performance bars (round-14, VERDICT
  * r13 item 2): `graft.Scale` FAILS — exits nonzero, not just records —
  * when a structural win silently backslides. Each bound is a
  * GENEROUS structural ceiling, sized to catch a lost fusion / a lost
  * probe confinement, not capture noise:
  *
  *   - IVM steady-epoch overhead ≤ 3.5 s at 30× (won bar 2.45 s,
  *     r13; losing the one-exchange keyed merges re-adds ~1 s+
  *     of exchanges per epoch — over the ceiling; host noise measured
  *     ±0.5 s — under it).
  *   - PageRank post-derivation ≤ 15 s at 30× (won 10.06 s, r13,
  *     under the split methodology: the shared `lsh_derivation` is
  *     accounted once for the whole family).
  *   - Dup-spans steady probe ≤ 52 / 256 buckets (the r13 pinned
  *     confinement; the value is DETERMINISTIC — it depends only on
  *     the steady doc's gram content, not on timing — so the pin is
  *     exact, not slack).
  *
  * Kept as pure predicates so the forced-failure spec
  * (ScaleGatesSpec) can prove each gate trips without running the
  * smoke.
  */
object ScaleGates {

  val IvmSteadyOverheadMaxSec = 3.5
  val PageRankMaxSec = 15.0
  val DupSpansProbeBucketsMax = 52

  /** 100× IVM steady-epoch ceiling AT THE STATE-PROPORTIONAL BUCKET
    * SHAPE (the r14 A/B: 256 buckets reads 2.10 s steady at 100× —
    * below the 30× floor; the 64-bucket shape reads 3.18–3.52 s and is
    * NOT the deployment shape at that state size). The 100× smoke
    * earns this gate by migrating 64→256 mid-run via
    * `ExactlyOnce.rebucketState` and measuring the steady epochs at
    * 256 — losing either the migration or the one-exchange merges puts the
    * number over this ceiling.
    */
  val Ivm100SteadyOverheadMaxSec = 3.5

  /** 30× novelty steady-epoch ceiling (r15 verdict item 5: the slowest
    * UNGATED steady materializer — 4.84 s at 30× in SCALE_r15 — and
    * ungated numbers are the ones that rot). Generous: losing the
    * O(batch grams + touched buckets) retraction path re-reads the
    * whole standing census per epoch, which lands well over 7 s; host
    * noise measured ±0.5 s stays under it.
    */
  val NoveltySteadyMaxSec = 7.0

  /** True iff the novelty steady-epoch max holds its bar (a zero or
    * negative measurement fails — steady epochs must actually run).
    */
  def noveltySteadyOk(sec: Double): Boolean =
    sec > 0 && sec <= NoveltySteadyMaxSec

  /** True iff the measured IVM steady-epoch overhead holds the bar.
    * A missing measurement (negative sentinel) FAILS — a smoke that
    * never produced steady epochs must not pass silently.
    */
  def ivmSteadyOk(sec: Double): Boolean =
    sec >= 0 && sec <= IvmSteadyOverheadMaxSec

  /** True iff the 100× post-migration steady overhead holds its bar
    * (negative sentinel fails, as above).
    */
  def ivm100SteadyOk(sec: Double): Boolean =
    sec >= 0 && sec <= Ivm100SteadyOverheadMaxSec

  /** True iff the post-derivation pagerank time holds the bar (0 or
    * absent fails — the op must actually have run).
    */
  def pagerankOk(sec: Option[Double]): Boolean =
    sec.exists(s => s > 0 && s <= PageRankMaxSec)

  /** True iff the steady probe stayed within the pinned bucket set. */
  def dupSpansProbeOk(buckets: Int): Boolean =
    buckets > 0 && buckets <= DupSpansProbeBucketsMax

  /** IVM dim-ripple epoch ceiling (r16 verdict item 4: the 3-way
    * cascade's retraction ripple should be gated wherever it runs, not
    * just measured). The ripple epoch re-derives the retracted
    * category's standing cascade rows — O(category slice), not
    * O(state) — measured 3.01 / 2.77 / 3.35 s at 30×/100×/300× on the
    * bucket-pruned path; losing the pruning makes it O(state) and puts
    * every scale well past 8 s.
    */
  val IvmRippleMaxSec = 8.0

  /** True iff the ripple epoch's max held its ceiling (negative =
    * ripple epochs never ran — fails).
    */
  def ivmRippleOk(sec: Double): Boolean =
    sec > 0 && sec <= IvmRippleMaxSec

  /** Migration-window old-gen ceiling for the 300× wave migration
    * (r16 verdict item 3: the O(state/waves) peak claim was
    * extrapolated from 100× — prove it at 27 M-row state). Sized at
    * ~3× the 100× 4-wave window's measured 3.8 GB: the 300× run uses
    * 8 waves, so rows-per-wave grows only ~1.5× (3.4 M vs 2.25 M) —
    * a peak past 12 GB means the migrator re-acquired an O(state)
    * term, not noise.
    */
  val MigrationWindowOldGenMaxMb = 12288L

  /** True iff the migration-scoped old-gen window held its ceiling
    * (a zero/negative reading fails — the window must have been
    * measured).
    */
  def migrationWindowOk(mb: Long): Boolean =
    mb > 0 && mb <= MigrationWindowOldGenMaxMb

  /** Per-query regression ceiling vs the PINNED bench baseline (r16
    * verdict item 1: two rounds of judge-eyeball triage was the whole
    * regression defense — make it mechanical). 25 %: far above the
    * quiet-window per-query jitter the r16 captures measured (fastest-3
    * spreads ≤ ~10 % on an idle box), far below the 2× driver bar, and
    * under the +41 % single-query excursions that a HOT window
    * produces — which is why the gate only judges QUIET captures
    * (a contended capture is already stamped and never becomes a
    * comparison base).
    */
  val BenchRegressionMaxPct = 25.0

  /** Offending queries: present in both maps, baseline > 0, and the
    * measured min exceeds the pinned min by more than `thresholdPct`.
    * Returns name -> regression percent (rounded to 0.1).
    */
  def benchRegressions(mins: Map[String, Double],
      base: Map[String, Double],
      thresholdPct: Double = BenchRegressionMaxPct): Map[String, Double] =
    mins.collect {
      case (n, v) if base.get(n).exists(b =>
          b > 0 && (v - b) / b * 100.0 > thresholdPct) =>
        n -> math.round((v - base(n)) / base(n) * 1000.0) / 10.0
    }
}
