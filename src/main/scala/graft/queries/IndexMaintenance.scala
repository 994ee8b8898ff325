package graft.queries

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Auto-compaction cadence for the persisted indexes (r10 VERDICT #6):
  * every append leaves one more file per bucket behind, and the write
  * path measurements show compaction is cheap (~2 s at ×64) — but
  * nothing TRIGGERED it, so a standing pipeline degraded to
  * many-small-files scans until a human called `compact()`. With
  * `[scale] compact_every_appends = N` (default 0 = off, the
  * gate-pinned behavior), every persisted index's `append()` counts
  * appends per table and compacts itself after every N — callers
  * already hold the "use the returned instance" contract, which is
  * exactly the handle the auto-compacted generation comes back on.
  *
  * Branch overlays never auto-compact (compaction is a base-table
  * operation; a branch's append leaves its base untouched by
  * definition). Probe results are invariant across the boundary —
  * compaction moves bytes, never content — which
  * AutoCompactSpec pins by straddling a cadence boundary.
  */
object IndexMaintenance {

  /** Appends per table between automatic compactions; ≤ 0 disables
    * (the default — oracle gates and specs run with the knob off).
    * Set from `graft.toml [scale]` via [[configure]] (wired at
    * [[graft.api.Engine.open]], the runtime config entry). */
  @volatile var compactEveryAppends: Int = 0

  /** IVF drift-triggered retrain cadence (`[scale] ivf_fit_check_every`
    * + `ivf_retrain_below_cos`, both default off): every N appends the
    * IVF base index runs its `fitStats` gauge — a deliberate
    * corpus-sized single-column read, which is WHY the check has its
    * own explicit cadence instead of riding every delta-sized append —
    * and rotates the generation via `retrain()` when the mean assigned
    * cosine has drifted below the threshold. Both knobs must be set;
    * branches never auto-retrain (their centroids are the base's by
    * contract). AutoRetrainSpec pins fire/no-fire and
    * auto ≡ manual retrain. */
  @volatile var ivfFitCheckEvery: Int = 0
  @volatile var ivfRetrainBelowCos: Double = 0.0

  /** Bucket-prune the probes' corpus band/digest table scans to the
    * delta's key set (`[scale] probe_bucket_prune_keys`, default 0 =
    * off — the gate-pinned full-scan shape): when a probe's distinct
    * delta keys number ≤ this cap, they are collected and inlined as
    * an IN filter on the bucket column, which FileSourceStrategy turns
    * into bucket pruning (`SelectedBucketsCount` in the scan — the
    * `ann_ivf` cid-list idiom). At the gates' 32 buckets a delta's
    * keys hit every bucket so there is nothing to win (SURVEY §9.10);
    * a production deployment at thousands of buckets skips the
    * (buckets − hit) fraction of the corpus table's files per probe
    * for the price of one delta-sized collect. */
  @volatile var probeBucketPruneKeys: Int = 0

  /** Bucket count for NEWLY BUILT persisted dedup/search indexes
    * (`[scale] index_buckets`, default 32 — the gate-pinned layout).
    * Applies at BUILD time and rides the handle from then on (appends,
    * branches, snapshots, compactions all write the build's count —
    * a bucketed table's layout is immutable, so a mid-session knob
    * change affects only subsequent builds, never corrupts an
    * existing table). Size with the corpus: bucket ≈ file ≈ 128 MB–
    * 1 GB of index rows, so a 100 TB corpus wants thousands — which
    * is also where `probe_bucket_prune_keys` starts paying (a small
    * delta's keys then hit a tiny fraction of the buckets). */
  @volatile var indexBuckets: Int = 32

  def configure(cfg: graft.config.EngineConfig): Unit = {
    compactEveryAppends = cfg.scale.compactEveryAppends
    ivfFitCheckEvery = cfg.scale.ivfFitCheckEvery
    ivfRetrainBelowCos = cfg.scale.ivfRetrainBelowCos
    probeBucketPruneKeys = cfg.scale.probeBucketPruneKeys
    indexBuckets = cfg.scale.indexBuckets
  }

  private val counters = new ConcurrentHashMap[String, AtomicInteger]()
  private val fitCounters = new ConcurrentHashMap[String, AtomicInteger]()

  // One atomic update per tick: exactly one caller per cadence window
  // observes the wrap to 0 (check-then-set would let two concurrent
  // appends both fire and race two generation rotations on the same
  // _gN+1 name, and ticks landing between the check and the reset
  // were lost — r11 ADVICE).
  private def tick(map: ConcurrentHashMap[String, AtomicInteger],
      key: String, every: Int): Boolean =
    if (every <= 0) false
    else {
      val c = map.computeIfAbsent(key, _ => new AtomicInteger(0))
      c.updateAndGet(n => if (n + 1 >= every) 0 else n + 1) == 0
    }

  /** Record one append on the index identified by the GENERATION-STABLE
    * `key` (the index's baseName, never its `_gN` tableName — a
    * tableName key starts a fresh counter on every rotation, which
    * silently starves any cadence longer than another cadence that
    * rotates first: with `compact_every_appends <=
    * ivf_fit_check_every` the fit counter would never reach its
    * threshold — r11 ADVICE). True when the compaction cadence fires. */
  private[graft] def appendTick(key: String): Boolean =
    tick(counters, key, compactEveryAppends)

  /** Record one append against the FIT-CHECK cadence (same
    * generation-stable `key` rule as [[appendTick]]); true when the
    * gauge pass is due (the caller then compares mean cosine to
    * [[ivfRetrainBelowCos]]). */
  private[graft] def fitTick(key: String): Boolean =
    tick(fitCounters, key, ivfFitCheckEvery)

  /** Restart the append-compaction count for `key` — called by every
    * index's manual `compact()`/`retrain()` (the rewrite leaves one
    * file per bucket, so the files-since-compaction count is genuinely
    * zero again; without this a manual compaction mid-window would be
    * followed by a premature auto-compaction). */
  private[graft] def resetAppend(key: String): Unit = {
    val c = counters.get(key); if (c != null) c.set(0)
  }

  /** Restart the fit-check count for `key` — called inside
    * `IvfIndex.retrain()`, the one place a reset is actually wanted
    * (fresh centroids restart the drift clock). */
  private[graft] def resetFit(key: String): Unit = {
    val c = fitCounters.get(key); if (c != null) c.set(0)
  }
}
