package graft.streaming

import org.apache.spark.sql.DataFrame

/** Opt-in SCHEDULED maintenance for the tiered streams: each family's
  * `compactMajor` / `retrainMajorIfDrifted` exist as maintenance-window
  * batch APIs, and a policy wires their cadence into the stream's own
  * `foreachBatch` loop. [[TieredRoll.start]] runs it, once for every
  * family: after every `everyMajors`-th data MAJOR the fold commits, the
  * family's tombstone compaction (when `tombstones` is set) and then the
  * drift-gated retrain (when `retrainCorpus` is set) — so a long-lived
  * ingest stream keeps its own index healthy without an external
  * maintenance scheduler. Only the model-carrying families
  * (vector/PQ/IVFADC) retrain: `start` rejects a policy with
  * `retrainCorpus` set on any other family, and the lexical tier takes no
  * policy at all.
  *
  * SAFETY never rests on the cadence: maintenance commits land at
  * [[TierIds]] maintenance slots (strictly between data epochs — the
  * stride proof), compaction is idempotent (`None` when no tombstoned row
  * is stored), and the drift gate re-evaluates from current state — so a
  * stream restart resetting the in-memory major count, or a replayed
  * batch skipping its fold, can only DELAY maintenance, never corrupt an
  * epoch. Replayed batches return `Skipped` and advance nothing.
  *
  * Suppliers, not frames: each window calls `tombstones()` /
  * `retrainCorpus()` so it reads the CURRENT worklist/corpus (a GDPR
  * tombstone table grows while the stream runs), not a lineage captured
  * at stream start.
  *
  * `tombId` names the tombstone frame's id column (`media_id` for the
  * media tier, a doc/vector id elsewhere); the graph tier ignores it —
  * its tombstones are (src, dst) edge pairs. `maxDrifted` is the
  * family's drift-cell budget (cells for IVF/IVFADC, (subspace, code)
  * cells for PQ); the default never fires.
  */
final case class MaintenancePolicy(
    everyMajors: Int = 1,
    tombstones: Option[() => DataFrame] = None,
    tombId: String = "id",
    threshold: Double = 0.0,
    retrainCorpus: Option[() => DataFrame] = None,
    maxDrifted: Int = Int.MaxValue) {
  require(everyMajors >= 1, s"everyMajors must be >= 1, got $everyMajors")

  /** Cadence check against the stream instance's running major count. */
  def due(majorsSeen: Long): Boolean = majorsSeen % everyMajors == 0
}
