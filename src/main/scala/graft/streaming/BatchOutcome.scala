package graft.streaming

/** What one tiered-roll fold did, so maintenance tooling, probes, and specs
  * assert the path taken without re-listing commit markers. ONE ADT across
  * the index families: a fold that can never produce a variant simply
  * never returns it (the graph, media and signature tiers never
  * Bootstrap). Each [[TieredRoll.fold]] also logs its outcome and phase
  * seconds at INFO. */
sealed trait BatchOutcome

object BatchOutcome {
  /** Replayed after a committed save — the fold already applied. */
  case object Skipped extends BatchOutcome
  /** Zero rows — no content-free epoch is committed. */
  case object EmptyBatch extends BatchOutcome
  /** First commit: trained/built from scratch (the tiers' first L1). */
  case object Bootstrapped extends BatchOutcome
  /** L0 delta commit — the O(|Δ|) write. */
  case object Minor extends BatchOutcome
  /** L1 compaction absorbing `absorbedL0s` live deltas. */
  final case class Major(absorbedL0s: Int) extends BatchOutcome
}
