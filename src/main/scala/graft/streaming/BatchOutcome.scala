package graft.streaming

/** What one epoch-roll fold did, so maintenance tooling, probes, and specs
  * assert the path taken without re-listing commit markers. ONE ADT for
  * every roll, flat and tiered, across the index families: the variants
  * union the family-specific outcomes, and a fold that can never produce a
  * variant simply never returns it (the graph, media and signature tiers
  * never Bootstrap, the flat rolls never commit a Minor, only the IVF roll
  * Retrains). The tiered rolls' stream wrapper ([[TieredRoll.start]]) also
  * logs each batch's outcome at INFO; the flat rolls only return it. */
sealed trait BatchOutcome

object BatchOutcome {
  /** Replayed after a committed save — the fold already applied. */
  case object Skipped extends BatchOutcome
  /** Zero rows — no content-free epoch is committed. */
  case object EmptyBatch extends BatchOutcome
  /** First commit: trained/built from scratch (the tiers' first L1). */
  case object Bootstrapped extends BatchOutcome
  /** Flat-roll fold committed as a full epoch; `drifted` carries the
    * armed audit's count (None when the audit was skipped). */
  final case class Appended(drifted: Option[Long]) extends BatchOutcome
  /** IVF roll only: the drift audit fired and the epoch retrained over
    * standing ∪ batch. */
  final case class Retrained(drifted: Long) extends BatchOutcome
  /** Tiered L0 delta commit — the O(|Δ|) write. */
  case object Minor extends BatchOutcome
  /** Tiered L1 compaction absorbing `absorbedL0s` live deltas. */
  final case class Major(absorbedL0s: Int) extends BatchOutcome
}
