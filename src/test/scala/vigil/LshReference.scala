package vigil

import vigil.dedup.Dedup

/** Test-side view of the banded-LSH pair core's `private[vigil]` cross-band
  * skip, for the specs in `graft`.
  */
object LshReference {

  /** `build` with the cross-band skip off: every colliding band emits its
    * pairs and the pair dedup always runs — the reference the skip is
    * checked against. The skip is read when a frame is built, so `build`
    * must construct the frame it returns.
    */
  def skipOff[T](build: => T): T = Dedup.crossBandSkip.withValue(false)(build)
}
