package graft

/** Iteration-depth knob for the heavy randomized/model-law suites.
  *
  * The driver's `sbt test` gate runs in a bounded window, and round 21's
  * run died mid-suite with NO failing assertion (VERIFY_r21
  * `tests_ok:false`) — the randomized suites had simply outgrown the
  * window. Per the r21 verdict: the DEFAULT run must fit; full depth is
  * opt-in. Every law still runs at the default depth with the SAME
  * generators and the SAME per-seed determinism — only the number of
  * random interleavings per law shrinks; no test is deleted.
  *
  * `SPARK_GRAFT_FULL_TESTS=1 sbt test` restores the original counts for
  * local soak runs (recommended before shipping changes to the store
  * model or the split/sampler algebra). Empty, `0` and `false` (any case)
  * mean off.
  */
object TestDepth {
  val full: Boolean = enabled(sys.env.get("SPARK_GRAFT_FULL_TESTS"))

  private[graft] def enabled(value: Option[String]): Boolean =
    value.map(_.trim.toLowerCase).exists(v => !Set("", "0", "false")(v))

  /** `fullCount` iterations when SPARK_GRAFT_FULL_TESTS is set, else the
    * window-sized `cut`. Seeds stay 0-based either way, so the default
    * run executes a strict prefix of the full run's cases. */
  def scaled(fullCount: Int, cut: Int): Int =
    if (full) fullCount else cut
}
