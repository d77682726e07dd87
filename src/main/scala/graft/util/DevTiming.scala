package graft.util

/** The one dev stage-timing bracket: with GRAFT_DEMO_TIMING set, each
  * bracketed block prints `[prefix] label: N.NN s` to stderr (brackets sit
  * on ACTIONS, where the lazy stages actually execute). Prefixes name the
  * site family — `step` (v2 store init/step), `demo` (maintenance demos),
  * `pr` (PageRank), `coreness`. The knob is read once per JVM; unset, a
  * bracket is one field test and never builds its label.
  */
private[graft] object DevTiming {
  private val on = sys.env.contains("GRAFT_DEMO_TIMING")

  def apply[A](prefix: String, label: => String)(f: => A): A =
    if (!on) f
    else {
      val t0 = System.nanoTime(); val r = f
      System.err.println(f"[$prefix] $label: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
}
