package graft

/** Sub-timing channel for the bench: operators that amortize a one-time
  * cost inside a registered query (the fingerprint-cached index builds of
  * q38/q49/q68/q71) record the phase here, and `Bench` drains the
  * accumulator after each sample — so `BENCH.json` can report build vs
  * probe separately instead of conflating them in the cold sample (the
  * round-10 verdict's q49 watch item: 12.1 s cold was mostly index
  * construction, invisible to a reader of the one number).
  *
  * Deliberately global + additive: a query may build several index states
  * (q49 builds base, deltas and a fold); all of it lands in one "phase →
  * seconds" map. Outside the bench the records are drained by nobody and
  * simply overwritten per merge — no coupling, no cost.
  */
object BenchPhases {
  private val acc = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  @volatile private var on: Boolean = false

  /** True only inside `withPhases` (Bench and Profile run their
    * measurement in one). Operators whose phase ATTRIBUTION needs a
    * persist + count that the query itself does not (q201/q204: the
    * synthetic corpus is consumed exactly once downstream) gate that
    * bookkeeping here, so a production run never pays a whole-corpus
    * MEMORY_AND_DISK materialization for the sake of a bench sub-timing
    * (r21 verdict item 10). Timed bench behavior is unchanged — the
    * harness always measures inside the scope.
    */
  def enabled: Boolean = on

  /** Run `f` with phase attribution enabled, restoring the previous
    * setting afterwards: harness state cannot leak into later non-bench
    * work (verify passes, tests, an embedding application) in the JVM.
    */
  def withPhases[T](f: => T): T = {
    val prev = on
    on = true
    try f finally on = prev
  }

  def add(phase: String, sec: Double): Unit = {
    acc.merge(phase, Double.box(sec),
      (a: java.lang.Double, b: java.lang.Double) => Double.box(a + b))
    ()
  }

  /** Time `f` into `phase` (additive across calls). */
  def timed[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally add(phase, (System.nanoTime() - t0) / 1e9)
  }

  /** Record that a standing artifact was REUSED rather than built this
    * sample — the self-describing twin of a timed build phase (round-17
    * verdict: q38's index_build whiplashed 1.77↔11.17 s across chains
    * because a sample that found the artifact warm recorded NOTHING,
    * indistinguishable from a cheap build). Counted as `<phase>_reused`
    * so the phases map stays all-numeric.
    */
  def reused(phase: String): Unit = add(phase + "_reused", 1.0)

  /** Return and clear everything recorded since the last drain. */
  def drain(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val out = acc.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    acc.clear()
    out
  }
}
