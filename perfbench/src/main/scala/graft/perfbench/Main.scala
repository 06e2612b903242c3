package graft.perfbench

/** Command line of the benchmark JVM (see run.py, which generates the
  * inputs under `<run>/inputs` and starts this). The last line printed is
  * `PERFBENCH {json}`: the run's figures and checks.
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    run: String, cores: Int, expected: String, traceOut: String)

object Main {
  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val a = Args(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
      o("run"), o("cores").toInt, o.getOrElse("expected", ""), o.getOrElse("trace-out", ""))
    val out = new Outcome
    val (steal0, total0) = Proc.cpuTicks()
    try {
      a.workload match {
        case "backfill" => Backfill.run(a, out)
        case "live" => Live.run(a, out)
        case "query_mix" => QueryMix.run(a, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      // CPU time the host took from this VM: the other tenants' share of
      // the run-to-run noise
      val (steal1, total1) = Proc.cpuTicks()
      out.add("host.steal_pct",
        if (total1 == total0) 0.0 else 100.0 * (steal1 - steal0) / (total1 - total0), "%", 1)
    } catch {
      case t: Throwable =>
        out.attempted += 1; out.failed += 1
        out.errors += s"run aborted: $t"
        t.printStackTrace()
    }
    println("PERFBENCH " + out.json)
    System.out.flush()
    // Spark's non-daemon threads must not keep a finished run alive
    Runtime.getRuntime.halt(0)
  }
}
