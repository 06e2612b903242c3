package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** `query_mix`: a fixed list of registered batch queries, run in sequence
  * with the cache manager cleared before each, each timed as build (the
  * `SparkEntry.queries(name)(spark, dir)` call) plus execute (a noop-sink
  * write), as `graft.Bench` times them.
  */
object QueryMix {
  /** The mix: the eight floor-bound queries, then the CDC session merge, a
    * text kernel and a driver-paced loop.
    */
  val Names: Seq[String] = Seq(
    "q2_filter_project", "q3_join_inner", "q5_distinct", "q8_topk", "q12_anti_join",
    "q14_encode", "q4_window_latest", "q13_argmax", "q16_session_merge", "q21_simhash",
    "q99_pagerank")
  /** The queries bounded by the fixed per-query floor. */
  val Small: Set[String] = Names.take(8).toSet

  /** Timed passes over the mix, about `--seconds` at this size. */
  val Passes = 2

  final case class Sample(query: String, pass: Int, buildS: Double, execS: Double,
      output: (Long, BigDecimal)) {
    def total: Double = buildS + execS
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The noop write of a query, with its row count and order-insensitive
    * hash observed over the rows it writes: the output check rides along
    * the timed execution at the cost of one hash per output row.
    */
  private def execChecked(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal) = {
    val obs = Observation(s"check_${System.nanoTime()}")
    noop(df.observe(obs, count(lit(1L)).as("rows"),
      sum(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")).as("hash")))
    val m = obs.get
    val h = m("hash")
    (m("rows").asInstanceOf[Long],
      if (h == null) BigDecimal(0) else BigDecimal(h.asInstanceOf[java.math.BigDecimal]))
  }

  private def timedPass(spark: SparkSession, dir: String, order: Seq[String], pass: Int,
      tracer: Option[Tracer], out: Outcome): Vector[Sample] =
    order.toVector.flatMap { q =>
      var sample: Option[Sample] = None
      out.check(s"$q pass $pass ran") { sample = Some(timedQuery(spark, dir, q, pass, tracer)); true }
      sample
    }

  private def timedQuery(spark: SparkSession, dir: String, q: String, pass: Int,
      tracer: Option[Tracer]): Sample = {
    spark.catalog.clearCache()
    def build() = SparkEntry.queries(q)(spark, dir)
    tracer match {
      case None =>
        val t0 = System.nanoTime()
        val df = build()
        val t1 = System.nanoTime()
        val res = execChecked(df)
        Sample(q, pass, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, res)
      case Some(tr) =>
        var b = 0.0
        var e = 0.0
        var res: (Long, BigDecimal) = null
        tr.span(q, "query") { id =>
          val df = tr.span(q, "build", id) { _ =>
            val t0 = System.nanoTime(); val d = build(); b = (System.nanoTime() - t0) / 1e9; d
          }
          tr.span(q, "execute", id) { _ =>
            val t0 = System.nanoTime(); res = execChecked(df); e = (System.nanoTime() - t0) / 1e9
          }
          persistedLeft.put(q, spark.sparkContext.getPersistentRDDs.size)
        }
        Sample(q, pass, b, e, res)
    }
  }

  private val persistedLeft = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  def run(a: Args, out: Outcome): Unit = {
    val dir = s"${a.run}/inputs/sf"
    val (spark, setups) = Setup.repeated("query", a)
    out.add("setup_s", Stats.median(setups), "s", setups.size)

    // untimed JIT warm-up: the whole mix once
    val w0 = System.nanoTime()
    Names.foreach { q =>
      spark.catalog.clearCache()
      try noop(SparkEntry.queries(q)(spark, dir))
      catch { case t: Throwable => out.errors += s"warm-up $q: $t" }
    }
    Log.phase("warm-up pass", (System.nanoTime() - w0) / 1e9)

    // the tables and the order are fixed, so the seed changes nothing here
    val order = Names
    val tracer = new Tracer
    val samples = Vector.newBuilder[Sample]
    // `Passes` untraced passes; a traced run adds one traced pass
    (0 until (if (a.trace) Passes + 1 else Passes)).foreach { pass =>
      val traced = pass == Passes
      if (traced) tracer.attach(spark)
      samples ++= (try timedPass(spark, dir, order, pass, if (traced) Some(tracer) else None, out)
        finally if (traced) tracer.detach(spark))
    }
    val all = samples.result()
    val expected = new ObjectMapper().readTree(new java.io.File(a.expected))
    all.foreach { x =>
      val e = expected.get(x.query)
      out.check(s"${x.query} pass ${x.pass} output == expected (${x.output._1} rows, hash ${x.output._2})")(
        e != null && e.get("rows").asLong == x.output._1 && BigDecimal(e.get("hash").asText) == x.output._2)
    }
    val timed = all.filter(_.pass < Passes)
    val perQuery = timed.groupBy(_.query).map { case (q, xs) => q -> Stats.median(xs.map(_.total)) }
    val mix = perQuery.values.sum
    val small = perQuery.filter(kv => Small(kv._1)).values.sum
    val passes = timed.map(_.pass).distinct.size
    out.add("throughput_per_s", perQuery.size / mix, "1/s", passes)
    out.add("latency_p50_s", Stats.median(timed.map(_.total)), "s", timed.size)
    out.add("latency_p90_s", Stats.quantile(timed.map(_.total), 0.9), "s", timed.size)
    out.add("query_mix_s", mix, "s", passes)
    out.add("query_small_s", small, "s", passes)

    if (a.trace) {
      val tr = all.filter(_.pass == Passes)
      out.add("trace.overhead_s", tr.map(_.total).sum - timed.map(_.total).sum / Passes, "s",
        Passes + 1)
      val spans = tracer.spanList
      val jobs = tracer.jobList
      def within(name: String) = spans.filter(_.name == name)
      def jobsIn(ss: Seq[Span]) = jobs.filter(j => ss.exists(s => j.startNs >= s.startNs && j.startNs <= s.endNs))
      val bJobs = jobsIn(within("build"))
      val eJobs = jobsIn(within("execute"))
      val xJobs = jobsIn(within("query"))
      out.add("query.build_s", tr.map(_.buildS).sum, "s", tr.size)
      out.add("query.build_jobs", bJobs.size.toDouble, "count", tr.size)
      val exSpans = within("execute")
      val cat = tracer.catalystMs.asScala.toVector
        .filter { case (t, _) => exSpans.exists(s => t >= s.startNs && t <= s.endNs) }
      out.add("query.catalyst_ms", cat.map(_._2).sum, "ms", cat.size)
      out.add("query.exec_s", tr.map(_.execS).sum, "s", tr.size)
      out.add("query.exec_jobs", eJobs.size.toDouble, "count", tr.size)
      out.add("query.stages", xJobs.map(_.stages).sum.toDouble, "count", xJobs.size)
      out.add("query.executor_run_s", xJobs.map(_.runMs).sum / 1000.0, "s", xJobs.size)
      out.add("query.executor_cpu_s", xJobs.map(_.cpuNs).sum / 1e9, "s", xJobs.size)
      out.add("query.shuffle_bytes", xJobs.map(_.shuffleBytes).sum.toDouble, "bytes", xJobs.size)
      out.add("query.spill_bytes", xJobs.map(_.spillBytes).sum.toDouble, "bytes", xJobs.size)
      out.add("query.small_s", tr.filter(x => Small(x.query)).map(_.total).sum, "s", 8)
      out.add("query.persisted_rdds_left", persistedLeft.values.asScala.map(_.toDouble).sum, "count", tr.size)
      tr.foreach(x => out.add(s"query.${x.query}_s", x.total, "s", 1))
      Trace.write(tracer, a.traceOut)
    }
    out.add("peak_rss_mb", Proc.peakRssMiB(), "MiB", 1)
  }
}
