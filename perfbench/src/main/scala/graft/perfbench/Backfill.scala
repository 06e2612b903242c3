package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Pipeline
import graft.sources.SchemaInit
import graft.streaming.CheckpointStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Keeps every streaming query a call starts, so that their progress can be
  * read after they terminate — by polling the query manager, not through a
  * listener.
  */
final class QueryCatcher(spark: SparkSession) {
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, StreamingQuery]()
  @volatile private var running = true
  private val t = new Thread(() => {
    while (running) {
      spark.streams.active.foreach(q => seen.putIfAbsent(q.id.toString, q))
      Thread.sleep(20)
    }
  }, "perfbench-query-catcher")
  t.setDaemon(true)
  t.start()
  def stop(): Vector[StreamingQuery] = {
    running = false
    t.join()
    seen.values.asScala.toVector
  }
}

/** `backfill`: everything is present at start and `Pipeline.run` drains it
  * under AvailableNow — the reference's startup backfill.
  */
object Backfill {
  private def manifest(path: String): JsonNode =
    new ObjectMapper().readTree(new java.io.File(path))

  private def drain(spark: SparkSession, in: String, work: String): Unit = {
    Dirs.copyTree(Paths.get(s"$in/reports"), Paths.get(s"$work/reports"))
    Pipeline.run(spark, Pipeline.Config(
      cdcFeedDir = s"$in/cdc_feed", ideFeedDir = None,
      reportDir = Some(s"$work/reports"), workDir = work))
    ()
  }

  def run(a: Args, out: Outcome): Unit = {
    val in = s"${a.run}/inputs/backfill"
    val m = manifest(s"$in/manifest.json")
    val (spark, setups) = Setup.repeated("stream", a)
    out.add("setup_s", Stats.median(setups), "s", setups.size)
    // untimed JIT warm-up: one drain of the same feed into its own work dir
    // (after a small one the next drain was still ~20% slower)
    Log.timed("warm-up drain")(drain(spark, in, s"${a.run}/work/warm"))

    val wireRows = m.get("cdc_rows").asLong + m.get("cdc_bad").asLong
    val fileRows = m.get("cdc_file_rows").fields.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    final case class Rep(work: String, wall: Double, startNs: Long, queries: Vector[StreamingQuery])
    val tracer = new Tracer
    val t0 = System.nanoTime()
    val reps = Vector.newBuilder[Rep]
    // one timed drain (about --seconds at this size); a traced run adds a
    // traced one
    (0 until (if (a.trace) 2 else 1)).foreach { i =>
      val work = s"${a.run}/work/rep$i"
      val traced = i == 1
      if (traced) tracer.attach(spark)
      val catcher = new QueryCatcher(spark)
      val startNs = StreamLog.epochNs()
      val s0 = System.nanoTime()
      val ok = try {
        if (traced) tracer.span("backfill", "Pipeline.run")(_ => drain(spark, in, work))
        else drain(spark, in, work)
        true
      } catch { case t: Throwable => out.errors += s"Pipeline.run: $t"; false }
      val wall = (System.nanoTime() - s0) / 1e9
      Log.phase(s"drain $i", wall)
      val qs = catcher.stop()
      if (traced) tracer.detach(spark)
      out.check(s"rep $i drained")(ok)
      if (ok) reps += Rep(work, wall, startNs, qs)
    }
    val done = reps.result()
    Log.phase(s"timed drains x${done.size}", (System.nanoTime() - t0) / 1e9)
    val c0 = System.nanoTime()

    // outputs: the parity rule against the batch backfill of the same feed
    val (expSink, expDiffs) = Checks.expected(spark, spark.read.parquet(s"$in/cdc_feed"))
    val reportKeys = m.get("report_keys").elements.asScala.map(_.asText).toSet
    val bad = m.get("cdc_bad").asLong
    done.foreach { r =>
      val w = r.work
      out.check(s"${r.work}: sink_cdc == backfill")(Checks.sinkPrint(spark, s"$w/sink_cdc") == expSink)
      out.check(s"${r.work}: diffs_cdc == backfillAll diffs")(Checks.diffPrint(spark, s"$w/diffs_cdc") == expDiffs)
      out.check(s"${r.work}: quarantine_cdc == injected")(Checks.rowCount(spark, s"$w/quarantine_cdc") == bad)
      val dropped = r.queries.filter(q => Option(q.lastProgress).exists(_.sink.description.contains("ForeachBatch")))
        .flatMap(_.recentProgress.toVector)
        .flatMap(_.observedMetrics.asScala.values)
        .map(row => row.getAs[Long]("rows_dropped")).sum
      out.check(s"${r.work}: rows_dropped == injected ($dropped)")(dropped == bad)
      val ctxKeys = spark.read.parquet(s"$w/sessions_enriched")
        .select(explode(col("ctx")).as("c")).select(col("c.report_key"))
        .collect().map(_.getString(0)).toSet
      out.check(s"${r.work}: every report in some ctx")(ctxKeys == reportKeys)
    }

    Log.phase("checks", (System.nanoTime() - c0) / 1e9)
    // end-to-end: wire events per second of Pipeline.run, and each agents
    // event's time from the start of the drain to its micro-batch's commit
    if (done.nonEmpty) {
      val timed = if (a.trace) done.take(1) else done
      out.add("throughput_per_s", Stats.median(timed.map(wireRows / _.wall)), "1/s", timed.size)
      val lat = timed.map { r =>
        val ckpt = s"${r.work}/ckpt_cdc"
        val commit = StreamLog.batches(ckpt).map(b => b.id -> b.commitNs).toMap
        val fileBatch = StreamLog.filesToBatch(ckpt)
        val samples = fileBatch.toVector.flatMap { case (f, b) =>
          Iterator.fill(fileRows.getOrElse(f, 0L).toInt)((commit(b) - r.startNs) / 1e9)
        }
        (Stats.median(samples), Stats.quantile(samples, 0.9), samples.size, fileBatch.values.toSet.size)
      }
      // the events of one micro-batch share its commit time: `n` counts
      // the commits, and 64 files fit one batch, so p50 = p90 here
      val commits = lat.map(_._4).sum
      out.add("latency_p50_s", Stats.median(lat.map(_._1)), "s", commits)
      out.add("latency_p90_s", Stats.median(lat.map(_._2)), "s", commits)
      out.add("latency_samples", lat.map(_._3).sum.toDouble, "count", commits)
      out.add("pipeline_run_s", Stats.median(timed.map(_.wall)), "s", timed.size)
    }

    if (a.trace && done.size >= 2) {
      val r = done(1)
      out.add("trace.overhead_s", done(1).wall - done(0).wall, "s", 2)
      val inputBytes = Dirs.treeBytes(Paths.get(s"$in/cdc_feed"))
      val quarantined = Checks.rowCount(spark, s"${r.work}/quarantine_cdc")
      Layers.streaming(tracer, inputBytes, quarantined, out)
      // report ingest is a plain RDD job (its call site names Enrichment);
      // the ctx attach runs inside the sessions_enriched write
      val ingest = tracer.jobList.filter(_.module.startsWith("Enrichment."))
      val attach = tracer.execList.filter(_.label == "enrich")
      out.add("sources.enrich_s", ingest.map(_.seconds).sum + attach.map(_.seconds).sum, "s",
        ingest.size + attach.size)
      out.add("sources.reports_ingested",
        Files.walk(Paths.get(s"${r.work}/reports_archive")).iterator.asScala
          .count(Files.isRegularFile(_)).toDouble, "count", 1)
      out.add("sources.ctx_sessions", spark.read.parquet(s"${r.work}/sessions_enriched")
        .filter(size(col("ctx")) > 0).select("session_id").distinct().count().toDouble, "count", 1)
      val si = tracer.span("backfill", "SchemaInit.ensureSinkTable") { _ =>
        val s0 = System.nanoTime()
        SchemaInit.ensureSinkTable(spark, s"${a.run}/work/schema_probe")
        (System.nanoTime() - s0) / 1e9
      }
      out.add("sources.schema_init_s", si, "s", 1)
      val events = CheckpointStream.normalizeFeed(spark.read.parquet(s"$in/cdc_feed")).collect().toSeq
      Replay.metrics(Replay.run(events), out)
      Trace.write(tracer, a.traceOut)
    }
    out.add("peak_rss_mb", Proc.peakRssMiB(), "MiB", 1)
  }
}
