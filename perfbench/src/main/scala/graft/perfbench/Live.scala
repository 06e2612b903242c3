package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.SchemaInit
import graft.streaming.CheckpointStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampNTZType

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** `live`: an open loop. A generator thread moves one pre-written arrival
  * file into the feed dir every `period`, on a schedule that never waits for
  * the engine, while `CheckpointStream.run(availableNow = false)` and its
  * dead-letter twin consume the feed as Pipeline's CDC lane does. Each file
  * is timed from when it was due to the commit of the micro-batch that
  * consumed it (both sinks written).
  */
object Live {
  // the generated files carry micro-precision timestamps without zone
  private val Hint = Some(CheckpointStream.eventsSchema(TimestampNTZType))

  private def start(spark: SparkSession, feed: String, work: String, availableNow: Boolean) = Seq(
    CheckpointStream.run(spark, feed, s"$work/ckpt", s"$work/sink", maxFilesPerTrigger = 64,
      availableNow = availableNow, diffDir = Some(s"$work/diffs"), schemaHint = Hint),
    CheckpointStream.runDeadLetter(spark, feed, s"$work/ckpt_dl", s"$work/quarantine",
      availableNow = availableNow, schemaHint = Hint))

  def run(a: Args, out: Outcome): Unit = {
    val in = s"${a.run}/inputs/live"
    val m = new ObjectMapper().readTree(new java.io.File(s"$in/manifest.json"))
    val periodNs = m.get("period_ms").asLong * 1000000L
    val warmFiles = m.get("warm_files").asInt
    val fileRows = m.get("file_rows").fields.asScala.map(e => e.getKey -> e.getValue.asLong).toMap

    val (spark, setups) = Setup.repeated("stream", a)
    out.add("setup_s", Stats.median(setups), "s", setups.size)

    val work = s"${a.run}/work/live"
    val feed = s"$work/feed"
    Files.createDirectories(Paths.get(feed))
    SchemaInit.ensureSinkTable(spark, s"$work/sink")
    val queries = start(spark, feed, work, availableNow = false)
    val ckpt = s"$work/ckpt"

    val staged = Dirs.listFiles(Paths.get(s"$in/staged"))
    val names = staged.map(_.getFileName.toString)
    val due = new Array[Long](staged.size)
    val moved = new Array[Long](staged.size)
    def arrive(i: Int): Unit = {
      Files.move(staged(i), Paths.get(feed, names(i)), StandardCopyOption.ATOMIC_MOVE)
      moved(i) = StreamLog.epochNs()
    }
    def committed(upTo: Int): Boolean = {
      val done = StreamLog.batches(ckpt).map(_.id).toSet
      val fb = StreamLog.filesToBatch(ckpt)
      names.take(upTo).forall(n => fb.get(n).exists(done))
    }
    val deadline = System.nanoTime() + 120L * 1000000000L
    def await(upTo: Int): Unit =
      while (!committed(upTo) && System.nanoTime() < deadline && queries.forall(_.isActive))
        Thread.sleep(50)

    // untimed warm-up: the first files (every thread's first-seen __start__
    // checkpoint, then a full batch of updates) arrive at once as a backlog
    Log.timed("warm-up batch") {
      (0 until warmFiles).foreach { i => due(i) = StreamLog.epochNs(); arrive(i) }
      await(warmFiles)
    }

    val timedFrom = warmFiles
    val traceFrom = timedFrom + (staged.size - timedFrom) / 2
    val tracer = new Tracer
    val base = StreamLog.epochNs() + 200000000L
    val gen = new Thread(() => {
      (timedFrom until staged.size).foreach { i =>
        due(i) = base + (i - timedFrom) * periodNs
        val wait = due(i) - StreamLog.epochNs()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        if (a.trace && i == traceFrom) tracer.attach(spark)
        arrive(i)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()

    // drain: every file consumed by a committed batch, or give up
    await(staged.size)
    // the dead-letter twin has seen every file once its log lists them all
    def dlDone(): Boolean = {
      val fb = StreamLog.filesToBatch(s"$work/ckpt_dl")
      val done = StreamLog.batches(s"$work/ckpt_dl").map(_.id).toSet
      names.forall(n => fb.get(n).exists(done))
    }
    while (!dlDone() && System.nanoTime() < deadline && queries.forall(_.isActive))
      Thread.sleep(50)
    if (a.trace) tracer.detach(spark)
    queries.foreach { q =>
      q.exception.foreach(e => out.errors += s"stream failed: ${e.getMessage}")
      q.stop()
    }

    val batches = StreamLog.batches(ckpt)
    val commitOf = batches.map(b => b.id -> b.commitNs).toMap
    val fileBatch = StreamLog.filesToBatch(ckpt)
    names.foreach(n => out.check(s"file $n consumed")(fileBatch.get(n).exists(commitOf.contains)))
    batches.foreach(b => out.check(s"batch ${b.id} committed")(b.commitNs >= b.startNs))

    val (expSink, expDiffs) = Checks.expected(spark, spark.read.parquet(feed))
    out.check("sink == backfill over every file")(Checks.sinkPrint(spark, s"$work/sink") == expSink)
    out.check("diffs == backfillAll diffs")(Checks.diffPrint(spark, s"$work/diffs") == expDiffs)
    out.check("nothing quarantined")(Checks.rowCount(spark, s"$work/quarantine") == 0L)

    def latency(i: Int): Option[Double] =
      fileBatch.get(names(i)).flatMap(commitOf.get).map(c => (c - due(i)) / 1e9)
    def commitsOf(idx: Seq[Int]) = idx.flatMap(i => fileBatch.get(names(i))).toSet
    val timedIdx = (timedFrom until (if (a.trace) traceFrom else staged.size)).toVector
    val lat = timedIdx.flatMap(latency)
    // the files of one micro-batch share its commit time, so the latencies
    // are as independent as the commits behind them
    val timedBatches = commitsOf(timedIdx)
    if (lat.nonEmpty) {
      out.add("latency_p50_s", Stats.median(lat), "s", timedBatches.size)
      out.add("latency_p90_s", Stats.quantile(lat, 0.9), "s", timedBatches.size)
      out.add("latency_samples", lat.size.toDouble, "count", timedBatches.size)
    }
    // capacity at this load: input rows per second of micro-batch wall time
    val busy = batches.filter(b => timedBatches(b.id))
    val rows = names.filter(n => fileBatch.get(n).exists(timedBatches)).map(fileRows(_)).sum
    if (busy.nonEmpty)
      out.add("throughput_per_s", rows / busy.map(_.seconds).sum, "1/s", busy.size)
    val late = (timedFrom until staged.size).map(i => (moved(i) - due(i)) / 1e6)
    out.add("live.gen_late_max_ms", late.max, "ms", late.size)
    val backlog = batches.filter(_.startNs >= base).map { b =>
      val arrived = moved.count(_ <= b.startNs)
      val before = fileBatch.values.count(_ < b.id)
      arrived - before
    }
    out.add("live.backlog_files_max", backlog.maxOption.getOrElse(0).toDouble, "count", backlog.size)
    System.err.println(s"perfbench: backlog at each batch start: ${backlog.mkString(" ")}")

    if (a.trace) {
      val tIdx = traceFrom until staged.size
      val tLat = tIdx.flatMap(latency)
      if (lat.nonEmpty && tLat.nonEmpty)
        out.add("trace.overhead_s", Stats.median(tLat) - Stats.median(lat), "s", commitsOf(tIdx).size)
      val tracedBytes = (traceFrom until staged.size)
        .map(i => Files.size(Paths.get(feed, names(i)))).sum
      Layers.streaming(tracer, tracedBytes, Checks.rowCount(spark, s"$work/quarantine"), out)
      val events = CheckpointStream.normalizeFeed(spark.read.parquet(feed)).collect().toSeq
      Replay.metrics(Replay.run(events), out)
      Trace.write(tracer, a.traceOut)
    }
    out.add("peak_rss_mb", Proc.peakRssMiB(), "MiB", 1)
  }
}
