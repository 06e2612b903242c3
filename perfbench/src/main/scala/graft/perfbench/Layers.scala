package graft.perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.jdk.CollectionConverters._

/** The `graft.streaming` figures of a traced run, which both stream
  * workloads report. `run.py` checks every per-layer figure against
  * `BENCHMARK.json`.
  */
object Layers {
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)

  /** graft.streaming figures of the micro-batches of the engine's stateful
    * lanes (sink = foreachBatch) and of the jobs they launched.
    */
  def streaming(tr: Tracer, inputBytes: Long, quarantineRows: Long, out: Outcome): Unit = {
    val all = tr.progress.asScala.toVector.map(_.progress)
    val lanes = all.filter(_.sink.description.contains("ForeachBatch"))
    val laneIds = lanes.map(_.id.toString).toSet
    val data = lanes.filter(_.numInputRows > 0)
    val trig = data.map(p => dur(p, "triggerExecution"))
    out.add("streaming.batches", data.size.toDouble, "count", data.size)
    out.add("streaming.batch_p50_s", if (trig.isEmpty) 0.0 else Stats.median(trig), "s", trig.size)
    out.add("streaming.batch_max_s", if (trig.isEmpty) 0.0 else trig.max, "s", trig.size)
    out.add("streaming.add_batch_s", data.map(dur(_, "addBatch")).sum, "s", data.size)
    out.add("streaming.overhead_s", data.map(p => Seq("queryPlanning", "walCommit",
      "commitOffsets", "latestOffset", "getBatch").map(dur(p, _)).sum).sum, "s", data.size)
    val jobs = tr.jobList
    val laneJobs = jobs.count(j => laneIds(j.streamQuery))
    out.add("streaming.jobs_per_batch",
      if (data.isEmpty) 0.0 else laneJobs.toDouble / data.size, "count", data.size)
    val execs = tr.execList
    def secs(label: String) = execs.filter(_.label == label).map(_.seconds).sum
    val ups = jobs.filter(_.module == "upsert")
    val diffs = jobs.filter(_.module == "diff_sink")
    out.add("streaming.upsert_s", secs("upsert"), "s", execs.count(_.label == "upsert"))
    out.add("streaming.upsert_bytes_written", ups.map(_.bytesWritten).sum.toDouble, "bytes", ups.size)
    out.add("streaming.diff_sink_s", secs("diff_sink"), "s", execs.count(_.label == "diff_sink"))
    val ops = lanes.flatMap(_.stateOperators.toVector)
    out.add("streaming.state_stage_s", ops.map(o =>
      o.allUpdatesTimeMs + o.allRemovalsTimeMs + o.commitTimeMs).sum / 1000.0, "s", ops.size)
    out.add("streaming.write_amplification",
      if (inputBytes == 0) 0.0
      else (ups ++ diffs).map(_.bytesWritten).sum.toDouble / inputBytes, "ratio", 1)
    out.add("streaming.compaction_s", secs("compaction"), "s", execs.count(_.label == "compaction"))
    // each lane's state operator progress, in batch order
    val perLane = lanes.groupBy(_.id.toString).values.toVector.map(ps =>
      ps.sortBy(_.batchId).flatMap(p => p.stateOperators.headOption.map(p.batchId -> _)))
    out.add("streaming.state_rows",
      perLane.flatMap(_.lastOption.map(_._2.numRowsTotal)).sum.toDouble, "count", perLane.size)
    out.add("streaming.state_memory_bytes",
      perLane.flatMap(_.map(_._2.memoryUsedBytes).maxOption).sum.toDouble, "bytes", perLane.size)
    out.add("streaming.state_rows_removed", ops.map(_.numRowsRemoved).sum.toDouble, "count", ops.size)
    // keys new to the state store per batch; a lane first seen mid-stream
    // has no predecessor for its first batch, which is skipped
    val firstSeen = perLane.map { xs =>
      val prev0 = xs.headOption.collect { case (b, o) if b > 0 => o.numRowsTotal }
      xs.drop(if (prev0.isDefined) 1 else 0).foldLeft((prev0.getOrElse(0L), 0L)) {
        case ((prev, acc), (_, o)) =>
          (o.numRowsTotal, acc + math.max(0L, o.numRowsTotal - prev + o.numRowsRemoved))
      }._2
    }.sum
    out.add("streaming.first_seen_keys", firstSeen.toDouble, "count", perLane.size)
    val observed = lanes.flatMap(p => p.observedMetrics.asScala.values)
    def obs(field: String) = observed.map { r =>
      val i = r.schema.fieldNames.indexOf(field)
      if (i < 0 || r.isNullAt(i)) 0L else r.getLong(i)
    }.sum.toDouble
    out.add("streaming.feed_rows_seen", obs("rows_seen"), "count", observed.size)
    out.add("streaming.feed_rows_dropped", obs("rows_dropped"), "count", observed.size)
    out.add("streaming.quarantine_rows", quarantineRows.toDouble, "count", 1)
  }
}
