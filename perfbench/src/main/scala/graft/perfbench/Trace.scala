package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval. Spans of one operation share `op`; `parent` is the
  * id of the span that caused this one (0 for a root).
  */
final case class Span(id: Long, op: String, name: String, parent: Long,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A finished Spark job with the stage metrics of its stages summed.
  * `execId` is the SQL execution that launched it (-1 for a plain RDD job).
  */
final case class JobRec(id: Int, module: String, streamQuery: String, execId: Long,
    startNs: Long, endNs: Long, stages: Int, runMs: Long, cpuNs: Long,
    shuffleBytes: Long, spillBytes: Long, bytesWritten: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A finished SQL execution (a DataFrame action), labelled by what it did. */
final case class ExecRec(id: Long, label: String, endNs: Long, seconds: Double)

/** Which engine step a SQL execution belongs to, read from its physical
  * plan. Jobs launched inside a streaming micro-batch all carry the query's
  * start call site, and the micro-batch runs on a cloned session that a
  * later-registered session listener never sees; the plan names the step
  * instead. The upsert collects the touched buckets of the batch's
  * `kind = session` rows and rewrites them into `<sink>.tmp`; the diff sink
  * probes the `kind = diff` rows and appends a `batch_id=N` dir; compaction
  * writes `.compact_tmp`; enrichment writes `sessions_enriched`.
  */
object ExecLabel {
  private val Target = """Arguments: (file:[^,\s]+)""".r.unanchored
  def of(plan: String): String = {
    val write = plan.contains("InsertIntoHadoopFsRelationCommand")
    plan match {
      case Target(p) if write && p.endsWith(".tmp") => "upsert"
      case Target(p) if write && p.contains(".compact_tmp") => "compaction"
      case Target(p) if write && p.contains("batch_id=") => "diff_sink"
      case Target(p) if write && p.contains("sessions_enriched") => "enrich"
      case _ if write => "write"
      case _ if plan.contains("= session)") => "upsert"
      case _ if plan.contains("= diff)") => "diff_sink"
      case _ if plan.contains("FlatMapGroupsWithState") => "micro_batch"
      case _ => "other"
    }
  }
}

/** The engine module a Spark job was launched from: the first `graft.*`
  * frame (outside this harness) of the job's long call site, named
  * `<Object>.<method>` so that e.g. `CheckpointStream.upsert`,
  * `CheckpointStream.appendDiffs` and `Enrichment.ingestReportsDistributed`
  * stay apart.
  */
object CallSite {
  private val Frame = """graft\.(?:[a-z]+\.)*([A-Z]\w*)\$?\.([\w$]+)\(""".r
  def module(longForm: String): String =
    Frame.findAllMatchIn(Option(longForm).getOrElse(""))
      .map(m => (m.group(1), m.group(2)))
      .find { case (obj, _) => obj != "Main" && !longForm.contains(s"perfbench.$obj") }
      .map { case (obj, meth) =>
        val clean = meth.replaceAll("""^\$anonfun\$""", "").replaceAll("""\$.*$""", "")
        s"$obj.$clean"
      }.getOrElse("other")
}

/** In-memory trace of one traced run: spans recorded around calls into the
  * engine, plus Spark's public listeners (jobs and stages, Catalyst phases,
  * streaming progress). Nothing is written until the run ends; nothing is
  * registered until `attach`, so untimed and timed phases stay listener-free.
  */
final class Tracer {
  private val nextId = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  val catalystMs = new ConcurrentLinkedQueue[(Long, Double)]() // (endNs, ms)
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  def span[T](op: String, name: String, parent: Long = 0L)(body: Long => T): T = {
    val id = nextId.getAndIncrement()
    val t0 = System.nanoTime()
    try body(id) finally spans.add(Span(id, op, name, parent, t0, System.nanoTime()))
  }

  private case class Open(module: String, query: String, execId: Long, startNs: Long,
      stageIds: Seq[Int])
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private val stageMetrics =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long, Long, Long)]()

  private val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId, (s.time, ExecLabel.of(s.physicalPlanDescription))); ()
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(x.executionId)).foreach { case (t0, label) =>
          execs.add(ExecRec(x.executionId, label, System.nanoTime(), (x.time - t0) / 1000.0))
        }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val site = p.flatMap(x => Option(x.getProperty("callSite.long")))
        .orElse(p.flatMap(x => Option(x.getProperty("callSite.short")))).getOrElse("")
      val q = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).getOrElse("")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      openJobs.put(e.jobId, Open(CallSite.module(site), q, exec, System.nanoTime(),
        e.stageInfos.map(_.stageId)))
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null)
        stageMetrics.put(e.stageInfo.stageId, (m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val o = openJobs.remove(e.jobId)
      if (o != null) {
        val ms = o.stageIds.flatMap(s => Option(stageMetrics.remove(s)))
        jobs.add(JobRec(e.jobId, o.module, o.query, o.execId, o.startNs, System.nanoTime(),
          ms.size, ms.map(_._1).sum, ms.map(_._2).sum, ms.map(_._3).sum,
          ms.map(_._4).sum, ms.map(_._5).sum))
      }
      ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      catalystMs.add((System.nanoTime(), ms.toDouble)); ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    Sessions.classic(spark).listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for the listener bus to deliver every event, then unregister. */
  def detach(spark: SparkSession): Unit = {
    Sessions.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    Sessions.classic(spark).listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def execList: Vector[ExecRec] = execs.asScala.toVector.sortBy(_.endNs)

  /** Jobs with `module` set to their execution's label where they have one. */
  def jobList: Vector[JobRec] = {
    val label = execList.map(e => e.id -> e.label).toMap
    jobs.asScala.toVector.sortBy(_.startNs)
      .map(j => label.get(j.execId).fold(j)(l => j.copy(module = l)))
  }
  def spanList: Vector[Span] = spans.asScala.toVector.sortBy(_.startNs)

  /** Spans as JSON lines, for the trace file written when the run ends. */
  def spanLines: Iterator[String] = spanList.iterator.map { s =>
    s"""{"id":${s.id},"op":${Json.str(s.op)},"name":${Json.str(s.name)},"parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  } ++ execList.iterator.map { e =>
    s"""{"exec":${e.id},"label":${Json.str(e.label)},"end_ns":${e.endNs},"seconds":${e.seconds}}"""
  } ++ progress.asScala.iterator.map(_.progress).map { p =>
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    s"""{"op":${Json.str(p.id.toString)},"name":"micro-batch ${p.batchId}","start_epoch_ms":$start,"end_epoch_ms":${start + dur},"input_rows":${p.numInputRows}}"""
  } ++ jobList.iterator.map { j =>
    s"""{"job":${j.id},"module":${Json.str(j.module)},"stream_query":${Json.str(j.streamQuery)},"exec":${j.execId},"start_ns":${j.startNs},"end_ns":${j.endNs},"stages":${j.stages},"executor_run_ms":${j.runMs},"executor_cpu_ns":${j.cpuNs},"shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes},"bytes_written":${j.bytesWritten}}"""
  }
}

object Trace {
  def write(tr: Tracer, path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try tr.spanLines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}
