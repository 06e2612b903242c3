package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** One reported figure: `n` is the number of samples it summarizes. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

/** What one run measured and checked. Operations are queries, feed files,
  * micro-batches and pipeline drains; a failed output check is a failed
  * operation.
  */
final class Outcome {
  var attempted = 0
  var failed = 0
  val errors = Vector.newBuilder[String]
  val metrics = Vector.newBuilder[Metric]
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case t: Throwable => errors += s"$what: ${t.getClass.getSimpleName}: ${t.getMessage}"; false
    }
    if (!good) { failed += 1; errors += s"check failed: $what" }
  }
  def add(name: String, value: Double, unit: String, n: Int): Unit =
    metrics += Metric(name, value, unit, n)

  def json: String = {
    val ms = metrics.result().map { m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)},\"n\":${m.n}}"
    }.mkString("{", ",", "}")
    val es = errors.result().map(Json.str).mkString("[", ",", "]")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms,"errors":$es}"""
  }
}

object Stats {
  /** Linear-interpolated quantile (the R-7 / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val h = (s.length - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Sessions {
  /** The session configs users run the engine with: `Pipeline.main`'s for
    * the stream workloads (RocksDB state store), `Bench.main`'s for the
    * batch query mix (with `BenchPhases` left disabled), both at
    * `local[cores]`.
    */
  def start(kind: String, cores: Int, runDir: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    val s = (kind match {
      case "stream" => b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      case "query" => b
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
    }).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def classic(spark: SparkSession): org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def drainListenerBus(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)
}

/** Set-up, timed three times in a run; the last session is kept. One
  * set-up is session start, the sink schema init (`SchemaInit`) and
  * `graft.Bench`'s neutral warm-up job. The median is `setup_s`. The
  * workload's own untimed warm-up follows and is not part of it.
  */
object Setup {
  val Times = 3

  def neutralWarmup(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id) as s", "count(distinct id % 7) as d")
      .write.format("noop").mode("overwrite").save()

  def repeated(kind: String, a: Args): (SparkSession, Seq[Double]) = {
    var last: SparkSession = null
    val secs = (0 until Times).map { i =>
      if (last != null) Sessions.stop(last)
      val t0 = System.nanoTime()
      last = Sessions.start(kind, a.cores, a.run)
      graft.sources.SchemaInit.ensureSinkTable(last, s"${a.run}/work/setup$i/sink")
      neutralWarmup(last)
      (System.nanoTime() - t0) / 1e9
    }
    Log.phase(s"set-up x$Times", secs.sum)
    (last, secs)
  }
}

object Log {
  def phase(what: String, seconds: Double): Unit =
    System.err.println(f"perfbench: $what $seconds%.1f s")
  def timed[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phase(what, (System.nanoTime() - t0) / 1e9)
  }
}

object Proc {
  /** Jiffies stolen by the hypervisor and in total, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** Peak resident set of this JVM (the driver; in local mode also every
    * executor thread, the off-heap RocksDB state store and persisted blocks).
    */
  def peakRssMiB(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Dirs {
  def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.iterator.asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  def listFiles(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val s = Files.list(dir)
      try s.iterator.asScala.toVector.sortBy(_.getFileName.toString) finally s.close()
    }

  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val w = Files.walk(dir)
      try w.iterator.asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum
      finally w.close()
    }
}
