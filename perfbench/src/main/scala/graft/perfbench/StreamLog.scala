package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What a streaming query's checkpoint dir says about its micro-batches,
  * read without any listener: `offsets/N` is written when batch N is
  * planned and holds the file source's log offset, `commits/N` once its
  * sink writes (here: the diff sink and the upsert) have finished, and the
  * file source's own log names the files behind each log offset.
  */
final case class BatchTimes(id: Long, logOffset: Long, startNs: Long, commitNs: Long) {
  def seconds: Double = (commitNs - startNs) / 1e9
}

object StreamLog {
  def mtimeNs(p: Path): Long = {
    val i = Files.getLastModifiedTime(p).toInstant
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def numbered(dir: Path): Vector[(Long, Path)] =
    Dirs.listFiles(dir).flatMap { p =>
      val n = p.getFileName.toString
      if (n.nonEmpty && n.forall(_.isDigit)) Some(n.toLong -> p) else None
    }

  private val LogOffset = """"logOffset":(\d+)""".r.unanchored

  /** Committed batches. A batch that took no new file (a no-data batch run
    * for the state timeout clock) repeats its predecessor's log offset.
    */
  def batches(ckpt: String): Vector[BatchTimes] = {
    val starts = numbered(Paths.get(ckpt, "offsets")).toMap
    numbered(Paths.get(ckpt, "commits")).flatMap { case (id, c) =>
      starts.get(id).map { o =>
        val off = new String(Files.readAllBytes(o), "UTF-8") match {
          case LogOffset(n) => n.toLong
          case _ => -1L
        }
        BatchTimes(id, off, mtimeNs(o), mtimeNs(c))
      }
    }.sortBy(_.id)
  }

  private val Entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored

  /** File name -> id of the query batch that consumed it (source 0): the
    * first batch planned at the source-log offset that lists the file.
    */
  def filesToBatch(ckpt: String): Map[String, Long] = {
    val byOffset = batches(ckpt).groupBy(_.logOffset).map { case (o, bs) => o -> bs.map(_.id).min }
    val dir = Paths.get(ckpt, "sources", "0")
    Dirs.listFiles(dir).filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case Entry(path, off) if byOffset.contains(off.toLong) =>
        path.substring(path.lastIndexOf('/') + 1) -> byOffset(off.toLong)
      }.toMap
  }
}
