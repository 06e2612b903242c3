package graft.perfbench

import graft.diff.{DiffEngine, DiffModel}
import graft.diff.DiffModel.{CheckpointData, Content}
import graft.state.SessionMerge
import graft.state.SessionMerge.SessionState
import graft.streaming.CheckpointStream.EventRow

import java.nio.charset.StandardCharsets

/** Single-thread replay of a workload's events through the public functions
  * of `graft.state` and `graft.diff`, in the order the engine folds them
  * (per session, by event time then id). Each step is the body of
  * `SessionMerge.update`, split so that merge, diff and JSON time and counts
  * land on their own layer.
  */
object Replay {
  final class Counts {
    var updates = 0L; var staleSkipped = 0L; var diffs = 0L
    var mergeNs = 0L; var computeNs = 0L; var jsonNs = 0L; var jsonBytes = 0L
    var keysDiffed = 0L; var unchangedKeys = 0L
    var canonicalLines = 0L; var deltaLines = 0L
  }

  private def lines(c: Content): Long = c match {
    case Content.Insert(_, ls) => ls.length.toLong
    case Content.Remove(r, _) => r.size.toLong
    case Content.Replace(rm, ins) => rm.linesRemoved.size.toLong + ins.lines.length
  }

  private def concatSorted(cds: Seq[CheckpointData]): String =
    cds.sortBy(_.checkpointNs)
      .map(cd => new String(cd.checkpoint, StandardCharsets.UTF_8)).mkString

  def run(events: Seq[EventRow]): Counts = {
    val c = new Counts
    events.groupBy(_.user_id).foreach { case (user, evs) =>
      var st = SessionState.empty(user.toString)
      evs.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        val cd = CheckpointData(e.props.getBytes(StandardCharsets.UTF_8), e.ts_us,
          user.toString, f"${e.event_id}%020d", e.task_id)
        if (SessionMerge.skipStale(st.content.getOrElse(cd.taskId, Vector.empty), cd.checkpointNs))
          c.staleSkipped += 1
        val t0 = System.nanoTime()
        val merged = SessionMerge.mergeContent(st.content, Seq(cd))
        val t1 = System.nanoTime()
        val diff = DiffEngine.computeDiff(st.content, merged, st.sequenceNumber + 1)
        val t2 = System.nanoTime()
        c.mergeNs += t1 - t0
        c.computeNs += t2 - t1
        c.updates += 1
        val both = st.content.keySet.intersect(merged.keySet)
        c.keysDiffed += both.size
        both.foreach { k =>
          if (st.content(k) == merged(k)) c.unchangedKeys += 1
          c.canonicalLines += DiffEngine.canonicalLines(concatSorted(st.content(k))).length +
            DiffEngine.canonicalLines(concatSorted(merged(k))).length
        }
        diff match {
          case Some(d) =>
            val t3 = System.nanoTime()
            val js = DiffModel.toJson(d)
            c.jsonNs += System.nanoTime() - t3
            c.jsonBytes += js.getBytes(StandardCharsets.UTF_8).length
            c.diffs += 1
            c.deltaLines += d.diffData.valuesIterator
              .flatMap(_.changes.iterator).map(ch => lines(ch.change)).sum
            st = st.copy(sequenceNumber = st.sequenceNumber + 1, content = merged)
          case None =>
            st = st.copy(content = merged)
        }
      }
    }
    c
  }

  /** `n` is the number of updates replayed, or of diffs emitted for the
    * figures of the diff documents.
    */
  def metrics(c: Counts, out: Outcome): Unit = {
    val u = c.updates.toInt
    val d = c.diffs.toInt
    out.add("state.updates", c.updates.toDouble, "count", u)
    out.add("state.merge_s", c.mergeNs / 1e9, "s", u)
    out.add("state.stale_skipped", c.staleSkipped.toDouble, "count", u)
    out.add("state.diff_yield", if (c.updates == 0) 0.0 else c.diffs.toDouble / c.updates, "ratio", u)
    out.add("diff.compute_s", c.computeNs / 1e9, "s", u)
    out.add("diff.keys_diffed", c.keysDiffed.toDouble, "count", u)
    out.add("diff.unchanged_keys_diffed", c.unchangedKeys.toDouble, "count", u)
    out.add("diff.canonical_lines", c.canonicalLines.toDouble, "count", u)
    out.add("diff.delta_lines", c.deltaLines.toDouble, "count", d)
    out.add("diff.json_s", c.jsonNs / 1e9, "s", d)
    out.add("diff.json_bytes", c.jsonBytes.toDouble, "bytes", d)
  }
}
