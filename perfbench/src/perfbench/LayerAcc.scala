package perfbench

import scala.collection.mutable
import Trace._

/** Per-layer totals over the traced spans of a CDC workload (one span per
  * replay or per beat), reported as means per span. */
final class LayerAcc {
  private val secs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var spans = 0
  private var wall = 0.0
  private var events = 0L
  private var mergeShuffleBytes = 0L
  private val writeSkew = mutable.ArrayBuffer.empty[Double]
  private var lakeBytes = 0L
  private var allBytes = 0L
  private var mergeRows = 0L
  private var lakeRows = 0L

  /** The least share of a span's wall that named layers covered; the
    * catch-all batch driver does not count as named. */
  private var minCoverage = 1.0
  def coverage: Double = minCoverage

  def add(t0: Long, t1: Long, samples: Seq[Sample], rec: Recorded,
      spanEvents: Long): Unit = {
    val (layers, staged) = attribute(t0, t1, samples, rec)
    layers.foreach { case (l, s) => secs(l) += s }
    Common.mark("layers " + layers.toSeq.sortBy(-_._2)
      .map { case (l, s) => f"$l=$s%.3f" }.mkString(" "))
    val w = (t1 - t0) / 1e3
    minCoverage = math.min(minCoverage,
      1.0 - CatchAll.toSeq.map(layers.getOrElse(_, 0.0)).sum / math.max(w, 1e-9))
    spans += 1
    wall += w
    events += spanEvents
    def of(ls: String*) = staged.collect { case (s, l) if ls.contains(l) => s }
    mergeShuffleBytes += of(MergeExchange).map(_.shuffleWriteBytes).sum
    of(StageWrite).filter(_.taskMs.nonEmpty).foreach { s =>
      writeSkew += s.taskMs.max / math.max(1.0, Common.median(s.taskMs.map(_.toDouble)))
    }
    lakeBytes += of(StageWrite, Fold, ViewRefresh).map(_.bytesWritten).sum
    allBytes += staged.map(_._1.bytesWritten).sum
    mergeRows += of(StageWrite).map(_.recordsWritten).sum
    lakeRows += of(StageWrite, Fold).map(_.recordsWritten).sum
  }

  def metrics: Map[String, Double] = {
    val n = math.max(spans, 1).toDouble
    Layers.map(l => l -> secs(l) / n).toMap ++ Map(
      "cdc.dedup_ratio" -> mergeRows.toDouble / math.max(events, 1L),
      "lake.merge_shuffle_bytes" -> mergeShuffleBytes / n,
      "lake.merge_task_skew" -> (if (writeSkew.isEmpty) 0.0 else Common.median(writeSkew.toSeq)),
      "lake.bytes_written" -> lakeBytes / n,
      "lake.rows_rewritten_per_row_changed" -> lakeRows.toDouble / math.max(mergeRows, 1L),
      "cdc.bytes_written_per_event" -> allBytes.toDouble / math.max(events, 1L),
      "trace.unattributed_share" -> secs(Unattributed) / math.max(wall, 1e-9),
      "trace.min_coverage" -> minCoverage)
  }
}
