package perfbench

import org.apache.spark.PerfbenchHooks
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One finished stage: its interval, the layer its output path names (if
  * any), and the task metrics Spark summed over it. */
final case class StageRec(
    pathLayer: Option[String],
    startMs: Long,
    endMs: Long,
    isMap: Boolean,
    cpuNs: Long,
    gcMs: Long,
    shuffleWriteBytes: Long,
    bytesWritten: Long,
    recordsWritten: Long,
    taskMs: Seq[Long])

/** One finished SQL execution whose output path names a layer: its
  * interval covers the write's driver side (job set-up, file commit) as
  * well as its stages. */
final case class PathSpan(layer: String, startMs: Long, endMs: Long)

/** What a [[StageTrace]] recorded since the last [[StageTrace.take]]. */
final case class Recorded(stages: Seq[StageRec], writes: Seq[PathSpan])

/** Stage listener of the traced run. Records nothing until `recording` is
  * set. Every callback runs on the listener-bus thread; readers call
  * [[Trace.drain]] first and then [[take]]. `pathLayers` names the layer of
  * a write by its output directory (a write's physical plan carries it). */
final class StageTrace(pathLayers: Seq[(String, String)]) extends SparkListener {
  @volatile var recording = false
  private val execPlans = mutable.HashMap.empty[Long, String]
  private val stageExec = mutable.HashMap.empty[Int, Long]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val done = mutable.ArrayBuffer.empty[StageRec]
  private val openWrites = mutable.HashMap.empty[Long, (String, Long)]
  private val writes = mutable.ArrayBuffer.empty[PathSpan]

  private def layerOf(plan: String): Option[String] =
    pathLayers.collectFirst { case (p, l) if plan.contains(p) => l }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if recording =>
      execPlans(s.executionId) = s.physicalPlanDescription
      layerOf(s.physicalPlanDescription).foreach(l => openWrites(s.executionId) = l -> s.time)
    case s: SparkListenerSQLExecutionEnd =>
      openWrites.remove(s.executionId).foreach { case (l, t0) =>
        done.synchronized(writes += PathSpan(l, t0, s.time))
      }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = if (recording) {
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => j.stageIds.foreach(s => stageExec(s) = id.toLong))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (recording && t.taskInfo != null)
      taskMs.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += t.taskInfo.duration

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = if (recording) {
    val si = s.stageInfo
    val m = si.taskMetrics
    val plan = stageExec.remove(si.stageId).flatMap(execPlans.get).getOrElse("")
    done.synchronized(done += StageRec(
      layerOf(plan),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      PerfbenchHooks.isShuffleMap(si),
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      if (m == null) 0L else m.outputMetrics.recordsWritten,
      taskMs.remove(si.stageId).map(_.toSeq).getOrElse(Seq.empty)))
  }

  /** Stages and path-named writes finished since the last call. */
  def take(): Recorded = done.synchronized {
    val r = Recorded(done.toList, writes.toList); done.clear(); writes.clear(); r
  }
}

/** The engine and stream-execution frames (`Class.method`, innermost
  * first) of the thread that drives the pipeline, at one instant. */
final case class Sample(tMs: Long, frames: Seq[String])

/** Samples the driving thread's stack every [[IntervalMs]] while
  * `recording`. A streaming query runs its batches on its own thread, and
  * Spark stamps every job of a stream with the call site of the query's
  * start, so stage call sites cannot tell the steps of a batch apart; the
  * driving thread's live stack can. That thread is the stream's execution
  * thread while one runs, else the thread that created the sampler. */
final class StackSampler extends Thread("perfbench-sampler") {
  val IntervalMs = 5L
  setDaemon(true)
  @volatile var recording = false
  /** Whether to sample a running stream's thread; off, the creating thread. */
  @volatile var followStream = true
  @volatile private var stopped = false
  private val main = Thread.currentThread()
  private var stream: Thread = null
  private var lastLookup = 0L
  private val buf = mutable.ArrayBuffer.empty[Sample]

  private def target(now: Long): Thread = {
    if (!followStream) return main
    if ((stream == null || !stream.isAlive) && now - lastLookup > 20) {
      lastLookup = now
      import scala.jdk.CollectionConverters._
      stream = Thread.getAllStackTraces.keySet.asScala
        .find(t => t.isAlive && t.getName.startsWith("stream execution thread")).orNull
    }
    if (stream != null && stream.isAlive) stream else main
  }

  override def run(): Unit = while (!stopped) {
    if (recording) {
      val now = System.currentTimeMillis()
      val frames = target(now).getStackTrace.iterator
        .filter(f => Trace.Kept.exists(f.getClassName.startsWith))
        .map(f => f.getClassName + "." + f.getMethodName).toSeq
      buf.synchronized(buf += Sample(now, frames))
    }
    Thread.sleep(IntervalMs)
  }

  def halt(): Unit = { stopped = true; join() }

  /** Samples taken since the last call. */
  def take(): Seq[Sample] = buf.synchronized {
    val r = buf.toList; buf.clear(); r
  }
}

object Trace {
  val StatsProbe = "cdc.stats_probe_s"
  val Evolve = "cdc.evolve_s"
  val Quarantine = "cdc.quarantine_s"
  val LineageWrite = "cdc.lineage_write_s"
  val BatchDriver = "cdc.batch_driver_s"
  val TriggerOverhead = "cdc.trigger_overhead_s"
  val MergeExchange = "lake.merge_exchange_s"
  val StageWrite = "lake.stage_write_s"
  val FooterStats = "lake.footer_stats_s"
  val CommitDriver = "lake.commit_driver_s"
  val Fold = "lake.fold_s"
  val ViewRefresh = "lake.view_refresh_s"
  val Unattributed = "unattributed"
  val Layers = Seq(StatsProbe, Evolve, Quarantine, LineageWrite, BatchDriver,
    TriggerOverhead, MergeExchange, StageWrite, FooterStats, CommitDriver, Fold,
    ViewRefresh)

  /** Class prefixes a sample keeps: the engine's, and Spark's stream
    * execution, which tells trigger bookkeeping from the rest. */
  val Kept = Seq("graft.", "org.apache.spark.sql.execution.streaming.")

  /** Catch-all layers: time they hold counts against coverage. */
  val CatchAll = Set(BatchDriver, Unattributed)

  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    PerfbenchHooks.drain(spark.sparkContext)

  private val MergeFrame = """graft\.lake\.LakeTable\.(\$anonfun\$)?merge(\$|$)""".r

  /** The layer of one stack sample, by the engine frames that name a step.
    * Owners are checked outermost-concern first: a view refresh merges into
    * its view table and a fold writes through the merge's stage writer, so
    * the owning step decides; inside a merge, the innermost frames and the
    * running stage split exchange, write, footer stats and the driver-only
    * rest (metadata load, planning, the commit). A batch's own writes
    * (quarantine, lineage) are named by the output path of the running
    * stage, else of the write under way; the rest of a batch is the batch
    * driver's. Stream execution outside the foreachBatch sink is trigger
    * bookkeeping; anything else, including the sink's own frames around
    * the batch, is unattributed. */
  def classify(frames: Seq[String], running: Seq[StageRec], writing: Seq[PathSpan]): String = {
    def any(p: String => Boolean) = frames.exists(p)
    if (any(_.startsWith("graft.lake.ViewMaintainer"))) ViewRefresh
    else if (any(_.contains("foldDeltas"))) Fold
    else if (any(f => f.contains("evolveTo") || f.contains("applyMigration"))) Evolve
    else if (any(f => MergeFrame.findFirstIn(f).isDefined)) {
      if (any(_.contains("statsFromFooters"))) FooterStats
      else if (any(_.contains("stageWrite")))
        if (running.exists(_.isMap)) MergeExchange else StageWrite
      else CommitDriver
    }
    else if (any(_.contains("batchStats"))) StatsProbe
    else if (any(_.contains("CdcPipeline$.processBatch")))
      running.flatMap(_.pathLayer).headOption.orElse(writing.headOption.map(_.layer))
        .getOrElse(BatchDriver)
    else if (any(_.contains("ForeachBatchSink"))) Unattributed
    else if (any(f => f.contains(".MicroBatchExecution.") || f.contains(".StreamExecution.")))
      TriggerOverhead
    else Unattributed
  }

  /** Seconds of the span [t0, t1] (epoch millis) charged to each layer: each
    * sample stands for the time until the next one. Also returns each
    * stage's layer: its path layer, else the most common sample layer while
    * it ran. */
  def attribute(t0: Long, t1: Long, samples: Seq[Sample],
      rec: Recorded): (Map[String, Double], Seq[(StageRec, String)]) = {
    val stages = rec.stages
    val in = samples.filter(s => s.tMs >= t0 && s.tMs < t1).sortBy(_.tMs)
    val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val labeled = in.zipWithIndex.map { case (s, i) =>
      val until = if (i + 1 < in.size) in(i + 1).tMs else t1
      val layer = classify(s.frames,
        stages.filter(st => st.startMs <= s.tMs && st.endMs >= s.tMs),
        rec.writes.filter(w => w.startMs <= s.tMs && w.endMs >= s.tMs))
      val from = if (i == 0) t0 else s.tMs
      acc(layer) += (until - from) / 1e3
      s.tMs -> layer
    }
    if (in.isEmpty) acc(Unattributed) += (t1 - t0) / 1e3
    val stageLayers = stages.filter(s => s.endMs > t0 && s.startMs < t1).map { st =>
      st -> st.pathLayer.getOrElse {
        val during = labeled.filter { case (t, _) => t >= st.startMs && t <= st.endMs }
          .map(_._2).filterNot(_ == TriggerOverhead)
        if (during.nonEmpty) during.groupBy(identity).maxBy(_._2.size)._1
        else labeled.filter(_._1 <= st.endMs).lastOption.map(_._2).getOrElse(Unattributed)
      }
    }
    (acc.toMap, stageLayers)
  }
}
