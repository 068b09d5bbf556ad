package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import graft.cdc._
import graft.lake._

/** A change envelope as a beat file carries it: nullable everywhere, so a
  * malformed envelope (null lsn or key, unknown op) can be written. */
final case class Envelope(beat: Int, lsn: java.lang.Long, txn_ts: java.sql.Timestamp,
    op: String, schema_version: Int, repo: String, path: String, commit: String,
    lang: String, content: String, branch: String, size_bytes: java.lang.Long)

/** `trickle_beats`: the lifecycle load. A base table is built in set-up;
  * then closed-loop beats of small batches, one log file per beat, run
  * through the streaming entry with its checkpoint: merge-on-read delta
  * commits with a fold every [[FoldEvery]] beats, one maintained rollup
  * view, a lineage sink and a quarantine sink for the injected malformed
  * envelopes. After every commit one read-your-write point lookup runs
  * through the `graftsql` catalog. */
object TrickleBeats {
  val BaseEvents = 50000L
  val BeatEvents = 5000
  val MaxBeats = 8
  val WarmBeats = 1
  /** At least this many measured beats per untraced run. */
  val MinBeats = 4
  val Buckets = 16
  val FoldEvery = 3
  /** Measured beats of a traced run, alternately traced and untraced, so
    * each half holds one fold. */
  val TracedBeats = 2 * FoldEvery
  val SetupReps = 3
  /** Share of beat envelopes made malformed. */
  val MalformedRate = 0.004
  val Namespace = "bench"
  val TableName = "files"

  /** The last schema bump (v3 to v4) lands in beat 2, a traced beat. */
  def genConfig(seed: Long): GenConfig = GenConfig(seed = seed,
    numEvents = BaseEvents + MaxBeats.toLong * BeatEvents,
    numRepos = 100, pathsPerRepo = 50, commitsPerFile = 8,
    schemaBumps = Seq(0.2, 0.4, 0.7))

  /** The envelope at arrival index `a`; beat envelopes are malformed with
    * probability [[MalformedRate]], in one of three ways. */
  def envelopeAt(cfg: GenConfig, a: Long): Envelope = {
    val e = ChangeLogGen.eventAt(cfg, ChangeLogGen.arrivalToSource(cfg, a))
    val beat = if (a < BaseEvents) -1 else ((a - BaseEvents) / BeatEvents).toInt
    val bad = beat >= 0 && Det.u01(cfg.seed, 901, a) < MalformedRate
    val kind = if (bad) (Det.mix(cfg.seed, 902, a) >>> 33) % 3 else -1L
    Envelope(beat, if (kind == 0) null else java.lang.Long.valueOf(e.lsn), e.txnTs,
      if (kind == 1) "X" else e.op, e.schemaVersion, if (kind == 2) null else e.repo,
      e.path, e.commit, e.lang, e.content, e.branch, e.sizeBytes)
  }

  def malformed(e: Envelope): Boolean =
    e.lsn == null || e.repo == null || !Set("I", "U", "D")(e.op)

  private val envelopeCols = CdcPipeline.envelopeSchema.fieldNames.toSeq

  private def envelopes(spark: SparkSession, cfg: GenConfig, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, 8).as[Long]
      .mapPartitions(_.map(a => envelopeAt(cfg, a))).toDF()
  }

  final class Dirs(work: String) {
    val wh = s"$work/wh"
    val root = s"$wh/$Namespace/$TableName"
    val baseLog = s"$work/base-log"
    val staged = s"$work/staged"
    val log = s"$work/log"
    val ckpt = s"$work/ckpt"
    val lineage = s"$work/lineage"
    val quarantine = s"$work/quarantine"
    val check = s"$work/check"
    /** Where the traced run's extra replay writes. */
    val tracedReplay = s"$check/traced"
  }

  /** Set-up: write the base log and every beat file, build the base table
    * and bootstrap its rollup view. */
  private def setUp(spark: SparkSession, cfg: GenConfig, d: Dirs): (LakeTable, ViewMaintainer) = {
    Seq(d.wh, d.baseLog, d.staged, d.log, d.ckpt, d.lineage, d.quarantine).foreach(Common.rm)
    envelopes(spark, cfg, 0, BaseEvents).select(envelopeCols.map(org.apache.spark.sql.functions.col): _*)
      .write.parquet(d.baseLog)
    envelopes(spark, cfg, BaseEvents, cfg.numEvents)
      .repartition(org.apache.spark.sql.functions.col("beat"))
      .write.partitionBy("beat").parquet(d.staged)
    Common.dir(d.log)
    val table = new LakeCatalog(spark, d.wh).createTable(Namespace, TableName,
      CdcPipeline.baseTableSchema, ChangeEvent.keyCols, numBuckets = Buckets)
    CdcPipeline.replayBatch(spark,
      spark.read.schema(CdcPipeline.envelopeSchema).parquet(d.baseLog), table)
    val views = new ViewMaintainer(table, s"${d.wh}/$Namespace",
      Seq(RollupView("files_by_lang", Seq("lang"))))
    views.refreshAll()
    (table, views)
  }

  /** Moves beat `i`'s staged file into the tailed log directory. */
  private def release(d: Dirs, i: Int): Unit = {
    val src = Files.list(Paths.get(d.staged, s"beat=$i"))
    val file = try src.filter(_.toString.endsWith(".parquet")).findFirst().get() finally src.close()
    Files.move(file, Paths.get(d.log, f"beat-$i%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def bucketOf(key: (String, String, String), n: Int): Int = {
    var h = 42
    Seq(key._1, key._2, key._3).foreach { v =>
      h = Murmur3HashFunction.hash(UTF8String.fromString(v), StringType, h).toInt
    }
    ((h % n) + n) % n
  }

  private def plannedFiles(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => plannedFiles(a.executedPlan)
    case b: BatchScanExec => b.metrics.get("plannedFiles").map(_.value).getOrElse(0L)
    case other => other.children.map(plannedFiles).sum
  }

  private def metaBytes(root: String): Long = {
    val md = Paths.get(root, "metadata")
    val st = Files.list(md)
    val latest = try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json")).max
    } finally st.close()
    Files.size(md.resolve(latest)) + Common.bytesUnder(md.resolve("manifests").toString)
  }

  /** Replays the base log and every released beat as one copy-on-write
    * batch into a fresh table under `at`; returns it, the replay's start
    * (epoch millis) and its seconds. */
  private def cowReplay(spark: SparkSession, d: Dirs, at: String): (LakeTable, Long, Double) = {
    def read(dir: String) = spark.read.schema(CdcPipeline.envelopeSchema).parquet(dir)
    val t = LakeTable.createOrReplace(spark, s"$at/table", CdcPipeline.baseTableSchema,
      ChangeEvent.keyCols, numBuckets = Buckets)
    val log = read(d.baseLog).unionByName(read(d.log))
    val start = Common.nowMs
    val secs = Common.secs(CdcPipeline.replayBatch(spark, log, t,
      quarantineDir = Some(s"$at/quarantine")))._2
    (t, start, secs)
  }

  private def metaLoadSecs(root: String): Double =
    Common.median((1 to 5).map(_ => Common.secs(LakeTable.metaAt(root))._2))

  def run(o: Opts): Outcome = {
    val cfg = genConfig(o.seed)
    val d = new Dirs(o.work)
    val spark = Common.session(o.cores, o.work, Some(d.wh))
    var built: (LakeTable, ViewMaintainer) = null
    val setup = (1 to SetupReps).map(_ => Common.secs { built = setUp(spark, cfg, d) }._2)
    Common.mark(s"set-up $setup")
    val (table, views) = built

    // driver-side LWW state: a 64-bit hash of the key -> lsn * 4 + op
    // priority, so the benchmark's own state stays small beside the heap
    // it measures (the lookup's expected content comes from the beat's
    // envelopes)
    val state = mutable.LongMap.empty[Long]
    def keyOf(e: Envelope): Long = {
      val s = s"${e.repo}\n${e.path}\n${e.commit}"
      (MurmurHash3.stringHash(s, 1).toLong << 32) | (MurmurHash3.stringHash(s, 2) & 0xffffffffL)
    }
    def version(e: Envelope): Long = e.lsn.longValue * 4 + ChangeEvent.opPriority(e.op)
    def apply(e: Envelope): Boolean = {
      val (k, v) = (keyOf(e), version(e))
      val win = state.get(k).forall(_ < v)
      if (win) state(k) = v
      win
    }
    (0L until BaseEvents).foreach(a => apply(envelopeAt(cfg, a)))

    val progress = new LinkedBlockingQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) progress.put(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val trace = new StageTrace(Seq(d.quarantine -> Trace.Quarantine,
      s"${d.tracedReplay}/quarantine" -> Trace.Quarantine, d.lineage -> Trace.LineageWrite))
    spark.sparkContext.addSparkListener(trace)
    val sampler = new StackSampler
    sampler.start()

    def startStream(trigger: Trigger) = CdcPipeline.start(spark, d.log, table, d.ckpt,
      lineageDir = Some(d.lineage), trigger = trigger, views = Some(views),
      quarantineDir = Some(d.quarantine), delta = true, foldEvery = FoldEvery)
    val query = startStream(Trigger.ProcessingTime(0L))

    val commits = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val lookups = mutable.ArrayBuffer.empty[Double]
    val filesRatio = mutable.ArrayBuffer.empty[Double]
    val layersRead = mutable.ArrayBuffer.empty[Double]
    val layers = new LayerAcc
    var injected = 0L
    var badLookups = 0L
    var metaFirst = 0.0
    var beat = 0
    var measureStart = 0L
    def measuring = beat >= WarmBeats
    val minBeats = if (o.trace) TracedBeats else MinBeats
    def more = beat < WarmBeats + minBeats ||
      (beat < MaxBeats && (System.nanoTime() - measureStart) / 1e9 < o.seconds)

    while (more) {
      if (beat == WarmBeats) { HeapPeak.arm(); measureStart = System.nanoTime() }
      val traced = o.trace && measuring && beat % 2 == 0
      trace.recording = traced
      sampler.recording = traced
      val t0 = System.nanoTime()
      release(d, beat)
      val p = progress.poll(120, TimeUnit.SECONDS)
      val commitSec = (System.nanoTime() - t0) / 1e9
      trace.recording = false
      sampler.recording = false
      require(p != null, s"beat $beat: no commit within 120 s" +
        query.exception.map(e => s" (${e.getMessage})").getOrElse(""))
      require(p.batchId == beat, s"beat $beat committed as batch ${p.batchId}")

      // the beat's envelopes, on the driver: the expected state and the key
      // the read-your-write lookup asks for
      val evs = (BaseEvents + beat.toLong * BeatEvents until
        BaseEvents + (beat + 1L) * BeatEvents).map(envelopeAt(cfg, _))
      val (bad, good) = evs.partition(malformed)
      injected += bad.size
      val winners = good.filter(apply)
      val probe = winners.filter(e => e.op != "D" && state(keyOf(e)) == version(e))
        .maxBy(_.lsn.longValue)
      val key = (probe.repo, probe.path, probe.commit)
      val lookup = spark.sql(s"SELECT content FROM graftsql.$Namespace.$TableName " +
        s"WHERE repo = '${key._1}' AND path = '${key._2}' AND commit = '${key._3}'")
      val (got, lookupSec) = Common.secs(lookup.collect().map(_.getString(0)).toSeq)
      if (got != Seq(probe.content)) badLookups += 1

      val meta = LakeTable.metaAt(d.root)
      Common.mark(f"beat $beat commit=$commitSec%.3f lookup=$lookupSec%.3f")
      if (measuring) {
        commits += traced -> commitSec
        lookups += lookupSec
        val files = meta.currentSnapshot.map(_.files).getOrElse(Seq.empty)
        filesRatio += plannedFiles(lookup.queryExecution.executedPlan).toDouble / math.max(1, files.size)
        val b = bucketOf(key, meta.numBuckets)
        layersRead += files.count(f => f.bucket == b && f.isDelta).toDouble
        if (traced) {
          Trace.drain(spark)
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli
          layers.add(start, start + p.durationMs.get("triggerExecution").longValue,
            sampler.take(), trace.take(), BeatEvents)
        }
        if (beat == WarmBeats) metaFirst = metaLoadSecs(d.root)
        HeapPeak.sample()
      }
      trace.take()
      sampler.take()
      beat += 1
    }
    val metaLast = metaLoadSecs(d.root)
    HeapPeak.sample()
    query.stop()

    // re-drive the last epoch: drop its commit marker and restart from the
    // checkpoint; the table must not gain a snapshot
    Common.mark("beats done")
    val before = LakeTable.metaAt(d.root)
    Seq((beat - 1).toString, s".${beat - 1}.crc")
      .foreach(f => Files.deleteIfExists(Paths.get(d.ckpt, "commits", f)))
    startStream(Trigger.AvailableNow()).awaitTermination()
    val after = LakeTable.metaAt(d.root)
    val redriveClean = after.snapshots.size == before.snapshots.size &&
      after.currentSnapshotId == before.currentSnapshotId

    // the final state against a single-batch copy-on-write replay of the
    // same log, and the dead-letter count against the injected count
    Common.mark("re-driven")
    val (cow, _, cowSecs) = cowReplay(spark, d, s"${d.check}/at4")
    val replayEvents = BaseEvents + beat.toLong * BeatEvents
    // traced: the same replay once more with the sampler on the driving
    // thread, for the named layers' coverage of a replay's wall
    val replay = new LayerAcc
    if (o.trace) {
      sampler.followStream = false
      trace.recording = true
      sampler.recording = true
      val (_, start, secs) = cowReplay(spark, d, d.tracedReplay)
      trace.recording = false
      sampler.recording = false
      Trace.drain(spark)
      replay.add(start, start + (secs * 1e3).toLong, sampler.take(), trace.take(), replayEvents)
    }
    sampler.halt()
    val got = table.currentState()
    val want = cow.currentState()
    val sameState = got.columns.toSeq == want.columns.toSeq &&
      Common.checksumAll(got) == Common.checksumAll(want)
    val quarantined = spark.read.parquet(d.quarantine).count()
    Common.mark("checked")
    // the same replay once more at local[1]: scaling from 1 to 4 cores
    val scaling = if (!o.trace) 0.0 else {
      spark.stop()
      val one = Common.session(1, o.work)
      try cowReplay(one, d, s"${d.check}/at1")._3 / (4 * cowSecs) finally one.stop()
    }
    spark.stop()

    val checks = Seq(
      "final checksum equals a single-batch COW replay" -> sameState,
      s"quarantined $quarantined of $injected injected" -> (quarantined == injected),
      "re-driving the last epoch adds no snapshot" -> redriveClean,
      s"read-your-write lookups ($badLookups wrong)" -> (badLookups == 0))
    val commitSecs = commits.map(_._2).toSeq
    val events = commitSecs.size.toLong * BeatEvents
    val e2e = Map(
      "setup_s" -> Common.median(setup),
      "throughput_per_s" -> events / commitSecs.sum,
      "latency_p50_s" -> Common.median(commitSecs),
      "mem_peak_bytes" -> HeapPeak.value)
    val tail = Common.tailPercentile(commitSecs.size)
    val perLayer = if (!o.trace) Map.empty[String, Double] else layers.metrics ++ Map(
      "e2e.replay_events_per_s" -> replayEvents / cowSecs,
      "cdc.scaling_1to4" -> scaling,
      "e2e.commit_tail_s" -> Common.percentile(commitSecs, tail),
      "e2e.lookup_p50_s" -> Common.median(lookups.toSeq),
      "e2e.lookup_tail_s" -> Common.percentile(lookups.toSeq, Common.tailPercentile(lookups.size)),
      "sql.files_read_ratio" -> Common.median(filesRatio.toSeq),
      "lake.delta_layers_read" -> layersRead.sum / layersRead.size,
      "lake.meta_load_first_s" -> metaFirst,
      "lake.meta_load_last_s" -> metaLast,
      "lake.meta_bytes" -> metaBytes(d.root).toDouble,
      "trace.min_coverage" -> math.min(layers.coverage, replay.coverage),
      "trace.overhead_ratio" -> Common.median(commits.filter(_._1).map(_._2).toSeq) /
        Common.median(commits.filterNot(_._1).map(_._2).toSeq))
    val failedChecks = checks.take(3).count(!_._2).toLong
    Outcome(beat * 2L, badLookups + failedChecks, checks, e2e ++ perLayer)
  }
}
