package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.SparkEntry
import graft.ops._

/** `curation_suite`: a fixed slice of the registered queries over the
  * bundled sf0.01 tables: every leaf the ROADMAP names plus one query per
  * other `*Ops` module. Set-up rewrites each table in a seed-chosen row
  * order (the content, and so every query result, stays the same). An
  * untimed warm pass runs first, so JIT, class loading and code generation
  * stay out of the figures; each pass runs in a fresh session, so a
  * session-keyed memo cannot serve a timed pass from an earlier one. */
object CurationSuite {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  val SetupReps = 3
  /** The `*Ops` modules the slice covers, reported one by one in the traced
    * run. */
  val Modules: Seq[(String, Seq[OpQuery])] = Seq(
    "RelationalOps" -> RelationalOps.all, "EventOps" -> EventOps.all,
    "TextOps" -> TextOps.all, "DedupOps" -> DedupOps.all,
    "SimilarityOps" -> SimilarityOps.all, "MultimodalOps" -> MultimodalOps.all,
    "CodeOps" -> CodeOps.all)
  /** Leaves the ROADMAP names, reported one by one in the traced run. */
  val Leaves = Seq("q21", "q26", "q28", "q30", "q40", "q45", "q61", "q62", "q63",
    "q64", "q66", "q76", "q78", "q79", "q80")
  /** The suite slice: the named leaves cover the dedup, similarity and text
    * modules; one query each covers four of the other five. CatalogOps is
    * left out: its first query in a JVM builds a SQL warehouse that costs
    * more than the whole slice. */
  val Slice: Seq[String] = Leaves ++ Seq("q02", "q11", "q32", "q72")

  def sliceOps: Seq[OpQuery] = SparkEntry.allOps
    .filter(q => Slice.contains(q.name.takeWhile(_ != '_'))).sortBy(_.name)

  /** (rows, hash) per query, recorded from a run whose outputs matched the
    * DuckDB oracle on every query. */
  def expected(data: String): Map[String, (Long, BigDecimal)] =
    Files.readAllLines(Paths.get(data, "curation_expected.tsv")).asScala
      .filterNot(_.startsWith("#")).map(_.split('\t'))
      .map(f => f(0) -> (f(1).toLong, BigDecimal(f(2)))).toMap

  /** Tables whose row order set-up draws from the seed; the small
    * dimension tables are copied as bundled. */
  val Permuted = Seq("lineitem", "orders", "events", "documents", "embeddings")

  private def permute(spark: SparkSession, from: String, to: String, seed: Long): Unit =
    Tables.foreach { t =>
      if (Permuted.contains(t)) {
        val df = spark.read.parquet(s"$from/$t.parquet")
        df.coalesce(1).sortWithinPartitions(xxhash64((lit(seed) +: df.columns.toSeq.map(col)): _*))
          .write.mode("overwrite").parquet(s"$to/$t.parquet")
      } else {
        Common.rm(s"$to/$t.parquet")
        Common.dir(s"$to/$t.parquet")
        Files.copy(Paths.get(from, s"$t.parquet"), Paths.get(to, s"$t.parquet", "part-0.parquet"))
      }
    }

  final case class Run(name: String, secs: Double, ok: Boolean, traced: Boolean)

  /** One pass over the slice in a fresh session; a query that throws is
    * failed and its time up to the throw still counts. `traced(i)` turns
    * the stage listener on for the i-th query. */
  def pass(spark: SparkSession, dir: String, want: Map[String, (Long, BigDecimal)],
      trace: Option[StageTrace] = None, traced: Int => Boolean = _ => false): Seq[Run] = {
    val s = spark.newSession()
    sliceOps.zipWithIndex.map { case (q, i) =>
      val on = trace.isDefined && traced(i)
      trace.foreach(_.recording = on)
      val t0 = System.nanoTime()
      val got = try Some(Common.checksumAll(q.fn(s, dir))) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] ${q.name} threw: ${e.getMessage}")
          None
      }
      trace.foreach(_.recording = false)
      Run(q.name, (System.nanoTime() - t0) / 1e9, got.isDefined && got == want.get(q.name), on)
    }
  }

  def run(o: Opts): Outcome = {
    val spark = Common.session(o.cores, o.work)
    val dir = s"${o.work}/sf"
    val setup = (1 to SetupReps).map(_ =>
      Common.secs(permute(spark, s"${o.data}/sf0.01", dir, o.seed))._2)
    Common.mark(s"set-up $setup")
    val want = expected(o.data)
    val warm = pass(spark, dir, want)
    Common.mark(f"warm pass ${warm.map(_.secs).sum}%.2f s")
    // untraced: timed passes until the run's seconds are spent (at least
    // one); traced: two passes instead, each query traced in one of them
    // and not in the other, so the overhead ratio compares each query with
    // itself and the untraced halves still add up to one whole pass
    val (runs, e2e, perLayer) = if (!o.trace) {
      HeapPeak.arm()
      val passes = collection.mutable.ArrayBuffer.empty[Seq[Run]]
      val start = System.nanoTime()
      while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < o.seconds) {
        passes += pass(spark, dir, want)
        Common.mark(f"timed pass ${passes.last.map(_.secs).sum}%.2f s: " +
          passes.last.sortBy(-_.secs).map(r => f"${r.name}%s=${r.secs}%.2f").mkString(" "))
        HeapPeak.sample()
      }
      val passSecs = passes.map(_.map(_.secs).sum).toSeq
      (passes.flatten.toSeq, Map(
        "setup_s" -> Common.median(setup),
        "throughput_per_s" -> passes.map(_.size).sum / passSecs.sum,
        "latency_p50_s" -> Common.median(passSecs),
        "mem_peak_bytes" -> HeapPeak.value), Map.empty[String, Double])
    } else {
      val trace = new StageTrace(Seq.empty)
      spark.sparkContext.addSparkListener(trace)
      val (runs, wall) = Common.secs(
        Seq(0, 1).flatMap(k => pass(spark, dir, want, Some(trace), i => (i + k) % 2 == 0)))
      Trace.drain(spark)
      val stages = trace.take().stages
      val (on, off) = runs.partition(_.traced)
      val secs = on.map(r => r.name -> r.secs).toMap
      (runs, Map.empty[String, Double], Modules.map { case (m, qs) =>
        s"ops.${m}_s" -> qs.flatMap(q => secs.get(q.name)).sum }.toMap ++
        Leaves.map(l => s"ops.${l}_s" -> secs.collectFirst {
          case (n, v) if n.startsWith(l + "_") => v
        }.get).toMap ++ Map(
        "ops.shuffle_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
        "ops.cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
        "ops.gc_s" -> stages.map(_.gcMs).sum / 1e3,
        "e2e.query_total_s" -> off.map(_.secs).sum,
        "trace.overhead_ratio" -> on.map(_.secs).sum / off.map(_.secs).sum,
        "trace.unattributed_share" -> (wall - runs.map(_.secs).sum) / wall))
    }
    spark.stop()
    val all = warm ++ runs
    val failed = all.count(!_.ok).toLong
    val failedNames = all.filterNot(_.ok).map(_.name).distinct
    Outcome(all.size.toLong, failed,
      Seq(s"every query matches its recorded result${
        if (failedNames.isEmpty) "" else failedNames.mkString(" (failed: ", ", ", ")")}" ->
        (failed == 0)),
      e2e ++ perLayer)
  }
}
