package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark entry: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <scratch dir> --data <bundled data dir>`. Prints a host record
  * and, as its last line, one JSON result; exits non-zero when an output
  * check fails. `--record` instead writes the curation suite's expected
  * results for the tables under `--data`. */
object Main {
  /** End-to-end metrics (`--trace 0`), every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_s" -> "s",
    "mem_peak_bytes" -> "bytes")

  /** Per-layer metrics (`--trace 1`). A workload reports 0 for a layer it
    * does not exercise. */
  val PerLayer: Seq[(String, String)] = Seq(
    "cdc.stats_probe_s" -> "s", "cdc.evolve_s" -> "s", "cdc.quarantine_s" -> "s",
    "cdc.lineage_write_s" -> "s", "cdc.batch_driver_s" -> "s",
    "cdc.trigger_overhead_s" -> "s",
    "cdc.dedup_ratio" -> "ratio", "cdc.scaling_1to4" -> "ratio",
    "cdc.bytes_written_per_event" -> "bytes",
    "lake.merge_exchange_s" -> "s", "lake.merge_shuffle_bytes" -> "bytes",
    "lake.merge_task_skew" -> "ratio", "lake.stage_write_s" -> "s",
    "lake.footer_stats_s" -> "s", "lake.commit_driver_s" -> "s",
    "lake.meta_load_first_s" -> "s", "lake.meta_load_last_s" -> "s",
    "lake.meta_bytes" -> "bytes", "lake.fold_s" -> "s", "lake.view_refresh_s" -> "s",
    "lake.bytes_written" -> "bytes", "lake.rows_rewritten_per_row_changed" -> "ratio",
    "lake.delta_layers_read" -> "count", "sql.files_read_ratio" -> "ratio") ++
    CurationSuite.Modules.map { case (m, _) => s"ops.${m}_s" -> "s" } ++
    CurationSuite.Leaves.map(l => s"ops.${l}_s" -> "s") ++ Seq(
    "ops.shuffle_bytes" -> "bytes", "ops.cpu_s" -> "s", "ops.gc_s" -> "s",
    "e2e.replay_events_per_s" -> "1/s",
    "e2e.commit_tail_s" -> "s", "e2e.lookup_p50_s" -> "s", "e2e.lookup_tail_s" -> "s",
    "e2e.query_total_s" -> "s", "e2e.fail_ratio" -> "ratio",
    "host.calib_s" -> "s", "trace.overhead_ratio" -> "ratio",
    "trace.unattributed_share" -> "ratio", "trace.min_coverage" -> "ratio")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val work = arg(args, "work").getOrElse(sys.error("--work is required"))
    val data = arg(args, "data").getOrElse(sys.error("--data is required"))
    Common.dir(work)
    if (args.contains("--record")) { Record.run(work, data); return }
    val o = Opts(
      workload = arg(args, "workload").getOrElse(sys.error("--workload is required")),
      seed = arg(args, "seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "seconds").map(_.toInt).getOrElse(10),
      trace = arg(args, "trace").contains("1"),
      work = work, data = data, cores = 4)
    val calib = Common.calibrate()
    val rt = Runtime.getRuntime
    println(s"""{"host":{"nproc":${rt.availableProcessors},"max_heap_bytes":${rt.maxMemory},""" +
      s""""jdk":${str(System.getProperty("java.version"))},""" +
      s""""spark":${str(org.apache.spark.SPARK_VERSION)},"cores":${o.cores},""" +
      s""""calib_s":${num(calib)}},"workload":${str(o.workload)},"seed":${o.seed},""" +
      s""""seconds":${o.seconds},"trace":${o.trace}}""")

    val out = o.workload match {
      case "trickle_beats" => TrickleBeats.run(o)
      case "curation_suite" => CurationSuite.run(o)
      case w => sys.error(s"unknown workload '$w'")
    }
    val measured = out.metrics + ("host.calib_s" -> calib) +
      ("e2e.fail_ratio" -> out.failed.toDouble / out.attempted)
    val declared = if (o.trace) PerLayer else EndToEnd
    val metrics = declared.map { case (name, unit) =>
      val v = measured.getOrElse(name,
        if (o.trace) 0.0 else sys.error(s"${o.workload} did not measure $name"))
      s"${str(name)}:{\"value\":${num(v)},\"unit\":${str(unit)}}"
    }
    out.checks.foreach { case (what, ok) =>
      System.err.println(s"[perfbench] ${if (ok) "ok  " else "FAIL"} $what")
    }
    val correct = out.checks.forall(_._2) && out.failed == 0
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":${metrics.mkString("{", ",", "}")}}""")
    System.out.flush()
    if (!correct) System.exit(1)
  }
}

/** Writes `curation_expected.tsv` beside the bundled tables: each query's
  * (rows, hash) over the tables as bundled. Run it only on code whose
  * outputs the DuckDB oracle has just confirmed. */
object Record {
  def run(work: String, data: String): Unit = {
    val spark = Common.session(4, work)
    val lines = graft.SparkEntry.allOps.sortBy(_.name).map { q =>
      val (rows, hash) = Common.checksumAll(q.fn(spark, s"$data/sf0.01"))
      s"${q.name}\t$rows\t$hash"
    }
    Files.write(Paths.get(data, "curation_expected.tsv"),
      ("# query\trows\thash (sum of xxhash64 over all columns)" +: lines)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
