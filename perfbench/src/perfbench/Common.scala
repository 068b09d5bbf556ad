package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, data: String, cores: Int)

/** What a workload hands back: operation counts, the output checks and the
  * metrics it measured (name -> value). */
final case class Outcome(attempted: Long, failed: Long, checks: Seq[(String, Boolean)],
    metrics: Map[String, Double])

object Common {
  /** A local session; `warehouse` binds the `graftsql` catalog to it. */
  def session(cores: Int, work: String, warehouse: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.shuffle.partitions", cores * 2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    warehouse.foreach { wh =>
      b.config("spark.sql.catalog.graftsql", "graft.sql.GraftCatalog")
        .config("spark.sql.catalog.graftsql.warehouse", wh)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def nowMs: Long = System.currentTimeMillis()

  private val t0 = System.nanoTime()

  /** A timestamped progress line on stderr. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f] $what")

  def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
  }

  /** The tail percentile used for n samples: the highest whole percentile
    * with at least ten samples above it, or the maximum (100) when there
    * are not eleven samples. */
  def tailPercentile(n: Int): Double =
    if (n > 10) math.floor(100.0 * (n - 10) / n) else 100.0

  def dir(p: String): String = { Files.createDirectories(Paths.get(p)); p }

  def rm(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path)) graft.lake.LakeTable.deleteRecursively(path)
  }

  def bytesUnder(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else {
      val st = Files.walk(path)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_: Path)).sum()
      finally st.close()
    }
  }

  /** Order-independent content checksum: row count and the sum of per-row
    * 64-bit hashes over the given columns. */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  def checksumAll(df: DataFrame): (Long, BigDecimal) = checksum(df, df.columns.toSeq)

  /** Fixed single-thread CPU probe (splitmix64 chain), median of 5 reps:
    * reads as a host-speed marker beside every result. */
  def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 20000000) {
        h += 0x9E3779B97F4A7C15L
        var z = h
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        h ^= z ^ (z >>> 31)
        i += 1
      }
      if (h == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    median((1 to 5).map(_ => once()))
  }
}

/** Peak heap in use after a full collection forced at the end of each
  * measured unit (a beat, a pass): the working set the engine keeps
  * between units. Collections the JVM runs on its own are left out: when
  * they fall, and so what they see, changes from run to run. */
object HeapPeak {
  import java.lang.management.ManagementFactory
  private var peak = 0L

  def arm(): Unit = peak = 0L

  /** Full collection now; its post-collection heap counts toward the peak.
    * The first collection hands Spark's context cleaner the broadcasts and
    * shuffles no one references any more, which it then drops; the second
    * sees the heap without them. With one collection, or 20 ms between
    * the two, the figure swung by whatever was awaiting clean-up. */
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def value: Double = peak.toDouble
}
