package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.cdc._
import graft.streaming.StreamOps

class ExtensionsAndStreamingSpec extends SparkTestBase {

  test("GraftExtensions registers SQL functions (session-injected registry)") {
    import org.apache.spark.sql.SparkSession
    spark // force shared session/context creation first
    // getOrCreate returns the active session unless cleared — clear both so
    // a NEW session (sharing the context) is built WITH the extensions
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      // programmatic form — spark.sql.extensions is a static conf, pinned by
      // whichever session created the shared context first
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val r = s2.sql(
        """SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) c,
          |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) d,
          |       jaccard_sim(array('a','b'), array('b','c')) j,
          |       simhash64(array('x','y')) s
          |""".stripMargin).head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getDouble(1) == 11.0)
      assert(math.abs(r.getDouble(2) - 1.0 / 3.0) < 1e-12)
      val agg = s2.sql(
        """SELECT k, lww_max_by(struct(k, v, lsn), lsn, 0) w FROM VALUES
          |  ('a', 'old', 1L), ('a', 'new', 5L), ('b', 'only', 2L) t(k, v, lsn)
          |GROUP BY k ORDER BY k""".stripMargin).collect()
      assert(agg(0).getStruct(1).getAs[String]("v") == "new")
      assert(agg(1).getStruct(1).getAs[String]("v") == "only")
      // BIGINT literal k still works (the old blind Literal[Int] cast threw
      // ClassCastException); bad arity / non-literal k fail with a REAL
      // message instead of IndexOutOfBounds / ClassCast
      assert(s2.sql("SELECT size(minhash_sig(array('a','b'), CAST(8 AS BIGINT))) n")
        .head().getInt(0) == 8)
      // the SQL names run the same kernels as the Column API: equal values
      // on the same input, and the fingerprint is the 62-bit one
      val toks = "array('the','quick','brown','fox','jumps','über','the','lazy','dog')"
      val viaSql = s2.sql(s"SELECT simhash64($toks) s, minhash_sig($toks, 8) m").head()
      val viaApi = s2.sql(s"SELECT $toks t").select(
        graft.functions.TextSimExprs.simhash64(col("t")),
        graft.functions.TextSimExprs.minhashSig(col("t"), 8)).head()
      assert(viaSql.getLong(0) == viaApi.getLong(0))
      assert(viaSql.getSeq[Long](1) == viaApi.getSeq[Long](1))
      assert(viaSql.getSeq[Long](1).length == 8)
      assert(viaSql.getLong(0) != 0L && (viaSql.getLong(0) >>> 62) == 0L,
        f"simhash64 is not a 62-bit fingerprint: ${viaSql.getLong(0)}%x")
      val e1 = intercept[Exception](s2.sql("SELECT cosine_similarity(array(1.0d)) c"))
      assert(e1.getMessage.contains("expects 2 argument"), e1.getMessage)
      val e2 = intercept[Exception](
        s2.sql("SELECT minhash_sig(array('a'), k) FROM VALUES (4) t(k)"))
      assert(e2.getMessage.contains("integer literal"), e2.getMessage)
      // top_k_by: ranked array back, (ord DESC, tie ASC) with k a literal
      val tk = s2.sql(
        """SELECT g, top_k_by(struct(v), ord, tie, 2) top FROM VALUES
          |  (1, 'low', 1L, 10L), (1, 'hi', 9L, 11L), (1, 'mid', 5L, 12L),
          |  (1, 'hi2', 9L, 13L) t(g, v, ord, tie)
          |GROUP BY g""".stripMargin).head()
      val tops = tk.getSeq[org.apache.spark.sql.Row](1).map(_.getAs[String]("v"))
      assert(tops == Seq("hi", "hi2"), s"got $tops") // 9L twice → tie ASC breaks
      val e3 = intercept[Exception](
        s2.sql("SELECT top_k_by(struct(v), ord, tie, k) FROM VALUES ('a', 1L, 1L, 3) t(v, ord, tie, k)"))
      assert(e3.getMessage.contains("integer literal"), e3.getMessage)
    } finally {
      // restore the shared session as active/default (same SparkContext)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("session windows: gap-chained merge per repo, closed by the watermark (append mode)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    def ev(lsn: Long, repo: String, minute: Long) = ChangeEvent(lsn,
      new java.sql.Timestamp(minute * 60000L), "U", 1, repo, s"p$lsn", "c",
      "scala", "x", null, null)
    val sessions = StreamOps.sessionizedRepoActivity(
      CdcPipeline.envelopeDf(mem.toDS()), "10 minutes", "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("sessout")
      .outputMode(OutputMode.Append()).start()
    try {
      // r1: minutes 0,5,9 chain into ONE session (each consecutive gap
      // < 10 min even though 0→9 exceeds nothing pairwise... the point:
      // chaining, not total span); minute 25 starts a second session.
      mem.addData(ev(1, "r1", 0), ev(2, "r1", 5), ev(3, "r1", 9),
        ev(4, "r1", 25), ev(5, "r2", 3))
      q.processAllAvailable()
      mem.addData(ev(6, "r9", 10000)) // push the watermark: close everything prior
      q.processAllAvailable()
      val rows = spark.table("sessout").collect()
        .filter(_.getString(0) != "r9")
        .map(r => (r.getString(0), r.getTimestamp(1).getTime / 60000L,
          r.getTimestamp(2).getTime / 60000L, r.getLong(3), r.getLong(4)))
        .toSet
      assert(rows == Set(
        ("r1", 0L, 19L, 3L, 3L), // start 0, end = last event (9) + gap (10)
        ("r1", 25L, 35L, 1L, 4L),
        ("r2", 3L, 13L, 1L, 5L)))
    } finally q.stop()
  }

  test("windowed change stats under watermark (event-time aggregation)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    val cfg = GenConfig(numEvents = 2000, numRepos = 10, pathsPerRepo = 4)
    mem.addData((0L until 2000L).map(i =>
      ChangeLogGen.eventAt(cfg, i)): _*)
    val stats = StreamOps.windowedChangeStats(
      CdcPipeline.envelopeDf(mem.toDS()), "1 minute", "30 seconds")
    val q = stats.writeStream.format("memory").queryName("winstats")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      mem.addData(ChangeLogGen.eventAt(cfg, 1999L)) // push watermark on
      q.processAllAvailable()
      val out = spark.table("winstats")
      assert(out.count() > 0)
      assert(out.select("op").distinct().count() >= 2)
      // window math: every row's window is 1 minute wide
      assert(out.filter(
        col("window_end").cast("long") - col("window_start").cast("long") =!= 60)
        .count() == 0)
    } finally q.stop()
  }

  test("running per-repo totals via mapGroupsWithState accumulate across triggers") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[ChangeEvent]
    val cfg = GenConfig(numEvents = 600, numRepos = 5, pathsPerRepo = 3)
    val totals = StreamOps.runningRepoTotals(mem.toDS())
    val q = totals.writeStream.format("memory").queryName("repototals")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData((0L until 300L).map(ChangeLogGen.eventAt(cfg, _)): _*)
      q.processAllAvailable()
      mem.addData((300L until 600L).map(ChangeLogGen.eventAt(cfg, _)): _*)
      q.processAllAvailable()
      // latest update per repo must sum to the full event count
      val latest = spark.table("repototals")
        .groupBy("repo").agg(max("total").as("total"))
      assert(latest.agg(sum("total")).head().getLong(0) == 600L)
    } finally q.stop()
  }

  test("catalog: namespaces, per-tenant tables, sanitized slugs") {
    val cat = new graft.lake.LakeCatalog(spark, tmpDir("warehouse"))
    assert(cat.namespaceName("Great-Org 42!") == "GreatOrg42")
    cat.createTable("Tenant-A", "code_files", CdcPipeline.baseTableSchema,
      ChangeEvent.keyCols, numBuckets = 4)
    cat.createTable("Tenant-B", "code_files", CdcPipeline.baseTableSchema,
      ChangeEvent.keyCols, numBuckets = 4)
    assert(cat.listNamespaces() == Seq("TenantA", "TenantB"))
    assert(cat.listTables("Tenant-A") == Seq("code_files"))
    import spark.implicits._
    val rows = Seq((1L, "I", "r", "p", "c", "scala", "v1"))
      .toDF("lsn", "op", "repo", "path", "commit", "lang", "content")
    cat.loadTable("Tenant-A", "code_files").merge(rows, 0)
    assert(cat.loadTable("Tenant-A", "code_files").currentState().count() == 1)
    assert(cat.loadTable("Tenant-B", "code_files").currentState().count() == 0) // isolation
    cat.dropTable("Tenant-B", "code_files")
    assert(!cat.tableExists("Tenant-B", "code_files"))
  }
}
