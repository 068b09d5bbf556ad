package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"
  private def emb = Tables.t(spark, dir, "embeddings")

  test("LSH near-dup: perfect precision and bounded recall loss vs brute force") {
    val exact = SparkEntry_q("q26_embedding_neardup_pairs")(spark, dir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.lshNearDup(emb, nPlanes = 6, tables = 8, dim = 64, floor = 0.40)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH emitted non-near-dup pairs: ${lsh -- exact}")
    assert(exact.nonEmpty, "no exact near-dup pairs at floor 0.40 — recalibrate")
    // 8 tables × 6 Rademacher hyperplanes at cosine≈0.4 (θ≈66°): per-pair
    // candidate probability ≈ 1-(1-(1-θ/π)^6)^8 ≈ 0.40 — assert a safe
    // floor under it
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall over ${exact.size} pairs")
  }

  test("arith (quantized SRP) LSH: precision, recall, determinism — q30's registered mode") {
    // the registered q30 query: its pairs carry q26's exact similarity,
    // it keeps the recall floor above, and the library call over a
    // repartitioned corpus returns the same rows
    val exact = SparkEntry_q("q26_embedding_neardup_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val q30 = SparkEntry_q("q30_embedding_neardup_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(q30.forall { case (p, sim) => exact.get(p).contains(sim) },
      s"q30 emitted pairs not in q26 with the same sim: ${q30.filterNot(p => exact.get(p._1).contains(p._2))}")
    val recall = exact.keySet.count(q30.contains).toDouble / exact.size
    assert(recall >= 0.2, s"q30 recall $recall over ${exact.size} pairs")
    val again = SimilarityOps.lshNearDup(emb.repartition(5), nPlanes = 6,
      tables = 8, dim = 64, floor = 0.40)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(again == q30, "quantized SRP LSH not partitioning-invariant")
  }

  test("brute-force top-k is deterministic under repartitioning") {
    val a = SparkEntry_q("q22_ann_bruteforce_topk")(spark, dir).collect().map(_.toSeq)
    val b = SparkEntry_q("q22_ann_bruteforce_topk")(spark, dir).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("IVF top-k: subset of corpus, deterministic, decent recall vs brute force") {
    val exact = SparkEntry_q("q22_ann_bruteforce_topk")(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf1 = SimilarityOps.ivfTopK(emb, queryVecId = 0, k = 10, nCells = 16, nProbe = 4)
      .collect()
    val ivf2 = SimilarityOps.ivfTopK(emb, queryVecId = 0, k = 10, nCells = 16, nProbe = 4)
      .collect()
    assert(ivf1.map(_.toSeq).toSeq == ivf2.map(_.toSeq).toSeq) // deterministic
    val got = ivf1.map(_.getLong(0)).toSet
    assert(!got.contains(0L))
    val recall = exact.count(got.contains).toDouble / exact.size
    // probing 4/16 cells scans ~25% of the corpus; near-top neighbors
    // concentrate in the query's own cells, so recall far exceeds 25%
    assert(recall >= 0.3, s"IVF recall $recall (got ${got.toSeq.sorted})")
    // probing ALL cells must reproduce brute force exactly
    val full = SimilarityOps.ivfTopK(emb, 0, 10, 16, 16)
      .collect().map(_.getLong(0)).toSet
    assert(full == exact)
  }

  test("IVF centroids are partitioning-invariant (same result under repartition)") {
    val base = SimilarityOps.ivfTopK(emb, queryVecId = 0, k = 10, nCells = 16, nProbe = 4)
      .collect().map(_.toSeq).toSeq
    val reparted = SimilarityOps.ivfTopK(emb.repartition(7), queryVecId = 0,
      k = 10, nCells = 16, nProbe = 4).collect().map(_.toSeq).toSeq
    assert(base == reparted, "centroid selection depends on physical partitioning")
  }

  test("rankedTopK ≡ global-window rank formulation (the spec it replaced)") {
    import org.apache.spark.sql.expressions.Window
    val orders = Tables.t(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(Tables.dsum(col("o_totalprice")).as("ts"))
    val w = Window.orderBy(col("ts").desc, col("o_custkey").asc)
    val windowed = orders.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 25).collect().map(_.toSeq).toSeq
    val takeOrdered = Tables.rankedTopK(orders, 25, col("ts").desc, col("o_custkey").asc)
      .collect().map(_.toSeq).toSeq
    assert(takeOrdered == windowed)
  }

  test("q62 k-means ≡ a plain-Scala Lloyd's reference (same init/round/tiebreak rules)") {
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq
    val k = 8; val iters = 2
    val stride = math.max(1L, vecs.size.toLong / k)
    var cents: Seq[(Int, Array[Double])] =
      vecs.filter(_._1 % stride == 0).take(k)
        .zipWithIndex.map { case ((_, v), i) => (i, v) }
    def dist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    }
    def assign(cs: Seq[(Int, Array[Double])]): Map[Long, Int] =
      vecs.map { case (id, v) =>
        id -> cs.map { case (c, cv) => (r6(dist(v, cv)), c) }.min._2
      }.toMap
    (1 to iters).foreach { _ =>
      val a = assign(cents)
      val byC = vecs.groupBy { case (id, _) => a(id) }
      cents = cents.map { case (c, old) =>
        byC.get(c).map { members =>
          c -> Array.tabulate(old.length)(j =>
            r6(members.map(_._2(j)).sum / members.size))
        }.getOrElse(c -> old)
      }
    }
    val expected = assign(cents)
    val got = SparkEntry_q("q62_kmeans_clusters")(spark, dir)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got.size == vecs.size, "every vector must be assigned")
    assert(got == expected, {
      val diff = got.collect { case (id, c) if expected(id) != c => (id, c, expected(id)) }
      s"assignments diverge from the Lloyd's reference: $diff"
    })
  }

  test("q62 assignment is partitioning-invariant") {
    val base = SimilarityOps.kmeansAssign(emb, k = 8, iters = 2)
      .select("vec_id", "cluster_id").collect().map(_.toSeq).toSet
    val reparted = SimilarityOps.kmeansAssign(emb.repartition(7), k = 8, iters = 2)
      .select("vec_id", "cluster_id").collect().map(_.toSeq).toSet
    assert(base == reparted, "k-means result depends on physical partitioning")
  }

  test("q63 semantic dedup: perfect precision, bounded recall loss vs exact q26") {
    val exact = SparkEntry_q("q26_embedding_neardup_pairs")(spark, dir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = SparkEntry_q("q63_semantic_dedup")(spark, dir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.nonEmpty, "no within-cluster pairs at floor 0.40 — recalibrate")
    // precision 1.0 by construction: the within-cluster verify is exact cosine
    assert(sem.subsetOf(exact), s"semantic dedup emitted non-near-dup pairs: ${sem -- exact}")
    // recall = the SemDeDup trade (pairs straddling cluster boundaries are
    // missed); measured 0.379 at this corpus/k — assert a safe floor
    val recall = exact.count(sem.contains).toDouble / exact.size
    assert(recall >= 0.2, s"recall $recall over ${exact.size} exact pairs")
  }

  test("q80 incremental semantic dedup ≡ corpus-fit full recompute restricted to batch pairs") {
    val all = emb
    val corpus = all.filter(col("vec_id") % 3 =!= 2)
    val batch = all.filter(col("vec_id") % 3 === 2)
    val cents = SimilarityOps.kmeansFit(corpus, k = 8, iters = 2)
    val index = SimilarityOps.kmeansAssignTo(corpus, cents)
      .select(col("cluster_id"), col("vec_id"), col("v"))
    val inc = SimilarityOps.semanticDedupIncremental(batch, index, cents,
      floor = 0.40).collect().map(_.toSeq).toSet
    // the contract: full recompute under the SAME corpus-fit centroids,
    // restricted to pairs touching the batch — including bit-identical sims
    // (the incremental verify may compute cosine(batch, stored) in either
    // orientation; index-order accumulation makes that symmetric)
    val a = SimilarityOps.kmeansAssignTo(all, cents)
      .select(col("cluster_id"), col("vec_id"), col("v"))
    val l = a.select(col("cluster_id"), col("vec_id").as("id_a"), col("v").as("va"))
    val r = a.select(col("cluster_id"), col("vec_id").as("id_b"), col("v").as("vb"))
    val full = l.join(r, Seq("cluster_id")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(SimilarityOps.cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= 0.40)
      .filter(col("id_a") % 3 === 2 || col("id_b") % 3 === 2)
      .select(col("id_a"), col("id_b"), col("cluster_id"), col("sim"))
      .collect().map(_.toSeq).toSet
    assert(inc == full,
      s"incremental≠full: only-inc=${inc -- full} only-full=${full -- inc}")
    assert(inc.nonEmpty, "no batch-touching semantic pairs — recalibrate")
    // partitioning invariance: same centroids, repartitioned batch + index
    val incRepart = SimilarityOps.semanticDedupIncremental(
      batch.repartition(7), index.repartition(5), cents, floor = 0.40)
      .collect().map(_.toSeq).toSet
    assert(incRepart == inc, "incremental semantic dedup not partitioning-invariant")
    // and the registered q80 reproduces the same contract end-to-end
    val registered = SparkEntry_q("q80_semantic_dedup_incremental")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(registered == full)
  }

  test("cosine of a vector with itself is 1") {
    val e = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bad = e.withColumn("c", SimilarityOps.cosine(col("v"), col("v")))
      .filter(abs(col("c") - 1.0) > 1e-9).count()
    assert(bad == 0)
  }

  private def SparkEntry_q(name: String) = graft.SparkEntry.queries(name)

  test("vector kernels: length mismatch is NULL (never a truncated similarity); type misuse fails analysis") {
    import spark.implicits._
    import graft.functions.VectorExprs._
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0), Seq(1.0, 0.0, 0.0)), // match
      (2L, Seq(1.0, 0.0, 0.0), Seq(1.0, 0.0))       // mixed embedding dims
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), cosineSim(col("a"), col("b")).as("cos"),
      dotProduct(col("a"), col("b")).as("dot"), l2Distance(col("a"), col("b")).as("l2"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2), r.isNullAt(3))).toMap
    assert(got(1L) == ((false, false, false)))
    assert(got(2L) == ((true, true, true)),
      "a 768-dim vs 1536-dim pair must be NULL, not a prefix similarity")
    // interpreted path agrees with codegen (eval via filter on a literal expr)
    val ex = intercept[Exception] {
      Seq((1, 2)).toDF("x", "y").select(cosineSim(col("x"), col("y"))).collect()
    }
    assert(ex.getMessage.contains("ARRAY<DOUBLE>"), ex.getMessage)
  }

  test("text-sim kernels: null tokens are skipped, not NPEs; type misuse fails analysis") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[String]("a", "b", "c")),
      (2L, Seq[String]("a", null, "b", "c"))).toDF("id", "toks")
    val hashes = df.select(col("id"),
      graft.functions.TextSimExprs.simhash64(col("toks")).as("sh"),
      graft.functions.TextSimExprs.minhashSig(col("toks"), 8).as("sig"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(hashes(1L) == hashes(2L), "null elements must hash as absent")
    val ex = intercept[Exception] {
      Seq((1, 2)).toDF("x", "y")
        .select(graft.functions.TextSimExprs.jaccardSim(col("x"), col("y"))).collect()
    }
    assert(ex.getMessage.contains("ARRAY<STRING>"), ex.getMessage)
    // theta scalar on a non-sketch column: analysis error, not a mid-stage CCE
    val ex2 = intercept[Exception] {
      Seq("not a sketch").toDF("s")
        .select(graft.functions.ThetaSketch.thetaEstimate(col("s"))).collect()
    }
    assert(ex2.getMessage.contains("BINARY"), ex2.getMessage)
  }
}
