package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import Tables._

/** Approximate-nearest-neighbor / similarity search over the `embeddings`
  * table (vec_id, embedding: array<float>, label).
  *
  * Scale design: brute-force cosine is the exact reference (a broadcast of
  * the query vector over a single scan — fine for one query even at 100 TB,
  * since it's one pass); the LSH-bucketed variant is the path for
  * query-set × corpus joins, trading recall for a bucket-equijoin instead of
  * a cross join. Recall is measured in SimilaritySpec.
  */
object SimilarityOps {

  /** Codegen'd single-pass cosine (native Catalyst expression — the
    * aggregate/zip_with composition is interpreted CodegenFallback and was
    * the benchmark hot spot). Sequential index-order accumulation keeps
    * results bit-identical to the DuckDB oracle. */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorExprs.cosineSim(a, b)

  private def emb(c: Column): Column = c.cast("array<double>")

  /** q80's deterministic corpus/batch split — ONE definition feeding both
    * the Column filters and the generated oracle SQL, so the operator and
    * its oracle cannot drift apart. Declared before `all`: the oracle
    * strings are built eagerly at object init. */
  private val Q80SplitMod = 3
  private val Q80BatchResidue = 2
  private def isQ80Batch(id: Column): Column =
    id % Q80SplitMod === Q80BatchResidue

  val all: Seq[OpQuery] = Seq(

    // Brute-force cosine top-k for a fixed query vector (vec_id = 0),
    // deterministic rank tiebreak on vec_id. Oracle: DuckDB
    // list_cosine_similarity over DOUBLE[] casts.
    OpQuery("q22_ann_bruteforce_topk",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val q = e.filter(col("vec_id") === 0)
          .select(emb(col("embedding")).as("qv"))
        val scored = e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("sim", round(cosine(emb(col("embedding")), col("qv")), 6))
        // TakeOrderedAndProject over the scored scan — a global window here
        // would rank the whole corpus through one task
        rankedTopK(scored.select(col("vec_id"), col("label"), col("sim")),
          10, col("sim").desc, col("vec_id").asc)
      },
      Some("""SELECT vec_id, label, sim, rk FROM (
             |  SELECT e.vec_id, e.label,
             |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS sim,
             |    row_number() OVER (ORDER BY round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) DESC, e.vec_id ASC) AS rk
             |  FROM embeddings e,
             |       (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0) q
             |  WHERE e.vec_id <> 0)
             |WHERE rk <= 10""".stripMargin)),

    // Embedding-cosine near-dup pairs above a similarity floor (all-pairs
    // exact reference at test scale; LSH q30 is the scale path).
    OpQuery("q26_embedding_neardup_pairs",
      (s, d) => {
        val e = t(s, d, "embeddings").select(col("vec_id"), emb(col("embedding")).as("v"))
        assertReferenceScale(e, "q26_embedding_neardup_pairs (all-pairs exact)",
          "q30_embedding_neardup_lsh")
        // spread probe + broadcast build: the corpus is one small file = one
        // split, which would pin the all-pairs cosine verify to a single core
        val a = spread(e).select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        a.join(broadcast(b), col("id_a") < col("id_b"))
          .withColumn("sim", round(cosine(col("va"), col("vb")), 6))
          .filter(col("sim") >= 0.40)
          .select(col("id_a"), col("id_b"), col("sim"))
      },
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.40""".stripMargin)),

    // IVF-style ANN: assign every vector to its nearest of K coarse
    // centroids (one broadcastable pass), then answer top-k probing only the
    // nProbe closest centroid cells — the classic inverted-file trade
    // (scan fraction ≈ nProbe/K) vs q22's full scan. Centroids are a
    // deterministic evenly-strided corpus sample (k-means would refine them;
    // the cell/probe machinery is identical), which makes the whole pipeline
    // SQL-expressible → full DuckDB oracle. Recall + partitioning invariance
    // vs q22 in SimilaritySpec.
    OpQuery("q35_ann_ivf_topk",
      (s, d) => ivfTopK(t(s, d, "embeddings"), queryVecId = 0, k = 10,
        nCells = 16, nProbe = 4),
      Some("""WITH cents AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
             |         CAST(embedding AS DOUBLE[]) AS cv
             |  FROM embeddings
             |  WHERE vec_id % GREATEST(1, (SELECT count(*) FROM embeddings) // 16) = 0
             |  ORDER BY vec_id LIMIT 16),
             |assigned AS (
             |  SELECT vec_id, label, v, cell FROM (
             |    SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v, c.cell,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) DESC,
             |                 c.cell DESC) AS rn
             |    FROM embeddings e CROSS JOIN cents c)
             |  WHERE rn = 1),
             |qv AS (SELECT v AS q FROM assigned WHERE vec_id = 0),
             |probe AS (
             |  SELECT c.cell FROM cents c, qv
             |  ORDER BY list_cosine_similarity(qv.q, c.cv) DESC, c.cell ASC LIMIT 4),
             |scored AS (
             |  SELECT a.vec_id, a.label, round(list_cosine_similarity(a.v, qv.q), 6) AS sim
             |  FROM assigned a, qv
             |  WHERE a.cell IN (SELECT cell FROM probe) AND a.vec_id <> 0)
             |SELECT vec_id, label, sim, rk FROM (
             |  SELECT *, row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS rk FROM scored)
             |WHERE rk <= 10""".stripMargin)),

    // LSH-bucketed near-dup (scale path): L independent hash tables of
    // nPlanes sign bits each (OR-amplification: a pair is a candidate if it
    // collides in ANY table), cosine-verified within buckets only. Recall
    // per pair at angle θ: 1-(1-(1-θ/π)^nPlanes)^L.
    //
    // The projections are QUANTIZED sign-random-projection (floor(v·10^6)
    // integer components, ±1 Rademacher weights from the shared arithmetic
    // stream — see VectorExprs.SrpArith), whose bucket ids are plain
    // integer arithmetic a DuckDB oracle reproduces bit-identically; the
    // verify is the same round-6 cosine q26's oracle already proves
    // cross-engine. SimilaritySpec measures recall vs q26.
    OpQuery("q30_embedding_neardup_lsh",
      (s, d) => lshNearDup(t(s, d, "embeddings"), nPlanes = 6, tables = 8,
        dim = 64, floor = 0.40),
      Some(lshOracleSql(nPlanes = 6, tables = 8, dim = 64, floor = 0.40))),

    // Distributed Lloyd's k-means over the embedding corpus — the
    // clustering pass behind SemDeDup-style semantic dedup and topic
    // bucketing. Deterministic strided init (same device as q35's IVF
    // centroids), a FIXED iteration count, and round-to-6-decimals
    // stabilization of both distances and centroid means make the whole
    // computation engine-neutral → exact DuckDB oracle with the two update
    // iterations unrolled as CTEs. Scale shape: each iteration is one
    // corpus scan (k codegen'd L2 kernels per row, centroids are broadcast
    // literals) + one partial-agg'd (cluster, dim) mean — driver state is
    // k×d doubles, never rows. At 100 TB: k scales with the corpus
    // (SemDeDup uses ~50k clusters) and the final assignment is written as
    // an ingest-time partition column.
    OpQuery("q62_kmeans_clusters",
      (s, d) => {
        val a = kmeansAssign(t(s, d, "embeddings"), k = 8, iters = 2)
        val sizes = a.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"))
        a.select(col("vec_id"), col("label"), col("cluster_id"))
          .join(broadcast(sizes), Seq("cluster_id"))
          .select(col("vec_id"), col("label"), col("cluster_id"),
            col("cluster_size"))
      },
      Some(kmeansOracleCtes() + """
             |SELECT a.vec_id, a.label, a.cluster_id, s.cluster_size
             |FROM a3 a JOIN (SELECT cluster_id, count(*) AS cluster_size
             |                FROM a3 GROUP BY 1) s USING (cluster_id)""".stripMargin)),

    // SemDeDup-style semantic near-dup: verify cosine ONLY within each
    // k-means cluster. The within-cluster all-pairs is the scale trade —
    // quadratic work is bounded per cluster, and cluster count (not size)
    // grows with the corpus, so total verify cost stays ~n·(n/k) with k
    // chosen to cap cluster size. Recall loss (pairs straddling clusters)
    // is measured in SimilaritySpec vs the exact q26; precision is 1.0 by
    // construction (the verify is exact cosine).
    OpQuery("q63_semantic_dedup",
      (s, d) => {
        val a = kmeansAssign(t(s, d, "embeddings"), k = 8, iters = 2)
          .select(col("cluster_id"), col("vec_id"), col("v"))
        val l = a.select(col("cluster_id"), col("vec_id").as("id_a"),
          col("v").as("va"))
        val r = a.select(col("cluster_id"), col("vec_id").as("id_b"),
          col("v").as("vb"))
        l.join(r, Seq("cluster_id")).filter(col("id_a") < col("id_b"))
          .withColumn("sim", round(cosine(col("va"), col("vb")), 6))
          .filter(col("sim") >= 0.40)
          .select(col("id_a"), col("id_b"), col("cluster_id"), col("sim"))
      },
      Some(kmeansOracleCtes() + """
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster_id,
             |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
             |FROM a3 a JOIN a3 b
             |  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.40""".stripMargin)),

    // INCREMENTAL semantic dedup — q63's CDC-native form, extending the
    // incremental quartet (q40 minhash bands, q70 lines, q78 k-token
    // windows, q79 simhash chunks) to the embedding path: centroids are
    // fit on the STORED corpus once (the production cadence — periodic
    // refits, per-batch assignment only), the stored cluster index keeps
    // (cluster_id, vec_id, v), and a new batch is assigned to the fixed
    // centroids then cosine-verified only within its own clusters. Cost ∝
    // batch × avg cluster size. Cluster co-membership is symmetric, so
    // incremental ≡ the corpus-fit full recompute restricted to pairs
    // touching the batch (SimilaritySpec pins it) — which gives a full
    // DuckDB oracle: the k-means CTEs with the fit restricted to the
    // corpus (`ef`) while `a3` assigns everyone, then q63's verify with a
    // batch predicate.
    OpQuery("q80_semantic_dedup_incremental",
      (s, d) => {
        val all = t(s, d, "embeddings")
        val corpus = all.filter(!isQ80Batch(col("vec_id")))
        val batch = all.filter(isQ80Batch(col("vec_id")))
        val cents = kmeansFit(corpus, k = 8, iters = 2)
        val index = kmeansAssignTo(corpus, cents)
          .select(col("cluster_id"), col("vec_id"), col("v"))
        semanticDedupIncremental(batch, index, cents, floor = 0.40)
      },
      Some(kmeansOracleCtes(
        s"WHERE vec_id % $Q80SplitMod <> $Q80BatchResidue") + s"""
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster_id,
             |  round(list_cosine_similarity(a.v, b.v), 6) AS sim
             |FROM a3 a JOIN a3 b
             |  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.40
             |  AND (a.vec_id % $Q80SplitMod = $Q80BatchResidue
             |       OR b.vec_id % $Q80SplitMod = $Q80BatchResidue)""".stripMargin)))

  /** Generated DuckDB oracle for the QUANTIZED SRP LSH pipeline (q30):
    * f = floor(v·10^6) per dimension, each plane's sign bit a ±1-weighted
    * integer sum (weights inlined from `SrpArith.weight` — the same
    * constants the native kernel uses), bucket ids per table, candidate
    * equijoin on (table, bucket), round-6 cosine verify. */
  private def lshOracleSql(nPlanes: Int, tables: Int, dim: Int,
      floor: Double): String = {
    val bucketExprs = (0 until tables).map { tb =>
      (0 until nPlanes).map { p =>
        val plane = tb * nPlanes + p
        val terms = (1 to dim).map { d =>
          (if (graft.functions.SrpArith.weight(plane, d) > 0) " + " else " - ") +
            s"f[$d]"
        }.mkString
        s"(CASE WHEN (0$terms) >= 0 THEN ${1L << p} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }
    s"""WITH q AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * ${graft.functions.SrpArith.Quant}) AS BIGINT)) AS f
       |  FROM embeddings),
       |bk AS (
       |  SELECT vec_id,
       |    unnest([${bucketExprs.mkString(", ")}]) AS bucket,
       |    unnest(generate_series(1, $tables)) AS tb
       |  FROM q),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bk a JOIN bk b ON a.tb = b.tb AND a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id),
       |vr AS (
       |  SELECT c.id_a, c.id_b,
       |    round(list_cosine_similarity(x.v, y.v), 6) AS sim
       |  FROM cand c
       |  JOIN q x ON c.id_a = x.vec_id
       |  JOIN q y ON c.id_b = y.vec_id)
       |SELECT id_a, id_b, sim FROM vr WHERE sim >= $floor""".stripMargin
  }

  /** The k-means pipeline as DuckDB CTEs (shared by q62/q63/q80): strided
    * init `c0`, two unrolled assign→update iterations (`a1`/`c1`,
    * `a2`/`c2`), final assignment `a3`. Mirrors `kmeansAssign(k = 8,
    * iters = 2)` decision for decision — argmin by lexicographic (rounded
    * distance, cell), per-dimension means rounded to 6 decimals, empty
    * cluster keeps its previous centroid. `fitWhere` restricts the FIT
    * (init + both update iterations, CTE `ef`) to a subset while `a3`
    * still assigns every vector — the incremental q80 fits on the stored
    * corpus only, exactly like `kmeansFit(corpus) + kmeansAssignTo`. */
  private def kmeansOracleCtes(fitWhere: String = ""): String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
             |           FROM embeddings),
             |ef AS (SELECT * FROM e $fitWhere),
             |c0 AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v
             |  FROM (SELECT * FROM ef
             |        WHERE vec_id % GREATEST(1, (SELECT count(*) FROM ef) // 8) = 0
             |        ORDER BY vec_id LIMIT 8)),
             |a1 AS (
             |  SELECT e.vec_id, CAST(min([round(list_distance(e.v, c.v), 6),
             |    CAST(c.cell AS DOUBLE)])[2] AS BIGINT) AS cell
             |  FROM ef e, c0 c GROUP BY e.vec_id),
             |c1 AS (
             |  SELECT p.cell, coalesce(u.v, p.v) AS v
             |  FROM c0 p LEFT JOIN (
             |    SELECT cell, list(m ORDER BY i) AS v FROM (
             |      SELECT a.cell AS cell, t.i AS i, round(avg(e.v[t.i]), 6) AS m
             |      FROM a1 a JOIN ef e USING (vec_id), range(1, 65) t(i)
             |      GROUP BY a.cell, t.i)
             |    GROUP BY cell) u ON p.cell = u.cell),
             |a2 AS (
             |  SELECT e.vec_id, CAST(min([round(list_distance(e.v, c.v), 6),
             |    CAST(c.cell AS DOUBLE)])[2] AS BIGINT) AS cell
             |  FROM ef e, c1 c GROUP BY e.vec_id),
             |c2 AS (
             |  SELECT p.cell, coalesce(u.v, p.v) AS v
             |  FROM c1 p LEFT JOIN (
             |    SELECT cell, list(m ORDER BY i) AS v FROM (
             |      SELECT a.cell AS cell, t.i AS i, round(avg(e.v[t.i]), 6) AS m
             |      FROM a2 a JOIN ef e USING (vec_id), range(1, 65) t(i)
             |      GROUP BY a.cell, t.i)
             |    GROUP BY cell) u ON p.cell = u.cell),
             |a3 AS (
             |  SELECT e.vec_id, e.label, e.v,
             |    CAST(min([round(list_distance(e.v, c.v), 6),
             |      CAST(c.cell AS DOUBLE)])[2] AS BIGINT) AS cluster_id
             |  FROM e, c2 c GROUP BY e.vec_id, e.label, e.v)""".stripMargin

  /** Lloyd's k-means, Spark-first: centroids live on the driver as k×d
    * doubles (aggregate-result-sized — the corpus never does), every
    * assignment pass is one scan with k codegen'd L2 kernels against
    * broadcast centroid literals, every update is one partial-aggregated
    * (cluster, dim) mean. Determinism: strided init in vec_id order,
    * distances and means rounded to 6 decimals (absorbs float accumulation
    * order across engines and partitionings), argmin tiebreak on cell id,
    * empty clusters keep their previous centroid. Returns the input with a
    * `cluster_id` column (plus the cast `v` used for the assignment). */
  def kmeansAssign(embeddings: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansAssignTo(embeddings, kmeansFit(embeddings, k, iters))

  /** The Lloyd's FIT alone: returns the k×d centroid table (driver state,
    * aggregate-result-sized). Split out of [[kmeansAssign]] so the
    * incremental form (q80) can fit on the stored corpus once and assign
    * new batches against FIXED centroids — the production cadence, where
    * refits are periodic and per-batch work is assignment only. */
  def kmeansFit(embeddings: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    // count + strided init read the UNSPREAD source: both are k-row-or-
    // count-sized actions that don't need the repartition the assignment
    // scans want, and skipping it saves two shuffles per fit (r6)
    val base = embeddings.select(col("vec_id"), emb(col("embedding")).as("v"))
    val n = base.count()
    val stride = math.max(1L, n / k)
    var centroids: Seq[(Int, Seq[Double])] =
      base.filter(pmod(col("vec_id"), lit(stride)) === 0)
        .orderBy(col("vec_id")).limit(k)
        .select(col("v")).collect().toSeq
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0)) }
    require(centroids.nonEmpty, "no centroids sampled")
    val dim = centroids.head._2.length
    // no spread: the assignment kernel is LINEAR (k codegen'd L2 kernels
    // per row) and any at-scale parquet input splits by byte range — the
    // repartition only ever fired on tiny single-file reference corpora,
    // where it cost an exchange per fit action for microseconds of kernel
    // work (r6). spread stays on the QUADRATIC kernels (all-pairs verify).
    val e = base
    (1 to iters).foreach { _ =>
      // per-dimension means as ONE d-column aggregate over the assignment
      // scan — the previous posexplode form materialized n×d rows and
      // hash-aggregated them on (cluster, dim), ~5.7 task-seconds per
      // iteration at bench scale vs ~0.1 for the direct form (guide §2.3:
      // aggregate before you shuffle — here the explode itself goes away).
      // Same doubles summed in the same partition order, then the same
      // round-6, so the rounded means are unchanged.
      val aggs = (0 until dim).map(i => round(avg(col("v")(i)), 6).as(s"m$i"))
      val updated = withCluster(e, centroids)
        .groupBy(col("cluster_id"))
        .agg(aggs.head, aggs.tail: _*)
        .collect() // k rows × d cols — driver state, not data
        .map(r => r.getLong(0).toInt -> (1 to dim).map(r.getDouble).toSeq)
        .toMap
      centroids = centroids.map { case (id, old) =>
        (id, updated.getOrElse(id, old)) // empty cluster keeps its centroid
      }
    }
    centroids
  }

  /** Assignment against fixed centroids: one scan, k codegen'd L2 kernels
    * vs broadcast centroid literals. */
  def kmeansAssignTo(embeddings: DataFrame,
      centroids: Seq[(Int, Seq[Double])]): DataFrame =
    // no spread — same reasoning as the fit scan (linear kernel); the
    // downstream consumers (cluster self-joins) draw their parallelism
    // from their own exchanges, not this scan's split count
    withCluster(embeddings
      .select(col("vec_id"), col("label"), emb(col("embedding")).as("v")),
      centroids)

  // argmin via array_min over (dist, cell) structs — linear expression
  // size, lexicographic tiebreak identical to the oracle's list-min
  private def withCluster(e: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val cellOf = array_min(array(cents.map { case (id, cv) =>
      struct(
        round(graft.functions.VectorExprs.l2Distance(col("v"),
          typedlit(cv)), 6).as("d"),
        lit(id.toLong).as("c"))
    }: _*)).getField("c")
    e.withColumn("cluster_id", cellOf)
  }

  /** q63's CDC-native form: the stored index is (cluster_id, vec_id, v)
    * under corpus-fit centroids; a new batch is assigned to those FIXED
    * centroids and cosine-verified only against members of its own
    * clusters (plus batch×batch pairs in the same cluster). Cost ∝
    * batch × avg cluster size — no corpus refit, no corpus×corpus join.
    * At 100 TB the index is stored partitioned by cluster_id, so the
    * cluster equijoin is exchange-free on the corpus side; the vectors
    * ride the index because the verify needs them (unlike simhash, where
    * the fingerprint alone verifies). */
  def semanticDedupIncremental(batch: DataFrame, index: DataFrame,
      centroids: Seq[(Int, Seq[Double])], floor: Double): DataFrame = {
    val b = kmeansAssignTo(batch, centroids)
      .select(col("cluster_id"), col("vec_id"), col("v"))
    val l = b.select(col("cluster_id"), col("vec_id").as("id_l"),
      col("v").as("vl"))
    def rSide(df: DataFrame): DataFrame =
      df.select(col("cluster_id"), col("vec_id").as("id_r"),
        col("v").as("vr"))
    // each pair joins exactly once: batch×stored ids are disjoint, and the
    // batch self-join takes one orientation (q63's shape) — so no distinct
    // pass and no double cosine verify. The cosine kernel's index-order
    // accumulation is commutative bit-for-bit, so verifying batch×stored
    // as (batch, stored) matches the oracle's (min id, max id) orientation.
    val cand = l.join(rSide(index), Seq("cluster_id"))
      .unionByName(l.join(rSide(b), Seq("cluster_id"))
        .filter(col("id_l") < col("id_r")))
    cand.withColumn("sim", round(cosine(col("vl"), col("vr")), 6))
      .filter(col("sim") >= floor)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        col("cluster_id"), col("sim"))
  }

  /** IVF top-k: centroid cells from a deterministic corpus sample, probe the
    * `nProbe` cells nearest the query. At 100 TB the assignment pass runs
    * once at ingest (cell id stored as a partition column → probing = true
    * partition pruning); here it's computed inline. */
  def ivfTopK(embeddings: DataFrame, queryVecId: Long, k: Int, nCells: Int,
      nProbe: Int): DataFrame = {
    // spread: cell assignment evaluates nCells cosines per vector — don't
    // let a single-split source pin that scan to one core
    val e = Tables.spread(embeddings)
      .select(col("vec_id"), col("label"), emb(col("embedding")).as("v"))
    // Deterministic coarse centroids: an evenly-strided corpus sample in
    // vec_id order. Unique cell ids (0..nCells-1 by sample position), stable
    // across runs and partitioning-invariant — `limit` without an order, or
    // residue-class ids, would be neither (round-1 defect). Count + sample
    // read the UNSPREAD source: tiny actions, no need to pay the
    // repartition shuffle twice (r6).
    val base = embeddings.select(col("vec_id"), emb(col("embedding")).as("v"))
    val n = base.count()
    val stride = math.max(1L, n / nCells)
    val cells = base.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy(col("vec_id")).limit(nCells)
      .select(col("v")).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0).toArray) }
    require(cells.nonEmpty, "no centroids sampled")
    // argmax via array_max over (sim, cell) structs — linear expression
    // size (a when-chain reduce would duplicate subtrees exponentially)
    def cellOf(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_max(array(cells.map { case (id, cv) =>
        struct(cosine(v, typedlit(cv.toSeq)).as("s"), lit(id).as("c"))
      }: _*)).getField("c")
    val assigned = e.withColumn("cell", cellOf(col("v")))
    // the query vector needs no cell assignment and no spread — one-row fetch
    val q = base.filter(col("vec_id") === queryVecId)
      .select(col("v").as("qv")).head()
    val qv = q.getSeq[Double](0).toArray.toSeq
    val probeCells = cells.map { case (id, cv) =>
      val dot = cv.zip(qv).map { case (a, b) => a * b }.sum
      val n = math.sqrt(cv.map(x => x * x).sum) * math.sqrt(qv.map(x => x * x).sum)
      (id, dot / n)
    }.sortBy(-_._2).take(nProbe).map(_._1).toSeq
    val probed = assigned
      .filter(col("cell").isin(probeCells: _*) && col("vec_id") =!= queryVecId)
      .withColumn("sim", round(cosine(col("v"), typedlit(qv)), 6))
    Tables.rankedTopK(probed.select(col("vec_id"), col("label"), col("sim")),
      k, col("sim").desc, col("vec_id").asc)
  }

  def lshNearDup(embeddings: DataFrame, nPlanes: Int, tables: Int, dim: Int,
      floor: Double): DataFrame = {
    // all T bucket ids of a row in ONE native pass (quantized Rademacher
    // SRP — see VectorExprs.QuantLshBuckets), then posexplode into
    // (table, bucket)
    val bucketsPerTable =
      graft.functions.VectorExprs.quantLshBuckets(col("v"), tables, nPlanes, dim)
    val e = Tables.spread(embeddings)
      .select(col("vec_id"), emb(col("embedding")).as("v"))
    // candidates are ID PAIRS only: the bucket join and the cross-table
    // dedup shuffle 16 bytes/pair instead of two dim-sized vectors; the
    // vectors re-join by id for the verify (candidate set ≪ corpus × T)
    val banded = e.select(col("vec_id"),
      posexplode(bucketsPerTable).as(Seq("tb", "bucket")))
    val a = banded.select(col("tb"), col("bucket"), col("vec_id").as("id_a"))
    val b = banded.select(col("tb"), col("bucket"), col("vec_id").as("id_b"))
    val cand = a.join(b, Seq("tb", "bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // same pair may collide in several tables
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("sim", round(cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= floor)
      .select(col("id_a"), col("id_b"), col("sim"))
  }
}
