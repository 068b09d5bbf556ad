package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables.t(spark, dir, "documents")

  /** Exact all-pairs shingle-Jaccard within lang — the recall reference. */
  private def exactPairs(w: Int, threshold: Double) = {
    val base = docs.select(col("doc_id"), col("lang"),
      array_distinct(DedupOps.shingles(col("text"), w)).as("sh"))
    val a = base.select(col("lang"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = base.select(col("lang"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("lang")).filter(col("id_a") < col("id_b"))
      .withColumn("jac", DedupOps.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select(col("id_a"), col("id_b"), col("jac"))
  }

  /** Three documents with NULL text (ids ≡ 1, 2, 0 mod 3, so they land in
    * both the corpus and the batch of a mod-3 split), appended to `base`. */
  private val nullTextIds = Set(880000L, 880001L, 880002L)
  private def withNullTexts(base: org.apache.spark.sql.DataFrame) =
    base.unionByName(base.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + 880000L)
      .withColumn("text", lit(null).cast("string")))
  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
  private def ids(df: org.apache.spark.sql.DataFrame, cols: String*) =
    df.select(cols.map(col): _*).collect().flatMap(_.toSeq.map(_.asInstanceOf[Long])).toSet

  test("minhash LSH: perfect precision (exact verify) and high recall vs all-pairs") {
    val lsh = DedupOps.minhashLshPairs(docs, w = 3, b = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactPairs(3, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // precision: every LSH pair passed the exact-jaccard verify filter
    assert(lsh.subsetOf(exact.keySet),
      s"LSH emitted pairs below threshold: ${lsh -- exact.keySet}")
    // recall on confidently-similar pairs (s-curve: ~99% per pair at j>=0.5)
    val high = exact.filter(_._2 >= 0.6).keySet
    if (high.nonEmpty) {
      val recall = high.count(lsh.contains).toDouble / high.size
      assert(recall >= 0.9, s"recall $recall over ${high.size} pairs with j>=0.6")
    }
    assert(exact.nonEmpty, "test data produced no exact near-dup pairs — recalibrate w/threshold")
  }

  test("arith-mode minhash LSH: precision, recall, and the q40 oracle identity") {
    // q40's registered form: the pairs one batch (doc_id ≡ 2 mod 3) adds
    // against a band index of the rest must be exact-verified, recall the
    // confidently-similar pairs touching the batch, and equal the full
    // recompute restricted to the batch
    val exact = exactPairs(3, 0.5)
      .filter(col("id_a") % 3 === 2 || col("id_b") % 3 === 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty, "no exact near-dup pair touches the batch — recalibrate")
    // the q40 oracle identity: incremental(batch vs index) ∪ within-batch
    // ≡ full recompute restricted to pairs touching the batch — this is
    // exactly what lets q40's generated SQL reuse q27's pipeline with a
    // final batch predicate
    val corpus = docs.filter(col("doc_id") % 3 =!= 2)
    val batch = docs.filter(col("doc_id") % 3 === 2)
    val inc = rows(DedupOps.minhashLshIncremental(batch, corpus,
      DedupOps.bandIndex(corpus, 3, 16), 3, 16, 0.5))
    // rows are (lang, id_a, id_b, jac)
    val incPairs = inc.map(r => (r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    assert(incPairs.subsetOf(exact.keySet),
      s"incremental LSH emitted pairs below threshold: ${incPairs -- exact.keySet}")
    val high = exact.filter(_._2 >= 0.6).keySet
    if (high.nonEmpty) {
      val recall = high.count(incPairs.contains).toDouble / high.size
      assert(recall >= 0.9, s"incremental recall $recall over ${high.size} pairs with j>=0.6")
    }
    val full = DedupOps.minhashLshPairs(docs, 3, 16, 0.5)
    val fullRestricted = rows(full.filter(col("id_a") % 3 === 2 || col("id_b") % 3 === 2))
    assert(inc == fullRestricted,
      s"incremental != full-restricted: missing ${(fullRestricted -- inc).size}, " +
        s"extra ${(inc -- fullRestricted).size}")
    // null text → no pairs and no band rows; every other doc's result is
    // unchanged by the null-text docs' presence
    val nDocs = withNullTexts(docs)
    val nCorpus = nDocs.filter(col("doc_id") % 3 =!= 2)
    val nBatch = nDocs.filter(col("doc_id") % 3 === 2)
    val nFull = DedupOps.minhashLshPairs(nDocs, 3, 16, 0.5)
    val nIndex = DedupOps.bandIndex(nDocs, 3, 16)
    val nInc = DedupOps.minhashLshIncremental(nBatch, nCorpus,
      DedupOps.bandIndex(nCorpus, 3, 16), 3, 16, 0.5)
    assert((ids(nFull, "id_a", "id_b") ++ ids(nIndex, "doc_id") ++
      ids(nInc, "id_a", "id_b")).intersect(nullTextIds).isEmpty,
      "a null-text doc reached the minhash output")
    assert(rows(nFull) == rows(full))
    assert(rows(nIndex) == rows(DedupOps.bandIndex(docs, 3, 16)))
    assert(rows(nInc) == inc)
  }

  test("incremental LSH against a maintained band index ≡ full recompute") {
    import org.apache.spark.sql.functions.col
    // the production shape: corpus already indexed, batches arrive and are
    // deduped against the index at cost ∝ batch, then their bands append
    val corpus0 = docs.filter(col("doc_id") % 3 === 0)
    val batch1 = docs.filter(col("doc_id") % 3 === 1)
    val batch2 = docs.filter(col("doc_id") % 3 === 2)
    val (w, b, th) = (3, 16, 0.5)

    var index = DedupOps.bandIndex(corpus0, w, b)
    var corpus = corpus0
    var pairs = DedupOps.minhashLshPairs(corpus0, w, b, th)
      .collect().map(_.toSeq).toSet
    for (batch <- Seq(batch1, batch2)) {
      pairs ++= DedupOps.minhashLshIncremental(batch, corpus, index, w, b, th)
        .collect().map(_.toSeq).toSet
      index = index.unionByName(DedupOps.bandIndex(batch, w, b))
      corpus = corpus.unionByName(batch)
    }
    val full = DedupOps.minhashLshPairs(docs, w, b, th)
      .collect().map(_.toSeq).toSet
    assert(pairs == full,
      s"incremental != full: missing ${(full -- pairs).size}, extra ${(pairs -- full).size}")
    assert(full.nonEmpty)
  }

  test("arith hash constants are pinned (cross-engine contract)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.TextSimHelpers
    // H("ab") = ((7*31 + 'a')*31 + 'b') mod P — the exact fold the DuckDB
    // oracle runs via list_reduce(list_prepend(7, codepoints), ...). A
    // change to seed/multiplier/P breaks every q27/q40 oracle silently, so
    // the constants are pinned here by value.
    assert(TextSimHelpers.arithHash(UTF8String.fromString("ab")) == 9832L)
    assert(TextSimHelpers.arithHash(UTF8String.fromString("")) == 7L)
    assert(TextSimHelpers.ArithP == 2147483647L)
    assert(TextSimHelpers.arithA(0) == 1L + 12345L % 2147483646L)
    assert(TextSimHelpers.arithB(0) == 42L)
    // band keys are the exact positional encoding, collision-free below P
    val sig = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(3L, 5L, 7L, 11L))
    val keys = TextSimHelpers.bandKeys(sig, 2)
    assert(keys.getLong(0) == 3L * 2147483647L + 5L)
    assert(keys.getLong(1) == 7L * 2147483647L + 11L)
  }

  test("byte-walk arith hash ≡ String-roundtrip fold on valid AND malformed UTF-8") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.TextSimHelpers
    // valid inputs across all UTF-8 widths (incl. a supplementary pair)
    val valid = Seq("", "a", "hello world", "Ärger ÜBER GRÖSSE",
      "ΣΊΣΥΦΟΣ καί", "日本語のテキスト", "emoji 😀 pair 🎉",
      "mixed Ω ascii ø 中 𐀀 end", "߿ࠀ￿")
    valid.foreach { s =>
      val u = UTF8String.fromString(s)
      assert(TextSimHelpers.arithHash(u) == TextSimHelpers.arithHashViaString(u),
        s"valid-input hash drift for '$s'")
    }
    // random strings (deterministic seed), any BMP chars the generator emits
    val rnd = new scala.util.Random(42)
    (1 to 2000).foreach { _ =>
      val s = rnd.nextString(rnd.nextInt(40))
      val u = UTF8String.fromString(s)
      assert(TextSimHelpers.arithHash(u) == TextSimHelpers.arithHashViaString(u),
        s"random-input hash drift for ${s.map(_.toInt).mkString(",")}")
    }
    // malformed byte sequences must take the EXACT legacy path: bare
    // continuation, truncated 2/3/4-byte heads, overlong, surrogate range,
    // beyond U+10FFFF
    val malformed = Seq(
      Array(0x80), Array(0xC2), Array(0xE0, 0xA0), Array(0xF0, 0x90, 0x80),
      Array(0xC0, 0x80), Array(0xE0, 0x80, 0x80), Array(0xED, 0xA0, 0x80),
      Array(0xF4, 0x90, 0x80, 0x80), Array('a'.toInt, 0xFF, 'b'.toInt),
      Array('x'.toInt, 0xC2, 'y'.toInt))
    malformed.foreach { bytes =>
      val u = UTF8String.fromBytes(bytes.map(_.toByte))
      assert(TextSimHelpers.arithHash(u) == TextSimHelpers.arithHashViaString(u),
        s"malformed-input hash drift for ${bytes.map(b => f"$b%02x").mkString(" ")}")
    }
  }

  test("incremental simhash against a stored chunk index ≡ full recompute") {
    import org.apache.spark.sql.functions.col
    val corpus = docs.filter(col("doc_id") % 3 =!= 2)
    val batch = docs.filter(col("doc_id") % 3 === 2)
    val inc = DedupOps.simhashPairs(corpus, maxHamming = 3)
      .collect().map(_.toSeq).toSet ++
      DedupOps.simhashIncremental(batch,
        DedupOps.simhashChunkIndex(corpus), maxHamming = 3)
        .collect().map(_.toSeq).toSet
    val full = DedupOps.simhashPairs(docs, maxHamming = 3)
      .collect().map(_.toSeq).toSet
    assert(inc == full,
      s"incremental != full: missing ${(full -- inc).size}, extra ${(inc -- full).size}")
    assert(full.nonEmpty)
  }

  test("minhash LSH is deterministic across runs and partitionings") {
    val p1 = DedupOps.minhashLshPairs(docs, 3, 16, 0.5)
      .collect().map(_.toSeq).toSet
    val p2 = DedupOps.minhashLshPairs(docs.repartition(7), 3, 16, 0.5)
      .collect().map(_.toSeq).toSet
    assert(p1 == p2)
  }

  test("simhash: reorder/whitespace duplicate is found at hamming 0; bound holds") {
    // simhash over distinct unigrams is invariant to token order, repetition
    // and whitespace — plant a shuffled double-spaced copy of doc 0
    val planted = docs.filter(col("doc_id") === 0)
      .select(lit(990001L).as("doc_id"),
        concat_ws("  ", reverse(split(col("text"), " "))).as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(planted)
    val pairs = DedupOps.simhashPairs(corpus, maxHamming = 3)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.forall(_._3 <= 3))
    assert(got.exists(p => p._1 == 0L && p._2 == 990001L && p._3 == 0),
      s"planted reordered dup (0, 990001) not found at hamming 0")
  }

  test("arith-mode simhash: planted reorder dup at hamming 0, verified pairs only") {
    // q79's registered form: plant the reordered copy of doc 0 in the batch
    // (doc_id ≡ 2 mod 3); the incremental pass must find it at hamming 0,
    // and every pair it emits must carry the true hamming distance of the
    // two fingerprints, within the budget
    val planted = docs.filter(col("doc_id") === 0)
      .select(lit(990002L).as("doc_id"),
        concat_ws("  ", reverse(split(col("text"), " "))).as("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(planted)
    val got = DedupOps.simhashPairs(corpus, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val again = rows(DedupOps.simhashPairs(corpus.repartition(7), maxHamming = 3))
    assert(again == got.map(p => Seq[Any](p._1, p._2, p._3)).toSet)
    // the fingerprint uses 62 bits (SQL BIGINT-safe): top two bits are 0
    val fps = DedupOps.simhashChunkIndex(corpus)
      .select(col("sh")).distinct().collect().map(_.getLong(0))
    assert(fps.forall(f => f >= 0 && (f >> 62) == 0L))
    // the q79 oracle identity: incremental(batch vs stored index) ≡ full
    // recompute restricted to pairs touching the batch
    val corp = corpus.filter(col("doc_id") % 3 =!= 2)
    val batch = corpus.filter(col("doc_id") % 3 === 2)
    val inc = rows(DedupOps.simhashIncremental(batch,
      DedupOps.simhashChunkIndex(corp), maxHamming = 3))
    val fullRestricted = rows(DedupOps.simhashPairs(corpus, maxHamming = 3)
      .filter(col("id_a") % 3 === 2 || col("id_b") % 3 === 2))
    assert(inc == fullRestricted,
      s"simhash incremental != full-restricted: " +
        s"missing ${(fullRestricted -- inc).size}, extra ${(inc -- fullRestricted).size}")
    assert(inc.contains(Seq[Any](0L, 990002L, 0)),
      "planted reordered dup (0, 990002) not found at hamming 0 by the incremental pass")
    val fp = DedupOps.simhashChunkIndex(corpus).select("doc_id", "sh").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (p <- inc) {
      val (a, b, h) = (p(0).asInstanceOf[Long], p(1).asInstanceOf[Long], p(2).asInstanceOf[Int])
      assert(h <= 3 && java.lang.Long.bitCount(fp(a) ^ fp(b)) == h,
        s"incremental pair ($a, $b) reported hamming $h")
    }
    // null text → no chunk rows and no pairs (the chunk index's coalesce
    // to 0 relies on the explicit null filter before it); every other
    // doc's result is unchanged by the null-text docs' presence
    val nCorpus = withNullTexts(corpus)
    val nPairs = DedupOps.simhashPairs(nCorpus, maxHamming = 3)
    val nIndex = DedupOps.simhashChunkIndex(nCorpus)
    val nInc = DedupOps.simhashIncremental(nCorpus.filter(col("doc_id") % 3 === 2),
      DedupOps.simhashChunkIndex(nCorpus.filter(col("doc_id") % 3 =!= 2)), maxHamming = 3)
    assert((ids(nPairs, "id_a", "id_b") ++ ids(nIndex, "doc_id") ++
      ids(nInc, "id_a", "id_b")).intersect(nullTextIds).isEmpty,
      "a null-text doc reached the simhash output")
    assert(rows(nPairs) == again)
    assert(rows(nIndex) == rows(DedupOps.simhashChunkIndex(corpus)))
    assert(rows(nInc) == inc)
  }

  test("simhash block-combination keys (6,2) ≡ plain chunk split (4,1) — both exact") {
    val corpus = docs.select(col("doc_id"), col("text"))
    val narrow = DedupOps.simhashPairs(corpus, maxHamming = 3)
      .collect().map(_.toSeq).toSet
    val wide = DedupOps.simhashPairs(corpus, maxHamming = 3, blocks = 6, comboSize = 2)
      .collect().map(_.toSeq).toSet
    assert(wide == narrow, "wide-key blocking changed the (exact) result set")
    // parameter guard: comboSize too large for the hamming budget is rejected
    intercept[IllegalArgumentException](
      DedupOps.simhashPairs(corpus, maxHamming = 3, blocks = 4, comboSize = 2))
  }

  test("exact dedup finds exactly the injected duplicates") {
    val q = SparkEntry_queriesHelper("q20_dedup_exact")
    val n = q(spark, dir).count()
    // every 7th doc_id in [0,500) → ceil(500/7) = 72 groups at sf0.001
    assert(n == docs.filter(col("doc_id") % 7 === 0).count())
  }

  private def SparkEntry_queriesHelper(name: String) = graft.SparkEntry.queries(name)

  /** Local union-find — the ground-truth oracle for connectedComponents. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents ≡ local union-find on a mixed synthetic graph") {
    // deterministic mix: two chains, a clique, a star, bridged pairs, self-loop
    val edges: Seq[(Long, Long)] =
      (0L until 9L).map(i => (i, i + 1)) ++                    // chain 0..9
      (20L until 24L).flatMap(a => (a + 1 to 24L).map((a, _))) ++ // clique 20..24
      Seq((30L, 31L), (30L, 32L), (30L, 33L)) ++               // star at 30
      Seq((40L, 41L), (41L, 9L)) ++                            // bridge into chain
      Seq((50L, 50L))                                          // self-loop only
    val df = edges.toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = unionFind(edges.filter(e => e._1 != e._2))
    assert(got == want, s"CC mismatch: got $got want $want")
    // self-loop-only node is dropped (no real edge), chain+bridge is one component
    assert(!got.contains(50L) && got(41L) == 0L && got(24L) == 20L)
  }

  test("connectedComponents: pointer jumping converges on a 512-node chain") {
    // diameter 511 — pure label propagation needs 511 rounds; pointer
    // jumping must close it within the default budget (~log2 rounds)
    val chain = (0L until 511L).map(i => (i, i + 1)).toDF("a", "b")
    val got = DedupOps.connectedComponents(chain, maxIter = 20)
    assert(got.agg(max(col("component"))).head.getLong(0) == 0L,
      "chain did not collapse to the single min-labeled component")
    assert(got.count() == 512)
  }

  test("q45 clusters: members pair-connected, canonical = min id, sizes consistent") {
    val out = SparkEntry_queriesHelper("q45_dedup_clusters")(spark, dir).collect()
    assert(out.nonEmpty, "no near-dup clusters at sf0.001 — recalibrate")
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, rows) =>
      assert(rows.map(_.getLong(0)).min == cid, s"canonical of $cid is not the min id")
      assert(rows.forall(_.getLong(2) == rows.length), s"cluster_size wrong for $cid")
      assert(rows.count(_.getBoolean(3)) == 1, s"exactly one canonical in $cid")
    }
    // every q21 pair landed in the same cluster (edges ⊆ components)
    val label = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    SparkEntry_queriesHelper("q21_dedup_jaccard_pairs")(spark, dir)
      .select("id_a", "id_b").collect().foreach { r =>
        assert(label(r.getLong(0)) == label(r.getLong(1)),
          s"pair (${r.getLong(0)},${r.getLong(1)}) split across clusters")
      }
  }

  test("q61 keep-best: survivor is the longest member of its q45 cluster, min-id tiebreak") {
    val clusters = SparkEntry_queriesHelper("q45_dedup_clusters")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)) // (doc_id, cluster_id)
    val nChars = docs.select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = clusters.groupBy(_._2).map { case (cid, members) =>
      val ids = members.map(_._1)
      // best = max n_chars, then min doc_id — the struct-max tiebreak
      val best = ids.minBy(id => (-nChars(id), id))
      cid -> (best, ids.length.toLong, nChars(best))
    }
    val got = SparkEntry_queriesHelper("q61_dedup_keep_best")(spark, dir)
      .select("cluster_id", "keep_doc_id", "cluster_size", "keep_n_chars")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty, "no clusters at sf0.001 — recalibrate")
    assert(got == expected, s"keep-best mismatch: got $got expected $expected")
  }

  test("q67 line dedup: planted boilerplate survives in exactly one document") {
    val footer = "subscribe to the newsletter for more updates today."
    val promo = "visit the site now to read the full story online."
    val out = graft.SparkEntry.queries("q67_line_dedup")(spark, dir)
      .select(col("doc_id"), col("n_lines"), col("n_kept_lines"),
        col("n_dup_removed"), col("cleaned_text"))
      .collect()
    val byDoc = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(byDoc.size == docs.count(), "one output row per document")
    // audit counts are consistent and every doc has at least one line
    byDoc.values.foreach { case (nl, nk, nd, _) =>
      assert(nd == nl - nk && nl >= 1 && nk >= 0)
    }
    // the shared footer line was injected into EVERY doc → exactly one
    // document corpus-wide keeps it, and the winner is the lowest doc_id
    val keepsFooter = byDoc.filter(_._2._4.linesIterator.contains(footer)).keySet
    assert(keepsFooter == Set(byDoc.keySet.min),
      s"footer survived in $keepsFooter, expected only doc ${byDoc.keySet.min}")
    // the promo line went to every 7th doc → exactly one of those keeps it
    val keepsPromo = byDoc.filter(_._2._4.linesIterator.contains(promo)).keySet
    val promoDocs = byDoc.keySet.filter(_ % 7 == 0)
    assert(keepsPromo.size == 1 && keepsPromo.subsetOf(promoDocs) &&
      keepsPromo == Set(promoDocs.min))
    // every non-winner doc lost at least its footer copy
    byDoc.foreach { case (id, (_, _, nd, _)) =>
      if (id != byDoc.keySet.min) assert(nd >= 1, s"doc $id removed nothing")
    }
    // global invariant: kept lines across the corpus = distinct lines
    val totalKept = byDoc.values.map(_._2).sum
    val distinctLines = out.flatMap(_.getString(4).linesIterator)
      .filter(_.nonEmpty).distinct.length
    assert(totalKept == distinctLines,
      s"kept $totalKept lines but corpus has $distinctLines distinct lines")
  }

  test("q70 incremental line dedup ≡ full recompute restricted to the batch") {
    val full = graft.SparkEntry.queries("q67_line_dedup")(spark, dir)
      .filter(col("doc_id") >= 250)
      .collect().map(_.mkString("|")).sorted.toSeq
    val incr = graft.SparkEntry.queries("q70_line_dedup_incremental")(spark, dir)
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(incr == full, "incremental admission diverged from the full recompute")
    assert(incr.nonEmpty)
    // and the index itself holds exactly the full corpus's distinct lines
    val docs = Tables.t(spark, dir, "documents")
    val idx = DedupOps.lineIndex(docs)
    val distinctLines = DedupOps.explodeLines(DedupOps.linedDocs(docs))
      .select("line").distinct().count()
    assert(idx.count() == distinctLines)
  }

  test("q76 substring dedup: planted boilerplate windows are covered; audit invariants hold") {
    val out = graft.SparkEntry.queries("q76_substring_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out.size == docs.count(), "one output row per document")
    out.foreach { case (id, (n, dup, frac, keep)) =>
      assert(dup >= 0 && dup <= n, s"doc $id: coverage $dup outside [0, $n]")
      assert(keep == (frac < 0.5), s"doc $id: keep flag inconsistent with $frac")
    }
    // every planted doc shares the 13-token paragraph with ~N/5 others →
    // all 6 of its k=8 windows are duplicated → ≥ 13 covered tokens
    val planted = out.keySet.filter(_ % 5 == 0)
    assert(planted.size >= 2, "need ≥2 planted docs for cross-doc duplication")
    planted.foreach { id =>
      assert(out(id)._2 >= 13, s"planted doc $id covered only ${out(id)._2} tokens")
    }
  }

  test("q78 incremental substring dedup ≡ full q76 restricted to the batch") {
    val full = graft.SparkEntry.queries("q76_substring_dedup")(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") >= 250)
      .collect().map(_.mkString("|")).sorted.toSeq
    val inc = graft.SparkEntry.queries("q78_substring_dedup_incremental")(spark, dir)
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(inc == full, "incremental audit diverged from the full recompute")
    assert(inc.nonEmpty)
    // the batch shares planted boilerplate with the ingested corpus, so
    // cross-set duplication must be detected through the index alone
    val crossSet = graft.SparkEntry.queries("q78_substring_dedup_incremental")(spark, dir)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
      .collect()
    assert(crossSet.nonEmpty && crossSet.forall(_.getLong(2) >= 13),
      "planted cross-set boilerplate not covered via the window index")
  }

  test("q67 line dedup is invariant to the shuffle layout") {
    def run() = graft.SparkEntry.queries("q67_line_dedup")(spark, dir)
      .collect().map(_.mkString("|")).sorted.toSeq
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val a = run()
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      assert(run() == a, "winner selection changed with the exchange layout")
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
