package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import Tables._

/** Deduplication suite for a training-data pipeline over `documents`.
  *
  * Scale design: every method is candidate-generation-then-verify. Candidate
  * generation is a hash-bucket join (minhash bands / simhash chunks / exact
  * digests), never an all-pairs cross join — all-pairs appears only in the
  * small-scale oracle-checkable variants (q20/q21) that double as the recall
  * reference for the bucketed methods.
  */
object DedupOps {

  // ---------------------------------------------------------------- helpers

  /** THE tokenization of the text-analysis suite: lowercase, space-split,
    * drop empties. Shared across DedupOps and TextOps (q47/q48/q55-q57) —
    * every DuckDB oracle inlines the same `list_filter(string_split(
    * lower(text), ' '), x -> x <> '')`, so a change here must change all
    * of those strings in lockstep. */
  private[ops] def tokens(c: Column): Column =
    graft.functions.TokenExprs.tokenize(c)

  /** Word w-shingles — native one-pass kernel (the sequence+transform
    * Column form is an interpreted higher-order chain, ~7 µs/shingle, and
    * was the hottest stage of every shingle-based query; byte-exactness
    * with the old form and the oracles is argued at
    * [[graft.functions.TokenHelpers]], pinned in TextSimSpec). */
  def shingles(c: Column, w: Int): Column =
    graft.functions.TokenExprs.wordShingles(c, w)

  /** MinHash signature — native one-pass expression (k hash streams per
    * shingle; the k × transform Column form was interpreted and rebuilt k
    * intermediate arrays per document). Every hash is plain modular
    * arithmetic a DuckDB oracle reproduces bit-identically (see
    * TextSimHelpers.minhash) — this is what gives q27/q40 full SQL
    * oracles. */
  def minhashSig(shingleArr: Column, k: Int): Column =
    graft.functions.TextSimExprs.minhashSig(shingleArr, k)

  /** LSH band keys: b bands of r = 2 signature entries each, in the exact
    * positional encoding (see TextSimHelpers.bandKeys). */
  def bandKeys(sig: Column, b: Int): Column =
    graft.functions.TextSimExprs.lshBandKeys(sig, b)

  /** Exact set Jaccard — native single-pass expression (one hash-set build +
    * one probe; array_intersect + array_union built four sets per pair). */
  def jaccard(a: Column, bC: Column): Column =
    graft.functions.TextSimExprs.jaccardSim(a, bC)

  /** SQL-reproducible 62-bit SimHash over word unigrams (per-bit majority
    * vote of distinct token hashes, see TextSimHelpers.simhash64) — native
    * one-pass expression; its arithmetic gives q28 its exact oracle. */
  def simhash64(c: Column): Column =
    graft.functions.TextSimExprs.simhash64(tokens(c))

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---------- q67/q70 line-dedup building blocks (shared so the full and
  // ---------- incremental forms cannot drift)

  /** Synthesized line structure + planted cross-doc duplicates: every doc
    * gets a shared boilerplate footer line, every 7th doc a shared promo
    * line; ' a ' → '.\n' (q59's trick), then trim + drop empties. */
  private[ops] def linedDocs(docs: DataFrame): DataFrame = {
    val footer = "subscribe to the newsletter for more updates today."
    val promo = "visit the site now to read the full story online."
    val raw = concat(col("text"), lit("\n" + footer),
      when(col("doc_id") % 7 === 0, lit("\n" + promo)).otherwise(lit("")))
    docs.select(col("doc_id"), filter(
      transform(split(regexp_replace(raw, " a ", ".\n"), "\n"), l => trim(l)),
      l => l =!= "").as("lines"))
  }

  /** (doc_id, pos, line) occurrence rows. */
  private[ops] def explodeLines(lined: DataFrame): DataFrame =
    lined.select(col("doc_id"), posexplode(col("lines")))
      .withColumnRenamed("col", "line")

  /** First-occurrence key: doc_id * 2^20 + pos (line counts per doc are
    * tiny; doc ids to 2^43 fit) — a single BIGINT min() partial-aggs where
    * a min_by struct would not stay in HashAggregate. */
  private[ops] def lineEnc: Column = col("doc_id") * lit(1048576L) + col("pos")

  /** Rebuild cleaned docs + audit counts from surviving (doc_id, pos, line)
    * rows; every input doc gets an output row (possibly fully deduped). */
  private[ops] def lineDedupRebuild(lined: DataFrame, kept: DataFrame): DataFrame = {
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept_lines"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("cleaned_text"))
    lined.select(col("doc_id"), size(col("lines")).cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept_lines"), lit(0L)).as("n_kept_lines"),
        (col("n_lines") - coalesce(col("n_kept_lines"), lit(0L))).as("n_dup_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** Durable line index: one row per distinct admitted line with its winner
    * key — the state a pipeline appends after each batch (the exact-dedup
    * analogue of q40's minhash bandIndex). */
  def lineIndex(docs: DataFrame): DataFrame =
    explodeLines(linedDocs(docs)).groupBy(col("line")).agg(min(lineEnc).as("wk"))

  /** Incremental line dedup: admit only batch lines NOT in the index,
    * first-occurrence-deduped within the batch. Cost ∝ batch — the batch
    * explodes once, anti-joins the index on the line key (bucketed or
    * bloom-pruned at corpus scale), and only surviving lines pay the
    * min + rebuild. ≡ the full recompute restricted to the batch whenever
    * index doc ids precede batch doc ids (spec'd in DedupSpec). */
  def lineDedupIncremental(batch: DataFrame, index: DataFrame): DataFrame = {
    val lined = linedDocs(batch)
    val exploded = explodeLines(lined)
    val fresh = exploded.join(index, Seq("line"), "left_anti")
    val winners = fresh.groupBy(col("line")).agg(min(lineEnc).as("wk"))
    lineDedupRebuild(lined,
      fresh.join(winners, Seq("line")).filter(lineEnc === col("wk")))
  }

  // ---------- q76/q78 substring-dedup building blocks (shared so the full
  // ---------- and incremental forms cannot drift)

  private[ops] val SubstrK = 8

  /** Tokenized docs with the planted boilerplate paragraph (every 5th doc
    * shares a 13-token tail, so its k=8 windows repeat across ~N/5 docs):
    * (doc_id, tk, n). */
  private[ops] def substrDocs(docs: DataFrame): DataFrame = {
    val boiler = "this shared boilerplate paragraph repeats across " +
      "many documents in the training corpus verbatim"
    // spread BEFORE tokenizing (r6): the exchange used to sit above this
    // project, so a single-file corpus tokenized on one core and shuffled
    // token arrays; now it ships (doc_id, text) and every tokenize pass
    // (windows and n_tokens alike) runs at full parallelism.
    spread(docs).select(col("doc_id"),
      tokens(when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" " + boiler))).otherwise(col("text"))).as("tk"))
      .withColumn("n", size(col("tk")).cast("long"))
  }

  /** (doc_id, pos, w) — every k-token window occurrence (1-based pos).
    * Native one-pass kernel (r6): the previous `filter(n >= k)` +
    * `transform(sequence, i => struct(i, array_join(slice(tk, i, k))))`
    * form was an interpreted HOF, and the size filter was pushed below the
    * project — re-tokenizing every row a second time in the scan-side
    * Filter (guide §4.4). TokenWindows subsumes the filter (n < k → empty
    * array → explode drops the row) and keeps the stage codegen'd;
    * TokenExprsSpec pins byte-equality against the old composition. */
  private[ops] def substrWindows(tok: DataFrame): DataFrame =
    tok.select(col("doc_id"),
        explode(graft.functions.TokenExprs.tokenWindows(col("tk"), SubstrK)).as("x"))
      .select(col("doc_id"), col("x.pos").as("pos"), col("x.w").as("w"))

  /** Per-doc coverage of the duplicated windows: explode each duplicated
    * occurrence to its k token positions, distinct, count — then the audit
    * row (n_tokens, n_dup_tokens, dup_fraction, keep) per input doc. */
  private[ops] def substrCoverage(tok: DataFrame, win: DataFrame,
      dupWin: DataFrame): DataFrame = {
    val covered = win.join(dupWin, Seq("w"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SubstrK - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_tokens"))
    tok.select(col("doc_id"), col("n").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
      .withColumn("dup_fraction",
        when(col("n_tokens") > 0, round(
          col("n_dup_tokens").cast("double") / col("n_tokens"), 6))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_fraction") < 0.5)
  }

  /** Durable window index: one row per DISTINCT k-token window the ingested
    * corpus carries, stored as the raw window STRING so the oracle and the
    * incremental≡full equivalence stay exact — the state a pipeline appends
    * per batch (the substring analogue of q70's lineIndex). At corpus scale
    * the cheaper option is keying the index by xxhash64(w) — 8 bytes per
    * window, collisions only ever over-mark a span — at the cost of
    * exactness; that variant is a one-line change here, not what this
    * implementation does. */
  def substringWindowIndex(docs: DataFrame): DataFrame =
    substrWindows(substrDocs(docs)).select(col("w")).distinct()

  /** Incremental substring dedup: audit a new batch against the admitted
    * corpus at cost ∝ BATCH. A batch window is duplicated iff it already
    * exists in the index (corpus count ≥ 1, batch adds ≥ 1 → total ≥ 2) or
    * occurs ≥ 2 times within the batch — together exactly the full
    * recompute's occurrence test restricted to batch docs, so this carries
    * a full DuckDB oracle (q78). One batch explode, one map-combined
    * window-keyed count, one semi join of the batch's singleton windows
    * against the index (bucketed/bloom-pruned at corpus scale); the corpus
    * is never re-scanned. */
  def substringDedupIncremental(batch: DataFrame, index: DataFrame): DataFrame = {
    val tok = substrDocs(batch)
    val win = substrWindows(tok)
    val counts = win.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val dupWin = counts.filter(col("c") >= 2).select(col("w"))
      .unionByName(counts.filter(col("c") === 1).select(col("w"))
        .join(index, Seq("w"), "left_semi"))
    substrCoverage(tok, win, dupWin)
  }

  // --------------------------------------------------------------- queries

  val all: Seq[OpQuery] = Seq(

    // Exact dedup: hash-groupBy on a normalized digest; keeps min doc_id as
    // the canonical survivor. One shuffle on the digest, partial-agg'd.
    // The corpus has no natural exact duplicates, so duplicates are
    // injected deterministically (a second copy of every 7th doc under a
    // shifted id) — the operator under test is the digest-groupBy survivor
    // selection, identical in both engines.
    OpQuery("q20_dedup_exact",
      (s, d) => {
        val docs = t(s, d, "documents")
        val dupes = docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000)
        docs.unionByName(dupes)
          .groupBy(TextOps.fingerprint(col("text")).as("fp"))
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
          .filter(col("n_copies") > 1)
      },
      Some("""SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
             |  count(*) AS n_copies, min(doc_id) AS keep_doc_id
             |FROM (SELECT doc_id, text FROM documents
             |      UNION ALL
             |      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
             |GROUP BY 1 HAVING count(*) > 1""".stripMargin)),

    // N-gram (here unigram-set) Jaccard near-dup pairs within a language —
    // the small-scale exact reference (all-pairs within lang partitions;
    // the scale path is q27's MinHash+LSH whose recall is measured against
    // this in DedupSpec).
    OpQuery("q21_dedup_jaccard_pairs",
      (s, d) => exactJaccardPairsShared(t(s, d, "documents"), threshold = 0.8,
        name = "q21_dedup_jaccard_pairs (all-pairs exact)",
        scalePath = "q27_dedup_minhash_lsh"),
      Some("""SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6) AS jac
             |FROM (SELECT doc_id, lang, list_distinct(list_filter(string_split(lower(text),' '), x -> x <> '')) AS toks FROM documents) a
             |JOIN (SELECT doc_id, lang, list_distinct(list_filter(string_split(lower(text),' '), x -> x <> '')) AS toks FROM documents) b
             |  ON a.lang = b.lang AND a.doc_id < b.doc_id
             |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8""".stripMargin)),

    // MinHash + LSH near-dup candidates → verified pairs. The scale path:
    // shingle → 32-minhash → 16 bands × 2 rows → explode bands → self-join on
    // band key (shuffle ∝ corpus size × 16, never all-pairs) → exact-Jaccard
    // verify on candidates only. Band/row choice puts the s-curve midpoint at
    // (1/16)^(1/2) = 0.25, giving ~99% recall at jaccard 0.5.
    //
    // Every hash is modular arithmetic DuckDB reproduces exactly, so the
    // whole LSH pipeline carries a full generated SQL oracle (the q29
    // generated-classifier trick; constants inlined by minhashLshOracleSql).
    // DedupSpec measures its recall vs exact all-pairs.
    OpQuery("q27_dedup_minhash_lsh",
      (s, d) => minhashLshPairs(t(s, d, "documents"), w = 3, b = 16,
        threshold = 0.5),
      Some(minhashLshOracleSql(w = 3, b = 16, threshold = 0.5))),

    // Incremental near-dup: the pairs ONE new batch (doc_id ≡ 2 mod 3)
    // introduces against the already-indexed corpus — the per-commit shape
    // of a continuously-ingesting pipeline (cost ∝ batch × bands, never
    // corpus²). The arithmetic hash (see q27) + the incremental ≡
    // full-restricted identity (band collisions are symmetric, so the full
    // recompute's pairs with ≥1 batch member are exactly cross ∪ within —
    // DedupSpec asserts it) give this a full SQL oracle too: the q27
    // pipeline with the final select restricted to pairs touching the batch.
    OpQuery("q40_dedup_incremental",
      (s, d) => {
        val all = t(s, d, "documents")
        val corpus = all.filter(col("doc_id") % 3 =!= 2)
        val batch = all.filter(col("doc_id") % 3 === 2)
        minhashLshIncremental(batch, corpus,
          bandIndex(corpus, w = 3, b = 16), w = 3, b = 16, threshold = 0.5)
      },
      Some(minhashLshOracleSql(w = 3, b = 16, threshold = 0.5,
        restrict = "AND (id_a % 3 = 2 OR id_b % 3 = 2)"))),

    // SimHash near-dup: 62-bit fingerprint, candidates via block keys
    // (Manku et al., WWW'07), verified by hamming distance. Default (4,1)
    // chunk split = 4 exploded rows/doc — the right cost at bench/test
    // corpus sizes; the (6,2) block-combination setting (22-bit keyspace,
    // sub-quadratic buckets at 10⁹ docs, C(6,2)=15 rows/doc) is the opt-in
    // scale configuration, equivalence-tested in DedupSpec. Both are EXACT
    // for hamming ≤ 3 (pigeonhole: ≤3 flipped blocks leave ≥1 key intact).
    //
    // The fingerprint is the per-bit majority of affine-stream parities
    // over the engine-neutral base hash, so a generated full-pipeline
    // DuckDB oracle reproduces fingerprint, chunk keys, candidate join and
    // hamming verify.
    OpQuery("q28_dedup_simhash",
      (s, d) => simhashPairs(t(s, d, "documents"), maxHamming = 3),
      Some(simhashOracleSql(maxHamming = 3))),

    // INCREMENTAL simhash near-dup — q28's CDC-native form, completing the
    // incremental dedup QUARTET (q40 minhash bands, q70 lines, q78 k-token
    // windows, q79 simhash chunks): the stored chunk index carries the
    // 62-bit fingerprint, so a new batch dedups against it at cost ∝
    // batch × C(blocks, comboSize) with NO re-join to the corpus at all —
    // the hamming verify reads both fingerprints off the candidate row.
    // Chunk-key collisions are symmetric, so incremental ≡ the full q28
    // recompute restricted to pairs touching the batch (DedupSpec pins
    // it), which with the arithmetic hash gives this a full DuckDB oracle:
    // q28's generated SQL with a final batch predicate.
    OpQuery("q79_dedup_simhash_incremental",
      (s, d) => {
        val all = t(s, d, "documents")
        val corpus = all.filter(col("doc_id") % 3 =!= 2)
        val batch = all.filter(col("doc_id") % 3 === 2)
        simhashIncremental(batch, simhashChunkIndex(corpus), maxHamming = 3)
      },
      Some(simhashOracleSql(maxHamming = 3,
        restrict = "AND (id_a % 3 = 2 OR id_b % 3 = 2)"))),

    // Cluster resolution: near-dup PAIRS → dedup GROUPS. Pairwise similarity
    // is not transitive, so a production dedup keeps one document per
    // CONNECTED COMPONENT of the pair graph (the MinHashLSH→CC shape every
    // web-scale corpus dedup ships). Edges here are q21's exact Jaccard
    // pairs (deterministic in both engines → full oracle; at corpus scale
    // the edge feed is q27/q40's LSH pairs — same downstream CC). Canonical
    // survivor = min doc_id of the component. Singleton documents (no pair)
    // are not emitted: the keep-set is `docs ∖ {non-canonical members}`.
    OpQuery("q45_dedup_clusters",
      (s, d) => {
        val pairs = exactJaccardPairsShared(t(s, d, "documents"), threshold = 0.8,
          name = "q45_dedup_clusters (exact edge reference)",
          scalePath = "q27_dedup_minhash_lsh + connectedComponents")
        val cc = connectedComponentsShared(pairs.select(col("id_a"), col("id_b")))
          .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        // cluster cardinality: tiny #clusters-sized agg, AQE broadcasts it
        val sizes = cc.groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"))
        cc.join(sizes, Seq("cluster_id"))
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
            (col("doc_id") === col("cluster_id")).as("is_canonical"))
      },
      Some("""WITH RECURSIVE toks AS (
             |  SELECT doc_id, lang,
             |    list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS toks
             |  FROM documents),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
             |und AS (SELECT id_a AS a, id_b AS b FROM pairs
             |        UNION SELECT id_b, id_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT a, b FROM und
             |  UNION
             |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE u.b <> r.a),
             |labels AS (
             |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a)
             |SELECT l.doc_id, l.cluster_id, s.cluster_size,
             |  l.doc_id = l.cluster_id AS is_canonical
             |FROM labels l
             |JOIN (SELECT cluster_id, count(*) AS cluster_size
             |      FROM labels GROUP BY 1) s USING (cluster_id)""".stripMargin)),

    // Survivor SELECTION: q45 keeps the min-id document per cluster — a
    // production pipeline keeps the BEST one (here: most content, n_chars
    // desc, doc_id asc tiebreak — the "longest version wins" heuristic
    // every web-corpus dedup applies to near-dup clusters). The pick is a
    // partial-aggregable struct-max (max over (n_chars, -doc_id) pairs),
    // NOT a per-cluster sort window: the agg combines map-side, so the
    // exchange carries one candidate per cluster per task — at corpus scale
    // the cluster table is near-dup-sized, never corpus-sized, and no
    // single giant cluster funnels raw rows through one task.
    OpQuery("q61_dedup_keep_best",
      (s, d) => {
        val docs = t(s, d, "documents")
        val pairs = exactJaccardPairsShared(docs, threshold = 0.8,
          name = "q61_dedup_keep_best (exact edge reference)",
          scalePath = "q27_dedup_minhash_lsh + connectedComponents")
        val cc = connectedComponentsShared(pairs.select(col("id_a"), col("id_b")))
          .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        cc.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("cluster_size"),
            max(struct(col("n_chars").as("nc"),
              (-col("doc_id")).as("nid"))).as("best"))
          .select(col("cluster_id"), col("cluster_size"),
            (-col("best.nid")).as("keep_doc_id"),
            col("best.nc").as("keep_n_chars"))
      },
      Some("""WITH RECURSIVE toks AS (
             |  SELECT doc_id, lang,
             |    list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS toks
             |  FROM documents),
             |pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
             |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
             |und AS (SELECT id_a AS a, id_b AS b FROM pairs
             |        UNION SELECT id_b, id_a FROM pairs),
             |reach(a, b) AS (
             |  SELECT a, b FROM und
             |  UNION
             |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a WHERE u.b <> r.a),
             |labels AS (
             |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
             |ranked AS (
             |  SELECT l.cluster_id, l.doc_id, d.n_chars,
             |    row_number() OVER (PARTITION BY l.cluster_id
             |      ORDER BY d.n_chars DESC, l.doc_id) AS rn,
             |    count(*) OVER (PARTITION BY l.cluster_id) AS cluster_size
             |  FROM labels l JOIN documents d USING (doc_id))
             |SELECT cluster_id, cluster_size, doc_id AS keep_doc_id,
             |  n_chars AS keep_n_chars
             |FROM ranked WHERE rn = 1""".stripMargin)),

    // C4-style CROSS-DOCUMENT exact line dedup — the other dedup axis: q20
    // removes duplicate documents, this removes duplicate LINES across
    // documents (C4 dropped every repeated 3-sentence span corpus-wide; the
    // line granularity is what made it tractable). Each distinct line
    // survives only at its first occurrence — (min doc_id, then min line
    // position), encoded as one BIGINT so the winner is a partial-agg'd
    // min() — and every document is rebuilt from its surviving lines with
    // audit counts. Line structure is synthesized as in q59 (' a ' → '.\n'),
    // and planted cross-doc duplicates guarantee ground truth in both
    // engines: every doc gets a shared boilerplate footer line, every 7th
    // doc a shared promo line — exactly one doc corpus-wide keeps each.
    // Scale shape: posexplode → ONE line-keyed exchange for the min
    // (map-side combined: hot boilerplate lines collapse to one candidate
    // per map task) → winner join back (the winner side is ONE row per
    // distinct line; the occurrence side is skewed on boilerplate keys —
    // AQE skew-join splits it, and each occurrence needs only its line's
    // single winner row) → one doc-keyed exchange to rebuild. Nothing
    // touches the driver; no window over the corpus.
    OpQuery("q67_line_dedup",
      (s, d) => {
        val docs = linedDocs(t(s, d, "documents"))
        val exploded = explodeLines(docs)
        val winners = exploded.groupBy(col("line")).agg(min(lineEnc).as("wk"))
        lineDedupRebuild(docs, exploded.join(winners, Seq("line"))
          .filter(lineEnc === col("wk")))
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    text || chr(10) || 'subscribe to the newsletter for more updates today.'
             |      || CASE WHEN doc_id % 7 = 0
             |           THEN chr(10) || 'visit the site now to read the full story online.'
             |           ELSE '' END AS rawt
             |  FROM documents),
             |l AS (
             |  SELECT doc_id,
             |    list_filter(list_transform(
             |      string_split(replace(rawt, ' a ', '.' || chr(10)), chr(10)),
             |      x -> trim(x)), x -> x <> '') AS lines
             |  FROM raw),
             |e AS (
             |  SELECT doc_id, pos, lines[pos] AS line
             |  FROM (SELECT doc_id, lines,
             |          unnest(generate_series(1, len(lines))) AS pos
             |        FROM l)),
             |w AS (SELECT line, min(doc_id * 1048576 + pos) AS wk FROM e GROUP BY 1),
             |k AS (SELECT e.doc_id, e.pos, e.line
             |      FROM e JOIN w ON e.line = w.line
             |      WHERE e.doc_id * 1048576 + e.pos = w.wk),
             |a AS (SELECT doc_id, count(*) AS n_kept_lines,
             |        string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
             |      FROM k GROUP BY 1)
             |SELECT l.doc_id, len(l.lines) AS n_lines,
             |  coalesce(a.n_kept_lines, 0) AS n_kept_lines,
             |  len(l.lines) - coalesce(a.n_kept_lines, 0) AS n_dup_removed,
             |  coalesce(a.cleaned_text, '') AS cleaned_text
             |FROM l LEFT JOIN a USING (doc_id)""".stripMargin)),

    // Cross-corpus OVERLAP estimation via theta sketches — the planning
    // pass before any cross-corpus dedup: "how much of crawl B is already
    // in corpus A" per language, WITHOUT joining the corpora. Each side
    // aggregates its distinct 3-word shingles into one theta sketch
    // (native ThetaSketchAgg → ObjectHashAggregate, map-side partial: the
    // exchange carries one bounded sketch per (lang, side) per task, never
    // the shingles); intersection / union / Jaccard are then scalar
    // expressions over the two sketch binaries. HLL (q42) cannot do this —
    // it unions but never intersects. Oracle exactness: below 2^16
    // retained entries theta sketches are exact (13k–23k distinct shingles
    // per side here), so the DuckDB COUNT(DISTINCT) + inclusion-exclusion
    // oracle is hash-exact; at corpus scale the identical plan degrades
    // gracefully to ±ε estimation. Corpus halves = doc_id parity.
    OpQuery("q69_corpus_overlap",
      (s, d) => {
        import graft.functions.ThetaSketch._
        graft.functions.LwwMaxBy.tuneSession(s)
        // spread: the single-file corpus would pin the shingle+sketch scan
        // to one task (measured 1-task hot stage, r6); sketch union is
        // associative-exact, so partial count is partitioning-invariant
        val sh = spread(t(s, d, "documents")).select(col("lang"),
          (col("doc_id") % 2 === 0).as("is_a"),
          explode(array_distinct(shingles(col("text"), 3))).as("sh"))
        sh.groupBy(col("lang"))
          .agg(thetaSketchAgg(when(col("is_a"), col("sh"))).as("ska"),
            thetaSketchAgg(when(!col("is_a"), col("sh"))).as("skb"))
          .select(col("lang"),
            thetaEstimate(col("ska")).cast("long").as("n_grams_a"),
            thetaEstimate(col("skb")).cast("long").as("n_grams_b"),
            thetaIntersectEstimate(col("ska"), col("skb")).cast("long").as("n_shared"),
            thetaUnionEstimate(col("ska"), col("skb")).cast("long").as("n_union"),
            thetaAnotBEstimate(col("skb"), col("ska")).cast("long").as("n_new_in_b"))
          .withColumn("jaccard",
            when(col("n_union") > 0,
              round(col("n_shared").cast("double") / col("n_union"), 6))
              .otherwise(lit(0.0)))
      },
      Some("""WITH g AS (
             |  SELECT lang, doc_id % 2 = 0 AS is_a,
             |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
             |  FROM documents),
             |e AS (
             |  SELECT lang, is_a,
             |    unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
             |      ELSE list_transform(generate_series(1, len(tk) - 2),
             |             i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
             |  FROM g),
             |s AS (
             |  SELECT lang,
             |    count(DISTINCT CASE WHEN is_a THEN sh END) AS n_grams_a,
             |    count(DISTINCT CASE WHEN NOT is_a THEN sh END) AS n_grams_b,
             |    count(DISTINCT sh) AS n_union
             |  FROM e GROUP BY 1)
             |SELECT lang, n_grams_a, n_grams_b,
             |  n_grams_a + n_grams_b - n_union AS n_shared, n_union,
             |  n_union - n_grams_a AS n_new_in_b,
             |  CASE WHEN n_union > 0
             |    THEN round(CAST(n_grams_a + n_grams_b - n_union AS DOUBLE) / n_union, 6)
             |    ELSE 0.0 END AS jaccard
             |FROM s""".stripMargin)),

    // INCREMENTAL cross-document line dedup — q67's CDC-native form (the
    // exact-dedup analogue of q40's incremental minhash band index): a
    // durable line index (distinct admitted lines + winner keys) is built
    // from the already-ingested corpus (doc_id < 250 here), and the new
    // batch (doc_id ≥ 250) dedups against it at cost ∝ BATCH — one batch
    // explode, one anti-join on the line key, winner-min + rebuild only on
    // surviving lines; the ingested corpus is never re-scanned per batch.
    // Because index ids precede batch ids, the result is EXACTLY the full
    // q67 recompute restricted to the batch — so unlike the hash-specific
    // q40 this incremental form carries a full DuckDB oracle (the q67 SQL
    // with the final select filtered to batch docs), and DedupSpec asserts
    // incremental ≡ full directly.
    OpQuery("q70_line_dedup_incremental",
      (s, d) => {
        val docs = t(s, d, "documents")
        lineDedupIncremental(docs.filter(col("doc_id") >= 250),
          lineIndex(docs.filter(col("doc_id") < 250)))
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    text || chr(10) || 'subscribe to the newsletter for more updates today.'
             |      || CASE WHEN doc_id % 7 = 0
             |           THEN chr(10) || 'visit the site now to read the full story online.'
             |           ELSE '' END AS rawt
             |  FROM documents),
             |l AS (
             |  SELECT doc_id,
             |    list_filter(list_transform(
             |      string_split(replace(rawt, ' a ', '.' || chr(10)), chr(10)),
             |      x -> trim(x)), x -> x <> '') AS lines
             |  FROM raw),
             |e AS (
             |  SELECT doc_id, pos, lines[pos] AS line
             |  FROM (SELECT doc_id, lines,
             |          unnest(generate_series(1, len(lines))) AS pos
             |        FROM l)),
             |w AS (SELECT line, min(doc_id * 1048576 + pos) AS wk FROM e GROUP BY 1),
             |k AS (SELECT e.doc_id, e.pos, e.line
             |      FROM e JOIN w ON e.line = w.line
             |      WHERE e.doc_id * 1048576 + e.pos = w.wk),
             |a AS (SELECT doc_id, count(*) AS n_kept_lines,
             |        string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
             |      FROM k GROUP BY 1)
             |SELECT l.doc_id, len(l.lines) AS n_lines,
             |  coalesce(a.n_kept_lines, 0) AS n_kept_lines,
             |  len(l.lines) - coalesce(a.n_kept_lines, 0) AS n_dup_removed,
             |  coalesce(a.cleaned_text, '') AS cleaned_text
             |FROM l LEFT JOIN a USING (doc_id)
             |WHERE l.doc_id >= 250""".stripMargin)),

    // EXACT SUBSTRING (k-token window) DEDUP — the third dedup granularity
    // (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    // Better"): q20 drops duplicate DOCUMENTS, q67 duplicate LINES; this
    // finds every k-token span that occurs MORE THAN ONCE corpus-wide and
    // reports, per document, how many of its tokens sit inside such a span
    // (the span-removal audit — the famous 50-token rule at k=8 granularity
    // here so the synthetic ~54-token docs can carry whole windows).
    // Occurrence counting is over ALL occurrences, so a span repeated twice
    // WITHIN one doc is duplicated too, exactly as in the suffix-array
    // formulation. Ground truth is planted: every 5th doc gets a shared
    // 13-token boilerplate paragraph appended — its 6 windows repeat across
    // ~N/5 docs, so those docs must report ≥ 13 covered tokens.
    //
    // Scale shape (the suffix array is single-node; this is the distributed
    // equivalent): one explode to (window, pos) rows — rows ∝ corpus tokens,
    // never pairs — ONE window-keyed exchange for the occurrence count
    // (map-side combined; at corpus scale the key is xxhash64(window), 8
    // bytes on the wire instead of the k-token string, collisions only ever
    // over-mark a span — here the string key keeps the DuckDB oracle exact),
    // a join of occurrences against the duplicated-window keys (AQE splits
    // the boilerplate skew), then position-coverage union per doc: explode
    // each duplicated occurrence to its k positions, distinct, count — one
    // doc-keyed exchange. No window over the corpus, nothing on the driver.
    OpQuery("q76_substring_dedup",
      (s, d) => {
        val tok = substrDocs(t(s, d, "documents"))
        val win = substrWindows(tok)
        val dupWin = win.groupBy(col("w")).agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select(col("w"))
        substrCoverage(tok, win, dupWin)
      },
      Some("""WITH base AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN lower(text) ||
             |      ' this shared boilerplate paragraph repeats across many documents in the training corpus verbatim'
             |    ELSE lower(text) END AS t
             |  FROM documents),
             |tok AS (SELECT doc_id,
             |          list_filter(string_split(t, ' '), x -> x <> '') AS tk
             |        FROM base),
             |w AS (SELECT doc_id, i AS pos, array_to_string(tk[i:i+7], ' ') AS w
             |      FROM (SELECT doc_id, tk,
             |              unnest(generate_series(1, len(tk) - 7)) AS i
             |            FROM tok WHERE len(tk) >= 8)),
             |dup AS (SELECT w FROM w GROUP BY 1 HAVING count(*) >= 2),
             |cov AS (SELECT DISTINCT doc_id, p
             |        FROM (SELECT w.doc_id,
             |                unnest(generate_series(w.pos, w.pos + 7)) AS p
             |              FROM w JOIN dup USING (w))),
             |cnt AS (SELECT doc_id, count(*) AS n_dup_tokens FROM cov GROUP BY 1),
             |nt AS (SELECT doc_id, len(tk) AS n_tokens FROM tok)
             |SELECT doc_id, n_tokens, n_dup_tokens, dup_fraction,
             |  dup_fraction < 0.5 AS keep
             |FROM (
             |  SELECT nt.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
             |    coalesce(cnt.n_dup_tokens, 0) AS n_dup_tokens,
             |    CASE WHEN nt.n_tokens > 0
             |      THEN round(CAST(coalesce(cnt.n_dup_tokens, 0) AS DOUBLE)
             |                   / nt.n_tokens, 6)
             |      ELSE 0.0 END AS dup_fraction
             |  FROM nt LEFT JOIN cnt USING (doc_id))""".stripMargin)),

    // INCREMENTAL substring dedup — q76's CDC-native form, completing the
    // incremental trio (q40 minhash bands, q70 lines, q78 k-token windows):
    // a durable window index (distinct admitted windows) is built from the
    // ingested corpus (doc_id < 250), and the new batch (doc_id ≥ 250) is
    // audited against it at cost ∝ BATCH — a batch window is duplicated iff
    // it exists in the index or repeats within the batch, which is exactly
    // the full q76 occurrence test restricted to batch docs. Full DuckDB
    // oracle: the q76 SQL (windows over the whole corpus = index ∪ batch)
    // with the final select filtered to batch docs; DedupSpec asserts
    // incremental ≡ full directly.
    OpQuery("q78_substring_dedup_incremental",
      (s, d) => {
        val docs = t(s, d, "documents")
        substringDedupIncremental(docs.filter(col("doc_id") >= 250),
          substringWindowIndex(docs.filter(col("doc_id") < 250)))
      },
      Some("""WITH base AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN lower(text) ||
             |      ' this shared boilerplate paragraph repeats across many documents in the training corpus verbatim'
             |    ELSE lower(text) END AS t
             |  FROM documents),
             |tok AS (SELECT doc_id,
             |          list_filter(string_split(t, ' '), x -> x <> '') AS tk
             |        FROM base),
             |w AS (SELECT doc_id, i AS pos, array_to_string(tk[i:i+7], ' ') AS w
             |      FROM (SELECT doc_id, tk,
             |              unnest(generate_series(1, len(tk) - 7)) AS i
             |            FROM tok WHERE len(tk) >= 8)),
             |dup AS (SELECT w FROM w GROUP BY 1 HAVING count(*) >= 2),
             |cov AS (SELECT DISTINCT doc_id, p
             |        FROM (SELECT w.doc_id,
             |                unnest(generate_series(w.pos, w.pos + 7)) AS p
             |              FROM w JOIN dup USING (w))
             |        WHERE doc_id >= 250),
             |cnt AS (SELECT doc_id, count(*) AS n_dup_tokens FROM cov GROUP BY 1),
             |nt AS (SELECT doc_id, len(tk) AS n_tokens FROM tok WHERE doc_id >= 250)
             |SELECT doc_id, n_tokens, n_dup_tokens, dup_fraction,
             |  dup_fraction < 0.5 AS keep
             |FROM (
             |  SELECT nt.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens,
             |    coalesce(cnt.n_dup_tokens, 0) AS n_dup_tokens,
             |    CASE WHEN nt.n_tokens > 0
             |      THEN round(CAST(coalesce(cnt.n_dup_tokens, 0) AS DOUBLE)
             |                   / nt.n_tokens, 6)
             |      ELSE 0.0 END AS dup_fraction
             |  FROM nt LEFT JOIN cnt USING (doc_id))""".stripMargin)))

  /** Generated DuckDB oracle for the MinHash+LSH pipeline — the q29 trick
    * of generating the SQL from the same constants the engine computes
    * with. Reproduces, stage by stage, exactly what [[minhashLshPairs]]
    * does: tokenize → w-shingle →
    * H(s) = codepoint fold (seed 7, ×31 mod P) → 2·b affine minhash streams
    * (a_j·H + b_j mod P, constants inlined) → b band keys (positional
    * sig[2i]·P + sig[2i+1] encoding) → band-key self-join within lang →
    * exact-Jaccard verify at `threshold`. `restrict` appends a predicate to
    * the final WHERE (q40's batch restriction). */
  private[ops] def minhashLshOracleSql(w: Int, b: Int,
      threshold: Double, restrict: String = ""): String = {
    val P = graft.functions.TextSimHelpers.ArithP
    val sigExprs = (0 until 2 * b).map { j =>
      val a = graft.functions.TextSimHelpers.arithA(j)
      val bc = graft.functions.TextSimHelpers.arithB(j)
      s"    list_min(list_transform(h, x -> ($a * x + $bc) % $P))"
    }.mkString(",\n")
    val bandExprs = (0 until b)
      .map(i => s"sig[${2 * i + 1}] * $P + sig[${2 * i + 2}]").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, lang, list_distinct(
       |    CASE WHEN len(tk) < $w THEN [array_to_string(tk, ' ')]
       |         ELSE list_transform(generate_series(1, len(tk) - ${w - 1}),
       |                i -> array_to_string(tk[i:i+${w - 1}], ' ')) END) AS sh
       |  FROM tok),
       |hs AS (
       |  SELECT doc_id, lang, sh, list_transform(sh, s ->
       |    list_reduce(list_prepend(CAST(7 AS BIGINT),
       |      list_transform(generate_series(1, length(s)),
       |        i -> CAST(unicode(s[i]) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % $P)) AS h
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id, lang, sh, [
       |$sigExprs
       |  ] AS sig FROM hs),
       |bands AS (
       |  SELECT doc_id, lang,
       |    unnest([$bandExprs]) AS bkey,
       |    unnest(generate_series(1, $b)) AS band
       |  FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.lang = b.lang
       |  WHERE a.doc_id < b.doc_id),
       |v AS (
       |  SELECT c.lang, c.id_a, c.id_b,
       |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
       |          (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS jac
       |  FROM cand c
       |  JOIN sh x ON c.id_a = x.doc_id
       |  JOIN sh y ON c.id_b = y.doc_id)
       |SELECT lang, id_a, id_b, jac FROM v
       |WHERE jac >= $threshold $restrict""".stripMargin
  }

  /** Generated DuckDB oracle for the ARITHMETIC 62-bit SimHash pipeline
    * (q28): distinct lowercase tokens → H(t) (the shared codepoint fold) →
    * 62 per-bit majority votes of affine-stream parities → chunk keys =
    * four 16-bit blocks of the fingerprint → candidate equijoin per chunk →
    * `bit_count(xor)` hamming verify. Constants inlined from the same
    * streams the native kernel uses. */
  private[ops] def simhashOracleSql(maxHamming: Int,
      restrict: String = ""): String = {
    val P = graft.functions.TextSimHelpers.ArithP
    val bitExprs = (0 until 62).map { b =>
      val a = graft.functions.TextSimHelpers.arithA(b)
      val c = graft.functions.TextSimHelpers.arithB(b)
      s"    (CASE WHEN 2 * len(list_filter(h, x -> (($a * x + $c) % $P) % 2 = 1))" +
        s" > len(h) THEN ${1L << b} ELSE 0 END)"
    }.mkString(" +\n")
    val chunkExprs = (0 until 4)
      .map(i => s"(fp // ${1L << (16 * i)}) % 65536").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, list_distinct(
       |    list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tk
       |  FROM documents),
       |hs AS (
       |  SELECT doc_id, list_transform(tk, s ->
       |    list_reduce(list_prepend(CAST(7 AS BIGINT),
       |      list_transform(generate_series(1, length(s)),
       |        i -> CAST(unicode(s[i]) AS BIGINT))),
       |      (acc, c) -> (acc * 31 + c) % $P)) AS h
       |  FROM tok),
       |fp AS (
       |  SELECT doc_id,
       |$bitExprs AS fp
       |  FROM hs),
       |ck AS (
       |  SELECT doc_id, fp,
       |    unnest([$chunkExprs]) AS ckey,
       |    unnest(generate_series(0, 3)) AS chunk
       |  FROM fp),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, a.fp AS fp_a,
       |                  b.doc_id AS id_b, b.fp AS fp_b
       |  FROM ck a JOIN ck b ON a.chunk = b.chunk AND a.ckey = b.ckey
       |  WHERE a.doc_id < b.doc_id)
       |SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
       |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= $maxHamming $restrict""".stripMargin
  }

  /** Suite-run memo of the exact-edge build: q21, q45 and q61 all need the
    * SAME exact-Jaccard pair set over the same corpus, and each all-pairs
    * verify costs seconds at bench scale — ~20 s of a 45 s suite spent
    * recomputing one result three times (round-4 verdict nit). Keyed by
    * (session identity, input plan semantic hash, threshold); a hit serves
    * an eagerly localCheckpoint'ed pair-count-sized DataFrame. Only
    * oracle-scale pair sets ever enter the cache (the all-pairs build is
    * scale-guarded), so the footprint is bounded small; entries are LRU-
    * evicted past 8. */
  private val edgeCache =
    new java.util.LinkedHashMap[(Int, Int, Long), DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Int, Long), DataFrame]): Boolean = {
        val evict = size() > 8
        // release the evicted entry's localCheckpoint blocks — without this a
        // long-lived session cycling through >8 corpora/thresholds pins every
        // evicted pair set's RDD blocks until session end (ADVICE r5)
        if (evict) scala.util.Try(e.getValue.unpersist(blocking = false))
        evict
      }
    }

  /** Memo key: session identity + plan semantic hash + the hash of the
    * leaf relations' concrete FILE LISTS. The file-list term is what makes
    * the memo safe against in-place data changes: a parquet root's
    * semanticHash is path-based (InMemoryFileIndex equality is
    * rootPaths-based), so overwriting the files under the same path would
    * otherwise serve the OLD corpus's checkpointed result — but parquet
    * overwrites mint fresh part-file names, so hashing the listed file
    * paths invalidates the entry (review finding, round 5). */
  private def memoKey(df: DataFrame, salt: Long): (Int, Int, Long) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val filesHash = df.queryExecution.analyzed.collectLeaves().map {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val loc = lr.relation.asInstanceOf[HadoopFsRelation].location
        // fold file LENGTH and MTIME in alongside each path: an in-place
        // rewrite that keeps file names (non-parquet sources, externally
        // regenerated fixed-name files) must invalidate too (ADVICE r5)
        loc.listFiles(Nil, Nil).iterator.flatMap(_.files).map { f =>
          (f.getPath.toString.hashCode.toLong * 31L + f.getLen) * 31L +
            f.getModificationTime
        }.foldLeft(11L)((a, h) => a * 1000003L + h)
      case other => other.semanticHash.toLong
    }.foldLeft(17L)((a, h) => a * 1000003L + h)
    (System.identityHashCode(df.sparkSession), df.semanticHash(),
      filesHash * 31L + salt)
  }

  def exactJaccardPairsShared(docsIn: DataFrame, threshold: Double,
      name: String, scalePath: String): DataFrame = {
    val key = memoKey(docsIn, math.round(threshold * 1000000L))
    val hit = edgeCache.synchronized(Option(edgeCache.get(key)))
    hit.getOrElse {
      val pairs = exactJaccardPairs(docsIn, threshold, name, scalePath)
        .localCheckpoint(true)
      edgeCache.synchronized(edgeCache.put(key, pairs))
      pairs
    }
  }

  /** Suite-run memo of [[connectedComponents]], same shape as the edge
    * memo: q45 and q61 resolve the SAME edge set to the same component
    * labels (the CC loop is several checkpointed join rounds — the other
    * recomputed half of the round-4 suite-cost nit). Keyed by the edge
    * plan's semantic hash (the edges are themselves a checkpointed memo
    * value, so their semantic hash pins the concrete pair set), so both
    * callers' `pairs.select(a, b)` over the shared checkpointed edges hit
    * one entry. */
  def connectedComponentsShared(edges: DataFrame): DataFrame = {
    val key = memoKey(edges, -1L)
    val hit = edgeCache.synchronized(Option(edgeCache.get(key)))
    hit.getOrElse {
      val cc = connectedComponents(edges) // already checkpointed per round
      edgeCache.synchronized(edgeCache.put(key, cc))
      cc
    }
  }

  /** Exact all-pairs unigram-set Jaccard near-dup pairs within a language —
    * the small-scale reference (q21) and the deterministic edge feed for
    * cluster resolution (q45).
    *
    * The corpus side is broadcast (a reference-scale corpus is by definition
    * small); the probe side is SPREAD to the cluster's parallelism first —
    * the source is typically one small file = one scan split, and a
    * lang-keyed shuffle join would cap the all-pairs probe at |langs| busy
    * tasks either way. With the broadcast + spread probe, every core
    * verifies a slice of pairs in one codegen'd stage. Guarded by
    * [[Tables.assertReferenceScale]]: beyond oracle scale the caller wants
    * the bucketed LSH path. */
  def exactJaccardPairs(docsIn: DataFrame, threshold: Double,
      name: String, scalePath: String): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("lang"),
        array_distinct(tokens(col("text"))).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
    assertReferenceScale(docs, name, scalePath)
    val a = spread(docs)
      .select(col("lang"), col("doc_id").as("id_a"),
        col("toks").as("toks_a"), col("n").as("n_a"))
    val b = docs.select(col("lang"), col("doc_id").as("id_b"),
      col("toks").as("toks_b"), col("n").as("n_b"))
    // size-ratio prefilter, result-preserving: J = |∩|/|∪| ≤ min/max, so
    // J(rounded to 6dp) ≥ t forces min/max ≥ t − 5e-7 — the cheap integer
    // compare skips the hash-set Jaccard for the bulk of pairs (the −1
    // leaves slack for the rounding)
    val thrMicros = math.round(threshold * 1000000L) - 1L
    a.join(broadcast(b), Seq("lang")).filter(col("id_a") < col("id_b"))
      .filter(least(col("n_a"), col("n_b")) * 1000000L >=
        greatest(col("n_a"), col("n_b")) * thrMicros)
      .withColumn("jac", round(jaccard(col("toks_a"), col("toks_b")), 6))
      .filter(col("jac") >= threshold)
      .select(col("lang"), col("id_a"), col("id_b"), col("jac"))
  }

  /** Connected components over an undirected edge list — the cluster-
    * resolution step that turns near-dup pairs into dedup groups. Returns
    * `(id, component)` for every node that appears in an edge, where
    * `component` = the minimum node id in that node's component.
    *
    * Algorithm: distributed min-label propagation with POINTER JUMPING.
    * Each round, a node's label drops to the minimum of its own and its
    * neighbors' labels (one shuffle join + one partial-agg'd groupBy), then
    * labels are path-compressed through the label table itself
    * (`label := label(label)`, one more join) — the compression is what
    * turns O(diameter) rounds into O(log diameter), so a degenerate chain
    * of length 10⁶ needs ~20 rounds, not 10⁶. Per-round lineage is
    * truncated with an eager localCheckpoint (the standard iterative-
    * DataFrame discipline; swap for reliable checkpoint() on a cluster) and
    * the loop's only carried state is the nodes-sized (id, label) table —
    * never the corpus.
    *
    * Convergence/correctness: labels start at `id` and never increase
    * (min() only lowers them; the jump substitutes `label(label) ≤ label`),
    * and every label is always the id of a node in the same component — so
    * the label sum strictly decreases until fixpoint, and an unchanged sum
    * IS the fixpoint. At fixpoint each edge's endpoints agree (the label is
    * ≤ every neighbor's label in both directions), so labels are constant
    * per component, and for the component minimum m: label(m) ≤ m and
    * label(m) ∈ component ⇒ label(m) = m — the constant is the minimum. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    require(edges.columns.length == 2,
      s"edges must have exactly two columns (src, dst), got ${edges.columns.mkString(",")}")
    val e = edges.toDF("a", "b").filter(col("a") =!= col("b"))
    val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint(true) // probed every round
    // seed = min(id, min neighbor): one shuffle that IS the first
    // propagation round (dense near-dup components converge a round earlier)
    var cur = und.groupBy(col("a")).agg(min(col("b")).as("mn"))
      .select(col("a").as("id"), least(col("a"), col("mn")).as("component"))
      .localCheckpoint(true)
    // exact fixpoint detector: decimal(38,0) sum cannot overflow or round
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("component").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head.getDecimal(0)
    val ccLog = sys.env.contains("GRAFT_CC_LOG")
    var tRound = System.nanoTime()
    def logRound(tag: String): Unit = if (ccLog) {
      println(f"[cc] $tag%-8s ${(System.nanoTime() - tRound) / 1e9}%6.2f s")
      tRound = System.nanoTime()
    }
    logRound("init")
    var prevSum = labelSum(cur)
    var it = 0
    var converged = prevSum.signum == 0 && cur.isEmpty
    while (!converged && it < maxIter) {
      // the .as re-aliases mint fresh attribute ids: unioning a plan with a
      // plan derived from itself must not share expression ids across the
      // union's children (Catalyst constraint rewriting rejects it)
      val nbr = und.join(cur, und("a") === cur("id"))
        .select(col("b").as("id"), col("component").as("component"))
      val merged = cur.select(col("id").as("id"), col("component").as("component"))
        .unionByName(nbr)
        .groupBy(col("id")).agg(min(col("component")).as("component"))
      val jumped = merged.as("m")
        .join(merged.select(col("id").as("cid"), col("component").as("ccomp")).as("c"),
          col("m.component") === col("c.cid"), "left")
        .select(col("m.id").as("id"),
          coalesce(col("ccomp"), col("m.component")).as("component"))
      val next = jumped.localCheckpoint(true)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      cur = next; prevSum = nextSum; it += 1
      logRound(s"round $it")
    }
    require(converged || it < maxIter,
      s"connectedComponents did not converge in $maxIter rounds")
    cur
  }

  /** MinHash+LSH pipeline (reused by queries and DedupSpec).
    *
    * Candidates are (lang, id, id) triples only — the band join and the
    * cross-band dedup never shuffle shingle arrays; shingle sets re-join by
    * doc_id for the exact-Jaccard verify. Recomputing shingles on the
    * verify side is a codegen'd scan; shipping every document's shingle
    * array through the band-key shuffle twice is corpus × bands bytes.
    * The signature has 2·b entries: b bands of two rows each. */
  def minhashLshPairs(docs: DataFrame, w: Int, b: Int,
      threshold: Double): DataFrame = {
    // spread: shingling + k-stream minhash is the corpus-scan hot loop — a
    // single-split source must not pin it to one core (see Tables.spread)
    val base = Tables.spread(docs).select(col("doc_id"), col("lang"),
      array_distinct(shingles(col("text"), w)).as("sh"))
    val banded = base
      .select(col("doc_id"), col("lang"),
        posexplode(bandKeys(minhashSig(col("sh"), 2 * b), b)).as(Seq("band", "bkey")))
    val a = banded.select(col("band"), col("bkey"), col("lang"), col("doc_id").as("id_a"))
    val bb = banded.select(col("band"), col("bkey"), col("lang"), col("doc_id").as("id_b"))
    val cand = a.join(bb, Seq("band", "bkey", "lang"))
      .filter(col("id_a") < col("id_b"))
      .select(col("lang"), col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b") // same pair may collide in several bands
    // verify joins recompute shingles from the scan rather than semi-join-
    // filtering to candidate docs: a candidate-id broadcast would serialize
    // the stages behind the full band join (measured 50% slower than the
    // fully pipelined second scan) and shuffling shingle arrays through the
    // band join costs corpus × bands bytes — the re-scan is the cheapest of
    // the three.
    cand
      .join(base.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(base.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jac", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jac") >= threshold)
      .select(col("lang"), col("id_a"), col("id_b"), col("jac"))
  }

  /** MinHash band index of a document set: `(lang, band, bkey, doc_id)` —
    * the durable state for INCREMENTAL near-dup. At pipeline scale this is
    * a lake table maintained by `append`-ing each ingested batch's bands
    * (cost ∝ batch × bands); the full self-join in [[minhashLshPairs]] is
    * then never recomputed over the corpus. */
  def bandIndex(docs: DataFrame, w: Int, b: Int): DataFrame =
    Tables.spread(docs)
      .select(col("doc_id"), col("lang"),
        array_distinct(shingles(col("text"), w)).as("sh"))
      .select(col("doc_id"), col("lang"),
        posexplode(bandKeys(minhashSig(col("sh"), 2 * b), b)).as(Seq("band", "bkey")))

  /** Incremental MinHash+LSH near-dup: the pairs a NEW batch introduces —
    * batch × indexed-corpus pairs (band-key equijoin against the stored
    * index) plus within-batch pairs — verified by exact Jaccard on shingle
    * sets re-joined by id. Per-batch cost is batch-bands × matching index
    * buckets, never corpus²: this is the shape a continuously-ingesting
    * 100 TB pipeline runs every commit, with [[bandIndex]] rows appended
    * for the batch afterwards. Union with the previous result set equals a
    * full [[minhashLshPairs]] recompute over corpus ∪ batch (DedupSpec
    * asserts the equivalence). */
  def minhashLshIncremental(newDocs: DataFrame, corpusDocs: DataFrame,
      index: DataFrame, w: Int, b: Int, threshold: Double): DataFrame = {
    val newBanded = bandIndex(newDocs, w, b)
    val cross = newBanded.select(col("band"), col("bkey"), col("lang"),
        col("doc_id").as("id_new"))
      .join(index.select(col("band"), col("bkey"), col("lang"),
        col("doc_id").as("id_old")), Seq("band", "bkey", "lang"))
      // one orientation per pair: the new doc vs an already-indexed doc
      .select(col("lang"), least(col("id_new"), col("id_old")).as("id_a"),
        greatest(col("id_new"), col("id_old")).as("id_b"))
    val within = newBanded.select(col("band"), col("bkey"), col("lang"),
        col("doc_id").as("id_a"))
      .join(newBanded.select(col("band"), col("bkey"), col("lang"),
        col("doc_id").as("id_b")), Seq("band", "bkey", "lang"))
      .filter(col("id_a") < col("id_b"))
      .select(col("lang"), col("id_a"), col("id_b"))
    val cand = cross.unionByName(within).dropDuplicates("id_a", "id_b")
    // newDocs ∩ corpus = ∅ by contract (the batch IS the new rows), so the
    // union needs no doc-id dedup — which would shuffle shingle arrays.
    // Like minhashLshPairs, the verify recomputes shingles from the scan
    // (fully pipelined) instead of semi-join-filtering to candidate ids,
    // which measured 25% slower (the id broadcast serializes behind the
    // full band join).
    def shingleSets(docs: DataFrame) = docs.select(col("doc_id"),
      array_distinct(shingles(col("text"), w)).as("sh"))
    val all = shingleSets(newDocs).unionByName(shingleSets(corpusDocs))
    cand
      .join(all.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(all.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jac", round(jaccard(col("sh_a"), col("sh_b")), 6))
      .filter(col("jac") >= threshold)
      .select(col("lang"), col("id_a"), col("id_b"), col("jac"))
  }

  /** SimHash pipeline (reused by queries and DedupSpec).
    *
    * Candidate keys are every `comboSize`-subset of `blocks` bit-blocks of
    * the fingerprint, concatenated. Exactness: ≤ `maxHamming` bit flips
    * corrupt ≤ maxHamming blocks, leaving ≥ blocks−maxHamming intact, so as
    * long as `comboSize ≤ blocks − maxHamming` some combination survives
    * untouched and the pair collides. Wider combos = exponentially larger
    * keyspace (smaller buckets at corpus scale) for C(blocks, comboSize)
    * exploded rows per doc. (4, 1) is the minimal classic chunk split;
    * (6, 2) is the 10⁹-doc setting. */
  def simhashPairs(docs: DataFrame, maxHamming: Int,
      blocks: Int = 4, comboSize: Int = 1): DataFrame = {
    require(blocks - maxHamming >= comboSize,
      s"blocks($blocks) - maxHamming($maxHamming) must be >= comboSize($comboSize) for exact recall")
    val chunked = simhashChunkIndex(docs, blocks, comboSize)
    val a = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
    // hamming verify BEFORE the cross-chunk dedup (r6): the verify is two
    // ALU ops on columns already on the candidate row, so running it first
    // shrinks the dropDuplicates exchange from every chunk collision
    // (id, id, fp, fp) to the surviving pairs (id, id, hamming) — measured
    // 25 MB → ~2 MB at bench scale (guide §2.3). Duplicates of a pair
    // carry identical fingerprints, so the filter commutes with the dedup.
    // SHUFFLE_HASH self-join (r6): the default broadcast plan builds the
    // SAME chunk-index subtree twice (scan + fingerprint kernel per side —
    // BroadcastExchange and shuffle Exchange can't be reused across each
    // other). With both sides shuffled on (chunk, ckey) the two exchanges
    // are canonically identical, so ReusedExchange computes the scan +
    // kernel ONCE — and at 10⁹-doc scale a broadcast of the full index is
    // impossible anyway, so this is also the only plan shape that scales
    // (guide §2.4: two operations keyed the same way share one exchange).
    a.join(b.hint("shuffle_hash"), Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** SimHash chunk index `(chunk, ckey, doc_id, sh)` — the durable state
    * for incremental simhash dedup, appended per ingested batch (the
    * fingerprint rides along: the hamming verify then needs no re-join to
    * the corpus at all). */
  def simhashChunkIndex(docs: DataFrame,
      blocks: Int = 4, comboSize: Int = 1): DataFrame = {
    val widths = Array.tabulate(blocks)(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(sh: Column, i: Int): Column =
      shiftrightunsigned(sh, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    val comboKeys = (0 until blocks).combinations(comboSize).toSeq.map { c =>
      c.foldLeft(lit(0L)) { (acc, i) =>
        shiftleft(acc, widths(i)).bitwiseOR(blockVal(col("sh"), i)) }
    }
    // Null discipline (r6): filter null texts EXPLICITLY, then mark the
    // fingerprint non-nullable with a coalesce that provably never fires
    // (simhash64 of a non-null string is non-null). Without this the
    // downstream equijoin on ckey infers `isnotnull(ckey)`, which pushdown
    // rewrites to `isnotnull(simhash64(tokenize(text)))` BELOW the spread
    // exchange — a second full fingerprint pass per side, run on the
    // unspread scan split (guide §4.4's duplicated-expression trap, here
    // with a native kernel instead of a UDF). Results are identical: a
    // null-text doc previously reached the join with a null ckey and was
    // dropped by the join's null-reject; now it is dropped at the scan.
    Tables.spread(docs.filter(col("text").isNotNull))
      .select(col("doc_id"),
        coalesce(simhash64(col("text")), lit(0L)).as("sh"))
      .select(col("doc_id"), col("sh"),
        posexplode(array(comboKeys: _*)).as(Seq("chunk", "ckey")))
  }

  /** Incremental simhash near-dup: pairs a NEW batch introduces against the
    * stored chunk index plus within-batch pairs — per-batch cost ∝ batch ×
    * C(blocks, comboSize), never corpus². Exactness carries over from
    * [[simhashPairs]] (pigeonhole on intact blocks); DedupSpec asserts
    * incremental ∪ prior ≡ full recompute. */
  def simhashIncremental(newDocs: DataFrame, index: DataFrame, maxHamming: Int,
      blocks: Int = 4, comboSize: Int = 1): DataFrame = {
    require(blocks - maxHamming >= comboSize,
      s"blocks($blocks) - maxHamming($maxHamming) must be >= comboSize($comboSize) for exact recall")
    // SHUFFLE_HASH joins (r6, same rewrite as [[simhashPairs]]): the batch
    // chunk subtree feeds THREE join inputs (cross-left, within-left,
    // within-right); with every join shuffled on (chunk, ckey) the three
    // exchanges are canonically identical, so AQE's exchange reuse computes
    // the batch scan + fingerprint kernel ONCE (broadcast plans rebuilt it
    // per use). The batch side is the hinted build side — at corpus scale
    // the index side is the unbounded one.
    val newChunked = simhashChunkIndex(newDocs, blocks, comboSize)
    val cross = newChunked.select(col("chunk"), col("ckey"),
        col("doc_id").as("id_new"), col("sh").as("sh_new"))
      .hint("shuffle_hash")
      .join(index.select(col("chunk"), col("ckey"),
        col("doc_id").as("id_old"), col("sh").as("sh_old")), Seq("chunk", "ckey"))
      .select(
        least(col("id_new"), col("id_old")).as("id_a"),
        greatest(col("id_new"), col("id_old")).as("id_b"),
        when(col("id_new") < col("id_old"), col("sh_new")).otherwise(col("sh_old")).as("sh_a"),
        when(col("id_new") < col("id_old"), col("sh_old")).otherwise(col("sh_new")).as("sh_b"))
    val within = newChunked.select(col("chunk"), col("ckey"),
        col("doc_id").as("id_a"), col("sh").as("sh_a"))
      .join(newChunked.select(col("chunk"), col("ckey"),
        col("doc_id").as("id_b"), col("sh").as("sh_b"))
        .hint("shuffle_hash"), Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
    // hamming verify BEFORE the cross-chunk dedup — same rewrite as
    // [[simhashPairs]] (r6): the dedup exchange carries only surviving
    // (id, id, hamming) rows instead of every collision with two fps
    cross.unionByName(within)
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }
}
