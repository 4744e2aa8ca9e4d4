package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash-groupBy), normalized-signature exact, n-gram/word
  * Jaccard, MinHash+LSH banding, SimHash. Designed for the 100 TB shape:
  *   - exact/signature dedup: one shuffle on the hash key, map-side distinct;
  *   - MinHash signatures are row-local expression trees (no UDF, no shuffle);
  *   - LSH banding shuffles `bands × docs` small keys instead of comparing
  *     O(n²) pairs; only bucket-colliding pairs are verified exactly;
  *   - SimHash is a row-local 64-bit sketch joinable/groupable downstream.
  */
object Dedup {

  /** Heap-derived broadcast bound for CC's measured label-frame hints —
    * same derivation and same `graft.graph.bcastRows` override as
    * `Graph.BcastRows`; the formula lives once in
    * [[graft.util.HeapBounds]] (round-10 — it had drifted into three
    * copies).
    */
  private def bcastLabelBound: Long =
    graft.util.HeapBounds.broadcastRowBound("graft.graph.bcastRows")

  /** Exact duplicate grouping on arbitrary key expressions: survivor =
    * min(idCol) per group (deterministic), plus group size.
    */
  def exactGroups(df: DataFrame, key: Column, idCol: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(idCol).as("survivor_id"), count(lit(1)).as("group_size"))

  /** Canonical word-set signature of a text: distinct whitespace tokens,
    * sorted, re-joined, md5'd. Catches shuffled-bag duplicates that raw-text
    * hashing misses.
    */
  def wordSetSignature(text: Column): Column =
    md5(array_join(array_sort(array_distinct(TextAnalysis.tokens(text))), " "))

  /** Per-document duplicated-text fraction from exact n-gram shingles (the
    * Lee et al. 2021 "Deduplicating Training Data" substring-dup signal,
    * arXiv:2107.06499, at gram granularity): for each document, the share of
    * its DISTINCT n-token grams that also occur in at least one other
    * document. Docs shorter than n tokens (no grams) drop out, matching the
    * grouping-after-unnest oracle form.
    *
    * Scale shape: within-doc distinct is row-local (`array_distinct` before
    * the explode); the gram table then shuffles twice on the gram string —
    * once for the doc-frequency aggregate, once for the join back — and the
    * final per-doc rollup shuffles on doc_id. No pairwise comparisons
    * anywhere: cost is O(total distinct grams), not O(docs²).
    */
  def dupGramStats(docs: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val grams = docs
      .select(
        idCol.as("doc_id"),
        explode(array_distinct(call_function("graft_ngrams", TextAnalysis.tokens(textCol), lit(n))))
          .as("gram"))
    // distinct-per-doc upstream ⇒ count(*) per gram IS the doc frequency
    val df_ = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    grams
      .join(df_, "gram")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        count(when(col("df") >= 2, lit(1))).as("n_dup"))
      .withColumn("dup_frac", col("n_dup").cast("double") / col("n_grams").cast("double"))
  }

  /** Exact word-set Jaccard similarity of two token-array columns. Integer
    * set sizes divided as IEEE doubles — engine-deterministic. NULL-safe:
    * NULL arrays yield NULL (without the guard, ANSI-off `size(NULL)` = -1
    * would make any NULL-array pair score (-1)/(-1) = 1.0).
    */
  def jaccard(a: Column, b: Column): Column =
    when(a.isNull || b.isNull, lit(null).cast("double"))
      .otherwise(
        size(array_intersect(a, b)).cast("double") /
          size(array_union(a, b)).cast("double"))

  /** All-pairs exact Jaccard over word sets, for a bounded id range — the
    * oracle-verifiable reference form (O(n²) broadcast nested-loop; cap the
    * range). The scalable path for unbounded inputs is [[minHashCandidates]].
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxId: Long
  ): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // sorted distinct token arrays → the native merge-loop jaccard expression
    // (graft_sorted_jaccard) instead of per-pair set allocation
    // materialized once (bounded: maxId rows): the tokenize+sort lineage
    // otherwise replays on both sides of the self-join
    val ws = docs
      .filter(col(idCol) < maxId)
      .select(col(idCol).as("id"),
        array_sort(array_distinct(TextAnalysis.tokens(col(textCol)))).as("ws"))
      .localCheckpoint()
    // stream side spread across the cluster: the testdata parquet is a single
    // split, and the O(n²) merge-loop work below must not run on one core
    val a = Par.spread(ws, col("id")).select(col("id").as("id_a"), col("ws").as("ws_a"))
    val b = ws.select(col("id").as("id_b"), col("ws").as("ws_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      // size-ratio prefilter: jaccard = |∩|/|∪| ≤ min/max, so any pair with
      // min/max < threshold cannot qualify — an O(1) compare that skips the
      // O(n) merge loop for almost every non-duplicate pair. Same ÷-then-
      // compare shape as the jaccard itself: double rounding is monotone, so
      // round(min/max) ≥ round(|∩|/|∪|) and no boundary pair is lost. The
      // both-empty clause keeps the empty∪empty = jaccard-1.0 pair that the
      // division form would compute as 0/0 = NaN and silently drop
      .filter((size(col("ws_a")) === 0 && size(col("ws_b")) === 0)
        || least(size(col("ws_a")), size(col("ws_b"))).cast("double")
          / greatest(size(col("ws_a")), size(col("ws_b"))).cast("double") >= threshold)
      .withColumn("jaccard", call_function("graft_sorted_jaccard", col("ws_a"), col("ws_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact WEIGHTED (multiset) Jaccard pairs: Σ_t min(cₐ(t), c_b(t)) /
    * Σ_t max(cₐ(t), c_b(t)) over token MULTIPLICITIES — the term-frequency-
    * aware near-dup score that separates "same words, same proportions"
    * from the set-Jaccard-1.0 case of "same vocabulary, different text".
    * Reuses the sorted-merge loop of [[jaccardPairs]] verbatim: on sorted
    * arrays kept WITH duplicates the equal-advance-both merge counts
    * exactly Σmin, and nx + ny − inter is exactly Σmax, so the one native
    * expression computes multiset Jaccard by construction. Same bounded
    * oracle-arm contract and size-ratio prefilter (both remain valid at
    * multiset granularity: Σmin ≤ min(nₐ, n_b), Σmax ≥ max(nₐ, n_b)).
    */
  def multisetJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxId: Long
  ): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val ws = docs
      .filter(col(idCol) < maxId)
      .select(col(idCol).as("id"),
        array_sort(TextAnalysis.tokens(col(textCol))).as("ws"))
      .localCheckpoint()
    val a = Par.spread(ws, col("id")).select(col("id").as("id_a"), col("ws").as("ws_a"))
    val b = ws.select(col("id").as("id_b"), col("ws").as("ws_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .filter((size(col("ws_a")) === 0 && size(col("ws_b")) === 0)
        || least(size(col("ws_a")), size(col("ws_b"))).cast("double")
          / greatest(size(col("ws_a")), size(col("ws_b"))).cast("double") >= threshold)
      .withColumn("wjaccard", call_function("graft_sorted_jaccard", col("ws_a"), col("ws_b")))
      .filter(col("wjaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("wjaccard"))
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1995): sort
    * each block by a cheap key, compare only rows within `windowSize`
    * rank positions, verify survivors with exact word-set Jaccard. The
    * complement to MinHash blocking — catches neighbors a hash bucket
    * splits (prefix typos, serial ids) at O(n·w) candidate cost with NO
    * pairwise hashing. Scale contract: the row_number window partitions
    * by `blockCol`, so pick blocks bounded well under a partition (source,
    * date, shard) — the sort is per-block, never global. The rank-window
    * self-join is NOT a naive within-block O(block²) equi-join: rows join
    * on w-sized rank BUCKETS (pair at distance ≤ w−1 ⇒ right bucket is
    * left's or the next — each left row explodes to exactly 2 bucket
    * keys), so join fanout is O(n·w) by construction and hot blocks
    * shuffle-spread across (block, bucket) keys. Output: canonical
    * (id_a < id_b) pairs with exact jaccard ≥ threshold.
    */
  def sortedNeighborhoodPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: Column,
      sortKey: Column,
      windowSize: Int,
      threshold: Double
  ): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2: $windowSize")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val w = Window.partitionBy(col("blk")).orderBy(col("sk"), col("id"))
    // tokenize + rank once; the self-join below reads it twice
    val ranked = docs
      .select(blockCol.as("blk"), col(idCol).as("id"), sortKey.as("sk"),
        array_sort(array_distinct(TextAnalysis.tokens(col(textCol)))).as("ws"))
      .withColumn("rn", row_number().over(w))
      .withColumn("bkt", expr(s"(rn - 1) div $windowSize"))
      .localCheckpoint()
    val left = ranked.select(col("blk"), col("id").as("id_l"), col("ws").as("ws_l"),
        col("rn").as("rn_l"), explode(array(col("bkt"), col("bkt") + 1)).as("bkt"))
    val right = ranked.select(col("blk"), col("bkt"), col("id").as("id_r"),
      col("ws").as("ws_r"), col("rn").as("rn_r"))
    left
      .join(right, Seq("blk", "bkt"))
      .filter((col("rn_r") - col("rn_l")).between(1, windowSize - 1))
      // size-ratio prefilter before the merge-loop jaccard, as in
      // [[jaccardPairs]] — monotone rounding keeps every boundary pair
      .filter((size(col("ws_l")) === 0 && size(col("ws_r")) === 0)
        || least(size(col("ws_l")), size(col("ws_r"))).cast("double")
          / greatest(size(col("ws_l")), size(col("ws_r"))).cast("double") >= threshold)
      .withColumn("jaccard", call_function("graft_sorted_jaccard", col("ws_l"), col("ws_r")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"), col("jaccard"))
  }

  /** All DIRECTED containment pairs over `shingle`-gram sets, bounded id
    * range: containment(A→B) = |A∩B| / |A| (Broder) — scores ~1.0 when A is
    * embedded in B even though symmetric Jaccard is low (quotes, excerpts,
    * page-in-page). Shingles (n ≥ 2) make the measure order-sensitive and
    * selective; word sets (n = 1) measure vocabulary coverage only. Empty A
    * is contained in everything (1.0). O(n²) oracle-verifiable reference
    * form; at corpus scale run the same scoring on [[minHashCandidates]]
    * collisions instead of all pairs.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxId: Long,
      shingle: Int = 3
  ): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sets =
      if (shingle <= 1) TextAnalysis.tokens(col(textCol))
      else TextAnalysis.ngrams(col(textCol), shingle)
    // shingles hashed to sorted 64-bit values: the intersection COUNT is
    // unchanged up to negligible xxh64 collisions, and the long merge is
    // ~10× cheaper than UTF8 compares (same trick as [[verifiedNearDups]]).
    // Materialized once: feeds both sides of the directed self-join.
    val ws = docs
      .filter(col(idCol) < maxId)
      .select(col(idCol).as("id"),
        array_sort(transform(array_distinct(sets), t => xxhash64(t))).as("ws"))
      .localCheckpoint()
    val a = Par.spread(ws, col("id")).select(col("id").as("id_a"), col("ws").as("ws_a"))
    val b = ws.select(col("id").as("id_b"), col("ws").as("ws_b"))
    a.join(broadcast(b), col("id_a") =!= col("id_b"))
      // prefilter: |A∩B| ≤ |B|, so containment ≥ t needs |B|/|A| ≥ t — the
      // same ÷-then-compare shape as the score (monotone rounding, same
      // denominator: no boundary pair is lost); empty A passes outright
      .filter(size(col("ws_a")) === 0
        || size(col("ws_b")).cast("double") / size(col("ws_a")).cast("double") >= threshold)
      .withColumn("containment",
        when(size(col("ws_a")) === 0, lit(1.0))
          .otherwise(call_function("graft_sorted_long_intersect", col("ws_a"), col("ws_b"))
            .cast("double") / size(col("ws_a")).cast("double")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** MinHash signature of a token-set column: `numHashes` independent
    * min-hashes h_i(S) = min_{t∈S} ((a_i·(xxh64(t) mod p) + b_i) mod p),
    * p = 2³¹−1 — the mod-p reduction is what makes the lanes independent
    * (see graft.functions.MinHashSignature). Row-local native expression;
    * a_i/b_i derive deterministically from the seed. Column-level helper —
    * requires graft function registration on the session
    * (`GraftFunctions.register` or the GraftExtensions conf); the
    * DataFrame-level ops in this object register it themselves.
    */
  def minHashSignature(tokenSet: Column, numHashes: Int, seed: Long = 42L): Column =
    // native one-pass expression: hash each token once, update all lanes
    // (see graft.functions.MinHashSignature; the equivalent
    // array_min(transform(...)) per lane is ~30× slower)
    call_function("graft_minhash", tokenSet, lit(numHashes), lit(seed))

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rowsPerBand`, hash each band, shuffle on (band index, band hash), and
    * emit distinct colliding id pairs. Cost ∝ docs × bands (small keys), not
    * O(n²). Pair verification is the caller's job (see [[verifiedNearDups]]).
    */
  def minHashCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      seed: Long = 42L
  ): DataFrame =
    minHashCandidatesRaw(docs, idCol, textCol, numHashes, bands, seed).distinct()

  /** Band-collision pairs WITHOUT cross-band dedup — a pair appears once per
    * colliding band, EXCEPT identical-full-signature pairs which are emitted
    * from band 0 only (they would collide in every band; see the join
    * condition). Callers doing cheap per-pair verification consume this
    * directly and dedup after filtering (see [[verifiedNearDups]]).
    */
  def minHashCandidatesRaw(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      seed: Long = 42L
  ): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val rowsPerBand = numHashes / bands
    // spread BEFORE the signature projection: minhashing is tokens×lanes work
    // per row and the testdata parquet arrives as a single split — without
    // the repartition the whole signature pass runs on one core
    val sig = Par.spread(docs, col(idCol)).select(
      col(idCol).as("id"),
      minHashSignature(array_distinct(TextAnalysis.tokens(col(textCol))), numHashes, seed)
        .as("sig")
    )
    val banded = sig.select(
      col("id"),
      xxhash64(col("sig")).as("fsig"),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))).as("bhash"))
        )
      ).as("bb")
    )
    // pairs with IDENTICAL full signatures collide in every band; emitting
    // them from band 0 only removes a bands× blowup for duplicate cliques
    // (recall unchanged — band-0 collision is guaranteed for equal sigs).
    // Caveat: equality is tested on fsig = xxhash64(sig), so two DIFFERENT
    // signatures colliding in fsig (~2^-64 per pair) would be suppressed
    // outside band 0; comparing sig directly would shuffle the full
    // signature arrays — not worth it for a 2^-64 candidate-recall risk in
    // an approximate stage that feeds an exact verify anyway.
    //
    // MEASURED NEGATIVE (round-12, left as the planner's shape): pinning
    // the band exchange at the session shuffle width (explicit
    // repartition(n, bb), the q309 expansion fix) was tried here and LOST —
    // q85 4.12 -> 4.85 s solo, 42 -> 112 jobs, and the consumer's distinct
    // exchange grew 0.8 -> 51.9 MB. Reason: AQE's coalesce of this tiny
    // exchange to ONE partition is load-bearing for the BATCH path — with
    // the whole collision output in one partition, the downstream
    // distinct's partial aggregate achieves FULL cross-band dedup map-side
    // and the exchange ships only unique pairs; spreading the join leaves
    // per-partition partial dedup only (a pair collides in several bands,
    // each landing in a different partition), re-shipping ~3 M duplicate
    // rows. The batch expansion's CPU is small (0.5 s single-task at
    // sf0.1) — unlike the streaming index's clique expansion, where the
    // same pin WON 34% (StreamOps.expandBucketPairsRaw).
    banded.as("x")
      .join(
        banded.as("y"),
        col("x.bb") === col("y.bb") && col("x.id") < col("y.id") &&
          (col("x.fsig") =!= col("y.fsig") || col("x.bb.band") === 0))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
  }

  /** One representative (min id) per distinct word set. Collapsing exact
    * set-duplicates BEFORE near-dup detection is what keeps LSH linear when a
    * corpus has large duplicate clusters: an m-document identical cluster
    * contributes m²/2 pairs to an all-pairs output but only one node here.
    */
  def representatives(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(wordSetSignature(col(textCol)).as("sig"))
      // min_by keeps the survivor's OWN text (first() would pick an arbitrary
      // group member's — same word set, but nondeterministic bytes)
      .agg(min(col(idCol)).as("id"), min_by(col(textCol), col(idCol)).as("text"))
      .select(col("id").as(idCol), col("text").as(textCol))

  /** MinHash-LSH candidates + exact Jaccard verification ≥ threshold — the
    * scalable near-dup pipeline (candidates shuffle small; exact check only
    * on colliding pairs). Run over [[representatives]] when the corpus can
    * contain exact-duplicate clusters.
    */
  def verifiedNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 96,
      bands: Int = 8,
      seed: Long = 42L,
      broadcastAttach: Boolean = true
  ): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val rawCands = minHashCandidatesRaw(docs, idCol, textCol, numHashes, bands, seed)
    // verify on sorted per-token 64-bit hashes (equal to string jaccard up to
    // negligible xxh64 collisions): long merges are ~10× cheaper than UTF8
    // merges at millions of candidate pairs, and the broadcast is smaller.
    // materialized once: the attach joins below would otherwise replay
    // the scan + tokenize + hash + sort lineage (and, for collapsed inputs,
    // the representative groupBy upstream of it) independently
    val ws = hashedWordSets(docs, idCol, textCol).localCheckpoint()
    verifyCandidatePairs(rawCands, ws, threshold, broadcastAttach)
  }

  /** Per-doc sorted 64-bit token-hash sets — the verify-side signature shared
    * by every exact-Jaccard pipeline here (equal to string-set jaccard up to
    * negligible xxh64 collisions).
    */
  private[graft] def hashedWordSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("id"),
      array_sort(transform(array_distinct(TextAnalysis.tokens(col(textCol))), t => xxhash64(t)))
        .as("ws"))

  /** Exact-Jaccard verification of candidate pairs against a (id, ws)
    * token-hash table: attach both sides' sets, size-ratio prefilter, native
    * sorted-merge jaccard, threshold, pair-dedup. `rawPairs` MAY contain
    * duplicates (band collisions, shared prefix tokens) — the broadcast arm
    * streams them through the cheap merge and dedups after; the shuffle arm
    * collapses them first so they don't ride every join. `ws` should be
    * materialized by the caller (it feeds two joins).
    */
  private[graft] def verifyCandidatePairs(
      rawPairs: DataFrame,
      ws: DataFrame,
      threshold: Double,
      broadcastAttach: Boolean
  ): DataFrame = {
    // size-ratio prefilter (division form — rounding is monotone, so no
    // boundary pair is lost; both-empty passes through: 0/0 would be NaN
    // though empty∪empty is jaccard 1.0): rules a pair out from set sizes
    // alone, before the merge loop ever runs
    def sizeRatioOk(szA: Column, szB: Column): Column =
      (szA === 0 && szB === 0) ||
        least(szA, szB).cast("double") / greatest(szA, szB).cast("double") >= threshold
    val attached =
      if (broadcastAttach) {
        // broadcast attach: the per-doc token-hash table ships once to every
        // executor, the candidate stream never shuffles. Raw band collisions
        // stream straight through the verify — piping duplicates through the
        // ~0.1µs/pair long-merge measured faster than a distinct shuffle of
        // the raw pairs (9.8s raw vs 10.9s distinct-first at sf0.1; with the
        // 10× slower UTF8 merges the tradeoff pointed the other way), and
        // the dedup runs on the small verified output instead.
        rawPairs
          .join(broadcast(ws.withColumnsRenamed(Map("id" -> "id_a", "ws" -> "ws_a"))), "id_a")
          .join(broadcast(ws.withColumnsRenamed(Map("id" -> "id_b", "ws" -> "ws_b"))), "id_b")
          .filter(sizeRatioOk(size(col("ws_a")), size(col("ws_b"))))
      } else {
        // shuffle attach — the corpus-scale form: plain equi-joins on id, so
        // no task ever holds the full signature table. Here shuffle BYTES are
        // the cost model, so the pipeline narrows before it widens:
        // (1) collapse band collisions to distinct pairs first — each
        //     duplicate would ride every later join (8.5M → 3.1M at sf0.1);
        // (2) attach 8-byte set SIZES and run the ratio prefilter BEFORE the
        //     arrays — at sf0.1 it kills 69% of pairs (3.1M → 978k), so the
        //     wide token-hash payload (~1.6 KB/pair) only ships for
        //     survivors. Same join count, ~5× less shuffle volume.
        val sizes = ws.select(col("id"), size(col("ws")).as("sz"))
        rawPairs
          .distinct()
          .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "sz" -> "sz_a")), "id_a")
          .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "sz" -> "sz_b")), "id_b")
          .filter(sizeRatioOk(col("sz_a"), col("sz_b")))
          .select(col("id_a"), col("id_b"))
          .join(ws.withColumnsRenamed(Map("id" -> "id_a", "ws" -> "ws_a")), "id_a")
          .join(ws.withColumnsRenamed(Map("id" -> "id_b", "ws" -> "ws_b")), "id_b")
      }
    attached
      .withColumn("jaccard", call_function("graft_sorted_long_jaccard", col("ws_a"), col("ws_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .dropDuplicates("id_a", "id_b")
  }

  /** EXACT set-similarity self-join by positional prefix filtering (the
    * SSJoin/PPJoin candidate scheme, Chaudhuri et al. ICDE'06 / Xiao et al.
    * WWW'08): order every document's tokens by ascending global document
    * frequency (rarest first, (df, token) as the total order), keep only the
    * first |s| − ⌈t·|s|⌉ + 1 tokens as the PREFIX, and equi-join documents on
    * shared prefix tokens. Any pair with Jaccard ≥ t must share at least one
    * prefix token under a common total order — so unlike MinHash+LSH this
    * candidate set has PROVABLY perfect recall and the output equals the
    * O(n²) all-pairs scan, while generating candidates via one equi-join on
    * the rarest tokens in the corpus (the frequency order exists precisely to
    * keep hot tokens out of prefixes).
    *
    * Scale shape: token doc-frequencies are one aggregate over the exploded
    * distinct-token table; the prefix cut is a per-doc streaming window
    * (partition = doc); candidates shuffle on prefix token; verification is
    * [[verifyCandidatePairs]] (size-ratio prefilter + native sorted merge).
    * No O(n²) operator anywhere. Empty docs have no prefix, so the
    * (empty, empty) = 1.0 pairs are emitted by a separate bounded arm —
    * exact-collapse empties upstream ([[representatives]]) when a corpus can
    * hold many.
    *
    * The prefix length uses ⌈t·|s| − 1e−9⌉: IEEE `t·|s|` can land a hair
    * ABOVE the exact rational (0.9·10 = 9.000000000000002), and rounding the
    * overlap bound UP would shorten the prefix — a recall hole. The epsilon
    * only ever lengthens prefixes (extra candidates, never missed ones).
    */
  def prefixFilterJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      broadcastAttach: Boolean = true
  ): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1]: $threshold")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // one token-hash table feeds df-counts, prefixes, and both verify joins
    val ws = hashedWordSets(Par.spread(docs, col(idCol)), idCol, textCol).localCheckpoint()
    // size attached BEFORE the explode (row-local on the array), so the
    // prefix cut needs no second window over the exploded table
    val exploded = ws.select(col("id"), size(col("ws")).as("sz"), explode(col("ws")).as("tok"))
    // distinct-per-doc upstream ⇒ count(*) IS the document frequency
    val dfreq = exploded.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ord = Window.partitionBy(col("id")).orderBy(col("df"), col("tok"))
    val prefix = exploded
      .join(dfreq, "tok")
      .withColumn("__pf_rn", row_number().over(ord))
      .filter(col("__pf_rn") <=
        col("sz") - ceil(lit(threshold) * col("sz") - lit(1e-9)) + lit(1))
      .select(col("id"), col("tok"), col("__pf_rn"), col("sz"))
    val a = prefix.select(col("id").as("id_a"), col("tok"),
      col("__pf_rn").as("rn_a"), col("sz").as("sz_a"))
    val rawPairs = a
      .join(prefix.select(col("id").as("id_b"), col("tok"),
        col("__pf_rn").as("rn_b"), col("sz").as("sz_b")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      // size filter at candidate time: jaccard ≥ t forces min/max ≥ t —
      // an O(1) integer compare that kills a pair before it ever reaches
      // the (heavier) verify attach
      .filter(least(col("sz_a"), col("sz_b")).cast("double")
        / greatest(col("sz_a"), col("sz_b")).cast("double") >= threshold)
      // PPJoin POSITION filter: a shared token at 1-based df-order ranks
      // (i, j) bounds the overlap by 1 + min(szA−i, szB−j); jaccard ≥ t
      // needs overlap ≥ ⌈t/(1+t)·(szA+szB)⌉ (|A∩B| ≥ t·|A∪B| with
      // |A∪B| = |A|+|B|−|A∩B|). For a TRUE pair every shared-occurrence
      // satisfies the bound (overlap itself is ≤ every occurrence's ub), so
      // filtering occurrences never loses the pair; the ε only ever relaxes
      // the requirement (fp-safe direction, same as the prefix length)
      .filter(lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b"))
        >= ceil(lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b")) - lit(1e-9)))
      .select(col("id_a"), col("id_b"))
    val verified = verifyCandidatePairs(rawPairs, ws, threshold, broadcastAttach)
    // prefix-less empty docs: empty∪empty = jaccard 1.0 by the corpus
    // convention (q23's oracle CASE) — bounded arm, see Scaladoc
    val empties = ws.filter(size(col("ws")) === 0).select(col("id"))
    val emptyPairs = empties.select(col("id").as("id_a"))
      .join(empties.select(col("id").as("id_b")), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    verified.unionAll(emptyPairs)
  }

  /** 64-bit SimHash over the token bag: per bit, sum +1/−1 votes weighted by
    * token occurrences, take the sign. Order-independent (bag semantics) and
    * row-local; near-identical bags differ in few bits (compare with
    * [[hammingDistance]]). Token hash is MD5-derived (bytes 8..15), so the
    * whole sketch is recomputable in DuckDB SQL — the q25 oracle gate.
    * Column-level helper — requires graft function registration on the
    * session (`GraftFunctions.register` or the GraftExtensions conf).
    */
  def simHash(tokens: Column): Column =
    // native one-pass expression (graft.functions.SimHash64) — the
    // equivalent aggregate/zip_with HOF form dispatches tokens×64 interpreted
    // lambdas per row and measured ~20× slower at sf0.1
    call_function("graft_simhash", tokens)

  /** Hamming distance between two 64-bit sketches. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs at Hamming distance ≤ `maxHamming` (< 4) via
    * pigeonhole banding (the Manku/Google simhash-dedup scheme): split the
    * 64-bit sketch into 4 disjoint 16-bit bands — at distance ≤ 3 at least
    * one band is untouched, so candidates come from an equi-join on
    * (band index, band value) keys with recall 1.0; the exact
    * `bit_count(xor)` verify removes band-collision false positives.
    * O(4n) keys, never the O(n²) cross join the oracle runs.
    *
    * The sketch is carried as two NONNEGATIVE 32-bit halves (hi, lo) so
    * every shift/xor stays in safe positive BIGINT space on both engines —
    * the same reason the q25 oracle never assembles the signed 64-bit
    * value.
    */
  def simHashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      s"4-band pigeonhole guarantees recall only for hamming < 4: $maxHamming")
    graft.functions.GraftFunctions.register(df.sparkSession)
    val sh = simHash(TextAnalysis.tokens(col(textCol)))
    val base = df
      .select(col(idCol).as("__sh_id"), sh.as("__sh"))
      .select(col("__sh_id"),
        shiftrightunsigned(col("__sh"), 32).bitwiseAND(lit(0xFFFFFFFFL)).as("__sh_hi"),
        col("__sh").bitwiseAND(lit(0xFFFFFFFFL)).as("__sh_lo"))
      .localCheckpoint() // feeds the band explosion and both verify joins
    // one long key per band: bandIdx * 2^16 + bandValue (disjoint ranges)
    val bandKeys = array(
      col("__sh_lo").bitwiseAND(lit(0xFFFFL)),
      shiftrightunsigned(col("__sh_lo"), 16).bitwiseAND(lit(0xFFFFL)) + lit(1L << 16),
      col("__sh_hi").bitwiseAND(lit(0xFFFFL)) + lit(2L << 16),
      shiftrightunsigned(col("__sh_hi"), 16).bitwiseAND(lit(0xFFFFL)) + lit(3L << 16))
    val v = base.select(col("__sh_id"), explode(bandKeys).as("__sh_key"))
    val cand = v.as("a")
      .join(v.as("b"),
        col("a.__sh_key") === col("b.__sh_key") && col("a.__sh_id") < col("b.__sh_id"))
      .select(col("a.__sh_id").as("id_a"), col("b.__sh_id").as("id_b"))
      .distinct()
    cand
      .join(base.select(col("__sh_id").as("id_a"),
        col("__sh_hi").as("hi_a"), col("__sh_lo").as("lo_a")), Seq("id_a"))
      .join(base.select(col("__sh_id").as("id_b"),
        col("__sh_hi").as("hi_b"), col("__sh_lo").as("lo_b")), Seq("id_b"))
      .withColumn("hamming",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components by iterative min-label propagation: every node
    * starts labeled with its own id; each round a node takes the minimum of
    * its label and its neighbors' labels, until a fixpoint. The component
    * label is therefore the component's minimum node id — deterministic on
    * any engine, partitioning, or iteration schedule (min is idempotent,
    * commutative, associative).
    *
    * This is the step after near-dup PAIR detection in a dedup pipeline:
    * pairs only say "a≈b"; choosing one survivor per duplicate GROUP needs
    * the transitive closure. Each round is one shuffle (join on dst + groupBy
    * id); rounds needed = component diameter, which for near-dup cliques is
    * 1–2. The per-round convergence check is a driver-side count action —
    * index-build-style control flow, same as [[graft.ops.Similarity.ivfTopK]].
    * (At web scale swap in large-star/small-star [Kiveris et al.] for
    * path-shaped graphs; the API stays the same.)
    *
    * @param nodes single-column frame of node ids (isolated nodes keep their
    *              own id as component)
    * @param edges two-column frame (id_a, id_b), undirected
    * @return the fixpoint labeling (id, component), backed by the final
    *         round's local checkpoint (materialized — reading it does not
    *         replay the iterations; blocks are freed with the RDD by the
    *         context cleaner)
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame, maxIters: Int = 20): DataFrame = {
    val idName = nodes.columns.head
    val Seq(aName, bName) = edges.columns.take(2).toSeq
    // materialize the edge list once: it is re-joined EVERY round, and the
    // caller's edge plan is typically expensive (e.g. an O(n²) similarity
    // scan) — without the persist each iteration would replay it from source
    val sym = edges
      .select(col(aName).as("src"), col(bName).as("dst"))
      .unionAll(edges.select(col(bName).as("src"), col(aName).as("dst")))
      .transform(Par.spread(_, col("dst")))
      .persist()
    val nEdges = sym.count()
    // partition-size the ROUNDS from the measured edge count: every round
    // is a join + groupBy over the label table, and at full shuffle width a
    // small graph (thousands of near-dup edges) pays 32-task shuffles ×
    // 2 × rounds for microseconds of real work — measured 4.4 s of a 9 s
    // cascade at sf0.1. ~100k edges per partition keeps big graphs wide
    // (the 100 TB case plans at full width, unaffected) and collapses
    // small ones onto a few tasks. The conf is scoped to the loop and
    // restored in finally — each round plans inside the loop, so it picks
    // the narrow width up; AQE can't substitute here because every round's
    // localCheckpoint materializes before post-shuffle coalescing applies
    // to the NEXT plan.
    val sess = nodes.sparkSession
    val shuffleKey = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevShuffle = sess.conf.get(shuffleKey)
    val prevAqe = sess.conf.get(aqeKey)
    val roundParts = Par.roundParts(sess, nEdges)
    // below ~1M edges the rounds are already known-narrow, and AQE's
    // per-job re-optimization is pure overhead (measured: 3.3 s → 2.2 s
    // for the sf0.1 cascade's CC); large graphs keep AQE for skew/coalesce
    val smallGraph = nEdges < 1000000L
    // localCheckpoint each round: the recurrence references `labels` TWICE
    // (self ∪ neighbor-propagated), so without lineage truncation the logical
    // plan doubles per round — exponential driver-side analysis cost and an
    // eventual OOM. Checkpointing pins each round's result as a LogicalRDD:
    // constant plan size, constant round cost.
    // Each round's localCheckpoint pins its blocks until the session's
    // ContextCleaner happens to GC the dropped DataFrame — on a large driver
    // heap that can be never, and N rounds of corpus-sized label tables
    // accumulate in the block manager (measured: repeated cascade runs in
    // one session degraded 10× from exactly this). The label chain frees
    // the PREVIOUS round eagerly once the next round is materialized; only
    // the returned round stays pinned (its blocks ARE the result — a
    // localCheckpoint cannot be recomputed).
    val labelChain = new Graph.RoundChain(sess.sparkContext)
    val symBChain = new Graph.RoundChain(sess.sparkContext)
    var labels = labelChain.ckpt(Par.spread(
      nodes.select(col(idName).as("id"), col(idName).as("component")), col("id")))
    sess.conf.set(shuffleKey, roundParts.toString)
    if (smallGraph) sess.conf.set(aqeKey, "false")
    var symB: DataFrame = null
    try {
      val compType = labels.schema("component").dataType
      var converged = false
      var it = 0
      // LAZY exchange-free rounds (round-7; the coreness device applied
      // only where it pays): near-dup cliques converge by round 3 in the
      // union form and must not pay any setup, but a run still unconverged
      // at round 5 is a HIGH-DIAMETER graph with many rounds ahead — so at
      // that point, if the label table is broadcastable (measured count),
      // the adjacency is augmented once with one self-loop per labeled id
      // and re-partitioned by src: each further round is one BHJ
      // (broadcast labels) + one src-keyed aggregate reusing the cached
      // partitioning, the self-loop row carrying the node's own previous
      // label (dst = src picks it) — no Union, no label-table exchange.
      // (Shipping this form UNCONDITIONALLY measured ~0.3 s SLOWER on the
      // clique-shaped gates — §8.8#11a; the lazy switch keeps them intact.)
      // One broadcast step per materialized round: chaining k steps per
      // checkpoint (the coreness stepsPerCheckpoint device) measured SLOWER
      // at k=2/3/4 (round-12, q332 solo min-of-3: 3.37 / 3.49 / 3.44 /
      // 3.74 s for k=1..4) — path-halving fires once per checkpoint, so
      // longer blocks barely cut the block count (15 → 12 at k=2) while
      // per-block analysis and broadcast cost grows.
      def ensureSymB(): Unit =
        if (symB == null) {
          // self-loops over labels ∪ ALL endpoints: an id can still ENTER
          // the labeling after the switch (a chain of endpoints outside
          // `nodes` walks in one hop per round), and without its self-loop
          // its own label would not self-propagate — min over neighbors
          // alone could regress. One distinct at switch time buys the
          // invariant for every possible later id.
          val loops = labels.select(col("id"))
            .unionAll(sym.select(col("dst").as("id"))).distinct()
            .select(col("id").as("src"), col("id").as("dst"))
          val raw = sym.select(col("src"), col("dst")).unionAll(loops)
            .transform(Par.spread(_, col("src")))
          // LOCAL CHECKPOINT, not persist(): symB's raw lineage reads
          // the switch-round label checkpoint, which the label chain frees
          // once this round is checkpointed. A persisted symB whose cache
          // ever misses (an evicted block, or a plan clone the
          // CacheManager does not match) would replan against those freed
          // blocks and fail with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; a
          // LogicalRDD has no lineage to replan. Partition-preserving, so
          // the src partitioning stays visible to every later round; freed
          // in the finally.
          symB = Graph.ckptKeepPartitioning(symBChain, raw)
        }
      def bcastStep(): DataFrame = {
        ensureSymB()
        val l = broadcast(labels)
        symB.join(l, symB("dst") === l("id"))
          .groupBy(symB("src").as("id"))
          .agg(min(col("component")).as("component"),
            max(when(col("dst") === col("src"), col("component"))).as("prev"))
      }
      // broadcast-bound probe, decided ONCE: the r7 form re-ran
      // `labels.count()` as an extra Spark action every round ≥5 until the
      // switch fired (or forever, if the bound failed). One count of the
      // round-5 checkpoint (a LogicalRDD — no recompute) decides for good:
      // the final label table is bounded by that count + nEdges (any id
      // entering later is an endpoint of `sym`), so the decision stays
      // valid for every later round.
      var bcastProbed = false
      var bcastOk = false
      // label-table row count of the last materialized round, read off the
      // same observe() metrics as the convergence count — zero extra
      // actions; -1 until the first round lands
      var lastLabelCount = -1L
      while (!converged && it < maxIters) {
        // carry the previous label through the aggregation (max over one
        // non-null + nulls) so convergence is a cheap scan of the
        // checkpointed round instead of an extra join+shuffle per round
        def unionStep(): DataFrame = {
          val nbr = sym
            .join(labels, sym("dst") === labels("id"))
            .select(col("src").as("id"), col("component"),
              lit(null).cast(compType).as("prev"))
          labels.select(col("id"), col("component"), col("component").as("prev"))
            .unionAll(nbr)
            .groupBy(col("id"))
            .agg(min(col("component")).as("component"), max(col("prev")).as("prev"))
        }
        val useBcast = it >= 5 && (symB != null || {
          if (!bcastProbed) {
            bcastProbed = true
            // the previous round's observed row count — ZERO extra actions
            // (r7 re-ran labels.count() every round past 5); the final
            // table is bounded by this + nEdges since any later entrant is
            // a sym endpoint, so deciding once stays sound
            bcastOk = lastLabelCount >= 0 && lastLabelCount + nEdges <= bcastLabelBound
          }
          bcastOk
        })
        val agg = if (useBcast) bcastStep() else unionStep()
        // PATH-HALVING from round 3 on, FUSED into the round plan:
        // component := prevLabel(component) — the Shiloach–Vishkin shortcut
        // that turns diameter-bound convergence into log-diameter. Near-dup
        // cliques (diameter 1–2) converge before this engages and keep the
        // one-shuffle round; high-diameter graphs (grid/spatial adjacency:
        // diameter = O(span), measured ~50 rounds for q332's core blob)
        // compress their label chains instead of walking them one hop per
        // round. The shortcut joins the PREVIOUS checkpointed round (a
        // LogicalRDD — no recompute, no plan doubling), not the current
        // aggregate: one hop lagged, but it fuses into the SAME checkpoint
        // job instead of paying a second materialization per round (the r7
        // form's extra ckpt was ~0.1 s/round of pure job overhead on small
        // graphs). Sound because a label is always an id INSIDE its
        // component (own id initially; neighbor mins and chain hops stay
        // inside), labels only decrease, and every component value present
        // at round N was some node's id-row in round N-1 (label rows never
        // leave the table), so the left join covers it; coalesce keeps the
        // value when it doesn't.
        // engage at round 3 as measured in r7 — or one round EARLIER when
        // the previous round's label table is broadcast-small: the fused
        // shortcut is then one BHJ inside the same job (near-free), and on
        // clique-tail graphs like q58's it converges one round sooner
        val halveNow =
          it >= 3 || (it >= 2 && lastLabelCount >= 0 && lastLabelCount <= bcastLabelBound)
        val halved =
          if (halveNow) {
            // a LogicalRDD reports no stats (defaultSizeInBytes = huge), so
            // without the hint this join never broadcasts and each halving
            // round paid an exchange (measured +0.1 s/round on small
            // graphs); the previous round's observed row count makes the
            // decision measured, not guessed — big label tables keep the
            // shuffle join
            val parent =
              labels.select(col("id").as("pid"), col("component").as("pcomp"))
            val p = if (lastLabelCount >= 0 && lastLabelCount <= bcastLabelBound)
              broadcast(parent) else parent
            agg.join(p, agg("component") === col("pid"), "left")
              .select(agg("id"),
                coalesce(col("pcomp"), agg("component")).as("component"),
                agg("prev"))
          } else agg
        // convergence count FUSED into the checkpoint job via observe():
        // the metric accumulates while the checkpoint materializes, so each
        // round is ONE job instead of ckpt + a separate filter-count scan
        // (measured: the separate count was ~40% of small-graph round
        // cost). null-safe inequality: an edge endpoint absent from `nodes`
        // enters via propagation with NULL prev — it must count as changed
        // (plain =!= is NULL there and would let the loop stop before its
        // label transits through), and it stays in the labeling (the graph
        // adopts edge endpoints as nodes). changed==0 still certifies the
        // min-neighbor fixpoint: at the fixpoint the shortcut is the
        // identity (every component value is a root labeling itself).
        val obs = org.apache.spark.sql.Observation(s"graft_cc_round_$it")
        // the chain frees the previous round: fully consumed by this checkpoint
        labels = labelChain.ckpt(halved.observe(
          obs,
          count(when(!(col("component") <=> col("prev")), lit(1))).as("changed"),
          count(lit(1)).as("cnt"))).select(col("id"), col("component"))
        val changed = obs.get("changed").asInstanceOf[Long]
        lastLabelCount = obs.get("cnt").asInstanceOf[Long]
        converged = changed == 0
        it += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIters rounds — the " +
            "graph has a component with diameter > maxIters; raise maxIters " +
            "(or use a doubling scheme) rather than consuming a mid-chain labeling")
      RoundTrace.record("cc", it)
      labelChain.keep() // the returned round's blocks ARE the result
      labels.select(col("id").as(idName), col("component"))
    } finally {
      sess.conf.set(shuffleKey, prevShuffle)
      sess.conf.set(aqeKey, prevAqe)
      sym.unpersist()
      symBChain.free() // symB is a local checkpoint; its blocks ARE the frame
      ()
    }
  }

  /** All pairs within Levenshtein distance 1 via FastSS deletion
    * neighborhoods (Bocek et al. 2007): each string emits itself plus every
    * single-character deletion as candidate keys; two strings within one
    * edit (substitution, insert, or delete) necessarily share a key, so a
    * key-equijoin finds every true pair — O(n·L) keys instead of the O(n²)
    * cross join (the oracle arm). Candidates are distinct-collapsed before
    * the exact banded-levenshtein verify, which removes the false positives
    * (shared deletion ⇒ distance ≤ 2, not ≤ 1).
    *
    * The deletion expansion is a codegen'd `transform(sequence(...))` HOF —
    * bounded by string length, no UDF. Key skew mirrors natural-language
    * name distributions (a hot key = many near-identical strings); the
    * distinct-collapse caps the verify volume at the true candidate count.
    */
  def editDistance1Pairs(df: DataFrame, idCol: String, strCol: String): DataFrame =
    editDistancePairs(df, idCol, strCol, k = 1)

  /** FastSS edit-distance-≤k join, k ∈ {1, 2}: strings within edit distance
    * k share a common member of their ≤k-deletion neighborhoods (each
    * substitution deletes one char from BOTH sides, each insert/delete from
    * one), so candidate pairs come from an equi-join on deletion-variant
    * keys — O(n·L^k) keys, never the O(n²) cross join — and the banded
    * `levenshtein(_, _, k)` verify removes shared-variant false positives
    * exactly. Recall 1.0 by the FastSS theorem (Bocek et al. 2007).
    *
    * Collision volume is data-dependent: near-uniform key-like strings
    * (serial numbers) collide hard at k = 2 because deleting two of the few
    * varying positions leaves big equivalence classes. That is a property
    * of the DATA's true near-neighbor density — the output itself is the
    * same size — not of the device; the candidate table stays (id, key)
    * pairs so the hot buckets shuffle longs, not strings.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String, k: Int): DataFrame = {
    require(k == 1 || k == 2, s"editDistancePairs supports k in {1, 2}: $k")
    val base = df
      .select(col(idCol).as("__ed_id"), col(strCol).as("__ed_s"))
      .filter(col("__ed_s").isNotNull)
      .localCheckpoint() // feeds the variant explosion and both attach joins
    // candidate generation ships only (id, key): the ~L^k-fold key explosion
    // never carries the strings, and the collision distinct runs on two
    // longs-and-a-hash worth of bytes, not four string columns (measured
    // 5.7 s → 2.7 s warm at sf0.1 on 15 k names vs the string-through form)
    val del1 =
      "transform(sequence(1, length(__ed_s)), i -> " +
        "concat(substr(__ed_s, 1, i - 1), substr(__ed_s, i + 1)))"
    // delete positions i < j: s[1..i-1] + s[i+1..j-1] + s[j+1..]; the
    // sequence guard matters — sequence(2, 1) would DESCEND, not empty
    val del2 =
      """CASE WHEN length(__ed_s) < 2 THEN CAST(array() AS ARRAY<STRING>)
        |ELSE flatten(transform(sequence(2, length(__ed_s)), j ->
        |  transform(sequence(1, j - 1), i ->
        |    concat(substr(__ed_s, 1, i - 1), substr(__ed_s, i + 1, j - i - 1),
        |      substr(__ed_s, j + 1))))) END""".stripMargin
    val keys =
      if (k == 1) expr(s"array_distinct(concat(array(__ed_s), $del1))")
      else expr(s"array_distinct(concat(array(__ed_s), $del1, $del2))")
    val v = base.select(col("__ed_id"), explode(keys).as("__ed_key"))
    val candIds = v.as("a")
      .join(v.as("b"),
        col("a.__ed_key") === col("b.__ed_key") && col("a.__ed_id") < col("b.__ed_id"))
      .select(col("a.__ed_id").as("id_a"), col("b.__ed_id").as("id_b"))
      .distinct()
    candIds
      .join(base.select(col("__ed_id").as("id_a"), col("__ed_s").as("s_a")), Seq("id_a"))
      .join(base.select(col("__ed_id").as("id_b"), col("__ed_s").as("s_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b"), k).as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** Exact cross-document substring dedup at gram granularity — the Lee et
    * al. 2021 ExactSubstr transform (arXiv:2107.06499 §4.1; their reference
    * tool builds a monolithic suffix array — here the same maximal shared
    * runs fall out of a DISTRIBUTED gram-position index, which is the form
    * that scales past one machine). A token position is DUPLICATED when the
    * n-gram starting there occurs in at least `minDocs` DISTINCT documents;
    * consecutive duplicated positions merge into maximal runs (the
    * gap-and-island trick: pos − row_number is constant inside a run), each
    * run covering tokens [start, end + n − 1]; runs whose covered ranges
    * overlap or touch (island gap < n) merge into disjoint removal spans
    * via a prefix-max interval union; every covered token is then cut from
    * its document. By default ALL occurrences are removed (symmetric,
    * engine-stable, what the reference tool does by default);
    * `keepMinOwner = true` is the keep-one-copy variant — each shared gram
    * designates its minimum doc_id as the canonical owner, and positions
    * are only removed in NON-owner documents, so one copy of every shared
    * run survives the corpus. min(doc_id) is a deterministic canonical
    * order, which is what makes keep-one hash-gateable (a "first seen"
    * rule would depend on scan order). Within-doc repeats do NOT
    * trigger removal (distinct-DOC counting) — that signal is
    * [[dupGramStats]]'s; this operator is the cross-doc span-removal step
    * a pretraining pipeline runs corpus-wide.
    *
    * Scale shape: the gram-position table is O(total tokens) and shuffles
    * on the gram string (doc-frequency aggregate + semi-join back) and on
    * doc_id (island/union windows — doc-length-bounded partitions, never
    * global); per-doc removal spans collect into one doc-bounded array and
    * apply as a codegen'd exists-filter over the token array. No pairwise
    * comparisons, no suffix array, no driver state — every stage is
    * key-partitioned, so the plan survives a 1000-executor corpus run.
    *
    * Output: one row per input document —
    * (doc_id, n_tokens, n_spans, n_removed, clean_text), clean_text the
    * surviving tokens re-joined with single spaces; docs shorter than n
    * tokens or with no cross-doc grams pass through with n_spans = 0.
    */
  def removeSharedSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 10,
      minDocs: Int = 2,
      keepMinOwner: Boolean = false
  ): DataFrame = {
    require(n >= 2 && n <= 64, s"gram width must be in [2,64]: $n")
    require(minDocs >= 2, s"minDocs must be >= 2 (cross-doc counting): $minDocs")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val W = org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("doc_id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    val grams = base
      .select(col("doc_id"),
        posexplode(call_function("graft_ngrams", col("toks"), lit(n))))
      .toDF("doc_id", "pos", "gram")
      .localCheckpoint() // feeds the doc-frequency aggregate AND the semi-join
    val shared = grams.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"), min(col("doc_id")).as("own"))
      .filter(col("nd") >= minDocs)
      .select(col("gram"), col("own"))
    val dup =
      if (keepMinOwner)
        // inner join attaches the canonical owner; the owner doc keeps its
        // copy, every other doc's position is marked for removal
        grams.join(shared, Seq("gram")).filter(col("doc_id") =!= col("own"))
          .select(col("doc_id"), col("pos"))
      else grams.join(shared.select(col("gram")), Seq("gram"), "left_semi")
    val wPos = W.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = dup
      .withColumn("grp", col("pos") - row_number().over(wPos))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(n - 1)).as("e"))
    // interval union: a run starting at or before prev-max-end + 1 continues
    // the same removal span (touching ranges are one contiguous cut)
    val wRun = W.partitionBy(col("doc_id")).orderBy(col("s"))
    val merged = runs
      .withColumn("pmax",
        max(col("e")).over(wRun.rowsBetween(W.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1L).otherwise(0L))
      .withColumn("span_id",
        sum(col("brk")).over(wRun.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val perDoc = merged.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("spans"),
        count(lit(1)).as("n_spans"))
    base.join(perDoc, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("toks")).otherwise(
          expr("filter(toks, (t, i) -> NOT exists(spans, sp -> i >= sp.s AND i <= sp.e))")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }
}
