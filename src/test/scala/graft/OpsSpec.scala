package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Relational, Similarity, TextAnalysis}

/** Property-style checks for the operators whose semantics aren't covered by
  * the DuckDB oracle (approximate/hash-based ops), plus plumbing the oracle
  * can't see (multimodal decode batching, as-of join edge cases).
  */
class OpsSpec extends SparkTestBase {
  import org.apache.spark.sql.DataFrame

  private lazy val docs: DataFrame = Tables(spark, sf(), "documents").cache()

  test("simhash is bag-invariant: shuffled word order ⇒ identical sketch") {
    val base = docs.select(
      col("doc_id"),
      Dedup.simHash(TextAnalysis.tokens(col("text"))).as("sh_orig"),
      // reverse the token array — different order, same bag
      Dedup.simHash(reverse(TextAnalysis.tokens(col("text")))).as("sh_rev")
    )
    assert(base.filter(col("sh_orig") =!= col("sh_rev")).count() == 0)
  }

  test("simhash of near-identical bags differs in few bits") {
    // word-SET-identical docs (jaccard 1.0 via q23 logic) may differ as bags
    // (multiplicities), so allow a small hamming distance.
    val ws = docs.select(col("doc_id"), Dedup.wordSetSignature(col("text")).as("sig"),
      Dedup.simHash(TextAnalysis.tokens(col("text"))).as("sh"))
    val pairs = ws.as("a").join(ws.as("b"),
      col("a.sig") === col("b.sig") && col("a.doc_id") < col("b.doc_id"))
      .select(Dedup.hammingDistance(col("a.sh"), col("b.sh")).as("hd"))
    val stats = pairs.agg(count(lit(1)).as("n"), avg(col("hd")).as("mean_hd")).collect().head
    assert(stats.getAs[Long]("n") > 0, "expected set-identical pairs in the corpus")
    assert(stats.getAs[Double]("mean_hd") < 16.0,
      s"set-identical docs should be simhash-close, mean hd=${stats.getAs[Double]("mean_hd")}")
  }

  test("minhash-LSH near-dups: high recall vs exact jaccard, zero false positives") {
    // same cascade as q24: collapse exact set-dups, then LSH on representatives
    val reps = Dedup.representatives(docs, "doc_id", "text").cache()
    val exact = Dedup
      .jaccardPairs(reps, "doc_id", "text", threshold = 0.95, maxId = Long.MaxValue)
      .select(col("id_a"), col("id_b")).cache()
    val lsh = Dedup
      .verifiedNearDups(reps, "doc_id", "text", threshold = 0.95, numHashes = 96, bands = 8)
      .select(col("id_a"), col("id_b")).cache()
    val nExact = exact.count()
    val nLsh = lsh.count()
    val falsePos = lsh.join(exact, Seq("id_a", "id_b"), "left_anti").count()
    assert(falsePos == 0, "verified LSH pairs must all satisfy the exact threshold")
    assert(nExact > 0)
    assert(nLsh >= (nExact * 0.9).toLong, s"LSH recall too low: $nLsh/$nExact")
  }

  test("broadcastAttach=false (shuffle attach) equals the broadcast path") {
    // the corpus-scale attach form must be result-identical to the
    // broadcast form — only the physical join strategy may differ
    val nd = Dedup
      .verifiedNearDups(docs, "doc_id", "text", threshold = 0.9, numHashes = 64, bands = 8)
      .collect().map(_.toSeq).toSet
    val ndShuffle = Dedup
      .verifiedNearDups(docs, "doc_id", "text", threshold = 0.9, numHashes = 64, bands = 8,
        broadcastAttach = false)
      .collect().map(_.toSeq).toSet
    assert(nd.nonEmpty && nd == ndShuffle, "verifiedNearDups attach paths diverged")

    val emb = Tables(spark, sf(), "embeddings")
    val ann = Similarity
      .annTopK(emb, "vec_id", "embedding", k = 3, planes = 6, numTables = 4, probeBits = 1)
      .collect().map(_.toSeq).toSet
    val annShuffle = Similarity
      .annTopK(emb, "vec_id", "embedding", k = 3, planes = 6, numTables = 4, probeBits = 1,
        broadcastAttach = false)
      .collect().map(_.toSeq).toSet
    assert(ann.nonEmpty && ann == annShuffle, "annTopK attach paths diverged")
  }

  test("prefix-filter jaccard join equals the exact all-pairs scan") {
    // recall-1.0 is a THEOREM for the prefix scheme — so the differential
    // against the O(n²) scan must be exact equality (ids AND scores), on
    // both attach paths
    val exact = Dedup
      .jaccardPairs(docs, "doc_id", "text", threshold = 0.9, maxId = Long.MaxValue)
      .collect().map(_.toSeq).toSet
    val pfx = Dedup
      .prefixFilterJaccardPairs(docs, "doc_id", "text", threshold = 0.9)
      .collect().map(_.toSeq).toSet
    val pfxShuffle = Dedup
      .prefixFilterJaccardPairs(docs, "doc_id", "text", threshold = 0.9,
        broadcastAttach = false)
      .collect().map(_.toSeq).toSet
    assert(exact.nonEmpty, "corpus should contain near-dup pairs at 0.9")
    assert(pfx == exact, s"prefix-filter diverged from all-pairs: " +
      s"missed=${(exact -- pfx).size} extra=${(pfx -- exact).size}")
    assert(pfxShuffle == exact, "shuffle-attach prefix-filter diverged")
  }

  test("prefix-filter jaccard: empty docs, exact-boundary threshold, identical docs") {
    import spark.implicits._
    // A/B share 9 of 10 tokens: jaccard = 9/10 = 0.9 EXACTLY — the boundary
    // pair the fp-naive prefix length (ceil(0.9·10) = 10 in IEEE) would
    // silently drop; C == A (jaccard 1.0); D/E empty (jaccard 1.0 by the
    // corpus convention); F disjoint (no pairs)
    val hand = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (3L, "t10 t9 t8 t7 t6 t5 t4 t3 t2 t1"),
      (4L, ""),
      (5L, "   "),
      (6L, "zz yy xx")
    ).toDF("doc_id", "text")
    val got = Dedup
      .prefixFilterJaccardPairs(hand, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 0.9), (1L, 3L, 1.0), (2L, 3L, 0.9), (4L, 5L, 1.0)),
      s"unexpected pair set: $got")
  }

  test("native ngrams ≡ the HOF transform+slice+array_join form it replaced") {
    // differential guard: the corpus documents (all sizes, boundary
    // whitespace shapes, size < n) must gram identically under the native
    // expression and the reference higher-order-function composition
    for (n <- Seq(2, 3, 5)) {
      val toks = TextAnalysis.tokens(col("text"))
      val hof = when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
      val diff = docs
        .select(TextAnalysis.ngrams(col("text"), n).as("native"), hof.as("hof"))
        .filter(!(col("native") <=> col("hof")))
        .count()
      assert(diff == 0, s"n=$n: $diff rows diverge")
    }
  }

  test("containment pairs: excerpt⊂document scores 1.0 one-way, jaccard-low pairs surface") {
    import spark.implicits._
    val full = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val excerpt = "gamma delta epsilon zeta eta theta" // contiguous slice: all its 3-grams appear in full
    val other = "one two three four five six seven eight nine ten"
    val df = Seq((0L, full), (1L, excerpt), (2L, other)).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.9, maxId = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // directed: the excerpt is contained in the full doc, not vice versa
    assert(pairs.get((1L, 0L)).contains(1.0), pairs)
    assert(!pairs.contains((0L, 1L)), pairs)
    assert(!pairs.exists { case ((a, b), _) => a == 2L || b == 2L }, pairs)
  }

  test("rolling fingerprint: equal token sequences ⇒ equal fingerprints, stable across runs") {
    val fp1 = docs.select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text")).as("fp"))
    val fp2 = docs.select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text")).as("fp"))
    assert(fp1.join(fp2, Seq("doc_id")).filter(fp1("fp") =!= fp2("fp")).count() == 0)
    // a shared 4-token window between two docs bounds the min-fingerprint:
    // identical full texts always agree
    val self = docs.limit(5).select(
      TextAnalysis.rollingFingerprint(col("text")).as("a"),
      TextAnalysis.rollingFingerprint(concat(col("text"), lit(""))).as("b"))
    assert(self.filter(col("a") =!= col("b")).count() == 0)
  }

  test("ann LSH top-k: equal vectors share buckets; recall vs brute force is reasonable") {
    val emb = Tables(spark, sf(), "embeddings")
    val brute = Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val ann = Similarity
      .annTopK(emb, "vec_id", "embedding", k = 5, planes = 8, numTables = 10, probeBits = 2)
      .filter(col("query_id") < 50)
      .select(col("query_id"), col("neighbor_id"))
    val hit = ann.join(brute, Seq("query_id", "neighbor_id")).count()
    val total = brute.count()
    // multi-probe (Hamming-2 flips) recovers the recall that the narrow
    // 8-plane buckets cut from the candidate volume: 0.989 measured at
    // sf0.1, ~2.7× faster than 6 planes × 8 tables × probe-1 (0.920);
    // the probe-less 4-plane config measured ≈0.73
    assert(total == 250)
    assert(hit.toDouble / total > 0.8, s"ANN recall collapsed: $hit/$total")
  }

  test("ann IVF top-k: deterministic centroids; recall vs brute force is reasonable") {
    val emb = Tables(spark, sf(), "embeddings")
    val brute = Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    // SAME configuration q55 ships (iters = 1) so the spec actually covers
    // the gate query, not a sibling config
    val ivf = Similarity
      .ivfTopK(emb, "vec_id", "embedding", k = 5, nlist = 32, nprobe = 8, iters = 1)
    // every vector produces a full top-k (no query starved by cell pruning)
    assert(ivf.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
    val hit = ivf.filter(col("query_id") < 50).select(col("query_id"), col("neighbor_id"))
      .join(brute, Seq("query_id", "neighbor_id")).count()
    val total = brute.count()
    // integer-arithmetic centroids are run-deterministic; on these
    // near-random vectors nprobe/nlist = 1/4 of cells still finds ≈2/3 of
    // true neighbors (measured 0.66 at sf0.01 with one Lloyd round)
    assert(total == 250)
    assert(hit.toDouble / total > 0.4, s"IVF recall collapsed: $hit/$total")
    // determinism across runs: identical output
    val again = Similarity
      .ivfTopK(emb, "vec_id", "embedding", k = 5, nlist = 32, nprobe = 8, iters = 1)
    assert(ivf.exceptAll(again).count() == 0 && again.exceptAll(ivf).count() == 0)
  }

  test("IVF remove: tombstones leave results, survivors keep cells, occupancy triggers compaction") {
    import spark.implicits._
    val emb = Tables(spark, sf(), "embeddings")
    val removed = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    val ann = Similarity.ivfRemoveTopK(emb, removed, "vec_id", "embedding",
      k = 5, nlist = 32, nprobe = 8, iters = 1)
    // no removed id on either side of any result
    assert(ann.filter(col("query_id") % 7 === 0 || col("neighbor_id") % 7 === 0)
      .count() == 0)
    // every surviving query still gets a full top-k
    assert(ann.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
    // cell-for-cell: survivors keep exactly their pre-removal assignment
    // (the check that fails if the delete path ever retrains)
    val pre = Similarity.ivfAssign(emb, emb, "vec_id", "embedding", nlist = 32, iters = 1)
      .filter(col("id") % 7 =!= 0)
    val post = Similarity.ivfRemoveAssign(emb, removed, "vec_id", "embedding",
      nlist = 32, iters = 1)
    assert(pre.exceptAll(post).count() == 0 && post.exceptAll(pre).count() == 0)
    // occupancy accounting: per cell, live + removed == total, and the
    // compaction flag is exactly the threshold predicate
    val occ = Similarity.ivfCellOccupancy(emb, removed, "vec_id", "embedding",
      nlist = 32, iters = 1, liveThreshold = 0.9)
    val byCell = Similarity.ivfAssign(emb, emb, "vec_id", "embedding", nlist = 32, iters = 1)
      .withColumn("rm", (col("id") % 7 === 0).cast("int"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("t2"), sum(col("rm")).as("r2"))
    val joined = occ.join(byCell, Seq("cell"))
    assert(joined.count() > 0)
    assert(joined.filter(col("total") =!= col("t2") ||
      col("live") =!= col("total") - col("r2")).count() == 0,
      "occupancy must account every member as live xor removed, cell-for-cell")
    assert(occ.filter(col("compact") =!=
      (col("live_frac") < lit(0.9))).count() == 0)
    // ~14% removed roughly uniformly: at a 0.9 live threshold SOME cells
    // must flag for compaction, and at 0.05 none may
    assert(occ.filter(col("compact")).count() > 0)
    val none = Similarity.ivfCellOccupancy(emb, removed, "vec_id", "embedding",
      nlist = 32, iters = 1, liveThreshold = 0.05)
    assert(none.filter(col("compact")).count() == 0)
    // removing EVERY member of some cells: those cells appear with live=0
    val allGone = Similarity.ivfCellOccupancy(emb, emb.select(col("vec_id")),
      "vec_id", "embedding", nlist = 32, iters = 1)
    assert(allGone.filter(col("live") =!= 0).count() == 0)
    assert(allGone.filter(col("compact") === false).count() == 0)
  }

  test("Misra-Gries: heavy items survive eviction pressure on any partitioning") {
    import spark.implicits._
    // vocab (1 + 400) ≫ k = 8: the sketch MUST evict; the guarantee says any
    // item with freq > n/(k+1) still survives. hot: 1000 of n = 1400 ≫ 1400/9.
    val data = Seq.fill(1000)("hot") ++ (1 to 400).map(i => s"rare$i")
    for (parts <- Seq(1, 7)) {
      val ds = spark.createDataset(scala.util.Random.shuffle(data)).repartition(parts)
      // select on a typed Dataset with a TypedColumn yields Dataset[Map[...]]
      val mg = ds.select(new graft.ops.Aggregators.MisraGries(8).toColumn.name("mg"))
        .collect()(0)
      assert(mg.size <= 8, s"summary exceeded k: ${mg.size}")
      assert(mg.contains("hot"), s"heavy item evicted (parts=$parts): $mg")
      // undercount bounded by n/(k+1)
      assert(mg("hot") >= 1000 - (1400 / 9 + 1), s"undercount too large: ${mg("hot")}")
    }
  }

  test("count-min: never undercounts any key, partition-invariant, SQL probe matches slot()") {
    import spark.implicits._
    val agg = new graft.ops.Aggregators.CountMin(4, 64) // small width forces collisions
    val data = Seq.fill(500)("hot") ++ (1 to 300).map(i => s"k$i")
    val exact = data.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    def build(parts: Int): Array[Long] =
      spark.createDataset(data).repartition(parts)
        .select(xxhash64(col("value")).as("h")).as[Long]
        .select(agg.toColumn.name("cms")).collect()(0)
    val t1 = build(1)
    assert(java.util.Arrays.equals(t1, build(9)), "merge must be partition-invariant")
    // scala-side estimate via the published slot(); never below the true count
    def estScala(k: String): Long = {
      val h = spark.range(1).select(xxhash64(lit(k))).as[Long].collect()(0)
      (0 until 4).map(r => t1(r * 64 + agg.slot(h, r))).min
    }
    exact.foreach { case (k, n) =>
      assert(estScala(k) >= n, s"CMS undercounted $k: ${estScala(k)} < $n")
    }
    // the SQL probe expression used by q156 lands on the same slots
    val est = least((0 until 4).map(r => expr(
      s"element_at(cms, CAST($r * 64 + ((h & 4294967295) + $r * shiftrightunsigned(h, 32)) % 64 + 1 AS INT))")): _*)
    val viaSql = Seq("hot", "k1", "k299").toDF("k")
      .crossJoin(spark.createDataset(Seq(t1)).toDF("cms"))
      .withColumn("h", xxhash64(col("k")))
      .select(est.as("e")).as[Long].collect().toList
    assert(viaSql == List(estScala("hot"), estScala("k1"), estScala("k299")),
      s"SQL probe diverged from slot(): $viaSql")
  }

  test("tokens: boundary whitespace never yields empty tokens; null/blank → empty array") {
    import spark.implicits._
    val got = Seq("a\tb", "a\t", "\ta", "  a  b  ", " ", "", null.asInstanceOf[String], "a\nb\r\nc")
      .toDF("text")
      .select(TextAnalysis.tokens(col("text")).as("toks"))
      .collect()
      .map(_.getSeq[String](0).toList)
    assert(got.toList == List(
      List("a", "b"), List("a"), List("a"), List("a", "b"),
      Nil, Nil, Nil, List("a", "b", "c")))
  }

  test("PQ encoding: codes in range, deterministic, asymmetric top-k recall reasonable") {
    val emb = Tables(spark, sf(), "embeddings")
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", subspaces = 16, codebookSize = 256)
    val row = enc.selectExpr("size(codes)", "array_max(codes)", "array_min(codes)", "size(recon)")
      .agg(max(col("size(codes)")), max(col("array_max(codes)")), min(col("array_min(codes)")), max(col("size(recon)")))
      .collect()(0)
    assert(row.getInt(0) == 16 && row.getInt(1) <= 255 && row.getInt(2) >= 0 && row.getInt(3) == 64)
    // determinism across runs
    val enc2 = Similarity.pqEncode(emb, "vec_id", "embedding", subspaces = 16, codebookSize = 256)
    assert(enc.select("id", "codes").exceptAll(enc2.select("id", "codes")).count() == 0)
    // asymmetric-distance recall vs exact brute force
    val brute = Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val pq = Similarity
      .pqTopK(emb, "vec_id", "embedding", k = 5, queryMaxId = 50, subspaces = 16, codebookSize = 256)
      .select(col("query_id"), col("neighbor_id"))
    val hit = pq.join(brute, Seq("query_id", "neighbor_id")).count()
    val total = brute.count()
    // 128-bit codes vs 2048-bit exact vectors: 0.81 recall measured at sf0.01
    assert(total == 250)
    assert(hit.toDouble / total > 0.5, s"PQ recall collapsed: $hit/$total")
  }

  test("connected components: path, clique, and isolated nodes label by min id") {
    import spark.implicits._
    val nodes = (1L to 8L).toDF("id")
    // path 1-2-3-4 (diameter 3 forces multiple propagation rounds),
    // clique {5,6,7}, isolated 8
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L))

    // edge endpoint absent from nodes: the graph adopts it and the label
    // must still transit THROUGH it (regression: NULL prev once made its
    // change invisible to the convergence check, stranding node 2 at 2)
    val got2 = Dedup.connectedComponents(
      Seq(1L, 2L).toDF("id"),
      Seq((1L, 3L), (3L, 2L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connected components: high-diameter path exercises the broadcast regime") {
    import spark.implicits._
    // diameter 63 — far past the round-5 broadcast switch, so the broadcast
    // rounds and the path-halving shortcut both engage; the fixpoint
    // labeling must still be the min id per component
    val n = 64L
    val nodes = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, edges, maxIters = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until n).map(_ -> 0L).toMap,
      "high-diameter path must label every node with the min id")

    // ids ENTERING the labeling after the broadcast switch (edge endpoints
    // absent from `nodes`, reachable only late in the propagation): their
    // NULL prev must keep the loop alive until their labels settle
    val tail = Seq((n - 1, 1000L), (1000L, 1001L), (1001L, 1002L))
    val got2 = Dedup.connectedComponents(
      (0L until n).toDF("id"),
      ((0L until n - 1).map(i => (i, i + 1)) ++ tail).toDF("id_a", "id_b"),
      maxIters = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2(1002L) == 0L && got2(1000L) == 0L,
      "entrant chain must transit the component label to its end")
  }

  test("connected components match a local union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(12345)
    for (trial <- 1 to 3) {
      val n = 30 + trial * 20
      val edges = Seq.fill(n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // local union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = Dedup.connectedComponents(
        (0L until n.toLong).toDF("id"),
        edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // union-find with min-root merging yields the same min-id labels only
      // after path compression to the true root — `find` above does that
      assert(got == want, s"trial $trial: CC disagreed with union-find")
    }
  }

  test("multimodal decodeMedia: real BMP/WAV header parse, malformed-safe, partition-parallel") {
    import spark.implicits._
    def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def bmp(w: Int, h: Int, bpp: Int): Array[Byte] =
      "BM".getBytes ++ le32(54) ++ le32(0) ++ le32(54) ++ // file header
        le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(bpp) ++ Array.fill(24)(0.toByte)
    def wav(ch: Int, rate: Int, bits: Int, junkChunkFirst: Boolean): Array[Byte] = {
      val fmt = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(ch) ++ le32(rate) ++
        le32(rate * ch * bits / 8) ++ le16(ch * bits / 8) ++ le16(bits)
      // odd-sized junk chunk before fmt: exercises the chunk scan + RIFF even padding
      val junk = if (junkChunkFirst) "JUNK".getBytes ++ le32(3) ++ Array[Byte](1, 2, 3, 0) else Array.emptyByteArray
      val body = junk ++ fmt ++ "data".getBytes ++ le32(0)
      "RIFF".getBytes ++ le32(4 + body.length) ++ "WAVE".getBytes ++ body
    }
    val payloads = Seq(
      (1L, bmp(640, 480, 24)),
      (2L, bmp(1, 1, 1)),
      (3L, wav(2, 44100, 16, junkChunkFirst = false)),
      (4L, wav(1, 8000, 8, junkChunkFirst = true)),
      (5L, "not media at all".getBytes),
      (6L, Array.emptyByteArray),
      (7L, null.asInstanceOf[Array[Byte]]),
      (8L, bmp(9, 9, 32).take(20)) // truncated mid-header
    )
    val df = payloads.toDF("id", "payload").repartition(4)
    val out = Multimodal.decodeMedia(df, "payload")
    assert(out.schema("decoded").dataType == Multimodal.mediaSchema)
    val got = out.select(col("id"), col("decoded.*")).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(got(1L) == Seq("bmp", 640, 480, 24, null, null, null))
    assert(got(2L) == Seq("bmp", 1, 1, 1, null, null, null))
    assert(got(3L) == Seq("wav", null, null, null, 2, 44100, 16))
    assert(got(4L) == Seq("wav", null, null, null, 1, 8000, 8))
    Seq(5L, 6L, 7L, 8L).foreach { id =>
      assert(got(id) == Seq("unknown", null, null, null, null, null, null), s"id=$id")
    }
    // deterministic across runs (the q86 gate also hash-verifies this end-to-end)
    val again = Multimodal.decodeMedia(df, "payload").select(col("id"), col("decoded.*")).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(again == got)
  }

  test("multimodal decodeMedia: PNG IHDR / JPEG SOF parse, malformed-safe") {
    import spark.implicits._
    def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be32(v: Int): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val pngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    def png(w: Int, h: Int, depth: Int, ctype: Int): Array[Byte] =
      pngSig ++ be32(13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h) ++
        Array(depth.toByte, ctype.toByte, 0, 0, 0).map(_.toByte) ++ be32(0) // CRC unchecked
    def jpeg(w: Int, h: Int, ncomp: Int, app0First: Boolean): Array[Byte] = {
      val app0 = Array(0xff, 0xe0).map(_.toByte) ++ be16(16) ++
        "JFIF".getBytes ++ Array[Byte](0, 1, 1, 0) ++ be16(1) ++ be16(1) ++ Array[Byte](0, 0)
      val sof = Array(0xff, 0xc0).map(_.toByte) ++ be16(8 + 3 * ncomp) ++ Array(8.toByte) ++
        be16(h) ++ be16(w) ++ Array(ncomp.toByte) ++
        (1 to ncomp).flatMap(i => Seq(i.toByte, 0x11.toByte, 0.toByte))
      Array(0xff, 0xd8).map(_.toByte) ++ (if (app0First) app0 else Array.emptyByteArray) ++
        sof ++ Array(0xff, 0xd9).map(_.toByte)
    }
    val payloads = Seq(
      (1L, png(1920, 1080, 8, 2)),   // RGB 8 → bpp 24, ch 3
      (2L, png(7, 5, 16, 6)),        // RGBA 16 → bpp 64, ch 4
      (3L, png(3, 3, 8, 0)),         // gray → bpp 8, ch 1
      (4L, png(3, 3, 8, 3)),         // palette → bpp 8, ch 1
      (5L, jpeg(640, 480, 3, app0First = true)),
      (6L, jpeg(12, 34, 1, app0First = false)),
      (7L, png(3, 3, 8, 5)),                 // invalid color type
      (8L, pngSig ++ be32(13) ++ "IDAT".getBytes), // IHDR not first
      (9L, Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)), // EOI before any SOF
      // FF fill-byte padding before a segment marker (ITU T.81 §B.1.1.2):
      // the padding bytes must be skipped, not read as a length field
      (10L, Array(0xff, 0xd8, 0xff, 0xff, 0xff).map(_.toByte) ++
        jpeg(64, 32, 3, app0First = true).drop(2)),
      // standalone markers (TEM 0x01, RST4 0xD4) carry NO length — the
      // walk must advance 2 bytes, not parse the next bytes as BE16 length
      (11L, Array(0xff, 0xd8, 0xff, 0x01, 0xff, 0xd4).map(_.toByte) ++
        jpeg(48, 24, 1, app0First = false).drop(2))
    )
    val got = Multimodal.decodeMedia(payloads.toDF("id", "payload").repartition(3), "payload")
      .select(col("id"), col("decoded.*")).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(got(1L) == Seq("png", 1920, 1080, 24, 3, null, null))
    assert(got(2L) == Seq("png", 7, 5, 64, 4, null, null))
    assert(got(3L) == Seq("png", 3, 3, 8, 1, null, null))
    assert(got(4L) == Seq("png", 3, 3, 8, 1, null, null))
    assert(got(5L) == Seq("jpeg", 640, 480, 24, 3, null, null))
    assert(got(6L) == Seq("jpeg", 12, 34, 8, 1, null, null))
    Seq(7L, 8L, 9L).foreach { id =>
      assert(got(id) == Seq("unknown", null, null, null, null, null, null), s"id=$id")
    }
    assert(got(10L) == Seq("jpeg", 64, 32, 24, 3, null, null))
    assert(got(11L) == Seq("jpeg", 48, 24, 8, 1, null, null))
  }

  test("charNgrams: native expression is differential-equal to the HOF form") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // ASCII, multi-byte (é, 汉), shorter-than-n, exactly-n, empty, null
    val rows = Seq(
      (1L, "the quick brown fox"), (2L, "héllo wörld"), (3L, "汉字漢字 test"),
      (4L, "ab"), (5L, "abc"), (6L, ""), (7L, null)
    ).toDF("id", "s")
    for (n <- Seq(2, 3, 5)) {
      val hof = expr(s"CASE WHEN length(s) >= $n THEN " +
        s"transform(sequence(1, length(s) - ${n - 1}), i -> substring(s, i, $n)) " +
        "ELSE CAST(array() AS array<string>) END")
      // NULL is the one designed divergence: the native expression
      // NULL-propagates (like every graft_* expression) where the HOF's
      // CASE falls through to the empty array — explode() erases the
      // difference at every call site
      val diff = rows.filter(col("s").isNotNull).select(col("id"),
        graft.ops.TextAnalysis.charNgrams(col("s"), n).as("native"), hof.as("hof"))
        .filter(!(col("native") <=> col("hof")))
      assert(diff.count() == 0, s"n=$n: ${diff.collect().mkString(";")}")
      assert(rows.filter(col("id") === 7L)
        .select(graft.ops.TextAnalysis.charNgrams(col("s"), n)).head().isNullAt(0))
    }
  }

  test("trigramLangId: deterministic held-out predictions, full coverage, und on empty text") {
    import spark.implicits._
    // synthetic corpus with genuinely distinct trigram statistics per label
    val rows = (0L until 200L).map { i =>
      val lang = Seq("aa", "bb", "cc")((i % 3).toInt)
      val word = lang match {
        case "aa" => "alpha amble area"; case "bb" => "bubble bobble brook"
        case _ => "cocoa clock occur"
      }
      (i, lang, (word + " ") * 5)
    } :+ ((200L, "aa", ""))
    val df = rows.toDF("doc_id", "lang", "text")
    val out = graft.ops.TextAnalysis.trigramLangId(df, "doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // every held-out doc appears exactly once
    val heldOut = rows.filter { case (id, _, _) =>
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(id.toString).take(8), 16) % 5 == 4
    }.map(_._1).toSet
    assert(out.map(_._1).toSet == heldOut && out.length == heldOut.size)
    // with distinct trigram profiles the held-out accuracy is perfect for
    // non-empty docs, and the empty doc (if held out) predicts und
    out.foreach { case (id, actual, pred) =>
      if (id == 200L) assert(pred == "und") else assert(pred == actual, s"doc $id")
    }
    // deterministic across runs
    val again = graft.ops.TextAnalysis.trigramLangId(df, "doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(again.sortBy(_._1).sameElements(out.sortBy(_._1)))
  }

  test("PII redaction masks emails, urls, and digit runs; repetition flags repeats") {
    import spark.implicits._
    val df = Seq(
      (1L, "contact me at alice.smith+x@example.co.uk today"),
      (2L, "see https://spark.apache.org/docs for info"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "clean text without secrets"),
      (5L, "spam spam spam spam spam"),
      (6L, "one")
    ).toDF("id", "text")
    val out = df.select(col("id"),
      TextAnalysis.redactPII(col("text")).as("red"),
      TextAnalysis.ngramRepetition(col("text"), 2).as("rep"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(out(1)._1 == "contact me at <EMAIL> today")
    assert(out(2)._1 == "see <URL> for info")
    assert(out(3)._1 == "call +<NUMBER> now")
    assert(out(4)._1 == "clean text without secrets")
    assert(out(5)._2 == 0.75, s"4 identical bigrams of 4 -> 0.75, got ${out(5)._2}")
    assert(out(6)._2 == 0.0, "single token has no bigrams")
  }

  test("as-of join: exact-timestamp match and no-earlier-row NULL") {
    import spark.implicits._
    val left = Seq((1L, 100L, "2024-01-01 10:00:00"), (2L, 100L, "2024-01-01 09:00:00"))
      .toDF("eid", "uid", "ts_s")
      .select(col("eid"), col("uid"), to_timestamp(col("ts_s")).as("ts"))
    val right = Seq((100L, "2024-01-01 10:00:00", 77L), (100L, "2024-01-01 09:30:00", 55L))
      .toDF("uid", "ts_s", "oid")
      .select(col("uid"), to_timestamp(col("ts_s")).as("ots"), col("oid"))
    val out = Relational
      .asofJoinBackward(left, right, "uid", "ts", "ots", Seq("oid"))
      .orderBy(col("eid"))
      .collect()
    assert(out(0).getAs[Long]("oid") == 77L, "right row at exactly leftTs must match")
    assert(out(1).isNullAt(out(1).fieldIndex("oid")), "no earlier right row ⇒ NULL")
  }

  test("knn label audit: cluster-consistent labels pass, the planted error is flagged") {
    import spark.implicits._
    // two tight clusters on orthogonal axes; id 2 sits in cluster A but
    // carries cluster B's label — the planted label error
    val emb = Seq(
      (0L, Array(1.0f, 0f, 0f, 0f), 1),
      (1L, Array(0.9f, 0.1f, 0f, 0f), 1),
      (2L, Array(0.95f, 0.05f, 0f, 0f), 2), // mislabeled
      (3L, Array(0f, 1.0f, 0f, 0f), 2),
      (4L, Array(0f, 0.9f, 0.1f, 0f), 2),
      (5L, Array(0f, 0.95f, 0.05f, 0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelAudit(emb, "vec_id", "embedding", "label", k = 2, maxQueryId = 6)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getBoolean(5)))).toMap
    // id 2's two nearest are 0 and 1 (label 1) -> majority 1, own 2 -> suspect
    assert(got(2L) == ((2, 1, true)), s"planted error: ${got(2L)}")
    // its cluster-mates see one vote each way (the mislabeled neighbor) —
    // tie breaks to the SMALLER label, which equals their own
    assert(got(0L) == ((1, 1, false)) && got(1L) == ((1, 1, false)), s"cluster A: $got")
    // cluster B is label-pure
    assert(Seq(3L, 4L, 5L).forall(i => got(i) == ((2, 2, false))), s"cluster B: $got")
  }

  test("sorted neighborhood: window bounds candidates, jaccard verifies, blocks isolate") {
    import spark.implicits._
    // one block; sort key = text, so the two apple-docs and the two
    // zebra-docs are rank-adjacent while the families sit far apart
    val docs = Seq(
      (1L, "blk", "apple banana cherry"),
      (2L, "blk", "apple banana cherry date"),
      (3L, "blk", "zebra yak xray"),
      (4L, "blk", "zebra yak xray walrus")
    ).toDF("doc_id", "src", "text")
    def run(w: Int, thr: Double = 0.5) = Dedup
      .sortedNeighborhoodPairs(docs, "doc_id", "text",
        blockCol = col("src"), sortKey = col("text"), windowSize = w, threshold = thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // w=2: only rank-adjacent pairs compared; both families found, the
    // cross-family adjacency (2,3) has jaccard 0 and is verified away
    assert(run(2) == Set((1L, 2L), (3L, 4L)), s"w=2: ${run(2)}")
    // full window: no additional TRUE pairs exist, output unchanged
    assert(run(4) == Set((1L, 2L), (3L, 4L)))

    // rank distance beats similarity: an explicit sort key puts an
    // unrelated doc BETWEEN the near-dup pair; w=2 misses the pair
    // (distance 2), w=3 recovers it
    val wedge = Seq(
      (1L, "blk", "apple banana cherry", "a1"),
      (5L, "blk", "totally unrelated words", "a2"),
      (2L, "blk", "apple banana cherry date", "a3")
    ).toDF("doc_id", "src", "text", "sk")
    val w2 = Dedup.sortedNeighborhoodPairs(wedge, "doc_id", "text",
        col("src"), col("sk"), windowSize = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val w3 = Dedup.sortedNeighborhoodPairs(wedge, "doc_id", "text",
        col("src"), col("sk"), windowSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!w2.contains((1L, 2L)) && w3.contains((1L, 2L)), s"w2=$w2 w3=$w3")

    // different blocks never pair, even with identical text
    val split = Seq((1L, "b1", "same text here"), (2L, "b2", "same text here"))
      .toDF("doc_id", "src", "text")
    assert(Dedup.sortedNeighborhoodPairs(split, "doc_id", "text",
      col("src"), col("text"), windowSize = 4, threshold = 0.1).count() == 0)
  }

  test("editDistance1Pairs: equals the quadratic levenshtein join on random strings") {
    import spark.implicits._
    // random short strings over a tiny alphabet — dense with substitutions,
    // insertions, deletions, exact duplicates, and distance-2 decoys that a
    // shared deletion key must NOT let through
    val rnd = new scala.util.Random(11)
    val strs = (1 to 120).map(i =>
      (i.toLong, (1 to (3 + rnd.nextInt(4))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    val df = strs.toDF("id", "s")
    val brute = df.as("a").join(df.as("b"), col("a.id") < col("b.id"))
      .filter(levenshtein(col("a.s"), col("b.s")) <= 1)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    val got = Dedup.editDistance1Pairs(df, "id", "s")
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(got == brute, s"extra=${got -- brute} missing=${brute -- got}")
    assert(got.nonEmpty, "degenerate fixture: no close pairs generated")
  }

  test("simHashNearDups: equals the quadratic hamming join; bands never lose a pair") {
    import spark.implicits._
    // near-dup texts differing in one token (small sketch distance) plus
    // unrelated texts; exact duplicates (hamming 0) and empty docs (sketch
    // 0 on both) must pair too
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"), // 1-token edit of doc 1
      (3L, "alpha beta gamma delta epsilon zeta"), // exact dup of doc 1
      (4L, "completely different words entirely here now"),
      (5L, ""), (6L, "")
    ).toDF("doc_id", "text")
    val got = Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet
    // quadratic reference over the same sketches
    graft.functions.GraftFunctions.register(spark)
    val sh = docs.select(col("doc_id"),
      Dedup.simHash(graft.ops.TextAnalysis.tokens(col("text"))).as("sh"))
    val brute = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.hammingDistance(col("a.sh"), col("b.sh")).cast("int").as("d"))
      .filter(col("d") <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute, s"extra=${got -- brute} missing=${brute -- got}")
    assert(got.contains((1L, 3L, 0)), "exact dup must appear at hamming 0")
    assert(got.contains((5L, 6L, 0)), "empty docs share the zero sketch")
  }

  test("editDistancePairs k=2: equals the quadratic levenshtein join, incl. 1-char strings") {
    import spark.implicits._
    // distance-2 pairs need 2-deletion variants; distance-3 decoys that
    // share a 2-deletion key must be killed by the banded verify. Includes
    // length-1 and length-2 strings (the del2 CASE guard's edge).
    val rnd = new scala.util.Random(17)
    val strs = (1 to 100).map(i =>
      (i.toLong, (1 to (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    val df = strs.toDF("id", "s")
    val brute = df.as("a").join(df.as("b"), col("a.id") < col("b.id"))
      .filter(levenshtein(col("a.s"), col("b.s")) <= 2)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet
    val got = Dedup.editDistancePairs(df, "id", "s", k = 2)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(got == brute, s"extra=${got -- brute} missing=${brute -- got}")
    assert(got.nonEmpty, "degenerate fixture: no close pairs generated")
    // the verify must report the true distance, not just membership
    val dists = Dedup.editDistancePairs(df, "id", "s", k = 2)
      .select(col("edit_dist")).as[Int].collect()
    assert(dists.forall(d => d >= 0 && d <= 2), s"bad distances: ${dists.toSet}")
  }

  test("dominantDirection: matches explicit Gram power iteration; flags a planted axis") {
    import spark.implicits._
    // 40 vectors mostly along dim 1 (with noise on dims 0/2): the dominant
    // direction must put |component| = 1e6 on dim 1 and small values elsewhere
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array(0.01f * (i % 5), if (i % 2 == 0) 0.9f else -0.9f, 0.02f * (i % 3)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.dominantDirection(df, "vec_id", "embedding", dims = 3)
      .orderBy(col("dim")).as[(Int, Long)].collect()
    assert(got.map(_._1).toSeq == Seq(0, 1, 2))
    assert(math.abs(got(1)._2) == 1000000L, s"planted axis not dominant: ${got.toSeq}")
    assert(math.abs(got(0)._2) < 200000L && math.abs(got(2)._2) < 200000L)
    // differential vs explicit Gram arithmetic (exact integer mirror)
    val q = vecs.map { case (_, e) => e.map(x => math.round(x.toDouble * 1000000L)) }
    val d = 3
    val g = Array.tabulate(d, d)((i, j) => q.map(r => BigInt(r(i)) * BigInt(r(j))).sum)
    val v1 = Array.tabulate(d)(i => (0 until d).map(j => g(i)(j)).sum)
    def norm(v: Array[BigInt]): Array[Long] = {
      val m = v.map(_.abs).max
      v.map(x => (x.signum * (x.abs * 1000000 / m)).toLong)
    }
    val u1 = norm(v1)
    val t = q.map(r => (0 until d).map(i => BigInt(r(i)) * u1(i)).sum)
    val v2 = Array.tabulate(d)(i => q.indices.map(r => BigInt(q(r)(i)) * t(r)).sum)
    assert(got.map(_._2).toSeq == norm(v2).toSeq, "no-Gram formulation diverges from Gram form")
  }

  test("multisetJaccardPairs: multiplicity-aware — equals brute force, differs from set form") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a a a b"), // vs doc1: same vocab (set jaccard 1.0) but Σmin=2, Σmax=6 → 1/3
      (1L, "a b b b"),
      (2L, "a a a b"), // exact dup of 0 -> wj 1.0
      (3L, "c d")
    ).toDF("doc_id", "text")
    val got = Dedup.multisetJaccardPairs(docs, "doc_id", "text", threshold = 0.0, maxId = 10L)
      .as[(Long, Long, Double)].collect().map(r => ((r._1, r._2), r._3)).toMap
    assert(got((0L, 2L)) == 1.0)
    assert(math.abs(got((0L, 1L)) - 2.0 / 6.0) < 1e-12,
      s"multiset semantics wrong: ${got((0L, 1L))}")
    assert(got((0L, 3L)) == 0.0)
    // the set-granularity form scores (0,1) at 1.0 — same vocab; the
    // multiset form must NOT
    val setJ = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.9, maxId = 10L)
      .as[(Long, Long, Double)].collect().map(r => ((r._1, r._2), r._3)).toMap
    assert(setJ((0L, 1L)) == 1.0 && got((0L, 1L)) < 0.9)
  }

  test("aHash: decodes bottom-up rows and stride padding; malformed payloads yield NULL") {
    import spark.implicits._
    // hand-built 2x2 24bpp BMP, stride 8 (2*3 -> padded to 8): logical image
    //   top row:    200 200
    //   bottom row:  10  10
    // stored bottom-up: row0=bottom first. mean=105 -> bits: top pixels 1.
    // logical index: (0,0)=0, (0,1)=1, (1,0)=2, (1,1)=3 -> lo = 0b0011 = 3
    def le32h(v: Int) = f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x${(v >> 16) & 0xff}%02x${(v >> 24) & 0xff}%02x"
    def px(v: Int) = f"$v%02x$v%02x$v%02x"
    val hex = "424d" + le32h(54 + 16) + "00000000" + le32h(54) +
      le32h(40) + le32h(2) + le32h(2) + "0100" + "1800" + ("00" * 24) +
      px(10) + px(10) + "0000" + // stored row 0 = logical BOTTOM row + 2 pad bytes
      px(200) + px(200) + "0000" // stored row 1 = logical TOP row
    val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val df = Seq((1L, bytes), (2L, Array[Byte](1, 2, 3)), (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val got = Multimodal.aHash(df, "payload")
      .select(col("id"), col("ahash_lo"), col("ahash_hi"))
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1)
    assert(got(0) == ((1L, Some(3L), Some(0L))),
      s"orientation/stride decode wrong: ${got(0)} (a top-down reader gets lo=12)")
    assert(got(1)._2.isEmpty && got(2)._2.isEmpty, "malformed payloads must be NULL, not crash")
  }

  test("blockMeanResize: exact ragged-edge pooling on a bottom-up 3x3 BMP") {
    import spark.implicits._
    // 3x3 24bpp BMP, stride 12 (3*3=9 -> padded to 12). Logical image
    // (top to bottom): [1 2 3] / [4 5 6] / [7 8 9] — stored bottom-up.
    def le32h(v: Int) = f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x${(v >> 16) & 0xff}%02x${(v >> 24) & 0xff}%02x"
    def px(v: Int) = f"$v%02x$v%02x$v%02x"
    def row(a: Int, b: Int, c: Int) = px(a) + px(b) + px(c) + "000000"
    val hex = "424d" + le32h(54 + 36) + "00000000" + le32h(54) +
      le32h(40) + le32h(3) + le32h(3) + "0100" + "1800" + ("00" * 24) +
      row(7, 8, 9) + row(4, 5, 6) + row(1, 2, 3) // bottom-up storage
    val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val df = Seq((1L, bytes), (2L, Array[Byte](1, 2))).toDF("id", "payload")
    val got = Multimodal.blockMeanResize(df, "payload", factor = 2)
      .select(col("id"), col("cy"), col("cx"), col("n_px"), col("sum_gray"))
      .collect().map(r => ((r.getInt(1), r.getInt(2)), (r.getLong(3), r.getLong(4)))).toMap
    // factor 2 on 3x3 -> 2x2 cells with ragged edges:
    // (0,0)={1,2,4,5}=12/4  (0,1)={3,6}=9/2  (1,0)={7,8}=15/2  (1,1)={9}=9/1
    assert(got == Map((0, 0) -> (4L, 12L), (0, 1) -> (2L, 9L),
      (1, 0) -> (2L, 15L), (1, 1) -> (1L, 9L)), s"$got")
    // malformed payload yields no rows (id 2 absent entirely)
    assert(Multimodal.blockMeanResize(df, "payload", 2)
      .filter(col("id") === 2L).count() == 0)
  }

  test("pcmFrames: chunk walk, signed int16, partial frame; non-PCM yields no rows") {
    import spark.implicits._
    def le32h(v: Int) = f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x${(v >> 16) & 0xff}%02x${(v >> 24) & 0xff}%02x"
    def le16h(v: Int) = f"${v & 0xff}%02x${(v >> 8) & 0xff}%02x"
    def s16(v: Int) = le16h(v & 0xffff)
    // 5 samples: [100, -100, 50, -2048, 0] → frames of 2:
    //   f0: [100,-100]  energy 20000, peak 100, zcr 1
    //   f1: [50,-2048]  energy 2500+4194304, peak 2048, zcr 1
    //   f2: [0]         energy 0, peak 0, zcr 0 (partial frame, n=1)
    val data = s16(100) + s16(-100) + s16(50) + s16(-2048) + s16(0)
    // an ODD-size junk chunk before fmt exercises the pad-to-even walk
    val junk = "6a756e6b" + le32h(3) + "aabbcc" + "00"
    val fmt = "666d7420" + le32h(16) + le16h(1) + le16h(1) + le32h(8000) +
      le32h(16000) + le16h(2) + le16h(16)
    val dataCk = "64617461" + le32h(10) + data
    def riff(body: String) = "52494646" + le32h(4 + body.length / 2) + "57415645" + body
    val good = riff(junk + fmt + dataCk)
    // stereo (channels=2) must be rejected
    val stereo = riff("666d7420" + le32h(16) + le16h(1) + le16h(2) + le32h(8000) +
      le32h(32000) + le16h(4) + le16h(16) + dataCk)
    def bytes(hex: String) = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val df = Seq((1L, bytes(good)), (2L, bytes(stereo)),
      (3L, Array[Byte](1, 2)), (4L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val got = Multimodal.pcmFrames(df, "payload", frameSamples = 2)
      .select(col("id"), col("frame_idx"), col("n_samples"), col("energy"),
        col("peak"), col("zero_crossings"))
      .as[(Long, Int, Int, Long, Int, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      (1L, 0, 2, 20000L, 100, 1),
      (1L, 1, 2, 4196804L, 2048, 1),
      (1L, 2, 1, 0L, 0, 0)), s"$got")
  }

  test("pcmBlockStats: differential vs javax.sound on generated multi-channel WAVs") {
    import spark.implicits._
    def wavBytes(channels: Int, samples: Array[Array[Short]]): Array[Byte] = {
      val nFrames = samples(0).length
      val dataLen = nFrames * channels * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1); bb.putShort(channels.toShort)
      bb.putInt(8000); bb.putInt(8000 * channels * 2)
      bb.putShort((channels * 2).toShort); bb.putShort(16)
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      for (f <- 0 until nFrames; c <- 0 until channels) bb.putShort(samples(c)(f))
      bb.array()
    }
    val rnd = new scala.util.Random(42)
    // (channels, frames): 37 and 50 exercise the partial last block
    for ((nc, nf) <- Seq((1, 37), (2, 64), (3, 50))) {
      val samples = Array.fill(nc, nf)((rnd.nextInt(65536) - 32768).toShort)
      val bytes = wavBytes(nc, samples)
      // REFERENCE decode through the JDK's own WAV parser: javax.sound
      // must agree with our chunk walk on format AND on every sample
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      assert(fmt.getChannels == nc && fmt.getSampleSizeInBits == 16 &&
        !fmt.isBigEndian && fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
        s"javax.sound disagrees on the header: $fmt")
      val raw = ais.readAllBytes()
      assert(raw.length == nf * nc * 2, "javax.sound frame count")
      def js(c: Int, f: Int): Int = {
        val o = 2 * (f * nc + c)
        (((raw(o + 1) & 0xff) << 8) | (raw(o) & 0xff)).toShort.toInt
      }
      // expected per-(block, channel) stats computed FROM the javax.sound
      // samples, with the same fixed-point RMS
      val expected = (for {
        start <- 0 until nf by 16
        c <- 0 until nc
      } yield {
        val end = math.min(start + 16, nf)
        val vs = (start until end).map(js(c, _))
        val energy = vs.map(v => v.toLong * v).sum
        ((start / 16, c), (end - start, energy, vs.map(math.abs).max,
          Multimodal.isqrt(energy * 1000000L / (end - start))))
      }).toMap
      val got = Multimodal.pcmBlockStats(
        Seq(Tuple1(bytes)).toDF("payload"), "payload", blockFrames = 16)
        .select(col("block_idx"), col("channel"), col("n_frames"),
          col("energy"), col("peak"), col("rms_milli"))
        .as[(Int, Int, Int, Long, Int, Long)].collect()
        .map(r => ((r._1, r._2), (r._3, r._4, r._5, r._6))).toMap
      assert(got == expected, s"channels=$nc frames=$nf:\n$got\nvs\n$expected")
      // the fixed-point RMS tracks the real RMS to within one milli-unit
      got.foreach { case ((_, _), (n, energy, _, rmsMilli)) =>
        val real = math.sqrt(energy.toDouble / n) * 1000.0
        assert(math.abs(rmsMilli - real) <= 1.0 + 1e-6,
          s"rms_milli $rmsMilli vs real $real")
      }
    }
    // malformed / non-PCM payloads yield no rows, nulls survive
    val bad = Seq((1L, Array[Byte](1, 2, 3)),
      (2L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    assert(Multimodal.pcmBlockStats(bad, "payload").count() == 0)
  }

  test("matrixProfileDaily: finds the repeated weekly pattern, excludes trivial matches") {
    import spark.implicits._
    import java.sql.Timestamp
    // one user, 21 days: days 0-6 and 14-20 carry the identical pattern
    // (1,2,3,1,2,3,1); days 7-13 are flat 9s. With window=7, exclusion=4
    // the motif must be (0, 14) with d2 = 0 — (0,7)/(7,14) are far.
    val pat = Seq(1, 2, 3, 1, 2, 3, 1)
    val counts = pat ++ Seq.fill(7)(9) ++ pat
    val rows = for {
      (n, d) <- counts.zipWithIndex
      k <- 0 until n
    } yield (42L, Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:${k % 60}%02d:00"))
    val got = graft.ops.Events.matrixProfileDaily(
        rows.toDF("user_id", "ts"), col("user_id"), col("ts"))
      .as[(Long, Int, Int, Long)].collect().toSeq
    assert(got == Seq((42L, 0, 14, 0L)), s"$got")
  }

  test("graft_nfc: recomposes decomposed sequences, identity on NFC text, null-safe") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (1L, "cafe\u0301"),   // decomposed: e + combining acute
      (2L, "caf\u00e9"),    // precomposed
      (3L, "plain ascii"),
      (4L, null.asInstanceOf[String])).toDF("id", "t")
    val got = df.select(col("id"), call_function("graft_nfc", col("t")).as("n"))
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got(0)._2.contains("caf\u00e9"), s"${got(0)}")
    assert(got(1)._2.contains("caf\u00e9"))
    assert(got(2)._2.contains("plain ascii"))
    assert(got(3)._2.isEmpty)
  }

  test("mp4Meta: BE box walk, nested moov, skip-unknown; malformed yields NULLs") {
    import spark.implicits._
    def be32h(v: Int) = f"$v%08x"
    def fourcc(s: String) = s.getBytes("US-ASCII").map(b => f"$b%02x").mkString
    val ftyp = be32h(20) + fourcc("ftyp") + fourcc("avc1") + be32h(0) + fourcc("mp42")
    val junk = be32h(16) + fourcc("skip") + "00" * 8
    val mvhd = be32h(28) + fourcc("mvhd") + be32h(0) + be32h(0) + be32h(0) +
      be32h(1000) + be32h(44100)
    val moov = be32h(8 + 28) + fourcc("moov") + mvhd
    def bytes(hex: String) = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val df = Seq(
      (1L, bytes(ftyp + junk + moov)),
      (2L, bytes(ftyp)), // no moov → null timescale
      (3L, Array[Byte](1, 2, 3)),
      (4L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val got = graft.ops.Multimodal.mp4Meta(df, "payload")
      .select(col("id"), col("major_brand"), col("n_top_boxes"),
        col("timescale"), col("duration"), col("duration_s"))
      .as[(Long, Option[String], Int, Option[Long], Option[Long], Option[Double])]
      .collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, Some("avc1"), 3, Some(1000L), Some(44100L), Some(44.1))), s"${got(0)}")
    assert(got(1) == ((2L, Some("avc1"), 1, None, None, None)), s"${got(1)}")
    assert(got(2)._3 == 0 && got(2)._2.isEmpty)
    assert(got(3)._3 == 0 && got(3)._4.isEmpty)
  }

  test("kCenterCoreset: farthest-point order on a line, ties to min id, seed has null d2") {
    import spark.implicits._
    // 1-D points embedded at x = 0, 1, 10, 21 (ids 1..4), 64-dim padded.
    // seed = id 1 (x=0); pick 2: farthest = x=21 (id 4, d2 = 441e12);
    // pick 3: dmin = (100, 121) for x=10 vs (1, 400) for x=1 → x=10 (id 3,
    // d2 = 100e12); pick 4: id 2, d2 = 1e12.
    def v(x: Double) = Array.fill(64)(0.0f).updated(0, x.toFloat)
    val df = Seq((1L, v(0)), (2L, v(1)), (3L, v(10)), (4L, v(21)))
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(df, "vec_id", "embedding", k = 4)
      .orderBy(col("pick_rank"))
      .as[(Int, Long, Option[Long])].collect().toSeq
    val M = 1000000L
    assert(got == Seq(
      (1, 1L, None),
      (2, 4L, Some(441L * M * M)),
      (3, 3L, Some(100L * M * M)),
      (4, 2L, Some(1L * M * M))), s"$got")
  }

  test("isotonicRates: pools violators exactly, stays monotone, preserves weighted mass") {
    import spark.implicits._
    // buckets 1..4 with rates 0.2, 0.8, 0.4, 1.0 (weights 5,5,10,2):
    // PAVA pools {2,3}: (4+4)/(5+10) = 8/15; final: 0.2, 8/15, 8/15, 1.0
    val rows =
      Seq.fill(1)((1, 1)) ++ Seq.fill(4)((1, 0)) ++
        Seq.fill(4)((2, 1)) ++ Seq.fill(1)((2, 0)) ++
        Seq.fill(4)((3, 1)) ++ Seq.fill(6)((3, 0)) ++
        Seq.fill(2)((4, 1))
    val got = Relational.isotonicRates(rows.toDF("q", "hit"), "q", "hit")
      .orderBy(col("bucket"))
      .select(col("bucket"), col("rate_iso"))
      .as[(Long, Double)].collect().toSeq
    assert(got == Seq((1L, 0.2), (2L, 8.0 / 15), (3L, 8.0 / 15), (4L, 1.0)), s"$got")
    // monotone by construction
    assert(got.map(_._2) == got.map(_._2).sorted)
  }

  test("merkleManifest: partition-order free; a one-row edit changes exactly one leaf") {
    import spark.implicits._
    val rows = (0L until 200L).map(i => (i, s"group${i % 2}", s"payload-$i"))
    val df = rows.toDF("id", "g", "s")
    def manifest(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Sketches
        .merkleManifest(d, Seq(col("g")), col("id"), concat_ws("|", col("id"), col("s")),
          buckets = 8)
        .select(col("g"), col("n_rows"), col("n_leaves"), col("merkle_root"))
        .as[(String, Long, Long, String)].collect().toSet
    val base = manifest(df)
    // layout independence: shuffling input partitioning must not move the root
    assert(manifest(df.repartition(13, col("s"))) == base)
    assert(manifest(df.orderBy(col("s").desc)) == base)
    // one edited row ⇒ same counts, different root in exactly that row's group
    val edited = rows.map { case (i, g, s) => (i, g, if (i == 42L) s + "X" else s) }
      .toDF("id", "g", "s")
    val after = manifest(edited)
    assert(after != base)
    assert(after.map(r => (r._1, r._2, r._3)) == base.map(r => (r._1, r._2, r._3)))
    assert(base.filter(_._1 == "group1") == after.filter(_._1 == "group1"),
      "edit in group0 leaked into group1's root")
    // ...and the leaf level localizes it: only bucket 42%8=2 differs
    def leaves(d: org.apache.spark.sql.DataFrame) = d
      .select(col("g"), pmod(col("id"), lit(8)).cast("int").as("bucket"),
        md5(concat_ws("|", col("id"), col("s"))).as("rh"))
      .groupBy(col("g"), col("bucket"))
      .agg(md5(concat_ws("", array_sort(collect_list(col("rh"))))).as("lh"))
      .as[(String, Int, String)].collect().toSet
    val changed = (leaves(edited) -- leaves(df)).map(r => (r._1, r._2))
    assert(changed == Set(("group0", 2)), s"diff not localized: $changed")
  }

  test("removeSharedSpans: cross-doc spans cut, islands merge, within-doc repeats survive") {
    import spark.implicits._
    val docs6 = Seq(
      (1L, "a b c d e f"),          // shares "a b c" with doc 2 at pos 0
      (2L, "x y a b c z"),          // ... at pos 2
      (3L, "p q r s t u v w"),      // shares "p q r s" and "t u v w" with doc 4:
      (4L, "p q r s 1 2 t u v w 3"),// two islands whose ranges touch -> ONE span in doc 3
      (5L, "k m"),                  // shorter than n: passthrough
      (6L, "h i j h i j")           // within-doc repeat only: NOT removed (minDocs=2 is cross-doc)
    ).toDF("doc_id", "text")
    val got = Dedup.removeSharedSpans(docs6, "doc_id", "text", n = 3, minDocs = 2)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got(0) == ((1L, 6L, 1L, 3L, "d e f")), s"doc1: ${got(0)}")
    assert(got(1) == ((2L, 6L, 1L, 3L, "x y z")), s"doc2: ${got(1)}")
    // doc 3: dup gram starts {0,1,4,5} -> runs [0,3] and [4,7], touching -> merged
    assert(got(2) == ((3L, 8L, 1L, 8L, "")), s"doc3: ${got(2)}")
    assert(got(3)._1 == 4L && got(3)._3 >= 1L && got(3)._5.nonEmpty, s"doc4: ${got(3)}")
    assert(got(4) == ((5L, 2L, 0L, 0L, "k m")), s"doc5: ${got(4)}")
    assert(got(5) == ((6L, 6L, 0L, 0L, "h i j h i j")), s"doc6: ${got(5)}")
    // conservation: removed + kept token counts always reconcile
    assert(got.forall(r => r._4 == r._2 - (if (r._5.isEmpty) 0 else r._5.split(" ").length)))
  }

  test("removeSharedSpans keepMinOwner: the canonical owner keeps its copy, others lose it") {
    import spark.implicits._
    val docs6 = Seq(
      (1L, "a b c d e f"), (2L, "x y a b c z"),
      (3L, "p q r s t u v w"), (4L, "p q r s 1 2 t u v w 3"),
      (5L, "k m"), (6L, "h i j h i j")
    ).toDF("doc_id", "text")
    val got = Dedup.removeSharedSpans(docs6, "doc_id", "text", n = 3, minDocs = 2,
        keepMinOwner = true)
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    // owners (min doc_id per shared gram) are untouched
    assert(got(0) == ((1L, 6L, 0L, 0L, "a b c d e f")), s"doc1: ${got(0)}")
    assert(got(2) == ((3L, 8L, 0L, 0L, "p q r s t u v w")), s"doc3: ${got(2)}")
    // non-owners lose exactly the shared runs
    assert(got(1) == ((2L, 6L, 1L, 3L, "x y z")), s"doc2: ${got(1)}")
    // doc4 dup gram starts {0,1,6,7} -> spans [0,3] and [6,9] (gap 4 < 6: disjoint)
    assert(got(3) == ((4L, 11L, 2L, 8L, "1 2 3")), s"doc4: ${got(3)}")
    assert(got(4)._5 == "k m" && got(5)._5 == "h i j h i j")
  }
}
