package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Dedup, Graph, Multimodal, Relational, RuleEngine, Similarity, TextAnalysis}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is registered here with (where SQL-expressible) a DuckDB oracle
  * in [[oracleSql]]. Conventions that keep the hash-compare stable:
  *   - every aggregate/computed column is aliased identically on both sides;
  *   - float columns are cast to DECIMAL '''before''' aggregation on both
  *     sides (decimal addition is exact and order-independent — double sums
  *     are not, and Spark/DuckDB would disagree in the last ulp);
  *   - final projections NEVER surface DecimalType: exact decimal sums stay
  *     internal and the written column is `CAST(... AS DOUBLE)` on BOTH
  *     engines. The driver's hash canonicalizes oracle-side decimals and
  *     Spark-parquet-side decimals differently (r1's precision ≤ 18 fix moved
  *     nothing; r2 proved every decimal-out query hash-red and every
  *     double-out twin hash-green), while the double of an exact decimal is
  *     bit-identical on both engines as long as the unscaled value stays
  *     below 2^53 — true for every registered aggregate at gate scale;
  *   - window/top-k queries always carry a unique tie-breaker column in the
  *     ordering so results are total-ordered and engine-independent.
  */
object SparkEntry {

  private val d2 = DecimalType(18, 2)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Deterministic PER-PROCESS work dir for the restart-flow queries
    * (q353/q354/q359), wiped at every call: the restart semantics need
    * each invocation to start from a blank checkpoint, repeated
    * bench/verify passes must not leak an events-sized copy each (the r8
    * ADVICE finding), and the PID in the key keeps two concurrent
    * processes (e.g. a bench and a verify on the same sfDir) from wiping
    * each other's live checkpoint mid-run — a dataset-only key did
    * exactly that. One directory per (query, dataset, process) lifetime,
    * and a JVM shutdown hook wipes every dir this process created
    * (round-10 — the PID key made the dirs process-private but nothing
    * deleted them at exit, so each sbt-forked bench/verify run left an
    * events-sized tree in tmpdir: the r9 ADVICE finding). Deletion at
    * exit is always safe precisely because the PID makes the dir ours.
    */
  private val workDirsCreated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private lazy val workDirHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      workDirsCreated.forEach(wipeTree(_))))
    ()
  }
  private def wipeTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipeTree)
    f.delete(); ()
  }
  private def wipedWorkDir(tag: String, dir: String): java.io.File = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val base = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft-$tag-$key-p${ProcessHandle.current().pid()}")
    wipeTree(base); base.mkdirs()
    workDirHook
    workDirsCreated.add(base)
    base
  }

  /** Staged input splits for a restart gate (round-12): the split files
    * are a deterministic function of the SOURCE table (same projection,
    * same cut rule every invocation), yet each gate invocation re-ran the
    * quantile action plus three filter+coalesce(1) write jobs into its
    * freshly-wiped work dir — ~0.9-1.2 s of the q353/q354/q359/q368 wall
    * each (StreamBatchLedger's "outside-stream" bucket). So each gate stages
    * its splits ONCE per source identity with [[graft.util.Staged]], and
    * `put(k)` copies split k into the gate's per-invocation `in` dir,
    * keeping the pinned oldest-first mtime the file source orders on.
    * Input LAYOUT staging only — every bench/verify run still executes the
    * full streaming queries and recomputes all results from these parquet
    * inputs; a regenerated testdata drop changes the key and forces a
    * re-build.
    */
  private def stagedPut(stage: java.io.File, in: java.io.File): Int => Unit =
    (k: Int) => {
      val name = Tables.splitName(k)
      java.nio.file.Files.copy(new java.io.File(stage, name).toPath,
        new java.io.File(in, name).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      ()
    }

  /** The restart-feed staging rule shared by the time-split gates
    * (q354/q359): contiguous time-range thirds — file k's rows all precede
    * file k+1's, so later files sit strictly above earlier watermarks and
    * nothing is ever late-dropped. The cut points need NOT be exact thirds
    * for any of that — any monotone cut preserves contiguity, and the final
    * output is batch-assignment-independent given no late drops — so
    * approxQuantile runs at a small eps, not zero: the round-11 streaming
    * ladder measured relativeError=0 degenerating into a 454 s CPU-bound
    * sketch job at 10M rows (79% of the q354 100× rung wall), while the
    * split it bought was interchangeable with this one.
    */
  private def timeSplitThirds(ev: DataFrame, stage: java.io.File): Unit = {
    val cuts = ev.withColumn("__tsd", col("ts").cast("double"))
      .stat.approxQuantile("__tsd", Array(1.0 / 3, 2.0 / 3), 0.001)
    val tsd = col("ts").cast("double")
    Tables.writeSplits(stage, 3, {
      case 0 => ev.filter(tsd <= cuts(0))
      case 1 => ev.filter(tsd > cuts(0) && tsd <= cuts(1))
      case _ => ev.filter(tsd > cuts(1))
    })
  }

  /** Part co-occurrence graph: distinct part pairs sharing an urgent order —
    * the edge feed for the graph-analytics queries (q100/q103). The
    * self-join is keyed on the order, so fanout is C(parts-per-order, 2) —
    * bounded by order size, not part popularity (degree skew is the graph
    * operators' problem, and they handle it).
    */
  private def coSupplyEdges(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("l_orderkey"))
    val op = t(s, dir, "lineitem")
      .join(urgent, Seq("l_orderkey"), "left_semi")
      .select(col("l_orderkey"), col("l_partkey"))
      .distinct()
    op.as("a")
      .join(op.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey")
          && col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The entregas-style
    * DQ rule engine recast over lineitem: annotate every row, return the
    * quarantined ones with their pipe-joined reasons.
    */
  def entry(spark: SparkSession): DataFrame =
    dqSplit(spark, "/root/testdata/sf0.001")

  // ---- q15: the reference's rule engine generalized over lineitem ----
  private def lineitemRules: Seq[RuleEngine.Rule] = Seq(
    RuleEngine.Rule("ERR_CANT_NULL", col("l_quantity").isNull),
    RuleEngine.Rule("ERR_CANT_NO_POSITIVA", col("l_quantity").isNotNull && col("l_quantity") <= 0),
    RuleEngine.Rule("ERR_CANT_EXCESIVA", col("l_quantity") > 45),
    RuleEngine.Rule("ERR_DESC_EXCESIVO", col("l_discount") > 0.08),
    RuleEngine.Rule("ERR_FLAG_DESCONOCIDO", !upper(trim(col("l_returnflag"))).isin("A", "N", "R")),
    RuleEngine.Rule("ERR_VENTA_NO_POSITIVA", col("l_extendedprice").isNotNull && col("l_extendedprice") <= 0)
  )

  private def dqSplit(s: SparkSession, dir: String): DataFrame = {
    val (_, obs) = RuleEngine.split(t(s, dir, "lineitem"), lineitemRules)
    obs
      .select(col("l_orderkey"), col("l_linenumber"), col("motivo_obs"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Recall audit shared by the three ANN queries (q29 LSH / q55 IVF / q74
    * PQ): per audited query, the EXACT best neighbor (from the brute-force
    * ranking — DuckDB recomputes it, q27's proven machinery) plus the ANN
    * path's hit counts against the exact top-5 / top-20 sets. Both sides are
    * deterministic-by-construction, so hit counts are exact properties of
    * (data, config) — the query-level booleans threshold at/below the minima
    * measured at sf0.001/0.01/0.1 (tools/RecallAudit), turning the driver's
    * hash compare into a stable ANN-accuracy gate.
    *
    * The audit set is BOUNDED (≤ auditMax queries): at corpus scale you
    * cannot brute-force every query — you audit a fixed sample; the ANN
    * operator itself still runs over the full corpus.
    */
  private def annRecallAudit(
      s: SparkSession,
      dir: String,
      ann: DataFrame,
      auditMax: Long
  ): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // one brute-force pass (k=20) serves the top-5 set, the top-20 set, and
    // the best-neighbor row; checkpointed because three derivations read it
    val exact = Similarity
      .bruteForceTopK(emb, emb.filter(col("vec_id") < auditMax), "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .localCheckpoint()
    val hits = ann
      .filter(col("query_id") < auditMax)
      .select(col("query_id"), col("neighbor_id"))
      .join(exact.select(col("query_id"), col("neighbor_id"), col("rank")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("h20"),
        count(when(col("rank") <= 5, 1)).as("h5"))
    exact
      .filter(col("rank") === 1)
      .select(col("query_id"),
        col("neighbor_id").as("exact_best_id"),
        col("cosine").as("exact_best_cosine"))
      .join(hits, Seq("query_id"), "left")
      .withColumn("h5", coalesce(col("h5"), lit(0L)))
      .withColumn("h20", coalesce(col("h20"), lit(0L)))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregation: TPC-H Q1-style pricing summary (hash agg, map-side
    // partials; one shuffle on the two grouping keys) ----
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(d2)).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast(d2) * (lit(1).cast(d2) - col("l_discount").cast(d2)))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order")
        )
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- broadcast equi-join: fact ⋈ small dim; dim broadcast, no fact
    // shuffle before the aggregation ----
    "q02_brand_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          sum(col("l_extendedprice").cast(d2) * (lit(1).cast(d2) - col("l_discount").cast(d2)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items")
        )
        .orderBy(col("p_brand"))
    }),

    // ---- multi-way join through the dimension chain, aggregated per nation ----
    "q03_nation_revenue" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(
          sum(col("o_totalprice").cast(d2)).cast("double").as("revenue"),
          count(lit(1)).as("n_orders")
        )
        .orderBy(col("n_name"))
    }),

    // ---- left-semi join (EXISTS) ----
    "q04_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- left-anti join (NOT EXISTS) ----
    "q05_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("c_nationkey"))
    }),

    // ---- selective scan: predicate pushed to parquet, 2-column read.
    // Round-10: routed through the data-skipping reader over the date
    // layout — the hash-invariance proof for the INTEGRATED pruned read
    // path (Pipeline/Writer now consult manifests on their own tables):
    // an existing gate whose oracle is unchanged must hash identically
    // through readPruned. The require pins that the manifest ENGAGED (no
    // silent full-scan fallback); this predicate itself prunes nothing on
    // a date-sorted layout (quantity is uniform per file — selected ==
    // total is expected), the row-level filter still reaches the parquet
    // scan as PushedFilters, and the pruning WIN cases are q355/q356. ----
    "q06_revenue_slice" -> ((s, dir) => {
      val root = Tables.skippingLayout(s, dir, "date")
      val pr = graft.etl.Skipping.readPrunedDetailed(s, root,
        "l_quantity < 24 AND l_discount BETWEEN 0.02 AND 0.06")
      require(pr.fallback.isEmpty,
        s"skipping manifest did not engage: ${pr.fallback}")
      pr.df
        .agg(
          sum(col("l_extendedprice").cast(d2) * col("l_discount").cast(d2))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_rows")
        )
    }),

    // ---- window ranking: top-3 orders per customer (unique tie-break) ----
    "q07_top_orders_per_cust" -> ((s, dir) => {
      Relational
        .topKPerGroup(
          t(s, dir, "orders"),
          partitionCols = Seq(col("o_custkey")),
          orderBy = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
          k = 3
        )
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ---- running-total window (frame: unbounded preceding → current) ----
    "q08_running_qty" -> ((s, dir) => {
      // l_quantity closes the ordering: (orderkey, linenumber) is NOT unique
      // at sf ≥ 0.1 (the generator duplicates keys), and a running sum over
      // tied keys with different addends is engine-order-dependent. With
      // quantity in the key, any remaining tie has an equal addend, so every
      // prefix value is well-defined on both engines.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "lineitem")
        .withColumn("run_qty", sum(col("l_quantity").cast(d2)).over(w).cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("run_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("run_qty"))
    }),

    // ---- native grouped top-k: the custom LogicalPlan → Rule → Strategy →
    // SparkPlan path (bounded per-group heap, NO partition sort) — result
    // provably identical to the q07 window form (same oracle), so the whole
    // custom-operator stack is gate-checked ----
    "q79_native_topk" -> ((s, dir) => {
      Relational
        .topKPerGroupNative(
          t(s, dir, "orders"),
          partitionCols = Seq(col("o_custkey")),
          orderBy = Seq(col("o_totalprice").desc, col("o_orderkey").asc),
          k = 3
        )
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ---- grouping sets / rollup ----
    "q09_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows")
        )
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // ---- exact distinct counting (two distinct aggs → Expand, one shuffle) ----
    "q10_distinct_counts" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows")
        )
        .orderBy(col("l_returnflag"))
    }),

    // ---- set operation: EXCEPT (customers with open but no finished orders) ----
    "q11_except" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // ---- global sort + limit (TakeOrderedAndProject — no full sort at scale) ----
    "q12_top_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // ---- broadcast range (bin) join ----
    "q13_price_bins" -> ((s, dir) => {
      Relational
        .binJoin(
          t(s, dir, "part"),
          col("p_retailprice"),
          Seq(
            ("b1_900_925", 900.0, 925.0),
            ("b2_925_950", 925.0, 950.0),
            ("b3_950_975", 950.0, 975.0),
            ("b4_975_1000", 975.0, 1000.0)
          )
        )
        .groupBy(col("bin_name"))
        .agg(
          count(lit(1)).as("n_parts"),
          sum(col("p_retailprice").cast(d2)).cast("double").as("sum_price")
        )
        .orderBy(col("bin_name"))
    }),

    // ---- as-of join (backward): latest order per user at event time ----
    "q14_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      // unique (custkey, orderdate) on the right: deterministic argmax by
      // orderkey so the as-of pick is total-ordered on both engines.
      val o = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(
          max(col("o_orderkey")).as("o_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice")
        )
        .withColumnRenamed("o_custkey", "user_id")
      Relational
        .asofJoinBackward(
          ev, o,
          keyCol = "user_id", leftTsCol = "ts", rightTsCol = "o_orderdate",
          rightValCols = Seq("o_orderkey", "o_totalprice")
        )
        .orderBy(col("event_id"))
    }),

    // ---- the reference's DQ rule engine over lineitem (quarantine rows) ----
    "q15_dq_quarantine" -> ((s, dir) => dqSplit(s, dir)),

    // ---- config-compiled literal-map unit conversion (reference Silver core) ----
    "q16_unit_conversion" -> ((s, dir) => {
      val factorMap = typedLit(Map("A" -> 20.0, "N" -> 1.0, "R" -> 5.0))
      val factor = element_at(factorMap, upper(trim(col("l_returnflag"))))
      val qtyD = col("l_quantity").cast(d2)
      // cant_unidades: exact decimal product, HALF_UP round — matches DuckDB's
      // decimal ROUND. precio_unitario: plain IEEE double division with NO
      // rounding — DuckDB executes decimal division in double, so a rounded
      // decimal result would diverge in the last ulp; raw doubles are
      // bit-identical on both engines.
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          when(factor.isNotNull && qtyD.isNotNull && qtyD > 0, round(qtyD * factor.cast(d2), 2))
            .otherwise(lit(null)).cast("double").as("cant_unidades"),
          when(factor.isNotNull && col("l_quantity") > 0 && col("l_extendedprice").isNotNull,
            col("l_extendedprice") / (col("l_quantity") * factor))
            .otherwise(lit(null)).as("precio_unitario")
        )
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- gap-based sessionization (lag → flag → cumulative sum) ----
    "q17_sessions" -> ((s, dir) => {
      Relational
        .sessionize(t(s, dir, "events"), col("user_id"), col("ts"), gapSeconds = 1800)
        .groupBy(col("user_id"))
        .agg(
          (max(col("session_id")) + 1).as("n_sessions"),
          count(lit(1)).as("n_events")
        )
        .orderBy(col("user_id"))
    }),

    // ---- tumbling time-window aggregation ----
    "q18_hourly_events" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(d2)).cast("double").as("sum_value")
        )
        .select(col("w.start").as("hour_start"), col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // ---- text analysis: token counting (whitespace + BPE-ish pre-split) ----
    "q19_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.bpeishTokenCount(col("text")).as("n_bpeish")
        )
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis: quality-score stats (exact int counts + single
    // IEEE double divisions — engine-deterministic) ----
    "q20_quality_stats" -> ((s, dir) => {
      val stats = TextAnalysis.statsTokens(col("text"), col("_toks"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("_toks"))
        .select(col("doc_id") +: stats.map { case (n, c) => c.as(n) }: _*)
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis: heuristic language ID (deterministic cascade) ----
    "q21_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), TextAnalysis.tokens(col("text")).as("_toks"))
        .select(col("doc_id"), TextAnalysis.langIdTokens(col("text"), col("_toks")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    // ---- dedup: exact grouping on the canonical word-set signature
    // (catches shuffled-bag duplicates; one shuffle on the md5 key) ----
    "q22_exact_dedup" -> ((s, dir) => {
      Dedup
        .exactGroups(
          t(s, dir, "documents"),
          Dedup.wordSetSignature(col("text")),
          col("doc_id")
        )
        .orderBy(col("dup_key"))
    }),

    // ---- dedup: exact word-set Jaccard pairs (bounded id range — the
    // oracle-verifiable reference; unbounded path is q24's MinHash-LSH) ----
    "q23_jaccard_pairs" -> ((s, dir) => {
      Dedup
        .jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.9, maxId = 1000L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: 3-gram SHINGLE-set Jaccard pairs (order-sensitive twin of
    // q23's word-set form: shuffled-bag near-dups score low here, true
    // copy-edits score high — the n-gram Jaccard of the dedup family).
    // Bounded id range, native sorted-merge jaccard expression. ----
    "q78_shingle_jaccard" -> ((s, dir) => {
      // materialize the shingle table once: it feeds BOTH sides of the
      // self-join, and without the checkpoint the ngram+distinct+sort
      // lineage replays twice (bounded: maxId rows)
      val sh = t(s, dir, "documents")
        .filter(col("doc_id") < 1000)
        .select(col("doc_id"),
          array_sort(array_distinct(TextAnalysis.ngrams(col("text"), 3))).as("sh"))
        .localCheckpoint()
      val a = graft.ops.Par.spread(sh, col("doc_id"))
        .select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        // size-ratio prefilter: jaccard >= 0.9 forces |small| >= 0.9*|large|
        // (intersection <= min, union >= max) — an O(1) integer compare that
        // prunes almost every pair before the O(n) sorted-merge runs
        .filter(least(size(col("sh_a")), size(col("sh_b"))) * 10
          >= greatest(size(col("sh_a")), size(col("sh_b"))) * 9)
        .withColumn("jaccard", call_function("graft_sorted_jaccard", col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= 0.9)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: directed 3-gram-shingle CONTAINMENT pairs — |A∩B|/|A|
    // (Broder), the asymmetric twin of q78: an excerpt embedded in a larger
    // document scores ~1.0 here while symmetric Jaccard scores low. Native
    // sorted-merge intersect count; bounded id range (the oracle arm — at
    // corpus scale run the same scoring on MinHash collisions). ----
    "q80_containment_pairs" -> ((s, dir) => {
      Dedup
        .containmentPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.9, maxId = 1000L, shingle = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: cluster suppression summary — the KEPT corpus after
    // connected-component near-dup clustering: one representative (min id)
    // per cluster with its member count. The step that turns cluster labels
    // into an actual deduplicated training set. ----
    "q81_dedup_keep" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("doc_id") < 600)
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), Dedup.wordSetSignature(col("text")).as("sig"), col("text"))
      // same reps-first collapse + checkpoint as q58 (see there for why)
      val reps = base
        .groupBy(col("sig"))
        .agg(min(col("doc_id")).as("rep"), min_by(col("text"), col("doc_id")).as("text"))
        .localCheckpoint(true)
      val edges = Dedup
        .jaccardPairs(reps.select(col("rep").as("doc_id"), col("text")),
          "doc_id", "text", threshold = 0.9, maxId = 600L)
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(reps.select(col("rep")), edges)
      base.select(col("doc_id"), col("sig"))
        .join(reps.select(col("sig"), col("rep")), "sig")
        .join(cc, "rep")
        .groupBy(col("component"))
        // component is the cluster-min id, i.e. the keeper itself
        .agg(count(lit(1)).as("n_members"))
        .select(col("component").as("keeper_id"), col("n_members"))
        .orderBy(col("keeper_id"))
    }),

    // ---- dedup: the FULL scale cascade under the gate — exact-collapse →
    // MinHash+LSH (16-band recall-1.0 config, shuffle-join attach: the
    // corpus-scale form, no broadcast of the signature table) → exact verify
    // → connected components → keeper summary, over the WHOLE documents
    // table with no O(n²) operator anywhere in the plan (q58/q81 are the
    // bounded all-pairs ORACLE ARMS of this same composition). Because LSH
    // recall is exactly 1.0 at this config (per-pair miss ~6e-10, verified
    // at every SF), the recursive-CTE oracle over exact Jaccard applies
    // verbatim. ----
    "q85_dedup_cascade" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), Dedup.wordSetSignature(col("text")).as("sig"), col("text"))
      val reps = base
        .groupBy(col("sig"))
        .agg(min(col("doc_id")).as("rep"), min_by(col("text"), col("doc_id")).as("text"))
        .localCheckpoint(true)
      val edges = Dedup
        .verifiedNearDups(reps.select(col("rep").as("doc_id"), col("text")),
          "doc_id", "text",
          threshold = 0.95, numHashes = 96, bands = 16, broadcastAttach = false)
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(reps.select(col("rep")), edges)
      base.select(col("doc_id"), col("sig"))
        .join(reps.select(col("sig"), col("rep")), "sig")
        .join(cc, "rep")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("component").as("keeper_id"), col("n_members"))
        .orderBy(col("keeper_id"))
    }),

    // ---- dedup: exact-collapse → MinHash+LSH banding → exact verify (the
    // scalable near-dup cascade). 16 bands × 6 rows at threshold 0.95 puts
    // per-pair miss probability at (1−0.95⁶)¹⁶ ≈ 6·10⁻¹⁰ — recall is
    // exactly 1.0 at every test SF (verified against the exact all-pairs
    // scan), so the output EQUALS exact all-pairs Jaccard over the
    // representatives and the DuckDB oracle gates it cell-for-cell. ----
    "q24_minhash_neardups" -> ((s, dir) => {
      Dedup
        .verifiedNearDups(
          Dedup.representatives(t(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "text",
          threshold = 0.95, numHashes = 96, bands = 16)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- dedup: 64-bit SimHash sketches (bag-of-tokens, order-independent;
    // MD5-derived token hash ⇒ the oracle recomputes the identical sketch in
    // SQL — surfaced as fixed-width hex so the sign bit can't diverge) ----
    "q25_simhash" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          format_string("%016x", Dedup.simHash(TextAnalysis.tokens(col("text")))).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // ---- text analysis: rolling-hash document fingerprint (Rabin–Karp over
    // MD5-derived token hashes mod 2³¹−1 ⇒ the oracle recomputes it) ----
    "q26_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.rollingFingerprint(col("text"), 4).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // ---- similarity: brute-force cosine top-k (fixed-point exact dot) ----
    "q27_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- similarity: all near-dup pairs above a cosine threshold ----
    "q28_embedding_neardup" -> ((s, dir) => {
      Similarity
        .nearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.45)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- similarity: multi-probe LSH approximate NN — 8 planes × 10
    // tables, probing all Hamming-≤2 buckets. Measured at sf0.1: 0.989
    // recall, ~2.7× faster than 6 planes × 8 tables × probe-1 (0.920) —
    // deeper probing buys back what exponentially narrower buckets cut from
    // the candidate volume, the core multi-probe tradeoff (Lv et al.,
    // VLDB'07). Surfaced as the bounded recall AUDIT (annRecallAudit): the
    // oracle recomputes the exact best neighbor and expects TRUE from both
    // accuracy booleans — thresholds sit at/below the measured minima
    // (hits-in-top5 min 3; hits-in-top20 = 5 for every query at every SF). ----
    "q29_ann_lsh" -> ((s, dir) => {
      val ann = Similarity.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        planes = 8, numTables = 10, probeBits = 2)
      annRecallAudit(s, dir, ann, auditMax = 500L)
        .select(col("query_id"), col("exact_best_id"), col("exact_best_cosine"),
          (col("h5") >= 3).as("recall5_ok"), (col("h20") === 5).as("all_in_top20"))
        .orderBy(col("query_id"))
    }),

    // ---- multimodal: binary payload + typed metadata (expression pass;
    // the mapPartitions decode stub is exercised in MultimodalSpec) ----
    "q30_media_meta" -> ((s, dir) => {
      val withBin = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal
        .withMediaMeta(withBin, "payload")
        .select(
          col("doc_id"),
          col("media_meta.n_bytes").as("n_bytes"),
          col("media_meta.sha256").as("sha256")
        )
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal: REAL container-header decode (BMP dims/bpp, WAV
    // channels/rate/width — dependency-free parsers, RIFF chunk scan). The
    // payloads are synthesized as byte-valid headers from doc_id arithmetic
    // with pure expressions (format_string hex → unhex), so the oracle
    // verifies the encode→decode round trip field by field: a parser that
    // misreads an offset or endianness goes hash-red. ----
    "q86_media_decode" -> ((s, dir) => {
      val d = col("doc_id").cast("int")
      def le16h(c: Column): Column =
        format_string("%02x%02x", c.bitwiseAND(lit(255)), shiftright(c, 8).bitwiseAND(lit(255)))
      def le32h(c: Column): Column =
        format_string("%02x%02x%02x%02x",
          c.bitwiseAND(lit(255)), shiftright(c, 8).bitwiseAND(lit(255)),
          shiftright(c, 16).bitwiseAND(lit(255)), shiftright(c, 24).bitwiseAND(lit(255)))
      val w = pmod(d, lit(640)) + lit(1)
      val h = pmod(d, lit(480)) + lit(1)
      val bpp = element_at(array(lit(1), lit(8), lit(24), lit(32)), pmod(d, lit(4)) + lit(1))
      val ch = pmod(shiftright(d, 1), lit(2)) + lit(1)
      val rate = element_at(
        array(lit(8000), lit(16000), lit(22050), lit(44100), lit(48000)), pmod(d, lit(5)) + lit(1))
      val bits = element_at(array(lit(8), lit(16), lit(32)), pmod(d, lit(3)) + lit(1))
      // 54-byte BMP: file header (BM, size, reserved, pixel offset) +
      // BITMAPINFOHEADER (size 40, width, height, planes 1, bpp, 24 zero bytes)
      val bmpHex = concat(lit("424d"), le32h(lit(54)), lit("000000003600000028000000"),
        le32h(w), le32h(h), lit("0100"), le16h(bpp), lit("00" * 24))
      // 44-byte canonical WAV: RIFF size 36, WAVE, fmt chunk (PCM, channels,
      // rate, byte rate, block align, bits), empty data chunk
      val wavHex = concat(lit("52494646"), le32h(lit(36)), lit("57415645"),
        lit("666d742010000000"), lit("0100"), le16h(ch), le32h(rate),
        le32h(shiftright(rate * ch * bits, 3)), le16h(shiftright(ch * bits, 3)), le16h(bits),
        lit("64617461"), lit("00000000"))
      val withBin = t(s, dir, "documents")
        .select(col("doc_id"),
          unhex(when(pmod(d, lit(2)) === 0, bmpHex).otherwise(wavHex)).as("payload"))
      Multimodal.decodeMedia(withBin, "payload")
        .select(col("doc_id"), col("decoded.*"))
        .orderBy(col("doc_id"))
    }),

    // ---- REAL PCM sample decode + per-frame audio stats: a canonical
    // 44-byte WAV (mono 16-bit PCM) with 64 deterministic int16 samples
    // per doc is built byte-for-byte, chunk-walked and decoded back by
    // Multimodal.pcmFrames, and each 16-sample frame reports exact
    // integer energy / peak / zero-crossings — the oracle regenerates
    // the samples arithmetically, so the formula → LE-bytes → parse →
    // int16 → stats round-trip is what the hash gate tests ----
    "q312_audio_frames" -> ((s, dir) => {
      val header = "52494646" + "a4000000" + "57415645" + "666d7420" +
        "10000000" + "0100" + "0100" + "401f0000" + "803e0000" + "0200" +
        "1000" + "64617461" + "80000000"
      val sampleHex = array_join(
        transform(sequence(lit(0), lit(63)), i => {
          val v = pmod(col("doc_id") * 31 + i * i * 7 + i * 17, lit(4096)) - lit(2048)
          format_string("%02x%02x",
            v.bitwiseAND(lit(255)), shiftright(v, 8).bitwiseAND(lit(255)))
        }), "")
      val withBin = t(s, dir, "documents")
        .select(col("doc_id"), unhex(concat(lit(header), sampleHex)).as("payload"))
      Multimodal.pcmFrames(withBin, "payload", frameSamples = 16)
        .select(col("doc_id"), col("frame_idx"), col("n_samples"),
          col("energy"), col("peak"), col("zero_crossings"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // ---- Unicode NFC normalization audit (native graft_nfc expression,
    // java.text.Normalizer): each doc's text is decorated with one of
    // three arms — a DECOMPOSED sequence (e + COMBINING ACUTE U+0301), its
    // precomposed form (é), or plain ASCII — and the audit reports whether
    // the text is already NFC plus codepoint lengths before/after. Byte-
    // different-but-canonically-equal text silently splits token stats,
    // dedup grams, and tokenizer vocabularies; this is the ingest gate
    // against that. Oracle uses DuckDB's nfc_normalize — two independent
    // Unicode implementations must agree ----
    "q322_unicode_nfc_audit" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val deco = concat(col("text"), lit(" "),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("cafe\u0301"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("caf\u00e9"))
          .otherwise(lit("abc")))
      t(s, dir, "documents")
        .select(col("doc_id"), pmod(col("doc_id"), lit(3)).cast("int").as("arm"),
          deco.as("t"))
        .select(col("doc_id"), col("arm"),
          (col("t") === call_function("graft_nfc", col("t"))).as("is_nfc"),
          length(col("t")).as("raw_len"),
          length(call_function("graft_nfc", col("t"))).as("nfc_len"))
        .orderBy(col("doc_id"))
    }),

    // ---- REAL MP4/ISO-BMFF box walk (the video modality): per doc a
    // minimal ftyp + free + moov(mvhd v0) container is built byte-for-byte
    // — BIG-endian sizes, nested boxes, a skip-me free box — and
    // Multimodal.mp4Meta walks it back out; the oracle regenerates
    // timescale/duration arithmetically, so the box walk and BE32 decode
    // are what the gate tests ----
    "q318_mp4_meta" -> ((s, dir) => {
      val ts = lit(600) + pmod(col("doc_id"), lit(5)) * 100
      val dur = pmod(col("doc_id"), lit(100000)) * 3 + lit(600)
      val hex = concat(
        lit("00000014" + "66747970" + "69736f6d" + "00000200" + "6d703431"),
        lit("0000000c" + "66726565" + "deadbeef"),
        lit("00000024" + "6d6f6f76" + "0000001c" + "6d766864" +
          "00000000" + "00000000" + "00000000"),
        format_string("%08x", ts), format_string("%08x", dur))
      val withBin = t(s, dir, "documents")
        .select(col("doc_id"), unhex(hex).as("payload"))
      Multimodal.mp4Meta(withBin, "payload")
        .select(col("doc_id"), col("major_brand"), col("n_top_boxes"),
          col("timescale"), col("duration"), col("duration_s"))
        .orderBy(col("doc_id"))
    }),

    // ---- cohort retention matrix: first-active-day cohorts × day offset.
    // One corpus shuffle (distinct user,day), then user-keyed window min,
    // then a calendar²-sized rollup ----
    "q87_retention_cohorts" -> ((s, dir) => {
      graft.ops.Events
        .retentionCohorts(t(s, dir, "events"), col("user_id"), col("ts"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // ---- at-least-once telemetry collapse: earliest event per
    // (user, type, 5-minute bucket); exact integer bucket math ----
    "q88_event_dedup" -> ((s, dir) => {
      graft.ops.Events
        .dedupeEvents(t(s, dir, "events"), col("user_id"), col("event_type"),
          col("ts"), col("event_id"), bucketSeconds = 300)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
        .orderBy(col("event_id"))
    }),

    // ---- strict sequential funnel view → click → purchase: per-level
    // conditional-min chain, every intermediate distinct-user sized ----
    "q89_funnel" -> ((s, dir) => {
      graft.ops.Events
        .funnel(t(s, dir, "events"), col("user_id"), col("event_type"), col("ts"),
          Seq("view", "click", "purchase"))
        .orderBy(col("step"))
    }),

    // ---- exact substring-dup signal: per doc, fraction of its distinct
    // 8-token grams shared with any other doc (Lee et al. 2021 shape);
    // cost O(total grams), never O(docs²) ----
    "q90_dup_gram_fraction" -> ((s, dir) => {
      Dedup
        .dupGramStats(t(s, dir, "documents"), col("doc_id"), col("text"), n = 8)
        .orderBy(col("doc_id"))
    }),

    // ---- robust outlier stats: per-flag MAD envelope over extended price,
    // both medians via the bufferless distinct-pair quantile machinery ----
    "q91_mad_outliers" -> ((s, dir) => {
      Relational
        .madOutliers(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", k = 3.0)
        .orderBy(col("l_returnflag"))
    }),

    // ---- typed Aggregator (UDAF): weighted mean with exact decimal sums;
    // runs as a Tungsten hash aggregate with map-side partial merge ----
    "q31_weighted_avg" -> ((s, dir) => {
      import s.implicits._
      val agg = graft.ops.Aggregators.WeightedSums.toColumn
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
        .as[(String, Double, Double)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(agg.name("sums"))
        .map { case (flag, (spq, sq)) =>
          (flag, spq.bigDecimal.doubleValue() / sq.bigDecimal.doubleValue())
        }
        .toDF("l_returnflag", "wavg_price")
        .orderBy(col("l_returnflag"))
    }),

    // ---- approximate distinct counting (HLL++), self-verifying: the same
    // query computes the exact distinct count and surfaces a boolean that
    // gates the sketch's error inside its configured rsd envelope. The HLL
    // estimate itself is engine-specific (not oracle-expressible), but the
    // boolean + exact columns hash-match DuckDB's exact distinct + TRUE —
    // so the driver's gate now verifies the sketch's ACCURACY, not just
    // that rows came back. ----
    "q32_approx_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          count(lit(1)).as("n_rows")
        )
        .select(
          col("l_returnflag"), col("exact_parts"), col("n_rows"),
          // 2% configured rsd ⇒ a 5% band is > 2σ of slack; deterministic
          // inside Spark (HLL++ is seedless), so this is a stable gate
          (abs(col("approx_parts").cast("double") - col("exact_parts").cast("double"))
            <= lit(0.05) * col("exact_parts").cast("double")).as("within_5pct")
        )
        .orderBy(col("l_returnflag"))
    }),

    // ---- the reference's date-parse expressions (E1/E2): yyyyMMdd strings
    // with embedded whitespace → regexp strip → to_date (NULL on failure) ----
    "q33_date_parse" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          // build a compact string form, then parse it back the way Bronze does
          regexp_replace(date_format(col("o_orderdate"), "yyyyMMdd"), "\\s+", "").as("raw")
        )
        .select(
          col("o_orderkey"),
          to_date(col("raw"), "yyyyMMdd").as("parsed")
        )
        .orderBy(col("o_orderkey"))
    }),

    // ---- set operation: UNION ALL + re-aggregation ----
    "q34_union_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .unionAll(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_open_or_finished"))
        .orderBy(col("o_custkey"))
    }),

    // ---- set operation: INTERSECT (distinct semantics) ----
    "q35_intersect" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // ---- window lag/lead: per-user inter-event gap in microseconds ----
    "q36_event_deltas" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(
          col("event_id"), col("user_id"),
          (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"),
          (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts"))).as("next_gap_us")
        )
        .orderBy(col("event_id"))
    }),

    // ---- grouping sets: full CUBE ----
    "q37_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(d2)).cast("double").as("sum_price")
        )
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // ---- exact median / quantiles (interpolated, IEEE-deterministic) ----
    "q38_median" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("median_price"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty")
        )
        .orderBy(col("l_returnflag"))
    }),

    // ---- exact quantiles, scale path: distinct-pair collapse + cumulative
    // counts (q38's built-in `percentile` buffers every group value in the
    // agg buffer — OOM fuel for hot keys; this form's memory is bounded by
    // the sort-based window whatever the group size) ----
    "q82_exact_quantiles" -> ((s, dir) => {
      Relational
        .exactQuantilesByKey(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
          Seq(0.5, 0.9))
        .orderBy(col("l_returnflag"))
    }),

    // ---- pivot (columns from values; = conditional aggregation) ----
    "q39_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast(d2)).cast("double"))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- SQL surface: temp views + pure spark.sql text (correlated
    // scalar subquery + IN-subquery through the same Catalyst path) ----
    "q40_sql_surface" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_orders")
      t(s, dir, "customer").createOrReplaceTempView("v_customer")
      s.sql(
        """SELECT c_mktsegment,
          |       COUNT(*) AS n_above_avg
          |FROM v_customer
          |WHERE c_custkey IN (SELECT o_custkey FROM v_orders)
          |  AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM v_customer)
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)
    }),

    // ---- JSON column extraction (events.props carries JSON strings) ----
    "q41_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(
          sum(col("k")).as("sum_k"),
          count(col("k")).as("n_k")
        )
        .orderBy(col("event_type"))
    }),

    // ---- non-equi left-semi join: orders with any pre-order-date shipment ----
    "q42_nonequi_semi" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      // aggregation pushed THROUGH the semi join: "exists a lineitem with
      // shipdate < orderdate" ⟺ "min(shipdate) over the key < orderdate",
      // so the probe side collapses to one row per orderkey before the join
      // (map-side partial min, 4× fewer rows through the exchange; at this
      // reduced size Spark picks a broadcast join on its own — unforced, so
      // a corpus-scale run falls back to sort-merge)
      val liMin = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(min(col("l_shipdate")).as("min_shipdate"))
      o.join(liMin, o("o_orderkey") === liMin("l_orderkey")
          && liMin("min_shipdate") < o("o_orderdate"), "left_semi")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- argmin join-back: cheapest lineitem per part (min_by pattern) ----
    "q43_argmin_per_part" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(
          min(col("l_extendedprice")).as("min_price"),
          min_by(col("l_orderkey"), struct(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
            .as("cheapest_orderkey")
        )
        .orderBy(col("l_partkey"))
    }),

    // ---- deterministic hash-based train/valid/test split (the sharding a
    // training pipeline needs: stable across runs, engines, partitionings —
    // md5-bucket, never rand()) ----
    "q44_train_test_split" -> ((s, dir) => {
      val bucket =
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 100)
          .as("bucket")
      t(s, dir, "documents")
        .select(col("doc_id"), bucket)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "valid")
            .otherwise("test"))
        .orderBy(col("doc_id"))
    }),

    // ---- deterministic per-group sampling: k docs per language, ranked by
    // a content-independent hash (reproducible "random" sample) — through
    // the native heap top-k (no per-language sort) ----
    "q45_group_sample" -> ((s, dir) => {
      Relational
        .topKPerGroupNative(
          t(s, dir, "documents"),
          partitionCols = Seq(col("lang")),
          orderBy = Seq(md5(col("doc_id").cast("string")).asc, col("doc_id").asc),
          k = 10,
          rankCol = "rank"
        )
        .select(col("lang"), col("doc_id"), col("rank"))
        .orderBy(col("lang"), col("rank"))
    }),

    // ---- context-window packing: assign documents to fixed-token bins by
    // exclusive prefix sum (sequential packing for LLM training batches),
    // SHARDED: the md5 hash bucket partitions the window, so each of the 16
    // prefix sums runs on its own reducer — an unpartitioned ORDER BY window
    // would serialize the whole corpus through one task. (shard, bin) is the
    // pack key; the deterministic hash shard keeps assignment reproducible
    // across runs/partitionings, same as the q44 split. ----
    "q46_context_packing" -> ((s, dir) => {
      val shard =
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 16)
          .as("shard")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"), shard)
        .withColumn("bin",
          floor(coalesce(sum(col("n_tokens")).over(w), lit(0)) / 2048).cast("long"))
        .orderBy(col("doc_id"))
    }),

    // ---- text quality: within-document bigram repetition ratio (flags
    // repetitive boilerplate; exact int counts → deterministic double) ----
    "q47_bigram_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.ngramRepetition(col("text"), 2).as("bigram_rep"))
        .orderBy(col("doc_id"))
    }),

    // ---- similarity: IVF approximate NN — deterministic integer k-means
    // coarse quantizer, probe the 8 nearest of 32 cells (the clustered-data
    // scale path complementing q29's data-independent LSH). Gated via the
    // bounded recall audit: hits-in-exact-top20 measured minimum is 4 at
    // every SF (tools/RecallAudit) — the boolean thresholds at ≥ 3. ----
    "q55_ann_ivf" -> ((s, dir) => {
      val ann = Similarity.ivfTopK(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        nlist = 32, nprobe = 8, iters = 1)
      annRecallAudit(s, dir, ann, auditMax = 500L)
        .select(col("query_id"), col("exact_best_id"), col("exact_best_cosine"),
          (col("h20") >= 3).as("recall20_ok"))
        .orderBy(col("query_id"))
    }),

    // ---- Heaps-law vocabulary-growth curve: distinct-vocabulary size vs
    // corpus size at ten doc-id-order checkpoints — the corpus-curation
    // diagnostic for "is this corpus still adding new language or just
    // repeating itself". The trick that makes it ONE pass instead of ten:
    // a token's contribution to every checkpoint is determined by its
    // FIRST-occurrence doc (min doc_id), so vocab_p = |{tokens: first_doc
    // ≤ cutoff_p}| — the checkpoint panel is a dictionary-sized literal
    // exploded over the token-first-occurrence table, never a rescan ----
    "q346_vocab_growth" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      val firstDoc = toks.groupBy(col("token")).agg(min(col("doc_id")).as("fd"))
      val docLens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val panel = s.range(1, 11).toDF("decile")
        .crossJoin(broadcast(t(s, dir, "documents").agg(max(col("doc_id")).as("maxd"))))
        .select(col("decile"), expr("(maxd * decile) div 10").as("cutoff"))
      val vocab = firstDoc.crossJoin(broadcast(panel))
        .filter(col("fd") <= col("cutoff"))
        .groupBy(col("decile"), col("cutoff")).agg(count(lit(1)).as("vocab"))
      val corpus = docLens.crossJoin(broadcast(panel))
        .filter(col("doc_id") <= col("cutoff"))
        .groupBy(col("decile").as("d2")).agg(sum(col("n")).as("n_tokens"))
      vocab.join(corpus, col("decile") === col("d2"))
        .select(col("decile"), col("cutoff"), col("n_tokens"), col("vocab"),
          (col("vocab").cast("double") / col("n_tokens").cast("double")).as("ttr"))
        .orderBy(col("decile"))
    }),

    // ---- token frequency-of-frequencies spectrum with the Good–Turing
    // adjusted count r* = (r+1)·n_{r+1}/n_r — the input table for every
    // smoothing/unseen-mass estimate (how much probability mass belongs
    // to tokens we have NOT seen ≈ n_1/N). Two integer aggregates + one
    // shifted self-join on the dictionary-sized spectrum ----
    "q347_freq_spectrum" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      val spectrum = counts.groupBy(col("tf").as("freq"))
        .agg(count(lit(1)).as("n_types"))
        .localCheckpoint() // both sides of the shifted self-join below
      spectrum
        .join(spectrum.select((col("freq") - 1L).as("freq"), col("n_types").as("n_next")),
          Seq("freq"), "left")
        .select(col("freq"), col("n_types"),
          ((col("freq") + 1L).cast("double") * col("n_next").cast("double")
            / col("n_types").cast("double")).as("r_star"))
        .orderBy(col("freq"))
    }),

    // ---- corpus coverage curve: what fraction of all token occurrences
    // the top-k most frequent types cover, at a k panel — the "how
    // head-heavy is this corpus" read behind vocabulary pruning and
    // tokenizer budgeting. Global ranking via the native single-group
    // heap top-k (bounded k, no full sort of the vocabulary) ----
    "q348_coverage_curve" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("tf"))
        .localCheckpoint() // ranked arm + total arm
      val ranked = Relational.topKPerGroupNative(
        counts.withColumn("g", lit(1)), Seq(col("g")),
        Seq(col("tf").desc, col("token").asc), 10000, rankCol = "rank")
      val panel = Seq(10, 100, 1000, 10000)
      ranked
        .crossJoin(broadcast(s.createDataFrame(panel.map(Tuple1(_))).toDF("k")))
        .filter(col("rank") <= col("k"))
        .groupBy(col("k")).agg(sum(col("tf")).as("covered_tf"))
        .crossJoin(broadcast(counts.agg(sum(col("tf")).as("total_tf"))))
        .select(col("k"), col("covered_tf"), col("total_tf"),
          (col("covered_tf").cast("double") / col("total_tf").cast("double")).as("coverage"))
        .orderBy(col("k"))
    }),

    // ---- overlapping token-window CHUNKING (the RAG / context-window prep
    // step): windows of 64 tokens at stride 48 (16-token overlap), one
    // output row per chunk with its exact span and an md5 signature of the
    // rejoined text — row-local explode over a per-doc chunk-index
    // sequence, no shuffle beyond the source spread; chunk count per doc is
    // ⌊(n−1)/stride⌋+1, so the fan-out is bounded by corpus tokens/stride ----
    "q349_token_chunks" -> ((s, dir) => {
      val win = 64
      val stride = 48
      val d = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
        .filter(col("n") > 0)
      d.select(col("doc_id"), col("toks"), col("n"),
          // `div`, not `/`: the chunk count is an exact integer floor
          explode(sequence(lit(0L),
            expr(s"CAST((n - 1) div $stride AS BIGINT)"))).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * stride).as("start_tok"),
          least(lit(win.toLong), col("n") - col("chunk_idx") * stride).as("n_tok"),
          md5(array_join(slice(col("toks"),
            (col("chunk_idx") * stride + 1).cast("int"), lit(win)), " ")).as("chunk_sig"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- SEQUENCE PACKING by ranked round-robin (the training-batch prep
    // step after chunking: distribute documents across fixed bins so no
    // bin is token-starved): global size-descending rank (bucketed
    // two-pass globalRank — no single-reducer window) and bin =
    // (rank−1) mod 32, the parallel-friendly deterministic stand-in for
    // first-fit-decreasing; size-desc round-robin bounds the bin spread
    // by the largest document. Output: per-bin doc count, token mass,
    // and the min/max document sizes it received ----
    "q350_sequence_packing" -> ((s, dir) => {
      val nBins = 32
      val sizes = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
        // rank ASC of the negated count = size-DESC with doc_id ties
        .withColumn("neg", -col("n_tokens"))
      Relational.globalRank(sizes, "neg", "doc_id", "rank")
        .select(col("doc_id"), col("n_tokens"),
          pmod(col("rank") - 1L, lit(nBins.toLong)).as("bin"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
          min(col("n_tokens")).as("min_doc"), max(col("n_tokens")).as("max_doc"))
        .orderBy(col("bin"))
    }),

    // ---- INCREMENTAL ANN maintenance (round-8): the production append
    // path — new vectors assigned into the EXISTING old-trained coarse
    // quantizer, searched together with the old members, nothing
    // re-trained (Similarity.ivfAppendTopK). Two gates in one output:
    // `append_consistent` states the append invariant as data (old-corpus
    // assignments bit-identical whether the index is old-only or
    // append-built — 0 mismatches measured at all 3 SFs), and
    // `recall20_ok` is the bounded recall audit vs exact brute force over
    // the MERGED corpus at the measured minimum (h20 ≥ 4: minima 5/5/4 at
    // sf0.001/0.01/0.1 — the drift cost of serving new vectors from old
    // centroids, one notch under q55's full-trained config) ----
    "q351_ivf_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // 80/20 interleaved split: the "new" ingest is distribution-matched
      // and its ids interleave with the old corpus, so the merge is
      // non-trivial for both assignment and search
      val old = emb.filter(col("vec_id") % 5 =!= 0)
      val fresh = emb.filter(col("vec_id") % 5 === 0)
      val ann = Similarity.ivfAppendTopK(old, fresh, "vec_id", "embedding",
        k = 5, nlist = 32, nprobe = 8, iters = 1)
      val a1 = Similarity.ivfAssign(old, old, "vec_id", "embedding",
        nlist = 32, iters = 1)
      val a2 = Similarity.ivfAssign(old, emb, "vec_id", "embedding",
          nlist = 32, iters = 1)
        .withColumnsRenamed(Map("id" -> "id2", "cell" -> "cell2"))
      val mismatches = a1.join(a2, col("id") === col("id2"))
        .filter(col("cell") =!= col("cell2"))
        .agg(count(lit(1)).as("bad"))
      annRecallAudit(s, dir, ann, auditMax = 500L)
        .crossJoin(broadcast(mismatches))
        .select(col("query_id"), col("exact_best_id"), col("exact_best_cosine"),
          (col("h20") >= 4).as("recall20_ok"),
          (col("bad") === 0L).as("append_consistent"))
        .orderBy(col("query_id"))
    }),

    // ---- INCREMENTAL IVF maintenance, DELETE path (round-9): q351's
    // append gate pointed at tombstones. vec_id % 7 == 0 (14%) is removed;
    // the search runs over the survivors WITHOUT retraining the quantizer
    // (the FAISS remove_ids contract). Three invariants ride the output:
    // recall vs the exact scan over the LIVE corpus at the measured minima
    // (h20 min 5 at both gate SFs; gated >= 4 with the q351 margin), NO
    // removed id ever appears as query or neighbor, and — cell-for-cell —
    // no surviving vector moved cells (ivfRemoveAssign vs the pre-removal
    // self-trained assignment; this is the check that fails loudly if the
    // delete path ever starts retraining on the survivor set). Compaction
    // triggers (ivfCellOccupancy) are spec-gated in OpsSpec. ----
    "q357_ivf_remove" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val removed = emb.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      val live = emb.filter(col("vec_id") % 7 =!= 0)
      // ONE trained quantizer serves every audited surface (ivfRemoveAudit
      // — the separate entry points each re-train the identical full-corpus
      // k-means, the round-9 review finding)
      val (ann, preAll, post0, _) = Similarity.ivfRemoveAudit(emb, removed,
        "vec_id", "embedding", k = 5, nlist = 32, nprobe = 8, iters = 1)
      // tombstone leakage: zero removed ids on either side of any result
      val viol = ann
        .filter(col("query_id") % 7 === 0 || col("neighbor_id") % 7 === 0)
        .agg(count(lit(1)).as("viol"))
      // cell-for-cell: survivors keep their pre-removal cells exactly
      val pre = preAll.filter(col("id") % 7 =!= 0)
      val post = post0
        .withColumnsRenamed(Map("id" -> "id2", "cell" -> "cell2"))
      val moved = pre.join(post, col("id") === col("id2"), "full_outer")
        .filter(col("id").isNull || col("id2").isNull || col("cell") =!= col("cell2"))
        .agg(count(lit(1)).as("moved"))
      // recall audit against the exact scan over the LIVE corpus
      val exact = Similarity.bruteForceTopK(live,
          live.filter(col("vec_id") < 500L), "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .localCheckpoint()
      val hits = ann.filter(col("query_id") < 500)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("h20"))
      exact.filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("exact_best_id"),
          col("cosine").as("exact_best_cosine"))
        .join(hits, Seq("query_id"), "left")
        .withColumn("h20", coalesce(col("h20"), lit(0L)))
        .crossJoin(broadcast(viol))
        .crossJoin(broadcast(moved))
        .select(col("query_id"), col("exact_best_id"), col("exact_best_cosine"),
          (col("h20") >= 4).as("recall20_ok"),
          (col("viol") === 0L).as("no_removed_ids"),
          (col("moved") === 0L).as("cells_consistent"))
        .orderBy(col("query_id"))
    }),

    // ---- BM25 keyword retrieval in exact scaled-integer arithmetic
    // (round-9): the lexical arm of hybrid retrieval (the other arm is the
    // ANN family; fusion is q135's RRF). BM25's tf-saturation and
    // length-normalization core with k1=1.2, b=0.75, denominators cleared
    // to exact integers: w = tf(k1+1)/(tf + k1(1-b+b*dl/avgdl)) becomes
    // 22*tf*T / (10*T*tf + 3*T + 9*dl*N) with T = corpus tokens, N = docs
    // — then floor-scaled by 1e3 (the pageRankInt DIV discipline). The
    // idf is the log-free Robertson ODDS form (2(N-df)+1)/(2df+1), floor-
    // scaled by 1e3: ln() is not correctly rounded and differs cross-
    // engine in ULPs, while the odds ratio keeps the same df-monotone
    // ordering and makes every intermediate an exact BIGINT — the per-doc
    // score is an exact integer SUM (order-independent), so the top-20
    // ranking is hash-deterministic. Overflow headroom (round-10 — the
    // 1e6 factors left ~1 order at N~6M docs; 1e3 resolution is plenty
    // for rank stability): per-term idf_scaled*w_scaled < (2N/3)*1e3 *
    // 2.2e3 ~ 1.5e6*N, so the 6-term doc score stays inside BIGINT for
    // N < ~1e12 docs; the tightest intermediate is w_scaled's numerator
    // 22*tf*t*1e3, valid while tf*t < 4.2e14 (e.g. a 1e12-token corpus
    // with per-doc term frequency <= 420). Past either bound, swap the
    // integer core to DECIMAL(38,0) — same ordering, wider headroom. ----
    "q358_bm25" -> ((s, dir) => {
      val terms = Seq("hash", "merge", "window", "spark", "filter", "slow")
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
      val totals = toks.agg(count(lit(1)).as("t"))
        .crossJoin(t(s, dir, "documents").agg(count(lit(1)).as("n")))
      val tf = toks.filter(col("tok").isin(terms: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val scored = tf
        .join(dl, "doc_id")
        .join(broadcast(dfreq), "tok")
        .crossJoin(broadcast(totals))
        .withColumn("w_scaled",
          expr("(22 * tf * t * 1000) DIV (10 * t * tf + 3 * t + 9 * dl * n)"))
        .withColumn("idf_scaled",
          expr("((2 * (n - df) + 1) * 1000) DIV (2 * df + 1)"))
      // top-20 via orderBy+limit (TakeOrderedAndProject — distributed,
      // no single-reducer window over the doc-count-scaling score table);
      // the rank window then runs over exactly 20 rows
      scored.groupBy(col("doc_id"))
        .agg(sum(expr("idf_scaled * w_scaled")).as("score"),
          count(lit(1)).as("n_hit"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(20)
        .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("n_hit"), col("score"), col("rank"))
        .orderBy(col("rank"))
    }),

    // ---- BM25 over the PERSISTED inverted index (round-10): q358's
    // scorer re-pointed at a pre-built postings table (ops/Lexical) —
    // term-hash-bucketed shard dirs pruned by Spark's partition pruning
    // off a driver-side CRC (<=6/64 of the index even LISTED), tok-sorted
    // files pruned at row-group grain, doc length denormalized into the
    // postings so scoring joins nothing but a broadcast df/totals. The
    // gate is the strongest one available: the index path must
    // hash-match the corpus-scan form cell for cell (same oracle as
    // q358) — a stale or lossy index cannot hide. ----
    "q360_bm25_indexed" -> ((s, dir) => {
      graft.ops.Lexical.scoreBM25(s, Tables.lexicalIndex(s, dir),
        Seq("hash", "merge", "window", "spark", "filter", "slow"), k = 20)
    }),

    // ---- incremental index maintenance (round 11): the index is built
    // over two-thirds of the corpus, the remaining third arrives via
    // Lexical.appendToIndex — which writes ONLY the bucket shards the
    // new terms hash into (one extra tok-sorted file each; untouched
    // shards never listed, read, or written) and advances totals by the
    // delta. The gate shares q358/q360's FULL-corpus oracle: a lost or
    // doubled posting, or a stale totals row, hash-mismatches. ----
    "q375_bm25_index_append" -> ((s, dir) => {
      graft.ops.Lexical.scoreBM25(s, Tables.lexicalIndexIncremental(s, dir),
        Seq("hash", "merge", "window", "spark", "filter", "slow"), k = 20)
    }),

    // ---- multi-channel PCM block stats (round 11): q312's audio device
    // extended to STEREO — a canonical 16-bit PCM WAV with 64 interleaved
    // L/R frames per doc is built byte-for-byte in SQL, chunk-walked and
    // DEINTERLEAVED by Multimodal.pcmBlockStats, and each (16-frame
    // block, channel) reports exact integer energy / peak plus the
    // fixed-point RMS (isqrt with a mirrored ±1 correction, so both
    // engines land on the identical integer). The oracle regenerates
    // the per-channel samples arithmetically: formula → LE bytes →
    // parse → deinterleave → stats is the round trip under test. ----
    "q376_audio_blocks" -> ((s, dir) => {
      val header = "52494646" + "24010000" + "57415645" + "666d7420" +
        "10000000" + "0100" + "0200" + "401f0000" + "007d0000" + "0400" +
        "1000" + "64617461" + "00010000"
      val frameHex = array_join(
        transform(sequence(lit(0), lit(63)), i => {
          val l = pmod(col("doc_id") * 31 + i * i * 7 + i * 17, lit(4096)) - lit(2048)
          val r = pmod(col("doc_id") * 13 + i * i * 5 + i * 29, lit(4096)) - lit(2048)
          format_string("%02x%02x%02x%02x",
            l.bitwiseAND(lit(255)), shiftright(l, 8).bitwiseAND(lit(255)),
            r.bitwiseAND(lit(255)), shiftright(r, 8).bitwiseAND(lit(255)))
        }), "")
      val withBin = t(s, dir, "documents")
        .select(col("doc_id"), unhex(concat(lit(header), frameHex)).as("payload"))
      Multimodal.pcmBlockStats(withBin, "payload", blockFrames = 16)
        .select(col("doc_id"), col("block_idx"), col("channel"), col("n_frames"),
          col("energy"), col("peak"), col("rms_milli"))
        .orderBy(col("doc_id"), col("block_idx"), col("channel"))
    }),

    // ---- HYBRID retrieval (round-10): two ranking models — BM25 and
    // length-normalized TF-IDF, both served by the SAME persisted
    // inverted index (one shard-pruned postings read each, no corpus
    // scan anywhere) — fused by reciprocal-rank fusion in fixed-point
    // integers (the q135 device). This is the production shape of a
    // retrieval stack: independent scorers disagree on ordering, RRF
    // reconciles them, and everything stays exact-integer so the gate
    // hashes cell-for-cell against the oracle's replay of both arms. ----
    "q363_hybrid_retrieval" -> ((s, dir) => {
      val root = Tables.lexicalIndex(s, dir)
      val terms = Seq("hash", "merge", "window", "spark", "filter", "slow")
      val bm25 = graft.ops.Lexical.scoreBM25(s, root, terms, k = 20)
      val vsm = graft.ops.Lexical.scoreTfIdfNorm(s, root, terms, k = 20)
      Relational.rrfFuse(Seq(bm25, vsm), Seq("doc_id"), "rank")
        .orderBy(col("rrf_fixed").desc, col("doc_id"))
    }),

    // ---- retrieve-then-rerank (round-10): the two-stage RAG pipeline —
    // a CHEAP high-recall lexical stage cuts the corpus to a candidate
    // set, an EXPENSIVE high-precision semantic stage reranks only the
    // candidates. Stage 1: BM25 top-50 from the persisted inverted index
    // (q360's shard-pruned read — at 100 TB this touches index shards,
    // never the corpus). Stage 2: query-by-example — the lowest-id
    // candidate that HAS an embedding becomes the query vector
    // (deterministic in both engines) and the remaining embedded
    // candidates rerank by exact integer-scaled cosine (the q27
    // machinery, over ≤50 vectors instead of the corpus: rerank cost is
    // O(candidates), independent of corpus size — the property that
    // makes exact rerank affordable at any scale). ----
    "q370_retrieve_rerank" -> ((s, dir) => {
      val root = Tables.lexicalIndex(s, dir)
      val terms = Seq("hash", "merge", "window", "spark", "filter", "slow")
      val cand = graft.ops.Lexical.scoreBM25(s, root, terms, k = 50)
        .select(col("doc_id"))
      val emb = t(s, dir, "embeddings")
      val candEmb = emb
        .join(broadcast(cand), emb("vec_id") === cand("doc_id"), "left_semi")
        .localCheckpoint() // stage-1 result feeds BOTH the query pick and the rerank scan
      // a corpus where no candidate has an embedding yields an EMPTY rerank
      // (the oracle's empty result), not a driver NPE on the null min
      Option(candEmb.agg(min(col("vec_id"))).head().get(0)) match {
        case None =>
          candEmb.select(
            col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
            lit(0L).as("dot"), lit(0.0).as("cosine"), lit(1).as("rank"))
            .limit(0)
        case Some(qid) =>
          Similarity
            .bruteForceTopK(candEmb, candEmb.filter(col("vec_id") === qid),
              "vec_id", "embedding", k = 10)
            .orderBy(col("rank"))
      }
    }),

    // ---- REAL PNG pixel decode (round-8): gray-8 PNGs are generated
    // ARITHMETICALLY in SQL expressions — stored-mode zlib (BTYPE=00) with
    // the Adler-32 computed in closed form (s1 = 1+Σd, s2 = n+Σdᵢ·(n−i),
    // mod 65521), rows cycling through PNG filters 0/1/2 (None/Sub/Up, the
    // filtered deltas also computed in SQL) — then decoded for real:
    // Inflater (Adler verified), per-row unfilter, exact-integer block
    // means. The oracle regenerates the pixel VALUES arithmetically, so a
    // hash match verifies the whole byte chain offset-by-offset: hex
    // assembly → chunk walk → inflate → unfilter → block fold. Chunk CRCs
    // are zeroed and not verified (documented decoder divergence); the
    // Adler-32 over the decompressed stream IS verified — that is the
    // check that guards the pixels. Compressed-deflate IDATs and filters
    // 3/4 are spec-gated differentially vs JDK ImageIO (OpsSpec). ----
    "q352_png_pixels" -> ((s, dir) => {
      val gen = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("doc_id DIV 4").as("g"), expr("doc_id % 4").as("r"))
        .withColumn("pix", expr(
          "transform(sequence(0, 63), i -> CAST(pmod(g*37 + i*101 + i*i*13" +
            " + i*(g % 13)*29 + IF(r > 0 AND i = 7*r + 3, 128, 0), 256) AS INT))"))
        // per-row filter = row % 3: 0 = None (raw), 1 = Sub (minus left,
        // x=0 predicts 0), 2 = Up (minus the row above; rows 2,5 only, so
        // a previous row always exists) — deltas mod 256, RFC 2083 §6
        .withColumn("raw", expr(
          "flatten(transform(sequence(0, 7), rw -> concat(" +
            "array(CAST(pmod(rw, 3) AS INT)), " +
            "transform(sequence(0, 7), x -> CASE pmod(rw, 3) " +
            "WHEN 0 THEN pix[rw*8+x] " +
            "WHEN 1 THEN CAST(pmod(pix[rw*8+x] - IF(x > 0, pix[rw*8+x-1], 0), 256) AS INT) " +
            "ELSE CAST(pmod(pix[rw*8+x] - pix[(rw-1)*8+x], 256) AS INT) END))))"))
        .withColumn("s1", expr("pmod(1 + aggregate(raw, 0, (a, x) -> a + x), 65521)"))
        .withColumn("s2", expr(
          "pmod(72 + aggregate(zip_with(raw, sequence(0, 71)," +
            " (d, i) -> d * CAST(72 - i AS INT)), 0, (a, x) -> a + x), 65521)"))
        .withColumn("payload", unhex(concat(
          lit("89504e470d0a1a0a"), // signature
          lit("0000000d" + "49484452" + "00000008" + "00000008" +
            "08" + "00" + "00" + "00" + "00" + "00000000"), // IHDR 8×8 gray-8
          lit("00000053" + "49444154"), // IDAT, len = 2+5+72+4 = 83
          lit("7801" + "01" + "4800" + "b7ff"), // zlib hdr + stored-final block, LEN/NLEN LE
          expr("array_join(transform(raw, v -> format_string('%02x', v)), '')"),
          expr("format_string('%08x', CAST(s2 AS BIGINT) * 65536 + CAST(s1 AS BIGINT))"),
          lit("00000000"), // IDAT CRC (zeroed; not verified)
          lit("00000000" + "49454e44" + "00000000")))) // IEND
      Multimodal.pngBlockMean(gen.select(col("doc_id"), col("payload")), "payload", 2)
        .select(col("doc_id"), col("cy"), col("cx"), col("n_px"),
          col("sum_gray"), col("mean_gray"))
        .orderBy(col("doc_id"), col("cy"), col("cx"))
    }),

    // ---- STREAMING RESTART RECOVERY, driver-gated (round-8): the
    // per-user-per-type MapState machine run as TWO separate queries over
    // ONE checkpoint — run 1 sees two thirds of the input, run 2 (a
    // brand-new query restored from the checkpoint) sees only the
    // later-landed third — through a RECOVERABLE parquet sink (the memory
    // sink refuses checkpoint recovery). Counts are monotone per key, so
    // max over the accumulated emissions is the final state, and it can
    // equal the batch GROUP BY twin ONLY if the RocksDB snapshots and the
    // source's processed-file log both survived the restart. Work dirs
    // are per-invocation so every bench/verify run restarts from scratch;
    // output VALUES are deterministic (exact integer counts). ----
    "q353_restart_recovery" -> ((s, dir) => {
      // Per-process work dir wiped at invocation start ([[wipedWorkDir]]).
      // Wiping at START (not after) keeps the returned DataFrame lazy-safe
      // — it reads the out/ parquet when the caller finally acts on it.
      val base = wipedWorkDir("q353", dir)
      val inF = new java.io.File(base, "in"); inF.mkdirs()
      val in = inF.toString; val out = s"$base/out"; val ck = s"$base/ckpt"
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      // same split rule as before (event_id mod 3), staged once per source
      // identity and copied in — see stagedPut
      val stage = graft.util.Staged.dir("q353-mod3",
          Seq(new java.io.File(s"$dir/events.parquet")), "v1")(st =>
        Tables.writeSplits(st, 3, k => ev.filter(pmod(col("event_id"), lit(3)) === k)))
      val put = stagedPut(stage, inF)
      put(0); put(1)
      val schema = s.read.parquet(in).schema
      def stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      graft.streaming.StreamOps.typeCountsV2ToParquet(s, stream, out, ck)
      put(2) // "lands" after the first query stopped
      graft.streaming.StreamOps.typeCountsV2ToParquet(s, stream, out, ck)
      s.read.parquet(out)
        .groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n")).as("n_events"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ---- Trigger.AvailableNow incremental ingest (round-10): the
    // scheduler-invoked nightly batch at 100 TB — a streaming definition
    // (file source + checkpointed progress + exactly-once parquet sink)
    // run TO COMPLETION per invocation. Three invocations against one
    // checkpoint: (1) drains the 2-file backlog in 2 microbatches
    // (maxFilesPerTrigger=1 — AvailableNow chunks the backlog, unlike the
    // legacy Trigger.Once), (2) after a third file lands, processes ONLY
    // that file (the checkpointed file index is the high-water mark),
    // (3) with nothing new, runs ZERO data batches — the idempotent
    // no-op a cron retry depends on. Each require pins one of those;
    // the oracle pins exactly-once end to end: any reprocessed file
    // would double rows and break every hash cell. ----
    "q368_available_now" -> ((s, dir) => {
      val base = wipedWorkDir("q368", dir)
      val inF = new java.io.File(base, "in"); inF.mkdirs()
      val in = inF.toString; val out = s"$base/out"; val ck = s"$base/ckpt"
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_returnflag"))
      // same split rule as before (l_orderkey mod 3), staged once per source
      // identity and copied in — see stagedPut
      val stage = graft.util.Staged.dir("q368-mod3",
          Seq(new java.io.File(s"$dir/lineitem.parquet")), "v1")(st =>
        Tables.writeSplits(st, 3, k => li.filter(pmod(col("l_orderkey"), lit(3)) === k)))
      val put = stagedPut(stage, inF)
      put(0); put(1)
      val schema = s.read.parquet(in).schema
      // the incremental bronze->silver hop: typed projection + derived
      // column, the E1-E8 shape running incrementally instead of full-scan
      def silver = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .withColumn("is_heavy", (col("l_quantity") >= 25).cast("int"))
      def run(): Long =
        graft.streaming.StreamOps.availableNowToParquet(s, silver, out, ck)
      val n1 = run()
      require(n1 == 2, s"backlog drain must run 2 single-file batches, ran $n1")
      put(2) // "lands" between scheduled invocations
      val n2 = run()
      require(n2 == 1, s"incremental run must process ONLY the new file, ran $n2")
      val n3 = run()
      require(n3 == 0, s"no-new-data run must be a zero-batch no-op, ran $n3")
      s.read.parquet(out)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("is_heavy")).as("n_heavy"),
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(d2)).cast("double").as("sum_price"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- stream-stream join RESTART recovery (round-9): q273's interval
    // join through the q353 two-runs-one-checkpoint flow. State lives on
    // BOTH sides here (per-key view and purchase buffers), so the gate is
    // stronger than q353's single MapState machine: the final match set
    // can equal the batch join twin ONLY if run 2 restored both join state
    // stores — a view that arrived pre-restart must still match a purchase
    // that lands post-restart (the cross-restart evidence rows exist:
    // time-split thirds guarantee view→purchase pairs straddling the cut,
    // the same q273 feed property StreamingSpec asserts). Exactly-once
    // across the restart rides the parquet sink's _spark_metadata commit
    // log; the require pins that run 2 processed ONLY the newly-landed
    // file (processed-file log restored, no reprocessing). ----
    "q354_restart_join" -> ((s, dir) => {
      val base = wipedWorkDir("q354", dir)
      val in = new java.io.File(base, "in"); in.mkdirs()
      val out = s"$base/out"; val ck = s"$base/ckpt"
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val stage = graft.util.Staged.dir("q354-time3",
          Seq(new java.io.File(s"$dir/events.parquet")), "v1")(
        timeSplitThirds(ev, _))
      val put = stagedPut(stage, in)
      put(0); put(1)
      val schema = s.read.parquet(s"$in/b000.parquet").schema
      def stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "b*.parquet").parquet(in.toString)
      def joined = {
        val views = stream.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
        val purchases = stream.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pts"), col("event_id").as("purchase_id"))
        graft.streaming.StreamOps.streamStreamJoin(views, purchases,
          key = "user_id", leftTs = "ts", rightTs = "pts", skew = "30 minutes")
          .select(col("view_id"), col("purchase_id"))
      }
      // state partitions sized to the feed across BOTH runs (the restart
      // recovers the count from the checkpoint anyway; same formula, same
      // file, same value) — see StreamOps.withStateParts
      graft.streaming.StreamOps.withStateParts(s,
        new java.io.File(s"$dir/events.parquet").length()) {
        graft.streaming.StreamOps.runToParquet(s, joined, out, ck)
        put(2) // "lands" after the first query stopped
        val n2 = graft.streaming.StreamOps.runToParquet(s, joined, out, ck)
        require(n2 == 1,
          s"post-restart run must process ONLY the new file, ran $n2 data batches")
      }
      s.read.parquet(out)
        .select(col("view_id"), col("purchase_id"))
        .orderBy(col("view_id"), col("purchase_id"))
    }),

    // ---- SESSION-WINDOW restart recovery, driver-gated (round-10: the
    // shape StreamingSpec proves at spec grain, promoted to the q354
    // evidence pattern): q304's gap sessions on transformWithState
    // EVENT-TIME TIMERS, run as TWO queries over ONE checkpoint with the
    // time-split-thirds feed. A session OPEN at the restart is parked in
    // ValueState under a registered timer; post-restart events extend it
    // (the min/max merge) and the RESTORED timer closes it — so the final
    // emitted set can equal the batch lag/cumsum twin ONLY if the
    // ValueState, the timer registry, the watermark, and the
    // processed-file log all survived the restart. Exactly-once across
    // the restart rides the parquet sink's _spark_metadata commit log;
    // the require pins run 2 to exactly the newly-landed file. Held-back
    // tail sessions (end+gap past the end-of-input watermark) are
    // excluded identically by the oracle — the q304 deterministic-subset
    // contract, unchanged across the restart. ----
    "q359_restart_sessions" -> ((s, dir) => {
      val base = wipedWorkDir("q359", dir)
      val in = new java.io.File(base, "in"); in.mkdirs()
      val out = s"$base/out"; val ck = s"$base/ckpt"
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val stage = graft.util.Staged.dir("q359-time3",
          Seq(new java.io.File(s"$dir/events.parquet")), "v1")(
        timeSplitThirds(ev, _))
      val put = stagedPut(stage, in)
      put(0); put(1)
      val schema = s.read.parquet(s"$in/b000.parquet").schema
      def stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "b*.parquet").parquet(in.toString)
      def sessions = graft.streaming.StreamOps
        .sessionsV2Stream(s, stream, gapMinutes = 30, watermark = "0 seconds")
      // state partitions sized to the feed across BOTH runs (see q354)
      graft.streaming.StreamOps.withStateParts(s,
        new java.io.File(s"$dir/events.parquet").length()) {
        graft.streaming.StreamOps.runToParquet(s, sessions, out, ck)
        put(2) // "lands" after the first query stopped
        val n2 = graft.streaming.StreamOps.runToParquet(s, sessions, out, ck)
        require(n2 == 1,
          s"post-restart run must process ONLY the new file, ran $n2 data batches")
      }
      s.read.parquet(out)
        .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
        .orderBy(col("user_id"), col("start_us"))
    }),

    // ---- file-level data skipping (round-9): per-file min/max stats
    // manifest + predicate-pruning reader, over a date-sorted 16-file
    // lineitem layout. The prune is an IMPLEMENTATION DETAIL under gate:
    // the result must hash-match the plain-filter oracle (the reader
    // re-applies the full predicate after the pruned scan, so a bad skip
    // decision could only cost performance, never rows), and the require
    // proves the manifest actually ENGAGED — no silent full-scan fallback
    // passing itself off as pruning. Files-touched (≤¼ on this window) is
    // asserted in SkippingSpec. ----
    "q355_skipping_daterange" -> ((s, dir) => {
      val root = Tables.skippingLayout(s, dir, "date")
      val pr = graft.etl.Skipping.readPrunedDetailed(s, root,
        "l_shipdate_d >= DATE '1995-06-01' AND l_shipdate_d < DATE '1995-09-01'")
      require(pr.fallback.isEmpty,
        s"skipping manifest did not engage: ${pr.fallback}")
      pr.df.groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(d2)).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- data skipping on a Z-ORDERED layout (round-9): keys are
    // quantile-bucketed (width_bucket 256) then bit-interleaved — Delta's
    // OPTIMIZE ZORDER shape — so 16 range-files form a 4×4 grid over
    // (l_partkey, l_suppkey) and a conjunctive range predicate on both
    // keys prunes to ~1 file. Same gate contract as q355. ----
    "q356_skipping_zorder" -> ((s, dir) => {
      val root = Tables.skippingLayout(s, dir, "zorder")
      val pr = graft.etl.Skipping.readPrunedDetailed(s, root,
        "l_partkey <= 500 AND l_suppkey <= 25 AND l_quantity IS NOT NULL")
      require(pr.fallback.isEmpty,
        s"skipping manifest did not engage: ${pr.fallback}")
      pr.df.groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- PLANNER-INTEGRATED skipping (round 11): q355/q356/q361's three
    // pruning shapes re-gated through the graft-parquet DataSource V2
    // TableProvider — a plain spark.read.format("graft-parquet") with an
    // ordinary .filter, no opt-in helper anywhere. GraftFileIndex applies
    // manifest + bloom pruning inside listFiles, so pruned files never
    // become InputPartitions (SourceV2Spec pins that at the FilePartition
    // grain); each gate requires its pruning stage to have engaged via
    // the per-root prune record, then hash-matches the SAME oracle as
    // its opt-in twin — the V2 path must be indistinguishable. ----
    "q377_v2_daterange" -> ((s, dir) => {
      val root = Tables.skippingLayout(s, dir, "date")
      val df = graft.sources.GraftParquetSource.read(s, root)
        .filter("l_shipdate_d >= DATE '1995-06-01' AND l_shipdate_d < DATE '1995-09-01'")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(d2)).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
      val out = df.localCheckpoint() // materialize: the prune record is written at scan-planning time
      val (total, _, kept) = graft.sources.GraftFileIndex.pruneFor(root)
      // scale-independent engagement proof: the V2 listing must keep
      // EXACTLY the files the gated opt-in helper keeps for this predicate
      val pr = graft.etl.Skipping.readPrunedDetailed(s, root,
        "l_shipdate_d >= DATE '1995-06-01' AND l_shipdate_d < DATE '1995-09-01'")
      require(pr.fallback.isEmpty && kept == pr.selected,
        s"V2 pruning must equal the helper's: $kept/$total vs ${pr.selected}/${pr.total}")
      out
    }),
    // ---- V2 z-order twin: the multi-column interleaved layout's range
    // predicate pruned by the SAME planner-integrated listing; required
    // to keep exactly the files the gated helper keeps (scale-independent
    // — at tiny SFs the predicate is legitimately unselective) ----
    "q378_v2_zorder" -> ((s, dir) => {
      val root = Tables.skippingLayout(s, dir, "zorder")
      val df = graft.sources.GraftParquetSource.read(s, root)
        .filter("l_partkey <= 500 AND l_suppkey <= 25 AND l_quantity IS NOT NULL")
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
      val out = df.localCheckpoint()
      val (total, _, kept) = graft.sources.GraftFileIndex.pruneFor(root)
      val pr = graft.etl.Skipping.readPrunedDetailed(s, root,
        "l_partkey <= 500 AND l_suppkey <= 25 AND l_quantity IS NOT NULL")
      require(pr.fallback.isEmpty && kept == pr.selected,
        s"V2 pruning must equal the helper's: $kept/$total vs ${pr.selected}/${pr.total}")
      out
    }),
    // ---- V2 bloom twin: an IN-probe on the scattered high-cardinality
    // key where min/max stats keep everything — the planner-path bloom
    // stage must prune beyond stats AND match the helper's file set ----
    "q379_v2_bloom_point" -> ((s, dir) => {
      val root = Tables.skippingLayout(s, dir, "date")
      val keys = s.read.parquet(root)
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey")).distinct()
        .orderBy(col("l_orderkey")).limit(5)
        .collect().map(_.getLong(0))
      require(keys.nonEmpty, "probe key derivation found no orderkeys")
      val df = graft.sources.GraftParquetSource.read(s, root)
        .filter(s"l_orderkey IN (${keys.mkString(", ")})")
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"))
        .orderBy(col("l_orderkey"))
      val out = df.localCheckpoint()
      val (_, statsKept, kept) = graft.sources.GraftFileIndex.pruneFor(root)
      require(kept < statsKept,
        s"V2 bloom stage must prune beyond stats: $kept/$statsKept")
      val pr = graft.etl.Skipping.readPrunedDetailed(s, root,
        s"l_orderkey IN (${keys.mkString(", ")})")
      require(pr.fallback.isEmpty && kept == pr.selected &&
        statsKept == pr.statsSelected,
        s"V2 pruning must equal the helper's: $kept/$statsKept vs " +
          s"${pr.selected}/${pr.statsSelected}")
      out
    }),

    // ---- BLOOM-FILTER data skipping (round-10): per-file Bloom filters
    // on l_orderkey over the date-sorted layout, where the key is
    // scattered across files so min/max stats keep EVERYTHING — the
    // pruning shape stats fundamentally can't serve (point lookups on a
    // secondary key; Delta's bloom index). Probe keys are derived
    // deterministically (5 smallest distinct orderkeys ≡ 0 mod 7 — the
    // oracle recomputes the same set in SQL). The requires prove the
    // bloom stage ENGAGED and pruned BEYOND the stats stage; correctness
    // is gate-checked against the plain-filter oracle as always (the
    // reader re-applies the full predicate, so a bad bloom decision
    // could only cost performance — except a false "absent", which the
    // hash-canonicalization contract in BloomSkipping exists to prevent
    // and BloomSkippingSpec pins). ----
    "q361_skipping_bloom" -> ((s, dir) => {
      val root = Tables.skippingLayout(s, dir, "date")
      val keys = s.read.parquet(root)
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey")).distinct()
        .orderBy(col("l_orderkey")).limit(5)
        .collect().map(_.getLong(0))
      require(keys.nonEmpty, "probe key derivation found no orderkeys")
      val pr = graft.etl.Skipping.readPrunedDetailed(s, root,
        s"l_orderkey IN (${keys.mkString(", ")})")
      require(pr.fallback.isEmpty,
        s"skipping manifest did not engage: ${pr.fallback}")
      require(pr.statsSelected >= 0, "bloom index was not consulted")
      require(pr.selected < pr.statsSelected,
        s"bloom stage must prune beyond stats: ${pr.selected}/${pr.statsSelected}")
      pr.df.groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"))
        .orderBy(col("l_orderkey"))
    }),

    // ---- small-file COMPACTION (round-10): a 48-tiny-file lineitem copy
    // bin-packed to ~6 files by graft.etl.Compaction (the OPTIMIZE half
    // of table maintenance a long-lived append table needs). The layout
    // build REQUIRES the file count dropped; the gate proves the rewrite
    // preserved every row and value (count + decimal-exact sum +
    // count(distinct) per group vs the plain-lineitem oracle) and that
    // the skipping manifest stayed fresh through the rewrite (fallback
    // empty ⇒ the incremental post-compaction refresh engaged). ----
    "q362_compaction" -> ((s, dir) => {
      val root = Tables.compactedLayout(s, dir)
      val pr = graft.etl.Skipping.readPrunedDetailed(s, root,
        "l_quantity IS NOT NULL")
      require(pr.fallback.isEmpty,
        s"manifest must stay fresh after compaction: ${pr.fallback}")
      pr.df.groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(d2)).cast("double").as("sum_price"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- ORC sink + source round-trip (round-10): lineitem slice written
    // PARTITIONED through Spark's built-in ORC writer, read back through
    // the ORC reader with a partition filter — the second columnar format
    // a reference user would reach for, under the same oracle as the
    // parquet paths. The filter prunes at the partition-dir grain (ORC v2
    // partition pruning); decimal-exact sums prove value fidelity through
    // the format round-trip. ----
    "q364_orc_roundtrip" -> ((s, dir) => {
      val root = Tables.orcLayout(s, dir)
      s.read.orc(root)
        .filter(col("l_returnflag") =!= "N")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(d2)).cast("double").as("sum_price"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- JSONL sink + source round-trip (round-10): documents written as
    // line-delimited JSON and read back with an EXPLICIT schema (inference
    // off — the S1 discipline; a schema drift surfaces as nulls, which the
    // count columns catch). The aggregate runs over the round-tripped text
    // itself — length sums over every doc — so any escaping or unicode
    // infidelity in writer or parser (newlines, quotes, non-BMP chars)
    // breaks the hash, not just the row count. ----
    "q365_jsonl_roundtrip" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      s.read.schema(schema).json(Tables.jsonlLayout(s, dir))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("text")).as("n_texts"),
          sum(length(col("text"))).as("sum_len"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("sum_nchars"))
        .orderBy(col("source"))
    }),

    // ---- XML sink + source round-trip (round-10): documents written as a
    // PARTITIONED XML table through Spark 4's built-in XML source and read
    // back with an EXPLICIT schema + rowTag (inference off — S1). XML is
    // the format where escaping does real work (`<`, `&`, quotes must
    // entity-encode), so fidelity is gated on the round-tripped text
    // CONTENT: per-group md5 extremes + length sums — one mis-escaped
    // character flips a hash cell, not just a count. The lang filter must
    // prune at the partition-dir grain (FormatsSpec pins numFiles). ----
    "q366_xml_roundtrip" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, source STRING, n_chars BIGINT, lang STRING")
      s.read.schema(schema).option("rowTag", "doc")
        .format("xml").load(Tables.xmlLayout(s, dir))
        .filter(col("lang") =!= "zh")
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("sum_len"),
          min(md5(col("text").cast("binary"))).as("min_md5"),
          max(md5(col("text").cast("binary"))).as("max_md5"),
          sum(col("n_chars")).as("sum_nchars"))
        .orderBy(col("lang"), col("source"))
    }),

    // ---- CSV sink + source round-trip (round-10): documents written
    // through Spark's CSV writer and read back multiLine with an EXPLICIT
    // schema — the reference's ingest format (S1) exercised in BOTH
    // directions, quote/escape discipline under oracle. Same
    // content-hash gate as q366: a quoting bug that splits or merges a
    // field breaks md5/length cells. One documented divergence (CRLF
    // inside quoted fields normalizes to LF in the multiLine parser) is
    // pinned in FormatsSpec and excluded by a CR-free build require. ----
    "q367_csv_roundtrip" -> ((s, dir) => {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      s.read.schema(schema)
        .option("multiLine", "true").option("header", "false")
        .csv(Tables.csvLayout(s, dir))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("doc_id")).as("n_ids"),
          sum(length(col("text"))).as("sum_len"),
          min(md5(col("text").cast("binary"))).as("min_md5"),
          max(md5(col("text").cast("binary"))).as("max_md5"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    }),

    // ---- co-bucketed exchange-free fact join (round-10): orders and
    // lineitem both written bucketBy(8, o_orderkey) sorted-within-buckets
    // (the CatalogSpec layout, now driver-gated). At 100 TB the fact-join
    // shuffle is THE dominant cost; pre-bucketing pays it once at write
    // and every subsequent join on the key reads co-located buckets with
    // no exchange at all. The require pins it structurally: with
    // broadcast off, the SortMergeJoin's SUBTREE contains zero shuffle
    // exchanges — the join consumed the bucketed scans directly. (The
    // tiny per-status rollup above the join legitimately shuffles its
    // 3-row partials; the pin is scoped to the join, where the data is.) ----
    "q369_bucketed_join" -> ((s, dir) => {
      val (ot, lt) = Tables.bucketedPair(s, dir)
      def joined = s.table(ot).join(s.table(lt), "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(d2)).cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus"))
      val prevB = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val prevAqe = s.conf.get("spark.sql.adaptive.enabled")
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        val plan = joined.queryExecution.executedPlan
        val smj = plan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        }
        require(smj.nonEmpty, s"bucketed join must sort-merge:\n$plan")
        val shufflesUnderJoin = smj.head.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
        require(shufflesUnderJoin.isEmpty,
          s"bucket layout must remove the join shuffle:\n$plan")
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
        s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
      joined
    }),

    // ---- full outer join: daily order starts vs daily shipments (both
    // sides pre-aggregated, so the outer join is tiny-on-tiny) ----
    "q48_outer_join" -> ((s, dir) => {
      val od = t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_orders"))
      val ld = t(s, dir, "lineitem")
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(count(lit(1)).as("n_ships"))
      od.join(ld, Seq("d"), "full_outer")
        .select(col("d"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_ships"), lit(0L)).as("n_ships"))
        .orderBy(col("d"))
    }),

    // ---- corpus vocabulary: explode tokens → global term + document
    // frequencies (the base table every TF-IDF / filtering pass needs;
    // one shuffle on the token key, count-distinct via partial aggs) ----
    "q49_vocabulary" -> ((s, dir) => {
      t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id"))) // spread the single-split scan before tokenize+explode
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        // two-step aggregate: count+countDistinct in one agg plans an
        // Expand that ships every exploded token twice (the q56 lesson)
        .groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf_doc"))
        .groupBy(col("token"))
        .agg(sum(col("tf_doc")).as("tf"), count(lit(1)).as("df"))
        .orderBy(col("token"))
    }),

    // ---- edit-distance near-dup pairs on 64-char prefixes (bounded id
    // range; the built-in codegen'd levenshtein on both engines) ----
    "q50_edit_distance" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .filter(col("doc_id") < 300)
        .select(col("doc_id"), substring(col("text"), 1, 64).as("prefix"))
      val a = graft.ops.Par.spread(d, col("doc_id"))
        .select(col("doc_id").as("id_a"), col("prefix").as("prefix_a"))
      val b = d.select(col("doc_id").as("id_b"), col("prefix").as("prefix_b"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        // bounded form: banded DP that abandons a pair once the distance
        // provably exceeds 20 (returns -1), instead of filling the full
        // O(len²) matrix for every pair; kept distances are exact
        .select(col("id_a"), col("id_b"),
          levenshtein(col("prefix_a"), col("prefix_b"), 20).as("edit_dist"))
        .filter(col("edit_dist") >= 0)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- TF-IDF-ordered top terms per document: rank by (tf desc, df asc,
    // term asc) — idf is monotone-decreasing in df, so the ordering equals
    // the tf·idf ordering while staying in exact integers (engine-safe;
    // a float log() would be libm-dependent) ----
    "q51_tfidf_topterms" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id"))) // spread the single-split scan before tokenize+explode
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      val tf = toks.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      // df as a window count over the ALREADY-AGGREGATED tf (one row per
      // (doc, token)): the groupBy+join form replays the whole
      // tokenize+explode+aggregate lineage for the df side — the q69
      // lesson; the window shuffles only the collapsed pair table, once
      val byToken = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
      val withDf = tf.withColumn("df", count(lit(1)).over(byToken))
      // native heap top-k: per-doc top-5 without sorting every (doc, token)
      // row of the partition (token closes the ordering — total per doc)
      Relational
        .topKPerGroupNative(
          withDf,
          partitionCols = Seq(col("doc_id")),
          orderBy = Seq(col("tf").desc, col("df").asc, col("token").asc),
          k = 5,
          rankCol = "rank")
        .select(col("doc_id"), col("token"), col("tf"), col("df"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ---- sliding (hopping) time windows: 1-hour windows every 30 minutes —
    // each event lands in exactly 2 windows (Expand, then one shuffle) ----
    "q52_sliding_windows" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // ---- grouped array aggregation: per language, the sorted distinct
    // source list (bounded dictionary ⇒ safe collect_set at any scale) ----
    "q53_collect_sources" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(
          // joined to a scalar: the driver's hash-compare behavior on LIST
          // parquet columns is unproven, and the string pins identical
          // content + order anyway
          array_join(sort_array(collect_set(col("source"))), ",").as("sources"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    }),

    // ---- cross-document boilerplate mining: 3-gram shingles appearing in
    // ≥5 distinct documents (the "remove repeated template text" pass of a
    // corpus pipeline; explode → one shuffle on the gram key) ----
    "q56_boilerplate_ngrams" -> ((s, dir) => {
      t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id"))) // spread the single-split scan before the per-row gram transform
        .select(col("doc_id"), explode(TextAnalysis.ngrams(col("text"), 3)).as("gram"))
        // two-step aggregate instead of countDistinct+count in one agg: the
        // combined form plans an Expand that pushes TWO copies of every
        // exploded gram through the shuffle; collapsing on (gram, doc_id)
        // first ships one partially-combined row per distinct pair
        .groupBy(col("gram"), col("doc_id"))
        .agg(count(lit(1)).as("tf_doc"))
        .groupBy(col("gram"))
        .agg(count(lit(1)).as("df"), sum(col("tf_doc")).as("tf"))
        .filter(col("df") >= 5)
        .orderBy(col("gram"))
    }),

    // ---- benchmark-contamination check: training docs sharing any 3-gram
    // with the held-out set (deterministic doc_id%50 split); per-doc count
    // of distinct shared shingles. Semi-join form: the bench gram set is
    // deduped first, train (doc, gram) pairs semi-join against it, and the
    // distinct-count runs as Spark's two-phase aggregate — every buffer is
    // bounded. (A per-gram collect_set of train doc_ids would grow with
    // document frequency: one boilerplate gram could collect millions of
    // ids into a single aggregation buffer at corpus scale.) ----
    "q57_contamination" -> ((s, dir) => {
      val grams = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id"))) // spread the single-split scan
        .select(col("doc_id"), explode(TextAnalysis.ngrams(col("text"), 3)).as("gram"))
      val benchGrams = grams.filter(col("doc_id") % 50 === 0).select(col("gram")).distinct()
      grams.filter(col("doc_id") % 50 =!= 0)
        .join(benchGrams, Seq("gram"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_shared_grams"))
        .orderBy(col("doc_id"))
    }),

    // ---- duplicate-cluster labeling: connected components (iterative
    // min-label propagation) over the exact-Jaccard near-dup pairs — the
    // transitive-closure step that turns pairs into dedup groups. Exact
    // word-set duplicates collapse to one representative FIRST (a jaccard-1.0
    // clique of m docs is 1 node instead of m²/2 edges, and the all-pairs
    // scan shrinks quadratically); members then inherit their rep's label.
    // Identical output (rep = group min id, so component minima agree) at a
    // fraction of the edge volume. Oracle: DuckDB recursive CTE over the raw
    // pair graph. ----
    "q58_dup_clusters" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .filter(col("doc_id") < 1000)
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), Dedup.wordSetSignature(col("text")).as("sig"), col("text"))
      // materialize reps once: the subtree (scan → tokenize → sig → groupBy)
      // is otherwise replayed by BOTH sides of the O(n²) edge join, the CC
      // node seed, and the final label join-back — 4 recomputes of the most
      // expensive leaf. Bounded (≤ maxId rows), so the checkpoint is tiny.
      val reps = base
        .groupBy(col("sig"))
        .agg(min(col("doc_id")).as("rep"), min_by(col("text"), col("doc_id")).as("text"))
        .localCheckpoint(true)
      val edges = Dedup
        .jaccardPairs(reps.select(col("rep").as("doc_id"), col("text")),
          "doc_id", "text", threshold = 0.9, maxId = 1000L)
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(reps.select(col("rep")), edges)
      base.select(col("doc_id"), col("sig"))
        .join(reps.select(col("sig"), col("rep")), "sig")
        .join(cc, "rep")
        .select(col("doc_id"), col("component"))
        .orderBy(col("doc_id"))
    }),

    // ---- window-function surface: ntile / percent_rank / cume_dist over a
    // unique total order (tie-broken by key, so ratios are engine-stable) ----
    // ---- window VALUE functions: first/last/nth + a ROWS-framed moving
    // average over a unique total order (completes §2.5 alongside q59's
    // rank family and q70's RANGE frame) ----
    "q83_window_values" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val mov = w.rowsBetween(-2, 0)
      t(s, dir, "orders")
        .select(
          col("o_orderkey"), col("o_custkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"),
          // trailing 3-row mean: decimal-exact sum ÷ exact count, surfaced
          // as double (the engine-stable division shape)
          (sum(col("o_totalprice").cast(d2)).over(mov).cast("double")
            / count(lit(1)).over(mov).cast("double")).as("mov_avg3"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- unpivot (melt): wide → long on the pivoted quantity sums — the
    // inverse of q39, closing the reshape pair ----
    "q84_unpivot" -> ((s, dir) => {
      val wide = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast(d2)).cast("double"))
      wide
        .unpivot(Array(col("l_returnflag")), Array(col("F"), col("O")),
          "l_linestatus", "sum_qty")
        .filter(col("sum_qty").isNotNull)
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- rank-family window statistics per priority class: ntile(4),
    // percent_rank, cume_dist partitioned by o_orderpriority — the
    // partitioned analytic-window shape (no global order-by; each
    // partition sorts independently) ----
    "q59_window_stats" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(
          col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- date/time arithmetic surface: month truncation, day offsets,
    // epoch diffs, end-of-month ----
    "q60_date_math" -> ((s, dir) => {
      val d = to_date(col("o_orderdate"))
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          date_trunc("month", d).cast("date").as("order_month"),
          date_add(d, 30).as("plus_30d"),
          datediff(d, lit("1970-01-01").cast("date")).cast("long").as("epoch_days"),
          last_day(d).as("month_end"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- correlated LATERAL subquery with per-row ORDER BY + LIMIT (the
    // SQL form of top-k-per-group, exercising Catalyst's lateral-join
    // decorrelation) ----
    "q61_lateral_topk" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_orders_lat")
      t(s, dir, "customer").createOrReplaceTempView("v_customer_lat")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM v_customer_lat c, LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM v_orders_lat o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
    }),

    // ---- variance / correlation from EXACT decimal sums: the naive
    // one-pass float formulas are accumulation-order-dependent, so instead
    // sum decimals (exact, order-independent) and form the statistic in one
    // final IEEE double expression — engine- and partitioning-stable, unlike
    // built-in var_samp/corr which accumulate in double. Columns chosen so
    // EVERY intermediate product stays below 2^53 (quantity ≤ 50, discount
    // ≤ 0.1, safe to ~1.9M rows/group worst-case on the quantity term): above 2^53 the two engines' multiply
    // paths round differently and the last ulp diverges (measured with
    // extendedprice — its n·Σp² reaches 1.4e16). ----
    "q62_exact_variance" -> ((s, dir) => {
      val q = col("l_quantity").cast(DecimalType(18, 2))
      val d = col("l_discount").cast(DecimalType(18, 2))
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(q).as("sq"), sum(d).as("sd"),
          sum(q * q).as("sqq"), sum(d * d).as("sdd"), sum(q * d).as("sqd"))
        .select(
          col("l_returnflag"), col("n"),
          ((col("n") * col("sqq").cast("double") - col("sq").cast("double") * col("sq").cast("double"))
            / (col("n") * (col("n") - 1))).as("var_qty"),
          ((col("n") * col("sqd").cast("double") - col("sq").cast("double") * col("sd").cast("double"))
            / (sqrt(col("n") * col("sqq").cast("double") - col("sq").cast("double") * col("sq").cast("double"))
              * sqrt(col("n") * col("sdd").cast("double") - col("sd").cast("double") * col("sd").cast("double"))))
            .as("corr_qty_disc"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- multimodal chunking: split binary payloads into fixed 100-byte
    // chunks (the batch shape a media decode/feature pass consumes);
    // explode over a computed offset sequence, byte-exact slices ----
    "q63_binary_chunks" -> ((s, dir) => {
      val payload = col("text").cast("binary")
      t(s, dir, "documents")
        .select(col("doc_id"), payload.as("payload"), length(payload).as("n_bytes"))
        .filter(col("n_bytes") > 0)
        .select(col("doc_id"), col("payload"), col("n_bytes"),
          explode(sequence(lit(0), ((col("n_bytes") - 1) / 100).cast("int"))).as("chunk_idx"))
        .select(
          col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          length(substring(col("payload"), col("chunk_idx") * 100 + 1, lit(100))).as("chunk_bytes"),
          hex(substring(col("payload"), col("chunk_idx") * 100 + 1, lit(8))).as("head_hex"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- skew-safe salted equi-join: left rows salt-scattered, right rows
    // replicated ×salt — result provably identical to the plain join (the
    // oracle IS the plain join), so the skew machinery itself is gate-checked ----
    "q64_salted_join" -> ((s, dir) => {
      Relational
        .saltedEquiJoin(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
          t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus")),
          keyCol = "l_orderkey", saltFactor = 4)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- AQE skew-join mitigation (round-10): the AUTOMATIC answer to
    // the skew q64 handles by hand-salting. A 99.9%-hot join key gives
    // one shuffle partition virtually all the bytes; without AQE one
    // task drags the whole stage (at 100 TB: one straggler for hours).
    // With skew-join on, AQE splits the hot partition at the advisory
    // size and duplicates the matching build rows — same results, wall
    // clock divided by the split count. The require pins ENGAGEMENT
    // structurally ("skew=true" on the executed SortMergeJoin), so the
    // gate fails if a conf default or plan change ever silently turns
    // the mitigation off. Three conditions had to be engineered and are
    // load-bearing: (1) the fact scan is SPREAD first — AQE splits a
    // skewed reduce partition at MAP-OUTPUT boundaries, so a single-split
    // scan (one map task = one block) is structurally unsplittable no
    // matter how skewed; (2) rows carry an incompressible md5 tag —
    // skew detection reads COMPRESSED map sizes, and a partition of
    // identical key values lz4-compresses below any sane threshold;
    // (3) the dim side is MATERIALIZED — the rule only matches
    // Sort-over-ShuffleStage, and a distinct() leaves a HashAggregate
    // between them. Each was found by measurement, not the docs. ----
    "q371_aqe_skew_join" -> ((s, dir) => {
      val kExpr = expr("CASE WHEN l_orderkey % 1000 < 999 THEN 0 " +
        "ELSE l_orderkey % 1000 END")
      val fact = graft.ops.Par.spread(t(s, dir, "lineitem"), col("l_orderkey"))
        .select(kExpr.as("k"), col("l_quantity"),
          md5(concat(col("l_orderkey").cast("string"), lit("#"),
            col("l_linenumber").cast("string"))).as("tag"))
      val dim = t(s, dir, "lineitem")
        .select(kExpr.as("k")).distinct()
        .withColumn("label",
          when(col("k") === 0, lit("hot")).otherwise(concat(lit("cold_"), col("k"))))
        .localCheckpoint()
      def joined = fact.join(dim, "k")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          min(col("tag")).as("min_tag"),
          max(col("tag")).as("max_tag"))
        .orderBy(col("label"))
      val saved = Seq(
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled"
      ).map(k => k -> s.conf.getOption(k))
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
        s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
        s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        val df = joined
        df.collect() // materialize so AQE finalizes the physical plan
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("skew=true"),
          s"AQE skew-join must engage on the hot key:\n$plan")
        df
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    }),

    // ---- dynamic partition pruning (round-10): the star-join runtime
    // prune — the fact table is month-partitioned (Tables.dppLayout),
    // the filter lives on the DIM side (quarter = 1), and the fact query
    // never names a month. DPP turns the dim filter into a runtime
    // subquery on the fact's partition column via broadcast reuse, so
    // the scan touches only matching month dirs — at 100 TB the
    // difference between reading 3 months and reading 7 years. The
    // require pins the dynamicpruning expression in the executed scan;
    // the oracle recomputes from raw lineitem by quarter. ----
    "q372_dynamic_partition_pruning" -> ((s, dir) => {
      val fact = s.read.parquet(Tables.dppLayout(s, dir))
      val dim = fact.select(col("ship_month")).distinct()
        .withColumn("q", substring(col("ship_month"), 6, 2).cast("int"))
        .withColumn("quarter", ((col("q") - 1) / 3 + 1).cast("int"))
        .drop("q")
      def joined = fact.join(dim.filter(col("quarter") === 1), Seq("ship_month"))
        .groupBy(col("ship_month"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(d2)).cast("double").as("sum_price"))
        .orderBy(col("ship_month"))
      val df = joined
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("dynamicpruning"),
        s"DPP must inject a runtime partition filter:\n$plan")
      df
    }),

    // ---- metadata-only aggregation (round-10): COUNT(*), non-null
    // counts, and exact MIN/MAX answered from the stats MANIFEST alone —
    // zero data files opened (the Iceberg/Delta "metadata query" path;
    // at 100 TB, a footer-ledger lookup instead of an hours-long scan
    // for the row-count/freshness/range queries every catalog UI runs).
    // Strict by construction: Skipping.metadataSummary returns None —
    // never a wrong number — unless the manifest is current against the
    // live listing and every file carries the stat; string columns are
    // excluded from bounds (parquet may truncate binary min/max). The
    // result is a driver-built LocalRelation — the plan cannot contain a
    // scan; the oracle proves the metadata math equals the full scan. ----
    "q373_metadata_agg" -> ((s, dir) => {
      val root = Tables.skippingLayout(s, dir, "date")
      val (rows, cols) = graft.etl.Skipping.metadataSummaryOrFail(s, root)
      def c(name: String) = cols.getOrElse(name, throw new IllegalStateException(
        s"column $name must carry complete stats"))
      def lo(name: String) = c(name).lo.get
      def hi(name: String) = c(name).hi.get
      import s.implicits._
      Seq((rows, c("l_quantity").nonNull,
        lo("l_quantity").toDouble, hi("l_quantity").toDouble,
        lo("l_shipdate_d"), hi("l_shipdate_d"),
        lo("l_partkey").toLong, hi("l_partkey").toLong,
        c("l_returnflag").nonNull))
        .toDF("n_rows", "qty_non_null", "qty_min", "qty_max",
          "date_min_s", "date_max_s", "pk_min", "pk_max", "flag_non_null")
        .select(col("n_rows"), col("qty_non_null"), col("qty_min"), col("qty_max"),
          to_date(col("date_min_s")).as("date_min"),
          to_date(col("date_max_s")).as("date_max"),
          col("pk_min"), col("pk_max"), col("flag_non_null"))
    }),

    // ---- BPE ENCODE on unseen tokens (round 11): train merges on the
    // ENGLISH slice only, then tokenize the FULL corpus with them — the
    // non-English dictionary contains tokens training never saw, which
    // q251's training-state join cannot answer for. The encode fold runs
    // once per DISTINCT token (vocabulary-bounded, Heaps' law), then a
    // plain dictionary equi-join back to the stream — the same scale
    // shape as training, no per-occurrence rewriting. ----
    "q374_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
      val corpusTok = docs
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .localCheckpoint() // consumed by the dictionary AND the final join
      val vocab = docs.filter(col("lang") === "en")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .select(graft.ops.Bpe.charSeq(col("token")).as("seq"), col("cnt"))
      val merges = graft.ops.Bpe.collectMerges(
        graft.ops.Bpe.trainMerges(vocab, "seq", "cnt", rounds = 4))
      graft.ops.Bpe.encode(corpusTok, "token", merges)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("n_sym")).as("total_symbols"))
        .orderBy(col("source"))
    }),

    // ---- Bloom-filter pre-filtered semi join: fact rows drop map-side
    // before the shuffle; exactness guaranteed by the verifying semi join
    // (oracle = plain EXISTS — the pruning layer is gate-checked) ----
    "q65_bloom_semijoin" -> ((s, dir) => {
      graft.ops.Sketches
        .bloomSemiJoin(
          t(s, dir, "lineitem"),
          "l_orderkey",
          t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- SCD-2 effective-dating: per customer, each order becomes a
    // [valid_from, valid_to) version row via lead(); open version ends NULL.
    // The standard change-history shape for dimension tables. ----
    "q66_scd2_ranges" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("valid_from"),
          to_date(lead(col("o_orderdate"), 1).over(w)).as("valid_to"),
          (lead(col("o_orderkey"), 1).over(w).isNull).as("is_current"))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
    }),

    // ---- array higher-order-function surface: transform / filter /
    // aggregate over the token array (token-length stats without exploding) ----
    "q67_array_ops" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      val lens = transform(toks, t => length(t))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          coalesce(array_max(lens), lit(0)).cast("long").as("max_token_len"),
          size(filter(toks, t => length(t) >= 6)).cast("long").as("n_long_tokens"),
          aggregate(lens, lit(0L), (acc, x) => acc + x).as("total_chars"))
        .orderBy(col("doc_id"))
    }),

    // ---- flagship corpus-cleaning composition: quality gate (length +
    // stopword-density) → exact-dedup survivorship → deterministic split
    // assignment — the full "raw crawl to training shard" path as ONE
    // declarative plan (filter, window-free aggregation, hash bucketing) ----
    "q68_corpus_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = TextAnalysis.tokens(col("text"))
      val nTokens = TextAnalysis.tokenCount(col("text"))
      val quality = docs
        .select(col("doc_id"), col("lang"), col("text"), nTokens.as("n_tokens"),
          TextAnalysis.wordHitsTokens(toks, TextAnalysis.EnStopwords).as("n_stop"))
        // length gate + stopword-density cap, both in exact integers
        .filter(col("n_tokens") >= 20 && col("n_stop") * 2 <= col("n_tokens"))
      val survivors = quality
        .groupBy(Dedup.wordSetSignature(col("text")).as("sig"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("lang"), col("doc_id")).as("lang"),
          min_by(col("n_tokens"), col("doc_id")).as("n_tokens"))
      val bucket =
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long") % 100)
      survivors
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          when(bucket < 90, "train").otherwise("heldout").as("split"))
        .orderBy(col("doc_id"))
    }),

    // ---- bigram language-model counts: P(w2 | w1) from exact integer
    // counts, emitted for bigrams seen ≥ 20 times (the n-gram-LM / tokenizer
    // statistics pass; one explode + two aggregations) ----
    "q69_bigram_lm" -> ((s, dir) => {
      val grams = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(explode(TextAnalysis.ngrams(col("text"), 2)).as("gram"))
        .select(split_part(col("gram"), lit(" "), lit(1)).as("w1"),
          split_part(col("gram"), lit(" "), lit(2)).as("w2"))
      val big = grams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      // unigram totals as a window sum over the ALREADY-AGGREGATED bigram
      // table: deriving n_w1 via a second groupBy + join would replay the
      // whole explode+aggregate lineage for both join sides; the window
      // shuffles only vocab-squared aggregated rows, once
      val byW1 = org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))
      big.withColumn("n_w1", sum(col("n_pair")).over(byW1))
        .filter(col("n_pair") >= 20)
        .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"),
          (col("n_pair").cast("double") / col("n_w1").cast("double")).as("p_cond"))
        .orderBy(col("w1"), col("w2"))
    }),

    // ---- multimodal frame sampling: every 5th 100-byte chunk with a
    // content signature — the decode-cost-bounding pass of a media pipeline ----
    "q71_frame_sample" -> ((s, dir) => {
      Multimodal
        .sampleChunks(
          t(s, dir, "documents")
            .select(col("doc_id"), col("text").cast("binary").as("payload")),
          "payload")
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("frame_sig"), col("frame_bytes"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- similarity: product-quantization ANN — 16 subspaces × 256-code
    // codebooks (128 bits/vector, 16× compression) scored by asymmetric
    // distance against reconstructions (completes the LSH/IVF/PQ trio).
    // Gated via the recall audit over its 50 queries: hits-in-exact-top20
    // measured minimum is 4 at every SF — the boolean thresholds at ≥ 3. ----
    "q74_ann_pq" -> ((s, dir) => {
      val ann = Similarity.pqTopK(t(s, dir, "embeddings"), "vec_id", "embedding", k = 5,
        queryMaxId = 50, subspaces = 16, codebookSize = 256)
      annRecallAudit(s, dir, ann, auditMax = 50L)
        .select(col("query_id"), col("exact_best_id"), col("exact_best_cosine"),
          (col("h20") >= 3).as("recall20_ok"))
        .orderBy(col("query_id"))
    }),

    // ---- similarity: IVF-PQ composed ANN — the FAISS IndexIVFPQ shape
    // (coarse quantizer prunes to 8 of 32 cells; 16×256 product codes on
    // the RESIDUALS x − centroid, scored asymmetrically against
    // x̂ = centroid + recon). Residual quantization + cell pruning is THE
    // production index at corpus scale; gated via the bounded recall
    // audit over its 50 queries: hits-in-exact-top20 measured minima are
    // 5/4/3 at sf0.001/0.01/0.1 (tools/RecallAudit) — the boolean
    // thresholds strictly below at ≥ 2. ----
    "q343_ann_ivfpq" -> ((s, dir) => {
      val ann = Similarity.ivfPqTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 5, queryMaxId = 50, nlist = 32, nprobe = 8, ivfIters = 1,
        subspaces = 16, codebookSize = 256)
      annRecallAudit(s, dir, ann, auditMax = 50L)
        .select(col("query_id"), col("exact_best_id"), col("exact_best_cosine"),
          (col("h20") >= 2).as("recall20_ok"))
        .orderBy(col("query_id"))
    }),

    // ---- REAL PNG IHDR / JPEG SOF header decode (the q86 device on the
    // two ubiquitous image formats): payloads are synthesized from doc_id
    // arithmetic with pure expressions — PNG signature + IHDR (width/height
    // BE32, bit depth, color type; channels per the public color-type
    // table), JPEG SOI + APP0/JFIF + SOF0 (precision, height/width BE16,
    // component count) — so the oracle recomputes the same arithmetic and
    // a parser that misreads an offset, endianness, or the segment walk
    // goes hash-red. ----
    "q344_image_headers" -> ((s, dir) => {
      val d = col("doc_id").cast("int")
      def be16h(c: Column): Column = format_string("%04x", c)
      def be32h(c: Column): Column = format_string("%08x", c)
      // PNG (even doc_id): depth ∈ {8,16}, color type ∈ {0,2,4,6}
      val pw = pmod(d, lit(1920)) + lit(1)
      val ph = pmod(d, lit(1080)) + lit(1)
      val depth = element_at(array(lit(8), lit(16)), pmod(shiftright(d, 1), lit(2)) + lit(1))
      val ctype = element_at(array(lit(0), lit(2), lit(4), lit(6)), pmod(d, lit(4)) + lit(1))
      val pngHex = concat(lit("89504e470d0a1a0a"), lit("0000000d"), lit("49484452"),
        be32h(pw), be32h(ph), format_string("%02x", depth), format_string("%02x", ctype),
        lit("000000"), lit("00000000")) // compression/filter/interlace + CRC (unchecked)
      // JPEG (odd doc_id): SOI + 16-byte APP0/JFIF + SOF0 + EOI;
      // components ∈ {1,3}, precision 8
      val jw = pmod(d, lit(4096)) + lit(1)
      val jh = pmod(d, lit(2160)) + lit(1)
      val ncomp = element_at(array(lit(1), lit(3)), pmod(shiftright(d, 1), lit(2)) + lit(1))
      val sofLen = lit(8) + ncomp * lit(3)
      val compHex = when(ncomp === 1, lit("011100"))
        .otherwise(lit("012200021101031101"))
      val jpegHex = concat(lit("ffd8"),
        lit("ffe0"), lit("0010"), lit("4a46494600"), lit("0101"), lit("00"),
        lit("00010001"), lit("0000"),
        lit("ffc0"), be16h(sofLen), lit("08"), be16h(jh), be16h(jw),
        format_string("%02x", ncomp), compHex, lit("ffd9"))
      val withBin = t(s, dir, "documents")
        .select(col("doc_id"),
          unhex(when(pmod(d, lit(2)) === 0, pngHex).otherwise(jpegHex)).as("payload"))
      Multimodal.decodeMedia(withBin, "payload")
        .select(col("doc_id"), col("decoded.format").as("format"),
          col("decoded.width").as("width"), col("decoded.height").as("height"),
          col("decoded.bpp").as("bpp"), col("decoded.channels").as("channels"))
        .orderBy(col("doc_id"))
    }),

    // ---- char-trigram language ID (Cavnar–Trenkle out-of-place rank
    // distance): profiles trained from the corpus's own labels on an 80/20
    // md5-bucket split, held-out docs classified by arg-min rank distance —
    // all exact integer counts/ranks, so predictions gate cell-for-cell.
    // Output is the q185 per-class precision/recall audit over the held-out
    // split (the labels are synthetic and near-uncorrelated with the text,
    // so the MEASURED accuracy is chance-level — the gate tests the
    // classifier's exact determinism, and the audit is the honest report). ----
    "q345_trigram_langid" -> ((s, dir) => {
      val cls = TextAnalysis
        .trigramLangId(t(s, dir, "documents"), "doc_id", "text", "lang")
        .select(col("actual"), col("pred"))
      val cells = cls.groupBy(col("actual"), col("pred")).agg(count(lit(1)).as("n"))
        .localCheckpoint() // three small consumers below
      val byActual = cells.groupBy(col("actual").as("class")).agg(sum(col("n")).as("n_actual"))
      val byPred = cells.groupBy(col("pred").as("class")).agg(sum(col("n")).as("n_pred"))
      val tp = cells.filter(col("actual") === col("pred"))
        .select(col("actual").as("class"), col("n").as("tp"))
      byActual.join(byPred, Seq("class"), "full_outer")
        .join(tp, Seq("class"), "left")
        .select(col("class"),
          coalesce(col("n_actual"), lit(0L)).as("n_actual"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("precision", when(col("n_pred") > 0,
          col("tp").cast("double") / col("n_pred").cast("double")))
        .withColumn("recall", when(col("n_actual") > 0,
          col("tp").cast("double") / col("n_actual").cast("double")))
        .orderBy(col("class"))
    }),

    // ---- heavy hitters: Misra–Gries bounded-memory candidates (k=32
    // counters per partial aggregate, mergeable) verified against exact
    // counts — the sketch guarantees every token with freq > n/(k+1)
    // survives, so candidates ∩ exact-heavy = exactly the true heavy set
    // (deterministic even though the sketch state is partitioning-dependent;
    // oracle = plain exact-frequency filter) ----
    "q75_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val hhK = 32
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val cands = toks.as[String]
        .select(new graft.ops.Aggregators.MisraGries(hhK).toColumn.name("mg"))
        .select(explode(map_keys(col("mg"))).as("token"))
      // corpus total as a SCALAR aggregate broadcast onto the (tiny) verified
      // set — NOT an unpartitioned window over the token-frequency table: at
      // corpus scale that table is billions of rows and a partitionBy()
      // window funnels all of them through one partition. The frequency
      // table is materialized once (vocab-sized) so the total's aggregate
      // doesn't replay the tokenize+explode+groupBy subtree.
      val freq = toks.groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .localCheckpoint()
      val total = freq.agg(sum(col("freq")).as("n_total"))
      freq
        .join(cands, "token")
        .crossJoin(broadcast(total))
        .filter(col("freq") * (hhK + 1) > col("n_total"))
        .select(col("token"), col("freq"))
        .orderBy(col("token"))
    }),

    // ---- incremental shard dedup: an incoming shard (deterministic ~20%
    // slice) deduped within itself AND against the existing corpus's
    // signature set — the "new crawl arrives" ingestion pattern; the
    // existing side ships only distinct signatures (anti join), never text ----
    "q72_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sig = Dedup.wordSetSignature(col("text"))
      val existingSigs = docs.filter(col("doc_id") % 10 < 8)
        .select(sig.as("sig")).distinct()
      docs.filter(col("doc_id") % 10 >= 8)
        .select(col("doc_id"), sig.as("sig"))
        .groupBy(col("sig")).agg(min(col("doc_id")).as("doc_id"))
        .join(existingSigs, Seq("sig"), "left_anti")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // ---- domain-mixture reweighting: per (lang, source) cell, the sampling
    // weight that flattens the mixture to uniform over cells — exact integer
    // counts, one final double division (the data-mixture math of a training
    // run, engine-deterministic) ----
    "q73_mixture_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cells = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
      // totals via unpartitioned window aggregates over the CELL table (a
      // dictionary-sized frame): one documents scan + one aggregation,
      // where a crossJoin against a separate totals agg would execute the
      // whole cells subtree twice
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy()
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      cells
        .select(
          col("lang"), col("source"), col("n_docs"),
          (sum(col("n_docs")).over(wAll).cast("double") /
            (count(lit(1)).over(wAll).cast("double") * col("n_docs").cast("double")))
            .as("weight"))
        .orderBy(col("lang"), col("source"))
    }),

    // ---- RANGE-framed window: trailing 30-day order total per customer
    // (value-based frame over epoch days — the time-decayed feature shape;
    // rangeBetween, not rowsBetween) plus share-of-customer-total ----
    "q70_trailing_window" -> ((s, dir) => {
      val days = datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
      val wRange = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("d"))
        .rangeBetween(-29, 0)
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("o_custkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), days.as("d"),
          col("o_totalprice").cast(d2).as("price"))
        .select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("price")).over(wRange).cast("double").as("trailing_30d"),
          (col("price").cast("double") /
            sum(col("price")).over(wAll).cast("double")).as("share_of_cust"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- Structured Streaming batch equivalence: the q18 hourly rollup run
    // THROUGH readStream + watermark + window + memory sink must equal the
    // batch result exactly (decimal-accumulated sum ⇒ arrival-order
    // independent) — the gate proof that the engine's operators carry over
    // to streams unchanged. Oracle = q18's oracle. ----
    "q77_stream_hourly" -> ((s, dir) => {
      // MULTI-BATCH feed (time-split thirds): Complete mode re-emits the
      // full aggregate per batch and the memory sink REPLACES, so the read
      // table is the final aggregate - oracle unchanged
      val ev = Tables.eventsStreamBatched(s, dir, mode = "time")
      graft.streaming.StreamOps
        .runToMemory(s, graft.streaming.StreamOps.hourlyCounts(ev),
          "q77_mem", org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy(col("hour_start"), col("event_type"))
    }),

    // ---- Structured Streaming session windows: the q17-style gap
    // sessionization run THROUGH readStream + session_window + watermark.
    // Spark only allows APPEND output for session windows, which emits a
    // session once its end+gap clears the watermark; with a 0-second
    // watermark delay over a fully-consumed source that is EXACTLY the
    // sessions with last_event + 30min <= max(ts) — deterministic, and the
    // oracle applies the same closed-session filter to the batch
    // lag/flag/cumsum form (probed: 9542 of 9549 sessions at sf0.01, the 7
    // held-back tails all end within 30min of corpus max-ts). ----
    // ---- arbitrary stateful streaming (flatMapGroupsWithState) under the
    // gate: per-user totals in EXACT integer cents, so state merges are
    // arrival-order/batch-boundary independent and the single-batch Append
    // output equals the batch aggregate cell-for-cell (the FMGWS path's
    // batch-equivalence proof — q77/q92's pattern for custom state). ----
    "q118_stream_totals" -> ((s, dir) => {
      // MULTI-BATCH feed (md5 mod 3): users span batches, so the running
      // state hands off across >=2 batch boundaries; each touched batch
      // emits the user's running total, and the final state is the
      // max-n_events emission (n_events is monotone per key) — which must
      // equal the batch aggregate, same oracle as the single-batch gate
      val ev = Tables.eventsStreamBatched(s, dir, mode = "hash")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("cents"))
      graft.streaming.StreamOps
        .runToMemory(s,
          graft.streaming.StreamOps.runningUserTotalsExact(s, ev),
          "q118_mem", org.apache.spark.sql.streaming.OutputMode.Append())
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          (max_by(col("cents"), col("n_events")).cast("double") / lit(100.0))
            .as("total_value"))
        .orderBy(col("user_id"))
    }),

    // ---- streaming sessionization (30-min gap sessions over the events
    // stream, StreamOps.sessionCounts), run to completion into a memory
    // sink and gated against the batch lag+running-sum session oracle ----
    "q92_stream_sessions" -> ((s, dir) => {
      // MULTI-BATCH feed (time-split thirds): the watermark ADVANCES between
      // batches, sessions straddling a cut accumulate across a state
      // handoff, and nothing is late (later batches sit strictly above the
      // earlier watermark) — the emitted set is still exactly the sessions
      // with end+gap <= final watermark, so the oracle is unchanged
      val ev = Tables.eventsStreamBatched(s, dir, mode = "time")
      graft.streaming.StreamOps
        .runToMemory(s,
          graft.streaming.StreamOps.sessionCounts(ev, "30 minutes", watermark = "0 seconds"),
          "q92_mem", org.apache.spark.sql.streaming.OutputMode.Append())
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ---- approximate-percentile accuracy gate (q32's pattern for
    // quantiles): the sketch value stays internal; what the driver hashes is
    // the EXACT median, the group size, and a boolean asserting the sketch's
    // returned element sits within its configured rank-error envelope
    // (ε = 1/accuracy, +1 for duplicate-value rank ambiguity) — computed
    // with one extra broadcast-join rank pass, both sides deterministic ----
    "q93_approx_quantile_gate" -> ((s, dir) => {
      val acc = 1000
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"))
        .filter(col("l_extendedprice").isNotNull)
      val ap = li.groupBy(col("l_returnflag"))
        .agg(
          expr(s"percentile_approx(l_extendedprice, 0.5, $acc)").as("ap"),
          count(lit(1)).as("n_rows"))
      val rk = li.join(broadcast(ap), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(
          count(when(col("l_extendedprice") <= col("ap"), lit(1))).as("rk"),
          min(col("n_rows")).as("n_rows"))
      val exact = Relational
        .exactQuantilesByKey(li, "l_returnflag", "l_extendedprice", Seq(0.5))
        .withColumnRenamed("p50", "exact_p50")
      rk.join(exact, "l_returnflag")
        .select(
          col("l_returnflag"), col("n_rows"), col("exact_p50"),
          (abs(col("rk").cast("double") - lit(0.5) * col("n_rows").cast("double"))
            <= col("n_rows").cast("double") / acc + 1.0).as("rank_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- running distinct-count window (COUNT(DISTINCT) OVER is illegal in
    // both engines): first-occurrence flag + running sum, two streaming
    // window passes, no per-row set buffer ----
    "q94_running_distinct" -> ((s, dir) => {
      Relational
        .runningDistinct(t(s, dir, "events"), col("user_id"), col("event_type"),
          Seq(col("ts"), col("event_id")))
        .select(col("event_id"), col("user_id"), col("running_distinct"))
        .orderBy(col("event_id"))
    }),

    // ---- Markov transition matrix of per-user event flow: lag over one
    // user-keyed shuffle, types²-sized rollup ----
    "q95_event_transitions" -> ((s, dir) => {
      graft.ops.Events
        .transitionCounts(t(s, dir, "events"), col("user_id"), col("event_type"),
          col("ts"), col("event_id"))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // ---- mixture-weighted corpus resampling: q73's flatten-to-uniform cell
    // weights drive a deterministic PPS sample (md5-derived uniform, row-
    // local, engine-recomputable) — the step that turns mixture math into an
    // actual training corpus ----
    "q96_weighted_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cells = docs.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy()
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      // same flatten-to-uniform formula as q73 (window over the dictionary-
      // sized CELL table, not the corpus)
      val weights = cells.select(
        col("lang"), col("source"),
        (sum(col("n_docs")).over(wAll).cast("double") /
          (count(lit(1)).over(wAll).cast("double") * col("n_docs").cast("double")))
          .as("weight"))
      Relational
        .deterministicWeightedSample(
          docs.join(broadcast(weights), Seq("lang", "source")),
          col("doc_id"), col("weight"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ---- equi-depth histogram without a global sort: boundaries from the
    // bucketed exact-quantile machinery, assignment is a row-local
    // when-cascade against the broadcast boundary frame (ntile's ordered
    // window would serialize each key through one reducer) ----
    "q97_equidepth_hist" -> ((s, dir) => {
      Relational
        .equiDepthHistogram(t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", bins = 4)
        .orderBy(col("l_returnflag"), col("bin"))
    }),

    // ---- EXACT similarity self-join at scale: positional prefix filter
    // (SSJoin/PPJoin) — candidates equi-join on rarest-token prefixes whose
    // length guarantees recall 1.0 BY THEOREM (no MinHash probability
    // argument), then exact sorted-merge verify. Exact-duplicate collapse
    // first (the dedup-family invariant: an m-doc identical cluster is one
    // node, not m²/2 output pairs), so the output is all near-dup pairs
    // among DISTINCT word sets and the all-pairs oracle applies over the
    // representatives. This corpus is ADVERSARIAL for prefix filtering —
    // a 31-token vocabulary means ~90% of pairs share a "rare" token and
    // candidate pruning is structurally impossible (measured: 7M of 7.7M
    // rep pairs are candidates; any exact method must verify them) — which
    // makes the verify kernel the whole cost: broadcast attach (the ~1 MB
    // signature table) streams candidates through the native long-merge
    // with zero array shuffle. The shuffle-attach twin stays spec-pinned
    // for the large-corpus regime. ----
    "q98_prefix_jaccard" -> ((s, dir) => {
      val reps = Dedup.representatives(t(s, dir, "documents"), "doc_id", "text")
      Dedup
        .prefixFilterJaccardPairs(reps, "doc_id", "text",
          threshold = 0.9, broadcastAttach = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- point-in-interval RANGE join via the bin rewrite: a pure range
    // predicate would plan as BroadcastNestedLoopJoin (points × intervals);
    // binning turns it into one equi-join on bin ids + an exact residual.
    // Deterministically sampled 30-day order windows against every lineitem
    // shipdate — exact integer counts + decimal-exact quantity sums. ----
    "q99_range_join" -> ((s, dir) => {
      val iv = t(s, dir, "orders")
        .filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey"), col("o_orderdate").cast("timestamp").cast("long").as("win_lo"))
        .withColumn("win_hi", col("win_lo") + lit(30L * 86400L))
      val pts = t(s, dir, "lineitem")
        .select(col("l_shipdate").cast("timestamp").cast("long").as("ship_s"), col("l_quantity"))
      Relational
        .pointInRangeJoin(pts, col("ship_s"), iv, col("win_lo"), col("win_hi"),
          binWidth = 7L * 86400L)
        .groupBy(col("o_orderkey"))
        .agg(
          count(lit(1)).as("n_shipped"),
          sum(col("l_quantity").cast(d2)).cast("double").as("sum_qty"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- exact triangle counting by degree-ordered orientation: each
    // triangle found once from its lowest-degree corner, wedge fanout capped
    // at O(√m) by the orientation (no celebrity-node blowup). Graph = parts
    // co-occurring in the same urgent order; exact integer counts. ----
    "q100_triangle_count" -> ((s, dir) => {
      Graph.triangleCounts(coSupplyEdges(s, dir))
        .select(col("node").as("p_partkey"), col("n_triangles"))
        .orderBy(col("p_partkey"))
    }),

    // ---- fixed-iteration PageRank in scaled-integer arithmetic: every op
    // is an exact rational floor (`div` here, `//` in the oracle), so the
    // ranks are bit-identical on any engine/partitioning — the property
    // that makes an iterative double-based centrality un-hashable becomes
    // a cell-exact gate. One shuffle per iteration. ----
    "q103_pagerank" -> ((s, dir) => {
      Graph.pageRankIntFixed(coSupplyEdges(s, dir), iters = 5)
        .select(col("node").as("p_partkey"), col("rank"))
        .orderBy(col("p_partkey"))
    }),

    // ---- time-series resampling: per-user daily grid (gap days present
    // with zero counts) + forward-filled last observation — fillDateGrid ∘
    // forwardFill, one grid join + one streaming window. The fill copies
    // values (no fp arithmetic), so the hash gate is exact. ----
    "q101_gap_fill" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n_events"), max(col("value")).as("day_max"))
      val grid = Relational
        .fillDateGrid(daily, "user_id", "day")
        .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
      Relational
        .forwardFill(grid, Seq(col("user_id")), Seq(col("day")), Seq("day_max"))
        .withColumnRenamed("day_max", "filled_max")
        .select(col("user_id"), col("day"), col("n_events"), col("filled_max"))
        .orderBy(col("user_id"), col("day"))
    }),

    // ---- winsorized (clamped) robust mean per key: exact [p10, p90] from
    // the bucketed quantile machinery, row-local clamp, decimal-exact sum.
    // The robust-mean companion to q91's MAD envelope — outliers are pulled
    // to the fences instead of dropped. ----
    "q102_winsorized_mean" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_extendedprice").isNotNull)
        .select(col("l_returnflag"), col("l_extendedprice"))
      val fences = Relational
        .exactQuantilesByKey(li, "l_returnflag", "l_extendedprice", Seq(0.1, 0.9))
      val clamped = li
        .join(broadcast(fences), "l_returnflag")
        .withColumn("__wz", least(greatest(col("l_extendedprice"), col("p10")), col("p90")))
      clamped
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("__wz").cast(d2)).cast("double").as("sum_winsorized"),
          (sum(col("__wz").cast(d2)).cast("double") / count(lit(1))).as("winsorized_mean"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- rolling 7-day distinct active users (the DAU/WAU shape) WITHOUT a
    // per-day set-union window: each distinct (user, day) contributes to its
    // 7 target days via an exploded sequence — linear in user-days, one
    // distinct aggregation, exact integers. ----
    "q104_rolling_active" -> ((s, dir) => {
      graft.ops.Events
        .rollingActiveUsers(t(s, dir, "events"), col("user_id"), col("ts"), windowDays = 7)
        .withColumnRenamed("active_users", "wau")
        .orderBy(col("day"))
    }),

    // ---- deterministic stratified sampling: exactly N per stratum, chosen
    // by md5-hash order (uniform w/o replacement, reproducible on any
    // engine/partitioning — the q96 trick with a per-stratum quota). ----
    "q105_stratified_sample" -> ((s, dir) => {
      Relational
        .topKPerGroup(
          t(s, dir, "customer"),
          Seq(col("c_mktsegment")),
          Seq(md5(col("c_custkey").cast("string")), col("c_custkey")),
          k = 20)
        .select(col("c_mktsegment"), col("c_custkey"), col("rn"))
        .orderBy(col("c_mktsegment"), col("rn"))
    }),

    // ---- corpus keyness: per-source over-represented tokens by smoothed
    // relative risk (a/n1)/((b+1)/n2) — counts are exact ints, the risk is
    // two exactly-rounded IEEE divisions (deterministic cross-engine; a
    // log-likelihood G² would hit libm divergence). Top-10 per source. ----
    "q106_keyness" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val cell = toks.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("a"))
      val perSrc = toks.groupBy(col("source")).agg(count(lit(1)).as("n1"))
      val perTok = toks.groupBy(col("tok")).agg(count(lit(1)).as("tot"))
      val total = toks.agg(count(lit(1)).as("nall"))
      val scored = cell
        .join(broadcast(perSrc), "source")
        .join(perTok, "tok")
        .crossJoin(broadcast(total))
        .withColumn("risk",
          (col("a").cast("double") / col("n1").cast("double")) /
            ((col("tot") - col("a") + lit(1)).cast("double") /
              (col("nall") - col("n1")).cast("double")))
        .filter(col("a") >= 5)
      scored
        .withColumn("rn", row_number().over(
          w.partitionBy(col("source")).orderBy(col("risk").desc, col("tok"))))
        .filter(col("rn") <= 10)
        .select(col("source"), col("tok"), col("a"), col("risk"), col("rn"))
        .orderBy(col("source"), col("rn"))
    }),

    // ---- per-label embedding cluster inertia (within-cluster scatter, the
    // k-means quality metric) in EXACT integer arithmetic: vectors scale to
    // fixed-point ints (q27's proven rounding), and the scatter uses the
    // n·Σx² − (Σx)² identity — no centroid division anywhere, which matters
    // because Spark `div` truncates toward zero while DuckDB `//` floors
    // (negative centroids would diverge). Integer numerator + one final
    // exactly-rounded double division = hash-exact. 1e3 scale keeps
    // n·ΣΣx² < 2⁶³ to ~500k vectors/label (document larger shards). ----
    "q107_cluster_inertia" -> ((s, dir) => {
      val iv = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), col("pos"),
          round(col("x").cast("double") * 1e3).cast("long").as("xi"))
      val perDim = iv
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xi")).as("s"),
          sum(col("xi") * col("xi")).as("ss"))
      perDim
        .groupBy(col("label"))
        .agg(
          min(col("n")).as("n_vectors"),
          sum(col("n") * col("ss") - col("s") * col("s")).as("inertia_num"))
        .withColumn("inertia",
          col("inertia_num").cast("double") / col("n_vectors").cast("double"))
        .orderBy(col("label"))
    }),

    // ---- bipartite projection with similarity weights: event types linked
    // by the users they share (the co-engagement graph). The per-user
    // self-join fans out C(types-per-user, 2) ≤ C(6,2) — bounded by the
    // type universe, not user activity; exact set algebra via
    // |∪| = |A|+|B|−|∩|, one exactly-rounded division. ----
    "q108_coengagement" -> ((s, dir) => {
      val ut = t(s, dir, "events").select(col("user_id"), col("event_type")).distinct()
      val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
      ut.as("a")
        .join(ut.as("b"),
          col("a.user_id") === col("b.user_id")
            && col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.withColumnsRenamed(
          Map("event_type" -> "type_a", "n_users" -> "n_a"))), "type_a")
        .join(broadcast(sizes.withColumnsRenamed(
          Map("event_type" -> "type_b", "n_users" -> "n_b"))), "type_b")
        .withColumn("jaccard", col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
        .select(col("type_a"), col("type_b"), col("n_shared"), col("jaccard"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // ---- column profiling (the first query every ingest runs): one
    // aggregation pass computes every column's row/null/distinct/min/max
    // simultaneously; min/max stringified so heterogeneous types stack ----
    "q109_profile" -> ((s, dir) => {
      Relational
        .profile(t(s, dir, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"))
        .orderBy(col("column"))
    }),

    // ---- per-key OLS trend slope, hash-exact: x = epoch day, y = exact
    // cents; the four sums are exact longs, the closed-form combination
    // n·Σxy − Σx·Σy runs in DECIMAL(38,0) (it tops ~1.5e22 — past 2⁶³, so
    // long math would overflow where DuckDB's HUGEINT silently wouldn't),
    // and the slope is one double division of two correctly-rounded
    // conversions of identical integers. Regression over groups without a
    // single fp accumulation. ----
    "q110_trend_slope" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      val base = t(s, dir, "orders").select(
        col("o_orderpriority"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("x"),
        round(col("o_totalprice") * 100).cast("long").as("y"))
      base
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .withColumn("slope_cents_per_day",
          (col("n").cast(d0) * col("sxy").cast(d0) - col("sx").cast(d0) * col("sy").cast(d0))
            .cast("double") /
            (col("n").cast(d0) * col("sxx").cast(d0) - col("sx").cast(d0) * col("sx").cast(d0))
              .cast("double"))
        .select(col("o_orderpriority"), col("n"), col("slope_cents_per_day"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- Morton/Z-order clustering value (the lakehouse multi-dim layout
    // primitive): bit-interleave (l_partkey, l_suppkey) so one sort gives
    // BOTH join/filter dimensions file-level locality. Pure integer bit
    // math, bit-exact cross-engine; the pruning-surface win is measured in
    // RelationalSpec. ----
    "q111_zorder" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 1000 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          Relational.zOrderValue(col("l_partkey"), col("l_suppkey"), bits = 16)
            .as("zval"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- MERGEABLE sketch rollup — the 100 TB pre-aggregation pattern:
    // per-cell HLL sketches are built once, then coarser levels merge the
    // SKETCHES (hll_union_agg) without touching raw rows again; the q32
    // accuracy boolean gates the merged estimate against the exact distinct
    // recount. COUNT(DISTINCT) cannot roll up (cells overlap in customers);
    // sketches can — that is the point. ----
    "q112_sketch_rollup" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cells = o
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
      val rolled = cells
        .groupBy(col("o_orderpriority"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = o
        .groupBy(col("o_orderpriority"))
        .agg(count_distinct(col("o_custkey")).as("exact_custs"))
      exact
        .join(rolled, "o_orderpriority")
        .select(col("o_orderpriority"), col("exact_custs"),
          (abs(col("est") - col("exact_custs")).cast("double")
            <= lit(0.05) * col("exact_custs").cast("double")).as("within_5pct"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- EXACT mergeable aggregation state — incremental-view maintenance
    // without approximation: per-shard (n, Σx, Σx²) triples in exact cents
    // merge by plain addition (early shard: days 1–15; late: 16+), and the
    // merged state reproduces count/sum/mean/variance of a full recompute
    // bit-for-bit (variance via the n·Σx²−(Σx)² identity — no running-mean
    // fp state, no Welford order dependence). The oracle IS the full
    // recompute: any merge error goes hash-red. ----
    "q113_incremental_agg" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      def state(part: DataFrame): DataFrame = part
        .groupBy(col("event_type"))
        .agg(count(col("cents")).as("n"), sum(col("cents")).as("s"),
          sum(col("cents") * col("cents")).as("ss"))
      val early = state(ev.filter(dayofmonth(col("ts")) <= 15))
      val late = state(ev.filter(dayofmonth(col("ts")) >= 16))
      early.unionByName(late)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("s")).as("s"), sum(col("ss")).as("ss"))
        .select(col("event_type"), col("n"),
          (col("s").cast("double") / lit(100.0)).as("sum_value"),
          ((col("n") * col("ss") - col("s") * col("s")).cast("double")
            / (col("n") * col("n")).cast("double") / lit(10000.0)).as("variance"))
        .orderBy(col("event_type"))
    }),

    // ---- key-skew diagnostics (the partition-planning report for a 100 TB
    // shuffle): per-key counts, then exact distribution stats over the
    // counts — max, the rank-based p50/p99 (bucketed quantile machinery on
    // the COUNTS table, keys-sized not rows-sized), and the share of rows
    // owned by the single heaviest key. Exact integers + one division. ----
    "q114_key_skew" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .withColumn("__all", lit(1))
      val qs = Relational
        .exactQuantilesByKey(counts, "__all", "c", Seq(0.5, 0.99))
      counts
        .groupBy(col("__all"))
        .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
          max(col("c")).as("max_count"))
        .join(qs, "__all")
        .select(col("n_keys"), col("n_rows"), col("max_count"),
          col("p50").as("p50_count"), col("p99").as("p99_count"),
          (col("max_count").cast("double") / col("n_rows").cast("double"))
            .as("top_key_share"))
    }),

    // ---- interval × interval overlap join (SCD2/validity-window shape) by
    // the bin rewrite — no nested loop, and no distinct: a pair is owned by
    // the first bin its intersection covers. Two deterministic order
    // samplings as 30- and 21-day windows; exact counts. ----
    "q115_interval_overlap" -> ((s, dir) => {
      def windows(mod: Long, days: Long, loName: String, hiName: String, idName: String) =
        t(s, dir, "orders")
          .filter(col("o_orderkey") % mod === 0)
          .select(col("o_orderkey").as(idName),
            col("o_orderdate").cast("timestamp").cast("long").as(loName))
          .withColumn(hiName, col(loName) + lit(days * 86400L))
      val a = windows(997L, 30L, "lo_a", "hi_a", "key_a")
      val b = windows(611L, 21L, "lo_b", "hi_b", "key_b")
      Relational
        .intervalOverlapJoin(a, col("lo_a"), col("hi_a"), b, col("lo_b"), col("hi_b"),
          binWidth = 7L * 86400L)
        .groupBy(col("key_a"))
        .agg(count(lit(1)).as("n_overlaps"), min(col("key_b")).as("first_overlap"))
        .orderBy(col("key_a"))
    }),

    // ---- distribution drift between data slices (the monitoring gate
    // before a model retrain): L1 distance between per-slice value
    // histograms over shared equi-width bins, computed EXACTLY — the
    // per-bin term is |c₁·n₂ − c₂·n₁| in integers (a float Σ|p₁−p₂| would
    // be summation-order dependent), one division at the very end.
    // Slices = first vs second half of the event window. ----
    "q116_distribution_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          when(dayofmonth(col("ts")) <= 15, lit(0)).otherwise(lit(1)).as("half"),
          least(lit(19), floor(col("value") / 10.0).cast("int")).as("bin"))
        .filter(col("bin") >= 0)
      val cells = ev.groupBy(col("event_type"), col("half"), col("bin"))
        .agg(count(lit(1)).as("c"))
      val wide = cells.groupBy(col("event_type"), col("bin"))
        .agg(
          sum(when(col("half") === 0, col("c")).otherwise(lit(0L))).as("c1"),
          sum(when(col("half") === 1, col("c")).otherwise(lit(0L))).as("c2"))
      val totals = wide.groupBy(col("event_type"))
        .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      wide
        .join(broadcast(totals), "event_type")
        .groupBy(col("event_type"))
        .agg(
          min(col("n1")).as("n1"), min(col("n2")).as("n2"),
          sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("l1_num"))
        .withColumn("l1_distance",
          col("l1_num").cast("double") / (col("n1") * col("n2")).cast("double"))
        .orderBy(col("event_type"))
    }),

    // ---- quantile-normalization calibration table (score calibration
    // across slices): per event type, the exact decile values side by side
    // with the GLOBAL decile values at the same rank fraction — the lookup
    // table that maps a slice's score distribution onto the pooled one.
    // Two runs of the bucketed quantile machinery (slice keys + a constant
    // pseudo-key), one broadcast of the 1-row global frame, a row-local
    // stack — no per-row cross join, output is types × 9 deciles. ----
    "q117_quantile_norm" -> ((s, dir) => {
      val ps = (1 to 9).map(_ / 10.0)
      val ev = t(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val slice = Relational.exactQuantilesByKey(ev, "event_type", "value", ps)
      val global = Relational
        .exactQuantilesByKey(ev.withColumn("__g", lit(1)), "__g", "value", ps)
        .drop("__g")
      val pairs = ps.map { p =>
        val name = s"p${math.round(p * 100)}"
        struct(lit(math.round(p * 100)).cast("int").as("pct"),
          col(name).as("slice_value"), col(s"g_$name").as("global_value"))
      }
      slice
        .crossJoin(broadcast(global.select(
          ps.map(p => col(s"p${math.round(p * 100)}").as(s"g_p${math.round(p * 100)}")): _*)))
        .select(col("event_type"), explode(array(pairs: _*)).as("q"))
        .select(col("event_type"), col("q.*"))
        .orderBy(col("event_type"), col("pct"))
    }),

    // ---- hierarchy percent-of-parent rollup (region → nation → customer
    // revenue shares): exact decimal totals at each level, shares as one
    // exactly-rounded division each — drill-down analytics without a
    // window over the fact table (levels aggregate first, then join
    // dimension-sized frames). ----
    "q119_hierarchy_shares" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      val fact = o
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("o_totalprice").cast(d2).as("p"))
      val byNation = fact.groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("p")).as("nation_rev"))
      val byRegion = byNation.groupBy(col("r_name"))
        .agg(sum(col("nation_rev")).as("region_rev"))
      val total = byRegion.agg(sum(col("region_rev")).as("total_rev"))
      byNation
        .join(broadcast(byRegion), "r_name")
        .crossJoin(broadcast(total))
        .select(col("r_name"), col("n_name"),
          col("nation_rev").cast("double").as("nation_rev"),
          (col("nation_rev").cast("double") / col("region_rev").cast("double"))
            .as("share_of_region"),
          (col("region_rev").cast("double") / col("total_rev").cast("double"))
            .as("region_share_of_total"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // ---- near-dup pair observability: for each verified pair, the exact
    // overlap anatomy (n_common, n_only_a, n_only_b) via the native
    // sorted-merge intersect — the audit table a dedup reviewer reads
    // before trusting a threshold. Bounded oracle arm (q23's ids). ----
    "q120_pair_overlap" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val ws = t(s, dir, "documents")
        .filter(col("doc_id") < 1000)
        .select(col("doc_id"),
          array_sort(array_distinct(TextAnalysis.tokens(col("text")))).as("ws"))
        .localCheckpoint()
      val pairs = Dedup
        .jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8, maxId = 1000L)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      pairs
        .join(ws.select(col("doc_id").as("id_a"), col("ws").as("ws_a")), "id_a")
        .join(ws.select(col("doc_id").as("id_b"), col("ws").as("ws_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("jaccard"),
          call_function("graft_sorted_intersect", col("ws_a"), col("ws_b")).as("n_common"),
          (size(col("ws_a")) - call_function("graft_sorted_intersect", col("ws_a"), col("ws_b")))
            .as("n_only_a"),
          (size(col("ws_b")) - call_function("graft_sorted_intersect", col("ws_a"), col("ws_b")))
            .as("n_only_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- between-cluster centroid separation (q107's companion: within vs
    // BETWEEN scatter). Centroids are never materialized — the pairwise
    // squared distance scales by (nᵢ·nⱼ)²: Σ_d (nⱼ·Sᵢd − nᵢ·Sⱼd)², an exact
    // DECIMAL(38,0) integer (tops ~1e22, past 2⁶³). The surfaced distance
    // uses sqrt, which IEEE-754 requires to be correctly rounded (unlike
    // ln/log, which diverge between libms) — so even the irrational column
    // hash-matches. ----
    "q121_centroid_separation" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      val iv = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("label"), col("pos"),
          round(col("x").cast("double") * 1e3).cast("long").as("xi"))
      val perDim = iv.groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("xi")).as("sd"))
      val a = perDim.select(col("label").as("label_a"), col("pos"),
        col("n").as("n_a"), col("sd").as("s_a"))
      val b = perDim.select(col("label").as("label_b"), col("pos"),
        col("n").as("n_b"), col("sd").as("s_b"))
      a.join(b, Seq("pos"))
        .filter(col("label_a") < col("label_b"))
        .withColumn("diff",
          (col("n_b") * col("s_a") - col("n_a") * col("s_b")).cast(d0))
        .groupBy(col("label_a"), col("label_b"))
        .agg(
          min(col("n_a")).as("n_a"), min(col("n_b")).as("n_b"),
          sum(col("diff") * col("diff")).cast(d0).as("dist_num"))
        .withColumn("centroid_dist",
          sqrt(col("dist_num").cast("double"))
            / (col("n_a") * col("n_b")).cast("double") / lit(1000.0))
        .select(col("label_a"), col("label_b"), col("dist_num").cast("double").as("dist_num"),
          col("centroid_dist"))
        .orderBy(col("label_a"), col("label_b"))
    }),

    // ---- collocation extraction by LIFT — PMI's ranking without its log:
    // lift = (c_ab·N)/(c_a·c_b) orders pairs identically to PMI (log is
    // monotone) but stays pure integer products + ONE division, where
    // log itself diverges between libm implementations and can never
    // hash-gate. Bigram and unigram counts from the native ngram pass. ----
    "q122_collocations" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val w = org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(explode(TextAnalysis.ngrams(col("text"), 2)).as("gram"))
        .select(split_part(col("gram"), lit(" "), lit(1)).as("w1"),
          split_part(col("gram"), lit(" "), lit(2)).as("w2"))
      val big = toks.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      // unigram occurrence counts and the grand total derived from the
      // aggregated bigram table (vocab²-sized), not a corpus re-scan
      val scored = big
        .withColumn("c_a", sum(col("c_ab")).over(w.partitionBy(col("w1"))))
        .withColumn("c_b", sum(col("c_ab")).over(w.partitionBy(col("w2"))))
        .withColumn("n", sum(col("c_ab")).over(w.partitionBy()))
        .filter(col("c_ab") >= 10)
        .withColumn("lift",
          (col("c_ab") * col("n")).cast("double") /
            (col("c_a") * col("c_b")).cast("double"))
      scored
        .withColumn("rn", row_number().over(
          w.orderBy(col("lift").desc, col("w1"), col("w2"))))
        .filter(col("rn") <= 25)
        .select(col("rn"), col("w1"), col("w2"), col("c_ab"), col("lift"))
        .orderBy(col("rn"))
    }),

    // ---- cluster quality report: q107's within-scatter and q121's
    // between-centroid separation composed into one per-label summary —
    // nearest-centroid distance over RMS within-radius, the
    // silhouette-style ratio, from exact integer numerators with only
    // correctly-rounded sqrt/division at the surface. ----
    "q123_cluster_quality" -> ((s, dir) => {
      val sep = queries("q121_centroid_separation")(s, dir)
        .select(explode(array(
          struct(col("label_a").as("label"), col("centroid_dist")),
          struct(col("label_b").as("label"), col("centroid_dist")))).as("e"))
        .select(col("e.label"), col("e.centroid_dist"))
        .groupBy(col("label"))
        .agg(min(col("centroid_dist")).as("nearest_centroid_dist"))
      val within = queries("q107_cluster_inertia")(s, dir)
        .withColumn("rms_radius",
          sqrt(col("inertia") / col("n_vectors").cast("double")) / lit(1000.0))
        .select(col("label"), col("n_vectors"), col("rms_radius"))
      within
        .join(sep, "label")
        .withColumn("separation_ratio",
          col("nearest_centroid_dist") / col("rms_radius"))
        .orderBy(col("label"))
    }),

    // ---- merged-interval coverage (sweep line): each event spans
    // [ts, ts + value seconds]; per user, collapse overlapping spans into
    // islands with a running-max-end window and report the DISTINCT covered
    // time — the classic interval-union rewrite that replaces an O(n²)
    // overlap self-join with one partitioned sort. All arithmetic is integer
    // microseconds (durations snapped at cent precision), so the oracle
    // agrees bit-for-bit; the windows partition by user, so no task ever
    // sees more than one user's spans. ----
    "q124_interval_coverage" -> ((s, dir) => {
      val iv = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("s0"),
          (unix_micros(col("ts"))
            + round(col("value") * 100).cast("long") * 10000L).as("e0"))
      Relational
        .intervalCoverage(iv, col("user_id"), col("s0"), col("e0"), col("event_id"))
        .select(col("user_id"), col("n_islands"),
          col("n_intervals").as("n_events"), col("covered").as("covered_us"))
        .orderBy(col("user_id"))
    }),

    // ---- exact weighted quantiles: per-flag quantity-weighted median and
    // p90 of extended price through the same distinct-value + cumulative
    // count machinery as q82/q91 — weights just replace the per-value counts
    // in the running sum. Integer cents and integer weights end-to-end; the
    // only doubles are the final /100.0 surface casts. ----
    "q125_weighted_quantiles" -> ((s, dir) => {
      val rows = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("k"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          round(col("l_quantity")).cast("long").as("w"))
      val q = Relational.weightedQuantilesByKey(rows, "k", "cents", "w", Seq(0.5, 0.9))
      val tot = rows.groupBy(col("k")).agg(sum(col("w")).as("total_weight"))
      q.join(tot, "k")
        .select(col("k").as("l_returnflag"),
          (col("p50").cast("double") / 100.0).as("wmedian"),
          (col("p90").cast("double") / 100.0).as("wp90"),
          col("total_weight"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- corpus-mixing audit: 7-gram Jaccard overlap between every source
    // pair. The load-bearing move for scale is aggregating to DISTINCT
    // (source, gram) BEFORE the self-join: per-gram fanout is then bounded
    // by the source count (≤ C(20,2) pairs/gram), never by document
    // popularity — the same shape works when each source holds a billion
    // docs. ----
    "q126_source_overlap" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val g = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("source"), explode(TextAnalysis.ngrams(col("text"), 7)).as("gram"))
        .distinct()
      val sizes = g.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      g.as("a")
        .join(g.as("b"),
          col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sz_a"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("sz_b"))), "src_b")
        .withColumn("jaccard", col("inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
        .select(col("src_a"), col("src_b"), col("inter"), col("sz_a"), col("sz_b"),
          col("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ---- degree assortativity (Newman 2002) of the co-supply graph: do
    // high-degree parts co-occur with high-degree parts? Pearson r over the
    // endpoint-degree pairs of every DIRECTED edge. The symmetric edge set
    // makes Σx = Σy and Σx² = Σy², so the usual sqrt denominator collapses
    // to n·Σxx − (Σx)² — the whole statistic is exact integer products (in
    // DECIMAL(38,0) so 100× the edges still can't overflow) with ONE double
    // division at the surface: an iterative-free, hash-gateable graph
    // moment. Degrees come from one aggregation; the edge×degree attach is
    // two joins against a node-count-sized frame. ----
    "q127_degree_assortativity" -> ((s, dir) =>
      Graph.degreeAssortativity(coSupplyEdges(s, dir))),

    // ---- local clustering coefficient: per node, 2·triangles / d(d−1) —
    // how close the neighborhood is to a clique. Composes the exact
    // degree-ordered triangle counts (q100's operator) with the degree
    // table; the only new work is one key-sized left join (nodes without
    // triangles coalesce to 0). Numerator and denominator are exact
    // integers; the ratio is the single IEEE division at the surface.
    // Degree-1 nodes are excluded (d(d−1)=0 — the coefficient is
    // undefined, and surfacing NULL would just re-encode that). ----
    "q129_clustering_coeff" -> ((s, dir) => {
      val e = coSupplyEdges(s, dir)
      val tri = Graph.triangleCounts(e)
      val deg = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      deg
        .join(tri, Seq("node"), "left")
        .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
        .filter(col("deg") >= 2)
        .withColumn("clustering_coeff",
          (col("n_triangles") * 2).cast("double")
            / (col("deg") * (col("deg") - 1)).cast("double"))
        .select(col("node").as("p_partkey"), col("deg"), col("n_triangles"),
          col("clustering_coeff"))
        .orderBy(col("p_partkey"))
    }),

    // ---- k-core backbone (Seidman 1983): iterative peel of nodes with
    // induced degree < 8 until the fixed point. The fixed point is UNIQUE
    // regardless of removal order, so an iterative Spark loop and an
    // unrolled-CTE DuckDB oracle agree exactly once both converge (the
    // operator throws on non-convergence; measured rounds-to-stable is
    // 2–4 at every SF, the oracle unrolls 8). ----
    "q130_kcore" -> ((s, dir) =>
      Graph.kCore(coSupplyEdges(s, dir), k = 8)
        .select(col("node").as("p_partkey"), col("core_deg"))
        .orderBy(col("p_partkey"))),

    // ---- FULL core decomposition (coreness per node) by the Montresor
    // h-index fixed point: c0 = deg, each round replaces a node's estimate
    // with the h-index of its neighbors' — runs to convergence (REFUSES a
    // partial result) with 4 algorithm rounds chained per materialized
    // job since round COUNT, not round volume, is the cost driver here.
    // Unique fixed point ⇒ gateable against an oracle unrolled to ANY
    // bound ≥ the graph's convergence rounds (measured ≤32 at sf0.1;
    // oracle unrolls 40) ----
    "q307_coreness" -> ((s, dir) =>
      Graph.coreness(coSupplyEdges(s, dir))
        .select(col("node").as("p_partkey"), col("coreness"))
        .orderBy(col("p_partkey"))),

    // ---- deterministic maximal independent set (derandomized Luby): fixed
    // md5-string priorities, iterated local minima — equals the sequential
    // greedy MIS in priority order, so the iterative loop and a
    // round-unrolled CTE oracle agree cell-for-cell; `round` is the round
    // each winner entered (conflict-free scheduling / landmark selection
    // over the co-supply graph) ----
    "q310_luby_mis" -> ((s, dir) =>
      Graph.maximalIndependentSet(coSupplyEdges(s, dir))
        .select(col("node").as("p_partkey"), col("round"))
        .orderBy(col("p_partkey"))),

    // ---- exact 1-D Wasserstein-1 drift (earth mover's distance): the
    // q293 KS device extended from max to INTEGRAL — W1 = ∫|F_A−F_B|dx
    // over the merged support, every term an exact integer
    // |cumA·nB − cumB·nA|·gap accumulated in DECIMAL(38,0), ONE double
    // division at the surface. Prefix CDFs via the bucketed
    // globalPrefixSum (no single-reducer window); the next-support-value
    // gap comes from a global-rank shift join, not LEAD over everything ----
    "q319_wasserstein_drift" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val o = t(s, dir, "orders").select(
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("u"))
      val pv = o.groupBy(col("cents"))
        .agg(sum(col("u")).as("cu"), sum(lit(1L) - col("u")).as("cn"))
        .localCheckpoint() // two prefix passes + the totals scalar
      val cumU = Relational.globalPrefixSum(pv, "cents", "cents", "cu", "cumu")
        .select(col("cents"), col("cumu"))
      val cumN = Relational
        .globalPrefixSum(pv, "cents", "cents", "cn", "cumn", rankCol = Some("rk"))
        .select(col("cents"), col("cumn"), col("rk"))
      val nxt = cumN.select((col("rk") - 1).as("rk"), col("cents").as("nxt_cents"))
      val tot = pv.agg(sum(col("cu")).as("nu"), sum(col("cn")).as("nn"))
      cumU.join(cumN, Seq("cents"))
        .join(nxt, Seq("rk"))
        .crossJoin(broadcast(tot))
        .withColumn("term",
          abs(dec(col("cumu")) * dec(col("nn")) - dec(col("cumn")) * dec(col("nu"))) *
            dec(col("nxt_cents") - col("cents")))
        .agg(sum(col("term")).as("num"),
          max(col("nu")).as("n_urgent"), max(col("nn")).as("n_other"))
        .select(col("n_urgent"), col("n_other"),
          (col("num").cast("double") /
            (col("n_urgent").cast("double") * col("n_other").cast("double")))
            .as("w1_cents"))
    }),

    // ---- greedy k-center coreset (Gonzalez farthest-point traversal):
    // diversity selection over the embedding corpus — seed at min id, then
    // 7× pick the point farthest from its nearest chosen center, ties →
    // min id; distances are exact integers on fixed-point vectors (d² =
    // |a|²+|b|²−2a·b via the native dot/norm), so the whole selection
    // trajectory hash-gates against a k-unrolled oracle; the corpus never
    // shuffles (one map-only pass per round against the newest center) ----
    "q316_kcenter_coreset" -> ((s, dir) =>
      Similarity.kCenterCoreset(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .orderBy(col("pick_rank"))),

    // ---- EXACT isotonic calibration (PAVA closed form): quantity-bucket →
    // return-rate fit via fit(i) = max_{j≤i} min_{k≥i} mean(j..k) — the
    // parallel minimax form of the weighted L2 isotonic fit over the
    // dictionary-sized bucket cube; integer prefix sums, one deterministic
    // double division per interval ----
    "q315_isotonic_calibration" -> ((s, dir) =>
      Relational.isotonicRates(
          t(s, dir, "lineitem").select(col("l_quantity").cast("int").as("q"),
            (col("l_returnflag") === "R").cast("int").as("hit")),
          "q", "hit")
        .orderBy(col("bucket"))),

    // ---- Weisfeiler-Lehman color refinement (1-WL, the GNN-expressiveness
    // ceiling): degree seed, 3 rounds of md5(own color | sorted neighbor
    // colors) — after k rounds equal colors ⟺ isomorphic k-hop trees, the
    // structural fingerprint for graph dedup / role discovery; md5-string
    // colors make the refinement engine-neutral and the unrolled CTE
    // oracle exact ----
    "q314_wl_colors" -> ((s, dir) =>
      Graph.wlColors(coSupplyEdges(s, dir), rounds = 3)
        .select(col("node").as("p_partkey"), col("color").as("wl_color"))
        .orderBy(col("p_partkey"))),

    // ---- exact matrix profile per user (UCR motif discovery): the pair of
    // non-overlapping 7-day windows of each user's events-per-day series
    // with minimum squared L2 distance — "the most repeated weekly
    // pattern". Exact integer distances on exact counts, (dist,i,j)
    // lexicographic argmin; the series is calendar-bounded so the O(span²)
    // pair scan is constant per user ----
    "q324_matrix_profile" -> ((s, dir) =>
      graft.ops.Events.matrixProfileDaily(t(s, dir, "events"),
          col("user_id"), col("ts"), window = 7, exclusion = 4)
        .orderBy(col("user_id"))),

    // ---- t-closeness audit (Li et al. ICDE'07 — the third leg of the
    // privacy trio after q250 k-anonymity and q287 l-diversity): each QI
    // equivalence class's distribution of the ORDERED sensitive attribute
    // (modal order-priority rank 1..5) must sit within EMD t of the global
    // distribution. EMD over an ordered domain is the mean absolute
    // cumulative gap — computed in exact integers via the q319 Wasserstein
    // device (|cumc_i·N − cumg_i·n_c| summed over the 4 interior cut
    // points), one double division at the end. Corpus-sized work is one
    // (class, rank) count; everything after is dictionary-sized ----
    "q325_t_closeness" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val prio = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("o_custkey")).orderBy(col("n").desc, col("o_orderpriority"))))
        .filter(col("rn") === 1)
        .select(col("o_custkey").as("c_custkey"),
          substring(col("o_orderpriority"), 1, 1).cast("int").as("r"))
      val cnt = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          expr("(CAST(round(c_acctbal) AS BIGINT) + 10000) DIV 1000").as("bal_band"))
        .join(prio, Seq("c_custkey"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"), col("r"))
        .agg(count(lit(1)).as("c"))
      // dictionary-sized from here: classes × the 4 interior cut points
      val cls = cnt
        .select(col("c_nationkey"), col("c_mktsegment"), col("bal_band"), col("r"),
          col("c"), explode(sequence(lit(1), lit(4))).as("i"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"), col("i"))
        .agg(sum(when(col("r") <= col("i"), col("c")).otherwise(0L)).as("cumc"),
          sum(col("c")).as("n_c"))
      val gi = cls.groupBy(col("i")).agg(sum(col("cumc")).as("cumg"))
      val tot = cnt.agg(sum(col("c")).as("nn"))
      val emd = cls.join(broadcast(gi), Seq("i")).crossJoin(broadcast(tot))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"),
          col("n_c"), col("nn"))
        .agg(sum(abs(col("cumc") * col("nn") - col("cumg") * col("n_c")))
          .as("emd_num"))
        .withColumn("emd", col("emd_num").cast("double") /
          (lit(4.0) * col("n_c") * col("nn")))
      emd.agg(count(lit(1)).as("n_classes"),
          sum(col("n_c")).as("n_rows"),
          max(col("emd")).as("max_emd"),
          sum(when(col("emd") > 0.2, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("emd") > 0.2, col("n_c")).otherwise(0L)).as("n_exposed"))
        .withColumn("exposed_share",
          col("n_exposed").cast("double") / col("n_rows").cast("double"))
    }),

    // ---- Brier score decomposition (Murphy 1973 — the probabilistic-
    // forecast calibration audit): a deterministic md5-bucketed forecast
    // p_k = k/8 (k = 0..8) against the urgent-order outcome, decomposed
    // per bin into reliability n_k(p_k−ō_k)² and resolution n_k(ō_k−ō)².
    // The per-bin Brier numerator Σ(8p−8y)² = k²n_k − 16·k·s_k + 64·s_k is
    // an EXACT integer (scale 64·N); reliability's numerator
    // (k·n_k − 8·s_k)² likewise. Doubles appear only in the final
    // divisions, mirrored operation-for-operation in the oracle ----
    "q326_brier_decomposition" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        pmod(conv(substring(md5(concat(lit("brier:"),
          col("o_orderkey").cast("string"))), 1, 8), 16, 10).cast("long"),
          lit(9)).as("k"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("y"))
      val bins = o.groupBy(col("k"))
        .agg(count(lit(1)).as("n_k"), sum(col("y")).as("s_k"))
      val tot = bins.agg(sum(col("n_k")).as("nn"), sum(col("s_k")).as("ss"))
      bins.crossJoin(broadcast(tot))
        .select(col("k"), col("n_k"), col("s_k"),
          (col("k") * col("k") * col("n_k") - lit(16L) * col("k") * col("s_k")
            + lit(64L) * col("s_k")).as("brier_num"),
          (col("k") * col("n_k") - lit(8L) * col("s_k")).as("rel_root"),
          col("nn"), col("ss"))
        .withColumn("rel_num", col("rel_root") * col("rel_root"))
        .withColumn("rel_term", col("rel_num").cast("double") /
          (lit(64.0) * col("n_k") * col("nn")))
        .withColumn("res_term", {
          val d = col("s_k").cast("double") / col("n_k") -
            col("ss").cast("double") / col("nn")
          col("n_k") * (d * d) / col("nn")
        })
        .select(col("k"), col("n_k"), col("s_k"), col("brier_num"),
          col("rel_num"), col("rel_term"), col("res_term"))
        .orderBy(col("k"))
    }),

    // ---- SAX symbolic discretization (Lin et al. DMKD'07, the time-series
    // indexing alphabet): each user's 30-day activity series → 10 frames of
    // exact 3-day PAA sums → a 4-letter alphabet assigned by GLOBAL
    // equi-frequency rank (symbol = ⌊4·(rank−1)/n⌋ — the engine-neutral
    // ntile form). The global rank rides [[Relational.globalRank]]'s
    // bucketed device, not a single-reducer window, because the frame
    // table scales with |users|; ties break on the unique (user, frame)
    // key so both engines assign identical letters ----
    "q327_sax_symbols" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val b = ev.agg(min(col("day")).as("d0"))
      val paa = ev.crossJoin(broadcast(b))
        .select(col("user_id"), datediff(col("day"), col("d0")).as("di"))
        .filter(col("di").between(0, 29))
        .select(col("user_id"), expr("di DIV 3").as("w"))
        .groupBy(col("user_id"), col("w")).agg(count(lit(1)).as("c"))
      val grid = ev.select(col("user_id")).distinct()
        .select(col("user_id"), explode(sequence(lit(0), lit(9))).as("w"))
      val frames = grid.join(paa, Seq("user_id", "w"), "left")
        .select(col("user_id"), col("w"),
          coalesce(col("c"), lit(0L)).as("c"),
          (col("user_id") * 16 + col("w")).as("tie"))
      val ranked = graft.ops.Relational.globalRank(frames, "c", "tie", "rnk")
      val n = frames.agg(count(lit(1)).as("nn"))
      ranked.crossJoin(broadcast(n))
        .withColumn("ch", expr("chr(97 + CAST((4 * (rnk - 1)) DIV nn AS INT))"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(collect_list(struct(col("w"), col("ch")))).as("m"))
        .select(col("user_id"),
          concat_ws("", transform(sequence(lit(0), lit(9)),
            w => element_at(col("m"), w)).cast("array<string>")).as("sax"))
        .orderBy(col("user_id"))
    }),

    // ---- Z-order data-layout pruning audit (the 100 TB file-skipping
    // lever: multi-dimensional clustering so a 2-D range predicate touches
    // few files): interleave 8+8 bits of (custkey mod 256, order-day mod
    // 256) into a Morton key, assign rows to 1000-row files under (a) the
    // Z-order sort and (b) the natural key sort, and report how many files
    // a rectangle query touches under each — the measured min/max-pruning
    // win Z-ordering buys. Both global sorts ride the bucketed
    // globalRank device; the bit interleave is a closed-form integer sum,
    // identical in both engines ----
    "q328_zorder_layout" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"),
          pmod(col("o_custkey"), lit(256)).as("x"),
          pmod(datediff(to_date(col("o_orderdate")),
            to_date(lit("1995-01-01"))), lit(256)).as("y"))
      val z = (0 until 8).map { i =>
        expr(s"(shiftright(x, $i) & 1) * ${1L << (2 * i)}" +
          s" + (shiftright(y, $i) & 1) * ${1L << (2 * i + 1)}")
      }.reduce(_ + _)
      val keyed = o.withColumn("z", z)
      val rz = graft.ops.Relational.globalRank(
        keyed.select(col("o_orderkey"), col("x"), col("y"), col("z")),
        "z", "o_orderkey", "rz")
      val rn = graft.ops.Relational.globalRank(
        keyed.select(col("o_orderkey")), "o_orderkey", "o_orderkey", "rn")
      val files = rz.join(rn, Seq("o_orderkey"))
        .select(col("x"), col("y"),
          expr("(rz - 1) DIV 1000").as("fz"), expr("(rn - 1) DIV 1000").as("fn"))
      val tot = files.agg(count(lit(1)).as("n_rows"),
        (max(col("fn")) + 1).as("files_total"))
      files.filter(col("x").between(64, 127) && col("y").between(32, 95))
        .agg(count(lit(1)).as("rows_matched"),
          countDistinct(col("fz")).as("files_z"),
          countDistinct(col("fn")).as("files_nat"))
        .crossJoin(broadcast(tot))
        .withColumn("touch_z",
          col("files_z").cast("double") / col("files_total").cast("double"))
        .withColumn("touch_nat",
          col("files_nat").cast("double") / col("files_total").cast("double"))
    }),

    // ---- LogLog/HLL distinct-sketch audit (Flajolet et al. '07 — the
    // mergeable COUNT DISTINCT at 100 TB: 1024 registers regardless of
    // input): md5-derived 32-bit hash → top-10 bits pick the register,
    // rho = leading-zero rank of the low 22 bits via the bin/lpad/instr
    // string device (the repo-wide no-log() rule), register state is an
    // exact integer MAX. Empty registers contribute 2^25 to the dyadic
    // harmonic sum in closed form, so no register grid materializes; the
    // raw-estimator double appears once, from the identical e-notation
    // expression in both engines. Reports exact vs estimate vs error —
    // the production accuracy-monitoring shape, like q323 ----
    "q329_loglog_audit" -> ((s, dir) => {
      val keys = t(s, dir, "events").select(col("user_id")).distinct()
      val reg = keys
        .select(conv(substring(md5(concat(lit("hll:"),
          col("user_id").cast("string"))), 1, 8), 16, 10).cast("long").as("h"))
        .select(expr("h DIV 4194304").as("b"), pmod(col("h"), lit(4194304L)).as("w"))
        .withColumn("rho", when(col("w") === 0, lit(23))
          .otherwise(expr("instr(lpad(bin(w), 22, '0'), '1')").cast("int")))
        .groupBy(col("b")).agg(max(col("rho")).as("mrho"))
      val sums = reg.agg(count(lit(1)).as("m_hit"),
        sum(expr("CAST(shiftleft(1, 25 - mrho) AS BIGINT)")).as("sum_hit"))
      val exact = keys.agg(count(lit(1)).as("exact_distinct"))
      exact.crossJoin(broadcast(sums))
        .withColumn("sum_scaled",
          col("sum_hit") + (lit(1024L) - col("m_hit")) * lit(33554432L))
        .withColumn("est", expr(
          "0.7213e0 / (1.0e0 + 1.079e0 / 1024.0e0) * 1048576.0e0 * 33554432.0e0" +
            " / CAST(sum_scaled AS DOUBLE)"))
        .withColumn("rel_err",
          (col("est") - col("exact_distinct").cast("double")) /
            col("exact_distinct").cast("double"))
        .select(col("exact_distinct"), col("m_hit"), col("sum_scaled"),
          col("est"), col("rel_err"))
    }),

    // ---- exact DTW self-drift (Sakoe–Chiba DP as a shift probe): per
    // user, the L1 dynamic-time-warping distance between the first and
    // second halves of their 30-day series (five 3-day PAA frames each) —
    // phase-tolerant drift, where a spike that moved a day warps to ~0
    // instead of reading as change. The 5×5 DP unrolls as 25 projection
    // columns in anti-diagonal order (one codegen chain, no joins) and
    // the oracle unrolls the same cells as chained CTE layers ----
    "q330_dtw_drift" -> ((s, dir) =>
      graft.ops.Events.dtwHalfDrift(t(s, dir, "events"),
          col("user_id"), col("ts"), frameDays = 3, frames = 10)
        .orderBy(col("user_id"))),

    // ---- deterministic grid-DBSCAN over per-user activity points
    // (x = events, y = active days): density modes + outliers, Chebyshev
    // eps=1, minPts=10. Grid-blocked candidate join (cell side = eps, 3x3
    // probe — never all-pairs), clusters = CC of the core-core adjacency
    // (min-label ⇒ cluster id = min core id), border points join the
    // MINIMUM neighbor component so the classic order-dependent border
    // assignment becomes a pure function of the data and hash-gates ----
    "q332_grid_dbscan" -> ((s, dir) => {
      val pts = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("x"), countDistinct(to_date(col("ts"))).as("y"))
      graft.ops.Clustering.gridDbscan(
          pts.select(col("user_id"), col("x"), col("y")), eps = 1L, minPts = 10L)
        .withColumnRenamed("id", "user_id")
        .orderBy(col("user_id"))
    }),

    // ---- graph diameter lower bound by double-sweep BFS: start at the
    // md5-min node, BFS, re-BFS from the farthest node (md5 tie-break) —
    // exact on trees, empirically tight generally, two BFS runs instead of
    // all-pairs O(n*m). Every choice is md5-priority (§8.7#12) so the full
    // trajectory gates against a rounds-unrolled BFS oracle ----
    "q333_diameter_sweep" -> ((s, dir) =>
      Graph.diameterSweep(coSupplyEdges(s, dir), maxRounds = 12)),

    // ---- densest-subgraph peel trajectory (Charikar greedy in the
    // Bahmani all-at-once parallel form): each round drops every node
    // with degree <= average (exact d*n > 2*m cross-multiplication) and
    // records the snapshot; the max-density row is the 2-approx densest
    // subgraph. Full trajectory emitted so every row gates exactly ----
    "q342_densest_peel" -> ((s, dir) =>
      Graph.densestSubgraphPeel(coSupplyEdges(s, dir), maxRounds = 24)
        .orderBy(col("round"))),

    // ---- exact rectangle (4-cycle) census via the diagonal identity:
    // #C4 = sum over pairs of C(common-neighbors, 2) / 2 — the cycle
    // census after triangles, catching bipartite-ish co-occurrence that
    // triangle counting is blind to. One wedge self-join + one pair
    // groupBy, all exact integers ----
    "q341_rectangle_census" -> ((s, dir) =>
      Graph.rectangleCensus(coSupplyEdges(s, dir))),

    // ---- block-mean image RESIZE over real BMP pixel decode (q261's
    // byte contract: LE32 offset, bottom-up rows, padded stride): every
    // 2x2 block of the synthetic 8x8 grayscale becomes one cell with
    // EXACT pixel count + gray sum and one surface division — the
    // thumbnail stage that feeds perceptual hashing at production sizes.
    // The oracle regenerates pixels arithmetically; the byte round-trip
    // (formula -> BMP bytes -> decode -> pool) is what the gate tests ----
    "q340_media_resize" -> ((s, dir) => {
      val header = "424d" + "f6000000" + "00000000" + "36000000" +
        "28000000" + "08000000" + "08000000" + "0100" + "1800" + ("00" * 24)
      val gen = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("doc_id DIV 4").as("g"), expr("doc_id % 4").as("r"))
        .withColumn("idx", expr("transform(sequence(0, 63), j -> (7 - (j DIV 8)) * 8 + (j % 8))"))
        .withColumn("pix", expr(
          "transform(idx, i -> CAST(pmod(g*37 + i*101 + i*i*13 + i*(g % 13)*29" +
            " + IF(r > 0 AND i = 7*r + 3, 128, 0), 256) AS INT))"))
        .withColumn("payload", unhex(concat(lit(header), expr(
          "array_join(transform(pix, v -> concat(format_string('%02x', v)," +
            " format_string('%02x', v), format_string('%02x', v))), '')"))))
      Multimodal.blockMeanResize(gen.select(col("doc_id"), col("payload")), "payload", 2)
        .select(col("doc_id"), col("cy"), col("cx"), col("n_px"),
          col("sum_gray"), col("mean_gray"))
        .orderBy(col("doc_id"), col("cy"), col("cx"))
    }),

    // ---- deterministic epoch shuffle: the reproducible-training-order
    // primitive — every epoch's order is a pure function of (epoch,
    // doc_id) via md5, and the global position comes from the BUCKETED
    // rank machinery (range-bucket offsets + per-bucket row_number), not
    // a single-reducer window — the 100 TB global sort shape. Re-running
    // an epoch replays the identical order; different epochs decorrelate ----
    "q339_epoch_shuffle" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      Seq(0, 1).map { e =>
        val hashed = docs.select(lit(e).as("epoch"), col("doc_id"),
          conv(substring(md5(concat(lit(s"ep$e:"),
            col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long").as("h"))
        graft.ops.Relational.globalRank(hashed, "h", "doc_id", "pos")
      }.reduce(_ unionAll _)
        .select(col("epoch"), col("doc_id"), col("pos"))
        .orderBy(col("epoch"), col("pos"))
    }),

    // ---- readability panel (Flesch–Kincaid grade with deterministic
    // vowel-group syllables): words / sentence-terminator runs (floor 1 —
    // the synthetic corpus is punctuation-free; real corpora aren't) /
    // vowel-group count as the engine-neutral syllable proxy, then the FK
    // affine form computed in ONE double expression shape on both engines.
    // The standard doc-quality feature the Gopher panel (q255) lacks ----
    "q338_readability" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").as("n_words"),
          size(expr("regexp_extract_all(text, '[aeiouy]+', 0)")).cast("long").as("n_syllables"),
          greatest(lit(1L),
            size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")).as("n_sentences"))
        .filter(col("n_words") > 0L)
        .withColumn("fk_grade",
          lit(0.39e0) * (col("n_words").cast("double") / col("n_sentences").cast("double"))
            + lit(11.8e0) * (col("n_syllables").cast("double") / col("n_words").cast("double"))
            - lit(15.59e0))
        .orderBy(col("doc_id"))),

    // ---- rich-club coefficient at a degree-threshold panel: phi(k) =
    // 2*E_k / (N_k*(N_k-1)) over nodes of degree > k — do the co-supply
    // hubs preferentially wire to each other? Exact integer moments, one
    // double division; the panel is a literal explode so the edge list is
    // scanned once, not per threshold ----
    "q337_rich_club" -> ((s, dir) =>
      Graph.richClub(coSupplyEdges(s, dir), thresholds = Seq(8, 16, 32, 64, 96))
        .orderBy(col("k"))),

    // ---- STREAMING LogLog distinct sketch (q329's audit made
    // incremental): per event_type, a transformWithState MapState holds
    // the 1024 max-rho registers — ~8 KB of RocksDB state per key no
    // matter how many billion users pass — and the post-batch summary
    // joins the batch exact count for the estimate audit. Max-folds are
    // idempotent+commutative, so the sketch is arrival-order invariant
    // and gates under the single-batch device ----
    "q336_stream_loglog" -> ((s, dir) => {
      // MULTI-BATCH feed (md5 mod 3): register max-folds cross batch
      // handoffs; streamingLogLog internally selects the final (max-n_seen)
      // summary per type, so the consumer contract is unchanged
      val sketch = graft.streaming.StreamOps.streamingLogLog(
        s, Tables.eventsStreamBatched(s, dir, mode = "hash"))
      val exact = t(s, dir, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      exact.join(sketch, Seq("event_type"))
        .withColumn("sum_scaled",
          col("sum_hit") + (lit(1024L) - col("m_hit")) * lit(33554432L))
        .withColumn("est", expr(
          "0.7213e0 / (1.0e0 + 1.079e0 / 1024.0e0) * 1048576.0e0 * 33554432.0e0" +
            " / CAST(sum_scaled AS DOUBLE)"))
        .withColumn("rel_err",
          (col("est") - col("exact_distinct").cast("double")) /
            col("exact_distinct").cast("double"))
        .select(col("event_type"), col("exact_distinct"), col("m_hit"),
          col("sum_scaled"), col("est"), col("rel_err"))
        .orderBy(col("event_type"))
    }),

    // ---- k-truss membership (k=5) over the co-supply graph: iteratively
    // peel edges with < k-2 triangles of support until stable — the
    // edge-grained cohesive-subgraph extractor that is immune to k-core's
    // star-spammer failure mode. Edge set only shrinks, so extra oracle
    // rounds are identity; refusal past maxRounds (the kCore contract) ----
    "q335_ktruss" -> ((s, dir) =>
      Graph.kTruss(coSupplyEdges(s, dir), k = 5, maxRounds = 12)
        .withColumnRenamed("u", "part_a").withColumnRenamed("v", "part_b")
        .orderBy(col("part_a"), col("part_b"))),

    // ---- personalized-PageRank seed expansion (exact scaled integers):
    // all teleport mass returns to the q150 seed panel, 5 fixed
    // iterations — the corpus-curation primitive (start from known-good
    // seeds, harvest where the walk concentrates mass). Gates against the
    // q103 oracle chain with a seed-masked teleport term ----
    "q334_ppr_seed_expansion" -> ((s, dir) => {
      val e = coSupplyEdges(s, dir)
      val seeds = e.select(col("u").as("seed"))
        .unionAll(e.select(col("v").as("seed")))
        .distinct().filter(col("seed") < 50)
      Graph.personalizedPageRankInt(e, seeds, iters = 5)
        .withColumnRenamed("node", "p_partkey")
        .withColumnRenamed("rank", "ppr")
        .orderBy(col("p_partkey"))
    }),

    // ---- bounded-hop HARMONIC centrality (exact LCM-scaled integers) over
    // the co-supply graph, same 50-part seed panel as q150: Σ 6/d for
    // d(s,v) ≤ 3 — the disconnected-graph-safe closeness, truncated so it
    // gates against a 3×-unrolled min-dist CTE oracle. BFS min-dist rounds
    // reuse the kHop machinery (measured-broadcast frontier, checkpoint
    // per round); lcm(1..3)=6 makes every 1/d term an exact integer ----
    "q331_harmonic_centrality" -> ((s, dir) => {
      val e = coSupplyEdges(s, dir)
      val seeds = e.select(col("u").as("seed"))
        .unionAll(e.select(col("v").as("seed")))
        .distinct().filter(col("seed") < 50)
      Graph.harmonicCentralityInt(e, seeds, k = 3)
        .withColumnRenamed("seed", "p_partkey")
        .orderBy(col("p_partkey"))
    }),

    // ---- sketch-based JOIN-SIZE estimation audit (the optimizer/resource-
    // planning primitive at 100 TB: estimate |A⋈B| from two tiny sketches
    // before paying the join): CountMin inner product — est = min over 4
    // hash rows of Σ_b cmA[r][b]·cmB[r][b] — with md5-derived buckets so
    // BOTH engines build the identical sketch; est ≥ exact always (CM
    // inner-product guarantee), and the audit reports exact, estimate and
    // relative error. Sketch state is 4×4096 cells per side regardless of
    // input size ----
    "q323_join_size_sketch" -> ((s, dir) => {
      val depth = 4; val width = 4096
      // ONE md5 per key, the 4 hash rows sliced from its 32 hex chars
      // (8 chars = 32 independent bits per row) — measured 2× over
      // hashing per (row, key): the md5 is the whole cost of the build
      def buckets(df: DataFrame, keyCol: String): DataFrame = df
        .select(md5(concat(lit("cm:"), col(keyCol).cast("long").cast("string"))).as("h"))
        .select(explode(array((0 until depth).map(r =>
          struct(lit(r).as("r"),
            pmod(conv(substring(col("h"), 1 + 8 * r, 8), 16, 10).cast("long"),
              lit(width)).as("b"))): _*)).as("e"))
        .select(col("e.r"), col("e.b"))
        .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
      val cmA = buckets(t(s, dir, "lineitem"), "l_orderkey")
      val cmB = buckets(urgent, "o_orderkey")
      val est = cmA.join(cmB.withColumnsRenamed(Map("c" -> "c2")), Seq("r", "b"))
        .groupBy(col("r"))
        .agg(sum(col("c") * col("c2")).as("ip"))
        .agg(min(col("ip")).as("est_n"))
      val exact = t(s, dir, "lineitem")
        .join(urgent.withColumnRenamed("o_orderkey", "l_orderkey"), Seq("l_orderkey"),
          "left_semi")
        .agg(count(lit(1)).as("exact_n"))
      exact.crossJoin(broadcast(est))
        .select(col("exact_n"), col("est_n"),
          ((col("est_n") - col("exact_n")).cast("double") /
            col("exact_n").cast("double")).as("rel_err"))
    }),

    // ---- truncated Katz centrality in exact integers: katz·2⁴ =
    // 8·walks₁ + 4·walks₂ + 2·walks₃ + walks₄ (attenuation 1/2, horizon
    // 4) — dyadic weights keep every term integer, so there is no float
    // power, no normalizing division, and the unrolled oracle matches
    // digit-for-digit; the "influence within K steps" centrality between
    // degree and eigenvector ----
    "q321_katz_centrality" -> ((s, dir) =>
      Graph.katzCentrality(coSupplyEdges(s, dir), horizon = 4)
        .select(col("node").as("p_partkey"), col("walks_4"), col("katz_scaled"))
        .orderBy(col("p_partkey"))),

    // ---- deterministic greedy maximal matching (derandomized Israeli-Itai,
    // = MIS on the implicit line graph): each round an edge wins iff its
    // md5 priority is the minimum among all active edges sharing either
    // endpoint; winners' endpoints deactivate their whole neighborhoods.
    // One-to-one pair assignment over the co-supply graph, gateable
    // against a round-unrolled CTE oracle ----
    "q317_greedy_matching" -> ((s, dir) =>
      Graph.greedyMatching(coSupplyEdges(s, dir))
        .select(col("u").as("part_a"), col("v").as("part_b"), col("round"))
        .orderBy(col("part_a"))),

    // ---- deterministic random-walk corpus (DeepWalk/node2vec input): one
    // walk per node, next hop = sorted-neighbor[md5(start:step:cur) mod
    // deg] — replayable uniform choice, so the whole corpus hash-gates
    // against a step-unrolled CTE oracle computing the same md5 indexing;
    // the walk frame chains 8 measured-broadcast adjacency joins in one
    // linear plan and explodes the carried path array once ----
    "q311_walk_corpus" -> ((s, dir) =>
      Graph.deterministicWalks(coSupplyEdges(s, dir), steps = 8)
        .orderBy(col("start_node"), col("step"))),

    // ---- community detection by DETERMINISTIC synchronous label
    // propagation (Raghavan 2007): each node adopts its neighbors' most
    // frequent label, ties to the MINIMUM label, for a FIXED 4 rounds — a
    // pure function of (edges, rounds), so the iterative Spark loop and a
    // 4-times-unrolled CTE oracle agree cell-for-cell (the q103/q130
    // device; async LPA's order-dependence is exactly what it gives up) ----
    "q301_label_propagation" -> ((s, dir) =>
      Graph.labelPropagation(coSupplyEdges(s, dir), rounds = 4)
        .select(col("node").as("p_partkey"), col("label").as("community"))
        .orderBy(col("p_partkey"))),

    // ---- WEIGHTED label propagation: q301's deterministic synchronous
    // LPA with each neighbor's vote multiplied by the edge weight
    // (shared-urgent-order multiplicity, q219's build) — exact integer
    // vote sums keep the winner engine-stable; same fixed 4 rounds,
    // min-label ties, 4×-unrolled weighted oracle ----
    "q308_weighted_lpa" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      val op = t(s, dir, "lineitem")
        .join(urgent, Seq("l_orderkey"), "left_semi")
        .select(col("l_orderkey"), col("l_partkey"))
        .distinct()
      val we = op.as("a")
        .join(op.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("w"))
      Graph.labelPropagation(we, rounds = 4, weighted = true)
        .select(col("node").as("p_partkey"), col("label").as("community"))
        .orderBy(col("p_partkey"))
    }),

    // ---- Newman modularity of the q301 partition: Q = intra/m −
    // ΣD_c²/(2m)² against the degree-preserving null model — exact integer
    // moments (DECIMAL(38,0) Σ of squared community degree sums) with ONE
    // double division at the surface (the q218 device), so a quality score
    // computed over an iterative algorithm's output still hash-gates ----
    "q302_modularity" -> ((s, dir) => {
      val e = coSupplyEdges(s, dir).localCheckpoint()
      Graph.modularity(e, Graph.labelPropagation(e, rounds = 4))
    }),

    // ---- embedding-level dedup keep-list: connected components over the
    // exact cosine near-dup pairs (q28's edge set), keep the min vec_id per
    // component — the semantic-dedup step of a training pipeline, composed
    // from the same CC machinery as the text cascade (q58/q85). Output is
    // every vector with its cluster label and survivor flag. ----
    "q128_embedding_dedup_keep" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val edges = Similarity
        .nearDupPairs(emb, "vec_id", "embedding", threshold = 0.45)
        .select(col("id_a"), col("id_b"))
      val cc = Dedup.connectedComponents(emb.select(col("vec_id")), edges)
      cc.select(col("vec_id"), col("component"),
          (col("vec_id") === col("component")).as("kept"))
        .orderBy(col("vec_id"))
    }),

    // ---- link prediction by the resource-allocation index (Zhou 2009):
    // score every non-adjacent part pair by Σ 1/deg(z) over shared
    // co-supply neighbors z, the reciprocal in exact fixed-point (1e-12
    // units, `div` on both engines) so the sum is order-independent. The
    // wedge build is inherently C(deg,2) per hub; the maxHubDegree cap is
    // operator SEMANTICS (super-hubs carry ~zero RA mass), applied
    // identically in the oracle. ----
    "q131_link_prediction" -> ((s, dir) =>
      Graph.linkPredictionRA(coSupplyEdges(s, dir), minCommonNeighbors = 3)
        .orderBy(col("ra_fixed").desc, col("u"), col("w"))),

    // ---- Benford first-digit audit of order totals per priority class —
    // the classic fabricated-data / drift detector for financial columns.
    // The digit comes from the CENTS-integer's decimal string (no log10:
    // its low-bit wobble could flip a boundary digit), counts are exact,
    // and the expected Benford shares are identical double literals on
    // both engines (e-notation in the oracle: DuckDB parses plain decimal
    // literals as DECIMAL, whose double conversion is off by 1 ulp);
    // the divisions at the surface are single IEEE ops. ----
    "q132_benford" -> ((s, dir) => {
      val digitShares = typedLit(Map(
        1 -> 0.3010299956639812, 2 -> 0.17609125905568124, 3 -> 0.12493873660829993,
        4 -> 0.09691001300805642, 5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
        7 -> 0.05799194697768673, 8 -> 0.05115252244738129, 9 -> 0.04575749056067514))
      val wTot = org.apache.spark.sql.expressions.Window.partitionBy(col("o_orderpriority"))
      t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull && col("o_totalprice") > 0)
        .withColumn("digit",
          substring(round(col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
            .cast("int"))
        .groupBy(col("o_orderpriority"), col("digit"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", col("n").cast("double") / sum(col("n")).over(wTot).cast("double"))
        .withColumn("benford_share", element_at(digitShares, col("digit")))
        .withColumn("abs_dev", abs(col("share") - col("benford_share")))
        .select(col("o_orderpriority"), col("digit"), col("n"), col("share"),
          col("benford_share"), col("abs_dev"))
        .orderBy(col("o_orderpriority"), col("digit"))
    }),

    // ---- gaps-and-islands: per-user episodes of CONSECUTIVE same-type
    // events (state runs), via the row_number-difference trick — two
    // windows over the same (user, time) shuffle, then one groupBy. The
    // (ts, event_id) compound order is a total order, so episode bounds
    // are deterministic under ties. Everything partitions by user_id:
    // no global sort, no single-reducer window at corpus scale. ----
    "q133_state_episodes" -> ((s, dir) => {
      val byUser = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val byUserType = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("__grp", row_number().over(byUser) - row_number().over(byUserType))
        .groupBy(col("user_id"), col("event_type"), col("__grp"))
        .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("event_type"), col("start_ts"), col("end_ts"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_ts"), col("event_type"))
    }),

    // ---- CDC/MERGE apply without a table format: events as a change feed
    // over a customer snapshot (purchase→U, signup→I, error→D), latest
    // event_id wins per key. The window sorts only the DELTA; the base
    // pays one anti-join and is never sorted. Balances to cents-integers
    // so the payload arithmetic is exact on both engines. ----
    "q134_cdc_merge" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      val changes = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "signup", "error"))
        .select(col("user_id").as("c_custkey"),
          concat(lit("cdc#"), col("event_id").cast("string")).as("c_name"),
          round(col("value") * 100).cast("long").as("acctbal_cents"),
          col("event_id").as("version"),
          when(col("event_type") === "error", lit("D"))
            .when(col("event_type") === "signup", lit("I"))
            .otherwise(lit("U")).as("op"))
      Relational.applyCdc(base, changes, Seq("c_custkey"), "version", "op")
        .orderBy(col("c_custkey"))
    }),

    // ---- reciprocal-rank fusion of two per-source document rankings
    // (token count, char length) — the multi-signal shortlist merge of a
    // curation pipeline. Reciprocals in exact fixed-point `div` so the
    // cross-list sum is order-independent; ranks come from windows
    // PARTITIONED by source (the op itself is union + groupBy, sort-free). ----
    "q135_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          coalesce(length(col("text")), lit(0)).as("n_chars"))
        .localCheckpoint()
      val bySrc = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
      val byTokens = bySrc.orderBy(col("n_tokens").desc, col("doc_id"))
      val byChars = bySrc.orderBy(col("n_chars").desc, col("doc_id"))
      val rankA = docs.withColumn("rank", row_number().over(byTokens))
      val rankB = docs.withColumn("rank", row_number().over(byChars))
      Relational.rrfFuse(Seq(rankA, rankB), Seq("source", "doc_id"), "rank")
        .orderBy(col("rrf_fixed").desc, col("source"), col("doc_id"))
    }),

    // ---- sorted-neighborhood near-dup pairs (Hernández-Stolfo): blocks =
    // source, sort key = 12-char text prefix, window 8, exact-jaccard
    // verify at 0.5 — the O(n·w) complement to MinHash blocking. The rank
    // self-join runs on w-sized rank BUCKETS (each left row explodes to 2
    // bucket keys), never within-block all-pairs. ----
    "q136_sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhoodPairs(
          t(s, dir, "documents"), "doc_id", "text",
          blockCol = col("source"),
          sortKey = substring(trim(coalesce(col("text"), lit(""))), 1, 12),
          windowSize = 8, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // ---- streaming CDC: the q134 change feed through a keyed
    // flatMapGroupsWithState latest-version store, folded into the base
    // snapshot — gated against the SAME batch oracle as q134 (max-version
    // selection is order-free, so stream and batch must agree exactly).
    // The batch-side merge runs on the memory-sink result. ----
    "q137_stream_cdc" -> ((s, dir) => {
      // MULTI-BATCH feed (md5 mod 3): a key's changes span batches, so the
      // latest-wins state hands off; each touched batch emits the running
      // latest, and the final state is the max-version emission per key
      val changes = Tables.eventsStreamBatched(s, dir, mode = "hash")
        .filter(col("event_type").isin("purchase", "signup", "error"))
        .select(col("user_id").as("key"),
          concat(lit("cdc#"), col("event_id").cast("string")).as("name"),
          round(col("value") * 100).cast("long").as("cents"),
          col("event_id").as("version"),
          when(col("event_type") === "error", lit("D"))
            .when(col("event_type") === "signup", lit("I"))
            .otherwise(lit("U")).as("op"))
      val latest = graft.streaming.StreamOps
        .runToMemory(s, graft.streaming.StreamOps.cdcLatest(s, changes),
          "q137_mem", org.apache.spark.sql.streaming.OutputMode.Append())
        .groupBy(col("key"))
        .agg(max_by(struct(col("name"), col("cents"), col("op")), col("version")).as("x"))
        .select(col("key").as("c_custkey"), col("x.name").as("c_name"),
          col("x.cents").as("acctbal_cents"), col("x.op").as("op"))
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
      base
        .join(latest.select(col("c_custkey")), Seq("c_custkey"), "left_anti")
        .unionByName(latest.filter(upper(col("op")) =!= "D").drop("op"))
        .orderBy(col("c_custkey"))
    }),

    // ---- missingness-pattern profile: one row per NULL-combination of
    // three derived nullable views of lineitem (NULLIF encodings of the
    // zero/default states) — correlated-missingness fingerprint in one
    // pass; the pattern share divides exact counts at the surface. ----
    "q138_null_patterns" -> ((s, dir) => {
      val v = t(s, dir, "lineitem")
        .select(nullif(col("l_tax"), lit(0.0)).as("tax"),
          nullif(col("l_discount"), lit(0.0)).as("discount"),
          nullif(col("l_returnflag"), lit("N")).as("returnflag"))
      val profiled = Relational.nullPatternProfile(v, Seq("tax", "discount", "returnflag"))
      val total = org.apache.spark.sql.expressions.Window.partitionBy()
      // the pattern table is ≤ 2^3 rows — the unpartitioned share window
      // runs over 8 rows, not the input
      profiled
        .withColumn("share", col("n").cast("double") / sum(col("n")).over(total).cast("double"))
        .orderBy(col("tax_null"), col("discount_null"), col("returnflag_null"))
    }),

    // ---- vocabulary coverage curve: cumulative token-mass share by
    // frequency rank — the "how big a vocab do we need" curve. Rank and
    // running mass both come from ONE pass of the bucketed global-prefix
    // device (no unpartitioned ordered window: the vocabulary grows with
    // the corpus under Heaps' law, so a single sort partition over it is a
    // scale ceiling); the corpus total is a broadcast scalar, not a
    // whole-frame window ----
    "q139_vocab_coverage" -> ((s, dir) => {
      val vocab = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("tf"))
        // negate: the device ranks ascending, the curve wants tf DESC
        .withColumn("neg_tf", -col("tf"))
      val total = vocab.agg(sum(col("tf")).as("__total"))
      Relational.globalPrefixSum(vocab, "neg_tf", "token", "tf", "cum_tf",
          includeCurrent = true, rankCol = Some("rank"))
        .crossJoin(broadcast(total))
        .withColumn("cum_share",
          col("cum_tf").cast("double") / col("__total").cast("double"))
        .select(col("rank"), col("token"), col("tf"), col("cum_tf"), col("cum_share"))
        .orderBy(col("rank"))
    }),

    // ---- k-NN label-error audit (confident learning): per vector, the
    // label histogram of its 10 exact nearest neighbors; own-label vs
    // neighborhood-majority disagreement flags suspected label errors.
    // Exact arm over the bounded panel (complete at sf0.001/0.01); the
    // ANN twins are the documented corpus-scale neighbor stage. ----
    "q140_label_audit" -> ((s, dir) =>
      Similarity.knnLabelAudit(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label", k = 10, maxQueryId = 500)
        .orderBy(col("query_id"))),

    // ---- per-group min-max feature scaling on exact cents integers: the
    // min/max are exact, the surface is one IEEE division; degenerate
    // groups (max == min) surface NULL rather than 0/0. ----
    "q141_minmax_scale" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          round(col("c_acctbal") * 100).cast("long").as("cents"))
      val ext = c.groupBy(col("c_nationkey"))
        .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
      c.join(broadcast(ext), "c_nationkey")
        .withColumn("scaled",
          when(col("hi") === col("lo"), lit(null).cast("double"))
            .otherwise((col("cents") - col("lo")).cast("double")
              / (col("hi") - col("lo")).cast("double")))
        .select(col("c_custkey"), col("c_nationkey"), col("cents"), col("scaled"))
        .orderBy(col("c_custkey"))
    }),

    // ---- Cohen's kappa between two document-quality classifiers (char
    // length ≥ 200 vs token count ≥ 40): chance-corrected agreement from
    // the exact 2×2 contingency, algebraically collapsed to ONE double
    // division — kappa = (N·(n11+n00) − (r1·c1 + r0·c0)) /
    // (N² − (r1·c1 + r0·c0)), products in DECIMAL(38,0) so corpus-scale
    // N² cannot overflow. ----
    "q142_kappa" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      val flags = t(s, dir, "documents")
        .select((coalesce(length(col("text")), lit(0)) >= 200).as("a"),
          (TextAnalysis.tokenCount(col("text")) >= 40).as("b"))
      flags.agg(
          count(lit(1)).as("n"),
          count(when(col("a") && col("b"), 1)).as("n11"),
          count(when(!col("a") && !col("b"), 1)).as("n00"),
          count(when(col("a") && !col("b"), 1)).as("n10"),
          count(when(!col("a") && col("b"), 1)).as("n01"))
        .withColumn("__pe",
          (col("n11") + col("n10")).cast(d0) * (col("n11") + col("n01")).cast(d0)
            + (col("n00") + col("n01")).cast(d0) * (col("n00") + col("n10")).cast(d0))
        .select(col("n"), col("n11"), col("n00"), col("n10"), col("n01"),
          ((col("n").cast(d0) * (col("n11") + col("n00")).cast(d0) - col("__pe")).cast("double")
            / (col("n").cast(d0) * col("n").cast(d0) - col("__pe")).cast("double"))
            .as("kappa"))
    }),

    // ---- per-group z-score standardization with EXACT interior algebra:
    // z = (n·x − S) / sqrt(n·Q − S²) over cents integers in DECIMAL(38,0)
    // (the (x−μ)/σ form rearranged so every intermediate is exact; one
    // sqrt + one division at the surface — both correctly-rounded IEEE
    // ops, so engines agree bit-exactly where a naive mean/stddev chain
    // diverges in summation order). ----
    "q143_zscore" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val stats = li.groupBy(col("flag")).agg(
        count(lit(1)).cast(d0).as("nn"),
        sum(col("cents").cast(d0)).as("ss"),
        sum(col("cents").cast(d0) * col("cents").cast(d0)).as("qq"))
      li.join(broadcast(stats), "flag")
        .withColumn("z",
          (col("nn") * col("cents").cast(d0) - col("ss")).cast("double")
            / sqrt((col("nn") * col("qq") - col("ss") * col("ss")).cast("double")))
        .select(col("l_orderkey"), col("l_linenumber"), col("flag"), col("cents"), col("z"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- max concurrent open order-lines per supplier: sweep-line over
    // ±1 boundary events of the [o_orderdate, l_shipdate) interval, running
    // sum under a per-supplier window with a TOTAL order ((date, delta,
    // orderkey, linenumber); delta −1 sorts first, so half-open intervals
    // release before same-day starts). The capacity-planning twin of the
    // q124 coverage sweep — no O(n²) overlap join anywhere. ----
    "q144_max_concurrent" -> ((s, dir) => {
      val iv = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
          "l_orderkey")
        .filter(col("l_shipdate") > col("o_orderdate"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          col("o_orderdate"), col("l_shipdate"))
      val deltas = iv.select(col("l_suppkey"), col("o_orderdate").as("d"),
          lit(1).as("delta"), col("l_orderkey"), col("l_linenumber"))
        .unionByName(iv.select(col("l_suppkey"), col("l_shipdate").as("d"),
          lit(-1).as("delta"), col("l_orderkey"), col("l_linenumber")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_suppkey"))
        .orderBy(col("d"), col("delta"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      deltas
        .withColumn("open", sum(col("delta")).over(w))
        .groupBy(col("l_suppkey"))
        .agg(max(col("open")).as("max_open"), (count(lit(1)) / 2).cast("long").as("n_lines"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- per-session dwell/bounce: the q17 sessionizer surfaced at
    // SESSION grain (start/end/dwell/bounce) — windows stay partitioned
    // by user; the event-id tie-break makes session MEMBERSHIP a total
    // order even on tied timestamps. ----
    "q145_session_dwell" -> ((s, dir) =>
      Relational.sessionize(t(s, dir, "events"), col("user_id"), col("ts"),
          gapSeconds = 1800, tieBreak = Seq(col("event_id")))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          count(lit(1)).as("n_events"))
        .withColumn("dwell_us", unix_micros(col("end_ts")) - unix_micros(col("start_ts")))
        .withColumn("bounce", col("n_events") === 1)
        .orderBy(col("user_id"), col("session_id"))),

    // ---- exact-algebra Pearson correlation per group: r = (nΣxy − ΣxΣy)
    // / (sqrt(nΣxx − (Σx)²)·sqrt(nΣyy − (Σy)²)) with every sum/product in
    // DECIMAL(38,0). sqrt(a·b) is split as sqrt(a)·sqrt(b) because the
    // 26-digit factors would overflow 38 digits multiplied together —
    // each sqrt is correctly rounded, the product and division are single
    // IEEE ops, so engines agree bit-exactly (q127/q143 pattern). ----
    "q146_correlation" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_quantity") * 100).cast("long").as("x"),
          round(col("l_extendedprice") * 100).cast("long").as("y"))
      li.groupBy(col("flag"))
        .agg(count(lit(1)).cast(d0).as("nn"),
          sum(col("x").cast(d0)).as("sx"), sum(col("y").cast(d0)).as("sy"),
          sum(col("x").cast(d0) * col("x").cast(d0)).as("sxx"),
          sum(col("y").cast(d0) * col("y").cast(d0)).as("syy"),
          sum(col("x").cast(d0) * col("y").cast(d0)).as("sxy"))
        .select(col("flag"), col("nn").cast("long").as("n"),
          ((col("nn") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("nn") * col("sxx") - col("sx") * col("sx")).cast("double"))
              * sqrt((col("nn") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("pearson_r"))
        .orderBy(col("flag"))
    }),

    // ---- duplicate-cluster size histogram: how many exact-dup clusters
    // of each size exist (the dedup dashboard headline). Two aggregations,
    // both key-collapsing — output is bounded by max cluster size. ----
    "q147_cluster_sizes" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(Dedup.wordSetSignature(col("text")).as("sig"))
        .groupBy(col("sig")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))),

    // ---- histogram-based AUC (no global per-row sort): collapse to
    // distinct score values with pos/neg counts, strict-prefix-sum the
    // negatives below each score, then 2U = Σ pos_s·(2·cumneg_<s + neg_s) —
    // exact integers end to end, ties worth ½ by construction, ONE division
    // at the surface. The prefix runs through the bucketed global-prefix
    // device, so even an unbounded score domain (continuous scores at
    // corpus scale) never serializes into one sort partition ----
    "q148_auc" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      val h = t(s, dir, "documents")
        .select(col("n_chars").as("score"), col("lang").eqNullSafe("en").as("label"))
        .groupBy(col("score"))
        .agg(count(when(col("label"), 1)).as("pos"),
          count(when(!col("label"), 1)).as("neg"))
      Relational.globalPrefixSum(h, "score", "score", "neg", "cumneg",
          includeCurrent = false)
        .agg(sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"),
          sum(col("pos").cast(d0) * (col("cumneg").cast(d0) * 2 + col("neg").cast(d0)))
            .as("u2"))
        .select(col("n_pos"), col("n_neg"), col("u2").cast("long").as("u2"),
          (col("u2").cast("double")
            / (col("n_pos").cast(d0) * col("n_neg").cast(d0) * 2).cast("double")).as("auc"))
    }),

    // ---- Gini-Simpson diversity of languages per source: 1 − Σp² written
    // as (N² − Σn²)/N² — exact DECIMAL(38,0) interior, one division; plus
    // the inverse-Simpson "effective language count" N²/Σn². The
    // data-mixing balance metric, by the same exact-algebra discipline as
    // q142/q146. ----
    "q149_simpson_diversity" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("nl"))
        .groupBy(col("source"))
        .agg(sum(col("nl")).cast(d0).as("nn"),
          sum(col("nl").cast(d0) * col("nl").cast(d0)).as("sq"),
          count(lit(1)).as("n_langs"))
        .select(col("source"), col("nn").cast("long").as("n_docs"), col("n_langs"),
          ((col("nn") * col("nn") - col("sq")).cast("double")
            / (col("nn") * col("nn")).cast("double")).as("simpson_diversity"),
          ((col("nn") * col("nn")).cast("double") / col("sq").cast("double"))
            .as("effective_langs"))
        .orderBy(col("source"))
    }),

    // ---- 3-hop reachability counts over the co-supply graph for a
    // 50-part seed panel: fixed-round frontier expansion (3 shuffles,
    // checkpoint per round), gated against a 3×-unrolled MATERIALIZED-CTE
    // oracle — the influence-radius measure, no convergence collect. ----
    "q150_khop_reach" -> ((s, dir) => {
      val e = coSupplyEdges(s, dir)
      val seeds = e.select(col("u").as("seed"))
        .unionAll(e.select(col("v").as("seed")))
        .distinct().filter(col("seed") < 50)
      Graph.kHopCounts(e, seeds, k = 3)
        .withColumnRenamed("seed", "p_partkey")
        .orderBy(col("p_partkey"))
    }),

    // ---- market-basket brand affinity (frequent pairs + lift): baskets are
    // orders, items are the DISTINCT brands in each basket, so the self-join
    // fans out C(brands-per-order, 2) ≤ C(7,2) per basket — bounded by basket
    // width, never by item popularity. Output is ≤ C(25,2) rows regardless of
    // corpus size; support and lift are each ONE double division over exact
    // integer products (q146 discipline). ----
    "q151_brand_affinity" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      // bi feeds FOUR consumers (both self-join sides, the per-item agg,
      // and the basket total) — checkpoint once or the join+distinct
      // replays four times (measured 2.7 → ~1 s at sf0.1)
      val bi = t(s, dir, "lineitem")
        .join(t(s, dir, "part").select(col("p_partkey").as("l_partkey"), col("p_brand")),
          "l_partkey")
        .select(col("l_orderkey"), col("p_brand")).distinct()
        .localCheckpoint()
      val pairs = bi.as("a").join(bi.as("b"), Seq("l_orderkey"))
        .filter(col("a.p_brand") < col("b.p_brand"))
        .select(col("a.p_brand").as("brand_a"), col("b.p_brand").as("brand_b"))
        .groupBy(col("brand_a"), col("brand_b")).agg(count(lit(1)).as("c_ab"))
      val item = bi.groupBy(col("p_brand")).agg(count(lit(1)).as("c_item"))
      val tot = bi.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
      pairs
        .join(broadcast(item.select(col("p_brand").as("brand_a"), col("c_item").as("c_a"))),
          "brand_a")
        .join(broadcast(item.select(col("p_brand").as("brand_b"), col("c_item").as("c_b"))),
          "brand_b")
        .crossJoin(broadcast(tot))
        .select(col("brand_a"), col("brand_b"), col("c_ab"), col("c_a"), col("c_b"),
          col("n_baskets"),
          (col("c_ab").cast("double") / col("n_baskets").cast("double")).as("support"),
          ((col("c_ab").cast(d0) * col("n_baskets").cast(d0)).cast("double")
            / (col("c_a").cast(d0) * col("c_b").cast(d0)).cast("double")).as("lift"))
        .orderBy(col("brand_a"), col("brand_b"))
    }),

    // ---- max drawdown of the per-supplier net-revenue curve: daily net
    // cents (returns negative), cumulative sum, running peak, drawdown =
    // peak − cum — all integer window algebra partitioned by supplier, two
    // stacked windows over the DAILY aggregate (≤ date-range rows per key,
    // not lineitem rows). The risk-exposure measure for any signed series. ----
    "q152_drawdown" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_shipdate"),
          when(col("l_returnflag") === "R",
              -round(col("l_extendedprice") * 100).cast("long"))
            .otherwise(round(col("l_extendedprice") * 100).cast("long")).as("net_cents"))
        .groupBy(col("l_suppkey"), col("l_shipdate"))
        .agg(sum(col("net_cents")).as("day_cents"))
      val wCum = W.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
        .rowsBetween(W.unboundedPreceding, 0)
      daily
        .withColumn("cum", sum(col("day_cents")).over(wCum))
        .withColumn("peak", max(col("cum")).over(wCum))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_days"),
          max(col("peak")).as("peak_cents"),
          max(col("peak") - col("cum")).as("max_drawdown_cents"),
          sum(col("day_cents")).as("final_cents"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- clamped running balance (floor-at-zero ledger) WITHOUT iteration:
    // the recursive c_i = max(0, c_{i-1} + x_i) has the closed form
    // c_i = S_i − min(0, min_{j≤i} S_j) over plain prefix sums, so two
    // stacked per-user windows replace a stateful scan — exact integers,
    // arrival-order total-ordered by (ts, event_id). Credits are
    // purchase/signup value cents; everything else debits. ----
    "q153_clamped_balance" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val led = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type").isin("purchase", "signup"),
              round(col("value") * 100).cast("long"))
            .otherwise(-round(col("value") * 100).cast("long")).as("x"))
      val w = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(W.unboundedPreceding, 0)
      led
        .withColumn("s", sum(col("x")).over(w))
        .withColumn("bal", col("s") - least(lit(0L), min(col("s")).over(w)))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(col("bal")).as("max_balance"),
          // the closed form at the last row: S_n − min(0, min_j S_j) — an
          // order-free aggregate, no last()/arg_max needed
          (sum(col("x")) - least(lit(0L), min(col("s")))).as("final_balance"))
        .orderBy(col("user_id"))
    }),

    // ---- Pareto / ABC inventory classification: brands ranked by exact
    // revenue cents, cumulative share thresholds at 80% / 95% tested as
    // INTEGER cross-products (cum·5 ≤ tot·4, cum·20 ≤ tot·19) — no division
    // anywhere. Windows run over the 25-row brand AGGREGATE, so the
    // unpartitioned ordering is a constant-size frame at any corpus scale. ----
    "q154_pareto_abc" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "lineitem")
        .join(t(s, dir, "part").select(col("p_partkey").as("l_partkey"), col("p_brand")),
          "l_partkey")
        .groupBy(col("p_brand"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val wCum = W.orderBy(col("cents").desc, col("p_brand"))
        .rowsBetween(W.unboundedPreceding, 0)
      val d0 = DecimalType(38, 0)
      rev
        .withColumn("rnk", row_number().over(W.orderBy(col("cents").desc, col("p_brand"))))
        .withColumn("cum_cents", sum(col("cents")).over(wCum))
        .withColumn("total_cents",
          sum(col("cents")).over(W.partitionBy(lit(1))))
        .withColumn("abc_class",
          when(col("cum_cents").cast(d0) * 5 <= col("total_cents").cast(d0) * 4, "A")
            .when(col("cum_cents").cast(d0) * 20 <= col("total_cents").cast(d0) * 19, "B")
            .otherwise("C"))
        .select(col("p_brand"), col("rnk"), col("cents"), col("cum_cents"),
          col("total_cents"), col("abc_class"))
        .orderBy(col("rnk"))
    }),

    // ---- RFM segmentation: per-customer recency/frequency/monetary scored
    // into quartiles over the FULLY DETERMINISTIC total order (metric,
    // custkey). NOT the naive `ntile(4) over (order by …)` — that window is
    // unpartitioned, one sort reducer for ALL customers at corpus scale —
    // but [[Relational.globalNtile]]: bucketed two-pass global ranks + the
    // SQL-standard tile-fill formula in integer DIV, bit-identical to the
    // window form (DuckDB runs plain NTILE as the oracle). Monetary is
    // exact cents; recency is integer days. ----
    "q155_rfm" -> ((s, dir) => {
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_date"),
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
        .withColumn("r_days", datediff(col("last_date"), lit("1990-01-01")))
      val scored = Seq(("r_days", "r_score"), ("n_orders", "f_score"),
        ("total_cents", "m_score"))
        .foldLeft(per) { case (df, (m, sc)) =>
          Relational.globalNtile(df, m, "o_custkey", 4, sc)
        }
      scored
        .withColumn("segment",
          concat(col("r_score").cast("string"), col("f_score").cast("string"),
            col("m_score").cast("string")))
        .select(col("o_custkey"), col("last_date"), col("n_orders"),
          col("total_cents"), col("r_score"), col("f_score"), col("m_score"),
          col("segment"))
        .orderBy(col("o_custkey"))
    }),

    // ---- count–min sketch frequency audit: the mergeable CMS aggregator
    // builds a 4×2048 counter table over all tokens (bounded state per
    // partial, elementwise-add merge — the table crosses the shuffle, not
    // the stream), then the top-50 exact tokens probe it with plain
    // element_at/least Columns. CMS estimates NEVER undercount, so
    // `cms_ge_exact` is a deterministic TRUE the oracle gates — the q75
    // sketch-then-verify pattern for the other classic frequency sketch. ----
    "q156_countmin" -> ((s, dir) => {
      import s.implicits._
      val (depth, width) = (4, 2048)
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      val cms = toks.select(xxhash64(col("token")).as("h")).as[Long]
        .select(new graft.ops.Aggregators.CountMin(depth, width).toColumn.name("cms"))
      val top = toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token")).limit(50)
      val est = least((0 until depth).map(r => expr(
        s"element_at(cms, CAST($r * $width" +
          s" + ((h & 4294967295) + $r * shiftrightunsigned(h, 32)) % $width" +
          s" + 1 AS INT))")): _*)
      top
        .crossJoin(broadcast(cms.toDF("cms")))
        .withColumn("h", xxhash64(col("token")))
        .select(col("token"), col("exact_n"),
          (est >= col("exact_n")).as("cms_ge_exact"))
        .orderBy(col("exact_n").desc, col("token"))
    }),

    // ---- referential-integrity audit across the whole star schema: for
    // every FK edge, (row count, NULL FKs, orphans) — orphans via LEFT ANTI
    // against the DISTINCT parent keys, so each relation is one shuffle (or
    // a broadcast under AQE for the dimension-sized parents) and nothing is
    // ever collected. NULL FKs are counted separately, not as violations
    // (SQL FK semantics). The events→customer and embeddings→documents
    // edges audit the synthetic-data seams — nonzero orphan counts are a
    // finding, not an error. ----
    "q157_fk_audit" -> ((s, dir) => {
      def rel(name: String, child: DataFrame, fk: String,
          parent: DataFrame, pk: String): DataFrame = {
        val c = child.select(col(fk).as("fk"))
        val counts = c.agg(count(lit(1)).as("n_rows"),
          count(when(col("fk").isNull, 1)).as("n_null"))
        val orphans = c.filter(col("fk").isNotNull)
          .join(parent.select(col(pk).as("fk")).distinct(), Seq("fk"), "left_anti")
          .agg(count(lit(1)).as("n_orphan"))
        counts.crossJoin(orphans)
          .select(lit(name).as("relation"), col("n_rows"), col("n_null"),
            col("n_orphan"))
      }
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val p = t(s, dir, "part"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region"); val ev = t(s, dir, "events")
      val docs = t(s, dir, "documents"); val emb = t(s, dir, "embeddings")
      Seq(
        rel("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
        rel("embeddings.vec_id->documents", emb, "vec_id", docs, "doc_id"),
        rel("events.user_id->customer", ev, "user_id", c, "c_custkey"),
        rel("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
        rel("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        rel("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"),
        rel("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey"),
        rel("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        rel("supplier.s_nationkey->nation", su, "s_nationkey", n, "n_nationkey")
      ).reduce(_.unionByName(_)).orderBy(col("relation"))
    }),

    // ---- HITS hubs & authorities on the bipartite customer→supplier
    // purchase graph, two unnormalized power iterations in EXACT integer
    // arithmetic (a₀=1 → h₁=deg, a₁=Σh₁, h₂=Σa₁): normalization is a
    // per-iteration constant, so top-k ranks are identical to the
    // normalized form and skipping the division keeps both engines
    // bit-equal (the q103 PageRank discipline, applied to the other classic
    // link-analysis score). Each iteration is one join + one aggregate on
    // the distinct edge table — checkpointed once, three consumers. ----
    "q158_hits" -> ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")), "l_orderkey")
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
        .localCheckpoint()
      val h1 = e.groupBy(col("cust")).agg(count(lit(1)).as("h1"))
      // a1 feeds both the next iteration and the authority top-k —
      // checkpoint the (supplier-sized) frame so the e⋈h1 join runs once
      val a1 = e.join(h1, "cust").groupBy(col("supp")).agg(sum(col("h1")).as("a1"))
        .localCheckpoint()
      val h2 = e.join(a1, "supp").groupBy(col("cust")).agg(sum(col("a1")).as("h2"))
      val topH = h2.orderBy(col("h2").desc, col("cust")).limit(20)
        .select(lit("hub").as("side"), col("cust").as("node"), col("h2").as("score"))
      val topA = a1.orderBy(col("a1").desc, col("supp")).limit(20)
        .select(lit("authority").as("side"), col("supp").as("node"), col("a1").as("score"))
      topH.unionByName(topA).orderBy(col("side"), col("node"))
    }),

    // ---- month-over-month revenue growth per nation: calendar-aligned
    // period comparison — exact cents per (nation, month), lag(1) over the
    // nation-partitioned MONTH aggregate (≤ a few hundred rows per nation
    // at any corpus size), growth as the single terminal division. First
    // observed month has NULL growth; absent months are skipped (observed-
    // month semantics on both engines). ----
    "q159_mom_growth" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val monthly = t(s, dir, "orders")
        .join(t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey")), "o_custkey")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"), col("n_name"))), "c_nationkey")
        .groupBy(col("n_name"), trunc(col("o_orderdate"), "month").as("month"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      monthly
        .withColumn("prev_cents",
          lag(col("cents"), 1).over(W.partitionBy(col("n_name")).orderBy(col("month"))))
        .withColumn("growth",
          (col("cents") - col("prev_cents")).cast("double")
            / col("prev_cents").cast("double"))
        .orderBy(col("n_name"), col("month"))
    }),

    // ---- supplier ship-latency SLA scorecard: on-time = shipped within 30
    // days of order placement, late-day total as exact integer datediff
    // sum, the rate as one terminal division — one fact-fact equi join on
    // the order key, then a single partial-aggregated groupBy. ----
    "q160_ship_sla" -> ((s, dir) => {
      val delay = datediff(to_date(col("l_shipdate")), col("o_orderdate"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")), "l_orderkey")
        .groupBy(col("l_suppkey"))
        .agg(
          count(lit(1)).as("n_lines"),
          count(when(delay <= 30, 1)).as("n_ontime"),
          sum(when(delay > 30, delay - 30).otherwise(lit(0)))
            .cast("long").as("late_days_total"))
        .withColumn("ontime_rate",
          col("n_ontime").cast("double") / col("n_lines").cast("double"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- dedup-aggressiveness sweep: the pair count at EVERY Jaccard
    // threshold decile in one pass — the curve a corpus curator reads
    // before picking a near-dup cutoff. Deciles are assigned with INTEGER
    // arithmetic ((inter·10) DIV union — floor(10·j) without touching a
    // float), counted, then cumulated descending over the ≤11-row decile
    // aggregate; decile 10 is reserved for exact 1.0 (incl. empty∩empty).
    // Bounded-id oracle arm of the q78 family (no ≥0.9 prefilter — the
    // sweep needs the full pair distribution). ----
    "q161_dedup_thresholds" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val sh = t(s, dir, "documents")
        .filter(col("doc_id") < 1000)
        .select(col("doc_id"),
          array_sort(array_distinct(TextAnalysis.ngrams(col("text"), 3))).as("sh"))
        .localCheckpoint()
      val a = graft.ops.Par.spread(sh, col("doc_id"))
        .select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val cnt = a.join(broadcast(b), col("id_a") < col("id_b"))
        .select(call_function("graft_sorted_intersect", col("sh_a"), col("sh_b")).as("inter"),
          (size(col("sh_a")) + size(col("sh_b"))).as("sz_sum"))
        .select(expr("CAST(CASE WHEN sz_sum - inter = 0 THEN 10" +
          " ELSE LEAST(9, (inter * 10) DIV (sz_sum - inter)) END AS INT)").as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("n_pairs"))
      cnt
        .withColumn("n_at_or_above", sum(col("n_pairs")).over(
          W.orderBy(col("decile").desc).rowsBetween(W.unboundedPreceding, 0)))
        .orderBy(col("decile"))
    }),

    // ---- longest strictly-increasing daily-revenue streak per supplier:
    // gaps-and-islands where the island id is a running count of "not
    // higher than yesterday" breaks — lag + two stacked windows over the
    // per-supplier DAILY aggregate, then an island-length max. The
    // consecutive-run analytic that rank tricks alone can't express. ----
    "q162_up_streaks" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w1 = W.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_shipdate"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("day_cents"))
      val flagged = daily
        .withColumn("up", coalesce(
          (col("day_cents") > lag(col("day_cents"), 1).over(w1)).cast("int"), lit(0)))
        .withColumn("grp", sum(lit(1) - col("up"))
          .over(w1.rowsBetween(W.unboundedPreceding, 0)))
      val islands = flagged.groupBy(col("l_suppkey"), col("grp"))
        .agg(sum(col("up")).as("len"))
        .groupBy(col("l_suppkey"))
        .agg(max(col("len")).cast("long").as("longest_up_streak"))
      daily.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_days"))
        .join(islands, "l_suppkey")
        .orderBy(col("l_suppkey"))
    }),

    // ---- last-touch attribution: every purchase credited to the user's
    // most recent prior view/click — `last(..., ignoreNulls)` over the
    // (ts, event_id)-total-ordered per-user window ending at 1 PRECEDING,
    // then one aggregate over the touch channel. The per-user window
    // partitions by user_id, so it scales with users; purchases with no
    // prior touch land in 'none'. Exact cents. ----
    "q163_attribution" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(W.unboundedPreceding, -1)
      t(s, dir, "events")
        .withColumn("touch", last(
          when(col("event_type").isin("view", "click"), col("event_type")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .orderBy(col("touch"))
    }),

    // ---- deterministic per-key MODE (most frequent event type per user):
    // counts per (user, type), then `max(struct(count, type))` — an
    // order-free AGGREGATE argmax (struct comparison is count-then-type, so
    // ties break to the lexicographically largest type deterministically on
    // both engines) — no window, no shuffle beyond the two-level groupBy.
    // The built-in `mode()` is tie-nondeterministic and ungateable; this
    // form is the scale-safe replacement. ----
    "q164_mode_per_user" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("event_type"))).as("m"))
        .select(col("user_id"), col("m.event_type").as("top_type"),
          col("m.n").as("n"))
        .orderBy(col("user_id"))
    }),

    // ---- Zipf rank–frequency table: top-100 tokens by corpus frequency
    // with rank and the rank·freq product (≈constant under Zipf's law — the
    // corpus-health diagnostic). Top-100 via TakeOrdered (sort-free global
    // top-k), the rank window runs over the collected 100-row frame only —
    // never over the full vocabulary (the q75 lesson). ----
    "q165_zipf" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val top = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token")).limit(100)
      top
        .withColumn("rank",
          row_number().over(W.orderBy(col("freq").desc, col("token"))))
        .withColumn("rank_x_freq", col("rank") * col("freq"))
        .orderBy(col("rank"))
    }),

    // ---- exact 2-D skyline (Pareto frontier) of parts: cheapest-for-size —
    // no other part is both no-pricier and no-smaller with one strict edge.
    // Distributed sort-scan via Relational.skyline2D: range-bucketed x,
    // range-frame running max within buckets, broadcast prefix-max across
    // them — no O(n²) join, no single-partition window (oracle: NOT EXISTS,
    // quadratic, the bounded arm). ----
    "q166_skyline" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_size"),
          round(col("p_retailprice") * 100).cast("long").as("price_cents"))
      Relational.skyline2D(p, "price_cents", "p_size")
        .orderBy(col("p_partkey"))
    }),

    // ---- harmonic mean of ship latency per nation: the rate-style average
    // (mean of rates = harmonic, not arithmetic). Reciprocals in fixed-point
    // integer division (the q135 device: SUM of SCALE DIV x is bit-exact
    // under any partitioning), one n·SCALE/Σ division at the surface ----
    "q167_harmonic_latency" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val agg = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .withColumn("lat_days", datediff(col("l_shipdate"), col("o_orderdate")) + lit(1))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_shipments"),
          // DECIMAL accumulator: 1e11 rows x 1e12-scaled terms overflows LONG
          sum(expr("CAST(1000000000000 DIV lat_days AS DECIMAL(38,0))"))
            .as("sum_recip_fixed"))
        .withColumn("harmonic_days",
          (col("n_shipments").cast("decimal(38,0)")
            * lit(1000000000000L).cast("decimal(38,0)")).cast("double") /
            col("sum_recip_fixed").cast("double"))
      // the >2^53 accumulator surfaces as an exact (hi, lo) BIGINT pair —
      // final DecimalType is not hash-stable at the gate (SURVEY §8.3#1)
      graft.ops.Sketches.surfaceHiLo(agg, "sum_recip_fixed")
        .orderBy(col("n_name"))
    }),

    // ---- exact EWMA (half-life decay, trailing 8 observations) of each
    // part's price series: weights are powers of two so numerator and
    // denominator stay exact integers (a lag chain, not a frame aggregate —
    // per-row weights inside one frame aren't expressible as a plain agg);
    // the one division happens at the surface. Emits the latest smoothed
    // value per part. ----
    "q168_ewma" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("l_partkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val lagged = (0 until 8).foldLeft(li) { (df, i) =>
        df.withColumn(s"c$i", lag(col("cents"), i).over(w))
      }
      val num = (0 until 8).map(i => coalesce(col(s"c$i") * lit(1L << (7 - i)), lit(0L)))
        .reduce(_ + _)
      val den = (0 until 8).map(i =>
        when(col(s"c$i").isNotNull, lit(1L << (7 - i))).otherwise(lit(0L))).reduce(_ + _)
      lagged
        .withColumn("ewma_num", num).withColumn("ewma_den", den)
        .withColumn("__rn", row_number().over(
          W.partitionBy(col("l_partkey"))
            .orderBy(col("l_shipdate").desc, col("l_orderkey").desc, col("l_linenumber").desc)))
        .filter(col("__rn") === 1)
        .select(col("l_partkey"), col("ewma_num"), col("ewma_den"),
          (col("ewma_num").cast("double") / col("ewma_den").cast("double")).as("ewma_cents"))
        .orderBy(col("l_partkey"))
    }),

    // ---- Gini coefficient of customer spend within each nation: the
    // rank-sum closed form G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over the
    // ascending (cents, custkey) order — every intermediate is an exact
    // DECIMAL, one division at the surface (lesson: algebraic rearrangement
    // beats Lorenz-curve float accumulation). Rank is a per-nation window —
    // partitions by nation, scale-safe. ----
    "q169_gini" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val spend = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      spend
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .withColumn("i", row_number().over(
          W.partitionBy(col("n_name")).orderBy(col("cents"), col("o_custkey"))))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("cents").cast("decimal(38,0)")).as("sx"),
          sum(col("i").cast("decimal(38,0)") * col("cents").cast("decimal(38,0)")).as("six"))
        .select(col("n_name"), col("n_customers"),
          ((lit(2).cast("decimal(38,0)") * col("six")
            - (col("n_customers") + lit(1)).cast("decimal(38,0)") * col("sx")).cast("double") /
            (col("n_customers").cast("decimal(38,0)") * col("sx")).cast("double")).as("gini"))
        .orderBy(col("n_name"))
    }),

    // ---- functional-dependency audit (profiling): for three candidate FDs,
    // how many determinant values map to >1 distinct dependent — the
    // det→dep integrity check a catalog crawler runs before trusting a
    // column as a key. Exact distinct per key (one shuffle each), share is
    // a single surface division. ----
    "q170_fd_audit" -> ((s, dir) => {
      def fd(df: org.apache.spark.sql.DataFrame, det: String, dep: String, name: String) =
        df.groupBy(col(det)).agg(countDistinct(col(dep)).as("d"))
          .agg(count(lit(1)).as("n_keys"),
            sum(when(col("d") > 1, 1L).otherwise(0L)).as("n_violating"),
            max(col("d")).as("max_distinct"))
          .select(lit(name).as("fd"), col("n_keys"), col("n_violating"), col("max_distinct"),
            (col("n_violating").cast("double") / col("n_keys").cast("double"))
              .as("violation_share"))
      fd(t(s, dir, "part"), "p_brand", "p_type", "part: brand -> type")
        .unionByName(fd(t(s, dir, "orders"), "o_custkey", "o_orderpriority",
          "orders: custkey -> priority"))
        .unionByName(fd(t(s, dir, "lineitem"), "l_partkey", "l_suppkey",
          "lineitem: partkey -> suppkey"))
        .orderBy(col("fd"))
    }),

    // ---- order-free table fingerprint (anti-entropy checksum): per
    // return-flag, COUNT + SUM/MIN/MAX of a cross-engine 64-bit row hash
    // (md5-low-half, big-endian hex parse — engine-private hashes like
    // xxhash64 can't gate). Commutative aggregates ⇒ identical under any
    // partitioning/file layout — verify a 100 TB copy by comparing four
    // numbers per group instead of moving rows. ----
    "q171_fingerprint" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val canonical = concat_ws("|",
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
        round(col("l_quantity") * 100).cast("long"),
        round(col("l_extendedprice") * 100).cast("long"))
      graft.ops.Sketches.fingerprint(li, Seq(col("l_returnflag")), canonical)
        .orderBy(col("l_returnflag"))
    }),

    // ---- exact change-point (largest mean shift) in each supplier's daily
    // revenue series: argmax over split points of |mean-before − mean-after|
    // with the score kept as exact-integer p/q until ONE division — the
    // engine-stable alternative to float CUSUM scans. Prefix sums via
    // shared per-key windows; no self-join over splits. ----
    "q172_changepoint" -> ((s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_shipdate"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("day_cents"))
      Relational.meanShiftSplit(daily, "l_suppkey", Seq(col("l_shipdate")), "day_cents")
        .select(col("l_suppkey"), col("l_shipdate").as("split_date"),
          col("split_pos"), col("n_obs"),
          col("mean_before"), col("mean_after"), col("shift_score"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- linear interpolation of gaps in per-user daily purchase series:
    // date-grid fill, then the straight line between bracketing
    // observations (boundary gaps take the available neighbor) — the
    // time-series repair step before any resampling/features; one exact
    // integer division per filled cell (q143 rule), two window passes
    // sharing one per-user sort. ----
    "q173_interpolate" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("day_cents"))
      val grid = Relational.fillDateGrid(daily, "user_id", "day")
        .withColumn("day_idx", datediff(col("day"), lit("1970-01-01").cast("date")))
      Relational.linearInterpolate(grid, Seq(col("user_id")), "day_idx", "day_cents")
        .select(col("user_id"), col("day"), col("day_cents").isNotNull.as("observed"),
          col("day_cents_interp"))
        .orderBy(col("user_id"), col("day"))
    }),

    // ---- edit-distance-1 neighbor pairs via FastSS deletion neighborhoods:
    // O(n·L) candidate keys (each name plus its single-char deletions)
    // replace the O(n²) cross join the oracle runs — the string-similarity
    // join for typo-level entity resolution at corpus scale; exact banded
    // verify removes shared-deletion false positives ----
    "q174_edit_neighbors" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      graft.ops.Dedup.editDistance1Pairs(c, "c_custkey", "c_name")
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- two-proportion A/B test in exact arithmetic: cohorts by user-id
    // parity, conversion = made ≥1 purchase; z² emitted as ONE division of
    // exact DECIMAL products (z² = (n₂s₁−n₁s₂)²(n₁+n₂) / n₁n₂(s₁+s₂)
    // (n₁+n₂−s₁−s₂)) with the sign carried separately — no float chain, so
    // the experiment verdict is engine-stable ----
    "q175_ab_test" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
        .withColumn("cohort", (col("user_id") % 2 === 0).cast("int"))
      users.agg(
          sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("cohort") === 1, col("converted")).otherwise(0L)).as("s_a"),
          sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("cohort") === 0, col("converted")).otherwise(0L)).as("s_b"))
        .select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
          (col("s_a").cast("double") / col("n_a").cast("double")).as("rate_a"),
          (col("s_b").cast("double") / col("n_b").cast("double")).as("rate_b"),
          signum((dec(col("n_b")) * dec(col("s_a"))
            - dec(col("n_a")) * dec(col("s_b"))).cast("double")).cast("int").as("direction"),
          (((dec(col("n_b")) * dec(col("s_a")) - dec(col("n_a")) * dec(col("s_b")))
            * (dec(col("n_b")) * dec(col("s_a")) - dec(col("n_a")) * dec(col("s_b")))
            * dec(col("n_a") + col("n_b"))).cast("double") /
            (dec(col("n_a")) * dec(col("n_b")) * dec(col("s_a") + col("s_b"))
              * dec(col("n_a") + col("n_b") - col("s_a") - col("s_b"))).cast("double"))
            .as("z_squared"))
    }),

    // ---- behavior-combination (UpSet-style) profile of ONBOARDING: users
    // grouped by the exact SET of event types in their first 5 events — the
    // segmentation behind "clicked but never purchased early" cohorts; set
    // identity via sorted array_join (collect_set order is partition-
    // dependent, sort pins it), share is one surface division over the
    // ≤2^5-row combo table ----
    "q176_behavior_combos" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val first5 = t(s, dir, "events")
        .withColumn("__rn", row_number().over(
          W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
        .filter(col("__rn") <= 5)
      val combos = first5
        .groupBy(col("user_id"))
        .agg(array_join(sort_array(collect_set(col("event_type"))), ",").as("combo"))
        .groupBy(col("combo")).agg(count(lit(1)).as("n_users"))
      val total = W.partitionBy(lit(1))
      combos
        .withColumn("share",
          col("n_users").cast("double") / sum(col("n_users")).over(total).cast("double"))
        .orderBy(col("combo"))
    }),

    // ---- χ² independence audit cells (returnflag × linestatus): observed,
    // expected, and the per-cell χ² contribution held as ONE division of
    // exact integers ((O·N − r·c)² / (N·r·c)) — emitted per cell rather than
    // summed, because a cross-engine float SUM is order-sensitive while
    // every cell value is engine-stable; the margins come from windows over
    // the ≤·|flags|·|statuses|-row cell table ----
    "q177_chisq_cells" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val cells = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("observed"))
      cells
        .withColumn("r", sum(col("observed")).over(W.partitionBy(col("l_returnflag"))))
        .withColumn("c", sum(col("observed")).over(W.partitionBy(col("l_linestatus"))))
        .withColumn("n", sum(col("observed")).over(W.partitionBy(lit(1))))
        .select(col("l_returnflag"), col("l_linestatus"), col("observed"),
          ((dec(col("r")) * dec(col("c"))).cast("double") / col("n").cast("double"))
            .as("expected"),
          (((dec(col("observed")) * dec(col("n")) - dec(col("r")) * dec(col("c")))
            * (dec(col("observed")) * dec(col("n")) - dec(col("r")) * dec(col("c"))))
            .cast("double") /
            (dec(col("n")) * dec(col("r")) * dec(col("c"))).cast("double"))
            .as("chisq_contrib"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- seasonal-naive backtest (forecast = same weekday last week) over
    // per-supplier daily revenue, scored with exact error metrics: WMAPE
    // and bias as single divisions of exact integer sums — the forecast-
    // evaluation loop of a demand pipeline with no float accumulation. The
    // d−7 lookup is a calendar self-join on (supplier, day−7), not a row
    // lag, so gaps score only genuinely comparable days. ----
    "q178_backtest" -> ((s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_shipdate").cast("date").as("day"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .localCheckpoint() // two consumers below: actuals and the d-7 feed
      val fc = daily.select(col("l_suppkey"),
        date_add(col("day"), 7).as("day"), col("cents").as("fc_cents"))
      daily.join(fc, Seq("l_suppkey", "day"))
        .withColumn("err", col("cents") - col("fc_cents"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_scored"),
          sum(abs(col("err"))).as("abs_err_sum"),
          sum(col("err")).as("err_sum"),
          sum(col("cents")).as("actual_sum"))
        .select(col("l_suppkey"), col("n_scored"), col("abs_err_sum"),
          (col("abs_err_sum").cast("double") / col("actual_sum").cast("double"))
            .as("wmape"),
          (col("err_sum").cast("double") / col("actual_sum").cast("double"))
            .as("bias"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- recommender evaluation: top-3 train-period brands per customer
    // (spend argsort, tie→brand) scored against test-period purchases —
    // precision@3 and MRR with the reciprocal held in fixed point (the q135
    // rule: Σ SCALE DIV rank is order-free and exact; divide once at the
    // surface). One row: the eval harness any ranking pipeline needs. ----
    "q179_rec_eval" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val split = lit("1999-01-01").cast("date")
      val sales = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey"), col("o_orderdate"), col("p_brand"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .localCheckpoint() // feeds both the train ranking and the test truth
      val recs = sales.filter(col("o_orderdate") < split)
        .groupBy(col("o_custkey"), col("p_brand"))
        .agg(sum(col("cents")).as("spend"))
        .withColumn("rank", row_number().over(W.partitionBy(col("o_custkey"))
          .orderBy(col("spend").desc, col("p_brand"))))
        .filter(col("rank") <= 3)
      val truth = sales.filter(col("o_orderdate") >= split)
        .select(col("o_custkey"), col("p_brand")).distinct()
      val scored = recs
        .join(truth.withColumn("hit", lit(1L)), Seq("o_custkey", "p_brand"), "left")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_recs"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"),
          min(when(col("hit") === 1L, col("rank"))).as("first_hit_rank"))
        // only customers with BOTH train recs and any test activity score
        .join(truth.select(col("o_custkey")).distinct(), Seq("o_custkey"), "left_semi")
      scored.agg(
          count(lit(1)).as("n_customers"),
          sum(col("hits")).as("total_hits"),
          sum(col("n_recs")).as("total_recs"),
          sum(coalesce(expr("1000000000000 DIV first_hit_rank"), lit(0L)))
            .as("mrr_fixed_sum"))
        .select(col("n_customers"), col("total_hits"), col("total_recs"),
          (col("total_hits").cast("double") / col("total_recs").cast("double"))
            .as("precision_at_3"),
          col("mrr_fixed_sum"),
          (col("mrr_fixed_sum").cast("double") /
            (col("n_customers").cast("decimal(38,0)")
              * lit(1000000000000L).cast("decimal(38,0)")).cast("double")).as("mrr"))
    }),

    // ---- TPC-H Q13 shape (customer order-count distribution): LEFT join +
    // COUNT(order) per customer (NULL-safe: customers with no orders count
    // 0), then the distribution of those counts — the two-level aggregate
    // with an outer join feeding it; exercises null-aware aggregation ----
    "q180_custdist" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count")) // count(col) skips NULLs
        .groupBy(col("c_count")).agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),

    // ---- TPC-H Q17 shape (small-quantity revenue): lineitems below 20% of
    // their part's average quantity — the correlated-scalar-subquery
    // pattern, decorrelated the Spark-first way as an explicit per-part
    // aggregate joined back (what Catalyst's decorrelation would emit);
    // avg held exact as sum/count cross-multiplied into the predicate
    // (qty·5·cnt < sum ⇔ qty < 0.2·avg) so no float threshold wobbles ----
    "q181_small_qty_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey"),
          round(col("l_quantity") * 100).cast("long").as("qty_c"),
          round(col("l_extendedprice") * 100).cast("long").as("price_c"))
        .localCheckpoint() // feeds the per-part aggregate AND the probe side
      val perPart = li.groupBy(col("l_partkey"))
        .agg(sum(col("qty_c")).as("sum_qty"), count(lit(1)).as("cnt"))
      val agg = li.join(perPart, Seq("l_partkey"))
        .filter(col("qty_c") * lit(5L) * col("cnt") < col("sum_qty"))
        .agg(sum(col("price_c").cast("decimal(38,0)")).as("revenue_cents"),
          count(lit(1)).as("n_lines"))
      // exact (hi, lo) BIGINT surface for the >2^53 cents sum (SURVEY §8.3#1)
      graft.ops.Sketches.surfaceHiLo(agg, "revenue_cents")
    }),

    // ---- TPC-H Q21 shape (suppliers who alone were late on multi-supplier
    // orders): EXISTS(another supplier on the order) AND NOT EXISTS(another
    // LATE supplier) — the double-correlated-exists pattern, expressed as
    // aggregate semi/anti joins over the per-(order, supplier) lateness
    // table; late = shipped >90 days after order ----
    "q182_late_sole_supplier" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max((datediff(col("l_shipdate"), col("o_orderdate")) > 90).cast("int"))
          .as("late"))
        .localCheckpoint() // three consumers: probe, exists-arm, not-exists-arm
      val others = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"),
        col("late").as("late2"))
      li.filter(col("late") === 1)
        // EXISTS: some other supplier on the same order
        .join(others.filter(col("s2").isNotNull),
          col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"), "left_semi")
        // NOT EXISTS: no other LATE supplier on the same order
        .join(others.filter(col("late2") === 1),
          col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"), "left_anti")
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("l_suppkey"))
    }),

    // ---- stream-static enrichment under the gate: the events stream joined
    // to the broadcast customer dimension per micro-batch, aggregated to
    // exact per-segment purchase totals — the canonical streaming enrich
    // (dim rides map-side, no stream-side shuffle for the join); equals the
    // batch join+aggregate cell-for-cell because the totals are
    // arrival-order-free integer cents ----
    "q183_stream_enrich" -> ((s, dir) => {
      val ev = Tables.eventsStream(s, dir)
        .filter(col("event_type") === "purchase")
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = graft.streaming.StreamOps
        .enrichWithStatic(ev, dim, "user_id", "c_custkey")
        .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      graft.streaming.StreamOps
        .runToMemory(s, enriched, "q183_mem",
          org.apache.spark.sql.streaming.OutputMode.Complete())
        .orderBy(col("segment"))
    }),

    // ---- multiset EXCEPT ALL / INTERSECT ALL through the gate: bag
    // semantics (per-occurrence, not per-value) over the open-vs-finished
    // order priority bags — the set-op family's missing two members (q11/
    // q35 gate the DISTINCT forms); aggregated to counts for stable output ----
    "q184_multiset_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(col("o_orderstatus") === "O").select(col("o_orderpriority"))
      val b = o.filter(col("o_orderstatus") === "F").select(col("o_orderpriority"))
      val ea = a.exceptAll(b).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val ia = a.intersectAll(b).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      ea.unionByName(ia)
        .select(col("op"), col("o_orderpriority"), col("n"))
        .orderBy(col("op"), col("o_orderpriority"))
    }),

    // ---- classifier evaluation table: the engine's own lang-ID predictions
    // (q21) scored against the labeled lang column — per-class tp / predicted
    // / actual counts with precision, recall, F1 as single divisions of
    // exact longs (2tp/(pred+actual) — no intermediate rate chain). The
    // contingency collapses to |classes|² cells before any window. ----
    "q185_langid_eval" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(coalesce(col("lang"), lit("und")).as("actual"),
          col("text"), TextAnalysis.tokens(col("text")).as("_toks"))
        .select(col("actual"), TextAnalysis.langIdTokens(col("text"), col("_toks")).as("pred"))
      val cells = d.groupBy(col("actual"), col("pred")).agg(count(lit(1)).as("n"))
        .localCheckpoint() // three small consumers below
      val byActual = cells.groupBy(col("actual").as("class")).agg(sum(col("n")).as("n_actual"))
      val byPred = cells.groupBy(col("pred").as("class")).agg(sum(col("n")).as("n_pred"))
      val tp = cells.filter(col("actual") === col("pred"))
        .select(col("actual").as("class"), col("n").as("tp"))
      byActual.join(byPred, Seq("class"), "full_outer")
        .join(tp, Seq("class"), "left")
        .select(col("class"),
          coalesce(col("n_actual"), lit(0L)).as("n_actual"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("precision", when(col("n_pred") > 0,
          col("tp").cast("double") / col("n_pred").cast("double")))
        .withColumn("recall", when(col("n_actual") > 0,
          col("tp").cast("double") / col("n_actual").cast("double")))
        .withColumn("f1", when(col("n_pred") + col("n_actual") > 0,
          (col("tp") * 2L).cast("double") /
            (col("n_pred") + col("n_actual")).cast("double")))
        .orderBy(col("class"))
    }),

    // ---- calibration (reliability) table: documents deciled by length via
    // the distributed global NTILE (q155's bucketed two-pass device — no
    // single-reducer window), each decile scored with its empirical
    // P(lang = 'en') — the monotonicity read says how calibrated length is
    // as an English-ness score; rate is one surface division ----
    "q186_calibration" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          (coalesce(col("lang"), lit("")) === "en").cast("long").as("is_en"))
      Relational.globalNtile(d, "n_chars", "doc_id", 10, "decile")
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("is_en")).as("n_en"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .withColumn("en_rate",
          col("n_en").cast("double") / col("n_docs").cast("double"))
        .orderBy(col("decile"))
    }),

    // ---- repurchase-latency quantiles: per-segment exact p50/p90 of the
    // seconds between consecutive purchases of one user — lag window per
    // user, then the bucketed exact-quantile core (no per-key sort at the
    // quantile step); the latency distribution behind churn playbooks ----
    "q187_repurchase_latency" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .withColumn("gap_sec",
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          col("user_id") === col("c_custkey"), "left")
        .select(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
          col("gap_sec"))
      Relational.exactQuantilesByKey(gaps, "segment", "gap_sec", Seq(0.5, 0.9))
        .orderBy(col("segment"))
    }),

    // ---- linear (equal-credit) multi-touch attribution: each purchase
    // splits its cents equally across the user's PRIOR view/click touches;
    // the per-purchase split is fixed-point integer division (cents·SCALE·
    // n_channel DIV k — one floor per (purchase, channel), deterministic on
    // both engines), summed per channel in DECIMAL. Complements q163's
    // last-touch rule; 'none' holds untouched purchases. ----
    "q188_linear_attribution" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(W.unboundedPreceding, -1)
      val S = 1000000L
      val p = t(s, dir, "events")
        .withColumn("n_view",
          count(when(col("event_type") === "view", 1)).over(w))
        .withColumn("n_click",
          count(when(col("event_type") === "click", 1)).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("k", col("n_view") + col("n_click"))
      val credits = p.select(lit("view").as("channel"),
          when(col("k") > 0, expr(s"(cents * $S * n_view) DIV k")).otherwise(lit(0L))
            .as("credit"))
        .unionAll(p.select(lit("click").as("channel"),
          when(col("k") > 0, expr(s"(cents * $S * n_click) DIV k")).otherwise(lit(0L))
            .as("credit")))
        .unionAll(p.select(lit("none").as("channel"),
          when(col("k") === 0, col("cents") * lit(S)).otherwise(lit(0L)).as("credit")))
      val agg = credits.groupBy(col("channel"))
        .agg(sum(when(col("credit") > 0, 1L).otherwise(0L)).as("n_credited"),
          sum(col("credit").cast("decimal(38,0)")).as("credit_fixed"))
        .withColumn("credit_dollars",
          col("credit_fixed").cast("double") / lit(100.0 * S))
      // exact (hi, lo) BIGINT surface for the >2^53 credit sum (SURVEY §8.3#1)
      graft.ops.Sketches.surfaceHiLo(agg, "credit_fixed")
        .orderBy(col("channel"))
    }),

    // ---- multi-source weighted shortest paths (min-plus Bellman–Ford) over
    // the co-supply graph, edge weight = 1 + |size difference| of the two
    // parts: integer distances reach a fixed point that is engine-stable,
    // gated against an unrolled-rounds oracle (q103/q130 device); the
    // operator REFUSES a mid-relaxation answer past its round bound ----
    "q189_sssp" -> ((s, dir) => {
      val sizes = t(s, dir, "part").select(col("p_partkey"), col("p_size"))
      val e = coSupplyEdges(s, dir)
        .join(sizes.select(col("p_partkey").as("u"), col("p_size").as("su")), Seq("u"))
        .join(sizes.select(col("p_partkey").as("v"), col("p_size").as("sv")), Seq("v"))
        .select(col("u"), col("v"),
          (lit(1L) + abs(col("su") - col("sv"))).as("w"))
      val seeds = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node")))
        .distinct().filter(col("node") < 50)
      Graph.shortestPathsInt(e, seeds, maxRounds = 16)
        .select(col("node").as("p_partkey"), col("dist"))
        .orderBy(col("p_partkey"))
    }),

    // ---- top-3 brands per nation with an OTHER rollup row: the BI staple
    // that needs rank + conditional re-aggregation (top rows keep their
    // identity, the tail collapses) — share is one surface division against
    // the nation total carried on a dictionary-sized frame ----
    "q190_top_other" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val ranked = rev.withColumn("rk", row_number().over(
        W.partitionBy(col("n_name")).orderBy(col("cents").desc, col("p_brand"))))
      val rolled = ranked
        .groupBy(col("n_name"),
          when(col("rk") <= 3, col("p_brand")).otherwise(lit("OTHER")).as("brand"))
        .agg(sum(col("cents")).as("cents"))
      rolled
        .withColumn("share", col("cents").cast("double") /
          sum(col("cents")).over(W.partitionBy(col("n_name"))).cast("double"))
        // (n_name, brand) — same final sort as the oracle's ORDER BY
        .orderBy(col("n_name"), col("brand"))
        .select(col("n_name"), col("brand"), col("cents"), col("share"))
    }),

    // ---- funnel step latency: per user the seconds from FIRST view to
    // FIRST subsequent click and from that click to the FIRST subsequent
    // purchase; exact p50/p90 of each step gap via the bucketed quantile
    // core — "where does the funnel stall" with no float in sight ----
    "q191_step_latency" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts")).localCheckpoint()
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val firstClick = ev.filter(col("event_type") === "click")
        .join(firstView, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id"), col("t_view")).agg(min(col("ts")).as("t_click"))
      val firstBuy = ev.filter(col("event_type") === "purchase")
        .join(firstClick, Seq("user_id"))
        .filter(col("ts") > col("t_click"))
        .groupBy(col("user_id"), col("t_view"), col("t_click"))
        .agg(min(col("ts")).as("t_buy"))
      val gaps = firstBuy
        .select(lit("view_to_click").as("step"),
          (unix_timestamp(col("t_click")) - unix_timestamp(col("t_view"))).as("gap_sec"))
        .unionAll(firstBuy.select(lit("click_to_purchase").as("step"),
          (unix_timestamp(col("t_buy")) - unix_timestamp(col("t_click"))).as("gap_sec")))
      Relational.exactQuantilesByKey(gaps, "step", "gap_sec", Seq(0.5, 0.9))
        .orderBy(col("step"))
    }),

    // ---- snapshot diff (table-version delta): the customer table vs a
    // deterministically derived "previous" version (every 97th key new in
    // current, every 13th key present only in previous, every 11th balance
    // shifted) — added/removed/changed/unchanged per business key via one
    // full-outer join with presence sentinels; balances compared in exact
    // cents so "changed" is engine-stable ----
    "q192_snapshot_diff" -> ((s, dir) => {
      val curr = t(s, dir, "customer")
        .select(col("c_custkey"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
        .localCheckpoint() // previous derives from it: two consumers
      val prev = curr
        .filter(col("c_custkey") % 97 =!= 0) // these keys are "new" in curr
        .withColumn("bal_cents",
          when(col("c_custkey") % 11 === 0, col("bal_cents") + 1000L)
            .otherwise(col("bal_cents")))
        .unionAll(curr.filter(col("c_custkey") % 13 === 0) // "removed" in curr
          // negative keys: a namespace disjoint from real custkeys at ANY
          // scale factor (a fixed +1e6 offset collides once customer > 1M
          // rows and the added/removed labels silently drift)
          .select((-col("c_custkey")).as("c_custkey"), col("bal_cents")))
      Relational.snapshotDiff(prev, curr, Seq("c_custkey"), Seq("bal_cents"))
        .filter(col("change_type") =!= "unchanged")
        .orderBy(col("c_custkey"))
    }),

    // ---- skip-gram (proximity) co-occurrence pairs, window ≤ 3: the
    // word2vec-era context-pair extraction — each position joins only its
    // three FORWARD slots (explode to (doc, pos+d), equi-join back), so the
    // pair volume is 3n, never the within-document quadratic the oracle
    // runs; unordered pair identity via least/greatest ----
    "q193_skipgrams" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
        .localCheckpoint() // both sides of the slot join
      val slots = toks.select(col("doc_id"), col("tok").as("tok_a"),
          explode(array((1 to 3).map(d => col("pos") + lit(d)): _*)).as("pos"))
      slots.join(toks, Seq("doc_id", "pos"))
        .select(least(col("tok_a"), col("tok")).as("w1"),
          greatest(col("tok_a"), col("tok")).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("w1"), col("w2")).limit(50)
    }),

    // ---- dataset card (datasheet) per source: the one-stop corpus summary
    // a release ships with — doc/token counts, English share, exact-dup
    // rate (1 − distinct word-set signatures / docs), and mean length, every
    // rate one surface division over exact counts; one pass builds the
    // per-doc stats, one aggregate folds them ----
    "q194_dataset_card" -> ((s, dir) => {
      val per = t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          coalesce(length(col("text")), lit(0)).as("n_chars"),
          (coalesce(col("lang"), lit("")) === "en").cast("long").as("is_en"),
          md5(array_join(sort_array(array_distinct(TextAnalysis.tokens(col("text")))), " "))
            .as("sig"))
      per.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          sum(col("is_en")).as("n_en"),
          countDistinct(col("sig")).as("n_distinct"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
          (col("n_en").cast("double") / col("n_docs").cast("double")).as("en_share"),
          ((col("n_docs") - col("n_distinct")).cast("double") /
            col("n_docs").cast("double")).as("dup_rate"),
          (col("n_tokens").cast("double") / col("n_docs").cast("double"))
            .as("mean_tokens"))
        .orderBy(col("source"))
    }),

    // ---- deterministic k-fold assignment + balance audit: folds from the
    // md5-derived row hash (the q171 cross-engine device — xxhash folds
    // can't gate) so every engine deals the same folds; the audit shows
    // per-fold size and class balance, the leakage check every CV split
    // needs ----
    "q195_fold_audit" -> ((s, dir) => {
      val folds = t(s, dir, "documents")
        .select(col("doc_id"), (coalesce(col("lang"), lit("")) === "en")
          .cast("long").as("is_en"))
        .withColumn("fold",
          pmod(graft.ops.Sketches.rowHash64(col("doc_id").cast("string")), lit(5))
            .cast("int"))
      folds.groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"), sum(col("is_en")).as("n_en"))
        .withColumn("en_share",
          col("n_en").cast("double") / col("n_docs").cast("double"))
        .orderBy(col("fold"))
    }),

    // ---- golden-record survivorship (MDM merge): duplicate clusters from
    // the exact word-set signature (q22's key), one surviving record per
    // cluster assembled by FIELD-LEVEL rules — min id, longest text (tie →
    // smallest id), modal lang (count argmax, tie → lexicographic) — every
    // rule an order-free aggregate (max/min of struct), no window ----
    "q196_golden_record" -> ((s, dir) => {
      val sig = md5(array_join(sort_array(array_distinct(
        TextAnalysis.tokens(col("text")))), " "))
      val d = t(s, dir, "documents")
        .select(sig.as("sig"), col("doc_id"), col("text"), col("lang"),
          coalesce(length(col("text")), lit(0)).as("len"))
        .localCheckpoint() // two consumers: record rules + lang mode
      val langMode = d.filter(col("lang").isNotNull)
        .groupBy(col("sig"), col("lang")).agg(count(lit(1)).as("n"))
        .groupBy(col("sig"))
        .agg(max(struct(col("n"), col("lang"))).as("m"))
        .select(col("sig"), col("m.lang").as("golden_lang"))
      d.groupBy(col("sig"))
        .agg(count(lit(1)).as("cluster_size"),
          min(col("doc_id")).as("golden_id"),
          max(struct(col("len"), (-col("doc_id")).as("nid"))).as("lt"))
        .join(langMode, Seq("sig"), "left")
        .select(col("sig"), col("cluster_size"), col("golden_id"),
          col("lt.len").as("golden_len"), (-col("lt.nid")).as("longest_id"),
          col("golden_lang"))
        .orderBy(col("sig"))
    }),

    // ---- incremental view maintenance, self-gated: a materialized daily
    // aggregate built from the first 80% of events (by event_id) merged
    // with the delta batch (the remaining 20%) must equal the full
    // recompute CELL-FOR-CELL — counts and exact cents are mergeable
    // states, so the equality booleans are deterministic TRUEs the gate
    // hashes (the q156 one-sided device applied to view maintenance) ----
    "q197_ivm_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .localCheckpoint() // three consumers: base, delta, full recompute
      val cut = 8000L // event_ids are dense from 0; sf-proportional split
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      val merged = agg(ev.filter(col("event_id") < cut))
        .unionByName(agg(ev.filter(col("event_id") >= cut)))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_merged"), sum(col("cents")).as("cents_merged"))
      val full = agg(ev)
        .withColumnRenamed("n", "n_full").withColumnRenamed("cents", "cents_full")
      merged.join(full, Seq("event_type"))
        .select(col("event_type"), col("n_full"), col("cents_full"),
          (col("n_merged") === col("n_full")).as("n_matches"),
          (col("cents_merged") === col("cents_full")).as("cents_match"))
        .orderBy(col("event_type"))
    }),

    // ---- time-decay attribution (the third classic model next to q163
    // last-touch and q188 linear): each purchase credits its last ≤8 prior
    // touches with half-life weights 2⁰…2⁻⁷ (newest heaviest) — powers of
    // two keep the split exact (q168's device): credit = cents·SCALE·w DIV
    // Σw, one floor per (purchase, touch-slot) ----
    "q198_decay_attribution" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(W.unboundedPreceding, -1)
      val S = 1000000L
      // collect the channels of the last 8 prior touches, newest first
      val perPurchase = t(s, dir, "events")
        .withColumn("touches", slice(reverse(collect_list(
          when(col("event_type").isin("view", "click"), col("event_type"))).over(w)),
          1, 8))
        .filter(col("event_type") === "purchase")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        // Σ_{i=1..k} 2^(8−i) = 2^8 − 2^(8−k): closed-form weight total
        .withColumn("k", size(col("touches")))
        .withColumn("wsum", when(col("k") > 0,
          expr("shiftleft(1L, 8) - shiftleft(1L, 8 - k)")).otherwise(lit(0L)))
        .localCheckpoint() // two consumers: channel credits and the none arm
      val credits = perPurchase.filter(col("wsum") > 0)
        .select(col("cents"), col("wsum"), posexplode(col("touches")))
        .withColumn("credit",
          expr("(cents * 1000000 * shiftleft(1L, 7 - pos)) DIV wsum"))
        .groupBy(col("col").as("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit").cast("decimal(38,0)")).as("credit_fixed"))
      val none = perPurchase.filter(col("wsum") === 0)
        .agg(count(lit(1)).as("n_touches"),
          coalesce(sum((col("cents") * lit(S)).cast("decimal(38,0)")),
            lit(0L).cast("decimal(38,0)")).as("credit_fixed"))
        .select(lit("none").as("channel"), col("n_touches"), col("credit_fixed"))
      val agg = credits.unionByName(none)
        .withColumn("credit_dollars",
          col("credit_fixed").cast("double") / lit(100.0 * S))
      // exact (hi, lo) BIGINT surface for the >2^53 credit sum (SURVEY §8.3#1)
      graft.ops.Sketches.surfaceHiLo(agg, "credit_fixed")
        .orderBy(col("channel"))
    }),

    // ---- Rand index between two labelings of the corpus (source vs lang):
    // pair-assignment agreement WITHOUT materializing C(n,2) pairs — the
    // contingency identity RI = (C(n,2) + 2ΣC(n_ij,2) − ΣC(a_i,2) −
    // ΣC(b_j,2)) / C(n,2) over exact integer sums, one surface division ----
    "q199_rand_index" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      // s(n) = n(n−1) = 2·C(n,2): the /2 cancels in the ratio, so no
      // decimal division anywhere (engine division-type rules differ)
      def s2(c: Column): Column = dec(c) * dec(c - 1)
      val d = t(s, dir, "documents")
        .select(col("source").as("a"), coalesce(col("lang"), lit("und")).as("b"))
        .localCheckpoint() // three marginal scans
      val cells = d.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
        .agg(sum(s2(col("n"))).as("sum_cells"))
      val ma = d.groupBy(col("a")).agg(count(lit(1)).as("n"))
        .agg(sum(s2(col("n"))).as("sum_a"))
      val mb = d.groupBy(col("b")).agg(count(lit(1)).as("n"))
        .agg(sum(s2(col("n"))).as("sum_b"))
      val tot = d.agg(count(lit(1)).as("n")).select(s2(col("n")).as("pairs2"),
        col("n").as("n_docs"))
      tot.crossJoin(cells).crossJoin(ma).crossJoin(mb)
        .select(col("n_docs"),
          ((col("pairs2") + lit(2) * col("sum_cells") - col("sum_a") - col("sum_b"))
            .cast("double") / col("pairs2").cast("double")).as("rand_index"))
    }),

    // ---- dbt-style expectation suite: unique / not-null / accepted-values /
    // referential checks over the warehouse expressed as ONE audit table
    // (suite = union of single-row test aggregates; each failure count is
    // exact, the pass flag deterministic) — the declarative data-test layer
    // every pipeline ships with ----
    "q200_expectations" -> ((s, dir) => {
      def test(name: String, failures: org.apache.spark.sql.DataFrame) =
        failures.agg(count(lit(1)).as("n_failures"))
          .select(lit(name).as("test_name"), col("n_failures"),
            (col("n_failures") === 0L).as("passed"))
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val c = t(s, dir, "customer")
      test("orders.o_orderkey unique",
          o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("n")).filter(col("n") > 1))
        .unionByName(test("orders.o_custkey not_null", o.filter(col("o_custkey").isNull)))
        .unionByName(test("orders.o_orderstatus accepted_values",
          o.filter(!col("o_orderstatus").isin("O", "F", "P"))))
        .unionByName(test("lineitem.l_orderkey references orders",
          li.join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")))
        .unionByName(test("orders.o_custkey references customer",
          o.join(c.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")))
        .unionByName(test("lineitem.l_quantity positive",
          li.filter(col("l_quantity").isNull || col("l_quantity") <= 0)))
        .orderBy(col("test_name"))
    }),

    // ---- rolling regression slope (trailing-30-obs trend) per supplier:
    // frame sums n/Σx/Σy/Σxy/Σxx stay exact DECIMAL, the per-row slope is
    // ONE division of exact operands ((nΣxy − ΣxΣy)/(nΣxx − (Σx)²) — the
    // q110 closed form inside a moving frame); emits each supplier's
    // LATEST trend — the live demand-direction signal ----
    "q201_rolling_slope" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_shipdate").cast("date").as("day"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .withColumn("x", datediff(col("day"), lit("1970-01-01").cast("date")).cast("long"))
      val f = W.partitionBy(col("l_suppkey")).orderBy(col("day"))
        .rowsBetween(-29, W.currentRow)
      val scored = daily
        .withColumn("n", count(lit(1)).over(f))
        .withColumn("sx", sum(dec(col("x"))).over(f))
        .withColumn("sy", sum(dec(col("cents"))).over(f))
        .withColumn("sxy", sum(dec(col("x")) * dec(col("cents"))).over(f))
        .withColumn("sxx", sum(dec(col("x")) * dec(col("x"))).over(f))
        .withColumn("num", dec(col("n")) * col("sxy") - col("sx") * col("sy"))
        .withColumn("den", dec(col("n")) * col("sxx") - col("sx") * col("sx"))
        .withColumn("slope_cents_per_day", when(col("den") > 0,
          col("num").cast("double") / col("den").cast("double")))
        .withColumn("__rn", row_number().over(
          W.partitionBy(col("l_suppkey")).orderBy(col("day").desc)))
      scored.filter(col("__rn") === 1)
        .select(col("l_suppkey"), col("day").as("latest_day"),
          col("n").as("n_window"), col("slope_cents_per_day"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- session path mining: the ordered first-3-event-type path of each
    // session (q17's 30-min gap sessionization), counted across sessions —
    // "how do journeys begin". Path identity via array_sort(struct) so the
    // collected order is the (ts, event_id) total order regardless of
    // partitioning (collect_list alone is arrival-ordered = nondet) ----
    "q202_session_paths" -> ((s, dir) => {
      val sess = Relational.sessionize(
        t(s, dir, "events"), col("user_id"), col("ts"), gapSeconds = 1800,
        tieBreak = Seq(col("event_id")))
      val paths = sess
        .groupBy(col("user_id"), col("session_id"))
        .agg(array_join(slice(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), 1, 3), ">").as("path"))
      paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path")).limit(30)
    }),

    // ---- cohort LTV curve: per signup-week cohort (first purchase week) ×
    // week offset, cumulative revenue per cohort member — q87's retention
    // matrix with money instead of presence; the cumulative runs over the
    // (cohort × offset) aggregate (dictionary-sized), per-member LTV is one
    // surface division. Weekly because the events corpus spans ~1 month. ----
    "q203_ltv_curve" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val p = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          (floor(datediff(col("ts").cast("date"), lit("2024-01-01").cast("date"))
            / lit(7))).cast("int").as("week"),
          round(col("value") * 100).cast("long").as("cents"))
      val cohorts = p.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      val cells = p.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(sum(col("cents")).as("cents"), countDistinct(col("user_id")).as("active_users"))
      val sizes = cohorts.groupBy(col("cohort_week"))
        .agg(countDistinct(col("user_id")).as("cohort_size"))
      cells.join(sizes, Seq("cohort_week"))
        .withColumn("cum_cents", sum(col("cents")).over(
          W.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
        .select(col("cohort_week"), col("week_offset"), col("cohort_size"),
          col("active_users"), col("cum_cents"),
          (col("cum_cents").cast("double") / col("cohort_size").cast("double"))
            .as("ltv_cents_per_user"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // ---- safety-stock table: per part, daily-demand mean and EXACT
    // variance via the (n, Σ, Σx²) identity (q62 discipline) with the one
    // sqrt applied to an exact ratio — reorder point = mean + 2σ, each
    // float op a correctly-rounded function of exact integers, so the
    // inventory policy is engine-stable ----
    "q204_safety_stock" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_shipdate").cast("date").as("day"))
        .agg(sum(round(col("l_quantity") * 100).cast("long")).as("qty_c"))
      daily.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_days"),
          sum(dec(col("qty_c"))).as("s"),
          sum(dec(col("qty_c")) * dec(col("qty_c"))).as("q"))
        .filter(col("n_days") >= 2)
        .withColumn("mean_qty", col("s").cast("double") / col("n_days").cast("double"))
        .withColumn("sigma_qty", sqrt(
          (dec(col("n_days")) * col("q") - col("s") * col("s")).cast("double") /
            (dec(col("n_days")) * dec(col("n_days"))).cast("double")))
        .select(col("l_partkey"), col("n_days"), col("mean_qty"), col("sigma_qty"),
          (col("mean_qty") + lit(2.0) * col("sigma_qty")).as("reorder_point"))
        .orderBy(col("l_partkey"))
    }),

    // ---- sentence-level stats: split on terminal punctuation, per doc the
    // sentence count and mean sentence length in words (single division) —
    // the structural-quality signal next to q20's character ratios ----
    "q205_sentences" -> ((s, dir) => {
      val sentences = filter(
        transform(split(coalesce(col("text"), lit("")), "[.!?]+"), x => trim(x)),
        x => x =!= "")
      t(s, dir, "documents")
        .select(col("doc_id"), sentences.as("sents"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .select(col("doc_id"), size(col("sents")).as("n_sentences"), col("n_tokens"),
          when(size(col("sents")) > 0,
            col("n_tokens").cast("double") / size(col("sents")).cast("double"))
            .as("mean_sentence_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ---- CUSUM drift detector per supplier: S_t = max(0, S_{t−1} + x_t − k)
    // over daily revenue with reference k = the supplier's integer mean —
    // computed via the q153 closed form (S_t = P_t − min(0, min prefix)),
    // NO stateful scan; alarms = days the statistic clears 2k. Exact
    // integers end to end — the sequential-looking detector is two windows ----
    "q206_cusum" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"), col("l_shipdate").cast("date").as("day"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val withK = daily
        .withColumn("stot", sum(col("cents")).over(W.partitionBy(col("l_suppkey"))))
        .withColumn("nd", count(lit(1)).over(W.partitionBy(col("l_suppkey"))))
        .withColumn("k", expr("stot DIV nd")) // integer mean: engine-stable floor
      val w = W.partitionBy(col("l_suppkey")).orderBy(col("day"))
        .rowsBetween(W.unboundedPreceding, 0)
      withK
        .withColumn("p", sum(col("cents") - col("k")).over(w))
        .withColumn("cusum", col("p") - least(lit(0L), min(col("p")).over(w)))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_days"), max(col("k")).as("k_cents"),
          sum(when(col("cusum") > col("k") * 2, 1L).otherwise(0L)).as("n_alarms"),
          max(col("cusum")).as("max_cusum"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- forward fill with TTL (staleness expiry): the q101 grid fill
    // where a carried observation DIES after 3 days — the sensor-staleness
    // rule plain LOCF gets wrong; carried-from distance decides both the
    // value and the freshness flag ----
    "q207_ttl_fill" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val grid = Relational.fillDateGrid(daily, "user_id", "day")
        .withColumn("p", datediff(col("day"), lit("1970-01-01").cast("date")))
      val wb = W.partitionBy(col("user_id")).orderBy(col("p"))
        .rowsBetween(W.unboundedPreceding, 0)
      val obs = when(col("cents").isNotNull, struct(col("p").as("op"), col("cents").as("v")))
      grid
        .withColumn("lastobs", last(obs, ignoreNulls = true).over(wb))
        .withColumn("age", col("p") - col("lastobs.op"))
        .select(col("user_id"), col("day"),
          when(col("age") <= 3, col("lastobs.v")).as("filled_cents"),
          (col("age") <= 3 && col("cents").isNull).as("carried"))
        .orderBy(col("user_id"), col("day"))
    }),

    // ---- accumulating-snapshot fact: one wide row per order carrying its
    // lifecycle milestones (first/last ship, line count, exact day spans) —
    // the warehouse pattern for process-tracking facts; one aggregate, no
    // window ----
    "q208_order_lifecycle" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("order_date"),
          col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          min(col("l_shipdate").cast("date")).as("first_ship"),
          max(col("l_shipdate").cast("date")).as("last_ship"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .withColumn("days_to_first", datediff(col("first_ship"), col("order_date")))
        .withColumn("ship_span_days", datediff(col("last_ship"), col("first_ship")))
        .orderBy(col("o_orderkey"))
    }),

    // ---- idle-gap extraction (the complement of q124's interval union):
    // per user, the gaps BETWEEN merged activity sessions — gap = lag-based
    // silence longer than the session gap itself; emits each gap with exact
    // second duration plus per-user totals — the "when are they away"
    // signal ----
    "q209_idle_gaps" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gaps = t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .filter(col("prev_ts").isNotNull)
        .withColumn("gap_sec", unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")))
        .filter(col("gap_sec") >= 1800) // silences longer than the session gap
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap_sec")).as("idle_sec_total"),
          max(col("gap_sec")).as("longest_gap_sec"))
        .orderBy(col("user_id"))
    }),

    // ---- weekday seasonality indices: per day-of-week, revenue share and
    // the seasonal index 7·dow/total — both single divisions over exact
    // integer sums; the demand-planning profile every forecast consumes ----
    "q210_seasonality" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      t(s, dir, "lineitem")
        .groupBy(dayofweek(col("l_shipdate")).as("dow"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .withColumn("total", sum(col("cents")).over(W.partitionBy(lit(1))))
        .select(col("dow"), col("n_lines"), col("cents"),
          (col("cents").cast("double") / col("total").cast("double")).as("share"),
          ((col("cents") * lit(7L)).cast("double") / col("total").cast("double"))
            .as("seasonal_index"))
        .orderBy(col("dow"))
    }),

    // ---- nation trade-flow matrix: supplier nation × customer nation
    // revenue — the two-sided dimension join (lineitem → supplier AND
    // through orders → customer), both dims broadcast; the OLAP matrix
    // behind "who supplies whom" ----
    "q211_trade_matrix" -> ((s, dir) => {
      val n = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n.select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("cnk"))
        .groupBy(col("supp_nation"), col("cust_nation"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .orderBy(col("supp_nation"), col("cust_nation"))
    }),

    // ---- DataSource V2 connector under the gate: the graft-range synthetic
    // source (custom TableProvider with filter + column pushdown, sliced
    // input partitions) scanned with range predicates that the source
    // absorbs into its generated bounds — the full connector read path,
    // mirrored by DuckDB's range() (SourceV2Spec asserts the pushdown
    // reached the scan) ----
    "q212_datasource_v2" -> ((s, dir) => {
      s.read.format("graft.sources.RangeSource")
        .option("n", "100000").option("slices", "8").load()
        .filter(col("id") >= 1000 && col("id") < 50000)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("square")).as("sum_square"),
          min(col("label")).as("first_label"))
        .orderBy(col("bucket"))
    }),

    // ---- frequent 3-itemsets (q151's pair mining extended one level): the
    // distinct brands of each order exploded to C(w,3) ordered triples —
    // fanout bounded by basket WIDTH (≤7 brands ⇒ ≤35 triples/basket),
    // never by item popularity, the property that makes basket mining
    // feasible at 100 TB; support = one surface division ----
    "q213_itemsets_3" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand")).distinct()
        .localCheckpoint() // three self-join arms + the basket count
      val tot = baskets.select(countDistinct(col("l_orderkey")).as("n_baskets"))
      val triples = baskets.as("a")
        .join(baskets.as("b"), col("a.l_orderkey") === col("b.l_orderkey")
          && col("a.p_brand") < col("b.p_brand"))
        .join(baskets.as("c"), col("a.l_orderkey") === col("c.l_orderkey")
          && col("b.p_brand") < col("c.p_brand"))
        .select(col("a.p_brand").as("b1"), col("b.p_brand").as("b2"),
          col("c.p_brand").as("b3"))
      triples.groupBy(col("b1"), col("b2"), col("b3"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 20)
        .crossJoin(broadcast(tot)) // scalar total rides broadcast, no action
        .withColumn("support",
          col("n_orders").cast("double") / col("n_baskets").cast("double"))
        .drop("n_baskets")
        .orderBy(col("n_orders").desc, col("b1"), col("b2"), col("b3"))
    }),

    // ---- engagement grid: customers cross-binned by spend quartile ×
    // order-count quartile (two independent distributed NTILEs — the q155
    // device twice), cell counts + share — the 2-D segmentation behind
    // migration matrices; no single-reducer window anywhere ----
    "q214_engagement_grid" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val per = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val binned = Seq(("cents", "spend_q"), ("n_orders", "freq_q"))
        .foldLeft(per) { case (df, (m, out)) =>
          Relational.globalNtile(df, m, "o_custkey", 4, out)
        }
      binned.groupBy(col("spend_q"), col("freq_q"))
        .agg(count(lit(1)).as("n_customers"))
        .withColumn("share", col("n_customers").cast("double") /
          sum(col("n_customers")).over(W.partitionBy(lit(1))).cast("double"))
        .orderBy(col("spend_q"), col("freq_q"))
    }),

    // ---- path-to-purchase length: events each user saw BEFORE their first
    // purchase, as a distribution (exposure count histogram) — the
    // journey-length read on top of q89's funnel; min-ts argmin via
    // aggregate, one shuffle per level ----
    "q215_path_length" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .localCheckpoint() // first-purchase feed + the pre-purchase count scan
      val firstBuy = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"))).as("fb"))
        .select(col("user_id"), col("fb.ts").as("buy_ts"), col("fb.event_id").as("buy_id"))
      val nBefore = ev.join(firstBuy, Seq("user_id"))
        .filter(col("ts") < col("buy_ts") ||
          (col("ts") === col("buy_ts") && col("event_id") < col("buy_id")))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_before"))
      firstBuy.join(nBefore, Seq("user_id"), "left")
        .select(coalesce(col("n_before"), lit(0L)).as("n_before"))
        .groupBy(col("n_before")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_before"))
    }),

    // ---- cross-source duplication matrix: which sources share EXACT
    // duplicate documents (word-set signature groups spanning sources) —
    // the contamination ledger between corpus feeds; per-signature source
    // pairs are bounded by the sources-per-group (≤20), never group size² ----
    "q216_source_dup_matrix" -> ((s, dir) => {
      val sig = md5(array_join(sort_array(array_distinct(
        TextAnalysis.tokens(col("text")))), " "))
      val srcs = t(s, dir, "documents")
        .select(sig.as("sig"), col("source")).distinct()
      srcs.as("a").join(srcs.as("b"),
          col("a.sig") === col("b.sig") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared_sigs"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ---- day-over-day growth-rate histogram WITHOUT a division: the ratio
    // cents/prev lands in a bin iff cents·100 clears edge·prev — integer
    // cross-multiplication replaces the float ratio entirely, so bin
    // membership is exact at any magnitude (the compare-fractions-by-
    // cross-product device, applied to binning) ----
    "q217_growth_histogram" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").cast("date").as("day"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val edges = Seq(50L, 80L, 95L, 105L, 125L, 200L) // ratio·100 bin edges
      val withPrev = daily
        .withColumn("prev", lag(col("cents"), 1).over(W.orderBy(col("day"))))
        .filter(col("prev").isNotNull && col("prev") > 0)
      val binIdx = edges.map(e =>
        when(col("cents") * lit(100L) >= lit(e) * col("prev"), 1).otherwise(0))
        .reduce(_ + _)
      withPrev.withColumn("bin", binIdx)
        .groupBy(col("bin")).agg(count(lit(1)).as("n_days"))
        .orderBy(col("bin"))
    }),

    // ---- Spearman rank correlation between two centrality orderings
    // (integer PageRank vs symmetric degree) on the co-supply graph:
    // ranks from the bucketed GLOBAL row_number device (no single-reducer
    // window), ρ = 1 − 6Σd²/(n(n²−1)) with Σd² an exact DECIMAL — "do the
    // two centralities agree" as one engine-stable number ----
    "q218_rank_correlation" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val e = coSupplyEdges(s, dir).localCheckpoint()
      val pr = Graph.pageRankIntFixed(e, iters = 5)
        .withColumnRenamed("p_partkey", "node")
      val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val ra = Relational.globalRank(pr, "rank", "node", "ra")
        .select(col("node"), col("ra"))
      val rb = Relational.globalRank(deg, "deg", "node", "rb")
        .select(col("node"), col("rb"))
      ra.join(rb, Seq("node"))
        .agg(count(lit(1)).as("n"),
          sum((dec(col("ra")) - dec(col("rb"))) * (dec(col("ra")) - dec(col("rb"))))
            .as("sd2"))
        .select(col("n"),
          (lit(1.0) - (lit(6).cast("decimal(38,0)") * col("sd2")).cast("double") /
            (dec(col("n")) * (dec(col("n")) * dec(col("n")) - lit(1).cast("decimal(38,0)")))
              .cast("double")).as("spearman_rho"))
    }),

    // ---- WEIGHTED integer PageRank: the co-supply graph with edge weight =
    // number of shared urgent orders (pair multiplicity) — mass flows
    // proportionally to weight via (rank·w) DIV Σw_out, every step an exact
    // rational floor (q103's discipline extended to weighted centrality);
    // oracle = unrolled weighted rounds ----
    "q219_weighted_pagerank" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      val op = t(s, dir, "lineitem")
        .join(urgent, Seq("l_orderkey"), "left_semi")
        .select(col("l_orderkey"), col("l_partkey"))
        .distinct()
      val we = op.as("a")
        .join(op.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
        .agg(count(lit(1)).as("w"))
      Graph.pageRankWeightedIntFixed(we, iters = 5)
        .select(col("node").as("p_partkey"), col("rank"))
        .orderBy(col("p_partkey"))
    }),

    // ---- one-token-apart near-dups: document pairs whose distinct token
    // SETS differ by exactly one token (A ⊂ B, |B\A| = 1) — the FastSS
    // deletion-neighborhood device lifted from characters (q174) to tokens:
    // the subset side joins its FULL set hash against the superset side's
    // n single-token-deletion hashes, O(Σ set size) keys, no pair scan ----
    "q220_one_token_diff" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"),
          sort_array(array_distinct(TextAnalysis.tokens(col("text")))).as("ts"))
        .localCheckpoint() // both join sides derive from it
      val small = base.select(col("doc_id").as("id_small"), size(col("ts")).as("n_small"),
        md5(array_join(col("ts"), " ")).as("key"))
      val big = base.select(col("doc_id").as("id_big"),
        explode(expr(
          "CASE WHEN size(ts) = 0 THEN array() " +
            "ELSE transform(sequence(1, size(ts)), i -> md5(array_join(" +
            "concat(slice(ts, 1, i - 1), slice(ts, i + 1, size(ts) - i)), ' '))) END"))
          .as("key"))
      small.join(big, Seq("key"))
        .filter(col("id_small") =!= col("id_big"))
        .select(col("id_small"), col("id_big"), col("n_small"))
        .distinct()
        .orderBy(col("id_small"), col("id_big"))
    }),

    // ---- DQ conservation law under the gate: the reference's rule-engine
    // split must neither lose nor duplicate rows — per return flag,
    // clean + quarantined == total as a deterministic boolean the driver
    // hashes (q15 gates the quarantine CONTENT; this gates the split's
    // row-conservation INVARIANT — the property a refactor would break
    // silently) ----
    "q221_dq_conservation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").localCheckpoint() // split + total scans
      val (clean, quarantined) = RuleEngine.split(li, lineitemRules)
      val byFlag = (df: org.apache.spark.sql.DataFrame, name: String) =>
        df.groupBy(upper(trim(col("l_returnflag"))).as("flag"))
          .agg(count(lit(1)).as(name))
      byFlag(li, "n_total")
        .join(byFlag(clean, "n_clean"), Seq("flag"), "left")
        .join(byFlag(quarantined, "n_quarantined"), Seq("flag"), "left")
        .select(col("flag"), col("n_total"),
          coalesce(col("n_clean"), lit(0L)).as("n_clean"),
          coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"))
        .withColumn("conserved",
          col("n_clean") + col("n_quarantined") === col("n_total"))
        .orderBy(col("flag"))
    }),

    // ---- within-basket brand share: each line's share of its order total
    // held in FIXED POINT (cents·10⁶ DIV order_total — floor per line, so
    // the per-brand mean is a sum of exact integers divided once), the
    // q135/q188 discipline applied to composition metrics: a naive
    // avg(cents/total) would sum doubles in partition order ----
    "q222_basket_share" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val agg = li.withColumn("order_total", sum(col("cents")).over(
          W.partitionBy(col("l_orderkey"))))
        .withColumn("share_fixed", expr("(cents * 1000000) DIV order_total"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("share_fixed").cast("decimal(38,0)")).as("share_fixed_sum"))
        .withColumn("mean_share",
          col("share_fixed_sum").cast("double") /
            (col("n_lines").cast("decimal(38,0)")
              * lit(1000000L).cast("decimal(38,0)")).cast("double"))
      // exact (hi, lo) BIGINT surface for the >2^53 share sum (SURVEY §8.3#1)
      graft.ops.Sketches.surfaceHiLo(agg, "share_fixed_sum")
        .orderBy(col("p_brand"))
    }),

    // ---- PII redaction: emails, bare URLs, and long digit runs masked with
    // ---- token-budget corpus sharding: pack documents (in doc_id order)
    // into ~20k-token training shards — shard id = strict-prefix token
    // count DIV budget via the bucketed global-prefix device (no single-
    // reducer ordered window; this is the pretraining shard-writer's
    // assignment step, and packing is deterministic in the doc_id total
    // order whatever the partitioning). Emits per-shard doc/token counts
    // and the id range each shard covers. ----
    "q223_token_shards" -> ((s, dir) => {
      val budget = 20000L
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      Relational.globalPrefixSum(d, "doc_id", "doc_id", "n_tokens", "cum_before",
          includeCurrent = false)
        .withColumn("shard_id", expr(s"cum_before DIV $budget"))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard_id"))
    }),

    // ---- per-brand two-feature OLS (price ~ quantity + size) from exact
    // integer sufficient statistics: the five centered second moments
    // n·Σxy − Σx·Σy accumulate in DECIMAL(38,0) (order-free, partition-
    // safe; bound documented at ~1e11 rows/group for these domains), then
    // Cramer's rule runs in IEEE doubles over the exact moments — the
    // distributed-ML pattern where only sufficient statistics shuffle,
    // never rows ----
    "q224_group_ols" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
          col("p_size"))), col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"),
          round(col("l_quantity")).cast("long").as("x1"),
          col("p_size").cast("long").as("x2"),
          round(col("l_extendedprice") * 100).cast("long").as("y"))
      val dec = (c: Column) => c.cast(d0)
      val m = li.groupBy(col("p_brand")).agg(
        count(lit(1)).cast(d0).as("n"),
        sum(dec(col("x1"))).as("s1"), sum(dec(col("x2"))).as("s2"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("x1")) * dec(col("x1"))).as("s11"),
        sum(dec(col("x2")) * dec(col("x2"))).as("s22"),
        sum(dec(col("x1")) * dec(col("x2"))).as("s12"),
        sum(dec(col("x1")) * dec(col("y"))).as("s1y"),
        sum(dec(col("x2")) * dec(col("y"))).as("s2y"))
      val c11 = (col("n") * col("s11") - col("s1") * col("s1")).cast("double")
      val c22 = (col("n") * col("s22") - col("s2") * col("s2")).cast("double")
      val c12 = (col("n") * col("s12") - col("s1") * col("s2")).cast("double")
      val c1y = (col("n") * col("s1y") - col("s1") * col("sy")).cast("double")
      val c2y = (col("n") * col("s2y") - col("s2") * col("sy")).cast("double")
      m.withColumn("det", c11 * c22 - c12 * c12)
        .withColumn("beta_qty", (c1y * c22 - c2y * c12) / col("det"))
        .withColumn("beta_size", (c2y * c11 - c1y * c12) / col("det"))
        .withColumn("intercept",
          (col("sy").cast("double") - col("beta_qty") * col("s1").cast("double")
            - col("beta_size") * col("s2").cast("double")) / col("n").cast("double"))
        .select(col("p_brand"), col("n").cast("long").as("n_rows"),
          col("beta_qty"), col("beta_size"), col("intercept"))
        .orderBy(col("p_brand"))
    }),

    // ---- rolling 7-day median of daily revenue: the trailing window is a
    // SEVEN-element array per row, sorted row-locally, lower median taken —
    // exact integers, no quantile machinery at window size 7. The ordered
    // frame runs over the DAY dictionary (bounded by the calendar span,
    // never by data volume). ----
    "q225_rolling_median" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("day"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("day_cents"))
      val w = W.orderBy(col("day")).rowsBetween(-6, 0)
      daily
        .withColumn("arr", sort_array(collect_list(col("day_cents")).over(w)))
        .select(col("day"), col("day_cents"),
          expr("element_at(arr, CAST((size(arr) + 1) DIV 2 AS INT))")
            .as("med7_cents"))
        .orderBy(col("day"))
    }),

    // ---- BPE merge training (4 rounds) over the word-frequency
    // dictionary: the tokenizer-training core — per round, one vocabulary-
    // sized pair-count shuffle, a scalar argmax, one broadcast best pair,
    // one row-local fold rewrite; gated against a 4-round unrolled CTE
    // oracle whose list_reduce mirrors the operator's merge fold ----
    "q226_bpe_merges" -> ((s, dir) => {
      val vocab = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .select(graft.ops.Bpe.charSeq(col("token")).as("seq"), col("cnt"))
      graft.ops.Bpe.trainMerges(vocab, "seq", "cnt", rounds = 4)
        .orderBy(col("round"))
    }),

    // ---- blocked record-linkage scoring (Fellegi–Sunter shape with
    // deterministic integer weights): candidate pairs come ONLY from
    // equi-join blocks on (size, container) — block-bounded quadratic, the
    // standard linkage trade — scored by exact field agreements, surfaced
    // as the score distribution of plausible matches ----
    "q227_record_linkage" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          split(col("p_type"), " ").getItem(0).as("type_head"),
          split(col("p_name"), " ").getItem(0).as("name_head"),
          col("p_size"),
          round(col("p_retailprice") * 100).cast("long").as("price_c"))
        .localCheckpoint() // both sides of the block self-join
      val l = p.select(col("p_partkey").as("k1"), col("p_brand").as("br1"),
        col("p_type").as("ty1"), col("name_head").as("n1"),
        col("p_size").as("sz"), col("type_head").as("th"), col("price_c").as("pc1"))
      val r = p.select(col("p_partkey").as("k2"), col("p_brand").as("br2"),
        col("p_type").as("ty2"), col("name_head").as("n2"),
        col("p_size").as("sz"), col("type_head").as("th"), col("price_c").as("pc2"))
      l.join(r, Seq("sz", "th")).filter(col("k1") < col("k2"))
        .withColumn("score",
          when(col("br1") === col("br2"), 40).otherwise(0) +
            when(col("ty1") === col("ty2"), 30).otherwise(0) +
            when(col("n1") === col("n2"), 20).otherwise(0) +
            when(abs(col("pc1") - col("pc2")) <= 1000, 10).otherwise(0))
        .filter(col("score") >= 50)
        .groupBy(col("score")).agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("score"))
    }),

    // ---- train/eval split leakage audit: exact-duplicate clusters (word-
    // set signature, q22's key) crossed with the deterministic fold deal
    // (q195's md5 device) — a cluster spanning >1 fold leaks eval content
    // into training; the headline numbers every CV/pretraining split needs
    // before any metric is trusted. Two shuffles, both key-collapsing. ----
    "q228_split_leakage" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(graft.ops.Dedup.wordSetSignature(col("text")).as("sig"), col("doc_id"))
        .withColumn("fold",
          pmod(graft.ops.Sketches.rowHash64(col("doc_id").cast("string")), lit(5))
            .cast("int"))
      d.groupBy(col("sig"))
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("fold")).as("n_folds"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_multi_doc"),
          sum(when(col("n_folds") > 1, 1L).otherwise(0L)).as("n_leaking"),
          sum(when(col("n_folds") > 1, col("n_docs")).otherwise(0L))
            .as("docs_in_leaking"))
    }),

    // ---- embedding-column quality audit: per label, counts of NULL/empty,
    // zero, denormal-tiny, and oversized vectors plus the dim range — the
    // pre-index sanity gate every vector pipeline runs. The squared norm is
    // a row-local LEFT FOLD in double (deterministic operation order, so
    // both engines produce bit-identical sums — a commutative reduce would
    // not gate). ----
    "q229_embedding_audit" -> ((s, dir) => {
      val normSq = expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE)," +
          " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
      t(s, dir, "embeddings")
        .select(col("label"), col("embedding"),
          size(col("embedding")).as("dim"), normSq.as("nsq"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("embedding").isNull || size(col("embedding")) === 0, 1L)
            .otherwise(0L)).as("n_null_or_empty"),
          sum(when(isnan(col("nsq")), 1L).otherwise(0L)).as("n_nan"),
          sum(when(col("nsq") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("nsq") > 0.0 && col("nsq") < 1e-6, 1L).otherwise(0L))
            .as("n_tiny"),
          sum(when(col("nsq") > 1e6, 1L).otherwise(0L)).as("n_huge"),
          min(col("dim")).as("dim_min"), max(col("dim")).as("dim_max"))
        .orderBy(col("label"))
    }),

    // ---- edit-distance-≤2 neighbor pairs via 2-deletion FastSS
    // neighborhoods (q174's device at k = 2): O(n·L²) candidate keys vs
    // the oracle's O(n²) cross join; banded levenshtein verify. Supplier
    // names keep the output density sane — serial-number-style keys are
    // exactly where d≤2 blocking stress-tests collision handling ----
    "q230_edit2_neighbors" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))
      graft.ops.Dedup.editDistancePairs(sup, "s_suppkey", "s_name", k = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- filtered vector search: top-5 nearest SAME-LABEL vectors per
    // query — metadata-constrained similarity (pre-filter form: the
    // predicate joins before ranking, so k survivors are guaranteed where
    // post-filtering an unfiltered top-k comes up short) ----
    "q231_filtered_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.filteredTopK(emb, emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", "label", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- Matryoshka prefix-dim audit: overlap between the 64-dim top-10
    // and the first-16-dims top-10 per query — the exact measurement behind
    // "can we serve the truncated index"; both rankings off one scored
    // join, exact integer dots ----
    "q232_matryoshka_audit" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.prefixDimAudit(emb, emb.filter(col("vec_id") < 50),
          "vec_id", "embedding", prefixDims = 16, k = 10)
        .orderBy(col("query_id"))
    }),

    // ---- SimHash near-dups at hamming ≤ 3 via 4-band pigeonhole blocking
    // (the Manku/Google web-dedup scheme): O(4n) band keys vs the oracle's
    // O(n²) cross join, recall 1.0 by pigeonhole, exact bit_count verify ----
    "q233_simhash_neardup" -> ((s, dir) => {
      graft.ops.Dedup
        .simHashNearDups(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- greedy max-coverage corpus selection (5 picks): which documents
    // cover the most not-yet-covered vocabulary — the submodular data-
    // selection baseline, gated against a 5-round unrolled CTE oracle;
    // per round one anti-join + count + scalar argmax, never a pairwise
    // comparison ----
    "q234_coverage_select" -> ((s, dir) => {
      val dt = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      Relational.greedyCoverage(dt, "doc_id", "token", rounds = 5)
        .orderBy(col("round"))
    }),

    // ---- discrete-time survival (hazard) table: per lifetime-week w,
    // users still at risk, users ending exactly at w, hazard = ratio —
    // exact integers off one per-user min/max pass; the risk-set suffix
    // sum runs over the WEEK dictionary (calendar-bounded frame) ----
    "q235_hazard_table" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val life = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(expr("datediff(max(CAST(ts AS DATE)), min(CAST(ts AS DATE))) DIV 7")
          .as("life_w"))
      val perW = life.groupBy(col("life_w")).agg(count(lit(1)).as("n_churned"))
      val wOrd = W.orderBy(col("life_w"))
        .rowsBetween(W.unboundedPreceding, -1)
      val total = W.partitionBy(lit(1))
      perW
        .withColumn("n_at_risk",
          sum(col("n_churned")).over(total) -
            coalesce(sum(col("n_churned")).over(wOrd), lit(0L)))
        .withColumn("hazard",
          col("n_churned").cast("double") / col("n_at_risk").cast("double"))
        .select(col("life_w"), col("n_at_risk"), col("n_churned"), col("hazard"))
        .orderBy(col("life_w"))
    }),

    // ---- rare-term entity-resolution candidates: docs sharing a RARE
    // token (df ≤ 10% of corpus — scale-invariant rarity; the fixture corpus has a ~5%-df tail), scored by
    // fixed-point IDF sum over the shared rare terms. Pair volume is
    // Σ C(df,2) over rare tokens only — the classic rare-term blocking
    // bound, never all-pairs ----
    "q236_rare_token_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tok = docs
        .select(col("doc_id"),
          explode(array_distinct(TextAnalysis.tokens(col("text")))).as("token"))
        .localCheckpoint() // feeds df counts and the inverted index
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val rare = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") * lit(10L) <= col("n_docs"))
        .withColumn("idf_fixed", expr("(n_docs * 1000000) DIV df"))
        .select(col("token"), col("idf_fixed"))
      val inv = tok.join(rare, Seq("token"))
      inv.as("a")
        .join(inv.as("b"),
          col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_shared_rare"),
          sum(col("a.idf_fixed")).as("score_fixed"))
        .orderBy(col("score_fixed").desc, col("id_a"), col("id_b"))
        .limit(50)
    }),

    // ---- content blocklist tagging: per category, how many documents
    // match its term list — the policy pre-filter pass every corpus scrub
    // runs; codegen'd rlike over word-boundary alternations (ASCII-safe in
    // both regex engines), one row-local scan for all categories ----
    "q237_blocklist_tags" -> ((s, dir) => {
      val cats = Seq(
        "perf_terms" -> "\\b(slow|fast)\\b",
        "exec_terms" -> "\\b(hash|merge|sort)\\b",
        "stream_terms" -> "\\b(stream|window|batch)\\b")
      val d = t(s, dir, "documents")
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val tagged = cats.map { case (name, re) =>
        d.filter(col("text").rlike(re))
          .agg(count(lit(1)).as("n_matched"))
          .select(lit(name).as("category"), col("n_matched"))
      }.reduce(_ unionByName _)
      tagged.crossJoin(broadcast(nDocs))
        .withColumn("share",
          col("n_matched").cast("double") / col("n_docs").cast("double"))
        .select(col("category"), col("n_matched"), col("share"))
        .orderBy(col("category"))
    }),

    // ---- TPC-H Q8 shape (national market share): 8-relation snowflake —
    // fact filtered by a broadcast part dim, two nation role-playing
    // aliases, region gate on the customer side, supplier-nation share per
    // order year. Volume = cents × (100 − discount_bp) exact integers,
    // DECIMAL accumulators, ONE double division per year at the surface ----
    "q238_market_share" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("vol"))
      val part = t(s, dir, "part").select(col("p_partkey"), col("p_type"))
        .filter(col("p_type") === "ECONOMY")
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n1 = t(s, dir, "nation").select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val reg = t(s, dir, "region").filter(col("r_name") === "AMERICA")
        .select(col("r_regionkey"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("supp_nation") === "NATION_3", col("vol")).otherwise(0L)
            .cast(d0)).as("focal"),
          sum(col("vol").cast(d0)).as("total"))
        .select(col("o_year"), col("n_lines"),
          (col("focal").cast("double") / col("total").cast("double")).as("mkt_share"))
        .orderBy(col("o_year"))
    }),

    // ---- weak-supervision labeling-function diagnostics (the Snorkel-
    // style panel): three deterministic LFs over the corpus; per LF its
    // labeled count, per LF pair overlap/agreement/conflict — ONE
    // aggregate pass over the label frame, stacked to rows ----
    "q239_label_model_diag" -> ((s, dir) => {
      val lab = t(s, dir, "documents").select(
        expr("CASE WHEN text LIKE '%slow%' THEN 0 WHEN text LIKE '%fast%' THEN 1 END")
          .as("lf1"),
        expr("CASE WHEN n_chars >= 200 THEN 1 WHEN n_chars < 50 THEN 0 END").as("lf2"),
        expr("CASE WHEN lang = 'en' THEN 1 WHEN lang IS NOT NULL THEN 0 END").as("lf3"))
      def both(a: String, b: String) =
        sum(when(col(a).isNotNull && col(b).isNotNull, 1L).otherwise(0L))
      def agree(a: String, b: String) =
        sum(when(col(a).isNotNull && col(b).isNotNull && col(a) === col(b), 1L)
          .otherwise(0L))
      val m = lab.agg(
        sum(when(col("lf1").isNotNull, 1L).otherwise(0L)).as("n1"),
        sum(when(col("lf2").isNotNull, 1L).otherwise(0L)).as("n2"),
        sum(when(col("lf3").isNotNull, 1L).otherwise(0L)).as("n3"),
        both("lf1", "lf2").as("b12"), agree("lf1", "lf2").as("a12"),
        both("lf1", "lf3").as("b13"), agree("lf1", "lf3").as("a13"),
        both("lf2", "lf3").as("b23"), agree("lf2", "lf3").as("a23"))
      m.selectExpr(
        """stack(6,
          |  'lf1', 'lf1', n1, n1, 0L,
          |  'lf2', 'lf2', n2, n2, 0L,
          |  'lf3', 'lf3', n3, n3, 0L,
          |  'lf1', 'lf2', b12, a12, b12 - a12,
          |  'lf1', 'lf3', b13, a13, b13 - a13,
          |  'lf2', 'lf3', b23, a23, b23 - a23)
          |AS (lf_a, lf_b, n_both, n_agree, n_conflict)""".stripMargin)
        .orderBy(col("lf_a"), col("lf_b"))
    }),

    // ---- time-weighted average balance per user (the step-function
    // integral): running cents balance × seconds-to-next-event, one
    // per-user ordered window, exact integer weights, one surface
    // division; single-event users (zero observed span) drop out ----
    "q240_time_weighted_balance" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("bal", sum(col("cents")).over(
          w.rowsBetween(W.unboundedPreceding, 0)))
        .withColumn("next_ts", lead(col("ts"), 1).over(w))
        .filter(col("next_ts").isNotNull)
        // exact microseconds (unix_micros ↔ DuckDB epoch_us) — second-level
        // casts would truncate the sub-second parts differently per engine
        .withColumn("dur_us",
          expr("unix_micros(next_ts) - unix_micros(ts)"))
      ev.groupBy(col("user_id"))
        .agg(sum(col("dur_us")).as("total_us"),
          sum((col("bal") * col("dur_us")).cast(DecimalType(38, 0))).as("wsum"))
        .filter(col("total_us") > 0)
        .select(col("user_id"), col("total_us"),
          (col("wsum").cast("double") / col("total_us").cast("double"))
            .as("twa_cents"))
        .orderBy(col("user_id"))
    }),

    // ---- open-order backlog by day (sweep line): +1 at order date, −1
    // the day after the order's last shipment — running sum over the DAY
    // dictionary (calendar-bounded frame), never an interval self-join ----
    "q241_order_backlog" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val spans = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(col("l_shipdate").cast("date")).as("close_day"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate").cast("date").as("open_day")),
          col("l_orderkey") === col("o_orderkey"))
      val deltas = spans.select(col("open_day").as("day"), lit(1L).as("d"))
        .unionAll(spans.select(date_add(col("close_day"), 1).as("day"),
          lit(-1L).as("d")))
        .groupBy(col("day")).agg(sum(col("d")).as("delta"))
      deltas
        .withColumn("open_orders", sum(col("delta")).over(
          W.orderBy(col("day")).rowsBetween(W.unboundedPreceding, 0)))
        .select(col("day"), col("delta"), col("open_orders"))
        .orderBy(col("day"))
    }),

    // ---- add-one-smoothed bigram language model table: top-3 next tokens
    // per context word with Laplace probability in fixed point —
    // (c+1)·10⁶ DIV (ctx_total + V), all exact integers; the n-gram-LM
    // scoring table a perplexity-based quality filter needs. Pair volume
    // is corpus token count; the rank window partitions by context word ----
    "q242_bigram_lm" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("s"))
        .filter(size(col("s")) >= 2)
      val bi = toks.select(explode(expr(
          "transform(sequence(1, size(s) - 1)," +
            " i -> struct(element_at(s, i) AS w1, element_at(s, i + 1) AS w2))"))
          .as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // feeds context totals AND the ranked output
      val ctx = bi.groupBy(col("w1")).agg(sum(col("c")).as("ctx_total"))
      val v = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).as("vsize"))
      bi.join(ctx, Seq("w1")).crossJoin(broadcast(v))
        .withColumn("prob_fixed", expr("((c + 1) * 1000000) DIV (ctx_total + vsize)"))
        .withColumn("rk", row_number().over(
          W.partitionBy(col("w1")).orderBy(col("c").desc, col("w2"))))
        .filter(col("rk") <= 3)
        .select(col("w1"), col("w2"), col("c"), col("prob_fixed"), col("rk"))
        .orderBy(col("w1"), col("rk"))
    }),

    // ---- PII scrub coverage by source: share of documents the redaction
    // pass actually touches — the audit number a scrub step reports; one
    // row-local redact + compare, one key-collapsing aggregate ----
    "q243_pii_hit_rate" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          // NULL text redacts to NULL: that's a non-hit, not a NULL vote
          coalesce((TextAnalysis.redactPII(col("text")) =!= col("text"))
            .cast("long"), lit(0L)).as("hit"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("hit")).as("n_redacted"))
        .withColumn("hit_share",
          col("n_redacted").cast("double") / col("n_docs").cast("double"))
        .orderBy(col("source"))
    }),

    // ---- return-rate p-chart (statistical process control): weekly
    // return share against 3σ binomial limits around the overall rate —
    // n/returns stay exact integers, p̄/UCL/LCL are the SAME double
    // expression on both engines, the out-of-control flag follows from
    // those identical doubles ----
    "q244_return_pchart" -> ((s, dir) => {
      val wk = t(s, dir, "lineitem")
        .select(date_trunc("week", col("l_shipdate")).cast("date").as("week"),
          (col("l_returnflag") === "R").cast("long").as("ret"))
        .groupBy(col("week"))
        .agg(count(lit(1)).as("n"), sum(col("ret")).as("returns"))
        .localCheckpoint() // feeds the overall-rate scalar and the chart
      val overall = wk.agg(sum(col("n")).as("tn"), sum(col("returns")).as("tr"))
      wk.crossJoin(broadcast(overall))
        .withColumn("pbar", col("tr").cast("double") / col("tn").cast("double"))
        .withColumn("p_week", col("returns").cast("double") / col("n").cast("double"))
        .withColumn("sigma",
          sqrt(col("pbar") * (lit(1.0) - col("pbar")) / col("n").cast("double")))
        .withColumn("ucl", col("pbar") + lit(3.0) * col("sigma"))
        .withColumn("lcl", greatest(col("pbar") - lit(3.0) * col("sigma"), lit(0.0)))
        .withColumn("out_of_control", col("p_week") > col("ucl") || col("p_week") < col("lcl"))
        .select(col("week"), col("n"), col("returns"), col("p_week"),
          col("ucl"), col("lcl"), col("out_of_control"))
        .orderBy(col("week"))
    }),

    // ---- Theil–Sen robust trend per supplier (median of pairwise monthly
    // slopes): outlier-immune where OLS is not; pair volume is C(months, 2)
    // per key — calendar-bounded, never fact-table-quadratic. Slopes are
    // the identical double division on both engines; the lower median is
    // picked by a deterministic (slope, x1, x2) order ----
    "q245_theil_sen" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val monthly = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"),
          (year(col("l_shipdate")) * 12 + month(col("l_shipdate")) - 1).as("mo"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .localCheckpoint() // both sides of the pair join
      val a = monthly.select(col("l_suppkey"), col("mo").as("x1"), col("cents").as("y1"))
      val b = monthly.select(col("l_suppkey"), col("mo").as("x2"), col("cents").as("y2"))
      val slopes = a.join(b, Seq("l_suppkey")).filter(col("x1") < col("x2"))
        .withColumn("slope",
          (col("y2") - col("y1")).cast("double") /
            (col("x2") - col("x1")).cast("double"))
      val w = W.partitionBy(col("l_suppkey"))
        .orderBy(col("slope"), col("x1"), col("x2"))
      slopes
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(W.partitionBy(col("l_suppkey"))))
        .filter(expr("rn = (cnt + 1) DIV 2")) // lower median, integer DIV
        .select(col("l_suppkey"), col("cnt").as("n_pairs"),
          col("slope").as("ts_slope_cents_per_month"))
        .orderBy(col("l_suppkey"))
    }),

    // ---- CUPED variance reduction for the A/B read (Deng et al. 2013):
    // pre-period spend as covariate, θ = cov(x,y)/var(x) from POOLED exact
    // integer moments (n·Σxy − Σx·Σy in DECIMAL), adjusted cohort means in
    // identical double algebra — the experimentation-platform adjustment
    // that typically halves metric variance ----
    "q246_cuped" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      val dec = (c: Column) => c.cast(d0)
      val cut = lit("2024-04-01").cast("timestamp")
      val per = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("ts") < cut,
            round(col("value") * 100).cast("long"))), lit(0L)).as("x"),
          coalesce(sum(when(col("ts") >= cut,
            round(col("value") * 100).cast("long"))), lit(0L)).as("y"))
        .withColumn("cohort", (col("user_id") % 2 === 0).cast("int"))
        .localCheckpoint() // pooled-moment scalar + per-cohort aggregate
      val pooled = per.agg(count(lit(1)).cast(d0).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"))
        .withColumn("theta",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("xbar", col("sx").cast("double") / col("n").cast("double"))
        .select(col("theta"), col("xbar"))
      // Σ(y − θ(x − x̄)) decomposes to Σy − θ(Σx − n·x̄): the adjusted mean
      // comes from EXACT integer sums and scalar doubles — a per-row double
      // sum would be partition-order-dependent and never hash-gate
      per.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("sx_c"), sum(col("y")).as("sy_c"))
        .crossJoin(broadcast(pooled))
        .select(col("cohort"), col("n_users"),
          (col("sy_c").cast("double") / col("n_users").cast("double"))
            .as("mean_y_cents"),
          ((col("sy_c").cast("double") - col("theta") *
            (col("sx_c").cast("double") -
              col("n_users").cast("double") * col("xbar"))) /
            col("n_users").cast("double")).as("mean_y_cuped"),
          col("theta"))
        .orderBy(col("cohort"))
    }),

    // ---- consistent-hash reshard audit: keys on an md5 ring (8 vnodes per
    // shard), assignment = first vnode clockwise; growing 8 → 10 shards
    // must move only the keys the new shards' vnodes capture (~2/10) —
    // the data-placement property that makes cluster growth cheap,
    // measured exactly. The 80 vnode positions are collision-free, so the
    // struct-min / arg_min assignment is deterministic on both engines ----
    "q247_consistent_hash" -> ((s, dir) => {
      val vn = s.range(80).select(
        (col("id") / 8).cast("int").as("shard"), (col("id") % 8).cast("int").as("rep"))
        .withColumn("vpos", graft.ops.Sketches.rowHash64(
          concat(lit("vnode:"), col("shard"), lit(":"), col("rep"))))
        .select(col("shard"), col("vpos"))
      val keys = t(s, dir, "customer")
        .select(col("c_custkey").as("key"),
          graft.ops.Sketches.rowHash64(col("c_custkey").cast("string")).as("kpos"))
      def assign(ring: DataFrame, outCol: String): DataFrame =
        keys.crossJoin(broadcast(ring))
          .groupBy(col("key"), col("kpos"))
          .agg(coalesce(
            min(when(col("vpos") >= col("kpos"),
              struct(col("vpos"), col("shard")))),
            min(struct(col("vpos"), col("shard"))))
            .getField("shard").as(outCol))
          .select(col("key"), col(outCol))
      assign(vn.filter(col("shard") < 8), "s8")
        .join(assign(vn, "s10"), Seq("key"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("s8") =!= col("s10"), 1L).otherwise(0L)).as("n_moved"))
        .withColumn("moved_share",
          col("n_moved").cast("double") / col("n_keys").cast("double"))
    }),

    // ---- feed-freshness audit: per event type, volume, newest timestamp,
    // and exact microsecond lag behind the freshest feed — the staleness
    // monitor every ingestion dashboard leads with; one key-collapsing
    // aggregate plus a broadcast scalar ----
    "q248_freshness" -> ((s, dir) => {
      val per = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("max_ts"))
      val g = per.agg(max(col("max_ts")).as("global_max"))
      per.crossJoin(broadcast(g))
        .withColumn("lag_us",
          expr("unix_micros(global_max) - unix_micros(max_ts)"))
        .withColumn("stale_1d", col("lag_us") > lit(86400000000L))
        .select(col("event_type"), col("n_events"), col("max_ts"),
          col("lag_us"), col("stale_1d"))
        .orderBy(col("event_type"))
    }),

    // ---- order-value inversion rate per customer: consecutive orders
    // (by date, key tie-break) where totalprice DROPPED — the sequence-
    // anomaly share, one per-customer ordered window pass in exact cents ----
    "q249_order_inversions" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val o = t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("prev", lag(col("cents"), 1).over(w))
        .filter(col("prev").isNotNull)
      o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_steps"),
          sum(when(col("cents") < col("prev"), 1L).otherwise(0L)).as("n_down"))
        .withColumn("down_share",
          col("n_down").cast("double") / col("n_steps").cast("double"))
        .orderBy(col("o_custkey"))
    }),

    // ---- k-anonymity audit over quasi-identifiers (nation, market
    // segment, coarse balance band): equivalence-class size distribution,
    // the k=5 violation count, and the share of individuals re-identifiable
    // below k — the privacy gate before a tabular release ----
    "q250_k_anonymity" -> ((s, dir) => {
      val qid = t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          // +10000 shift keeps the band argument nonnegative: Spark DIV
          // truncates where DuckDB // floors, and they only agree ≥ 0
          expr("(CAST(round(c_acctbal) AS BIGINT) + 10000) DIV 1000").as("bal_band"))
      val cls = qid.groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("cls_size"))
      cls.agg(count(lit(1)).as("n_classes"),
          min(col("cls_size")).as("min_class"),
          sum(when(col("cls_size") < 5, 1L).otherwise(0L)).as("n_violating"),
          sum(when(col("cls_size") < 5, col("cls_size")).otherwise(0L))
            .as("n_exposed"),
          sum(col("cls_size")).as("n_rows"))
        .withColumn("exposed_share",
          col("n_exposed").cast("double") / col("n_rows").cast("double"))
    }),

    // ---- BPE ENCODE (the other half of the q226 tokenizer loop): apply
    // the 4 trained merges and report per-source compression — symbols
    // per character under the learned vocab. The final training state IS
    // the token → encoding dictionary (strip spaces to recover the token),
    // so encoding is one broadcast-able dictionary join, no re-fold per
    // document ----
    "q251_bpe_compression" -> ((s, dir) => {
      val corpusTok = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .localCheckpoint() // training counts + the per-source encode join
      val vocab = corpusTok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .select(graft.ops.Bpe.charSeq(col("token")).as("seq"), col("cnt"))
      val (_, state) =
        graft.ops.Bpe.trainMergesWithState(vocab, "seq", "cnt", rounds = 4)
      val enc = state.select(
        regexp_replace(col("seq"), " ", "").as("token"),
        size(split(col("seq"), " ")).cast("long").as("n_sym"))
      corpusTok.join(enc, Seq("token"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(length(col("token")).cast("long")).as("total_chars"),
          sum(col("n_sym")).as("total_symbols"))
        .withColumn("symbols_per_char",
          col("total_symbols").cast("double") / col("total_chars").cast("double"))
        .orderBy(col("source"))
    }),

    // ---- n-gram fluency scoring (the perplexity-filter stand-in that
    // stays log-free and hash-gateable): per document, the fixed-point
    // MEAN Laplace bigram probability under the corpus LM, rolled up to a
    // per-source quality profile — the q242 table applied as a filter
    // signal, exact integers until the surface ----
    "q252_fluency_score" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("s"))
        .filter(size(col("s")) >= 2)
      val pairs = toks.select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(1, size(s) - 1)," +
            " i -> struct(element_at(s, i) AS w1, element_at(s, i + 1) AS w2))"))
          .as("p"))
        .select(col("doc_id"), col("source"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .localCheckpoint() // corpus LM counts + the scoring join
      val bi = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // context totals + the pair-score join
      val ctx = bi.groupBy(col("w1")).agg(sum(col("c")).as("ctx_total"))
      val v = t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).as("vsize"))
      val perDoc = pairs.join(bi, Seq("w1", "w2")).join(ctx, Seq("w1"))
        .crossJoin(broadcast(v))
        .withColumn("ps", expr("((c + 1) * 1000000) DIV (ctx_total + vsize)"))
        .groupBy(col("doc_id"), col("source"))
        .agg(expr("sum(ps) DIV count(1)").as("doc_score"))
      perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("doc_score")).cast("double") / count(lit(1)).cast("double"))
            .as("mean_score"),
          min(col("doc_score")).as("min_score"),
          max(col("doc_score")).as("max_score"))
        .orderBy(col("source"))
    }),

    // ---- eval-set contamination probe: share of eval-fold documents with
    // at least one 8-gram also present in the training folds — the
    // benchmark-hygiene number every model eval should publish; distinct
    // (doc, gram) before the semi join bounds the work by distinct grams ----
    "q253_eval_contamination" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val d = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .withColumn("fold",
          pmod(graft.ops.Sketches.rowHash64(col("doc_id").cast("string")), lit(5))
            .cast("int"))
        .localCheckpoint() // eval grams, train grams, and the doc roll-up
      val evalG = d.filter(col("fold") === 0)
        .select(col("doc_id"), explode(TextAnalysis.ngrams(col("text"), 8)).as("gram"))
        .distinct()
      val trainG = d.filter(col("fold") =!= 0)
        .select(explode(TextAnalysis.ngrams(col("text"), 8)).as("gram")).distinct()
      val contaminated = evalG.join(trainG, Seq("gram"), "left_semi")
        .select(col("doc_id")).distinct().withColumn("hit", lit(1L))
      d.filter(col("fold") === 0).select(col("doc_id"), col("source"))
        .join(contaminated, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_eval_docs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .withColumn("contamination_rate",
          col("n_contaminated").cast("double") / col("n_eval_docs").cast("double"))
        .orderBy(col("source"))
    }),

    // ---- memorization-risk audit: the 8-grams repeated across the most
    // documents (top-20 by doc frequency, then total occurrences) — the
    // verbatim-duplication hotspots a dedup pass should kill first; one
    // gram-keyed shuffle, occurrence counts ride the same aggregate ----
    "q254_memorization_grams" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val g = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), explode(TextAnalysis.ngrams(col("text"), 8)).as("gram"))
      val byDoc = g.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("doc_freq"), count(lit(1)).as("n_occ"))
        .filter(col("doc_freq") >= 2)
      byDoc.orderBy(col("doc_freq").desc, col("n_occ").desc, col("gram")).limit(20)
    }),

    // ---- Gopher-style quality-rule verdict panel (Rae et al. 2021 §A1.1
    // shape, token-level rules — the corpus is whitespace prose with no
    // line structure): per (source, rule) the doc counts passing each
    // filter. Every rule compares INTEGERS cross-multiplied (3·n_tok ≤
    // chars, 50·n_stop ≥ n_tok, …) so no ratio is ever floated before the
    // verdict. One shuffle on (doc, token), one on doc, one on (source,
    // rule) — no pairwise work, row counts bound every stage. ----
    "q255_gopher_rules" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), col("source"), col("text"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val perTok = toks.groupBy(col("doc_id"), col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val perDoc = perTok.groupBy(col("doc_id"), col("source"))
        .agg(sum(col("c")).cast("long").as("n_tok"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_cnt"),
          sum(when(col("tok").isin(TextAnalysis.EnStopwords: _*), col("c"))
            .otherwise(lit(0L))).cast("long").as("n_stop"))
      val chars = t(s, dir, "documents")
        .select(col("doc_id"),
          length(regexp_replace(col("text"), "[ \\t\\n\\r]+", "")).cast("long").as("n_chars_ns"))
      val verdicts = perDoc.join(chars, Seq("doc_id"))
        .select(col("source"), explode(array(
          struct(lit("min_tokens").as("rule"), (col("n_tok") >= 30L).as("pass")),
          struct(lit("mean_word_len_range").as("rule"),
            (col("n_chars_ns") >= col("n_tok") * 3L &&
              col("n_chars_ns") <= col("n_tok") * 10L).as("pass")),
          struct(lit("stopword_ratio").as("rule"),
            (col("n_stop") * 50L >= col("n_tok")).as("pass")),
          struct(lit("top_token_share").as("rule"),
            (col("top_cnt") * 5L <= col("n_tok")).as("pass")),
          struct(lit("distinct_ratio").as("rule"),
            (col("n_distinct") * 5L >= col("n_tok") * 2L).as("pass"))
        )).as("v"))
      verdicts
        .groupBy(col("source"), col("v.rule").as("rule"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("v.pass"), 1L).otherwise(0L)).cast("long").as("n_pass"))
        .withColumn("pass_share",
          col("n_pass").cast("double") / col("n_docs").cast("double"))
        .orderBy(col("source"), col("rule"))
    }),

    // ---- corpus distinct-n diversity (the self-BLEU-adjacent distinct-1/2/3
    // metric): per (source, n) total vs distinct n-gram counts and their
    // ratio — the generation-diversity / mode-collapse audit applied to a
    // training corpus. Native one-pass gram construction; cost is O(total
    // grams) with one countDistinct shuffle per (source, n) cell. ----
    "q256_distinct_ngrams" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val base = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("source"), TextAnalysis.tokens(col("text")).as("toks"))
        .localCheckpoint() // three gram passes share the tokenize
      val grams = Seq(1, 2, 3)
        .map(n => base.select(col("source"), lit(n).as("n"),
          explode(call_function("graft_ngrams", col("toks"), lit(n))).as("gram")))
        .reduce(_ unionAll _)
      grams.groupBy(col("source"), col("n"))
        .agg(count(lit(1)).as("total_grams"),
          countDistinct(col("gram")).as("distinct_grams"))
        .withColumn("distinct_ratio",
          col("distinct_grams").cast("double") / col("total_grams").cast("double"))
        .orderBy(col("source"), col("n"))
    }),

    // ---- DSIR-style data-selection weights (Xie et al. 2023 shape, kept
    // log-free for the hash gate): per token, Laplace unigram probability
    // under a TARGET domain LM (src0 as the quality proxy) and under the
    // whole-corpus LM, each as a nonnegative fixed-point integer division;
    // per doc the two probability means; selection keeps each source's
    // top-3 docs by (target − corpus) mean — "which documents look most
    // like the domain we want more of". Two count shuffles + one token
    // join; no pairwise work. ----
    "q258_dsir_weights" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .localCheckpoint() // corpus counts, target counts, and the score join
      val cc = toks.groupBy(col("tok")).agg(count(lit(1)).as("c_corpus"))
      val tc = toks.filter(col("source") === "src0")
        .groupBy(col("tok")).agg(count(lit(1)).as("c_target"))
      val scal = cc.agg(sum(col("c_corpus")).as("n_corpus"),
        count(lit(1)).as("vsize")).crossJoin(
        toks.filter(col("source") === "src0").agg(count(lit(1)).as("n_target")))
      val terms = toks.join(cc, Seq("tok")).join(tc, Seq("tok"), "left")
        .na.fill(0L, Seq("c_target"))
        .crossJoin(broadcast(scal))
        .select(col("doc_id"), col("source"),
          expr("1000000000000 * (c_target + 1) DIV (n_target + vsize)").as("pt"),
          expr("1000000000000 * (c_corpus + 1) DIV (n_corpus + vsize)").as("pc"))
      val perDoc = terms.groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tok"), sum(col("pt")).as("sum_pt"), sum(col("pc")).as("sum_pc"))
        .withColumn("weight",
          (col("sum_pt") - col("sum_pc")).cast("double") / col("n_tok").cast("double"))
      perDoc
        .withColumn("rk", row_number().over(
          W.partitionBy(col("source")).orderBy(col("weight").desc, col("doc_id"))))
        .filter(col("rk") <= 3)
        .select(col("source"), col("rk"), col("doc_id"), col("n_tok"), col("weight"))
        .orderBy(col("source"), col("rk"))
    }),

    // ---- embedding anisotropy audit: dominant direction by two exact
    // fixed-point power-iteration steps, Gram matrix never materialized
    // (row-dot + dim-keyed shuffle per step) — the representation-collapse
    // detector over the embeddings table ----
    "q259_principal_direction" -> ((s, dir) => {
      Similarity.dominantDirection(t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy(col("dim"))
    }),

    // ---- exact weighted (multiset) Jaccard near-dup pairs: Σmin/Σmax over
    // token multiplicities via the sorted-merge native expression on arrays
    // kept WITH duplicates — the tf-aware twin of q23's set Jaccard ----
    "q260_weighted_jaccard" -> ((s, dir) => {
      Dedup.multisetJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.6, maxId = 1000L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- image near-dup pairs by perceptual average-hash over REAL BMP
    // pixel decode (the q86 encode→decode device extended from headers to
    // PIXELS): 8×8 24bpp thumbnails synthesized from doc_id arithmetic —
    // groups of 4 docs share a base image, variants perturb one pixel —
    // then Multimodal.aHash byte-parses the pixel array (bottom-up rows,
    // stride, channel offset: any decoder slip shifts bits and goes red
    // against the formula-recomputing oracle), and hamming-≤3 pairs come
    // from a 4×16-bit band join (pigeonhole: ≤3 flipped bits leave ≥1 of 4
    // bands exact) with bit_count verify — never an all-pairs scan. The
    // oracle brute-forces all pairs, so banding recall = 1.0 is GATED, not
    // assumed. ----
    "q261_ahash_neardup" -> ((s, dir) => {
      val header = "424d" + "f6000000" + "00000000" + "36000000" +
        "28000000" + "08000000" + "08000000" + "0100" + "1800" + ("00" * 24)
      val gen = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("doc_id DIV 4").as("g"), expr("doc_id % 4").as("r"))
        // stored (bottom-up) byte order: stored row s holds logical row 7−s
        .withColumn("idx", expr("transform(sequence(0, 63), j -> (7 - (j DIV 8)) * 8 + (j % 8))"))
        .withColumn("pix", expr(
          "transform(idx, i -> CAST(pmod(g*37 + i*101 + i*i*13 + i*(g % 13)*29" +
            " + IF(r > 0 AND i = 7*r + 3, 128, 0), 256) AS INT))"))
        .withColumn("payload", unhex(concat(lit(header), expr(
          "array_join(transform(pix, v -> concat(format_string('%02x', v)," +
            " format_string('%02x', v), format_string('%02x', v))), '')"))))
      val hashed = Multimodal
        .aHash(gen.select(col("doc_id"), col("payload")), "payload")
        .select(col("doc_id"), col("ahash_lo"), col("ahash_hi"))
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .localCheckpoint() // both sides of the band self-join
      val bands = hashed.select(col("doc_id"), col("ahash_lo"), col("ahash_hi"),
        explode(array(
          struct(lit(0).as("band"), expr("ahash_lo % 65536").as("key")),
          struct(lit(1).as("band"), expr("ahash_lo DIV 65536").as("key")),
          struct(lit(2).as("band"), expr("ahash_hi % 65536").as("key")),
          struct(lit(3).as("band"), expr("ahash_hi DIV 65536").as("key")))).as("b"))
        .select(col("doc_id"), col("ahash_lo"), col("ahash_hi"),
          col("b.band").as("band"), col("b.key").as("key"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("a.ahash_lo").as("loa"), col("a.ahash_hi").as("hia"),
          col("b.ahash_lo").as("lob"), col("b.ahash_hi").as("hib"))
        .distinct() // a pair can match in several bands
      cand
        .withColumn("hamming", expr(
          "CAST(bit_count(loa ^ lob) + bit_count(hia ^ hib) AS INT)"))
        .filter(col("hamming") <= 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- corpus preprocessing FUNNEL (the capstone composition): per
    // source, docs surviving each pipeline stage in sequence — quality
    // rules (q255's panel, all 5), exact dedup (q22's word-set survivor,
    // computed WITHIN the quality-passing population), decontamination
    // (q57's shared-3-gram probe vs the held-out benchmark slice, ≥5
    // shared grams drops the doc). The number every dataset card leads
    // with: "X billion docs in, Y out, here is where they went". Stage
    // flags are row-local over three keyed aggregates; no stage is
    // pairwise. ----
    "q262_corpus_funnel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .filter(col("doc_id") % 50 =!= 0) // benchmark slice is NOT corpus (q57)
        .select(col("doc_id"), col("source"), col("text"))
        .localCheckpoint() // token stats + signature + gram probe share it
      val toks = docs.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val perTok = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      val stats = perTok.groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("long").as("n_tok"), count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_cnt"),
          sum(when(col("tok").isin(TextAnalysis.EnStopwords: _*), col("c"))
            .otherwise(lit(0L))).cast("long").as("n_stop"))
      val quality = docs
        .join(stats, Seq("doc_id"))
        .withColumn("n_chars_ns",
          length(regexp_replace(col("text"), "[ \\t\\n\\r]+", "")).cast("long"))
        .withColumn("pass_quality",
          col("n_tok") >= 30L &&
            col("n_chars_ns") >= col("n_tok") * 3L && col("n_chars_ns") <= col("n_tok") * 10L &&
            col("n_stop") * 50L >= col("n_tok") &&
            col("top_cnt") * 5L <= col("n_tok") &&
            col("n_distinct") * 5L >= col("n_tok") * 2L)
        .select(col("doc_id"), col("source"), col("text"), col("pass_quality"))
        .localCheckpoint() // survivor window + gram probe + final rollup
      // exact-dedup survivors among quality passers: min doc_id per signature
      val W = org.apache.spark.sql.expressions.Window
      val surv = quality.filter(col("pass_quality"))
        .withColumn("sig", Dedup.wordSetSignature(col("text")))
        .withColumn("is_survivor",
          row_number().over(W.partitionBy(col("sig")).orderBy(col("doc_id"))) === 1)
        .select(col("doc_id"), col("is_survivor"))
      // contamination: distinct 3-grams shared with the benchmark slice
      val grams = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), explode(TextAnalysis.ngrams(col("text"), 3)).as("gram"))
      val benchGrams = grams.filter(col("doc_id") % 50 === 0).select(col("gram")).distinct()
      val shared = grams.filter(col("doc_id") % 50 =!= 0)
        .join(benchGrams, Seq("gram"), "left_semi")
        .groupBy(col("doc_id")).agg(countDistinct(col("gram")).as("n_shared"))
      val flags = quality
        .join(surv, Seq("doc_id"), "left").na.fill(false, Seq("is_survivor"))
        .join(shared, Seq("doc_id"), "left").na.fill(0L, Seq("n_shared"))
        .withColumn("s1", col("pass_quality"))
        .withColumn("s2", col("s1") && col("is_survivor"))
        .withColumn("s3", col("s2") && col("n_shared") < 5L)
      flags
        .select(col("source"), explode(array(
          struct(lit(0).as("stage_idx"), lit("ingested").as("stage"), lit(true).as("pass")),
          struct(lit(1).as("stage_idx"), lit("quality").as("stage"), col("s1").as("pass")),
          struct(lit(2).as("stage_idx"), lit("exact_dedup").as("stage"), col("s2").as("pass")),
          struct(lit(3).as("stage_idx"), lit("decontaminated").as("stage"), col("s3").as("pass"))
        )).as("v"))
        .filter(col("v.pass"))
        .groupBy(col("source"), col("v.stage_idx").as("stage_idx"), col("v.stage").as("stage"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("stage_idx"))
    }),

    // ---- int8 scalar-quantization audit per embedding dimension (the SQ8
    // flat-index compression next to q74's PQ): codes and reconstructions
    // in exact half-up integer rounding (floor((2·255·(q−lo) + span) /
    // (2·span)) — all operands nonnegative, so Spark DIV and DuckDB //
    // agree), max/mean absolute reconstruction error per dim in fixed-point
    // units — "is 4× compression safe for THIS embedding column". ----
    "q263_sq8_audit" -> ((s, dir) => {
      val ex = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(Similarity.fixedPoint(col("embedding"))))
        .toDF("vec_id", "dim", "q")
        .localCheckpoint() // range pass + error pass
      val rng = ex.groupBy(col("dim"))
        .agg(min(col("q")).as("lo"), max(col("q")).as("hi"))
      ex.join(rng, Seq("dim"))
        .withColumn("span", col("hi") - col("lo"))
        .withColumn("code", when(col("span") === 0, lit(0L))
          .otherwise(expr("(2 * 255 * (q - lo) + span) DIV (2 * span)")))
        .withColumn("recon", when(col("span") === 0, col("lo"))
          .otherwise(col("lo") + expr("(2 * code * span + 255) DIV (2 * 255)")))
        .withColumn("err", abs(col("q") - col("recon")))
        .groupBy(col("dim"))
        .agg(min(col("lo")).as("lo_fixed"), min(col("hi")).as("hi_fixed"),
          max(col("err")).as("max_abs_err"),
          sum(col("err")).as("sum_err"), count(lit(1)).as("n"))
        .withColumn("mean_abs_err", col("sum_err").cast("double") / col("n").cast("double"))
        .select(col("dim"), col("lo_fixed"), col("hi_fixed"),
          col("max_abs_err"), col("mean_abs_err"))
        .orderBy(col("dim"))
    }),

    // ---- incremental JOIN-view maintenance (the join twin of q197's
    // aggregate merge): Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB, merged at the
    // aggregate level and gated against the full recompute — the streaming
    // materialized-view algebra run as a batch proof. Both sides carry
    // deltas (coprime key slices) so all three delta terms are nonempty. ----
    "q264_ivm_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), round(col("l_extendedprice") * 100).cast("long").as("cents"),
          (col("l_orderkey") % 97 === 0).as("d_a"))
        .localCheckpoint() // old/delta slices + the full recompute
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_orderkey") % 89 === 0).as("d_b"))
        .localCheckpoint()
      def agg(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
        l.join(r, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      val aOld = li.filter(!col("d_a")); val dA = li.filter(col("d_a"))
      val bOld = o.filter(!col("d_b")); val dB = o.filter(col("d_b"))
      val merged = Seq(agg(aOld, bOld), agg(dA, bOld), agg(aOld, dB), agg(dA, dB))
        .reduce(_ unionByName _)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n")).as("n_merged"), sum(col("cents")).as("cents_merged"))
      val full = agg(li, o)
        .withColumnsRenamed(Map("n" -> "n_full", "cents" -> "cents_full"))
      merged.join(full, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_full"), col("cents_full"),
          (col("n_merged") === col("n_full")).as("n_matches"),
          (col("cents_merged") === col("cents_full")).as("cents_match"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- corpus duplication SPECTRUM per source: at n ∈ {4, 8, 16}, the
    // share of each source's distinct n-grams that also occur in some OTHER
    // document of the corpus — q90's signal lifted from per-doc to the
    // per-source × gram-size grid ("is the duplication shallow boilerplate
    // or long verbatim copies"). O(total grams) per n, no pairs. ----
    "q265_dup_spectrum" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val base = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), col("source"), TextAnalysis.tokens(col("text")).as("toks"))
        .localCheckpoint() // three gram sizes share the tokenize
      val grams = Seq(4, 8, 16)
        .map(n => base.select(col("doc_id"), col("source"), lit(n).as("n"),
          explode(array_distinct(call_function("graft_ngrams", col("toks"), lit(n))))
            .as("gram")))
        .reduce(_ unionAll _)
        .localCheckpoint() // doc-frequency aggregate + the join back
      // distinct-per-doc upstream ⇒ count(*) per (n, gram) IS the doc frequency
      val df_ = grams.groupBy(col("n"), col("gram")).agg(count(lit(1)).as("df"))
      grams.join(df_, Seq("n", "gram"))
        .select(col("source"), col("n"), col("gram"), col("df")).distinct()
        .groupBy(col("source"), col("n"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup"))
        .withColumn("dup_frac", col("n_dup").cast("double") / col("n_grams").cast("double"))
        .orderBy(col("source"), col("n"))
    }),

    // ---- leave-one-out target encoding with prior smoothing (the
    // feature-engineering staple, leakage-proof form): each order's
    // priority encoded as (Σ_group − own) blended with the global prior,
    // enc = 10⁶·(sum − y + m·prior) DIV (n − 1 + m) — one floor division
    // of nonnegative exact integers per row, no row sees its own target.
    // Group moments come from one aggregate joined back (never a window
    // carrying the whole group). ----
    "q266_loo_encoding" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val g = o.groupBy(col("o_orderpriority"))
        .agg(sum(col("cents")).as("gsum"), count(lit(1)).as("gn"))
      val prior = o.agg((sum(col("cents"))).as("tsum"), count(lit(1)).as("tn"))
        .select(expr("tsum DIV tn").as("prior_cents"))
      o.join(broadcast(g), Seq("o_orderpriority"))
        .crossJoin(broadcast(prior))
        .withColumn("enc_fixed",
          // DECIMAL numerator: 10⁶ × group-sum cents exceeds LONG once a
          // group holds ~10⁷ full-price orders — the 100 TB-safe form
          expr("(CAST(gsum - cents + 10 * prior_cents AS DECIMAL(38,0)) * 1000000)" +
            " DIV (gn - 1 + 10)"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("cents"), col("enc_fixed"))
        .orderBy(col("o_orderkey")).limit(25)
    }),

    // ---- tokenizer fairness by LANGUAGE (the equity audit on q251's BPE
    // loop): symbols-per-char by lang plus each language's premium over
    // English — "how many more units does the tokenizer spend per char of
    // zh than en" — the number multilingual tokenizer reports lead with. ----
    "q267_tokenizer_fairness" -> ((s, dir) => {
      val corpusTok = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .localCheckpoint() // training counts + the per-lang encode join
      val vocab = corpusTok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .select(graft.ops.Bpe.charSeq(col("token")).as("seq"), col("cnt"))
      val (_, state) =
        graft.ops.Bpe.trainMergesWithState(vocab, "seq", "cnt", rounds = 4)
      val enc = state.select(
        regexp_replace(col("seq"), " ", "").as("token"),
        size(split(col("seq"), " ")).cast("long").as("n_sym"))
      val perLang = corpusTok.join(enc, Seq("token"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(length(col("token")).cast("long")).as("total_chars"),
          sum(col("n_sym")).as("total_symbols"))
        .withColumn("symbols_per_char",
          col("total_symbols").cast("double") / col("total_chars").cast("double"))
        .localCheckpoint() // the en scalar reads it too
      val en = perLang.filter(col("lang") === "en")
        .select(col("symbols_per_char").as("en_spc"))
      perLang.crossJoin(broadcast(en))
        .withColumn("premium_vs_en", col("symbols_per_char") / col("en_spc"))
        .drop("en_spc")
        .orderBy(col("lang"))
    }),

    // ---- late-interaction (ColBERT-style) maxsim retrieval: multi-vector
    // docs (4 embedding rows per doc), score(q, d) = Σ_qslot max_dslot
    // ⟨qᵥ, dᵥ⟩ over exact fixed-point integer dots; top-5 docs per query.
    // The bounded query panel broadcasts (40 vectors); the corpus side
    // streams — cost is queries × corpus vectors, never corpus². ----
    "q268_maxsim_retrieval" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val fixed = t(s, dir, "embeddings")
        .select(expr("vec_id DIV 4").as("docv"), expr("vec_id % 4").as("slot"),
          Similarity.fixedPoint(col("embedding")).as("iv"))
      Similarity.maxSimScores(fixed, panelDocs = 10)
        .withColumn("rank", row_number().over(
          W.partitionBy(col("qdoc")).orderBy(col("maxsim").desc, col("docv"))))
        .filter(col("rank") <= 5)
        .select(col("qdoc"), col("rank"), col("docv").as("doc"), col("maxsim"))
        .orderBy(col("qdoc"), col("rank"))
    }),

    // ---- distributed exact top-k by the Threshold Algorithm (Fagin's TA,
    // the shard-merge protocol): each shard (source) ships only its local
    // top-m terms; global counts are refined for the candidate union; the
    // TA bound Σ_s (m-th local count) certifies whether the merged top-k
    // is EXACTLY the global top-k without any shard shipping its full
    // dictionary. The audit column carries the certificate: kth-candidate
    // count ≥ bound ⇒ guaranteed (and the oracle computes the true global
    // top-k, so a false certificate goes red). ----
    "q269_shard_topk_merge" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val tc = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // local top-m, refinement join, and the TA bound
      val localTop = tc.withColumn("rk", row_number().over(
          W.partitionBy(col("source")).orderBy(col("c").desc, col("tok"))))
        .filter(col("rk") <= 20)
      val cand = localTop.select(col("tok")).distinct()
      // refinement: candidates' TRUE global counts (all shards, not just
      // the ones whose top-m surfaced the term)
      val refined = tc.join(cand, Seq("tok"), "left_semi")
        .groupBy(col("tok")).agg(sum(col("c")).as("global_cnt"))
      val bound = localTop.filter(col("rk") === 20)
        .agg(sum(col("c")).as("ta_bound"))
      refined
        .withColumn("rank", row_number().over(
          W.orderBy(col("global_cnt").desc, col("tok"))))
        .filter(col("rank") <= 10)
        .crossJoin(broadcast(bound))
        .withColumn("guaranteed", col("global_cnt") >= col("ta_bound"))
        .select(col("rank"), col("tok"), col("global_cnt"), col("ta_bound"), col("guaranteed"))
        .orderBy(col("rank"))
    }),

    // ---- prefix-cache savings (the LLM-serving ROI number): prompts
    // sharing their first-8-token prefix reuse one KV-cache entry; per
    // source, the tokens saved by caching = Σ_groups (size − 1) × prefix
    // length. Row-local prefix key + one (source, prefix) shuffle. ----
    "q270_prefix_cache_savings" -> ((s, dir) => {
      val p = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("source"), TextAnalysis.tokens(col("text")).as("toks"))
        .select(col("source"), size(col("toks")).cast("long").as("n_tok"),
          array_join(slice(col("toks"), 1, 8), " ").as("prefix"),
          least(size(col("toks")), lit(8)).cast("long").as("prefix_len"))
      val groups = p.groupBy(col("source"), col("prefix"), col("prefix_len"))
        .agg(count(lit(1)).as("gsize"), sum(col("n_tok")).as("gtok"))
      groups.groupBy(col("source"))
        .agg(sum(col("gsize")).cast("long").as("n_prompts"),
          sum(col("gtok")).as("total_tokens"),
          sum((col("gsize") - 1L) * col("prefix_len")).as("saved_tokens"))
        .withColumn("savings_ratio",
          col("saved_tokens").cast("double") / col("total_tokens").cast("double"))
        .orderBy(col("source"))
    }),

    // ---- epoch waterfilling (the data-mixture scheduling move): sources
    // get a repeat-epoch cap from their quality tercile (4/2/1 by distinct-
    // token ratio), then a single water level λ spends the token budget
    // B = 3/2·Σtokens: epochs_s = min(cap_s, λ), Σ tokens_s·epochs_s = B.
    // λ is found closed-form per cap boundary with INTEGER cross-multiplied
    // feasibility tests (never a float compare), surfaced as an exact
    // num/den pair plus the derived doubles. Everything after the token
    // count runs on a source-dictionary-sized frame. ----
    "q271_epoch_waterfill" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val tok = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val src = tok.groupBy(col("source"))
        .agg(count(lit(1)).as("tokens"), countDistinct(col("tok")).as("dtok"))
      // quality tercile by distinct-token ratio: compare d/t rationally
      // (d_a·t_b vs d_b·t_a) via a double that divides exact longs — IEEE
      // division is engine-deterministic on identical operands
      val ranked = src
        .withColumn("q", col("dtok").cast("double") / col("tokens").cast("double"))
        .withColumn("tercile", ntile(3).over(W.orderBy(col("q").desc, col("source"))))
        .withColumn("cap", when(col("tercile") === 1, 4L)
          .when(col("tercile") === 2, 2L).otherwise(1L))
        .localCheckpoint() // dictionary-sized; feeds boundary scan + output
      val budget = ranked.agg((sum(col("tokens")) * 3L).as("b2"))
        .select(expr("b2 DIV 2").as("budget"))
      // boundary scan: sort by cap asc; below the boundary sources sit at
      // their cap, above it they sit at λ. For boundary j:
      //   λ = (B − Σ_{i≤j} t_i·cap_i) / Σ_{i>j} t_i
      // feasible iff cap_j ≤ λ (< next cap, enforced by taking the LAST
      // feasible boundary). j = 0 (nobody capped) is the virtual first row.
      val wCap = W.orderBy(col("cap"), col("source"))
      val scan = ranked
        .withColumn("cum_capped", sum(col("tokens") * col("cap")).over(wCap))
        .withColumn("rest", sum(col("tokens")).over(
          wCap.rowsBetween(1, W.unboundedFollowing)))
        .withColumn("next_cap", lead(col("cap"), 1).over(wCap))
        .crossJoin(broadcast(budget))
      // boundary j is THE one iff cap_j ≤ λ_j < cap_{j+1} — both ends as
      // integer cross-multiplications (λ_j = lam_num/lam_den, all ≥ 0 when
      // feasible); cap ties resolve to the tie group's last row by the
      // strict right end. Exactly one row survives, or none when λ falls
      // below every cap (nobody capped) or above all of them (everyone is).
      val feasible = scan
        .withColumn("lam_num", col("budget") - col("cum_capped"))
        .withColumn("lam_den", col("rest"))
        .filter(col("lam_den") > 0L &&
          col("lam_num") >= col("cap") * col("lam_den") &&
          (col("next_cap").isNull || col("lam_num") < col("next_cap") * col("lam_den")))
        .select(lit(0).as("prio"), col("lam_num"), col("lam_den"))
      // virtual boundary "nobody capped": λ = B / Σt, valid iff λ < min cap
      val lamAll = scan.orderBy(col("cap"), col("source")).limit(1)
        .filter(col("budget") < col("cap") * (col("rest") + col("tokens")))
        .select(lit(1).as("prio"), col("budget").as("lam_num"),
          (col("rest") + col("tokens")).as("lam_den"))
      // fallback "everybody capped" (budget ≥ Σ tokens·cap): λ = max cap
      val lamCapped = ranked.agg(max(col("cap")).as("lam_num"))
        .select(lit(2).as("prio"), col("lam_num"), lit(1L).as("lam_den"))
      val lam = broadcast(feasible.unionByName(lamAll).unionByName(lamCapped)
        .orderBy(col("prio")).limit(1).drop("prio"))
      ranked.crossJoin(lam)
        .withColumn("epochs",
          least(col("cap").cast("double"),
            col("lam_num").cast("double") / col("lam_den").cast("double")))
        .withColumn("alloc_tokens", col("tokens").cast("double") * col("epochs"))
        .select(col("source"), col("tokens"), col("cap"), col("epochs"), col("alloc_tokens"))
        .orderBy(col("source"))
    }),

    // ---- streaming exactly-once dedup under re-delivery: every 10th event
    // re-arrives a minute later (jittered timestamp, same id — the at-least-
    // once delivery shape), `dropDuplicatesWithinWatermark` state drops the
    // replay; the gate is the strongest possible: the deduped stream must
    // equal the ORIGINAL batch exactly. Output projects only replay-
    // invariant columns (which survivor's ts wins is micro-batch order,
    // not semantics). ----
    "q272_stream_dedup" -> ((s, dir) => {
      // MULTI-BATCH feed (time-split thirds): a re-delivery can land in a
      // LATER batch than its original - the dedup state crosses the
      // boundary (the 1h horizon keeps originals in state; nothing is
      // late, so the emitted first-occurrence set is unchanged)
      val ev = Tables.eventsStreamBatched(s, dir, mode = "time")
        .select(col("event_id"), col("event_type"), col("ts"))
      val redelivered = ev.filter(col("event_id") % 10 === 0)
        .withColumn("ts", col("ts") + expr("INTERVAL 1 MINUTE"))
      val deduped = graft.streaming.StreamOps
        .dedupEvents(ev.unionAll(redelivered), "event_id")
        .select(col("event_id"), col("event_type"))
      graft.streaming.StreamOps.runToMemory(s, deduped, "q272_mem")
        .orderBy(col("event_id"))
    }),

    // ---- stream-stream interval join (view → purchase within 30 minutes):
    // watermarked state on BOTH sides, the fan-in bounded by the skew
    // window — gated against the batch interval join over the same file ----
    "q273_stream_join" -> ((s, dir) => {
      // MULTI-BATCH feed (time-split thirds): a view in batch k matches a
      // purchase in batch k+1 - BOTH sides' join state crosses the
      // boundary; nothing late, same closed-window match set
      def stream = Tables.eventsStreamBatched(s, dir, mode = "time")
      val views = stream.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("event_id").as("purchase_id"))
      // state partitions sized to the feed (4 RocksDB stores/partition in a
      // stream-stream join — see StreamOps.withStateParts; measured 3.6->3.0 s)
      graft.streaming.StreamOps.withStateParts(s,
        new java.io.File(s"$dir/events.parquet").length()) {
        graft.streaming.StreamOps.runToMemory(s,
          graft.streaming.StreamOps.streamStreamJoin(views, purchases, key = "user_id",
            leftTs = "ts", rightTs = "pts", skew = "30 minutes")
            .select(col("view_id"), col("purchase_id")), "q273_mem")
      }.orderBy(col("view_id"), col("purchase_id"))
    }),

    // ---- autocorrelation of the daily revenue series at lags 1 and 7
    // (the seasonality detector behind q210's indices): Pearson r over
    // (day, day+k) pairs from a calendar self-join, moments exact DECIMAL
    // (q146's device), one double division + sqrt at the surface. The
    // series is calendar-sized — every stage after the daily rollup is
    // bounded by distinct days, not fact rows. ----
    "q274_autocorrelation" -> ((s, dir) => {
      val d0 = DecimalType(38, 0)
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("day"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"))
        .localCheckpoint() // both sides of each lag join
      val lags = Seq(1, 7).map { k =>
        daily.as("a").join(daily.as("b"), expr(s"b.day = date_add(a.day, $k)"))
          .select(lit(k).as("lag"), col("a.rev").as("x"), col("b.rev").as("y"))
      }.reduce(_ unionAll _)
      lags.groupBy(col("lag"))
        .agg(count(lit(1)).cast(d0).as("nn"),
          sum(col("x").cast(d0)).as("sx"), sum(col("y").cast(d0)).as("sy"),
          sum(col("x").cast(d0) * col("x").cast(d0)).as("sxx"),
          sum(col("y").cast(d0) * col("y").cast(d0)).as("syy"),
          sum(col("x").cast(d0) * col("y").cast(d0)).as("sxy"))
        .select(col("lag"), col("nn").cast("long").as("n_pairs"),
          ((col("nn") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("nn") * col("sxx") - col("sx") * col("sx")).cast("double"))
              * sqrt((col("nn") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .as("acf"))
        .orderBy(col("lag"))
    }),

    // ---- entity-resolution blocking-scheme evaluation (pair completeness
    // vs reduction ratio — the two numbers every blocking design is judged
    // by): truth = exact word-set duplicate pairs, scheme = first-2-token
    // block key. NO pair is ever materialized: all three pair counts are
    // Σ C(m, 2) over group-size aggregates — a shuffled-bag duplicate
    // whose leading tokens moved lands in another block, which is exactly
    // the recall loss this audit exists to measure. ----
    "q275_blocking_eval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"),
          Dedup.wordSetSignature(col("text")).as("sig"),
          array_join(slice(TextAnalysis.tokens(col("text")), 1, 2), " ").as("block"))
        .localCheckpoint() // three group-size aggregates share it
      val pairsOfM = expr("m * (m - 1) DIV 2")
      val truePairs = docs.groupBy(col("sig")).agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(pairsOfM), lit(0L)).as("true_pairs"))
      val candPairs = docs.groupBy(col("block")).agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(pairsOfM), lit(0L)).as("candidate_pairs"))
      val foundPairs = docs.groupBy(col("sig"), col("block")).agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(pairsOfM), lit(0L)).as("found_pairs"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      n.crossJoin(broadcast(truePairs)).crossJoin(broadcast(candPairs))
        .crossJoin(broadcast(foundPairs))
        .withColumn("pair_completeness",
          when(col("true_pairs") === 0, lit(1.0))
            .otherwise(col("found_pairs").cast("double") / col("true_pairs").cast("double")))
        .withColumn("reduction_ratio",
          lit(1.0) - col("candidate_pairs").cast("double") /
            expr("(n_docs * (n_docs - 1) DIV 2)").cast("double"))
    }),

    // ---- best consecutive-day revenue run vs baseline (max-subarray by
    // prefix sums — Kadane without the sequential scan): y_t = n·rev_t − S
    // (integer, Σy = 0, so "above average" needs no division), best run
    // ending at t = prefix_t − min(prefix before t, 0). The ordered window
    // runs over the CALENDAR (distinct ship days — bounded), never fact
    // rows. Start day resolves by matching the achieving prefix; a zero
    // target prefers the virtual origin (the LONGEST optimal run). ----
    "q276_best_run" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("day"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"))
      val sc = daily.agg(count(lit(1)).as("n"), sum(col("rev")).as("s"))
      val wOrd = W.orderBy(col("day"))
      val pre = daily.crossJoin(broadcast(sc))
        .withColumn("yv", col("n") * col("rev") - col("s"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("prefix", sum(col("yv")).over(wOrd))
        .withColumn("minpre", least(
          coalesce(min(col("prefix")).over(wOrd.rowsBetween(W.unboundedPreceding, -1)),
            lit(0L)), lit(0L)))
        .withColumn("runsum", col("prefix") - col("minpre"))
        .select(col("day"), col("rn"), col("prefix"), col("runsum"))
        .localCheckpoint() // best row + start resolution + start-day lookup
      val best = pre.orderBy(col("runsum").desc, col("day")).limit(1)
        .select(col("rn").as("rn_e"), col("day").as("end_day"),
          col("runsum").as("best_sum"), (col("prefix") - col("runsum")).as("target_pre"))
      val rn0 = pre.join(broadcast(best),
          col("prefix") === col("target_pre") && col("rn") < col("rn_e"))
        .agg(min(col("rn")).as("rn_match"))
      val startRn = broadcast(best.crossJoin(broadcast(rn0))
        .withColumn("rn_s",
          when(col("target_pre") === 0L, lit(1L)).otherwise(col("rn_match") + 1L)))
      pre.join(startRn, col("rn") === col("rn_s"))
        .select(col("day").as("start_day"), col("end_day"), col("best_sum"),
          (col("rn_e") - col("rn_s") + 1L).cast("long").as("n_days"))
    }),

    // ---- price–volume decomposition of YoY brand revenue (the Laspeyres
    // bridge every revenue review runs): ΔRev splits into a volume effect
    // at base unit price ((q₁−q₀)·r₀/q₀) and the price/mix residual.
    // Division is one sign-split fixed-point floor per brand (DECIMAL
    // numerator — cents × 10⁶ exceeds LONG); the residual is defined as
    // the exact remainder so the two effects sum to ΔRev·10⁶ by
    // construction. ----
    "q277_price_volume_decomp" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .withColumn("yr", year(col("l_shipdate")))
        .filter(col("yr").isin(1995, 1996))
        .groupBy(col("p_brand"), col("yr"))
        .agg(sum(col("l_quantity").cast("long")).as("qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"))
        .localCheckpoint() // both year slices
      val y0 = li.filter(col("yr") === 1995)
        .select(col("p_brand"), col("qty").as("q0"), col("rev").as("r0"))
      val y1 = li.filter(col("yr") === 1996)
        .select(col("p_brand"), col("qty").as("q1"), col("rev").as("r1"))
      y0.join(y1, Seq("p_brand"))
        .filter(col("q0") > 0L)
        .withColumn("vol_eff_fixed",
          signum(col("q1") - col("q0")).cast("long") *
            expr("CAST(abs(q1 - q0) AS DECIMAL(38,0)) * r0 * 1000000 DIV q0"))
        .withColumn("delta_fixed",
          expr("CAST((CAST(r1 AS DECIMAL(38,0)) - r0) * 1000000 AS BIGINT)"))
        .withColumn("price_eff_fixed", col("delta_fixed") - col("vol_eff_fixed"))
        .select(col("p_brand"), col("r0"), col("r1"),
          col("vol_eff_fixed"), col("price_eff_fixed"))
        .orderBy(col("p_brand"))
    }),

    // ---- dedup-signal evaluation (the q161 move pointed at SimHash):
    // precision/recall of the hamming-≤3 SimHash signal against exact
    // weighted-Jaccard-≥0.8 truth on a bounded panel — "is the cheap
    // sketch safe to deploy as the first dedup stage". Signal arm is the
    // banded scalable device; truth arm is the bounded oracle-arm
    // quadratic; the FULL OUTER pair join classifies TP/FP/FN without
    // ever materializing non-pairs. ----
    "q278_dedup_signal_eval" -> ((s, dir) => {
      val panel = t(s, dir, "documents").filter(col("doc_id") < 1000)
      val signal = Dedup.simHashNearDups(panel, "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), lit(1).as("in_signal"))
      val truth = Dedup.multisetJaccardPairs(panel, "doc_id", "text",
          threshold = 0.8, maxId = 1000L)
        .select(col("id_a"), col("id_b"), lit(1).as("in_truth"))
      signal.join(truth, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("in_signal").isNotNull && col("in_truth").isNotNull, 1L)
            .otherwise(0L)).cast("long").as("tp"),
          sum(when(col("in_signal").isNotNull && col("in_truth").isNull, 1L)
            .otherwise(0L)).cast("long").as("fp"),
          sum(when(col("in_signal").isNull && col("in_truth").isNotNull, 1L)
            .otherwise(0L)).cast("long").as("fn"))
        .withColumn("precision",
          when(col("tp") + col("fp") === 0L, lit(1.0))
            .otherwise(col("tp").cast("double") / (col("tp") + col("fp")).cast("double")))
        .withColumn("recall",
          when(col("tp") + col("fn") === 0L, lit(1.0))
            .otherwise(col("tp").cast("double") / (col("tp") + col("fn")).cast("double")))
    }),

    // ---- Haar wavelet energy spectrum of daily revenue (which TIME SCALE
    // carries the variance — the 2ᵏ-day seasonality detector next to
    // q210/q274): three unnormalized Haar levels as chained pair
    // sum/difference aggregates over the calendar index (integer-exact:
    // scaling by √2 deferred into the level label), detail energy Σd² per
    // level as a DECIMAL accumulator surfaced hi/lo. Everything after the
    // daily rollup is calendar-sized. ----
    "q279_haar_energy" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d0 = DecimalType(38, 0)
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("day"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("v"))
        .withColumn("g", row_number().over(W.orderBy(col("day"))) - 1)
      def level(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(expr("g DIV 2").as("g2"))
        .agg(sum(col("v")).as("v"),
          sum(when(col("g") % 2 === 0, col("v")).otherwise(-col("v"))).as("d"))
        .withColumnRenamed("g2", "g")
      val l1 = level(daily.select(col("g"), col("v"))).localCheckpoint()
      val l2 = level(l1.select(col("g"), col("v"))).localCheckpoint()
      val l3 = level(l2.select(col("g"), col("v")))
      def energy(df: org.apache.spark.sql.DataFrame, lev: Int) = df
        .agg(count(lit(1)).as("n_coeffs"),
          sum(col("d").cast(d0) * col("d").cast(d0)).as("energy"))
        .select(lit(lev).as("level"), col("n_coeffs"), col("energy"))
      graft.ops.Sketches.surfaceHiLo(
        energy(l1, 1).unionByName(energy(l2, 2)).unionByName(energy(l3, 3)),
        "energy")
        .orderBy(col("level"))
    }),

    // ---- inclusion–exclusion audience algebra over event types: the 7
    // intersection cardinalities of (view, click, purchase) user sets from
    // ONE user-collapsing shuffle (per-user presence flags, then a combo
    // rollup), plus |A∪B∪C| both directly and via the identity — the
    // self-validating form of multi-set audience accounting. ----
    "q280_inclusion_exclusion" -> ((s, dir) => {
      val flags = t(s, dir, "events")
        .filter(col("event_type").isin("view", "click", "purchase"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "view", 1L).otherwise(0L)).as("a"),
          max(when(col("event_type") === "click", 1L).otherwise(0L)).as("b"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c"))
      flags.agg(
        sum(col("a")).cast("long").as("n_view"),
        sum(col("b")).cast("long").as("n_click"),
        sum(col("c")).cast("long").as("n_purchase"),
        sum(col("a") * col("b")).cast("long").as("n_vc"),
        sum(col("a") * col("c")).cast("long").as("n_vp"),
        sum(col("b") * col("c")).cast("long").as("n_cp"),
        sum(col("a") * col("b") * col("c")).cast("long").as("n_vcp"),
        count(lit(1)).as("n_union"))
        .withColumn("identity_holds",
          col("n_union") === col("n_view") + col("n_click") + col("n_purchase")
            - col("n_vc") - col("n_vp") - col("n_cp") + col("n_vcp"))
    }),

    // ---- EXACT Shapley channel attribution (the 4th model beside q163
    // last-touch / q188 linear / q198 decay): coalition value v(S) =
    // conversions among users whose touched-channel set ⊆ S, over the
    // fixed 3-channel game {view, click, signup} — so every Shapley
    // weight is a sixth and φ_c·6N is an exact integer (N = attributed
    // users). One user-collapsing shuffle to 3-bit masks; everything
    // after runs on the 8-row coalition table. φ sums to v(C) − v(∅) by
    // the efficiency axiom — surfaced as the exact numerators plus the
    // derived double. ----
    "q281_shapley_attribution" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      // only touches BEFORE the first purchase count (the q282 truncation:
      // post-conversion activity is not attribution evidence) — this is
      // also what keeps coalition masks heterogeneous
      val firstBuy = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"))).as("fb"))
      val masks = ev.join(firstBuy, Seq("user_id"), "left")
        .filter(col("fb").isNull || struct(col("ts"), col("event_id")) < col("fb"))
        .groupBy(col("user_id"))
        .agg(
          (max(when(col("event_type") === "view", 1).otherwise(0))
            + max(when(col("event_type") === "click", 2).otherwise(0))
            + max(when(col("event_type") === "signup", 4).otherwise(0))).as("m"),
          max(when(col("fb").isNotNull, 1L).otherwise(0L)).as("conv"))
      val byMask = masks.groupBy(col("m"))
        .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
        .localCheckpoint() // the 8-coalition rollup + N scalar
      val nTotal = byMask.agg(sum(col("n_users")).as("n_total"))
      // v(S)·N = conversions with mask ⊆ S: an 8×8 subset rollup
      val coalitions = (0 to 7).toDF("s_mask")
      val vtab = coalitions.join(byMask, expr("(m & s_mask) = m"), "left")
        .groupBy(col("s_mask"))
        .agg(coalesce(sum(col("n_conv")), lit(0L)).as("vconv"))
        .localCheckpoint() // joined twice by the Shapley terms
      // 12 marginal-contribution terms: for channel bit c and S ∌ c,
      // weight·6 ∈ {2, 1, 1, 2} by |S|
      val terms = (for {
        (name, bit) <- Seq(("view", 1), ("click", 2), ("signup", 4))
        sMask <- 0 to 7 if (sMask & bit) == 0
      } yield {
        val size = Integer.bitCount(sMask)
        val w6 = Seq(2L, 1L, 2L)(size) // 0!·2!, 1!·1!, 2!·0! (×6/3!)
        (name, sMask, sMask | bit, w6)
      }).toDF("channel", "s_without", "s_with", "w6")
      terms
        .join(vtab.withColumnsRenamed(Map("s_mask" -> "s_with", "vconv" -> "v_with")),
          Seq("s_with"))
        .join(vtab.withColumnsRenamed(Map("s_mask" -> "s_without", "vconv" -> "v_without")),
          Seq("s_without"))
        .groupBy(col("channel"))
        .agg(sum(col("w6") * (col("v_with") - col("v_without"))).as("phi_num"))
        .crossJoin(broadcast(nTotal))
        .withColumn("phi",
          col("phi_num").cast("double") / (col("n_total") * 6L).cast("double"))
        .select(col("channel"), col("phi_num"), col("n_total"), col("phi"))
        .orderBy(col("channel"))
    }),

    // ---- Markov removal-effect attribution (Anderl et al. 2016 shape,
    // the 5th model in the family): user journeys truncate at first
    // purchase, edge probabilities quantize to 1e-9 by one floor division
    // each (the ONLY rounding — everything after is exact integer/DECIMAL
    // arithmetic, so both engines agree bit-for-bit), conversion mass =
    // Σ paths of length ≤ 3 from the virtual start, and each channel's
    // effect is the conversion share lost when its node is deleted
    // (original probabilities kept — lost mass IS the point). The chain
    // tables are state-dictionary-sized; the only data-scale work is the
    // one pair-extraction shuffle. ----
    "q282_markov_removal" -> ((s, dir) => {
      import s.implicits._
      val W = org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val wU = W.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val firstBuy = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(min(struct(col("ts"), col("event_id"))).as("fb"))
      val kept = ev.join(firstBuy, Seq("user_id"), "left")
        .filter(col("fb").isNull || struct(col("ts"), col("event_id")) <= col("fb"))
        .withColumn("rn", row_number().over(wU))
        .withColumn("prev", lag(col("event_type"), 1).over(wU))
        .select(col("user_id"), col("rn"),
          coalesce(col("prev"), lit("start")).as("a"), col("event_type").as("b"))
      val cnt = kept.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // row totals + 4 chain variants
      val tot = cnt.groupBy(col("a")).agg(sum(col("c")).as("d"))
      val trans = cnt.join(tot, Seq("a"))
        .withColumn("p9", expr("1000000000 * c DIV d"))
        .select(col("a"), col("b"), col("p9"))
      val variants = Seq("none", "view", "click", "signup").toDF("removed")
      val tv = broadcast(variants.join(trans,
        col("a") =!= col("removed") && col("b") =!= col("removed")))
      val f1 = tv.filter(col("a") === "start")
        .select(col("removed"), col("b"), col("p9").as("f1"))
      val f2 = f1.filter(col("b") =!= "purchase").withColumnRenamed("b", "i1")
        .join(tv.withColumnRenamed("a", "i1"), Seq("removed", "i1"))
        .select(col("removed"), col("b"), (col("f1") * col("p9")).as("f2"))
        .groupBy(col("removed"), col("b")).agg(sum(col("f2")).as("f2"))
      val f3 = f2.filter(col("b") =!= "purchase").withColumnRenamed("b", "i2")
        .join(tv.withColumnRenamed("a", "i2"), Seq("removed", "i2"))
        .select(col("removed"), col("b"),
          (col("f2").cast("decimal(38,0)") * col("p9")).as("f3"))
        .groupBy(col("removed"), col("b")).agg(sum(col("f3")).as("f3"))
      // conversion mass at the common 1e27 scale
      val conv = variants
        .join(f1.filter(col("b") === "purchase")
          .select(col("removed"), col("f1")), Seq("removed"), "left")
        .join(f2.filter(col("b") === "purchase")
          .select(col("removed"), col("f2")), Seq("removed"), "left")
        .join(f3.filter(col("b") === "purchase")
          .select(col("removed"), col("f3")), Seq("removed"), "left")
        .select(col("removed"),
          (coalesce(col("f1"), lit(0L)).cast("decimal(38,0)")
            * lit(1000000000000000000L)
            + coalesce(col("f2"), lit(0L)).cast("decimal(38,0)") * lit(1000000000L)
            + coalesce(col("f3"), lit(0L).cast("decimal(38,0)"))).as("mass"))
        .localCheckpoint() // full-vs-removed self join
      val full = conv.filter(col("removed") === "none")
        .select(col("mass").as("mass_full"))
      conv.filter(col("removed") =!= "none")
        .crossJoin(broadcast(full))
        .select(col("removed").as("channel"),
          expr("mass_full DIV 1000000000000000000").as("p_conv_e9_full"),
          expr("mass DIV 1000000000000000000").as("p_conv_e9_removed"),
          expr("1000000 - (mass * 1000000 DIV mass_full)").as("removal_effect_fixed"))
        .orderBy(col("channel"))
    }),

    // ---- Qini/uplift decile curve (the incrementality read-out of an
    // A/B exposure): deterministic halves (user_id parity), engagement
    // score = view count with user-id tiebreak, deciles by ntile, then
    // cumulative treated-vs-control conversion gap and the Qini statistic
    // per decile — exact integer counts under the doubles. ----
    "q283_qini_curve" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .withColumn("treated", (col("user_id") % 2 === 0).cast("int").cast("long"))
      // deciles via the bucketed global-ntile device (§8.6#4/#5: an
      // unpartitioned ordered window over USERS grows with the fact table)
      val ranked = Relational.globalNtile(
        users.withColumn("neg_score", -col("score")),
        "neg_score", "user_id", k = 10, outCol = "decile")
      val byDecile = ranked.groupBy(col("decile"))
        .agg(sum(col("treated")).as("n_t"),
          sum(col("treated") * col("conv")).as("conv_t"),
          sum(lit(1L) - col("treated")).as("n_c"),
          sum((lit(1L) - col("treated")) * col("conv")).as("conv_c"))
      val wCum = W.orderBy(col("decile")) // 10-row frame — dictionary-bounded
      byDecile
        .withColumn("cum_n_t", sum(col("n_t")).over(wCum))
        .withColumn("cum_conv_t", sum(col("conv_t")).over(wCum))
        .withColumn("cum_n_c", sum(col("n_c")).over(wCum))
        .withColumn("cum_conv_c", sum(col("conv_c")).over(wCum))
        .withColumn("uplift",
          col("cum_conv_t").cast("double") / col("cum_n_t").cast("double")
            - col("cum_conv_c").cast("double") / col("cum_n_c").cast("double"))
        .withColumn("qini",
          col("cum_conv_t").cast("double") - col("cum_conv_c").cast("double")
            * col("cum_n_t").cast("double") / col("cum_n_c").cast("double"))
        .select(col("decile"), col("cum_n_t"), col("cum_conv_t"),
          col("cum_n_c"), col("cum_conv_c"), col("uplift"), col("qini"))
        .orderBy(col("decile"))
    }),

    // ---- watermark-lateness accounting (the "what would δ drop" sizing
    // run every streaming deployment does first): arrival order = event_id
    // (the deterministic batch stand-in), per-USER running max of event
    // time (per-key watermarks — the frame is a user's own stream, never
    // the fact table), lateness = watermark − own ts, dropped-at-δ counts
    // for δ ∈ {1 m, 10 m, 1 h}. ----
    "q284_watermark_lateness" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val wArr = W.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(W.unboundedPreceding, -1)
      val late = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("wm", max(col("ts")).over(wArr))
        .withColumn("late_sec",
          greatest(unix_timestamp(col("wm")) - unix_timestamp(col("ts")), lit(0L)))
      late.agg(
        count(lit(1)).as("n_events"),
        sum(when(col("late_sec") > 60L, 1L).otherwise(0L)).cast("long").as("dropped_1m"),
        sum(when(col("late_sec") > 600L, 1L).otherwise(0L)).cast("long").as("dropped_10m"),
        sum(when(col("late_sec") > 3600L, 1L).otherwise(0L)).cast("long").as("dropped_1h"),
        max(col("late_sec")).as("max_late_sec"))
        .withColumn("drop_rate_10m",
          col("dropped_10m").cast("double") / col("n_events").cast("double"))
    }),

    // ---- SCD2 as-of enrichment: each order joins the ONE customer-history
    // version valid on its order date (versions derived deterministically:
    // a customer's balance re-versions each calendar year it orders in,
    // q66's range device). Equi-join on custkey carries the range predicate
    // as a residual filter — versions-per-customer is small and bounded, so
    // this is NOT a range-join problem; the audit column proves exactly-one
    // match per order. ----
    "q285_scd2_asof_join" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val wC = W.partitionBy(col("c_custkey")).orderBy(col("vyear"))
      val versions = t(s, dir, "orders")
        .select(col("o_custkey").as("c_custkey"), year(col("o_orderdate")).as("vyear"))
        .distinct()
        .withColumn("valid_to_year",
          coalesce(lead(col("vyear"), 1).over(wC), lit(9999)))
        .withColumn("version_bal_cents",
          col("c_custkey") * 100L + col("vyear")) // deterministic version payload
        .localCheckpoint() // match join + the audit count
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).as("oyear"))
      val matched = orders.join(versions,
          col("o_custkey") === col("c_custkey")
            && col("oyear") >= col("vyear") && col("oyear") < col("valid_to_year"))
      val audit = matched.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_versions"))
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("n_versions") === 1L, 1L).otherwise(0L)).cast("long")
            .as("n_exactly_one"))
      val sample = matched
        .select(col("o_orderkey"), col("o_custkey"), col("oyear"),
          col("vyear"), col("version_bal_cents"))
        .orderBy(col("o_orderkey")).limit(20)
      sample.crossJoin(broadcast(audit))
        .withColumn("all_exactly_one", col("n_orders") === col("n_exactly_one"))
        .select(col("o_orderkey"), col("o_custkey"), col("oyear"), col("vyear"),
          col("version_bal_cents"), col("all_exactly_one"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- maximal verbatim-copy SPANS (the span-level device behind Lee
    // et al. substring dedup, at gram granularity): positions whose
    // 10-gram occurs ≥2 times in the corpus merge into maximal runs by
    // the gap-and-island trick (pos − row_number is constant inside a
    // run), each island spanning [start, end + n − 1] tokens — the ranges
    // a span-removal pass would actually cut, not just "how much is
    // duplicated". Island windows partition by doc (doc-length-bounded);
    // the gram table shuffles twice, O(total grams), no pairs. ----
    "q286_verbatim_spans" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val W = org.apache.spark.sql.expressions.Window
      val n = 10
      val grams = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), col("source"),
          posexplode(call_function("graft_ngrams",
            TextAnalysis.tokens(col("text")), lit(n))))
        .toDF("doc_id", "source", "pos", "gram")
        .localCheckpoint() // occurrence counts + the join back
      val occ = grams.groupBy(col("gram")).agg(count(lit(1)).as("occ"))
      val dupPos = grams.join(occ.filter(col("occ") >= 2), Seq("gram"), "left_semi")
        .select(col("doc_id"), col("source"), col("pos"))
      val wDoc = W.partitionBy(col("doc_id")).orderBy(col("pos"))
      val spans = dupPos
        .withColumn("grp", col("pos") - row_number().over(wDoc))
        .groupBy(col("doc_id"), col("source"), col("grp"))
        .agg(min(col("pos")).as("span_start"),
          (max(col("pos")) + lit(n - 1)).as("span_end"))
        .withColumn("span_len", col("span_end") - col("span_start") + 1L)
      val tok = t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("total_tokens"))
      spans.groupBy(col("source"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("span_len")).cast("long").as("dup_token_mass"),
          max(col("span_len")).cast("long").as("longest_span"))
        .join(tok, Seq("source"), "right")
        .na.fill(0L, Seq("n_spans", "dup_token_mass", "longest_span"))
        .withColumn("dup_mass_ratio",
          col("dup_token_mass").cast("double") / col("total_tokens").cast("double"))
        .orderBy(col("source"))
    }),

    // ---- l-diversity audit (the layer k-anonymity misses: a class of 50
    // identical quasi-identifiers is still exposed if everyone shares the
    // SAME sensitive value): q250's QI classes scored by the count of
    // DISTINCT sensitive values (each customer's modal order priority,
    // deterministic tiebreak) — reports the min l and the share of rows in
    // classes below l = 2. ----
    "q287_l_diversity" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val prio = t(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          W.partitionBy(col("o_custkey")).orderBy(col("n").desc, col("o_orderpriority"))))
        .filter(col("rn") === 1)
        .select(col("o_custkey").as("c_custkey"), col("o_orderpriority").as("sensitive"))
      val qid = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          expr("(CAST(round(c_acctbal) AS BIGINT) + 10000) DIV 1000").as("bal_band"))
        .join(prio, Seq("c_custkey")) // customers with no orders carry no sensitive value
      val cls = qid.groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("cls_size"), countDistinct(col("sensitive")).as("l"))
      cls.agg(count(lit(1)).as("n_classes"),
          min(col("l")).as("min_l"),
          sum(when(col("l") < 2, 1L).otherwise(0L)).cast("long").as("n_homogeneous"),
          sum(when(col("l") < 2, col("cls_size")).otherwise(0L)).cast("long")
            .as("n_exposed"),
          sum(col("cls_size")).cast("long").as("n_rows"))
        .withColumn("exposed_share",
          col("n_exposed").cast("double") / col("n_rows").cast("double"))
    }),

    // ---- df.observe() metrics (the CollectMetrics operator): pipeline
    // accounting that rides INSIDE the job — no second scan — gated by
    // comparing the observed totals against the downstream aggregate of
    // the same frame. The production shape: row-count/sum reconciliation
    // between pipeline stages at zero extra passes. ----
    "q288_observe_metrics" -> ((s, dir) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .observe(obs, count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      val direct = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .agg(sum(col("n")).as("direct_rows"), sum(col("cents")).as("direct_cents"))
        .collect()(0) // drives the pipeline; the observation is now filled
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long], m("sum_cents").asInstanceOf[Long],
        direct.getLong(0), direct.getLong(1)))
        .toDF("observed_rows", "observed_cents", "direct_rows", "direct_cents")
        .withColumn("rows_match", col("observed_rows") === col("direct_rows"))
        .withColumn("cents_match", col("observed_cents") === col("direct_cents"))
    }),

    // ---- TYPED sessionization (the Dataset/Encoder arm of §1.4: same
    // 30-minute-gap semantics as the window form, expressed as
    // groupByKey.mapGroups over case-class rows — the API a stateful
    // per-entity algorithm that doesn't fit window frames actually uses).
    // Per-group state is one user's sorted timestamps — bounded. ----
    "q289_typed_sessions" -> ((s, dir) => {
      import s.implicits._
      val ds = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"))
        .as[(Long, java.sql.Timestamp, Long)]
      ds.groupByKey(_._1)
        .mapGroups { (uid, it) =>
          val secs = it.map(_._2.getTime / 1000).toArray.sorted
          val gaps = secs.sliding(2).collect { case Array(a, b) => b - a }.toArray
          val sessions = 1 + gaps.count(_ > 1800L)
          val maxGap = if (gaps.isEmpty) 0L else gaps.max
          (uid, secs.length.toLong, sessions.toLong, maxGap)
        }
        .toDF("user_id", "n_events", "n_sessions", "max_gap_sec")
        .orderBy(col("user_id"))
    }),

    // ---- TYPED cogroup reconciliation: order headers against their line
    // items in one CoGroup pass — the "header total vs Σ lines" audit a
    // billing pipeline runs, expressed through the API built for exactly
    // this two-sided-per-key shape. Per-key state is one order's lines —
    // bounded; output is the corpus-level reconciliation summary. ----
    "q290_cogroup_reconcile" -> ((s, dir) => {
      import s.implicits._
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("hdr"))
        .as[(Long, Long)]
      val lines = t(s, dir, "lineitem")
        .select(col("l_orderkey"), round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .as[(Long, Long)]
      val per = orders.groupByKey(_._1)
        .cogroup(lines.groupByKey(_._1)) { (k, os, ls) =>
          val hdrs = os.map(_._2).toArray
          if (hdrs.isEmpty) Iterator.empty // lines without a header: not an order
          else {
            val lineSum = ls.map(_._2).sum
            Iterator((k, hdrs.head, lineSum, hdrs.head - lineSum))
          }
        }
        .toDF("o_orderkey", "hdr_cents", "line_cents", "diff_cents")
      per.agg(count(lit(1)).as("n_orders"),
          sum(when(col("line_cents") > 0L, 1L).otherwise(0L)).cast("long").as("n_with_lines"),
          sum(when(col("diff_cents") === 0L, 1L).otherwise(0L)).cast("long").as("n_exact"),
          min(col("diff_cents")).as("min_diff"),
          max(col("diff_cents")).as("max_diff"))
    }),

    // ---- Neyman allocation of a labeling budget (survey-sampling optimal
    // stratified design): 1000 annotation slots across doc-length quintiles
    // ∝ N_h·σ_h, exact DECIMAL moments under the σ, quota integerized by
    // the largest-remainder method (floor + top-up by remainder rank, both
    // engines ranking identical IEEE doubles with a stratum tiebreak) so
    // the quotas sum to the budget EXACTLY. Strata from the bucketed
    // globalNtile; everything after runs on 5 rows. ----
    "q291_neyman_allocation" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val d0 = DecimalType(38, 0)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").cast("long").as("x"))
      val strata = Relational.globalNtile(docs, "x", "doc_id", k = 5, outCol = "stratum")
      val mom = strata.groupBy(col("stratum"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("x").cast(d0)).as("sx"),
          sum(col("x").cast(d0) * col("x").cast(d0)).as("sxx"))
        .withColumn("sd_len", sqrt(
          ((col("n_docs").cast(d0) * col("sxx") - col("sx") * col("sx")).cast("double"))
            / (col("n_docs") * (col("n_docs") - 1L)).cast("double")))
        .withColumn("w", col("n_docs").cast("double") * col("sd_len"))
      val totw = mom.agg(sum(col("w")).as("tw"))
      val raw = mom.crossJoin(broadcast(totw))
        .withColumn("alloc_raw", lit(1000.0) * col("w") / col("tw"))
        .withColumn("base", floor(col("alloc_raw")).cast("long"))
        .withColumn("rem", col("alloc_raw") - col("base").cast("double"))
      val leftover = raw.agg((lit(1000L) - sum(col("base"))).as("lo"))
      raw.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(W.orderBy(col("rem").desc, col("stratum"))))
        .withColumn("alloc", col("base") + when(col("rk") <= col("lo"), 1L).otherwise(0L))
        .select(col("stratum"), col("n_docs"), col("sd_len"), col("alloc"))
        .orderBy(col("stratum"))
    }),

    // ---- Krippendorff's alpha, nominal, 3 raters (the inter-annotator
    // metric that generalizes q142's two-rater kappa): raters synthesized
    // as deterministic corruptions of the lang label (rater 2 defaults to
    // 'en' every 7th doc, rater 3 cycles the label every 11th), observed
    // and expected disagreement both as exact integer coincidence counts,
    // one double division at the surface. ----
    "q292_krippendorff_alpha" -> ((s, dir) => {
      val langs = Seq("en", "es", "de", "fr", "zh", "und")
      val next = map(langs.zip(langs.tail :+ langs.head)
        .flatMap { case (a, b) => Seq(lit(a), lit(b)) }: _*)
      val base = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val vals = base.select(col("doc_id"), col("lang").as("label"))
        .unionAll(base.select(col("doc_id"),
          when(col("doc_id") % 7 === 0, lit("en")).otherwise(col("lang")).as("label")))
        .unionAll(base.select(col("doc_id"),
          when(col("doc_id") % 11 === 0, element_at(next, col("lang")))
            .otherwise(col("lang")).as("label")))
      val ouc = vals.groupBy(col("doc_id"), col("label")).agg(count(lit(1)).as("o"))
      val doNum = ouc.agg(sum(col("o") * (lit(3L) - col("o"))).cast("long").as("do_num"),
        countDistinct(col("doc_id")).as("n_units"))
      val marg = ouc.groupBy(col("label")).agg(sum(col("o")).as("nc"))
      val ntot = marg.agg(sum(col("nc")).cast("long").as("ntot"))
      val deNum = marg.crossJoin(broadcast(ntot))
        .agg(sum(col("nc") * (col("ntot") - col("nc"))).cast("long").as("de_num"),
          max(col("ntot")).as("ntot"))
      doNum.crossJoin(broadcast(deNum))
        .withColumn("d_o", col("do_num").cast("double")
          / (col("n_units") * 3L * 2L).cast("double"))
        .withColumn("d_e", col("de_num").cast("double")
          / (col("ntot") * (col("ntot") - 1L)).cast("double"))
        .withColumn("alpha", lit(1.0) - col("d_o") / col("d_e"))
        .select(col("n_units"), col("do_num"), col("de_num"), col("ntot"),
          col("d_o"), col("d_e"), col("alpha"))
    }),

    // ---- exact two-sample Kolmogorov–Smirnov statistic (the continuous-
    // distribution drift test beside q116's binned χ²): D = max |F_A − F_R|
    // over return-flag price distributions, computed as max |cum_A·n_R −
    // cum_R·n_A| on INTEGER cross-multiplied ranks so the max is taken
    // over exact values (one division at the surface). CDFs via the
    // bucketed global prefix sum — distinct prices grow with the fact
    // table, so no ordered window may span them (§8.6#5). ----
    "q293_ks_statistic" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val perVal = li.groupBy(col("cents"))
        .agg(sum(when(col("flag") === "A", 1L).otherwise(0L)).as("ca"),
          sum(when(col("flag") === "R", 1L).otherwise(0L)).as("cr"))
        .localCheckpoint() // two prefix passes + the totals scalar
      val cumA = Relational.globalPrefixSum(perVal, "cents", "cents", "ca", "cum_a")
        .select(col("cents"), col("cum_a"))
      val cumR = Relational.globalPrefixSum(perVal, "cents", "cents", "cr", "cum_r")
        .select(col("cents"), col("cum_r"))
      val tot = perVal.agg(sum(col("ca")).as("na"), sum(col("cr")).as("nr"))
      cumA.join(cumR, Seq("cents"))
        .crossJoin(broadcast(tot))
        .withColumn("gap_num", abs(col("cum_a") * col("nr") - col("cum_r") * col("na")))
        .agg(max(col("gap_num")).as("d_num"), max(col("na")).as("n_a"),
          max(col("nr")).as("n_r"))
        .withColumn("ks_d",
          col("d_num").cast("double") / (col("n_a") * col("n_r")).cast("double"))
    }),

    // ---- posting-list compression planning (the search-index sizing
    // estimate): per token, doc-id postings delta-encode to gaps whose
    // varint width is an exact CASE ladder (log-free), rolled up by
    // doc-frequency magnitude bucket — "what does the inverted index cost
    // on disk, and where does delta+varint pay". Per-token gap windows are
    // posting-list-local (a production indexer shards hot terms; here the
    // corpus bounds df). ----
    "q294_posting_compression" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val posts = t(s, dir, "documents")
        .transform(graft.ops.Par.spread(_, col("doc_id")))
        .select(col("doc_id"), explode(array_distinct(TextAnalysis.tokens(col("text"))))
          .as("tok"))
      val wTok = W.partitionBy(col("tok")).orderBy(col("doc_id"))
      val gaps = posts
        .withColumn("gap", col("doc_id") - coalesce(lag(col("doc_id"), 1).over(wTok), lit(0L)))
        .withColumn("vbytes",
          when(col("gap") < 128L, 1L).when(col("gap") < 16384L, 2L)
            .when(col("gap") < 2097152L, 3L).when(col("gap") < 268435456L, 4L)
            .otherwise(5L))
      val perTok = gaps.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"), sum(col("vbytes")).as("vb"))
      perTok
        .withColumn("df_bucket",
          when(col("df") < 10L, lit("1-9")).when(col("df") < 100L, lit("10-99"))
            .when(col("df") < 1000L, lit("100-999")).otherwise(lit("1000+")))
        .groupBy(col("df_bucket"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("df")).cast("long").as("total_postings"),
          (sum(col("df")) * 8L).cast("long").as("raw_bytes"),
          sum(col("vb")).cast("long").as("varint_bytes"))
        .withColumn("compression_ratio",
          col("raw_bytes").cast("double") / col("varint_bytes").cast("double"))
        .orderBy(col("df_bucket"))
    }),

    // ---- Merkle-localized repair costing (q257's manifest earning its
    // keep): against a deterministically mutated copy (every 101st doc's
    // text flips), leaf-level digests locate the damage and the repair
    // bill is ONLY the rows in differing leaves — reported next to the
    // full-table cost a flat fingerprint mismatch would imply. ----
    "q295_merkle_repair" -> ((s, dir) => {
      def leaves(mutate: Boolean) = {
        val d = t(s, dir, "documents")
        val txt = if (mutate)
          when(col("doc_id") % 101 === 0, concat(col("text"), lit(" CORRUPT")))
            .otherwise(col("text"))
        else col("text")
        d.select(col("source"), pmod(col("doc_id"), lit(64)).as("bucket"),
            md5(concat_ws("|", col("doc_id"), txt)).as("rh"))
          .groupBy(col("source"), col("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            md5(concat_ws("", array_sort(collect_list(col("rh"))))).as("leaf"))
      }
      val a = leaves(mutate = false)
      val b = leaves(mutate = true)
        .withColumnsRenamed(Map("n_rows" -> "n_rows_b", "leaf" -> "leaf_b"))
      a.join(b, Seq("source", "bucket"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_leaves"),
          sum(when(col("leaf") =!= col("leaf_b"), 1L).otherwise(0L)).cast("long")
            .as("dirty_leaves"),
          sum(col("n_rows")).cast("long").as("total_rows"),
          sum(when(col("leaf") =!= col("leaf_b"), col("n_rows")).otherwise(0L))
            .cast("long").as("repair_rows"))
        .withColumn("repair_share",
          col("repair_rows").cast("double") / col("total_rows").cast("double"))
        .orderBy(col("source"))
    }),

    // ---- VARIANT semi-structured path (Spark 4's shredded JSON type — the
    // open-table-format answer to schemaless props columns) + parameterized
    // SQL: props parse ONCE to VARIANT, typed variant_get extraction, and
    // the rollup runs through sql() with a named parameter (no string
    // interpolation of values into query text). ----
    "q296_variant_props" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"), parse_json(col("props")).as("v"))
        .withColumn("k", expr("variant_get(v, '$.k', 'long')"))
        .createOrReplaceTempView("v_props_q296")
      s.sql(
        """SELECT event_type, COUNT(*) AS n, COUNT(k) AS n_with_k,
          |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k,
          |  CAST(SUM(CASE WHEN k >= :thresh THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_thresh
          |FROM v_props_q296 GROUP BY event_type ORDER BY event_type""".stripMargin,
        Map("thresh" -> 50))
    }),

    // ---- NATIVE session_window aggregation (Spark's built-in session
    // operator, batch mode — the declarative twin of q92's custom-state
    // streaming sessions and q289's typed mapGroups): a new session opens
    // when the gap reaches 30 minutes EXACTLY (≥, the operator's closed
    // lower bound — the oracle mirrors it in integer microseconds, where
    // sub-second timestamps make > vs ≥ a real difference). Per user:
    // session count, events, and the longest wall-clock session span. ----
    // ---- DYNAMIC-gap native session windows (q297's sibling): the gap is
    // a per-event EXPRESSION (views 20 min, everything else 40 min), so a
    // session's end is max(ts+gap) over its merged events — the
    // engagement-dependent timeout shape. Oracle mirrors the merge rule
    // with a running max of (us+gap) per user: a new session starts iff
    // the event lands at-or-after every previous event's window end ----
    "q320_dynamic_session_window" -> ((s, dir) => {
      val gap = when(col("event_type") === "view", lit("20 minutes"))
        .otherwise(lit("40 minutes"))
      val sw = t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), gap))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("span_us",
          expr("unix_micros(session_window.end) - unix_micros(session_window.start)"))
      sw.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events"),
          max(col("span_us")).as("max_span_us"))
        .orderBy(col("user_id"))
    }),

    // ---- NATIVE session_window in batch mode (fixed 30-min gap): Spark's
    // own session operator gated against the LAG-gap island oracle —
    // per-user session counts, event totals, and the widest span ----
    "q297_session_window_native" -> ((s, dir) => {
      val sw = t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("span_us",
          expr("unix_micros(session_window.end) - unix_micros(session_window.start)"))
      sw.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events"),
          max(col("span_us")).as("max_span_us"))
        .orderBy(col("user_id"))
    }),

    // ---- exact cross-doc substring dedup (Lee et al. 2021 ExactSubstr,
    // the span-REMOVAL transform q286 only measures): positions whose
    // 8-gram occurs in ≥ 2 DISTINCT docs merge into maximal runs, runs
    // union into disjoint token spans, every covered token is cut; output
    // is the cleaned corpus row-for-row. Distributed gram index — no
    // suffix array, no pairs; oracle rebuilds the same spans and cleaned
    // strings from unnest+window SQL. ----
    "q298_remove_shared_spans" -> ((s, dir) =>
      graft.ops.Dedup.removeSharedSpans(
          t(s, dir, "documents"), "doc_id", "text", n = 8, minDocs = 2)
        .orderBy(col("doc_id"))),

    // ---- stream-stream LEFT OUTER interval join (q273's inner form plus
    // watermark-driven null emission): views with no purchase within 30
    // minutes surface ONCE with null purchase_id when the watermark passes
    // their match window — the "which impressions never converted" stream.
    // Gate: matched rows always emit; unmatched rows emit iff their window
    // closed under the end-of-input watermark (min of the two streams'
    // max event times, integer microseconds — the q92 deterministic-subset
    // device applied to outer joins) ----
    // ---- FULL-outer stream-stream join: q300's attribution-completeness
    // form extended to BOTH sides — unmatched views null-pad when the
    // watermark passes the end of their match window (vus+skew), unmatched
    // purchases when it passes their own event time (a purchase can match
    // any future view until the watermark reaches it); matched rows emit
    // immediately. Same deterministic-subset gate: the oracle filters the
    // two null-padded arms on integer-microsecond event time (the q300
    // left-outer contract comment above applies to the view side) ----
    "q313_stream_full_outer_join" -> ((s, dir) => {
      // MULTI-BATCH feed (time-split thirds): null arms for batch-k rows
      // can emit when batch k+1 advances the watermark - the mid-stream
      // outer-emission path; the FINAL emitted set still equals the
      // end-of-input closed-window set, same oracle
      def stream = Tables.eventsStreamBatched(s, dir, mode = "time")
      val views = stream.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("event_id").as("purchase_id"))
      // state partitions sized to the feed (see q273 / StreamOps.withStateParts)
      graft.streaming.StreamOps.withStateParts(s,
        new java.io.File(s"$dir/events.parquet").length()) {
        graft.streaming.StreamOps.runToMemory(s,
          graft.streaming.StreamOps.streamStreamJoin(views, purchases, key = "user_id",
            leftTs = "ts", rightTs = "pts", skew = "30 minutes",
            watermark = "0 seconds", joinType = "full_outer")
            .select(col("view_id"), col("purchase_id")), "q313_mem")
      }.orderBy(col("view_id"), col("purchase_id"))
    }),

    // ---- LEFT-outer stream-stream join (attribution completeness,
    // watermark-driven null emission): views with no purchase within 30
    // minutes surface ONCE with null purchase_id when the watermark passes
    // their match window — the "which impressions never converted" stream;
    // unmatched rows gate iff their window closed under the end-of-input
    // watermark (min of the two streams' max event times) ----
    "q300_stream_outer_join" -> ((s, dir) => {
      // MULTI-BATCH feed (time-split thirds) - see q313's note
      def stream = Tables.eventsStreamBatched(s, dir, mode = "time")
      val views = stream.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("event_id").as("purchase_id"))
      // state partitions sized to the feed (see q273 / StreamOps.withStateParts)
      graft.streaming.StreamOps.withStateParts(s,
        new java.io.File(s"$dir/events.parquet").length()) {
        graft.streaming.StreamOps.runToMemory(s,
          graft.streaming.StreamOps.streamStreamJoin(views, purchases, key = "user_id",
            leftTs = "ts", rightTs = "pts", skew = "30 minutes",
            watermark = "0 seconds", joinType = "left_outer")
            .select(col("view_id"), col("purchase_id")), "q300_mem")
      }.orderBy(col("view_id"), col("purchase_id"))
    }),

    // ---- STREAMING near-dup detection ("dedupe while crawling"): minhash
    // bands on the document stream, a stateful-v2 ListState bucket machine
    // emitting each arrival's candidate pairs against everything already
    // seen, then the batch exact verify — at the 16×6 recall-1.0 band
    // config the verified output EQUALS exact all-pairs Jaccard (the
    // q24/q85 gate device), so the oracle is the plain all-pairs edge set ----
    "q309_stream_neardup" -> ((s, dir) => {
      // fused stream→verify path: the index carries (fsig, set size) per
      // member, so exact-duplicate cliques expand from band 0 only and the
      // size-ratio prefilter runs INSIDE the expansion join — no candidate
      // distinct is ever materialized (the verify's shuffle arm dedups the
      // ratio survivors). Verify itself is the cascade's machinery: hashed
      // word sets (8-byte tokens — string arrays per pair OOM'd a 1g
      // driver at sf0.1's 190k-pair families), native sorted long merge,
      // shuffle attach (no broadcast of the set table).
      // MULTI-BATCH feed (md5 mod 3): buckets grow across batches ("index
      // while crawling" for real); the expansion collapses each bucket to
      // its LATEST membership row, so pair volume stays single-batch-sized
      graft.streaming.StreamOps.streamingVerifiedNearDups(
          s, Tables.documentsStreamBatched(s, dir, mode = "hash"),
          t(s, dir, "documents"),
          "doc_id", "text", threshold = 0.95, numHashes = 96, bands = 16)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- warm-started streaming balances via transformWithState INITIAL
    // STATE (stateful v2): per-user state seeded from the customer acctbal
    // snapshot BEFORE the first batch, purchase cents folded on top — the
    // batch-to-streaming migration shape; two ValueStates (immutable
    // snapshot, running balance) per key ----
    "q306_tws_initial_state" -> ((s, dir) =>
      // MULTI-BATCH feed (md5 mod 3): the warm-started balance folds across
      // >=2 state handoffs; n_purchases is cumulative, so the final state
      // is the max-n emission per user — same oracle as single-batch
      graft.streaming.StreamOps.balancesV2(s,
          Tables.eventsStreamBatched(s, dir, mode = "hash"),
          t(s, dir, "customer").select(col("c_custkey"),
            round(col("c_acctbal") * 100).cast("long").as("start_cents")))
        .groupBy(col("user_id"))
        .agg(max_by(col("start_cents"), col("n_purchases")).as("start_cents"),
          max_by(col("end_cents"), col("n_purchases")).as("end_cents"),
          max(col("n_purchases")).as("n_purchases"))
        .orderBy(col("user_id"))),

    // ---- gap sessions via transformWithState EVENT-TIME TIMERS (stateful
    // v2): in-batch closes emit immediately, the open tail parks in
    // ValueState under a timer at end+gap and is flushed when the
    // end-of-input watermark passes it — q92's session semantics rebuilt
    // on the v2 timer API, same deterministic-subset gate ----
    "q304_tws_timers" -> ((s, dir) =>
      // MULTI-BATCH feed (time-split thirds): timers registered in one
      // batch fire when a LATER batch advances the watermark — the v2
      // timer path the single-batch feed could only exercise at end-of-
      // input. Sessions straddling a cut extend parked state (the
      // min/max merge); the emitted set is unchanged, same oracle.
      graft.streaming.StreamOps.sessionsV2(s,
          Tables.eventsStreamBatched(s, dir, mode = "time"),
          gapMinutes = 30, watermark = "0 seconds")
        .orderBy(col("user_id"), col("start_us"))),

    // ---- first-k events per user via transformWithState ListState: keep
    // the k smallest (ts, event_id) — a commutative idempotent fold, so
    // the final ranked list equals the batch ROW_NUMBER()<=k twin exactly
    // regardless of arrival order or batch boundaries ----
    "q305_tws_firstk" -> ((s, dir) => {
      // MULTI-BATCH feed (md5 mod 3): the ListState top-k merges across
      // handoffs; every emission is stamped with the key's monotone row
      // count, and the final ranked list is the max-n_seen emission
      val raw = graft.streaming.StreamOps
        .firstKV2(s, Tables.eventsStreamBatched(s, dir, mode = "hash"), k = 3)
      val last = raw.groupBy(col("user_id").as("u"))
        .agg(max(col("n_seen")).as("n_seen"))
      raw.join(last, raw("user_id") === col("u") && raw("n_seen") === last("n_seen"))
        .select(raw("user_id"), col("rank"), col("event_id"),
          col("event_type"), col("cents"))
        .orderBy(col("user_id"), col("rank"))
    }),

    // ---- per-user per-type running counts via Spark 4's transformWithState
    // (stateful v2): MapState[event_type → count] per user under the
    // RocksDB state store provider (required by the v2 API; also the
    // at-scale answer — state off-heap, spilling to disk). Single-batch
    // feed ⇒ every emitted row is final: counts equal the batch GROUP BY
    // twin, n_types the user's distinct-type cardinality read off the
    // map's key set ----
    "q303_transform_with_state" -> ((s, dir) => {
      // MULTI-BATCH feed (md5 mod 3): MapState counts accumulate across
      // handoffs. Per (user, type) the final count is the max emission
      // (counts are monotone); n_types is per-USER monotone, so it is
      // finalized separately — a type untouched after the user's map grew
      // would otherwise carry its stale cardinality
      val raw = graft.streaming.StreamOps
        .typeCountsV2(s, Tables.eventsStreamBatched(s, dir, mode = "hash"))
      val counts = raw.groupBy(col("user_id"), col("event_type"))
        .agg(max(col("n")).as("n"))
      // toDF rename: both aggregates descend from the same memory-table
      // view, so qualified access stays ambiguous (identical attribute ids)
      val ntypes = raw.toDF("u2", "t2", "n2", "nt2")
        .groupBy(col("u2")).agg(max(col("nt2")).as("n_types"))
      counts.join(ntypes, counts("user_id") === col("u2"))
        .select(col("user_id"), col("event_type"), col("n"), col("n_types"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ---- keep-one-copy substring dedup (q298's remove-all flipped to the
    // canonical-owner policy): each shared 8-gram keeps its copy in the
    // minimum doc_id and is cut everywhere else — one surviving copy per
    // shared run corpus-wide, deterministic because min(doc_id) is a
    // canonical order (no scan-order dependence) ----
    "q299_keep_owner_spans" -> ((s, dir) =>
      graft.ops.Dedup.removeSharedSpans(
          t(s, dir, "documents"), "doc_id", "text", n = 8, minDocs = 2,
          keepMinOwner = true)
        .orderBy(col("doc_id"))),

    // ---- two-level Merkle manifest per source (dataset-versioning device;
    // complements q171's flat commutative fingerprint by LOCALIZING any
    // mismatch to a leaf instead of "somewhere in the table") ----
    "q257_merkle_manifest" -> ((s, dir) => {
      graft.ops.Sketches.merkleManifest(
        t(s, dir, "documents"),
        Seq(col("source")),
        col("doc_id"),
        concat_ws("|", col("doc_id"), col("text")),
        buckets = 64)
        .orderBy(col("source"))
    }),

    // ---- PII redaction: emails, urls, and digit runs masked with type
    // tags — chained codegen'd regexp_replace, one row-local map pass
    // (the pre-training scrub every corpus pipeline runs) ----
    "q76_pii_redaction" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.redactPII(col("text")).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    // ---- explicit GROUPING SETS (neither rollup nor cube) + grouping()
    // through the SQL surface ----
    "q54_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("v_orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          |  COUNT(*) AS n_orders
          |FROM v_orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |                        (o_orderstatus), (o_orderpriority))
          |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
          |         g_status, g_prio""".stripMargin)
    })
  )

  /** For each key in `queries`, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omit for non-SQL-expressible ops → driver records a
    * weaker rows-only check.
    */
  /** q103's oracle, generated: fixed PageRank iterations unrolled as chained
    * CTEs over the q100 edge graph. Every arithmetic step is DuckDB's exact
    * integer floor division `//` — the mirror of the operator's `div` — so
    * agreement is unconditional (no double rounding anywhere). SUM over
    * BIGINT widens to HUGEINT in DuckDB; the final ::BIGINT restores the
    * schema.
    */
  /** q130's oracle, generated: k-core peeling unrolled as chained CTEs —
    * each round keeps edges whose BOTH endpoints have round-local degree
    * ≥ k. `rounds` must be ≥ the data's rounds-to-stable (measured 2–4 at
    * every SF; 8 leaves 2× margin) — if the oracle hasn't converged the
    * gate goes red, which is the correct failure direction.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs at each use
    // site, and a round referencing its predecessor 3× would expand the
    // base scan 3^rounds times (measured: "too many open files" at 8
    // rounds before this)
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin
    val rounds_ = (1 to rounds).flatMap { i =>
      val p = s"e${i - 1}"
      Seq(
        s"""d$i AS MATERIALIZED (
           |  SELECT node FROM (SELECT u AS node FROM $p UNION ALL SELECT v FROM $p)
           |  GROUP BY node HAVING COUNT(*) >= $k)""".stripMargin,
        s"""e$i AS MATERIALIZED (
           |  SELECT e.u, e.v FROM $p e
           |  JOIN d$i du ON e.u = du.node
           |  JOIN d$i dv ON e.v = dv.node)""".stripMargin)
    }
    val tail =
      s"""SELECT node AS p_partkey, CAST(COUNT(*) AS BIGINT) AS core_deg
         |FROM (SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
         |GROUP BY node ORDER BY p_partkey""".stripMargin
    (Seq(head) ++ rounds_).mkString(",\n") + "\n" + tail
  }

  /** q307's oracle, generated: c⁰ = degree, each round the per-node h-index
    * of neighbor estimates (ROW_NUMBER over value DESC, MAX(LEAST(value,
    * rank)) — the multiset h-index, tie-order invariant). Unrolled past the
    * measured convergence bound: extra rounds are identity at the fixed
    * point, so any unroll ≥ convergence matches the run-to-convergence
    * Spark loop. Every CTE MATERIALIZED (the kCoreOracleSql lesson).
    */
  /** Anti-diagonal-unrolled DTW oracle for q330: pivot each user's series
    * to `frames` PAA-sum columns, then chain one CTE layer per DP
    * anti-diagonal so every cell's three predecessors are defined in an
    * earlier layer — the same cell order the Spark column unroll uses.
    */
  private def dtwOracleSql(frameDays: Int, frames: Int): String = {
    val half = frames / 2
    val span = frameDays * frames - 1
    val pivotCols = (0 until frames).map(k =>
      s"    SUM(CASE WHEN w = $k THEN c ELSE 0 END) AS f$k").mkString(",\n")
    val sb = new StringBuilder
    sb.append(
      s"""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         |b AS (SELECT MIN(day) AS d0 FROM ev),
         |paa AS (
         |  SELECT user_id, date_diff('day', b.d0, ev.day) // $frameDays AS w,
         |    COUNT(*) AS c
         |  FROM ev, b WHERE date_diff('day', b.d0, ev.day) BETWEEN 0 AND $span
         |  GROUP BY 1, 2),
         |piv AS (
         |  SELECT u.user_id,
         |$pivotCols
         |  FROM (SELECT DISTINCT user_id FROM ev) u
         |  LEFT JOIN paa ON u.user_id = paa.user_id
         |  GROUP BY u.user_id)""".stripMargin)
    var prev = "piv"
    for (d <- 2 to 2 * half) {
      val layer = s"l$d"
      val cells = (for (i <- 1 to half; j = d - i; if j >= 1 && j <= half) yield {
        val c = s"ABS(f${i - 1} - f${half + j - 1})"
        if (i == 1 && j == 1) s"$c AS d_1_1"
        else if (i == 1) s"$c + d_1_${j - 1} AS d_1_$j"
        else if (j == 1) s"$c + d_${i - 1}_1 AS d_${i}_1"
        else s"$c + LEAST(d_${i - 1}_$j, d_${i}_${j - 1}, d_${i - 1}_${j - 1})" +
          s" AS d_${i}_$j"
      }).mkString(", ")
      sb.append(s",\n$layer AS (SELECT *, $cells FROM $prev)")
      prev = layer
    }
    sb.append(
      s"\nSELECT user_id, CAST(d_${half}_$half AS BIGINT) AS dtw FROM $prev" +
        " ORDER BY user_id")
    sb.toString
  }

  /** Round-unrolled oracle for q310: a_i = still-active nodes after round
    * i, m_i = round-i MIS winners (local priority minima among active
    * neighbors; a node with no active neighbor wins by default). Rounds
    * past convergence have empty a/m CTEs — harmless, so the unroll bound
    * only needs to be ≥ the measured convergence at the largest SF.
    */
  private def misOracleSql(rounds: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
        |a0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, md5(CAST(src AS VARCHAR)) AS pri FROM sym)""".stripMargin
    val rounds_ = (1 to rounds).flatMap { i =>
      Seq(
        s"""m$i AS MATERIALIZED (
           |  SELECT a.node FROM a${i - 1} a LEFT JOIN (
           |    SELECT s.dst AS node, MIN(p.pri) AS minp
           |    FROM sym s JOIN a${i - 1} p ON s.src = p.node
           |    JOIN a${i - 1} q ON s.dst = q.node
           |    GROUP BY s.dst) n ON a.node = n.node
           |  WHERE n.minp IS NULL OR a.pri < n.minp)""".stripMargin,
        s"""a$i AS MATERIALIZED (
           |  SELECT a.node, a.pri FROM a${i - 1} a
           |  WHERE a.node NOT IN (SELECT node FROM m$i)
           |    AND a.node NOT IN (SELECT s.dst FROM sym s JOIN m$i m ON s.src = m.node))""".stripMargin)
    }
    val unions = (1 to rounds)
      .map(i => s"SELECT node, CAST($i AS INT) AS round FROM m$i")
      .mkString(" UNION ALL ")
    (Seq(head) ++ rounds_).mkString(",\n") +
      s"\nSELECT node AS p_partkey, round FROM ($unions) ORDER BY p_partkey"
  }

  /** Step-unrolled oracle for q311: w_t = each walk's position after t
    * hops; the md5-mod-degree index arithmetic mirrors the Spark side
    * digit for digit (15 hex chars → 60-bit positive BIGINT, % deg).
    */
  private def walkOracleSql(steps: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
        |adj AS MATERIALIZED (
        |  SELECT src AS anode, list(dst ORDER BY dst) AS nbrs, COUNT(*) AS deg
        |  FROM sym GROUP BY src),
        |w0 AS MATERIALIZED (SELECT anode AS start, anode AS cur FROM adj)""".stripMargin
    val steps_ = (1 to steps).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT w.start, a.nbrs[CAST(
         |    ('0x' || substr(md5(CAST(w.start AS VARCHAR) || ':$t:' || CAST(w.cur AS VARCHAR)), 1, 15))::BIGINT
         |      % a.deg AS INT) + 1] AS cur
         |  FROM w${t - 1} w JOIN adj a ON w.cur = a.anode)""".stripMargin
    }
    val unions = (0 to steps)
      .map(t => s"SELECT start, CAST($t AS INT) AS step, cur AS node FROM w$t")
      .mkString(" UNION ALL ")
    (Seq(head) ++ steps_).mkString(",\n") +
      s"\nSELECT start AS start_node, step, node FROM ($unions) ORDER BY start_node, step"
  }

  /** Round-unrolled oracle for q314: c_r = per-node WL color after r
    * refinements; string_agg(ORDER BY color) mirrors Spark's
    * concat_ws(sort_array(collect_list)) on ASCII hex strings.
    */
  private def wlOracleSql(rounds: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
        |c0 AS MATERIALIZED (
        |  SELECT src AS node, md5(CAST(COUNT(*) AS VARCHAR)) AS color FROM sym GROUP BY src)""".stripMargin
    val rounds_ = (1 to rounds).flatMap { r =>
      Seq(
        s"""n$r AS MATERIALIZED (
           |  SELECT s.dst AS node, string_agg(c.color, ',' ORDER BY c.color) AS sig
           |  FROM sym s JOIN c${r - 1} c ON s.src = c.node GROUP BY s.dst)""".stripMargin,
        s"""c$r AS MATERIALIZED (
           |  SELECT c.node, md5(c.color || '|' || n.sig) AS color
           |  FROM c${r - 1} c JOIN n$r n ON c.node = n.node)""".stripMargin)
    }
    (Seq(head) ++ rounds_).mkString(",\n") +
      s"\nSELECT node AS p_partkey, color AS wl_color FROM c$rounds ORDER BY p_partkey"
  }

  /** k-unrolled oracle for q316: d_r carries each remaining point's exact
    * integer min-distance to the first r centers; c_r picks the next
    * center (max dmin, ties → min id). All arithmetic on the same
    * 1e6-scaled integer vectors as the Spark side.
    */
  private def kcenterOracleSql(k: Int): String = {
    val head =
      """WITH v AS MATERIALIZED (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |  FROM embeddings),
        |c1 AS MATERIALIZED (SELECT vec_id, iv FROM v ORDER BY vec_id LIMIT 1),
        |d1 AS MATERIALIZED (
        |  SELECT v.vec_id, v.iv,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (v.iv[i] - c.iv[i]) * (v.iv[i] - c.iv[i]))) AS BIGINT) AS dmin
        |  FROM v, c1 c WHERE v.vec_id <> c.vec_id)""".stripMargin
    val rounds_ = (2 to k).flatMap { r =>
      Seq(
        s"""c$r AS MATERIALIZED (
           |  SELECT vec_id, iv, dmin FROM d${r - 1} ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin,
        s"""d$r AS MATERIALIZED (
           |  SELECT d.vec_id, d.iv,
           |    LEAST(d.dmin, CAST(list_sum(list_transform(range(1, 65),
           |      i -> (d.iv[i] - c.iv[i]) * (d.iv[i] - c.iv[i]))) AS BIGINT)) AS dmin
           |  FROM d${r - 1} d, c$r c WHERE d.vec_id <> c.vec_id)""".stripMargin)
    }
    val unions = (s"SELECT 1 AS pick_rank, vec_id, CAST(NULL AS BIGINT) AS d2 FROM c1" +:
      (2 to k).map(r => s"SELECT $r AS pick_rank, vec_id, dmin AS d2 FROM c$r")).mkString(" UNION ALL ")
    (Seq(head) ++ rounds_).mkString(",\n") +
      s"\nSELECT CAST(pick_rank AS INT) AS pick_rank, vec_id, d2 FROM ($unions) ORDER BY pick_rank"
  }

  /** Round-unrolled oracle for q317: a_r = still-active edges, m_r = the
    * round-r matching winners (strict minimum at BOTH endpoints' incident
    * minima), taken_r = their endpoints.
    */
  private def matchingOracleSql(rounds: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |a0 AS MATERIALIZED (
        |  SELECT u, v, md5(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)) AS pri FROM e0)""".stripMargin
    val rounds_ = (1 to rounds).flatMap { r =>
      Seq(
        s"""nm$r AS MATERIALIZED (
           |  SELECT node, MIN(pri) AS mp FROM (
           |    SELECT u AS node, pri FROM a${r - 1}
           |    UNION ALL SELECT v AS node, pri FROM a${r - 1})
           |  GROUP BY node)""".stripMargin,
        s"""m$r AS MATERIALIZED (
           |  SELECT e.u, e.v FROM a${r - 1} e
           |  JOIN nm$r x ON e.u = x.node JOIN nm$r y ON e.v = y.node
           |  WHERE e.pri = x.mp AND e.pri = y.mp)""".stripMargin,
        s"""a$r AS MATERIALIZED (
           |  SELECT e.* FROM a${r - 1} e
           |  WHERE e.u NOT IN (SELECT u FROM m$r UNION ALL SELECT v FROM m$r)
           |    AND e.v NOT IN (SELECT u FROM m$r UNION ALL SELECT v FROM m$r))""".stripMargin)
    }
    val unions = (1 to rounds)
      .map(r => s"SELECT u, v, CAST($r AS INT) AS round FROM m$r")
      .mkString(" UNION ALL ")
    (Seq(head) ++ rounds_).mkString(",\n") +
      s"\nSELECT u AS part_a, v AS part_b, round FROM ($unions) ORDER BY part_a"
  }

  /** q333's oracle, generated: md5-min start node, `rounds`-unrolled
    * min-dist BFS (extra rounds past the eccentricity are identity, the
    * q307 unroll-invariance device), farthest node with md5 tie-break,
    * second unrolled BFS — the double-sweep trajectory cell-for-cell.
    */
  private def diameterOracleSql(rounds: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
        |s1 AS MATERIALIZED (
        |  SELECT node FROM (SELECT DISTINCT src AS node FROM sym) n
        |  ORDER BY md5('dia:' || CAST(node AS VARCHAR)) LIMIT 1),
        |a0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM s1)""".stripMargin
    def bfs(pre: String, i: Int) =
      s"""$pre$i AS MATERIALIZED (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM $pre${i - 1}
         |    UNION ALL SELECT s.dst, p.dist + 1 FROM $pre${i - 1} p JOIN sym s ON p.node = s.src) x
         |  GROUP BY node)""".stripMargin
    val sweep1 = (1 to rounds).map(bfs("a", _))
    val mid =
      s"""e1 AS MATERIALIZED (SELECT MAX(dist) AS ecc FROM a$rounds),
         |s2 AS MATERIALIZED (
         |  SELECT node FROM a$rounds, e1 WHERE dist = ecc
         |  ORDER BY md5('dia:' || CAST(node AS VARCHAR)) LIMIT 1),
         |b0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM s2)""".stripMargin
    val sweep2 = (1 to rounds).map(bfs("b", _))
    val tail =
      s"""e2 AS MATERIALIZED (SELECT MAX(dist) AS ecc FROM b$rounds),
         |tn AS MATERIALIZED (
         |  SELECT node FROM b$rounds, e2 WHERE dist = ecc
         |  ORDER BY md5('dia:' || CAST(node AS VARCHAR)) LIMIT 1)
         |SELECT (SELECT node FROM s1) AS start_node,
         |  (SELECT ecc FROM e1) AS ecc_start,
         |  (SELECT node FROM s2) AS peripheral_node,
         |  (SELECT ecc FROM e2) AS diameter_lb,
         |  (SELECT node FROM tn) AS far_node,
         |  (SELECT COUNT(*) FROM b$rounds) AS n_reached""".stripMargin
    (Seq(head) ++ sweep1 ++ Seq(mid) ++ sweep2).mkString(",\n") + ",\n" + tail
  }

  private def corenessOracleSql(rounds: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
        |c0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS c FROM sym GROUP BY src)""".stripMargin
    val rounds_ = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT dst AS node, MAX(LEAST(cval, rn)) AS c FROM (
         |    SELECT s.dst, l.c AS cval,
         |      ROW_NUMBER() OVER (PARTITION BY s.dst ORDER BY l.c DESC) AS rn
         |    FROM sym s JOIN c${i - 1} l ON s.src = l.node) GROUP BY dst)""".stripMargin
    }
    (Seq(head) ++ rounds_).mkString(",\n") +
      s"\nSELECT node AS p_partkey, CAST(c AS BIGINT) AS coreness FROM c$rounds ORDER BY p_partkey"
  }

  /** Shared CTE chain for the q301/q302 oracles: co-supply edges → symmetric
    * adjacency → label rounds l0..l{rounds}, each round voting by neighbor
    * label frequency with ties to the minimum label (ROW_NUMBER ordered
    * (c DESC, label) mirrors Spark's `max_by(label, (c, −label))`). Every
    * CTE is MATERIALIZED — the kCoreOracleSql lesson: DuckDB inlines plain
    * CTEs per use site and a round referenced twice would double the
    * expansion each round.
    */
  private def lpaOracleCtes(rounds: Int, weighted: Boolean = false): String = {
    val head =
      if (weighted)
        """WITH li AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
          |e0 AS MATERIALIZED (
          |  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
          |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY a.l_partkey, b.l_partkey),
          |sym AS MATERIALIZED (
          |  SELECT u AS src, v AS dst, w FROM e0 UNION ALL SELECT v AS src, u AS dst, w FROM e0),
          |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym)""".stripMargin
      else
        """WITH li AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
          |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
          |e0 AS MATERIALIZED (
          |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |sym AS MATERIALIZED (
          |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
          |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym)""".stripMargin
    val vote = if (weighted) "SUM(s.w)" else "COUNT(*)"
    val rounds_ = (1 to rounds).flatMap { i =>
      Seq(
        s"""v$i AS MATERIALIZED (
           |  SELECT s.src, l.label, $vote AS c
           |  FROM sym s JOIN l${i - 1} l ON s.dst = l.node
           |  GROUP BY s.src, l.label)""".stripMargin,
        s"""l$i AS MATERIALIZED (
           |  SELECT src AS node, label FROM (
           |    SELECT src, label,
           |      ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, label) AS rn
           |    FROM v$i) WHERE rn = 1)""".stripMargin)
    }
    (Seq(head) ++ rounds_).mkString(",\n")
  }

  private def pageRankOracleSql(iters: Int): String = {
    val head =
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v AS src, u AS dst FROM edges),
        |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
        |params AS (SELECT COUNT(*)::BIGINT AS n FROM deg),
        |r0 AS (SELECT src AS node, (1000000000000 // n)::BIGINT AS rank FROM deg, params)""".stripMargin
    val its = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s""",
         |it$i AS (
         |  SELECT d.src AS node,
         |    (((3 * 1000000000000) // (20 * p.n)) + ((17 * COALESCE(m.in_mass, 0)) // 20))::BIGINT AS rank
         |  FROM deg d CROSS JOIN params p
         |  LEFT JOIN (
         |    SELECT s.dst, SUM(r.rank // dg.deg) AS in_mass
         |    FROM $prev r JOIN deg dg ON r.node = dg.src JOIN sym s ON s.src = r.node
         |    GROUP BY s.dst) m ON m.dst = d.src)""".stripMargin
    }.mkString
    head + its + s"\nSELECT node AS p_partkey, rank FROM it$iters ORDER BY p_partkey"
  }

  /** q342's oracle, generated: `rounds`-unrolled average-degree peel. Per
    * round, a snapshot row (round, n, m) while the graph is nonempty, and
    * the next edge set keeps only endpoints with d·n > 2·m (exact integer
    * cross-multiply). Rounds past the empty graph contribute no rows, so
    * any unroll ≥ the measured round count (≤ 10 on the test graphs)
    * gates.
    */
  private def densestPeelOracleSql(rounds: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin
    val per = (0 until rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, COUNT(*) AS d FROM (
         |    SELECT u AS node FROM e$i UNION ALL SELECT v FROM e$i) GROUP BY node),
         |st$i AS MATERIALIZED (
         |  SELECT COUNT(*) AS n, COALESCE(SUM(d), 0) // 2 AS m FROM d$i),
         |e${i + 1} AS MATERIALIZED (
         |  SELECT u, v FROM e$i
         |  WHERE u IN (SELECT node FROM d$i, st$i WHERE d * n > 2 * m)
         |    AND v IN (SELECT node FROM d$i, st$i WHERE d * n > 2 * m))""".stripMargin
    }
    val rows = (0 until rounds).map { i =>
      s"""SELECT $i AS round, CAST(n AS BIGINT) AS n_nodes, CAST(m AS BIGINT) AS n_edges,
         |  CAST(m AS DOUBLE) / CAST(n AS DOUBLE) AS density
         |FROM st$i WHERE n > 0""".stripMargin
    }
    (Seq(head) ++ per).mkString(",\n") + "\n" +
      rows.mkString("\nUNION ALL\n") + "\nORDER BY round"
  }

  /** q335's oracle, generated: `rounds`-unrolled support-peel. Each round
    * recomputes per-edge triangle support on the previous round's edge set
    * (the q100 orientation device, credited to all three edges) and keeps
    * support ≥ k−2; the edge set only shrinks, so rounds past the measured
    * fixpoint (≤5 on the test graphs) are identity. Final SELECT
    * recomputes support on the converged set — matching the operator's
    * output contract (u, v, in-truss support).
    */
  private def kTrussOracleSql(k: Int, rounds: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin
    def supCte(src: String, name: String) =
      s"""$name AS MATERIALIZED (
         |  WITH deg AS (SELECT node, count(*) AS d
         |    FROM (SELECT u AS node FROM $src UNION ALL SELECT v FROM $src) GROUP BY node),
         |  ori AS (
         |    SELECT CASE WHEN (du.d, x.u) < (dv.d, x.v) THEN x.u ELSE x.v END AS src,
         |           CASE WHEN (du.d, x.u) < (dv.d, x.v) THEN x.v ELSE x.u END AS dst,
         |           CASE WHEN (du.d, x.u) < (dv.d, x.v) THEN dv.d ELSE du.d END AS dst_d
         |    FROM $src x JOIN deg du ON x.u = du.node JOIN deg dv ON x.v = dv.node),
         |  tri AS (
         |    SELECT t1.src AS a, t1.dst AS b, t2.dst AS c
         |    FROM ori t1
         |    JOIN ori t2 ON t1.src = t2.src AND (t1.dst_d, t1.dst) < (t2.dst_d, t2.dst)
         |    JOIN ori t3 ON t3.src = t1.dst AND t3.dst = t2.dst)
         |  SELECT LEAST(a,b) AS u, GREATEST(a,b) AS v, COUNT(*) AS s FROM (
         |    SELECT a, b FROM tri UNION ALL SELECT a, c FROM tri UNION ALL SELECT b, c FROM tri)
         |    t(a,b) GROUP BY 1, 2)""".stripMargin
    val rounds_ = (1 to rounds).flatMap { i =>
      Seq(supCte(s"e${i - 1}", s"s$i"),
        s"""e$i AS MATERIALIZED (
           |  SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN s$i ON e.u = s$i.u AND e.v = s$i.v WHERE s$i.s >= ${k - 2})""".stripMargin)
    }
    (Seq(head) ++ rounds_ ++ Seq(supCte(s"e$rounds", "sfin"))).mkString(",\n") +
      s"""\nSELECT e.u AS part_a, e.v AS part_b, sfin.s AS support
         |FROM e$rounds e JOIN sfin ON e.u = sfin.u AND e.v = sfin.v
         |ORDER BY part_a, part_b""".stripMargin
  }

  /** q334's oracle, generated: the q103 PageRank chain with the teleport
    * term masked to the seed set (src < 50) and r0 mass concentrated there —
    * the personalized variant, exact integer floors cell-for-cell.
    */
  private def pprOracleSql(iters: Int): String = {
    val head =
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v AS src, u AS dst FROM edges),
        |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
        |params AS (SELECT COUNT(*)::BIGINT AS ns FROM deg WHERE src < 50),
        |r0 AS (
        |  SELECT d.src AS node,
        |    (CASE WHEN d.src < 50 THEN 1000000000000 // ns ELSE 0 END)::BIGINT AS rank
        |  FROM deg d, params)""".stripMargin
    val its = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s""",
         |it$i AS (
         |  SELECT d.src AS node,
         |    ((CASE WHEN d.src < 50 THEN (3 * 1000000000000) // (20 * p.ns) ELSE 0 END)
         |     + ((17 * COALESCE(m.in_mass, 0)) // 20))::BIGINT AS rank
         |  FROM deg d CROSS JOIN params p
         |  LEFT JOIN (
         |    SELECT s.dst, SUM(r.rank // dg.deg) AS in_mass
         |    FROM $prev r JOIN deg dg ON r.node = dg.src JOIN sym s ON s.src = r.node
         |    GROUP BY s.dst) m ON m.dst = d.src)""".stripMargin
    }.mkString
    head + its +
      s"\nSELECT node AS p_partkey, rank AS ppr FROM it$iters WHERE rank > 0 ORDER BY p_partkey"
  }

  /** q218's oracle, generated: the q103 PageRank CTE chain re-used (same
    * head/iterations, different tail) — ranks by (score, node) via
    * ROW_NUMBER on both the PageRank scores and the symmetric degrees, then
    * the exact-Σd² Spearman closed form with one division at the surface.
    */
  private def spearmanOracleSql(iters: Int): String = {
    val pr = pageRankOracleSql(iters)
    val ctes = pr.substring(0, pr.lastIndexOf("\nSELECT")) // reuse head + its
    ctes +
      s""",
         |prr AS (
         |  SELECT node, ROW_NUMBER() OVER (ORDER BY rank, node) AS ra
         |  FROM it$iters),
         |dgr AS (
         |  SELECT src AS node, ROW_NUMBER() OVER (ORDER BY COUNT(*), src) AS rb
         |  FROM sym GROUP BY src),
         |j AS (
         |  SELECT CAST(pr2.ra AS DECIMAL(38,0)) - CAST(dgr.rb AS DECIMAL(38,0)) AS d
         |  FROM prr pr2 JOIN dgr ON pr2.node = dgr.node)
         |SELECT COUNT(*) AS n,
         |  1.0 - (CAST(6 AS DECIMAL(38,0)) * SUM(d * d))::DOUBLE
         |    / (CAST(COUNT(*) AS DECIMAL(38,0))
         |       * (CAST(COUNT(*) AS DECIMAL(38,0)) * CAST(COUNT(*) AS DECIMAL(38,0))
         |          - CAST(1 AS DECIMAL(38,0))))::DOUBLE AS spearman_rho
         |FROM j""".stripMargin
  }

  /** q226's oracle, generated: BPE merge rounds unrolled as chained CTEs
    * over the word-frequency dictionary. Every round CTE is MATERIALIZED
    * (§8.5#18 — pR feeds bR, bR feeds both wR and the final UNION). The
    * word rewrite mirrors the operator's left fold exactly: `list_reduce`
    * with the same suffix-test merge rule, so greedy non-overlapping
    * left-to-right semantics agree by construction.
    */
  private def bpeOracleSql(rounds: Int): String = {
    val sel = (1 to rounds).map { r =>
      s"SELECT $r AS round, ba AS left_sym, bb AS right_sym, pc AS pair_count FROM b$r"
    }.mkString("\nUNION ALL\n")
    s"${bpeCtes(rounds)}\n$sel\nORDER BY round"
  }

  /** q251's oracle: the same training CTE chain, then the final word state
    * w<rounds> becomes the token → encoding dictionary (strip spaces to
    * reconstruct the token, count symbols) joined back to the per-source
    * token stream.
    */
  private def bpeEncodeOracleSql(rounds: Int): String = {
    s"""${bpeCtes(rounds)},
       |enc AS MATERIALIZED (
       |  SELECT replace(seq, ' ', '') AS token,
       |    CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym
       |  FROM w$rounds),
       |dt AS (
       |  SELECT source, unnest(list_filter(string_split_regex(trim(text), '\\s+'),
       |    t -> t <> '')) AS token
       |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)
       |SELECT source, COUNT(*) AS n_tokens,
       |  CAST(SUM(length(token)) AS BIGINT) AS total_chars,
       |  CAST(SUM(n_sym) AS BIGINT) AS total_symbols,
       |  CAST(SUM(n_sym) AS BIGINT)::DOUBLE
       |    / CAST(SUM(length(token)) AS BIGINT)::DOUBLE AS symbols_per_char
       |FROM dt JOIN enc USING (token)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** q267's oracle: [[bpeEncodeOracleSql]] regrouped by language with each
    * language's symbols-per-char premium over English (the fairness ratio).
    */
  private def bpeFairnessOracleSql(rounds: Int): String = {
    s"""${bpeCtes(rounds)},
       |enc AS MATERIALIZED (
       |  SELECT replace(seq, ' ', '') AS token,
       |    CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym
       |  FROM w$rounds),
       |dt AS (
       |  SELECT lang, unnest(list_filter(string_split_regex(trim(text), '\\s+'),
       |    t -> t <> '')) AS token
       |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
       |pl AS (
       |  SELECT lang, COUNT(*) AS n_tokens,
       |    CAST(SUM(length(token)) AS BIGINT) AS total_chars,
       |    CAST(SUM(n_sym) AS BIGINT) AS total_symbols,
       |    CAST(SUM(n_sym) AS BIGINT)::DOUBLE
       |      / CAST(SUM(length(token)) AS BIGINT)::DOUBLE AS symbols_per_char
       |  FROM dt JOIN enc USING (token)
       |  GROUP BY lang)
       |SELECT lang, n_tokens, total_chars, total_symbols, symbols_per_char,
       |  symbols_per_char / (SELECT symbols_per_char FROM pl WHERE lang = 'en')
       |    AS premium_vs_en
       |FROM pl ORDER BY lang""".stripMargin
  }

  /** The three skipping-gate oracles, shared verbatim by the opt-in
    * reader gates (q355/q356/q361) and their planner-integrated V2 twins
    * (q377/q378/q379) — the two paths must hash identically.
    */
  private val skipDaterangeOracleSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) >= DATE '1995-06-01'
      |  AND CAST(l_shipdate AS DATE) < DATE '1995-09-01'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  private val skipZorderOracleSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_partkey <= 500 AND l_suppkey <= 25 AND l_quantity IS NOT NULL
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  private val skipBloomOracleSql: String =
    """WITH keys AS (
      |  SELECT DISTINCT l_orderkey FROM lineitem
      |  WHERE l_orderkey % 7 = 0 ORDER BY l_orderkey LIMIT 5)
      |SELECT l_orderkey, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT l_orderkey FROM keys)
      |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin

  /** The exact scaled-integer BM25 replay shared by q358 (corpus scan),
    * q360 (one-shot persisted index) and q375 (incrementally appended
    * index): all three paths must hash-match it cell for cell.
    */
  private val bm25OracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, UNNEST(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
      |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
      |totals AS (
      |  SELECT (SELECT COUNT(*) FROM toks) AS t, (SELECT COUNT(*) FROM documents) AS n),
      |tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      |  WHERE tok IN ('hash', 'merge', 'window', 'spark', 'filter', 'slow')
      |  GROUP BY 1, 2),
      |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT tf.doc_id,
      |    (22 * tf.tf * t.t * 1000) // (10 * t.t * tf.tf + 3 * t.t + 9 * dl.dl * t.n) AS w_scaled,
      |    ((2 * (t.n - d.df) + 1) * 1000) // (2 * d.df + 1) AS idf_scaled
      |  FROM tf JOIN dl USING (doc_id) JOIN dfreq d USING (tok) CROSS JOIN totals t),
      |agg AS (
      |  SELECT doc_id, CAST(SUM(idf_scaled * w_scaled) AS BIGINT) AS score,
      |    COUNT(*) AS n_hit
      |  FROM scored GROUP BY 1)
      |SELECT doc_id, n_hit, score,
      |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank
      |FROM agg ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin

  /** q374's oracle: train on the ENGLISH slice only, then apply the
    * learned merges round-by-round (unrolled e1..eN CTEs, each the same
    * list_reduce rewrite the training chain uses) to the FULL corpus's
    * distinct-token dictionary — tokens unseen at training time included,
    * which the final training state w<rounds> cannot answer for.
    */
  private def bpeEncodeUnseenOracleSql(rounds: Int): String = {
    val chain = (1 to rounds).map { r =>
      s"""e$r AS MATERIALIZED (
         |  SELECT token, list_reduce(string_split(seq, ' '), (acc, x) ->
         |    CASE WHEN (acc = ba OR ends_with(acc, ' ' || ba)) AND x = bb
         |      THEN acc || bb ELSE acc || ' ' || x END) AS seq
         |  FROM e${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"""${bpeCtes(rounds, " AND lang = 'en'")},
       |ctok AS MATERIALIZED (
       |  SELECT source, unnest(list_filter(string_split_regex(trim(text), '\\s+'),
       |    t -> t <> '')) AS token
       |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT token,
       |    trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS seq
       |  FROM ctok),
       |$chain,
       |enc AS MATERIALIZED (
       |  SELECT token, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym
       |  FROM e$rounds)
       |SELECT source, COUNT(*) AS n_tokens,
       |  CAST(SUM(n_sym) AS BIGINT) AS total_symbols
       |FROM ctok JOIN enc USING (token)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  private def bpeCtes(rounds: Int, trainWhere: String = ""): String = {
    val head =
      s"""WITH tok AS MATERIALIZED (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
        |    t -> t <> '')) AS token
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0$trainWhere),
        |w0 AS MATERIALIZED (
        |  SELECT trim(regexp_replace(token, '(.)', '\\1 ', 'g')) AS seq,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY 1)""".stripMargin
    val rounds_ = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT s[i] AS a, s[i + 1] AS b, CAST(SUM(cnt) AS BIGINT) AS pc
         |  FROM (
         |    SELECT s, cnt, unnest(generate_series(1, len(s) - 1)) AS i
         |    FROM (SELECT string_split(seq, ' ') AS s, cnt FROM w${r - 1}))
         |  GROUP BY 1, 2),
         |b$r AS MATERIALIZED (
         |  SELECT a AS ba, b AS bb, pc FROM p$r ORDER BY pc DESC, a, b LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT list_reduce(string_split(seq, ' '), (acc, x) ->
         |    CASE WHEN (acc = ba OR ends_with(acc, ' ' || ba)) AND x = bb
         |      THEN acc || bb ELSE acc || ' ' || x END) AS seq, cnt
         |  FROM w${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"$head,\n${rounds_}"
  }

  /** q234's oracle, generated: greedy max-coverage rounds unrolled as
    * chained MATERIALIZED CTEs (g/b/c per round — gains against the
    * covered-so-far set, deterministic argmax, coverage union).
    */
  private def coverageOracleSql(rounds: Int): String = {
    val head =
      """WITH dt AS MATERIALIZED (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t <> '')) AS token
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)""".stripMargin
    val rounds_ = (1 to rounds).map { r =>
      val gainSrc =
        if (r == 1) "dt"
        else s"(SELECT * FROM dt WHERE NOT EXISTS (SELECT 1 FROM c${r - 1} " +
          s"WHERE c${r - 1}.token = dt.token)) dtf"
      val prevUnion =
        if (r == 1) "" else s"SELECT token FROM c${r - 1} UNION "
      s"""g$r AS MATERIALIZED (
         |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM $gainSrc GROUP BY doc_id),
         |b$r AS MATERIALIZED (
         |  SELECT doc_id AS pick, gain FROM g$r ORDER BY gain DESC, doc_id LIMIT 1),
         |c$r AS MATERIALIZED (
         |  ${prevUnion}SELECT DISTINCT token FROM dt JOIN b$r ON dt.doc_id = b$r.pick)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to rounds).map { r =>
      s"SELECT $r AS round, pick AS picked_id, gain FROM b$r"
    }.mkString("\nUNION ALL\n")
    s"$head,\n${rounds_}\n$sel\nORDER BY round"
  }

  /** q189's oracle, generated: min-plus Bellman–Ford relaxation unrolled to
    * `rounds` CTEs over the weighted co-supply graph (weight = 1 +
    * |p_size difference|). `rounds` must be ≥ the operator's measured
    * rounds-to-fixed-point (the Spark side asserts convergence within the
    * same bound, so a disagreement is impossible rather than silent —
    * extra oracle rounds past the fixed point are no-ops).
    */
  private def ssspOracleSql(rounds: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |we AS MATERIALIZED (
        |  SELECT u, v, 1 + abs(pu.p_size - pv.p_size) AS w
        |  FROM edges JOIN part pu ON u = pu.p_partkey JOIN part pv ON v = pv.p_partkey),
        |sym AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM we UNION ALL SELECT v AS src, u AS dst, w FROM we),
        |d0 AS MATERIALIZED (
        |  SELECT node, CAST(0 AS BIGINT) AS dist FROM (
        |    SELECT DISTINCT src AS node FROM sym WHERE src < 50))""".stripMargin
    val its = (1 to rounds).map { i =>
      val prev = s"d${i - 1}"
      s""",
         |d$i AS MATERIALIZED (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM $prev
         |    UNION ALL
         |    SELECT s.dst AS node, p.dist + s.w AS dist
         |    FROM $prev p JOIN sym s ON p.node = s.src) GROUP BY node)""".stripMargin
    }.mkString
    head + its +
      s"\nSELECT node AS p_partkey, CAST(dist AS BIGINT) AS dist FROM d$rounds ORDER BY p_partkey"
  }

  /** q219's oracle, generated: weighted PageRank rounds unrolled — mass
    * src→dst is (rank·w) // Σw_out(src), the mirror of the operator's
    * `div`; rounds are MATERIALIZED (each feeds the next's join; the §8.5#18
    * rule).
    */
  private def weightedPageRankOracleSql(iters: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |we AS MATERIALIZED (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst, w FROM we
        |  UNION ALL SELECT v AS src, u AS dst, w FROM we),
        |wout AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM sym GROUP BY src),
        |params AS (SELECT COUNT(*)::BIGINT AS n FROM wout),
        |r0 AS (SELECT src AS node, (1000000000000 // n)::BIGINT AS rank FROM wout, params)""".stripMargin
    val its = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s""",
         |it$i AS MATERIALIZED (
         |  SELECT d.src AS node,
         |    (((3 * 1000000000000) // (20 * p.n)) + ((17 * COALESCE(m.in_mass, 0)) // 20))::BIGINT AS rank
         |  FROM wout d CROSS JOIN params p
         |  LEFT JOIN (
         |    SELECT s.dst, SUM((r.rank * s.w) // wo.wout) AS in_mass
         |    FROM $prev r JOIN wout wo ON r.node = wo.src JOIN sym s ON s.src = r.node
         |    GROUP BY s.dst) m ON m.dst = d.src)""".stripMargin
    }.mkString
    head + its + s"\nSELECT node AS p_partkey, rank FROM it$iters ORDER BY p_partkey"
  }

  /** q117's oracle, generated: the q82 rank rule (min v with cum-count ≥
    * ⌈p·n⌉) once per slice key and once globally, then one UNION arm per
    * decile pairing the slice value with the global value.
    */
  private def quantileNormOracleSql: String = {
    val ps = (1 to 9).map(_ * 10)
    def sel(prefix: String) = ps.map(p =>
      s"MIN(CASE WHEN cc >= ceil(0.$p * n) THEN v END) AS p$p").mkString(",\n|    ")
    val head =
      s"""WITH g AS (
         |  SELECT event_type AS k, value AS v, COUNT(*) AS c
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT k, SUM(c) AS n FROM g GROUP BY k),
         |cum AS (
         |  SELECT g.k, g.v, SUM(g.c) OVER (PARTITION BY g.k ORDER BY g.v) AS cc, t.n
         |  FROM g JOIN t USING (k)),
         |sq AS (SELECT k,
         |    ${sel("s")}
         |  FROM cum GROUP BY k),
         |gg AS (SELECT value AS v, COUNT(*) AS c FROM events WHERE value IS NOT NULL GROUP BY 1),
         |gt AS (SELECT SUM(c) AS n FROM gg),
         |gcum AS (SELECT gg.v, SUM(gg.c) OVER (ORDER BY gg.v) AS cc, gt.n FROM gg, gt),
         |gq AS (SELECT
         |    ${sel("g")}
         |  FROM gcum)""".stripMargin
    val arms = ps.map(p =>
      s"SELECT k AS event_type, $p AS pct, sq.p$p AS slice_value, gq.p$p AS global_value FROM sq, gq")
      .mkString("\n", "\nUNION ALL\n", "\n")
    head + arms + "ORDER BY event_type, pct"
  }

  def oracleSql: Map[String, String] = Map(
    // self-verifying sketch gate: DuckDB computes the exact columns and a
    // TRUE literal; Spark's boolean came from comparing the HLL estimate
    // against its own exact count — a hash mismatch means the sketch left
    // its error envelope
    "q32_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(*) AS n_rows,
        |  TRUE AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // exact-recall gate for the MinHash-LSH cascade: at 16 bands × 6 rows,
    // threshold 0.95, per-pair miss probability is ~6e-10, so the verified
    // LSH output equals exact all-pairs Jaccard over the representatives
    // (one min-id rep per distinct word set) — which DuckDB computes directly
    "q24_minhash_neardups" ->
      """WITH ws AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS ws
        |  FROM documents),
        |reps AS (
        |  SELECT MIN(doc_id) AS id, arg_min(ws, doc_id) AS ws
        |  FROM (SELECT doc_id, ws, md5(array_to_string(list_sort(ws), ' ')) AS sig FROM ws) x
        |  GROUP BY sig)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
        |      ELSE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |        len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE END AS jaccard
        |  FROM reps a JOIN reps b ON a.id < b.id) x
        |WHERE jaccard >= 0.95 ORDER BY id_a, id_b""".stripMargin,
    // recomputes the SimHash sketch from scratch: same MD5-derived token
    // hash (digest bytes 8..15 = hex chars 17..32), same +1/−1 bag votes,
    // same strict-positive sign rule, surfaced as fixed-width hex
    "q25_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS t FROM toks),
        |h AS (SELECT doc_id,
        |    ('0x' || substr(md5(t), 17, 8))::BIGINT AS hi,
        |    ('0x' || substr(md5(t), 25, 8))::BIGINT AS lo
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, bits.b AS b,
        |    SUM(CASE WHEN bits.b < 32
        |          THEN CASE WHEN (lo >> bits.b) & 1 = 1 THEN 1 ELSE -1 END
        |          ELSE CASE WHEN (hi >> (bits.b - 32)) & 1 = 1 THEN 1 ELSE -1 END END) AS v
        |  FROM h, (SELECT unnest(range(64)) AS b) bits
        |  GROUP BY doc_id, bits.b),
        |sim AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 AND b >= 32 THEN (1::BIGINT << (b - 32)) ELSE 0 END) AS BIGINT) AS hibits,
        |    CAST(SUM(CASE WHEN v > 0 AND b < 32 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS lobits
        |  FROM votes GROUP BY doc_id)
        |SELECT d.doc_id, printf('%08x%08x', COALESCE(s.hibits, 0), COALESCE(s.lobits, 0)) AS simhash
        |FROM documents d LEFT JOIN sim s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // recomputes the rolling fingerprint: per-token hash = low 32 bits of
    // md5 mod 2³¹−1, Rabin–Karp base-31 fold per 4-token window, min over
    // windows (short docs fold their full token list; empty → 0)
    "q26_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    list_transform(toks, t -> ('0x' || substr(md5(t), 25, 8))::BIGINT % 2147483647) AS hs
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN len(hs) = 0 THEN 0
        |    WHEN len(hs) < 4 THEN list_reduce(hs, (a, b) -> (a * 31 + b) % 2147483647)
        |    ELSE list_min(list_transform(range(1, len(hs) - 2),
        |      i -> list_reduce(hs[i:i+3], (a, b) -> (a * 31 + b) % 2147483647))) END AS fingerprint
        |FROM h ORDER BY doc_id""".stripMargin,
    // full-cascade gate (q85): components over exact-Jaccard-≥0.95 edges —
    // valid for the LSH path because the 16-band config's recall is exactly
    // 1.0 (same argument as q24); q81/q58 gate the same composition's
    // bounded all-pairs arms
    "q85_dedup_cascade" ->
      """WITH RECURSIVE
        |ws AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS ws
        |  FROM documents),
        |edges AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
        |  WHERE (CASE WHEN len(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
        |    ELSE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |      len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE END) >= 0.95),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION ALL SELECT id_b, id_a FROM edges),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM ws
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
        |comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)
        |SELECT component AS keeper_id, COUNT(*) AS n_members FROM comp
        |GROUP BY component ORDER BY keeper_id""".stripMargin,
    // ANN recall-audit gates (q29/q55/q74): DuckDB recomputes the EXACT best
    // neighbor per audited query from the same fixed-point integers (q27's
    // proven formula) and expects TRUE from the accuracy booleans; a Spark
    // FALSE (ANN recall under the measured-minima thresholds) goes hash-red
    "q29_ann_lsh" ->
      """WITH n AS (
        |  SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) AS cosine
        |  FROM n q JOIN n c ON q.vec_id < 500 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id AS exact_best_id, cosine AS exact_best_cosine,
        |  TRUE AS recall5_ok, TRUE AS all_in_top20
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |      FROM s) r
        |WHERE rank = 1 ORDER BY query_id""".stripMargin,
    "q55_ann_ivf" ->
      """WITH n AS (
        |  SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) AS cosine
        |  FROM n q JOIN n c ON q.vec_id < 500 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id AS exact_best_id, cosine AS exact_best_cosine,
        |  TRUE AS recall20_ok
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |      FROM s) r
        |WHERE rank = 1 ORDER BY query_id""".stripMargin,
    "q353_restart_recovery" ->
      """SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin,
    "q368_available_now" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_heavy,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q354_restart_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts BETWEEN v.ts AND v.ts + INTERVAL 30 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin,
    "q359_restart_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800 * 1000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
        |    COUNT(*) AS n_events
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n_events FROM sess
        |WHERE end_us + 1800 * 1000000 <= (SELECT MAX(epoch_us(ts)) FROM events)
        |ORDER BY user_id, start_us""".stripMargin,
    "q355_skipping_daterange" -> skipDaterangeOracleSql,
    "q356_skipping_zorder" -> skipZorderOracleSql,
    "q361_skipping_bloom" -> skipBloomOracleSql,
    // the V2 planner-integrated path must be indistinguishable from the
    // opt-in helpers: identical oracles, unchanged hashes
    "q377_v2_daterange" -> skipDaterangeOracleSql,
    "q378_v2_zorder" -> skipZorderOracleSql,
    "q379_v2_bloom_point" -> skipBloomOracleSql,
    // both arms replayed from the corpus, fused with the same fixed-point
    // reciprocal-rank arithmetic as the Spark side
    "q363_hybrid_retrieval" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |totals AS (
        |  SELECT (SELECT COUNT(*) FROM toks) AS t, (SELECT COUNT(*) FROM documents) AS n),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |  WHERE tok IN ('hash', 'merge', 'window', 'spark', 'filter', 'slow')
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |bm_scored AS (
        |  SELECT tf.doc_id,
        |    (22 * tf.tf * t.t * 1000) // (10 * t.t * tf.tf + 3 * t.t + 9 * dl.dl * t.n) AS w_scaled,
        |    ((2 * (t.n - d.df) + 1) * 1000) // (2 * d.df + 1) AS idf_scaled
        |  FROM tf JOIN dl USING (doc_id) JOIN dfreq d USING (tok) CROSS JOIN totals t),
        |bm_agg AS (
        |  SELECT doc_id, CAST(SUM(idf_scaled * w_scaled) AS BIGINT) AS score
        |  FROM bm_scored GROUP BY 1),
        |bm_rank AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |    FROM bm_agg) WHERE rank <= 20),
        |vs_scored AS (
        |  SELECT tf.doc_id,
        |    (tf.tf * ((t.n * 1000) // d.df) * 1000) // dl.dl AS w
        |  FROM tf JOIN dl USING (doc_id) JOIN dfreq d USING (tok) CROSS JOIN totals t),
        |vs_agg AS (
        |  SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score FROM vs_scored GROUP BY 1),
        |vs_rank AS (
        |  SELECT doc_id, rank FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |    FROM vs_agg) WHERE rank <= 20),
        |uni AS (
        |  SELECT doc_id, 1000000000000 // (60 + rank) AS recip FROM bm_rank
        |  UNION ALL
        |  SELECT doc_id, 1000000000000 // (60 + rank) AS recip FROM vs_rank)
        |SELECT doc_id, COUNT(*) AS n_lists, CAST(SUM(recip) AS BIGINT) AS rrf_fixed
        |FROM uni GROUP BY doc_id ORDER BY rrf_fixed DESC, doc_id""".stripMargin,
    "q364_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_returnflag <> 'N'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q365_jsonl_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs, COUNT(text) AS n_texts,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_nchars
        |FROM documents
        |GROUP BY source ORDER BY source""".stripMargin,
    "q366_xml_roundtrip" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len,
        |  MIN(md5(text)) AS min_md5,
        |  MAX(md5(text)) AS max_md5,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_nchars
        |FROM documents
        |WHERE lang <> 'zh'
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q369_bucketed_join" ->
      """SELECT o.o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,
    "q367_csv_roundtrip" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT doc_id) AS n_ids,
        |  CAST(SUM(length(text)) AS BIGINT) AS sum_len,
        |  MIN(md5(text)) AS min_md5,
        |  MAX(md5(text)) AS max_md5,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM documents
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q362_compaction" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q358_bm25" -> bm25OracleSql,
    // index path must equal the scan form cell-for-cell: same oracle
    "q360_bm25_indexed" -> bm25OracleSql,
    "q373_metadata_agg" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(l_quantity) AS qty_non_null,
        |  MIN(l_quantity) AS qty_min, MAX(l_quantity) AS qty_max,
        |  MIN(CAST(l_shipdate AS DATE)) AS date_min,
        |  MAX(CAST(l_shipdate AS DATE)) AS date_max,
        |  MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max,
        |  COUNT(l_returnflag) AS flag_non_null
        |FROM lineitem""".stripMargin,
    "q374_bpe_encode" -> bpeEncodeUnseenOracleSql(4),
    // appended index must equal the scan form cell-for-cell: same oracle
    "q375_bm25_index_append" -> bm25OracleSql,
    "q376_audio_blocks" ->
      """WITH s AS (
        |  SELECT d.doc_id, t.i, c.channel,
        |    CAST(CASE WHEN c.channel = 0
        |      THEN (d.doc_id * 31 + t.i * t.i * 7 + t.i * 17) % 4096 - 2048
        |      ELSE (d.doc_id * 13 + t.i * t.i * 5 + t.i * 29) % 4096 - 2048
        |      END AS BIGINT) AS v
        |  FROM documents d, generate_series(0, 63) t(i), (VALUES (0), (1)) c(channel)),
        |g AS (
        |  SELECT doc_id, CAST(i // 16 AS INT) AS block_idx, channel,
        |    CAST(COUNT(*) AS INT) AS n_frames,
        |    CAST(SUM(v * v) AS BIGINT) AS energy,
        |    CAST(MAX(ABS(v)) AS INT) AS peak
        |  FROM s GROUP BY doc_id, i // 16, channel),
        |r AS (
        |  SELECT *, energy * 1000000 // n_frames AS x,
        |    CAST(floor(sqrt(CAST(energy * 1000000 // n_frames AS DOUBLE))) AS BIGINT) AS k0
        |  FROM g)
        |SELECT doc_id, block_idx, CAST(channel AS INT) AS channel, n_frames,
        |  energy, peak,
        |  CASE WHEN k0 * k0 > x THEN k0 - 1
        |       WHEN (k0 + 1) * (k0 + 1) <= x THEN k0 + 1
        |       ELSE k0 END AS rms_milli
        |FROM r ORDER BY doc_id, block_idx, channel""".stripMargin,
    "q371_aqe_skew_join" ->
      """WITH f AS (
        |  SELECT CASE WHEN l_orderkey % 1000 < 999 THEN 0
        |              ELSE l_orderkey % 1000 END AS k, l_quantity,
        |    md5(CAST(l_orderkey AS VARCHAR) || '#' || CAST(l_linenumber AS VARCHAR)) AS tag
        |  FROM lineitem)
        |SELECT CASE WHEN k = 0 THEN 'hot'
        |            ELSE 'cold_' || CAST(k AS VARCHAR) END AS label,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  MIN(tag) AS min_tag, MAX(tag) AS max_tag
        |FROM f GROUP BY 1 ORDER BY label""".stripMargin,
    "q372_dynamic_partition_pruning" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE EXTRACT(quarter FROM l_shipdate) = 1
        |GROUP BY 1 ORDER BY ship_month""".stripMargin,
    "q370_retrieve_rerank" ->
      """WITH toks AS (
        |  SELECT doc_id, UNNEST(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |totals AS (
        |  SELECT (SELECT COUNT(*) FROM toks) AS t, (SELECT COUNT(*) FROM documents) AS n),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |  WHERE tok IN ('hash', 'merge', 'window', 'spark', 'filter', 'slow')
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT tf.doc_id,
        |    (22 * tf.tf * t.t * 1000) // (10 * t.t * tf.tf + 3 * t.t + 9 * dl.dl * t.n) AS w_scaled,
        |    ((2 * (t.n - d.df) + 1) * 1000) // (2 * d.df + 1) AS idf_scaled
        |  FROM tf JOIN dl USING (doc_id) JOIN dfreq d USING (tok) CROSS JOIN totals t),
        |cand AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, CAST(SUM(idf_scaled * w_scaled) AS BIGINT) AS score
        |    FROM scored GROUP BY 1) a
        |  ORDER BY score DESC, doc_id ASC LIMIT 50),
        |n AS (
        |  SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings WHERE vec_id IN (SELECT doc_id FROM cand)) v),
        |qsel AS (SELECT MIN(vec_id) AS qid FROM n),
        |rer AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT) AS dot,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) AS cosine
        |  FROM n q JOIN qsel ON q.vec_id = qsel.qid
        |  JOIN n c ON c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, dot, cosine, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM rer) r
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "q357_ivf_remove" ->
      """WITH n AS (
        |  SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings WHERE vec_id % 7 <> 0) v),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) AS cosine
        |  FROM n q JOIN n c ON q.vec_id < 500 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id AS exact_best_id, cosine AS exact_best_cosine,
        |  TRUE AS recall20_ok, TRUE AS no_removed_ids, TRUE AS cells_consistent
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |      FROM s) r
        |WHERE rank = 1 ORDER BY query_id""".stripMargin,
    "q351_ivf_append" ->
      """WITH n AS (
        |  SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) AS cosine
        |  FROM n q JOIN n c ON q.vec_id < 500 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id AS exact_best_id, cosine AS exact_best_cosine,
        |  TRUE AS recall20_ok, TRUE AS append_consistent
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |      FROM s) r
        |WHERE rank = 1 ORDER BY query_id""".stripMargin,
    "q343_ann_ivfpq" ->
      """WITH n AS (
        |  SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) AS cosine
        |  FROM n q JOIN n c ON q.vec_id < 50 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id AS exact_best_id, cosine AS exact_best_cosine,
        |  TRUE AS recall20_ok
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |      FROM s) r
        |WHERE rank = 1 ORDER BY query_id""".stripMargin,
    "q74_ann_pq" ->
      """WITH n AS (
        |  SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) AS cosine
        |  FROM n q JOIN n c ON q.vec_id < 50 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id AS exact_best_id, cosine AS exact_best_cosine,
        |  TRUE AS recall20_ok
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |      FROM s) r
        |WHERE rank = 1 ORDER BY query_id""".stripMargin,
    // round-trip gate for the PNG IHDR / JPEG SOF decoder: payloads were
    // synthesized from doc_id arithmetic (PNG depth∈{8,16}, color type∈
    // {0,2,4,6} with channels per the spec table; JPEG precision 8,
    // components∈{1,3}), so the decoded fields must equal the recomputed
    // arithmetic
    "q344_image_headers" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 1920 + 1 AS INT)
        |       ELSE CAST(doc_id % 4096 + 1 AS INT) END AS width,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 1080 + 1 AS INT)
        |       ELSE CAST(doc_id % 2160 + 1 AS INT) END AS height,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN CAST([8,16][CAST((doc_id // 2) % 2 + 1 AS INT)] *
        |                 [1,3,2,4][CAST(doc_id % 4 + 1 AS INT)] AS INT)
        |       ELSE CAST(8 * [1,3][CAST((doc_id // 2) % 2 + 1 AS INT)] AS INT) END AS bpp,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST([1,3,2,4][CAST(doc_id % 4 + 1 AS INT)] AS INT)
        |       ELSE CAST([1,3][CAST((doc_id // 2) % 2 + 1 AS INT)] AS INT) END AS channels
        |FROM documents ORDER BY doc_id""".stripMargin,
    // trigram language-ID twin: identical normalization (lower + [^a-z ]
    // strip — DuckDB needs the 'g' flag Spark's regexp_replace implies),
    // identical md5-bucket split, identical (count DESC, trigram ASC)
    // rankings, identical out-of-place distance with the profileSize=200
    // missing penalty, ties → language ASC
    "q345_trigram_langid" ->
      """WITH docs0 AS (
        |  SELECT doc_id, coalesce(lang, 'und') AS lang,
        |    regexp_replace(lower(text), '[^a-z ]', '', 'g') AS s,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS bucket
        |  FROM documents),
        |tris AS (
        |  SELECT doc_id, lang, bucket, substr(s, CAST(i AS INT), 3) AS tri FROM (
        |    SELECT doc_id, lang, bucket, s,
        |      unnest(range(1, greatest(length(s) - 2, 0) + 1)) AS i
        |    FROM docs0) u),
        |prof AS (
        |  SELECT lang, tri, rn AS pr FROM (
        |    SELECT lang, tri,
        |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tri ASC) AS rn
        |    FROM tris WHERE bucket < 4 GROUP BY lang, tri) x
        |  WHERE rn <= 200),
        |dtop AS (
        |  SELECT doc_id, tri, rn AS dr FROM (
        |    SELECT doc_id, tri,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, tri ASC) AS rn
        |    FROM tris WHERE bucket = 4 GROUP BY doc_id, tri) x
        |  WHERE rn <= 50),
        |langs AS (SELECT DISTINCT lang FROM prof),
        |dist AS (
        |  SELECT d.doc_id, l.lang,
        |    SUM(CASE WHEN p.pr IS NULL THEN 200 ELSE abs(d.dr - p.pr) END) AS dist
        |  FROM dtop d CROSS JOIN langs l
        |  LEFT JOIN prof p ON p.lang = l.lang AND p.tri = d.tri
        |  GROUP BY 1, 2),
        |pred0 AS (
        |  SELECT doc_id, lang AS pred FROM (
        |    SELECT doc_id, lang,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY dist ASC, lang ASC) AS rn
        |    FROM dist) x WHERE rn = 1),
        |cls AS (
        |  SELECT t.lang AS actual, coalesce(p.pred, 'und') AS pred
        |  FROM docs0 t LEFT JOIN pred0 p USING (doc_id) WHERE t.bucket = 4),
        |cells AS (SELECT actual, pred, COUNT(*) AS n FROM cls GROUP BY 1, 2),
        |a AS (SELECT actual AS class, SUM(n) AS n_actual FROM cells GROUP BY 1),
        |p AS (SELECT pred AS class, SUM(n) AS n_pred FROM cells GROUP BY 1),
        |tp AS (SELECT actual AS class, n AS tp FROM cells WHERE actual = pred)
        |SELECT class,
        |  CAST(coalesce(n_actual, 0) AS BIGINT) AS n_actual,
        |  CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
        |  CAST(coalesce(tp, 0) AS BIGINT) AS tp,
        |  CASE WHEN coalesce(n_pred, 0) > 0
        |       THEN coalesce(tp, 0)::DOUBLE / n_pred::DOUBLE END AS precision,
        |  CASE WHEN coalesce(n_actual, 0) > 0
        |       THEN coalesce(tp, 0)::DOUBLE / n_actual::DOUBLE END AS recall
        |FROM a FULL OUTER JOIN p USING (class) LEFT JOIN tp USING (class)
        |ORDER BY class""".stripMargin,
    // round-trip gate for the real BMP/WAV header decoder: the payloads were
    // synthesized from doc_id arithmetic, so the decoded fields must equal
    // the same arithmetic recomputed here (NULL where the format lacks them)
    "q86_media_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 640 + 1 AS INT) END AS width,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 480 + 1 AS INT) END AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST([1,8,24,32][CAST(doc_id % 4 + 1 AS INT)] AS INT) END AS bpp,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST((doc_id // 2) % 2 + 1 AS INT) END AS channels,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST([8000,16000,22050,44100,48000][CAST(doc_id % 5 + 1 AS INT)] AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST([8,16,32][CAST(doc_id % 3 + 1 AS INT)] AS INT) END AS bits_per_sample
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q87_retention_cohorts" ->
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, day,
        |  MIN(day) OVER (PARTITION BY user_id) AS cohort_day FROM a)
        |SELECT cohort_day, datediff('day', cohort_day, day) AS day_offset,
        |  COUNT(*) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q88_event_dedup" ->
      """SELECT event_id, user_id, event_type, ts FROM (
        |  SELECT event_id, user_id, event_type, ts,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY user_id, event_type, epoch_us(ts) // 300000000
        |      ORDER BY ts, event_id) AS rn
        |  FROM events) x
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "q89_funnel" ->
      """WITH l1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |l2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN l1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > l1.t GROUP BY e.user_id),
        |l3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN l2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > l2.t GROUP BY e.user_id)
        |SELECT step, n_users FROM (
        |  SELECT '1_view' AS step, COUNT(*) AS n_users FROM l1
        |  UNION ALL SELECT '2_click', COUNT(*) FROM l2
        |  UNION ALL SELECT '3_purchase', COUNT(*) FROM l3) x
        |ORDER BY step""".stripMargin,
    "q90_dup_gram_fraction" ->
      """WITH g AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(toks) < 8 THEN []
        |      ELSE list_transform(range(1, len(toks) - 6),
        |        i -> array_to_string(toks[i:i+7], ' ')) END) AS gram
        |    FROM (SELECT doc_id,
        |      CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |        ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |      FROM documents) y) x),
        |d AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram)
        |SELECT g.doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS dup_frac
        |FROM g JOIN d USING (gram) GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "q91_mad_outliers" ->
      """WITH rows_ AS (
        |  SELECT l_returnflag AS k, l_extendedprice AS v FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |g1 AS (SELECT k, v, COUNT(*) AS c FROM rows_ GROUP BY 1, 2),
        |t1 AS (SELECT k, SUM(c) AS n FROM g1 GROUP BY k),
        |med AS (
        |  SELECT k, MIN(CASE WHEN cc >= ceil(0.5 * n) THEN v END) AS med FROM (
        |    SELECT g1.k, g1.v, SUM(g1.c) OVER (PARTITION BY g1.k ORDER BY g1.v) AS cc, t1.n
        |    FROM g1 JOIN t1 USING (k)) x GROUP BY k),
        |dev AS (
        |  SELECT rows_.k, abs(rows_.v - med.med) AS dv FROM rows_ JOIN med USING (k)),
        |g2 AS (SELECT k, dv, COUNT(*) AS c FROM dev GROUP BY 1, 2),
        |t2 AS (SELECT k, SUM(c) AS n FROM g2 GROUP BY k),
        |mad AS (
        |  SELECT k, MIN(CASE WHEN cc >= ceil(0.5 * n) THEN dv END) AS mad FROM (
        |    SELECT g2.k, g2.dv, SUM(g2.c) OVER (PARTITION BY g2.k ORDER BY g2.dv) AS cc, t2.n
        |    FROM g2 JOIN t2 USING (k)) x GROUP BY k)
        |SELECT rows_.k AS l_returnflag, MIN(med.med) AS med, MIN(mad.mad) AS mad,
        |  COUNT(CASE WHEN abs(rows_.v - med.med) > 3.0 * mad.mad THEN 1 END) AS n_outliers
        |FROM rows_ JOIN med USING (k) JOIN mad USING (k)
        |GROUP BY rows_.k ORDER BY rows_.k""".stripMargin,
    "q92_stream_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800 * 1000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |    COUNT(*) AS n_events
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, session_start, n_events FROM sess
        |WHERE session_end + INTERVAL 30 MINUTE <= (SELECT MAX(ts) FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    "q93_approx_quantile_gate" ->
      """WITH rows_ AS (
        |  SELECT l_returnflag AS k, l_extendedprice AS v FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |g AS (SELECT k, v, COUNT(*) AS c FROM rows_ GROUP BY 1, 2),
        |t AS (SELECT k, SUM(c) AS n FROM g GROUP BY k),
        |med AS (
        |  SELECT k, MIN(CASE WHEN cc >= ceil(0.5 * n) THEN v END) AS exact_p50 FROM (
        |    SELECT g.k, g.v, SUM(g.c) OVER (PARTITION BY g.k ORDER BY g.v) AS cc, t.n
        |    FROM g JOIN t USING (k)) x GROUP BY k)
        |SELECT med.k AS l_returnflag, CAST(t.n AS BIGINT) AS n_rows, med.exact_p50,
        |  TRUE AS rank_ok
        |FROM med JOIN t USING (k) ORDER BY l_returnflag""".stripMargin,
    "q94_running_distinct" ->
      """SELECT event_id, user_id, running_distinct FROM (
        |  SELECT event_id, user_id,
        |    CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_distinct
        |  FROM (SELECT event_id, user_id, ts,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts, event_id) AS rn
        |    FROM events) x) y
        |ORDER BY event_id""".stripMargin,
    "q95_event_transitions" ->
      """SELECT prev_type, next_type, COUNT(*) AS n_transitions FROM (
        |  SELECT LAG(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM events) x
        |WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q96_weighted_sample" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS n_docs FROM documents GROUP BY 1, 2),
        |tot AS (
        |  SELECT CAST(SUM(n_docs) AS DOUBLE) AS total,
        |    CAST(COUNT(*) AS DOUBLE) AS k FROM cells),
        |w AS (
        |  SELECT lang, source, tot.total / (tot.k * CAST(n_docs AS DOUBLE)) AS weight
        |  FROM cells, tot)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN w USING (lang, source)
        |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 25, 8))::BIGINT AS DOUBLE)
        |    / 4294967296.0 < least(1.0, w.weight)
        |ORDER BY d.doc_id""".stripMargin,
    "q97_equidepth_hist" ->
      """WITH g AS (
        |  SELECT l_returnflag AS k, l_extendedprice AS v, COUNT(*) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT k, SUM(c) AS n FROM g GROUP BY k),
        |cum AS (
        |  SELECT g.k, g.v, SUM(g.c) OVER (PARTITION BY g.k ORDER BY g.v) AS cc, t.n
        |  FROM g JOIN t USING (k)),
        |b AS (SELECT k,
        |  MIN(CASE WHEN cc >= ceil(0.25 * n) THEN v END) AS b1,
        |  MIN(CASE WHEN cc >= ceil(0.5 * n) THEN v END) AS b2,
        |  MIN(CASE WHEN cc >= ceil(0.75 * n) THEN v END) AS b3
        |  FROM cum GROUP BY k),
        |r AS (SELECT l_returnflag AS k, l_extendedprice AS v FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL)
        |SELECT r.k AS l_returnflag,
        |  1 + (CASE WHEN v > b1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v > b2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v > b3 THEN 1 ELSE 0 END) AS bin,
        |  COUNT(*) AS n_rows, MIN(v) AS lo, MAX(v) AS hi
        |FROM r JOIN b USING (k)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_brand_revenue" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q03_nation_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q04_semi_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "q06_revenue_slice" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_quantity < 24 AND l_discount BETWEEN 0.02 AND 0.06""".stripMargin,
    "q07_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) x
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q79_native_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) x
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q08_running_qty" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber, run_qty""".stripMargin,
    "q09_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q10_distinct_counts" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q11_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,
    "q12_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q13_price_bins" ->
      """SELECT bin_name, COUNT(*) AS n_parts,
        |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part JOIN (VALUES
        |  ('b1_900_925', 900.0, 925.0), ('b2_925_950', 925.0, 950.0),
        |  ('b3_950_975', 950.0, 975.0), ('b4_975_1000', 975.0, 1000.0)
        |) AS bins(bin_name, bin_lo, bin_hi)
        |  ON p_retailprice >= bin_lo AND p_retailprice < bin_hi
        |GROUP BY bin_name ORDER BY bin_name""".stripMargin,
    "q14_asof_join" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate,
        |    MAX(o_orderkey) AS o_orderkey,
        |    MAX_BY(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY o_custkey, o_orderdate)
        |SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q15_dq_quarantine" ->
      """SELECT l_orderkey, l_linenumber, motivo_obs FROM (
        |  SELECT l_orderkey, l_linenumber, NULLIF(CONCAT_WS('|',
        |    CASE WHEN l_quantity IS NULL THEN 'ERR_CANT_NULL' END,
        |    CASE WHEN l_quantity IS NOT NULL AND l_quantity <= 0 THEN 'ERR_CANT_NO_POSITIVA' END,
        |    CASE WHEN l_quantity > 45 THEN 'ERR_CANT_EXCESIVA' END,
        |    CASE WHEN l_discount > 0.08 THEN 'ERR_DESC_EXCESIVO' END,
        |    CASE WHEN UPPER(TRIM(l_returnflag)) NOT IN ('A','N','R') THEN 'ERR_FLAG_DESCONOCIDO' END,
        |    CASE WHEN l_extendedprice IS NOT NULL AND l_extendedprice <= 0 THEN 'ERR_VENTA_NO_POSITIVA' END
        |  ), '') AS motivo_obs FROM lineitem) x
        |WHERE motivo_obs IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q16_unit_conversion" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CASE WHEN f IS NOT NULL AND q IS NOT NULL AND q > 0
        |    THEN ROUND(q * CAST(f AS DECIMAL(18,2)), 2) END AS DOUBLE) AS cant_unidades,
        |  CASE WHEN f IS NOT NULL AND l_quantity > 0 AND l_extendedprice IS NOT NULL
        |    THEN l_extendedprice / (l_quantity * f) END AS precio_unitario
        |FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS q,
        |    CASE UPPER(TRIM(l_returnflag))
        |      WHEN 'A' THEN 20.0 WHEN 'N' THEN 1.0 WHEN 'R' THEN 5.0 END AS f
        |  FROM lineitem) x
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q17_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800 * 1000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
        |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q18_hourly_events" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q19_token_stats" ->
      """SELECT doc_id,
        |  CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |    ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS n_tokens,
        |  CASE WHEN text IS NULL THEN 0
        |    ELSE len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r]')) END AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q20_quality_stats" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  n_tokens,
        |  CASE WHEN length(text) > 0
        |    THEN (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')))::DOUBLE / length(text)::DOUBLE
        |    ELSE 0.0 END AS punct_ratio,
        |  CASE WHEN n_tokens > 0
        |    THEN len(list_filter(toks, t -> list_contains(['the','a','an','of','and','to','in','is','it','that','for'], t)))::DOUBLE / n_tokens::DOUBLE
        |    ELSE 0.0 END AS stopword_ratio,
        |  CASE WHEN n_tokens > 0
        |    THEN length(regexp_replace(text, '[ \t\n\r]+', '', 'g'))::DOUBLE / n_tokens::DOUBLE
        |    ELSE 0.0 END AS mean_word_len
        |FROM (
        |  SELECT doc_id, text,
    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN [] ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0 ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS n_tokens
        |  FROM documents) x
        |ORDER BY doc_id""".stripMargin,
    "q21_lang_id" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
        |    WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |    WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |    WHEN de >= fr AND de > 0 THEN 'de'
        |    WHEN fr > 0 THEN 'fr'
        |    ELSE 'und' END AS lang_pred
        |FROM (
        |  SELECT doc_id, text,
        |    len(list_filter(toks, t -> list_contains(['the','a','an','of','and','to','in','is','it','that','for'], t))) AS en,
        |    len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','una','es','por'], t))) AS es,
        |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','ein','mit','zu','den'], t))) AS de,
        |    len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','une','est','dans','que'], t))) AS fr
        |  FROM (SELECT doc_id, text,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN [] ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |    FROM documents) y) x
        |ORDER BY doc_id""".stripMargin,
    "q22_exact_dedup" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN [] ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END)), ' ')) AS dup_key,
        |  MIN(doc_id) AS survivor_id, COUNT(*) AS group_size
        |FROM documents GROUP BY 1 ORDER BY dup_key""".stripMargin,
    "q23_jaccard_pairs" ->
      """SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
        |      ELSE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |        len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE END AS jaccard
        |  FROM (SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |          ELSE list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS ws
        |        FROM documents WHERE doc_id < 1000) a
        |  JOIN (SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |          ELSE list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS ws
        |        FROM documents WHERE doc_id < 1000) b
        |    ON a.doc_id < b.doc_id) x
        |WHERE jaccard >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    // same rank rule as q82's oracle (min v with cum-count >= ceil(p*n)),
    // then the clamp + decimal-exact sum restated directly
    "q102_winsorized_mean" ->
      """WITH g AS (
        |  SELECT l_returnflag AS k, l_extendedprice AS v, COUNT(*) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT k, SUM(c) AS n FROM g GROUP BY k),
        |cum AS (
        |  SELECT g.k, g.v, SUM(g.c) OVER (PARTITION BY g.k ORDER BY g.v) AS cc, t.n
        |  FROM g JOIN t USING (k)),
        |q AS (
        |  SELECT k, MIN(CASE WHEN cc >= ceil(0.1 * n) THEN v END) AS p10,
        |         MIN(CASE WHEN cc >= ceil(0.9 * n) THEN v END) AS p90
        |  FROM cum GROUP BY k)
        |SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(LEAST(GREATEST(l_extendedprice, p10), p90) AS DECIMAL(18,2))) AS DOUBLE) AS sum_winsorized,
        |  CAST(SUM(CAST(LEAST(GREATEST(l_extendedprice, p10), p90) AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS winsorized_mean
        |FROM lineitem JOIN q ON l_returnflag = q.k
        |WHERE l_extendedprice IS NOT NULL
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q101_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, ts::DATE AS day, COUNT(*) AS n_events, MAX(value) AS day_max
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
        |grid AS (SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM span),
        |joined AS (
        |  SELECT g.user_id, g.day, COALESCE(d.n_events, 0) AS n_events, d.day_max
        |  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
        |SELECT user_id, day, n_events,
        |  LAST_VALUE(day_max IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_max
        |FROM joined ORDER BY user_id, day""".stripMargin,
    "q122_collocations" ->
      """WITH big AS (
        |  SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2,
        |    COUNT(*) AS c_ab
        |  FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END) AS gram
        |    FROM (SELECT CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |      FROM documents) y) x
        |  GROUP BY 1, 2),
        |ua AS (SELECT w1, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM big GROUP BY w1),
        |ub AS (SELECT w2, CAST(SUM(c_ab) AS BIGINT) AS c_b FROM big GROUP BY w2),
        |tt AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n FROM big),
        |scored AS (
        |  SELECT big.w1, big.w2, c_ab,
        |    CAST(c_ab * n AS DOUBLE) / CAST(c_a * c_b AS DOUBLE) AS lift
        |  FROM big JOIN ua USING (w1) JOIN ub USING (w2) CROSS JOIN tt
        |  WHERE c_ab >= 10)
        |SELECT rn, w1, w2, c_ab, lift FROM (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS rn FROM scored) z
        |WHERE rn <= 25 ORDER BY rn""".stripMargin,
    "q127_degree_assortativity" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, COUNT(*) AS d
        |  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node),
        |sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
        |xy AS (
        |  SELECT du.d AS dx, dv.d AS dy
        |  FROM sym JOIN deg du ON sym.u = du.node JOIN deg dv ON sym.v = dv.node),
        |s AS (
        |  SELECT COUNT(*) AS n2, SUM(dx) AS sx, SUM(dx * dx) AS sxx,
        |    SUM(dx * dy) AS sxy
        |  FROM xy)
        |SELECT CAST(n2 // 2 AS BIGINT) AS n_edges,
        |  (n2 * sxy - sx * sx)::DOUBLE / (n2 * sxx - sx * sx)::DOUBLE AS assortativity
        |FROM s""".stripMargin,
    "q130_kcore" -> kCoreOracleSql(k = 8, rounds = 8),
    "q307_coreness" -> corenessOracleSql(rounds = 40),
    "q310_luby_mis" -> misOracleSql(rounds = 24),
    "q311_walk_corpus" -> walkOracleSql(steps = 8),
    "q314_wl_colors" -> wlOracleSql(rounds = 3),
    "q317_greedy_matching" -> matchingOracleSql(rounds = 24),
    "q330_dtw_drift" -> dtwOracleSql(frameDays = 3, frames = 10),
    "q332_grid_dbscan" ->
      """WITH RECURSIVE
        |pts AS MATERIALIZED (
        |  SELECT user_id AS id, COUNT(*) AS x, COUNT(DISTINCT CAST(ts AS DATE)) AS y
        |  FROM events GROUP BY user_id),
        |pairs AS MATERIALIZED (
        |  SELECT a.id AS ida, b.id AS idb
        |  FROM pts a JOIN pts b ON b.id <> a.id
        |    AND abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1),
        |ncnt AS MATERIALIZED (
        |  SELECT p.id, 1 + COALESCE(c.n, 0) AS n
        |  FROM pts p LEFT JOIN (SELECT ida, COUNT(*) AS n FROM pairs GROUP BY ida) c
        |    ON p.id = c.ida),
        |core AS MATERIALIZED (SELECT id FROM ncnt WHERE n >= 10),
        |edges AS MATERIALIZED (
        |  SELECT ida, idb FROM pairs
        |  WHERE ida < idb AND ida IN (SELECT id FROM core) AND idb IN (SELECT id FROM core)),
        |sym AS MATERIALIZED (
        |  SELECT ida AS src, idb AS dst FROM edges UNION ALL SELECT idb, ida FROM edges),
        |reach(a, b) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
        |comp AS MATERIALIZED (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a),
        |border AS MATERIALIZED (
        |  SELECT p.ida AS id, MIN(c.component) AS cluster
        |  FROM pairs p JOIN comp c ON p.idb = c.id
        |  WHERE p.ida NOT IN (SELECT id FROM core)
        |  GROUP BY p.ida)
        |SELECT p.id AS user_id, p.x, p.y,
        |  CASE WHEN cm.id IS NOT NULL THEN 'core'
        |       WHEN b.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
        |  COALESCE(cm.component, b.cluster) AS cluster
        |FROM pts p
        |LEFT JOIN comp cm ON p.id = cm.id
        |LEFT JOIN border b ON p.id = b.id
        |ORDER BY user_id""".stripMargin,
    "q333_diameter_sweep" -> diameterOracleSql(rounds = 8),
    "q334_ppr_seed_expansion" -> pprOracleSql(iters = 5),
    "q335_ktruss" -> kTrussOracleSql(k = 5, rounds = 7),
    "q342_densest_peel" -> densestPeelOracleSql(rounds = 14),
    "q341_rectangle_census" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS (SELECT u AS z, v AS n FROM edges UNION ALL SELECT v, u FROM edges),
        |lam AS (
        |  SELECT a.n AS nu, b.n AS nw, COUNT(*) AS lambda
        |  FROM sym a JOIN sym b ON a.z = b.z AND a.n < b.n
        |  GROUP BY 1, 2)
        |SELECT CAST(SUM(lambda) AS BIGINT) AS n_wedges,
        |  CAST(SUM(CASE WHEN lambda >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cocited_pairs,
        |  CAST(SUM((lambda * (lambda - 1)) // 2) // 2 AS BIGINT) AS n_rectangles
        |FROM lam""".stripMargin,
    "q352_png_pixels" ->
      """WITH px AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents),
        |v AS (
        |  SELECT doc_id, i,
        |    (g*37 + i*101 + i*i*13 + i*(g % 13)*29
        |      + CASE WHEN r > 0 AND i = 7*r + 3 THEN 128 ELSE 0 END) % 256 AS v
        |  FROM px, LATERAL (SELECT unnest(range(0, 64)) AS i))
        |SELECT doc_id,
        |  CAST((i // 8) // 2 AS INT) AS cy, CAST((i % 8) // 2 AS INT) AS cx,
        |  COUNT(*) AS n_px, CAST(SUM(v) AS BIGINT) AS sum_gray,
        |  CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_gray
        |FROM v GROUP BY 1, 2, 3 ORDER BY doc_id, cy, cx""".stripMargin,
    "q340_media_resize" ->
      """WITH px AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents),
        |v AS (
        |  SELECT doc_id, i,
        |    (g*37 + i*101 + i*i*13 + i*(g % 13)*29
        |      + CASE WHEN r > 0 AND i = 7*r + 3 THEN 128 ELSE 0 END) % 256 AS v
        |  FROM px, LATERAL (SELECT unnest(range(0, 64)) AS i))
        |SELECT doc_id,
        |  CAST((i // 8) // 2 AS INT) AS cy, CAST((i % 8) // 2 AS INT) AS cx,
        |  COUNT(*) AS n_px, CAST(SUM(v) AS BIGINT) AS sum_gray,
        |  CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_gray
        |FROM v GROUP BY 1, 2, 3 ORDER BY doc_id, cy, cx""".stripMargin,
    "q339_epoch_shuffle" ->
      """WITH e AS (SELECT UNNEST([0, 1]) AS epoch),
        |h AS (
        |  SELECT e.epoch, d.doc_id,
        |    ('0x' || substr(md5('ep' || CAST(e.epoch AS VARCHAR) || ':'
        |      || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM e, documents d)
        |SELECT epoch, doc_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY epoch, pos""".stripMargin,
    "q338_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '[a-z]+')) AS n_words,
        |    len(regexp_extract_all(text, '[aeiouy]+')) AS n_syllables,
        |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences
        |  FROM documents)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_syllables AS BIGINT) AS n_syllables,
        |  CAST(n_sentences AS BIGINT) AS n_sentences,
        |  0.39e0 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8e0 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |    - 15.59e0 AS fk_grade
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin,
    "q337_rich_club" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, COUNT(*) AS d
        |  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node),
        |wd AS (
        |  SELECT LEAST(du.d, dv.d) AS min_d
        |  FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
        |ks AS (SELECT UNNEST([8, 16, 32, 64, 96]) AS k),
        |nn AS (SELECT k, COUNT(*) AS n_nodes FROM ks JOIN deg ON d > k GROUP BY k),
        |ne AS (SELECT k, COUNT(*) AS n_edges FROM ks JOIN wd ON min_d > k GROUP BY k)
        |SELECT nn.k, nn.n_nodes, COALESCE(ne.n_edges, 0) AS n_edges,
        |  CASE WHEN nn.n_nodes >= 2 THEN
        |    CAST(2 * COALESCE(ne.n_edges, 0) AS DOUBLE)
        |      / CAST(nn.n_nodes * (nn.n_nodes - 1) AS DOUBLE)
        |  END AS phi
        |FROM nn LEFT JOIN ne ON nn.k = ne.k
        |ORDER BY nn.k""".stripMargin,
    "q336_stream_loglog" ->
      """WITH keys AS (SELECT DISTINCT event_type, user_id FROM events),
        |h AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM keys),
        |reg AS (
        |  SELECT event_type, h // 4194304 AS b,
        |    CASE WHEN h % 4194304 = 0 THEN 23
        |      ELSE instr(lpad(bin(h % 4194304), 22, '0'), '1') END AS rho
        |  FROM h),
        |mx AS (SELECT event_type, b, MAX(rho) AS mrho FROM reg GROUP BY 1, 2),
        |sums AS (
        |  SELECT event_type, COUNT(*) AS m_hit,
        |    CAST(SUM(CAST(1 AS BIGINT) << (25 - mrho)) AS BIGINT) AS sum_hit
        |  FROM mx GROUP BY event_type),
        |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
        |  FROM events GROUP BY event_type)
        |SELECT ex.event_type, ex.exact_distinct, sums.m_hit,
        |  sums.sum_hit + (1024 - sums.m_hit) * 33554432 AS sum_scaled,
        |  0.7213e0 / (1.0e0 + 1.079e0 / 1024.0e0) * 1048576.0e0 * 33554432.0e0
        |    / CAST(sums.sum_hit + (1024 - sums.m_hit) * 33554432 AS DOUBLE) AS est,
        |  (0.7213e0 / (1.0e0 + 1.079e0 / 1024.0e0) * 1048576.0e0 * 33554432.0e0
        |    / CAST(sums.sum_hit + (1024 - sums.m_hit) * 33554432 AS DOUBLE)
        |    - CAST(ex.exact_distinct AS DOUBLE)) / CAST(ex.exact_distinct AS DOUBLE)
        |    AS rel_err
        |FROM ex JOIN sums ON ex.event_type = sums.event_type
        |ORDER BY ex.event_type""".stripMargin,
    "q331_harmonic_centrality" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
        |r0 AS MATERIALIZED (
        |  SELECT node AS seed, node, 0 AS dist FROM (
        |    SELECT u AS node FROM edges UNION SELECT v FROM edges) n
        |  WHERE node < 50),
        |r1 AS MATERIALIZED (
        |  SELECT seed, node, MIN(dist) AS dist FROM (
        |    SELECT seed, node, dist FROM r0
        |    UNION ALL SELECT r0.seed, s.dst, r0.dist + 1 FROM r0 JOIN sym s ON r0.node = s.src) x
        |  GROUP BY seed, node),
        |r2 AS MATERIALIZED (
        |  SELECT seed, node, MIN(dist) AS dist FROM (
        |    SELECT seed, node, dist FROM r1
        |    UNION ALL SELECT r1.seed, s.dst, r1.dist + 1 FROM r1 JOIN sym s ON r1.node = s.src) x
        |  GROUP BY seed, node),
        |r3 AS MATERIALIZED (
        |  SELECT seed, node, MIN(dist) AS dist FROM (
        |    SELECT seed, node, dist FROM r2
        |    UNION ALL SELECT r2.seed, s.dst, r2.dist + 1 FROM r2 JOIN sym s ON r2.node = s.src) x
        |  GROUP BY seed, node)
        |SELECT seed AS p_partkey,
        |  CAST(SUM(6 // dist) AS BIGINT) AS harmonic_lcm,
        |  COUNT(*) AS n_within
        |FROM r3 WHERE dist >= 1
        |GROUP BY seed ORDER BY p_partkey""".stripMargin,
    "q329_loglog_audit" ->
      """WITH keys AS (SELECT DISTINCT user_id FROM events),
        |h AS (
        |  SELECT ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM keys),
        |reg AS (
        |  SELECT h // 4194304 AS b,
        |    CASE WHEN h % 4194304 = 0 THEN 23
        |      ELSE instr(lpad(bin(h % 4194304), 22, '0'), '1') END AS rho
        |  FROM h),
        |mx AS (SELECT b, MAX(rho) AS mrho FROM reg GROUP BY b),
        |sums AS (
        |  SELECT COUNT(*) AS m_hit,
        |    CAST(SUM(CAST(1 AS BIGINT) << (25 - mrho)) AS BIGINT) AS sum_hit
        |  FROM mx),
        |ex AS (SELECT COUNT(*) AS exact_distinct FROM keys)
        |SELECT ex.exact_distinct, sums.m_hit,
        |  sums.sum_hit + (1024 - sums.m_hit) * 33554432 AS sum_scaled,
        |  0.7213e0 / (1.0e0 + 1.079e0 / 1024.0e0) * 1048576.0e0 * 33554432.0e0
        |    / CAST(sums.sum_hit + (1024 - sums.m_hit) * 33554432 AS DOUBLE) AS est,
        |  (0.7213e0 / (1.0e0 + 1.079e0 / 1024.0e0) * 1048576.0e0 * 33554432.0e0
        |    / CAST(sums.sum_hit + (1024 - sums.m_hit) * 33554432 AS DOUBLE)
        |    - CAST(ex.exact_distinct AS DOUBLE)) / CAST(ex.exact_distinct AS DOUBLE)
        |    AS rel_err
        |FROM ex, sums""".stripMargin,
    "q327_sax_symbols" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT MIN(day) AS d0 FROM ev),
        |paa AS (
        |  SELECT user_id, date_diff('day', b.d0, ev.day) // 3 AS w, COUNT(*) AS c
        |  FROM ev, b WHERE date_diff('day', b.d0, ev.day) BETWEEN 0 AND 29
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT u.user_id, t.w
        |  FROM (SELECT DISTINCT user_id FROM ev) u, generate_series(0, 9) t(w)),
        |frames AS (
        |  SELECT g.user_id, g.w, COALESCE(paa.c, 0) AS c
        |  FROM grid g LEFT JOIN paa ON g.user_id = paa.user_id AND g.w = paa.w),
        |r AS (
        |  SELECT user_id, w,
        |    ROW_NUMBER() OVER (ORDER BY c, user_id, w) AS rnk,
        |    COUNT(*) OVER () AS nn
        |  FROM frames),
        |sym AS (
        |  SELECT user_id, w, chr(97 + CAST((4 * (rnk - 1)) // nn AS INT)) AS ch
        |  FROM r)
        |SELECT user_id, string_agg(ch, '' ORDER BY w) AS sax
        |FROM sym GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q328_zorder_layout" ->
      ("""WITH o AS (
        |  SELECT o_orderkey, o_custkey % 256 AS x,
        |    date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) % 256 AS y
        |  FROM orders),
        |keyed AS (
        |  SELECT o_orderkey, x, y, """.stripMargin +
        (0 until 8).map(i =>
          s"((x >> $i) & 1) * ${1L << (2 * i)} + ((y >> $i) & 1) * ${1L << (2 * i + 1)}")
          .mkString(" + ") +
        """ AS z
        |  FROM o),
        |ranked AS (
        |  SELECT x, y,
        |    ROW_NUMBER() OVER (ORDER BY z, o_orderkey) AS rz,
        |    ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
        |  FROM keyed),
        |files AS (
        |  SELECT x, y, (rz - 1) // 1000 AS fz, (rn - 1) // 1000 AS fn
        |  FROM ranked),
        |tot AS (
        |  SELECT COUNT(*) AS n_rows, MAX(fn) + 1 AS files_total FROM files)
        |SELECT COUNT(*) AS rows_matched,
        |  COUNT(DISTINCT fz) AS files_z,
        |  COUNT(DISTINCT fn) AS files_nat,
        |  tot.n_rows, tot.files_total,
        |  CAST(COUNT(DISTINCT fz) AS DOUBLE) / CAST(tot.files_total AS DOUBLE)
        |    AS touch_z,
        |  CAST(COUNT(DISTINCT fn) AS DOUBLE) / CAST(tot.files_total AS DOUBLE)
        |    AS touch_nat
        |FROM files, tot
        |WHERE x BETWEEN 64 AND 127 AND y BETWEEN 32 AND 95
        |GROUP BY tot.n_rows, tot.files_total""".stripMargin),
    "q325_t_closeness" ->
      """WITH prio AS (
        |  SELECT c_custkey, CAST(substr(sensitive, 1, 1) AS INT) AS r FROM (
        |    SELECT o_custkey AS c_custkey, o_orderpriority AS sensitive,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
        |    FROM orders GROUP BY o_custkey, o_orderpriority)
        |  WHERE rn = 1),
        |cnt AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal) AS BIGINT) + 10000) // 1000 AS bal_band,
        |    r, COUNT(*) AS c
        |  FROM customer JOIN prio USING (c_custkey)
        |  GROUP BY 1, 2, 3, 4),
        |cls AS (
        |  SELECT c_nationkey, c_mktsegment, bal_band, t.i,
        |    SUM(CASE WHEN r <= t.i THEN c ELSE 0 END) AS cumc,
        |    SUM(c) AS n_c
        |  FROM cnt, generate_series(1, 4) t(i)
        |  GROUP BY 1, 2, 3, 4),
        |gi AS (SELECT i, SUM(cumc) AS cumg FROM cls GROUP BY i),
        |tot AS (SELECT SUM(c) AS nn FROM cnt),
        |emd AS (
        |  SELECT c_nationkey, c_mktsegment, bal_band, n_c, nn,
        |    SUM(ABS(cumc * nn - cumg * n_c)) AS emd_num,
        |    CAST(SUM(ABS(cumc * nn - cumg * n_c)) AS DOUBLE)
        |      / (4.0 * n_c * nn) AS emd
        |  FROM cls JOIN gi USING (i), tot
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT COUNT(*) AS n_classes, CAST(SUM(n_c) AS BIGINT) AS n_rows,
        |  MAX(emd) AS max_emd,
        |  CAST(SUM(CASE WHEN emd > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  CAST(SUM(CASE WHEN emd > 0.2 THEN n_c ELSE 0 END) AS BIGINT) AS n_exposed,
        |  CAST(SUM(CASE WHEN emd > 0.2 THEN n_c ELSE 0 END) AS BIGINT)::DOUBLE
        |    / CAST(SUM(n_c) AS BIGINT)::DOUBLE AS exposed_share
        |FROM emd""".stripMargin,
    "q326_brier_decomposition" ->
      """WITH o AS (
        |  SELECT ('0x' || substr(md5('brier:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 9 AS k,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |bins AS (SELECT k, COUNT(*) AS n_k, SUM(y) AS s_k FROM o GROUP BY k),
        |tot AS (SELECT SUM(n_k) AS nn, SUM(s_k) AS ss FROM bins)
        |SELECT k, n_k, CAST(s_k AS BIGINT) AS s_k,
        |  CAST(k * k * n_k - 16 * k * s_k + 64 * s_k AS BIGINT) AS brier_num,
        |  CAST((k * n_k - 8 * s_k) * (k * n_k - 8 * s_k) AS BIGINT) AS rel_num,
        |  CAST((k * n_k - 8 * s_k) * (k * n_k - 8 * s_k) AS DOUBLE)
        |    / (64.0 * n_k * nn) AS rel_term,
        |  n_k * ((CAST(s_k AS DOUBLE) / n_k - CAST(ss AS DOUBLE) / nn)
        |    * (CAST(s_k AS DOUBLE) / n_k - CAST(ss AS DOUBLE) / nn)) / nn AS res_term
        |FROM bins, tot ORDER BY k""".stripMargin,
    "q324_matrix_profile" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |b AS (SELECT MIN(day) AS d0, date_diff('day', MIN(day), MAX(day)) AS sp FROM ev),
        |daily AS (
        |  SELECT user_id, date_diff('day', b.d0, ev.day) AS di, COUNT(*) AS c
        |  FROM ev, b GROUP BY 1, 2),
        |grid AS (
        |  SELECT u.user_id, unnest(generate_series(0, b.sp)) AS di
        |  FROM (SELECT DISTINCT user_id FROM ev) u, b),
        |series AS (
        |  SELECT g.user_id, list(COALESCE(daily.c, 0) ORDER BY g.di) AS cnts
        |  FROM grid g LEFT JOIN daily ON g.user_id = daily.user_id AND g.di = daily.di
        |  GROUP BY g.user_id),
        |istarts AS (SELECT unnest(generate_series(0, b.sp + 1 - 7)) AS i FROM b),
        |p AS (
        |  SELECT s.user_id, s.cnts, i.i, j.i AS j
        |  FROM series s, istarts i, istarts j
        |  WHERE j.i >= i.i + 4),
        |d AS (
        |  SELECT user_id, i, j,
        |    list_sum(list_transform(generate_series(1, 7), t ->
        |      (cnts[i + t] - cnts[j + t]) * (cnts[i + t] - cnts[j + t]))) AS dist
        |  FROM p)
        |SELECT user_id, CAST(i AS INT) AS motif_a, CAST(j AS INT) AS motif_b,
        |  CAST(dist AS BIGINT) AS d2
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dist, i, j) AS rn
        |      FROM d)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q323_join_size_sketch" ->
      """WITH a AS (
        |  SELECT r, ('0x' || substr(md5('cm:' || CAST(l_orderkey AS VARCHAR)), 1 + 8 * r, 8))::BIGINT % 4096 AS b,
        |    COUNT(*) AS c
        |  FROM lineitem, generate_series(0, 3) t(r) GROUP BY 1, 2),
        |u AS (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |bb AS (
        |  SELECT r, ('0x' || substr(md5('cm:' || CAST(o_orderkey AS VARCHAR)), 1 + 8 * r, 8))::BIGINT % 4096 AS b,
        |    COUNT(*) AS c
        |  FROM u, generate_series(0, 3) t(r) GROUP BY 1, 2),
        |ip AS (
        |  SELECT a.r, SUM(a.c * bb.c) AS ip FROM a JOIN bb ON a.r = bb.r AND a.b = bb.b
        |  GROUP BY a.r),
        |est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_n FROM ip),
        |ex AS (
        |  SELECT COUNT(*) AS exact_n FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM u))
        |SELECT ex.exact_n, est.est_n,
        |  CAST(est.est_n - ex.exact_n AS DOUBLE) / CAST(ex.exact_n AS DOUBLE) AS rel_err
        |FROM ex, est""".stripMargin,
    "q322_unicode_nfc_audit" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 3 AS INT) AS arm,
        |    text || ' ' || CASE WHEN doc_id % 3 = 0 THEN 'caf' || chr(101) || chr(769)
        |      WHEN doc_id % 3 = 1 THEN 'caf' || chr(233) ELSE 'abc' END AS t
        |  FROM documents)
        |SELECT doc_id, arm, t = nfc_normalize(t) AS is_nfc,
        |  CAST(length(t) AS INT) AS raw_len,
        |  CAST(length(nfc_normalize(t)) AS INT) AS nfc_len
        |FROM d ORDER BY doc_id""".stripMargin,
    "q321_katz_centrality" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
        |w1 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS w FROM sym GROUP BY src),
        |w2 AS MATERIALIZED (
        |  SELECT s.src AS node, SUM(w.w) AS w FROM sym s JOIN w1 w ON s.dst = w.node GROUP BY s.src),
        |w3 AS MATERIALIZED (
        |  SELECT s.src AS node, SUM(w.w) AS w FROM sym s JOIN w2 w ON s.dst = w.node GROUP BY s.src),
        |w4 AS MATERIALIZED (
        |  SELECT s.src AS node, SUM(w.w) AS w FROM sym s JOIN w3 w ON s.dst = w.node GROUP BY s.src)
        |SELECT w1.node AS p_partkey, CAST(w4.w AS BIGINT) AS walks_4,
        |  CAST(8 * w1.w + 4 * w2.w + 2 * w3.w + w4.w AS BIGINT) AS katz_scaled
        |FROM w1 JOIN w2 ON w1.node = w2.node JOIN w3 ON w1.node = w3.node
        |  JOIN w4 ON w1.node = w4.node
        |ORDER BY p_partkey""".stripMargin,
    "q319_wasserstein_drift" ->
      """WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
        |  FROM orders),
        |pv AS (
        |  SELECT cents, SUM(u) AS cu, SUM(1 - u) AS cn FROM o GROUP BY cents),
        |c AS (
        |  SELECT cents,
        |    SUM(cu) OVER (ORDER BY cents) AS cumu,
        |    SUM(cn) OVER (ORDER BY cents) AS cumn,
        |    LEAD(cents) OVER (ORDER BY cents) AS nxt
        |  FROM pv),
        |t AS (SELECT SUM(cu) AS nu, SUM(cn) AS nn FROM pv)
        |SELECT CAST(t.nu AS BIGINT) AS n_urgent, CAST(t.nn AS BIGINT) AS n_other,
        |  CAST(SUM(ABS(c.cumu * t.nn - c.cumn * t.nu) * (c.nxt - c.cents)) AS DOUBLE)
        |    / (CAST(t.nu AS DOUBLE) * CAST(t.nn AS DOUBLE)) AS w1_cents
        |FROM c, t WHERE c.nxt IS NOT NULL
        |GROUP BY t.nu, t.nn""".stripMargin,
    "q318_mp4_meta" ->
      """SELECT doc_id, 'isom' AS major_brand, CAST(3 AS INT) AS n_top_boxes,
        |  CAST(600 + (doc_id % 5) * 100 AS BIGINT) AS timescale,
        |  CAST((doc_id % 100000) * 3 + 600 AS BIGINT) AS duration,
        |  CAST((doc_id % 100000) * 3 + 600 AS DOUBLE)
        |    / CAST(600 + (doc_id % 5) * 100 AS DOUBLE) AS duration_s
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q316_kcenter_coreset" -> kcenterOracleSql(k = 8),
    "q315_isotonic_calibration" ->
      """WITH b AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS bucket,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |    COUNT(*) AS n
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
        |pre AS (
        |  SELECT bucket, hits, n,
        |    SUM(hits) OVER (ORDER BY bucket) AS cy,
        |    SUM(n) OVER (ORDER BY bucket) AS cw
        |  FROM b),
        |iv AS (
        |  SELECT j.bucket AS bj, k.bucket AS bk,
        |    CAST(k.cy - (j.cy - j.hits) AS DOUBLE) / CAST(k.cw - (j.cw - j.n) AS DOUBLE) AS m
        |  FROM pre j JOIN pre k ON j.bucket <= k.bucket),
        |f AS (
        |  SELECT i.bucket AS bi, iv.bj, MIN(iv.m) AS inner_m
        |  FROM iv JOIN b i ON iv.bj <= i.bucket AND iv.bk >= i.bucket
        |  GROUP BY 1, 2),
        |fit AS (SELECT bi, MAX(inner_m) AS rate_iso FROM f GROUP BY bi)
        |SELECT b.bucket, b.n, b.hits,
        |  CAST(b.hits AS DOUBLE) / CAST(b.n AS DOUBLE) AS rate_raw, fit.rate_iso
        |FROM b JOIN fit ON b.bucket = fit.bi
        |ORDER BY b.bucket""".stripMargin,
    "q312_audio_frames" ->
      """WITH s AS (
        |  SELECT d.doc_id, t.i,
        |    CAST((d.doc_id * 31 + t.i * t.i * 7 + t.i * 17) % 4096 - 2048 AS BIGINT) AS v
        |  FROM documents d, generate_series(0, 63) t(i)),
        |g AS (
        |  SELECT doc_id, CAST(i // 16 AS INT) AS frame_idx, i, v,
        |    LAG(v) OVER (PARTITION BY doc_id, i // 16 ORDER BY i) AS pv
        |  FROM s)
        |SELECT doc_id, frame_idx, CAST(COUNT(*) AS INT) AS n_samples,
        |  CAST(SUM(v * v) AS BIGINT) AS energy,
        |  CAST(MAX(ABS(v)) AS INT) AS peak,
        |  CAST(COUNT(*) FILTER (WHERE pv * v < 0) AS INT) AS zero_crossings
        |FROM g GROUP BY doc_id, frame_idx
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q301_label_propagation" -> (lpaOracleCtes(rounds = 4) +
      "\nSELECT node AS p_partkey, label AS community FROM l4 ORDER BY p_partkey"),
    "q308_weighted_lpa" -> (lpaOracleCtes(rounds = 4, weighted = true) +
      "\nSELECT node AS p_partkey, label AS community FROM l4 ORDER BY p_partkey"),
    "q302_modularity" -> (lpaOracleCtes(rounds = 4) +
      """,
        |deg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src),
        |dc AS (
        |  SELECT l.label, SUM(d.deg) AS dcsum
        |  FROM deg d JOIN l4 l ON d.node = l.node GROUP BY l.label),
        |s1 AS (
        |  SELECT COUNT(*)::BIGINT AS n_communities,
        |    SUM(dcsum * dcsum) AS sum_d2 FROM dc),
        |s2 AS (
        |  SELECT COUNT(*)::BIGINT AS m,
        |    SUM(CASE WHEN lu.label = lv.label THEN 1 ELSE 0 END)::BIGINT AS intra_edges
        |  FROM e0 e JOIN l4 lu ON e.u = lu.node JOIN l4 lv ON e.v = lv.node)
        |SELECT n_communities, intra_edges, m,
        |  CAST(4 * CAST(m AS HUGEINT) * intra_edges - sum_d2 AS DOUBLE)
        |    / CAST(4 * CAST(m AS HUGEINT) * m AS DOUBLE) AS modularity
        |FROM s1, s2""".stripMargin),
    "q131_link_prediction" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, COUNT(*) AS deg
        |  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node),
        |adj AS (
        |  SELECT z, nb, 1000000000000 // deg AS recip
        |  FROM (SELECT u AS z, v AS nb FROM edges UNION ALL SELECT v, u FROM edges) a
        |  JOIN deg ON a.z = deg.node WHERE deg.deg <= 1000),
        |cand AS (
        |  SELECT a.nb AS u, b.nb AS w, COUNT(*) AS common_neighbors,
        |         CAST(SUM(a.recip) AS BIGINT) AS ra_fixed
        |  FROM adj a JOIN adj b ON a.z = b.z AND a.nb < b.nb
        |  GROUP BY a.nb, b.nb HAVING COUNT(*) >= 3)
        |SELECT c.u, c.w, c.common_neighbors, c.ra_fixed
        |FROM cand c LEFT JOIN edges e ON c.u = e.u AND c.w = e.v
        |WHERE e.u IS NULL
        |ORDER BY c.ra_fixed DESC, c.u, c.w""".stripMargin,
    "q132_benford" ->
      """WITH d AS (
        |  SELECT o_orderpriority,
        |    CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT)
        |      AS digit
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
        |c AS (SELECT o_orderpriority, digit, COUNT(*) AS n FROM d GROUP BY 1, 2)
        |SELECT o_orderpriority, digit, n,
        |  n::DOUBLE / (SUM(n) OVER (PARTITION BY o_orderpriority))::DOUBLE AS share,
        |  CASE digit
        |    WHEN 1 THEN 3.010299956639812e-1 WHEN 2 THEN 1.7609125905568124e-1
        |    WHEN 3 THEN 1.2493873660829993e-1 WHEN 4 THEN 9.691001300805642e-2
        |    WHEN 5 THEN 7.918124604762482e-2 WHEN 6 THEN 6.694678963061322e-2
        |    WHEN 7 THEN 5.799194697768673e-2 WHEN 8 THEN 5.115252244738129e-2
        |    WHEN 9 THEN 4.575749056067514e-2 END AS benford_share,
        |  abs(n::DOUBLE / (SUM(n) OVER (PARTITION BY o_orderpriority))::DOUBLE
        |    - CASE digit
        |        WHEN 1 THEN 3.010299956639812e-1 WHEN 2 THEN 1.7609125905568124e-1
        |        WHEN 3 THEN 1.2493873660829993e-1 WHEN 4 THEN 9.691001300805642e-2
        |        WHEN 5 THEN 7.918124604762482e-2 WHEN 6 THEN 6.694678963061322e-2
        |        WHEN 7 THEN 5.799194697768673e-2 WHEN 8 THEN 5.115252244738129e-2
        |        WHEN 9 THEN 4.575749056067514e-2 END) AS abs_dev
        |FROM c ORDER BY o_orderpriority, digit""".stripMargin,
    "q149_simpson_diversity" ->
      """WITH c AS (SELECT source, lang, COUNT(*) AS nl FROM documents GROUP BY 1, 2),
        |st AS (SELECT source, CAST(SUM(nl) AS DECIMAL(38,0)) AS nn,
        |  SUM(CAST(nl AS DECIMAL(38,0)) * CAST(nl AS DECIMAL(38,0))) AS sq,
        |  COUNT(*) AS n_langs FROM c GROUP BY source)
        |SELECT source, CAST(nn AS BIGINT) AS n_docs, n_langs,
        |  (nn * nn - sq)::DOUBLE / (nn * nn)::DOUBLE AS simpson_diversity,
        |  (nn * nn)::DOUBLE / sq::DOUBLE AS effective_langs
        |FROM st ORDER BY source""".stripMargin,
    "q150_khop_reach" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM edges UNION ALL SELECT v, u FROM edges),
        |r0 AS MATERIALIZED (
        |  SELECT node AS seed, node FROM (
        |    SELECT u AS node FROM edges UNION SELECT v FROM edges) n
        |  WHERE node < 50),
        |r1 AS MATERIALIZED (
        |  SELECT DISTINCT seed, node FROM (
        |    SELECT seed, node FROM r0
        |    UNION ALL SELECT r0.seed, s.dst FROM r0 JOIN sym s ON r0.node = s.src) x),
        |r2 AS MATERIALIZED (
        |  SELECT DISTINCT seed, node FROM (
        |    SELECT seed, node FROM r1
        |    UNION ALL SELECT r1.seed, s.dst FROM r1 JOIN sym s ON r1.node = s.src) x),
        |r3 AS MATERIALIZED (
        |  SELECT DISTINCT seed, node FROM (
        |    SELECT seed, node FROM r2
        |    UNION ALL SELECT r2.seed, s.dst FROM r2 JOIN sym s ON r2.node = s.src) x)
        |SELECT seed AS p_partkey, COUNT(*) AS n_within_3
        |FROM r3 GROUP BY seed ORDER BY p_partkey""".stripMargin,
    "q151_brand_affinity" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON p_partkey = l_partkey),
        |pairs AS (
        |  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS c_ab
        |  FROM bi a JOIN bi b
        |    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        |  GROUP BY 1, 2),
        |item AS (SELECT p_brand, COUNT(*) AS c_item FROM bi GROUP BY 1),
        |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM bi)
        |SELECT brand_a, brand_b, c_ab, ia.c_item AS c_a, ib.c_item AS c_b, n_baskets,
        |  c_ab::DOUBLE / n_baskets::DOUBLE AS support,
        |  (CAST(c_ab AS DECIMAL(38,0)) * CAST(n_baskets AS DECIMAL(38,0)))::DOUBLE
        |    / (CAST(ia.c_item AS DECIMAL(38,0)) * CAST(ib.c_item AS DECIMAL(38,0)))::DOUBLE
        |    AS lift
        |FROM pairs
        |JOIN item ia ON brand_a = ia.p_brand
        |JOIN item ib ON brand_b = ib.p_brand
        |CROSS JOIN tot
        |ORDER BY brand_a, brand_b""".stripMargin,
    "q152_drawdown" ->
      """WITH daily AS (
        |  SELECT l_suppkey, l_shipdate,
        |    SUM(CASE WHEN l_returnflag = 'R'
        |      THEN -CAST(round(l_extendedprice * 100) AS BIGINT)
        |      ELSE CAST(round(l_extendedprice * 100) AS BIGINT) END) AS day_cents
        |  FROM lineitem GROUP BY 1, 2),
        |cums AS (
        |  SELECT l_suppkey, l_shipdate, day_cents,
        |    SUM(day_cents) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM daily),
        |curve AS (
        |  SELECT l_suppkey, day_cents, cum,
        |    MAX(cum) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM cums)
        |SELECT l_suppkey, COUNT(*) AS n_days,
        |  CAST(MAX(peak) AS BIGINT) AS peak_cents,
        |  CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_cents,
        |  CAST(SUM(day_cents) AS BIGINT) AS final_cents
        |FROM curve GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q153_clamped_balance" ->
      """WITH led AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |      THEN CAST(round(value * 100) AS BIGINT)
        |      ELSE -CAST(round(value * 100) AS BIGINT) END AS x
        |  FROM events),
        |sums AS (
        |  SELECT user_id, ts, event_id, x,
        |    SUM(x) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM led),
        |pre AS (
        |  SELECT user_id, x, s,
        |    LEAST(0, MIN(s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS floorv
        |  FROM sums)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(MAX(s - floorv) AS BIGINT) AS max_balance,
        |  CAST(SUM(x) - LEAST(0, MIN(s)) AS BIGINT) AS final_balance
        |FROM pre GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q154_pareto_abc" ->
      """WITH rev AS (
        |  SELECT p_brand,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  GROUP BY 1),
        |ranked AS (
        |  SELECT p_brand, cents,
        |    ROW_NUMBER() OVER (ORDER BY cents DESC, p_brand) AS rnk,
        |    SUM(cents) OVER (ORDER BY cents DESC, p_brand
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
        |    SUM(cents) OVER () AS total_cents
        |  FROM rev)
        |SELECT p_brand, rnk, cents,
        |  CAST(cum_cents AS BIGINT) AS cum_cents,
        |  CAST(total_cents AS BIGINT) AS total_cents,
        |  CASE
        |    WHEN CAST(cum_cents AS DECIMAL(38,0)) * 5
        |      <= CAST(total_cents AS DECIMAL(38,0)) * 4 THEN 'A'
        |    WHEN CAST(cum_cents AS DECIMAL(38,0)) * 20
        |      <= CAST(total_cents AS DECIMAL(38,0)) * 19 THEN 'B'
        |    ELSE 'C' END AS abc_class
        |FROM ranked ORDER BY rnk""".stripMargin,
    "q155_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey, MAX(o_orderdate) AS last_date, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |  FROM orders GROUP BY 1),
        |scored AS (
        |  SELECT o_custkey, last_date, n_orders, total_cents,
        |    NTILE(4) OVER (ORDER BY last_date, o_custkey) AS r_score,
        |    NTILE(4) OVER (ORDER BY n_orders, o_custkey) AS f_score,
        |    NTILE(4) OVER (ORDER BY total_cents, o_custkey) AS m_score
        |  FROM per)
        |SELECT o_custkey, last_date, n_orders, total_cents,
        |  r_score, f_score, m_score,
        |  CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
        |    || CAST(m_score AS VARCHAR) AS segment
        |FROM scored ORDER BY o_custkey""".stripMargin,
    "q157_fk_audit" -> {
      def rel(name: String, child: String, fk: String,
          parent: String, pk: String): String =
        s"""SELECT '$name' AS relation,
           |  (SELECT COUNT(*) FROM $child) AS n_rows,
           |  (SELECT COUNT(*) FROM $child WHERE $fk IS NULL) AS n_null,
           |  (SELECT COUNT(*) FROM $child x WHERE x.$fk IS NOT NULL
           |     AND NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pk = x.$fk)) AS n_orphan""".stripMargin
      Seq(
        rel("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        rel("embeddings.vec_id->documents", "embeddings", "vec_id", "documents", "doc_id"),
        rel("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
        rel("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        rel("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        rel("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        rel("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
        rel("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        rel("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey")
      ).mkString("", "\nUNION ALL\n", "\nORDER BY relation")
    },
    "q158_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |h1 AS (SELECT cust, COUNT(*) AS h1 FROM e GROUP BY 1),
        |a1 AS (SELECT supp, CAST(SUM(h1) AS BIGINT) AS a1
        |  FROM e JOIN h1 USING (cust) GROUP BY 1),
        |h2 AS (SELECT cust, CAST(SUM(a1) AS BIGINT) AS h2
        |  FROM e JOIN a1 USING (supp) GROUP BY 1),
        |th AS (SELECT 'hub' AS side, cust AS node, h2 AS score
        |  FROM h2 ORDER BY h2 DESC, cust LIMIT 20),
        |ta AS (SELECT 'authority' AS side, supp AS node, a1 AS score
        |  FROM a1 ORDER BY a1 DESC, supp LIMIT 20)
        |SELECT * FROM th UNION ALL SELECT * FROM ta
        |ORDER BY side, node""".stripMargin,
    "q159_mom_growth" ->
      """WITH monthly AS (
        |  SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation ON n_nationkey = c_nationkey
        |  GROUP BY 1, 2),
        |lagged AS (
        |  SELECT n_name, month, cents,
        |    LAG(cents, 1) OVER (PARTITION BY n_name ORDER BY month) AS prev_cents
        |  FROM monthly)
        |SELECT n_name, month, cents, prev_cents,
        |  (cents - prev_cents)::DOUBLE / prev_cents::DOUBLE AS growth
        |FROM lagged ORDER BY n_name, month""".stripMargin,
    "q160_ship_sla" ->
      """WITH d AS (
        |  SELECT l_suppkey,
        |    datediff('day', o_orderdate, CAST(l_shipdate AS DATE)) AS delay
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
        |SELECT l_suppkey, COUNT(*) AS n_lines,
        |  COUNT(CASE WHEN delay <= 30 THEN 1 END) AS n_ontime,
        |  CAST(SUM(CASE WHEN delay > 30 THEN delay - 30 ELSE 0 END) AS BIGINT)
        |    AS late_days_total,
        |  COUNT(CASE WHEN delay <= 30 THEN 1 END)::DOUBLE
        |    / COUNT(*)::DOUBLE AS ontime_rate
        |FROM d GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q161_dedup_thresholds" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |    FROM documents WHERE doc_id < 1000) y),
        |pairs AS (
        |  SELECT len(list_intersect(a.sh, b.sh)) AS inter,
        |    len(a.sh) + len(b.sh) AS sz_sum
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |dec AS (
        |  SELECT CAST(CASE WHEN sz_sum - inter = 0 THEN 10
        |    ELSE LEAST(9, (inter * 10) // (sz_sum - inter)) END AS INT) AS decile
        |  FROM pairs),
        |cnt AS (SELECT decile, COUNT(*) AS n_pairs FROM dec GROUP BY 1)
        |SELECT decile, n_pairs,
        |  CAST(SUM(n_pairs) OVER (ORDER BY decile DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_at_or_above
        |FROM cnt ORDER BY decile""".stripMargin,
    "q162_up_streaks" ->
      """WITH daily AS (
        |  SELECT l_suppkey, l_shipdate,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM lineitem GROUP BY 1, 2),
        |flagged AS (
        |  SELECT l_suppkey, day_cents,
        |    COALESCE(CAST(day_cents > LAG(day_cents, 1) OVER
        |      (PARTITION BY l_suppkey ORDER BY l_shipdate) AS INT), 0) AS up,
        |    l_shipdate
        |  FROM daily),
        |grouped AS (
        |  SELECT l_suppkey, up,
        |    SUM(1 - up) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM flagged),
        |islands AS (
        |  SELECT l_suppkey, grp, SUM(up) AS len
        |  FROM grouped GROUP BY 1, 2)
        |SELECT d.l_suppkey, d.n_days,
        |  CAST(i.longest_up_streak AS BIGINT) AS longest_up_streak
        |FROM (SELECT l_suppkey, COUNT(*) AS n_days FROM daily GROUP BY 1) d
        |JOIN (SELECT l_suppkey, MAX(len) AS longest_up_streak
        |  FROM islands GROUP BY 1) i USING (l_suppkey)
        |ORDER BY l_suppkey""".stripMargin,
    "q163_attribution" ->
      """WITH touched AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type IN ('view', 'click')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        |SELECT COALESCE(touch, 'none') AS touch, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM touched WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY touch""".stripMargin,
    "q164_mode_per_user" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, event_type AS top_type, n
        |FROM c
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |  ORDER BY n DESC, event_type DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "q165_zipf" ->
      """WITH toks AS (
        |  SELECT unnest(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END
        |  ) AS token FROM documents),
        |top AS (
        |  SELECT token, COUNT(*) AS freq FROM toks GROUP BY 1
        |  ORDER BY freq DESC, token LIMIT 100)
        |SELECT token, freq,
        |  CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS INT) AS rank,
        |  CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) * freq
        |    AS rank_x_freq
        |FROM top ORDER BY rank""".stripMargin,
    "q166_skyline" ->
      """WITH p AS (
        |  SELECT p_partkey, p_size,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
        |  FROM part)
        |SELECT p_partkey, p_size, price_cents FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        |    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))
        |ORDER BY p_partkey""".stripMargin,
    "q167_harmonic_latency" ->
      """WITH base AS (
        |  SELECT n_name, datediff('day', o_orderdate, l_shipdate) + 1 AS lat_days
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |g AS (
        |  SELECT n_name, COUNT(*) AS n_shipments,
        |    SUM(CAST(1000000000000 // lat_days AS HUGEINT)) AS sr
        |  FROM base GROUP BY n_name)
        |SELECT n_name, n_shipments,
        |  (CAST(n_shipments AS HUGEINT) * 1000000000000)::DOUBLE / sr::DOUBLE
        |    AS harmonic_days,
        |  CAST(sr // 1000000000000000000 AS BIGINT) AS sum_recip_fixed_hi,
        |  CAST(sr % 1000000000000000000 AS BIGINT) AS sum_recip_fixed_lo
        |FROM g ORDER BY n_name""".stripMargin,
    "q168_ewma" ->
      """WITH li AS (
        |  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |lagged AS (
        |  SELECT l_partkey, l_shipdate, l_orderkey, l_linenumber,
        |    cents AS c0,
        |    LAG(cents, 1) OVER w AS c1, LAG(cents, 2) OVER w AS c2,
        |    LAG(cents, 3) OVER w AS c3, LAG(cents, 4) OVER w AS c4,
        |    LAG(cents, 5) OVER w AS c5, LAG(cents, 6) OVER w AS c6,
        |    LAG(cents, 7) OVER w AS c7
        |  FROM li
        |  WINDOW w AS (PARTITION BY l_partkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber)),
        |scored AS (
        |  SELECT l_partkey,
        |    COALESCE(c0 * 128, 0) + COALESCE(c1 * 64, 0) + COALESCE(c2 * 32, 0)
        |      + COALESCE(c3 * 16, 0) + COALESCE(c4 * 8, 0) + COALESCE(c5 * 4, 0)
        |      + COALESCE(c6 * 2, 0) + COALESCE(c7, 0) AS ewma_num,
        |    (CASE WHEN c0 IS NULL THEN 0 ELSE 128 END)
        |      + (CASE WHEN c1 IS NULL THEN 0 ELSE 64 END)
        |      + (CASE WHEN c2 IS NULL THEN 0 ELSE 32 END)
        |      + (CASE WHEN c3 IS NULL THEN 0 ELSE 16 END)
        |      + (CASE WHEN c4 IS NULL THEN 0 ELSE 8 END)
        |      + (CASE WHEN c5 IS NULL THEN 0 ELSE 4 END)
        |      + (CASE WHEN c6 IS NULL THEN 0 ELSE 2 END)
        |      + (CASE WHEN c7 IS NULL THEN 0 ELSE 1 END) AS ewma_den,
        |    ROW_NUMBER() OVER (PARTITION BY l_partkey
        |      ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC) AS rn
        |  FROM lagged)
        |SELECT l_partkey, CAST(ewma_num AS BIGINT) AS ewma_num,
        |  CAST(ewma_den AS BIGINT) AS ewma_den,
        |  CAST(ewma_num AS BIGINT)::DOUBLE / CAST(ewma_den AS BIGINT)::DOUBLE
        |    AS ewma_cents
        |FROM scored WHERE rn = 1 ORDER BY l_partkey""".stripMargin,
    "q169_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey, CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |  FROM orders GROUP BY o_custkey),
        |ranked AS (
        |  SELECT n_name, cents,
        |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY cents, o_custkey) AS i
        |  FROM spend
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |agg AS (
        |  SELECT n_name, COUNT(*) AS n_customers,
        |    SUM(CAST(cents AS DECIMAL(38,0))) AS sx,
        |    SUM(CAST(i AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS six
        |  FROM ranked GROUP BY n_name)
        |SELECT n_name, n_customers,
        |  (CAST(2 AS DECIMAL(38,0)) * six
        |     - CAST(n_customers + 1 AS DECIMAL(38,0)) * sx)::DOUBLE
        |    / (CAST(n_customers AS DECIMAL(38,0)) * sx)::DOUBLE AS gini
        |FROM agg ORDER BY n_name""".stripMargin,
    "q170_fd_audit" ->
      """WITH f1 AS (
        |  SELECT 'part: brand -> type' AS fd, COUNT(*) AS n_keys,
        |    CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |    MAX(d) AS max_distinct
        |  FROM (SELECT p_brand, COUNT(DISTINCT p_type) AS d FROM part GROUP BY 1)),
        |f2 AS (
        |  SELECT 'orders: custkey -> priority' AS fd, COUNT(*) AS n_keys,
        |    CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |    MAX(d) AS max_distinct
        |  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS d
        |    FROM orders GROUP BY 1)),
        |f3 AS (
        |  SELECT 'lineitem: partkey -> suppkey' AS fd, COUNT(*) AS n_keys,
        |    CAST(SUM(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |    MAX(d) AS max_distinct
        |  FROM (SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS d
        |    FROM lineitem GROUP BY 1))
        |SELECT fd, n_keys, n_violating, max_distinct,
        |  n_violating::DOUBLE / n_keys::DOUBLE AS violation_share
        |FROM (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3)
        |ORDER BY fd""".stripMargin,
    "q171_fingerprint" ->
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(CAST('0x' || substring(md5(concat_ws('|',
        |      l_orderkey, l_linenumber, l_returnflag, l_linestatus,
        |      CAST(round(l_quantity * 100) AS BIGINT),
        |      CAST(round(l_extendedprice * 100) AS BIGINT))), 17, 16) AS UBIGINT)
        |      AS HUGEINT) AS h
        |  FROM lineitem),
        |g AS (
        |  SELECT l_returnflag, COUNT(*) AS n_rows,
        |    SUM(h) AS fp_sum, MIN(h) AS fp_min, MAX(h) AS fp_max
        |  FROM c GROUP BY l_returnflag)
        |SELECT l_returnflag, n_rows,
        |  CAST(fp_sum // 1000000000000000000 AS BIGINT) AS fp_sum_hi,
        |  CAST(fp_sum % 1000000000000000000 AS BIGINT) AS fp_sum_lo,
        |  CAST(fp_min // 1000000000000000000 AS BIGINT) AS fp_min_hi,
        |  CAST(fp_min % 1000000000000000000 AS BIGINT) AS fp_min_lo,
        |  CAST(fp_max // 1000000000000000000 AS BIGINT) AS fp_max_hi,
        |  CAST(fp_max % 1000000000000000000 AS BIGINT) AS fp_max_lo
        |FROM g ORDER BY l_returnflag""".stripMargin,
    "q172_changepoint" ->
      """WITH daily AS (
        |  SELECT l_suppkey, l_shipdate,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM lineitem GROUP BY 1, 2),
        |pre AS (
        |  SELECT l_suppkey, l_shipdate,
        |    ROW_NUMBER() OVER w AS i,
        |    SUM(CAST(day_cents AS DECIMAL(38,0))) OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |    COUNT(*) OVER (PARTITION BY l_suppkey) AS n,
        |    SUM(CAST(day_cents AS DECIMAL(38,0))) OVER (PARTITION BY l_suppkey) AS t
        |  FROM daily
        |  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate)),
        |sc AS (
        |  SELECT l_suppkey, l_shipdate, i, s, n, t,
        |    abs(s * CAST(n - i AS DECIMAL(38,0)) - (t - s) * CAST(i AS DECIMAL(38,0))) AS p,
        |    CAST(i AS DECIMAL(38,0)) * CAST(n - i AS DECIMAL(38,0)) AS q
        |  FROM pre WHERE i < n),
        |best AS (
        |  SELECT *, p::DOUBLE / q::DOUBLE AS shift_score,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY p::DOUBLE / q::DOUBLE DESC, i) AS r
        |  FROM sc)
        |SELECT l_suppkey, l_shipdate AS split_date,
        |  CAST(i AS INT) AS split_pos, CAST(n AS BIGINT) AS n_obs,
        |  s::DOUBLE / CAST(i AS DECIMAL(38,0))::DOUBLE AS mean_before,
        |  (t - s)::DOUBLE / CAST(n - i AS DECIMAL(38,0))::DOUBLE AS mean_after,
        |  shift_score
        |FROM best WHERE r = 1 ORDER BY l_suppkey""".stripMargin,
    "q173_interpolate" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span),
        |g AS (
        |  SELECT grid.user_id, grid.day, d.day_cents,
        |    datediff('day', DATE '1970-01-01', grid.day) AS p
        |  FROM grid LEFT JOIN daily d ON grid.user_id = d.user_id AND grid.day = d.day),
        |f AS (
        |  SELECT user_id, day, day_cents,
        |    last_value(CASE WHEN day_cents IS NOT NULL THEN p END IGNORE NULLS)
        |      OVER wb AS pp,
        |    last_value(CASE WHEN day_cents IS NOT NULL THEN day_cents END IGNORE NULLS)
        |      OVER wb AS pv,
        |    first_value(CASE WHEN day_cents IS NOT NULL THEN p END IGNORE NULLS)
        |      OVER wf AS np,
        |    first_value(CASE WHEN day_cents IS NOT NULL THEN day_cents END IGNORE NULLS)
        |      OVER wf AS nv,
        |    p
        |  FROM g
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    wf AS (PARTITION BY user_id ORDER BY day
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day, day_cents IS NOT NULL AS observed,
        |  CASE
        |    WHEN day_cents IS NOT NULL THEN day_cents::DOUBLE
        |    WHEN pv IS NULL AND nv IS NULL THEN NULL
        |    WHEN pv IS NULL THEN nv::DOUBLE
        |    WHEN nv IS NULL THEN pv::DOUBLE
        |    ELSE pv::DOUBLE + ((nv - pv) * (p - pp))::DOUBLE / (np - pp)::DOUBLE
        |  END AS day_cents_interp
        |FROM f ORDER BY user_id, day""".stripMargin,
    "q174_edit_neighbors" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    "q175_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS cohort
        |  FROM events GROUP BY user_id),
        |agg AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN cohort = 1 THEN converted ELSE 0 END) AS BIGINT) AS s_a,
        |    CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN cohort = 0 THEN converted ELSE 0 END) AS BIGINT) AS s_b
        |  FROM u)
        |SELECT n_a, s_a, n_b, s_b,
        |  s_a::DOUBLE / n_a::DOUBLE AS rate_a,
        |  s_b::DOUBLE / n_b::DOUBLE AS rate_b,
        |  CAST(sign((CAST(n_b AS DECIMAL(38,0)) * CAST(s_a AS DECIMAL(38,0))
        |    - CAST(n_a AS DECIMAL(38,0)) * CAST(s_b AS DECIMAL(38,0)))::DOUBLE) AS INT)
        |    AS direction,
        |  ((CAST(n_b AS DECIMAL(38,0)) * CAST(s_a AS DECIMAL(38,0))
        |      - CAST(n_a AS DECIMAL(38,0)) * CAST(s_b AS DECIMAL(38,0)))
        |    * (CAST(n_b AS DECIMAL(38,0)) * CAST(s_a AS DECIMAL(38,0))
        |      - CAST(n_a AS DECIMAL(38,0)) * CAST(s_b AS DECIMAL(38,0)))
        |    * CAST(n_a + n_b AS DECIMAL(38,0)))::DOUBLE
        |  / (CAST(n_a AS DECIMAL(38,0)) * CAST(n_b AS DECIMAL(38,0))
        |    * CAST(s_a + s_b AS DECIMAL(38,0))
        |    * CAST(n_a + n_b - s_a - s_b AS DECIMAL(38,0)))::DOUBLE AS z_squared
        |FROM agg""".stripMargin,
    "q176_behavior_combos" ->
      """WITH f AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |combos AS (
        |  SELECT user_id,
        |    array_to_string(list_sort(list(DISTINCT event_type)), ',') AS combo
        |  FROM f WHERE rn <= 5 GROUP BY user_id),
        |c AS (SELECT combo, COUNT(*) AS n_users FROM combos GROUP BY combo)
        |SELECT combo, n_users,
        |  n_users::DOUBLE / (SUM(n_users) OVER ())::DOUBLE AS share
        |FROM c ORDER BY combo""".stripMargin,
    "q177_chisq_cells" ->
      """WITH cells AS (
        |  SELECT l_returnflag, l_linestatus, COUNT(*) AS observed
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT l_returnflag, l_linestatus, observed,
        |    SUM(observed) OVER (PARTITION BY l_returnflag) AS r,
        |    SUM(observed) OVER (PARTITION BY l_linestatus) AS c,
        |    SUM(observed) OVER () AS n
        |  FROM cells)
        |SELECT l_returnflag, l_linestatus, observed,
        |  (CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))::DOUBLE
        |    / CAST(n AS BIGINT)::DOUBLE AS expected,
        |  ((CAST(observed AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
        |      - CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0)))
        |    * (CAST(observed AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
        |      - CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))))::DOUBLE
        |  / (CAST(n AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0))
        |    * CAST(c AS DECIMAL(38,0)))::DOUBLE AS chisq_contrib
        |FROM m ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q178_backtest" ->
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |j AS (
        |  SELECT a.l_suppkey, a.cents - f.cents AS err, a.cents
        |  FROM daily a
        |  JOIN daily f ON a.l_suppkey = f.l_suppkey AND f.day = a.day - 7)
        |SELECT l_suppkey, COUNT(*) AS n_scored,
        |  CAST(SUM(abs(err)) AS BIGINT) AS abs_err_sum,
        |  CAST(SUM(abs(err)) AS BIGINT)::DOUBLE / CAST(SUM(cents) AS BIGINT)::DOUBLE
        |    AS wmape,
        |  CAST(SUM(err) AS BIGINT)::DOUBLE / CAST(SUM(cents) AS BIGINT)::DOUBLE AS bias
        |FROM j GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q179_rec_eval" ->
      """WITH sales AS (
        |  SELECT o_custkey, o_orderdate, p_brand,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey),
        |recs AS (
        |  SELECT o_custkey, p_brand, rank FROM (
        |    SELECT o_custkey, p_brand,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY SUM(cents) DESC, p_brand) AS rank
        |    FROM sales WHERE o_orderdate < DATE '1999-01-01'
        |    GROUP BY o_custkey, p_brand)
        |  WHERE rank <= 3),
        |truth AS (
        |  SELECT DISTINCT o_custkey, p_brand FROM sales
        |  WHERE o_orderdate >= DATE '1999-01-01'),
        |scored AS (
        |  SELECT r.o_custkey, COUNT(*) AS n_recs,
        |    CAST(SUM(CASE WHEN t.p_brand IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |    MIN(CASE WHEN t.p_brand IS NOT NULL THEN r.rank END) AS first_hit_rank
        |  FROM recs r
        |  LEFT JOIN truth t ON r.o_custkey = t.o_custkey AND r.p_brand = t.p_brand
        |  WHERE r.o_custkey IN (SELECT o_custkey FROM truth)
        |  GROUP BY r.o_custkey)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(hits) AS BIGINT) AS total_hits,
        |  CAST(SUM(n_recs) AS BIGINT) AS total_recs,
        |  CAST(SUM(hits) AS BIGINT)::DOUBLE / CAST(SUM(n_recs) AS BIGINT)::DOUBLE
        |    AS precision_at_3,
        |  CAST(SUM(COALESCE(1000000000000 // first_hit_rank, 0)) AS BIGINT)
        |    AS mrr_fixed_sum,
        |  CAST(SUM(COALESCE(1000000000000 // first_hit_rank, 0)) AS BIGINT)::DOUBLE
        |    / (CAST(COUNT(*) AS DECIMAL(38,0))
        |       * CAST(1000000000000 AS DECIMAL(38,0)))::DOUBLE AS mrr
        |FROM scored""".stripMargin,
    "q180_custdist" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q181_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem),
        |pp AS (
        |  SELECT l_partkey, CAST(SUM(qty_c) AS BIGINT) AS sum_qty,
        |    COUNT(*) AS cnt
        |  FROM li GROUP BY l_partkey),
        |agg AS (
        |  SELECT SUM(CAST(price_c AS HUGEINT)) AS revenue_cents,
        |    COUNT(*) AS n_lines
        |  FROM li JOIN pp USING (l_partkey)
        |  WHERE qty_c * 5 * cnt < sum_qty)
        |SELECT n_lines,
        |  CAST(revenue_cents // 1000000000000000000 AS BIGINT) AS revenue_cents_hi,
        |  CAST(revenue_cents % 1000000000000000000 AS BIGINT) AS revenue_cents_lo
        |FROM agg""".stripMargin,
    "q182_late_sole_supplier" ->
      """WITH ls AS (
        |  SELECT l_orderkey, l_suppkey,
        |    MAX(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90
        |      THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT l_suppkey, COUNT(*) AS numwait
        |FROM ls a
        |WHERE a.late = 1
        |  AND EXISTS (SELECT 1 FROM ls b
        |    WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey <> a.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM ls c
        |    WHERE c.l_orderkey = a.l_orderkey AND c.l_suppkey <> a.l_suppkey
        |      AND c.late = 1)
        |GROUP BY l_suppkey
        |ORDER BY numwait DESC, l_suppkey""".stripMargin,
    "q183_stream_enrich" ->
      """SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY segment""".stripMargin,
    "q184_multiset_ops" ->
      """WITH a AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'),
        |b AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
        |ea AS (SELECT o_orderpriority FROM
        |  (SELECT o_orderpriority FROM a EXCEPT ALL SELECT o_orderpriority FROM b)),
        |ia AS (SELECT o_orderpriority FROM
        |  (SELECT o_orderpriority FROM a INTERSECT ALL SELECT o_orderpriority FROM b))
        |SELECT 'except_all' AS op, o_orderpriority, COUNT(*) AS n
        |FROM ea GROUP BY 2
        |UNION ALL
        |SELECT 'intersect_all' AS op, o_orderpriority, COUNT(*) AS n
        |FROM ia GROUP BY 2
        |ORDER BY op, o_orderpriority""".stripMargin,
    "q185_langid_eval" ->
      """WITH p AS (
        |  SELECT coalesce(lang, 'und') AS actual,
        |    CASE
        |      WHEN length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
        |      WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
        |      WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
        |      WHEN de >= fr AND de > 0 THEN 'de'
        |      WHEN fr > 0 THEN 'fr'
        |      ELSE 'und' END AS pred
        |  FROM (
        |    SELECT lang, text,
        |      len(list_filter(toks, t -> list_contains(['the','a','an','of','and','to','in','is','it','that','for'], t))) AS en,
        |      len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','una','es','por'], t))) AS es,
        |      len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','ein','mit','zu','den'], t))) AS de,
        |      len(list_filter(toks, t -> list_contains(['le','la','les','de','et','un','une','est','dans','que'], t))) AS fr
        |    FROM (SELECT lang, text,
        |      CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN [] ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |      FROM documents) y) x),
        |cells AS (SELECT actual, pred, COUNT(*) AS n FROM p GROUP BY 1, 2),
        |ba AS (SELECT actual AS class, CAST(SUM(n) AS BIGINT) AS n_actual
        |  FROM cells GROUP BY 1),
        |bp AS (SELECT pred AS class, CAST(SUM(n) AS BIGINT) AS n_pred
        |  FROM cells GROUP BY 1),
        |tp AS (SELECT actual AS class, CAST(n AS BIGINT) AS tp FROM cells
        |  WHERE actual = pred),
        |j AS (
        |  SELECT coalesce(ba.class, bp.class) AS class,
        |    coalesce(n_actual, 0) AS n_actual, coalesce(n_pred, 0) AS n_pred
        |  FROM ba FULL OUTER JOIN bp ON ba.class = bp.class)
        |SELECT j.class, j.n_actual, j.n_pred, coalesce(tp.tp, 0) AS tp,
        |  CASE WHEN j.n_pred > 0
        |    THEN coalesce(tp.tp, 0)::DOUBLE / j.n_pred::DOUBLE END AS precision,
        |  CASE WHEN j.n_actual > 0
        |    THEN coalesce(tp.tp, 0)::DOUBLE / j.n_actual::DOUBLE END AS recall,
        |  CASE WHEN j.n_pred + j.n_actual > 0
        |    THEN (coalesce(tp.tp, 0) * 2)::DOUBLE
        |      / (j.n_pred + j.n_actual)::DOUBLE END AS f1
        |FROM j LEFT JOIN tp ON j.class = tp.class
        |ORDER BY j.class""".stripMargin,
    "q186_calibration" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN coalesce(lang, '') = 'en' THEN 1 ELSE 0 END AS is_en,
        |    NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
        |  FROM documents)
        |SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_docs,
        |  CAST(SUM(is_en) AS BIGINT) AS n_en,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
        |  CAST(SUM(is_en) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE AS en_rate
        |FROM d GROUP BY decile ORDER BY decile""".stripMargin,
    "q187_repurchase_latency" ->
      """WITH pur AS (
        |  SELECT user_id, ts, event_id,
        |    LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events WHERE event_type = 'purchase'),
        |gaps AS (
        |  SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
        |    datediff('second', prev_ts, ts) AS gap_sec
        |  FROM pur LEFT JOIN customer ON user_id = c_custkey
        |  WHERE prev_ts IS NOT NULL),
        |g AS (SELECT segment AS k, gap_sec AS v, COUNT(*) AS c FROM gaps
        |  WHERE gap_sec IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT k, SUM(c) AS n FROM g GROUP BY k),
        |cum AS (
        |  SELECT g.k, g.v, SUM(g.c) OVER (PARTITION BY g.k ORDER BY g.v) AS cc, t.n
        |  FROM g JOIN t USING (k))
        |SELECT k AS segment,
        |  MIN(CASE WHEN cc >= ceil(0.5 * n) THEN v END) AS p50,
        |  MIN(CASE WHEN cc >= ceil(0.9 * n) THEN v END) AS p90
        |FROM cum GROUP BY k ORDER BY k""".stripMargin,
    "q188_linear_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_type, value,
        |    COUNT(CASE WHEN event_type = 'view' THEN 1 END) OVER wb AS n_view,
        |    COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER wb AS n_click
        |  FROM events
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |pur AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
        |    n_view, n_click, n_view + n_click AS k
        |  FROM p WHERE event_type = 'purchase'),
        |credits AS (
        |  SELECT 'view' AS channel,
        |    CASE WHEN k > 0 THEN (cents * 1000000 * n_view) // k ELSE 0 END AS credit
        |  FROM pur
        |  UNION ALL
        |  SELECT 'click' AS channel,
        |    CASE WHEN k > 0 THEN (cents * 1000000 * n_click) // k ELSE 0 END AS credit
        |  FROM pur
        |  UNION ALL
        |  SELECT 'none' AS channel,
        |    CASE WHEN k = 0 THEN cents * 1000000 ELSE 0 END AS credit
        |  FROM pur),
        |g AS (
        |  SELECT channel,
        |    CAST(SUM(CASE WHEN credit > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_credited,
        |    SUM(CAST(credit AS HUGEINT)) AS credit_fixed
        |  FROM credits GROUP BY channel)
        |SELECT channel, n_credited,
        |  credit_fixed::DOUBLE / 100000000.0 AS credit_dollars,
        |  CAST(credit_fixed // 1000000000000000000 AS BIGINT) AS credit_fixed_hi,
        |  CAST(credit_fixed % 1000000000000000000 AS BIGINT) AS credit_fixed_lo
        |FROM g ORDER BY channel""".stripMargin,
    "q189_sssp" -> ssspOracleSql(16),
    "q190_top_other" ->
      """WITH rev AS (
        |  SELECT n_name, p_brand,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT n_name, p_brand, cents,
        |    ROW_NUMBER() OVER (PARTITION BY n_name
        |      ORDER BY cents DESC, p_brand) AS rk
        |  FROM rev),
        |rolled AS (
        |  SELECT n_name,
        |    CASE WHEN rk <= 3 THEN p_brand ELSE 'OTHER' END AS brand,
        |    CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM ranked GROUP BY 1, 2)
        |SELECT n_name, brand, cents,
        |  cents::DOUBLE / (SUM(cents) OVER (PARTITION BY n_name))::DOUBLE AS share
        |FROM rolled ORDER BY n_name, brand""".stripMargin,
    "q191_step_latency" ->
      """WITH fv AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |fc AS (
        |  SELECT e.user_id, fv.t_view, MIN(e.ts) AS t_click
        |  FROM events e JOIN fv ON e.user_id = fv.user_id
        |  WHERE e.event_type = 'click' AND e.ts > fv.t_view
        |  GROUP BY e.user_id, fv.t_view),
        |fb AS (
        |  SELECT e.user_id, fc.t_view, fc.t_click, MIN(e.ts) AS t_buy
        |  FROM events e JOIN fc ON e.user_id = fc.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > fc.t_click
        |  GROUP BY e.user_id, fc.t_view, fc.t_click),
        |gaps AS (
        |  SELECT 'view_to_click' AS step,
        |    datediff('second', t_view, t_click) AS gap_sec FROM fb
        |  UNION ALL
        |  SELECT 'click_to_purchase' AS step,
        |    datediff('second', t_click, t_buy) AS gap_sec FROM fb),
        |g AS (SELECT step AS k, gap_sec AS v, COUNT(*) AS c FROM gaps
        |  WHERE gap_sec IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT k, SUM(c) AS n FROM g GROUP BY k),
        |cum AS (
        |  SELECT g.k, g.v, SUM(g.c) OVER (PARTITION BY g.k ORDER BY g.v) AS cc, t.n
        |  FROM g JOIN t USING (k))
        |SELECT k AS step,
        |  MIN(CASE WHEN cc >= ceil(0.5 * n) THEN v END) AS p50,
        |  MIN(CASE WHEN cc >= ceil(0.9 * n) THEN v END) AS p90
        |FROM cum GROUP BY k ORDER BY k""".stripMargin,
    "q192_snapshot_diff" ->
      """WITH curr AS (
        |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |prev AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 11 = 0 THEN bal_cents + 1000
        |      ELSE bal_cents END AS bal_cents
        |  FROM curr WHERE c_custkey % 97 <> 0
        |  UNION ALL
        |  SELECT -c_custkey AS c_custkey, bal_cents
        |  FROM curr WHERE c_custkey % 13 = 0),
        |j AS (
        |  SELECT COALESCE(p.c_custkey, c.c_custkey) AS c_custkey,
        |    p.bal_cents AS old_bal_cents, c.bal_cents AS new_bal_cents,
        |    CASE
        |      WHEN p.c_custkey IS NULL THEN 'added'
        |      WHEN c.c_custkey IS NULL THEN 'removed'
        |      WHEN p.bal_cents IS DISTINCT FROM c.bal_cents THEN 'changed'
        |      ELSE 'unchanged' END AS change_type
        |  FROM prev p FULL OUTER JOIN curr c ON p.c_custkey = c.c_custkey)
        |SELECT c_custkey, old_bal_cents, new_bal_cents, change_type
        |FROM j WHERE change_type <> 'unchanged'
        |ORDER BY c_custkey""".stripMargin,
    "q193_skipgrams" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(ts) AS tok, generate_subscripts(ts, 1) AS pos
        |  FROM (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS ts
        |    FROM documents)),
        |pairs AS (
        |  SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2
        |  FROM toks a JOIN toks b
        |    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 3)
        |SELECT w1, w2, COUNT(*) AS n_pairs FROM pairs GROUP BY 1, 2
        |ORDER BY n_pairs DESC, w1, w2 LIMIT 50""".stripMargin,
    "q194_dataset_card" ->
      """WITH per AS (
        |  SELECT source,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |      ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END
        |      AS n_tokens,
        |    coalesce(length(text), 0) AS n_chars,
        |    CASE WHEN coalesce(lang, '') = 'en' THEN 1 ELSE 0 END AS is_en,
        |    md5(array_to_string(list_sort(list_distinct(
        |      CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |        ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END)), ' '))
        |      AS sig
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(is_en) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE AS en_share,
        |  (COUNT(*) - COUNT(DISTINCT sig))::DOUBLE / COUNT(*)::DOUBLE AS dup_rate,
        |  CAST(SUM(n_tokens) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE AS mean_tokens
        |FROM per GROUP BY source ORDER BY source""".stripMargin,
    "q195_fold_audit" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CASE WHEN coalesce(lang, '') = 'en' THEN 1 ELSE 0 END AS is_en,
        |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 17, 16) AS UBIGINT)
        |      % 5 AS INT) AS fold
        |  FROM documents)
        |SELECT fold, COUNT(*) AS n_docs, CAST(SUM(is_en) AS BIGINT) AS n_en,
        |  CAST(SUM(is_en) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE AS en_share
        |FROM f GROUP BY fold ORDER BY fold""".stripMargin,
    "q196_golden_record" ->
      """WITH d AS (
        |  SELECT md5(array_to_string(list_sort(list_distinct(
        |      CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |        ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END)), ' '))
        |      AS sig,
        |    doc_id, lang, coalesce(length(text), 0) AS len
        |  FROM documents),
        |lmc AS (SELECT sig, lang, COUNT(*) AS n FROM d
        |  WHERE lang IS NOT NULL GROUP BY 1, 2),
        |lm AS (SELECT sig, lang AS golden_lang FROM lmc
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY sig ORDER BY n DESC, lang DESC) = 1),
        |lt AS (SELECT sig, len AS golden_len, doc_id AS longest_id FROM d
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY sig ORDER BY len DESC, doc_id) = 1),
        |g AS (SELECT sig, COUNT(*) AS cluster_size, MIN(doc_id) AS golden_id
        |  FROM d GROUP BY sig)
        |SELECT g.sig, g.cluster_size, g.golden_id, lt.golden_len, lt.longest_id,
        |  lm.golden_lang
        |FROM g JOIN lt USING (sig) LEFT JOIN lm USING (sig)
        |ORDER BY sig""".stripMargin,
    "q197_ivm_merge" ->
      """WITH ev AS (
        |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |base AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM ev WHERE event_id < 8000 GROUP BY 1),
        |delta AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM ev WHERE event_id >= 8000 GROUP BY 1),
        |merged AS (
        |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_merged,
        |    CAST(SUM(cents) AS BIGINT) AS cents_merged
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM delta) GROUP BY 1),
        |f AS (SELECT event_type, COUNT(*) AS n_full,
        |    CAST(SUM(cents) AS BIGINT) AS cents_full
        |  FROM ev GROUP BY 1)
        |SELECT event_type, n_full, cents_full,
        |  n_merged = n_full AS n_matches,
        |  cents_merged = cents_full AS cents_match
        |FROM merged JOIN f USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "q198_decay_attribution" ->
      """WITH tou AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
        |    list_filter(list_reverse(list(
        |        CASE WHEN event_type IN ('view', 'click') THEN event_type END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |      x -> x IS NOT NULL)[1:8] AS touches
        |  FROM events QUALIFY event_type = 'purchase'),
        |p AS (
        |  SELECT cents, touches, len(touches) AS k,
        |    CASE WHEN len(touches) > 0
        |      THEN (1::BIGINT << 8) - (1::BIGINT << (8 - len(touches)))
        |      ELSE 0 END AS wsum
        |  FROM tou),
        |cr AS (
        |  SELECT unnest(touches) AS channel,
        |    generate_subscripts(touches, 1) AS pos1, cents, wsum
        |  FROM p WHERE wsum > 0),
        |ch AS (
        |  SELECT channel, COUNT(*) AS n_touches,
        |    CAST(SUM((cents * 1000000 * (1::BIGINT << (8 - pos1))) // wsum)
        |      AS HUGEINT) AS credit_fixed
        |  FROM cr GROUP BY channel),
        |nn AS (
        |  SELECT 'none' AS channel, COUNT(*) AS n_touches,
        |    CAST(COALESCE(SUM(cents * 1000000), 0) AS HUGEINT) AS credit_fixed
        |  FROM p WHERE wsum = 0)
        |SELECT channel, n_touches,
        |  credit_fixed::DOUBLE / 100000000.0 AS credit_dollars,
        |  CAST(credit_fixed // 1000000000000000000 AS BIGINT) AS credit_fixed_hi,
        |  CAST(credit_fixed % 1000000000000000000 AS BIGINT) AS credit_fixed_lo
        |FROM (SELECT * FROM ch UNION ALL SELECT * FROM nn)
        |ORDER BY channel""".stripMargin,
    "q199_rand_index" ->
      """WITH d AS (
        |  SELECT source AS a, coalesce(lang, 'und') AS b FROM documents),
        |cells AS (
        |  SELECT SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0)))
        |    AS sum_cells
        |  FROM (SELECT COUNT(*) AS n FROM d GROUP BY a, b)),
        |ma AS (
        |  SELECT SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0)))
        |    AS sum_a
        |  FROM (SELECT COUNT(*) AS n FROM d GROUP BY a)),
        |mb AS (
        |  SELECT SUM(CAST(n AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(38,0)))
        |    AS sum_b
        |  FROM (SELECT COUNT(*) AS n FROM d GROUP BY b)),
        |tot AS (
        |  SELECT COUNT(*) AS n_docs,
        |    CAST(COUNT(*) AS DECIMAL(38,0)) * CAST(COUNT(*) - 1 AS DECIMAL(38,0))
        |      AS pairs2
        |  FROM d)
        |SELECT n_docs,
        |  (pairs2 + 2 * sum_cells - sum_a - sum_b)::DOUBLE / pairs2::DOUBLE
        |    AS rand_index
        |FROM tot, cells, ma, mb""".stripMargin,
    "q200_expectations" ->
      """WITH t1 AS (
        |  SELECT 'orders.o_orderkey unique' AS test_name, COUNT(*) AS n_failures
        |  FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)),
        |t2 AS (
        |  SELECT 'orders.o_custkey not_null', COUNT(*) FROM orders
        |  WHERE o_custkey IS NULL),
        |t3 AS (
        |  SELECT 'orders.o_orderstatus accepted_values', COUNT(*) FROM orders
        |  WHERE o_orderstatus NOT IN ('O', 'F', 'P')),
        |t4 AS (
        |  SELECT 'lineitem.l_orderkey references orders', COUNT(*) FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |t5 AS (
        |  SELECT 'orders.o_custkey references customer', COUNT(*) FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |t6 AS (
        |  SELECT 'lineitem.l_quantity positive', COUNT(*) FROM lineitem
        |  WHERE l_quantity IS NULL OR l_quantity <= 0)
        |SELECT test_name, n_failures, n_failures = 0 AS passed FROM (
        |  SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
        |  UNION ALL SELECT * FROM t4 UNION ALL SELECT * FROM t5
        |  UNION ALL SELECT * FROM t6)
        |ORDER BY test_name""".stripMargin,
    "q201_rolling_slope" ->
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |d2 AS (
        |  SELECT l_suppkey, day, cents,
        |    datediff('day', DATE '1970-01-01', day) AS x
        |  FROM daily),
        |sc AS (
        |  SELECT l_suppkey, day,
        |    COUNT(*) OVER f AS n,
        |    SUM(CAST(x AS DECIMAL(38,0))) OVER f AS sx,
        |    SUM(CAST(cents AS DECIMAL(38,0))) OVER f AS sy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) OVER f AS sxy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) OVER f AS sxx
        |  FROM d2
        |  WINDOW f AS (PARTITION BY l_suppkey ORDER BY day
        |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)),
        |best AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY day DESC) AS rn
        |  FROM sc)
        |SELECT l_suppkey, day AS latest_day, CAST(n AS BIGINT) AS n_window,
        |  CASE WHEN (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx) > 0 THEN
        |    (CAST(n AS DECIMAL(38,0)) * sxy - sx * sy)::DOUBLE
        |      / (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx)::DOUBLE END
        |    AS slope_cents_per_day
        |FROM best WHERE rn = 1 ORDER BY l_suppkey""".stripMargin,
    "q202_session_paths" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800 * 1000000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
        |  FROM flagged),
        |paths AS (
        |  SELECT user_id, session_id,
        |    array_to_string((list(event_type ORDER BY ts, event_id))[1:3], '>') AS path
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 30""".stripMargin,
    "q203_ltv_curve" ->
      """WITH p AS (
        |  SELECT user_id,
        |    CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)
        |      AS INT) AS week,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |coh AS (SELECT user_id, MIN(week) AS cohort_week FROM p GROUP BY 1),
        |cells AS (
        |  SELECT cohort_week, week - cohort_week AS week_offset,
        |    CAST(SUM(cents) AS BIGINT) AS cents,
        |    COUNT(DISTINCT p.user_id) AS active_users
        |  FROM p JOIN coh ON p.user_id = coh.user_id GROUP BY 1, 2),
        |sizes AS (SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size
        |  FROM coh GROUP BY 1),
        |c2 AS (
        |  SELECT cells.cohort_week, week_offset, cohort_size, active_users,
        |    CAST(SUM(cents) OVER (PARTITION BY cells.cohort_week ORDER BY week_offset
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
        |  FROM cells JOIN sizes USING (cohort_week))
        |SELECT cohort_week, CAST(week_offset AS INT) AS week_offset, cohort_size,
        |  active_users, cum_cents,
        |  cum_cents::DOUBLE / cohort_size::DOUBLE AS ltv_cents_per_user
        |FROM c2 ORDER BY cohort_week, week_offset""".stripMargin,
    "q204_safety_stock" ->
      """WITH daily AS (
        |  SELECT l_partkey, CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c
        |  FROM lineitem GROUP BY 1, 2),
        |st AS (
        |  SELECT l_partkey, COUNT(*) AS n_days,
        |    SUM(CAST(qty_c AS DECIMAL(38,0))) AS s,
        |    SUM(CAST(qty_c AS DECIMAL(38,0)) * CAST(qty_c AS DECIMAL(38,0))) AS q
        |  FROM daily GROUP BY 1 HAVING COUNT(*) >= 2)
        |SELECT l_partkey, n_days,
        |  s::DOUBLE / n_days::DOUBLE AS mean_qty,
        |  sqrt((CAST(n_days AS DECIMAL(38,0)) * q - s * s)::DOUBLE
        |    / (CAST(n_days AS DECIMAL(38,0)) * CAST(n_days AS DECIMAL(38,0)))::DOUBLE)
        |    AS sigma_qty,
        |  s::DOUBLE / n_days::DOUBLE
        |    + 2.0 * sqrt((CAST(n_days AS DECIMAL(38,0)) * q - s * s)::DOUBLE
        |      / (CAST(n_days AS DECIMAL(38,0)) * CAST(n_days AS DECIMAL(38,0)))::DOUBLE)
        |    AS reorder_point
        |FROM st ORDER BY l_partkey""".stripMargin,
    "q205_sentences" ->
      """SELECT doc_id, CAST(ns AS INT) AS n_sentences, n_tokens,
        |  CASE WHEN ns > 0 THEN n_tokens::DOUBLE / ns::DOUBLE END
        |    AS mean_sentence_tokens
        |FROM (
        |  SELECT doc_id,
        |    len(list_filter(list_transform(
        |      string_split_regex(coalesce(text, ''), '[.!?]+'), x -> trim(x)),
        |      x -> x <> '')) AS ns,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |      ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END
        |      AS n_tokens
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q206_cusum" ->
      """WITH daily AS (
        |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |wk AS (
        |  SELECT l_suppkey, day, cents,
        |    CAST(SUM(cents) OVER (PARTITION BY l_suppkey) AS BIGINT)
        |      // COUNT(*) OVER (PARTITION BY l_suppkey) AS k
        |  FROM daily),
        |pre1 AS (
        |  SELECT l_suppkey, k, day,
        |    SUM(cents - k) OVER (PARTITION BY l_suppkey ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM wk),
        |pre AS (
        |  SELECT l_suppkey, k, p,
        |    LEAST(CAST(0 AS BIGINT), MIN(p) OVER (PARTITION BY l_suppkey ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS mn
        |  FROM pre1)
        |SELECT l_suppkey, COUNT(*) AS n_days, CAST(MAX(k) AS BIGINT) AS k_cents,
        |  CAST(SUM(CASE WHEN p - mn > k * 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
        |  CAST(MAX(p - mn) AS BIGINT) AS max_cusum
        |FROM pre GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q207_ttl_fill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM span),
        |g AS (
        |  SELECT grid.user_id, grid.day, d.cents,
        |    datediff('day', DATE '1970-01-01', grid.day) AS p
        |  FROM grid LEFT JOIN daily d ON grid.user_id = d.user_id AND grid.day = d.day),
        |f AS (
        |  SELECT user_id, day, cents, p,
        |    last_value(CASE WHEN cents IS NOT NULL THEN p END IGNORE NULLS)
        |      OVER wb AS op,
        |    last_value(CASE WHEN cents IS NOT NULL THEN cents END IGNORE NULLS)
        |      OVER wb AS v
        |  FROM g
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, day,
        |  CASE WHEN p - op <= 3 THEN v END AS filled_cents,
        |  (p - op <= 3 AND cents IS NULL) AS carried
        |FROM f ORDER BY user_id, day""".stripMargin,
    "q208_order_lifecycle" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderstatus,
        |  COUNT(*) AS n_lines,
        |  MIN(CAST(l_shipdate AS DATE)) AS first_ship,
        |  MAX(CAST(l_shipdate AS DATE)) AS last_ship,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  datediff('day', CAST(o_orderdate AS DATE), MIN(CAST(l_shipdate AS DATE)))
        |    AS days_to_first,
        |  datediff('day', MIN(CAST(l_shipdate AS DATE)), MAX(CAST(l_shipdate AS DATE)))
        |    AS ship_span_days
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1, 2, 3 ORDER BY o_orderkey""".stripMargin,
    "q209_idle_gaps" ->
      """WITH g AS (
        |  SELECT user_id,
        |    datediff('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |      ts) AS gap_sec
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_gaps,
        |  CAST(SUM(gap_sec) AS BIGINT) AS idle_sec_total,
        |  CAST(MAX(gap_sec) AS BIGINT) AS longest_gap_sec
        |FROM g WHERE gap_sec >= 1800
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q210_seasonality" ->
      """WITH d AS (
        |  SELECT dayofweek(l_shipdate) + 1 AS dow, COUNT(*) AS n_lines,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1)
        |SELECT dow, n_lines, cents,
        |  cents::DOUBLE / (SUM(cents) OVER ())::DOUBLE AS share,
        |  (cents * 7)::DOUBLE / (SUM(cents) OVER ())::DOUBLE AS seasonal_index
        |FROM d ORDER BY dow""".stripMargin,
    "q211_trade_matrix" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |GROUP BY 1, 2 ORDER BY supp_nation, cust_nation""".stripMargin,
    "q212_datasource_v2" ->
      """WITH r AS (
        |  SELECT range AS id, range * range AS square,
        |    CAST(range % 16 AS INT) AS bucket, 'row-' || range AS label
        |  FROM range(100000))
        |SELECT bucket, COUNT(*) AS n_rows,
        |  CAST(SUM(square) AS BIGINT) AS sum_square,
        |  MIN(label) AS first_label
        |FROM r WHERE id >= 1000 AND id < 50000
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q213_itemsets_3" ->
      """WITH baskets AS (
        |  SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM baskets),
        |tri AS (
        |  SELECT a.p_brand AS b1, b.p_brand AS b2, c.p_brand AS b3
        |  FROM baskets a
        |  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        |  JOIN baskets c ON a.l_orderkey = c.l_orderkey AND b.p_brand < c.p_brand)
        |SELECT b1, b2, b3, COUNT(*) AS n_orders,
        |  COUNT(*)::DOUBLE / (SELECT n_baskets FROM tot)::DOUBLE AS support
        |FROM tri GROUP BY b1, b2, b3
        |HAVING COUNT(*) >= 20
        |ORDER BY n_orders DESC, b1, b2, b3""".stripMargin,
    "q214_engagement_grid" ->
      """WITH per AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |b AS (
        |  SELECT CAST(NTILE(4) OVER (ORDER BY cents, o_custkey) AS INT) AS spend_q,
        |    CAST(NTILE(4) OVER (ORDER BY n_orders, o_custkey) AS INT) AS freq_q
        |  FROM per),
        |g AS (SELECT spend_q, freq_q, COUNT(*) AS n_customers FROM b GROUP BY 1, 2)
        |SELECT spend_q, freq_q, n_customers,
        |  n_customers::DOUBLE / (SUM(n_customers) OVER ())::DOUBLE AS share
        |FROM g ORDER BY spend_q, freq_q""".stripMargin,
    "q215_path_length" ->
      """WITH fb AS (
        |  SELECT user_id, MIN({'ts': ts, 'event_id': event_id}) AS m
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |fb2 AS (SELECT user_id, m.ts AS buy_ts, m.event_id AS buy_id FROM fb),
        |nb AS (
        |  SELECT e.user_id, COUNT(*) AS n_before
        |  FROM events e JOIN fb2 ON e.user_id = fb2.user_id
        |  WHERE e.ts < buy_ts OR (e.ts = buy_ts AND e.event_id < buy_id)
        |  GROUP BY e.user_id)
        |SELECT COALESCE(n_before, 0) AS n_before, COUNT(*) AS n_users
        |FROM fb2 LEFT JOIN nb ON fb2.user_id = nb.user_id
        |GROUP BY 1 ORDER BY n_before""".stripMargin,
    "q216_source_dup_matrix" ->
      """WITH srcs AS (
        |  SELECT DISTINCT md5(array_to_string(list_sort(list_distinct(
        |      CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |        ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END)), ' '))
        |      AS sig,
        |    source
        |  FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared_sigs
        |FROM srcs a JOIN srcs b ON a.sig = b.sig AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,
    "q217_growth_histogram" ->
      """WITH daily AS (
        |  SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM lineitem GROUP BY 1),
        |wp AS (
        |  SELECT day, cents, LAG(cents) OVER (ORDER BY day) AS prev FROM daily)
        |SELECT
        |  (CASE WHEN cents * 100 >= 50 * prev THEN 1 ELSE 0 END)
        |  + (CASE WHEN cents * 100 >= 80 * prev THEN 1 ELSE 0 END)
        |  + (CASE WHEN cents * 100 >= 95 * prev THEN 1 ELSE 0 END)
        |  + (CASE WHEN cents * 100 >= 105 * prev THEN 1 ELSE 0 END)
        |  + (CASE WHEN cents * 100 >= 125 * prev THEN 1 ELSE 0 END)
        |  + (CASE WHEN cents * 100 >= 200 * prev THEN 1 ELSE 0 END) AS bin,
        |  COUNT(*) AS n_days
        |FROM wp WHERE prev IS NOT NULL AND prev > 0
        |GROUP BY 1 ORDER BY bin""".stripMargin,
    "q218_rank_correlation" -> spearmanOracleSql(5),
    "q219_weighted_pagerank" -> weightedPageRankOracleSql(5),
    "q222_basket_share" ->
      """WITH li AS (
        |  SELECT l_orderkey, p_brand,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |sh AS (
        |  SELECT p_brand,
        |    (cents * 1000000) // CAST(SUM(cents) OVER (PARTITION BY l_orderkey) AS BIGINT)
        |      AS share_fixed
        |  FROM li),
        |g AS (
        |  SELECT p_brand, COUNT(*) AS n_lines,
        |    SUM(CAST(share_fixed AS HUGEINT)) AS sfs
        |  FROM sh GROUP BY p_brand)
        |SELECT p_brand, n_lines,
        |  sfs::DOUBLE / (CAST(n_lines AS HUGEINT) * 1000000)::DOUBLE AS mean_share,
        |  CAST(sfs // 1000000000000000000 AS BIGINT) AS share_fixed_sum_hi,
        |  CAST(sfs % 1000000000000000000 AS BIGINT) AS share_fixed_sum_lo
        |FROM g ORDER BY p_brand""".stripMargin,
    "q221_dq_conservation" ->
      """WITH ann AS (
        |  SELECT UPPER(TRIM(l_returnflag)) AS flag,
        |    NULLIF(CONCAT_WS('|',
        |      CASE WHEN l_quantity IS NULL THEN 'ERR_CANT_NULL' END,
        |      CASE WHEN l_quantity IS NOT NULL AND l_quantity <= 0 THEN 'ERR_CANT_NO_POSITIVA' END,
        |      CASE WHEN l_quantity > 45 THEN 'ERR_CANT_EXCESIVA' END,
        |      CASE WHEN l_discount > 0.08 THEN 'ERR_DESC_EXCESIVO' END,
        |      CASE WHEN UPPER(TRIM(l_returnflag)) NOT IN ('A','N','R') THEN 'ERR_FLAG_DESCONOCIDO' END,
        |      CASE WHEN l_extendedprice IS NOT NULL AND l_extendedprice <= 0 THEN 'ERR_VENTA_NO_POSITIVA' END
        |    ), '') AS motivo_obs
        |  FROM lineitem)
        |SELECT flag, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN motivo_obs IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
        |  CAST(SUM(CASE WHEN motivo_obs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quarantined,
        |  TRUE AS conserved
        |FROM ann GROUP BY flag ORDER BY flag""".stripMargin,
    "q220_one_token_diff" ->
      """WITH base AS (
        |  SELECT doc_id, list_sort(list_distinct(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END))
        |    AS ts
        |  FROM documents),
        |small AS (
        |  SELECT doc_id AS id_small, CAST(len(ts) AS INT) AS n_small,
        |    md5(array_to_string(ts, ' ')) AS key
        |  FROM base),
        |big AS (
        |  SELECT doc_id AS id_big,
        |    md5(array_to_string(list_concat(ts[1:i-1], ts[i+1:len(ts)]), ' ')) AS key
        |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM base))
        |SELECT DISTINCT id_small, id_big, n_small
        |FROM small JOIN big USING (key)
        |WHERE id_small <> id_big
        |ORDER BY id_small, id_big""".stripMargin,
    "q156_countmin" ->
      """WITH toks AS (
        |  SELECT unnest(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END
        |  ) AS token FROM documents)
        |SELECT token, COUNT(*) AS exact_n, TRUE AS cms_ge_exact
        |FROM toks GROUP BY token
        |ORDER BY exact_n DESC, token LIMIT 50""".stripMargin,
    "q146_correlation" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |st AS (
        |  SELECT flag, CAST(COUNT(*) AS DECIMAL(38,0)) AS nn,
        |    SUM(CAST(x AS DECIMAL(38,0))) AS sx, SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
        |    SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy,
        |    SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy
        |  FROM li GROUP BY flag)
        |SELECT flag, CAST(nn AS BIGINT) AS n,
        |  (nn * sxy - sx * sy)::DOUBLE
        |    / (sqrt((nn * sxx - sx * sx)::DOUBLE) * sqrt((nn * syy - sy * sy)::DOUBLE))
        |    AS pearson_r
        |FROM st ORDER BY flag""".stripMargin,
    "q147_cluster_sizes" ->
      """WITH sig AS (
        |  SELECT md5(array_to_string(list_sort(list_distinct(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END)), ' '))
        |    AS sig
        |  FROM documents),
        |cl AS (SELECT sig, COUNT(*) AS cluster_size FROM sig GROUP BY sig)
        |SELECT cluster_size, COUNT(*) AS n_clusters FROM cl
        |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "q148_auc" ->
      """WITH h AS (
        |  SELECT n_chars AS score,
        |    COUNT(*) FILTER (lang = 'en') AS pos,
        |    COUNT(*) FILTER (lang IS NULL OR lang <> 'en') AS neg
        |  FROM documents GROUP BY n_chars),
        |c AS (
        |  SELECT pos, neg,
        |    coalesce(SUM(neg) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS cumneg
        |  FROM h)
        |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
        |  CAST(SUM(CAST(pos AS DECIMAL(38,0)) * (CAST(cumneg AS DECIMAL(38,0)) * 2
        |    + CAST(neg AS DECIMAL(38,0)))) AS BIGINT) AS u2,
        |  SUM(CAST(pos AS DECIMAL(38,0)) * (CAST(cumneg AS DECIMAL(38,0)) * 2
        |    + CAST(neg AS DECIMAL(38,0))))::DOUBLE
        |  / (CAST(SUM(pos) AS DECIMAL(38,0)) * CAST(SUM(neg) AS DECIMAL(38,0)) * 2)::DOUBLE
        |  AS auc
        |FROM c""".stripMargin,
    "q143_zscore" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |st AS (
        |  SELECT flag, CAST(COUNT(*) AS DECIMAL(38,0)) AS nn,
        |    SUM(CAST(cents AS DECIMAL(38,0))) AS ss,
        |    SUM(CAST(cents AS DECIMAL(38,0)) * CAST(cents AS DECIMAL(38,0))) AS qq
        |  FROM li GROUP BY flag)
        |SELECT li.l_orderkey, li.l_linenumber, li.flag, li.cents,
        |  (st.nn * CAST(li.cents AS DECIMAL(38,0)) - st.ss)::DOUBLE
        |    / sqrt((st.nn * st.qq - st.ss * st.ss)::DOUBLE) AS z
        |FROM li JOIN st USING (flag) ORDER BY li.l_orderkey, li.l_linenumber""".stripMargin,
    "q144_max_concurrent" ->
      """WITH iv AS (
        |  SELECT l.l_suppkey, l.l_orderkey, l.l_linenumber, o.o_orderdate, l.l_shipdate
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_shipdate > o.o_orderdate),
        |deltas AS (
        |  SELECT l_suppkey, o_orderdate AS d, 1 AS delta, l_orderkey, l_linenumber FROM iv
        |  UNION ALL
        |  SELECT l_suppkey, l_shipdate, -1, l_orderkey, l_linenumber FROM iv),
        |runs AS (
        |  SELECT l_suppkey,
        |    SUM(delta) OVER (PARTITION BY l_suppkey
        |      ORDER BY d, delta, l_orderkey, l_linenumber ROWS UNBOUNDED PRECEDING) AS open
        |  FROM deltas)
        |SELECT l_suppkey, CAST(MAX(open) AS BIGINT) AS max_open,
        |  CAST(COUNT(*) / 2 AS BIGINT) AS n_lines
        |FROM runs GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q145_session_dwell" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800 * 1000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) - 1 AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(ts) AS start_ts, MAX(ts) AS end_ts, COUNT(*) AS n_events,
        |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dwell_us,
        |  (COUNT(*) = 1) AS bounce
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q140_label_audit" ->
      """WITH n AS (
        |  SELECT vec_id, label, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id, label,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v),
        |nn AS (
        |  SELECT query_id, nb_label FROM (
        |    SELECT q.vec_id AS query_id, c.label AS nb_label,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |        CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |          / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) DESC, c.vec_id ASC) AS rank
        |    FROM n q JOIN n c ON q.vec_id < 500 AND c.vec_id <> q.vec_id) r
        |  WHERE rank <= 10),
        |votes AS (SELECT query_id, nb_label, COUNT(*) AS votes FROM nn GROUP BY 1, 2),
        |maj AS (
        |  SELECT query_id, nb_label AS majority_label, votes AS majority_votes FROM votes
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, nb_label ASC) = 1)
        |SELECT e.vec_id AS query_id, e.label, m.majority_label,
        |  CAST(m.majority_votes AS BIGINT) AS majority_votes,
        |  m.majority_votes::DOUBLE / 10.0 AS agree_frac,
        |  (m.majority_label <> e.label) AS suspect
        |FROM embeddings e JOIN maj m ON e.vec_id = m.query_id
        |WHERE e.vec_id < 500 ORDER BY query_id""".stripMargin,
    "q141_minmax_scale" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |e AS (SELECT c_nationkey, MIN(cents) AS lo, MAX(cents) AS hi FROM c GROUP BY 1)
        |SELECT c.c_custkey, c.c_nationkey, c.cents,
        |  CASE WHEN e.hi = e.lo THEN NULL
        |    ELSE (c.cents - e.lo)::DOUBLE / (e.hi - e.lo)::DOUBLE END AS scaled
        |FROM c JOIN e USING (c_nationkey) ORDER BY c.c_custkey""".stripMargin,
    "q142_kappa" ->
      """WITH f AS (
        |  SELECT (coalesce(length(text), 0) >= 200) AS a,
        |    (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |      ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END >= 40)
        |      AS b
        |  FROM documents),
        |c AS (
        |  SELECT COUNT(*) AS n,
        |    COUNT(*) FILTER (a AND b) AS n11,
        |    COUNT(*) FILTER ((NOT a) AND (NOT b)) AS n00,
        |    COUNT(*) FILTER (a AND NOT b) AS n10,
        |    COUNT(*) FILTER ((NOT a) AND b) AS n01
        |  FROM f)
        |SELECT n, n11, n00, n10, n01,
        |  (n::DECIMAL(38,0) * (n11 + n00)::DECIMAL(38,0)
        |     - ((n11 + n10)::DECIMAL(38,0) * (n11 + n01)::DECIMAL(38,0)
        |        + (n00 + n01)::DECIMAL(38,0) * (n00 + n10)::DECIMAL(38,0)))::DOUBLE
        |  / (n::DECIMAL(38,0) * n::DECIMAL(38,0)
        |     - ((n11 + n10)::DECIMAL(38,0) * (n11 + n01)::DECIMAL(38,0)
        |        + (n00 + n01)::DECIMAL(38,0) * (n00 + n10)::DECIMAL(38,0)))::DOUBLE AS kappa
        |FROM c""".stripMargin,
    // identical oracle to q134: max-version CDC state is order-free, so the
    // streaming fold must agree with the batch merge cell-exactly
    "q137_stream_cdc" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        |  FROM customer),
        |ch AS (
        |  SELECT user_id AS c_custkey, 'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
        |         CAST(round(value * 100) AS BIGINT) AS acctbal_cents, event_id AS version,
        |         CASE event_type WHEN 'error' THEN 'D' WHEN 'signup' THEN 'I' ELSE 'U' END AS op
        |  FROM events WHERE event_type IN ('purchase', 'signup', 'error')),
        |latest AS (
        |  SELECT c_custkey, c_name, acctbal_cents, op FROM ch
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY version DESC) = 1)
        |SELECT b.c_custkey, b.c_name, b.acctbal_cents FROM base b
        |WHERE b.c_custkey NOT IN (SELECT c_custkey FROM latest)
        |UNION ALL
        |SELECT c_custkey, c_name, acctbal_cents FROM latest WHERE upper(op) <> 'D'
        |ORDER BY c_custkey""".stripMargin,
    "q138_null_patterns" ->
      """WITH v AS (
        |  SELECT NULLIF(l_tax, 0.0) AS tax, NULLIF(l_discount, 0.0) AS discount,
        |         NULLIF(l_returnflag, 'N') AS returnflag FROM lineitem),
        |c AS (
        |  SELECT tax IS NULL AS tax_null, discount IS NULL AS discount_null,
        |         returnflag IS NULL AS returnflag_null, COUNT(*) AS n
        |  FROM v GROUP BY 1, 2, 3)
        |SELECT tax_null, discount_null, returnflag_null, n,
        |  n::DOUBLE / (SUM(n) OVER ())::DOUBLE AS share
        |FROM c ORDER BY tax_null, discount_null, returnflag_null""".stripMargin,
    "q139_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS token
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |v AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
        |r AS (SELECT token, tf,
        |  ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rank,
        |  SUM(tf) OVER (ORDER BY tf DESC, token ROWS UNBOUNDED PRECEDING) AS cum_tf,
        |  SUM(tf) OVER () AS total FROM v)
        |SELECT rank, token, tf, CAST(cum_tf AS BIGINT) AS cum_tf,
        |  cum_tf::DOUBLE / total::DOUBLE AS cum_share
        |FROM r ORDER BY rank""".stripMargin,
    "q134_cdc_merge" ->
      """WITH base AS (
        |  SELECT c_custkey, c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
        |  FROM customer),
        |ch AS (
        |  SELECT user_id AS c_custkey, 'cdc#' || CAST(event_id AS VARCHAR) AS c_name,
        |         CAST(round(value * 100) AS BIGINT) AS acctbal_cents, event_id AS version,
        |         CASE event_type WHEN 'error' THEN 'D' WHEN 'signup' THEN 'I' ELSE 'U' END AS op
        |  FROM events WHERE event_type IN ('purchase', 'signup', 'error')),
        |latest AS (
        |  SELECT c_custkey, c_name, acctbal_cents, op FROM ch
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY version DESC) = 1)
        |SELECT b.c_custkey, b.c_name, b.acctbal_cents FROM base b
        |WHERE b.c_custkey NOT IN (SELECT c_custkey FROM latest)
        |UNION ALL
        |SELECT c_custkey, c_name, acctbal_cents FROM latest WHERE upper(op) <> 'D'
        |ORDER BY c_custkey""".stripMargin,
    "q135_rrf_fusion" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |      ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END
        |      AS n_tokens,
        |    coalesce(length(text), 0) AS n_chars
        |  FROM documents),
        |ra AS (SELECT source, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rank FROM d),
        |rb AS (SELECT source, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank FROM d),
        |u AS (
        |  SELECT source, doc_id, 1000000000000 // (60 + rank) AS recip FROM ra
        |  UNION ALL
        |  SELECT source, doc_id, 1000000000000 // (60 + rank) FROM rb)
        |SELECT source, doc_id, COUNT(*) AS n_lists, CAST(SUM(recip) AS BIGINT) AS rrf_fixed
        |FROM u GROUP BY source, doc_id
        |ORDER BY rrf_fixed DESC, source, doc_id""".stripMargin,
    "q136_sorted_neighborhood" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END
        |      AS ws,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY substr(trim(coalesce(text, '')), 1, 12), doc_id) AS rn
        |  FROM documents),
        |p AS (
        |  SELECT least(a.doc_id, b.doc_id) AS id_a, greatest(a.doc_id, b.doc_id) AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
        |      ELSE len(list_intersect(a.ws, b.ws))::DOUBLE
        |        / len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE END AS jaccard
        |  FROM d a JOIN d b ON a.source = b.source AND b.rn - a.rn BETWEEN 1 AND 7)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "q133_state_episodes" ->
      """WITH r AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        |      AS grp
        |  FROM events)
        |SELECT user_id, event_type, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
        |  COUNT(*) AS n_events
        |FROM r GROUP BY user_id, event_type, grp
        |ORDER BY user_id, start_ts, event_type""".stripMargin,
    "q129_clustering_coeff" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, COUNT(*) AS deg
        |  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node),
        |ori AS (
        |  SELECT CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.u ELSE e.v END AS src,
        |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN e.v ELSE e.u END AS dst,
        |         CASE WHEN (du.deg, e.u) < (dv.deg, e.v) THEN dv.deg ELSE du.deg END AS dst_d
        |  FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
        |tri AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM ori e1
        |  JOIN ori e2 ON e1.src = e2.src AND (e1.dst_d, e1.dst) < (e2.dst_d, e2.dst)
        |  JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |tc AS (
        |  SELECT node, COUNT(*) AS n_triangles
        |  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |  GROUP BY node)
        |SELECT deg.node AS p_partkey, CAST(deg.deg AS BIGINT) AS deg,
        |  CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  (coalesce(tc.n_triangles, 0) * 2)::DOUBLE / (deg.deg * (deg.deg - 1))::DOUBLE
        |    AS clustering_coeff
        |FROM deg LEFT JOIN tc ON deg.node = tc.node
        |WHERE deg.deg >= 2 ORDER BY p_partkey""".stripMargin,
    "q128_embedding_dedup_keep" ->
      """WITH RECURSIVE
        |nn AS (
        |  SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v),
        |edges AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM nn a JOIN nn b ON a.vec_id < b.vec_id
        |  WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.iv[i] * b.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(a.nrm::DOUBLE) * sqrt(b.nrm::DOUBLE)) >= 0.45),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION ALL SELECT id_b, id_a FROM edges),
        |reach(a, b) AS (
        |  SELECT vec_id, vec_id FROM nn
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src)
        |SELECT a AS vec_id, MIN(b) AS component, (a = MIN(b)) AS kept FROM reach
        |GROUP BY a ORDER BY a""".stripMargin,
    "q124_interval_coverage" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s0,
        |    epoch_us(ts) + CAST(round(value * 100) AS BIGINT) * 10000 AS e0
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, s0, e0,
        |    CASE WHEN s0 > coalesce(
        |      MAX(e0) OVER (PARTITION BY user_id ORDER BY s0, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -9223372036854775807) THEN 1 ELSE 0 END AS new_island
        |  FROM iv),
        |isl AS (
        |  SELECT user_id, s0, e0,
        |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY s0, event_id
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m),
        |g AS (
        |  SELECT user_id, island, MIN(s0) AS i_start, MAX(e0) AS i_end,
        |    COUNT(*) AS n_ev
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_islands, CAST(SUM(n_ev) AS BIGINT) AS n_events,
        |  CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q125_weighted_quantiles" ->
      """WITH rows_ AS (
        |  SELECT l_returnflag AS k,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(round(l_quantity) AS BIGINT) AS w
        |  FROM lineitem),
        |g AS (SELECT k, cents, SUM(w) AS w FROM rows_ GROUP BY 1, 2),
        |tot AS (SELECT k, SUM(w) AS n FROM g GROUP BY k),
        |cum AS (
        |  SELECT g.k, g.cents, tot.n,
        |    SUM(g.w) OVER (PARTITION BY g.k ORDER BY g.cents) AS cw
        |  FROM g JOIN tot USING (k))
        |SELECT k AS l_returnflag,
        |  CAST(MIN(CASE WHEN cw * 2 >= n THEN cents END) AS DOUBLE) / 100.0 AS wmedian,
        |  CAST(MIN(CASE WHEN cw * 10 >= n * 9 THEN cents END) AS DOUBLE) / 100.0 AS wp90,
        |  CAST(MIN(n) AS BIGINT) AS total_weight
        |FROM cum GROUP BY k ORDER BY k""".stripMargin,
    "q126_source_overlap" ->
      """WITH toks AS (
        |  SELECT source,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |g AS (SELECT DISTINCT source, gram FROM (
        |  SELECT source, unnest(CASE WHEN len(toks) < 7 THEN []
        |    ELSE list_transform(range(1, len(toks) - 5),
        |      i -> array_to_string(toks[i:i+6], ' ')) END) AS gram
        |  FROM toks) x),
        |sz AS (SELECT source, COUNT(*) AS sz FROM g GROUP BY source),
        |i AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, CAST(inter AS BIGINT) AS inter,
        |  CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
        |  CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
        |FROM i JOIN sz sa ON i.src_a = sa.source JOIN sz sb ON i.src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin,
    "q123_cluster_quality" ->
      """WITH iv AS (
        |  SELECT label, UNNEST(ivec) AS xi, generate_subscripts(ivec, 1) AS pos FROM (
        |    SELECT label,
        |      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ivec
        |    FROM embeddings)),
        |perdim AS (SELECT label, pos, COUNT(*) AS n, SUM(xi) AS s, SUM(xi * xi) AS ss
        |  FROM iv GROUP BY 1, 2),
        |inert AS (SELECT label, MIN(n)::BIGINT AS n_vectors,
        |    SUM(n * ss - s * s)::DOUBLE AS inum FROM perdim GROUP BY label),
        |within AS (SELECT label, n_vectors,
        |    sqrt((inum / n_vectors::DOUBLE) / n_vectors::DOUBLE) / 1000.0 AS rms_radius
        |  FROM inert),
        |p AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    MIN(a.n) AS n_a, MIN(b.n) AS n_b,
        |    SUM((b.n * a.s - a.n * b.s) * (b.n * a.s - a.n * b.s)) AS dist_num
        |  FROM perdim a JOIN perdim b ON a.pos = b.pos AND a.label < b.label
        |  GROUP BY 1, 2),
        |dist AS (SELECT label_a, label_b,
        |    sqrt(dist_num::DOUBLE) / (n_a * n_b)::DOUBLE / 1000.0 AS d FROM p),
        |near AS (
        |  SELECT label, MIN(d) AS nearest_centroid_dist FROM (
        |    SELECT label_a AS label, d FROM dist
        |    UNION ALL SELECT label_b AS label, d FROM dist) u
        |  GROUP BY label)
        |SELECT w.label, n_vectors, rms_radius, nearest_centroid_dist,
        |  nearest_centroid_dist / rms_radius AS separation_ratio
        |FROM within w JOIN near USING (label) ORDER BY w.label""".stripMargin,
    "q121_centroid_separation" ->
      """WITH iv AS (
        |  SELECT label, UNNEST(ivec) AS xi, generate_subscripts(ivec, 1) AS pos FROM (
        |    SELECT label,
        |      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ivec
        |    FROM embeddings)),
        |perdim AS (SELECT label, pos, COUNT(*) AS n, SUM(xi) AS sd FROM iv GROUP BY 1, 2),
        |p AS (
        |  SELECT a.label AS label_a, b.label AS label_b,
        |    MIN(a.n) AS n_a, MIN(b.n) AS n_b,
        |    SUM((b.n * a.sd - a.n * b.sd) * (b.n * a.sd - a.n * b.sd)) AS dist_num
        |  FROM perdim a JOIN perdim b ON a.pos = b.pos AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b, dist_num::DOUBLE AS dist_num,
        |  sqrt(dist_num::DOUBLE) / (n_a * n_b)::DOUBLE / 1000.0 AS centroid_dist
        |FROM p ORDER BY label_a, label_b""".stripMargin,
    "q119_hierarchy_shares" ->
      """WITH fact AS (
        |  SELECT r_name, n_name, CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |bn AS (SELECT r_name, n_name, SUM(p) AS nation_rev FROM fact GROUP BY 1, 2),
        |br AS (SELECT r_name, SUM(nation_rev) AS region_rev FROM bn GROUP BY 1),
        |tt AS (SELECT SUM(region_rev) AS total_rev FROM br)
        |SELECT bn.r_name, n_name, CAST(nation_rev AS DOUBLE) AS nation_rev,
        |  CAST(nation_rev AS DOUBLE) / CAST(region_rev AS DOUBLE) AS share_of_region,
        |  CAST(region_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) AS region_share_of_total
        |FROM bn JOIN br USING (r_name) CROSS JOIN tt
        |ORDER BY r_name, n_name""".stripMargin,
    "q120_pair_overlap" ->
      """WITH ws AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS ws
        |  FROM documents WHERE doc_id < 1000)
        |SELECT id_a, id_b, jaccard, n_common, n_only_a, n_only_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
        |      ELSE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |        len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE END AS jaccard,
        |    len(list_intersect(a.ws, b.ws)) AS n_common,
        |    len(a.ws) - len(list_intersect(a.ws, b.ws)) AS n_only_a,
        |    len(b.ws) - len(list_intersect(a.ws, b.ws)) AS n_only_b
        |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id) x
        |WHERE jaccard >= 0.8 ORDER BY id_a, id_b""".stripMargin,
    "q118_stream_totals" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  SUM(CAST(round(value * 100) AS BIGINT))::DOUBLE / 100.0 AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q116_distribution_drift" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS half,
        |    LEAST(19, CAST(FLOOR(value / 10.0) AS INTEGER)) AS bin
        |  FROM events),
        |f AS (SELECT * FROM ev WHERE bin >= 0),
        |cells AS (SELECT event_type, half, bin, COUNT(*) AS c FROM f GROUP BY 1, 2, 3),
        |wide AS (
        |  SELECT event_type, bin,
        |    SUM(CASE WHEN half = 0 THEN c ELSE 0 END) AS c1,
        |    SUM(CASE WHEN half = 1 THEN c ELSE 0 END) AS c2
        |  FROM cells GROUP BY 1, 2),
        |tot AS (SELECT event_type, SUM(c1) AS n1, SUM(c2) AS n2 FROM wide GROUP BY 1)
        |SELECT w.event_type, MIN(t.n1)::BIGINT AS n1, MIN(t.n2)::BIGINT AS n2,
        |  SUM(ABS(w.c1 * t.n2 - w.c2 * t.n1))::BIGINT AS l1_num,
        |  SUM(ABS(w.c1 * t.n2 - w.c2 * t.n1))::DOUBLE /
        |    (MIN(t.n1) * MIN(t.n2))::DOUBLE AS l1_distance
        |FROM wide w JOIN tot t USING (event_type)
        |GROUP BY w.event_type ORDER BY w.event_type""".stripMargin,
    "q117_quantile_norm" -> quantileNormOracleSql,
    "q115_interval_overlap" ->
      """WITH a AS (
        |  SELECT o_orderkey AS key_a, o_orderdate AS lo_a,
        |         o_orderdate + INTERVAL 30 DAY AS hi_a
        |  FROM orders WHERE o_orderkey % 997 = 0),
        |b AS (
        |  SELECT o_orderkey AS key_b, o_orderdate AS lo_b,
        |         o_orderdate + INTERVAL 21 DAY AS hi_b
        |  FROM orders WHERE o_orderkey % 611 = 0)
        |SELECT key_a, COUNT(*) AS n_overlaps, MIN(key_b) AS first_overlap
        |FROM a JOIN b ON lo_a < hi_b AND lo_b < hi_a
        |GROUP BY key_a ORDER BY key_a""".stripMargin,
    // the merge gate: the oracle is the FULL recompute — if the shard-state
    // merge lost anything, count/sum/variance go hash-red
    "q113_incremental_agg" ->
      """WITH b AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |s AS (SELECT event_type, COUNT(cents) AS n, SUM(cents) AS s,
        |        SUM(cents * cents) AS ss FROM b GROUP BY 1)
        |SELECT event_type, n, s::DOUBLE / 100.0 AS sum_value,
        |  ((n * ss - s * s)::DOUBLE / (n * n)::DOUBLE) / 10000.0 AS variance
        |FROM s ORDER BY event_type""".stripMargin,
    "q114_key_skew" ->
      """WITH counts AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1),
        |g AS (SELECT c AS v, COUNT(*) AS cnt FROM counts GROUP BY 1),
        |t AS (SELECT SUM(cnt) AS n FROM g),
        |cum AS (SELECT g.v, SUM(g.cnt) OVER (ORDER BY g.v) AS cc, t.n FROM g, t),
        |q AS (SELECT MIN(CASE WHEN cc >= ceil(0.5 * n) THEN v END) AS p50,
        |             MIN(CASE WHEN cc >= ceil(0.99 * n) THEN v END) AS p99 FROM cum)
        |SELECT (SELECT COUNT(*) FROM counts) AS n_keys,
        |       (SELECT SUM(c) FROM counts)::BIGINT AS n_rows,
        |       (SELECT MAX(c) FROM counts) AS max_count,
        |       q.p50 AS p50_count, q.p99 AS p99_count,
        |       (SELECT MAX(c) FROM counts)::DOUBLE /
        |         (SELECT SUM(c) FROM counts)::DOUBLE AS top_key_share
        |FROM q""".stripMargin,
    // z-order: the same 16-bit interleave unrolled as a sum of bit terms
    "q111_zorder" -> {
      val terms = (0 until 16).map { i =>
        s"(((l_partkey >> $i) & 1) * (1::BIGINT << ${2 * i})) + " +
          s"(((l_suppkey >> $i) & 1) * (1::BIGINT << ${2 * i + 1}))"
      }.mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  ($terms) AS zval
         |FROM lineitem WHERE l_orderkey % 1000 = 0
         |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    // sketch rollup: DuckDB recounts the exact distinct and expects the
    // accuracy boolean TRUE — a Spark FALSE (merged sketch left its 5%
    // envelope) goes hash-red (q32's gate pattern for mergeable sketches)
    "q112_sketch_rollup" ->
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS exact_custs,
        |  TRUE AS within_5pct
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q110_trend_slope" ->
      """WITH b AS (
        |  SELECT o_orderpriority AS k,
        |    datediff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS x,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS y
        |  FROM orders),
        |s AS (SELECT k, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |        SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM b GROUP BY k)
        |SELECT k AS o_orderpriority, n,
        |  ((n * sxy - sx * sy)::DOUBLE) / ((n * sxx - sx * sx)::DOUBLE) AS slope_cents_per_day
        |FROM s ORDER BY k""".stripMargin,
    "q109_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_null, COUNT(DISTINCT $c) AS n_distinct,
           |  MIN($c)::VARCHAR AS min_value, MAX($c)::VARCHAR AS max_value
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },
    // multiple UNNESTs in one DuckDB SELECT zip in lockstep, so the value
    // and its 1-based subscript stay aligned (pos is only a grouping key —
    // Spark's 0-based posexplode never surfaces)
    "q107_cluster_inertia" ->
      """WITH iv AS (
        |  SELECT label, UNNEST(ivec) AS xi, generate_subscripts(ivec, 1) AS pos FROM (
        |    SELECT label,
        |      list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS ivec
        |    FROM embeddings)),
        |perdim AS (
        |  SELECT label, pos, COUNT(*) AS n, SUM(xi) AS s, SUM(xi * xi) AS ss
        |  FROM iv GROUP BY 1, 2)
        |SELECT label, MIN(n)::BIGINT AS n_vectors,
        |  SUM(n * ss - s * s)::BIGINT AS inertia_num,
        |  SUM(n * ss - s * s)::DOUBLE / MIN(n)::DOUBLE AS inertia
        |FROM perdim GROUP BY label ORDER BY label""".stripMargin,
    "q108_coengagement" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, COUNT(*) AS n_users FROM ut GROUP BY 1),
        |shared AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_shared
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_shared,
        |  n_shared::DOUBLE / (sa.n_users + sb.n_users - n_shared)::DOUBLE AS jaccard
        |FROM shared
        |JOIN sizes sa ON sa.event_type = type_a
        |JOIN sizes sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "q104_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
        |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud),
        |contrib AS (
        |  SELECT user_id,
        |    UNNEST(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY))::DATE AS day
        |  FROM ud)
        |SELECT c.day, COUNT(DISTINCT c.user_id) AS wau
        |FROM contrib c, span s WHERE c.day BETWEEN s.lo AND s.hi
        |GROUP BY c.day ORDER BY c.day""".stripMargin,
    "q105_stratified_sample" ->
      """SELECT c_mktsegment, c_custkey, rn FROM (
        |  SELECT c_mktsegment, c_custkey,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY md5(c_custkey::VARCHAR), c_custkey) AS rn
        |  FROM customer) x
        |WHERE rn <= 20 ORDER BY c_mktsegment, rn""".stripMargin,
    "q106_keyness" ->
      """WITH toks AS (
        |  SELECT source, UNNEST(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |cell AS (SELECT source, tok, COUNT(*) AS a FROM toks GROUP BY 1, 2),
        |persrc AS (SELECT source, COUNT(*) AS n1 FROM toks GROUP BY 1),
        |pertok AS (SELECT tok, COUNT(*) AS tot FROM toks GROUP BY 1),
        |total AS (SELECT COUNT(*) AS nall FROM toks),
        |scored AS (
        |  SELECT c.source, c.tok, c.a,
        |    (c.a::DOUBLE / s.n1::DOUBLE) /
        |      ((p.tot - c.a + 1)::DOUBLE / (t.nall - s.n1)::DOUBLE) AS risk
        |  FROM cell c JOIN persrc s USING (source) JOIN pertok p USING (tok)
        |  CROSS JOIN total t
        |  WHERE c.a >= 5)
        |SELECT source, tok, a, risk, rn FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY risk DESC, tok) AS rn
        |  FROM scored) x
        |WHERE rn <= 10 ORDER BY source, rn""".stripMargin,
    // integer PageRank: the oracle UNROLLS the fixed iterations as chained
    // CTEs (generated below — same exact-floor arithmetic, `//` for `div`)
    "q103_pagerank" -> pageRankOracleSql(5),
    // the oracle mirrors the same compact-forward orientation (any exact
    // triangle enumeration agrees; this form keeps DuckDB's join tractable)
    "q100_triangle_count" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')),
        |edges AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS d
        |  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges) GROUP BY node),
        |ori AS (
        |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
        |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
        |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dst_d
        |  FROM edges e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
        |tri AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM ori e1
        |  JOIN ori e2 ON e1.src = e2.src AND (e1.dst_d, e1.dst) < (e2.dst_d, e2.dst)
        |  JOIN ori e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
        |SELECT node AS p_partkey, COUNT(*) AS n_triangles
        |FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |GROUP BY node ORDER BY p_partkey""".stripMargin,
    // the oracle states the range join DIRECTLY (DuckDB's IEJoin handles
    // it); Spark's binned rewrite must produce the identical match set
    "q99_range_join" ->
      """SELECT o_orderkey, COUNT(*) AS n_shipped,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem
        |  ON l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate + INTERVAL 30 DAY
        |WHERE o_orderkey % 997 = 0
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    // q98 = the q23 all-pairs scan over exact-duplicate REPRESENTATIVES
    // (min doc_id per distinct sorted word set — list_sort makes the list a
    // stable group key): the prefix-filter join is exact (recall 1.0 by the
    // prefix theorem), so the full all-pairs scan over reps is its oracle
    "q98_prefix_jaccard" ->
      """WITH ws0 AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_sort(list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))) END AS ws
        |  FROM documents),
        |reps AS (SELECT MIN(doc_id) AS doc_id, ws FROM ws0 GROUP BY ws)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
        |      ELSE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |        len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE END AS jaccard
        |  FROM reps a JOIN reps b ON a.doc_id < b.doc_id) x
        |WHERE jaccard >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    "q78_shingle_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS sh
        |  FROM (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |    FROM documents WHERE doc_id < 1000) y)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 1.0
        |      ELSE len(list_intersect(a.sh, b.sh))::DOUBLE /
        |        len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE END AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) x
        |WHERE jaccard >= 0.9 ORDER BY id_a, id_b""".stripMargin,
    "q27_cosine_topk" ->
      """WITH n AS (
        |  SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT) AS dot,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) AS cosine
        |  FROM n q JOIN n c ON q.vec_id < 50 AND c.vec_id <> q.vec_id)
        |SELECT query_id, neighbor_id, dot, cosine, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM s) r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q28_embedding_neardup" ->
      """WITH n AS (
        |  SELECT vec_id, iv, CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v)
        |SELECT id_a, id_b, dot, cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(range(1, 65), i -> a.iv[i] * b.iv[i])) AS BIGINT) AS dot,
        |    CAST(list_sum(list_transform(range(1, 65), i -> a.iv[i] * b.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(a.nrm::DOUBLE) * sqrt(b.nrm::DOUBLE)) AS cosine
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id) x
        |WHERE cosine >= 0.45 ORDER BY id_a, id_b""".stripMargin,
    "q30_media_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  sha256(text) AS sha256
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q31_weighted_avg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS wavg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q33_date_parse" ->
      """SELECT o_orderkey,
        |  CAST(strptime(regexp_replace(strftime(o_orderdate, '%Y%m%d'), '\s+', '', 'g'), '%Y%m%d') AS DATE) AS parsed
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q34_union_all" ->
      """SELECT o_custkey, COUNT(*) AS n_open_or_finished FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  UNION ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F') x
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q35_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,
    "q36_event_deltas" ->
      """SELECT event_id, user_id,
        |  epoch_us(ts) - epoch_us(LAG(ts) OVER w) AS gap_us,
        |  epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS next_gap_us
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    "q37_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q38_median" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS median_price,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q39_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'F') AS DOUBLE) AS qty_f,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'O') AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q83_window_values" ->
      """SELECT o_orderkey, o_custkey,
        |  FIRST_VALUE(o_totalprice) OVER w AS first_price,
        |  NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER m AS DOUBLE)
        |    / CAST(COUNT(*) OVER m AS DOUBLE) AS mov_avg3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  m AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q84_unpivot" ->
      """WITH wide AS (SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'F') AS DOUBLE) AS qf,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (l_linestatus = 'O') AS DOUBLE) AS qo
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT * FROM (
        |  SELECT l_returnflag, 'F' AS l_linestatus, qf AS sum_qty FROM wide WHERE qf IS NOT NULL
        |  UNION ALL
        |  SELECT l_returnflag, 'O' AS l_linestatus, qo AS sum_qty FROM wide WHERE qo IS NOT NULL) x
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q40_sql_surface" ->
      """SELECT c_mktsegment, COUNT(*) AS n_above_avg
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |  AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q41_json_extract" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q42_nonequi_semi" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate < o_orderdate)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q43_argmin_per_part" ->
      """SELECT l_partkey, min_price, cheapest_orderkey FROM (
        |  SELECT l_partkey,
        |    MIN(l_extendedprice) OVER (PARTITION BY l_partkey) AS min_price,
        |    l_orderkey AS cheapest_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY l_partkey
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) x
        |WHERE rn = 1 ORDER BY l_partkey""".stripMargin,
    "q44_train_test_split" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM documents) x
        |ORDER BY doc_id""".stripMargin,
    "q45_group_sample" ->
      """SELECT lang, doc_id, rank FROM (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rank
        |  FROM documents) x
        |WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,
    "q46_context_packing" ->
      """SELECT doc_id, n_tokens, shard,
        |  CAST(floor(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS BIGINT) AS bin
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |      ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS n_tokens,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS shard
        |  FROM documents) x
        |ORDER BY doc_id""".stripMargin,
    "q48_outer_join" ->
      """SELECT COALESCE(o.d, l.d) AS d,
        |  COALESCE(o.n_orders, 0) AS n_orders,
        |  COALESCE(l.n_ships, 0) AS n_ships
        |FROM (SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
        |      FROM orders GROUP BY 1) o
        |FULL JOIN (SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n_ships
        |           FROM lineitem GROUP BY 1) l ON o.d = l.d
        |ORDER BY d""".stripMargin,
    "q49_vocabulary" ->
      """SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df FROM (
        |  SELECT doc_id, unnest(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END) AS token
        |  FROM documents) x
        |GROUP BY token ORDER BY token""".stripMargin,
    "q349_token_chunks" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |dd AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |        unnest(range(0, (n - 1) // 48 + 1)) AS chunk_idx FROM dd)
        |SELECT doc_id, chunk_idx, chunk_idx * 48 AS start_tok,
        |  least(64, n - chunk_idx * 48) AS n_tok,
        |  md5(array_to_string(
        |    toks[(chunk_idx * 48 + 1):least(chunk_idx * 48 + 64, n)], ' ')) AS chunk_sig
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q350_sequence_packing" ->
      """WITH sizes AS (
        |  SELECT doc_id, len(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END) AS n_tokens
        |  FROM documents),
        |ranked AS (SELECT doc_id, n_tokens,
        |  ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id ASC) AS rank FROM sizes)
        |SELECT (rank - 1) % 32 AS bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(MIN(n_tokens) AS BIGINT) AS min_doc,
        |  CAST(MAX(n_tokens) AS BIGINT) AS max_doc
        |FROM ranked GROUP BY 1 ORDER BY bin""".stripMargin,
    "q346_vocab_growth" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END) AS token
        |  FROM documents),
        |maxd AS (SELECT MAX(doc_id) AS maxd FROM documents),
        |panel AS (SELECT CAST(d AS BIGINT) AS decile, (maxd * d) // 10 AS cutoff
        |          FROM range(1, 11) r(d), maxd),
        |fd AS (SELECT token, MIN(doc_id) AS fd FROM toks GROUP BY token),
        |vocab AS (SELECT decile, cutoff, COUNT(*) AS vocab
        |          FROM fd, panel WHERE fd <= cutoff GROUP BY 1, 2),
        |lens AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
        |corpus AS (SELECT decile, SUM(n) AS n_tokens
        |           FROM lens, panel WHERE doc_id <= cutoff GROUP BY 1)
        |SELECT v.decile, v.cutoff, CAST(c.n_tokens AS BIGINT) AS n_tokens, v.vocab,
        |  v.vocab::DOUBLE / c.n_tokens::DOUBLE AS ttr
        |FROM vocab v JOIN corpus c USING (decile) ORDER BY decile""".stripMargin,
    "q347_freq_spectrum" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END) AS token
        |  FROM documents),
        |counts AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY token),
        |spectrum AS (SELECT tf AS freq, COUNT(*) AS n_types FROM counts GROUP BY tf)
        |SELECT s.freq, s.n_types,
        |  (s.freq + 1)::DOUBLE * n2.n_types::DOUBLE / s.n_types::DOUBLE AS r_star
        |FROM spectrum s LEFT JOIN spectrum n2 ON n2.freq = s.freq + 1
        |ORDER BY s.freq""".stripMargin,
    "q348_coverage_curve" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END) AS token
        |  FROM documents),
        |counts AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY token),
        |ranked AS (SELECT token, tf,
        |    ROW_NUMBER() OVER (ORDER BY tf DESC, token ASC) AS rank FROM counts),
        |total AS (SELECT SUM(tf) AS total_tf FROM counts),
        |panel AS (SELECT CAST(k AS INT) AS k FROM (VALUES (10),(100),(1000),(10000)) p(k))
        |SELECT p.k, CAST(SUM(r.tf) AS BIGINT) AS covered_tf,
        |  CAST(t.total_tf AS BIGINT) AS total_tf,
        |  SUM(r.tf)::DOUBLE / t.total_tf::DOUBLE AS coverage
        |FROM ranked r JOIN panel p ON r.rank <= p.k CROSS JOIN total t
        |GROUP BY p.k, t.total_tf ORDER BY p.k""".stripMargin,
    "q50_edit_distance" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) AS edit_dist
        |FROM (SELECT doc_id, text FROM documents WHERE doc_id < 300) a
        |JOIN (SELECT doc_id, text FROM documents WHERE doc_id < 300) b
        |  ON a.doc_id < b.doc_id
        |WHERE levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) <= 20
        |ORDER BY id_a, id_b""".stripMargin,
    "q51_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1)
        |SELECT doc_id, token, tf, df, rank FROM (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS rank
        |  FROM tf JOIN df ON tf.token = df.token) x
        |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    "q52_sliding_windows" ->
      """SELECT win_start, event_type, COUNT(*) AS n_events FROM (
        |  SELECT unnest([
        |      time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
        |      time_bucket(INTERVAL '30 minutes', ts)]) AS win_start,
        |    event_type
        |  FROM events) x
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q53_collect_sources" ->
      """SELECT lang,
        |  array_to_string(list_sort(list_distinct(array_agg(source))), ',') AS sources,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q76_pii_redaction" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      'https?://[^ \t\n\r]+', '<URL>', 'g'),
        |    '[0-9][0-9 ()+.-]{6,}[0-9]', '<NUMBER>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q77_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q75_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS token
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |e AS (SELECT token, COUNT(*) AS freq FROM t GROUP BY token)
        |SELECT token, freq FROM e, (SELECT CAST(SUM(freq) AS BIGINT) AS n_total FROM e) n
        |WHERE freq * 33 > n_total
        |ORDER BY token""".stripMargin,
    "q72_incremental_dedup" ->
      """WITH sigs AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(
        |      CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |        ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END)), ' ')) AS sig
        |  FROM documents)
        |SELECT doc_id FROM (
        |  SELECT sig, MIN(doc_id) AS doc_id FROM sigs WHERE doc_id % 10 >= 8
        |  GROUP BY sig) nw
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM sigs o WHERE o.doc_id % 10 < 8 AND o.sig = nw.sig)
        |ORDER BY doc_id""".stripMargin,
    "q73_mixture_weights" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS n_docs
        |  FROM documents GROUP BY lang, source),
        |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total, COUNT(*) AS n_cells FROM cells)
        |SELECT lang, source, n_docs,
        |  CAST(n_total AS DOUBLE) / (CAST(n_cells AS DOUBLE) * CAST(n_docs AS DOUBLE)) AS weight
        |FROM cells, t
        |ORDER BY lang, source""".stripMargin,
    "q71_frame_sample" ->
      """SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  md5(substring(text, CAST(chunk_idx AS INT) * 100 + 1, 100)) AS frame_sig,
        |  octet_length(encode(substring(text, CAST(chunk_idx AS INT) * 100 + 1, 100))) AS frame_bytes
        |FROM (
        |  -- ASCII corpus: char slices == byte slices (same caveat as q63)
        |  SELECT doc_id, text,
        |    unnest(range(0, ((octet_length(encode(text)) - 1) // 100) + 1)) AS chunk_idx
        |  FROM documents
        |  WHERE text IS NOT NULL AND octet_length(encode(text)) > 0) x
        |WHERE chunk_idx % 5 = 0
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q70_trailing_window" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(price) OVER (PARTITION BY o_custkey ORDER BY d
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d,
        |  CAST(price AS DOUBLE) /
        |    CAST(SUM(price) OVER (PARTITION BY o_custkey) AS DOUBLE) AS share_of_cust
        |FROM (
        |  SELECT o_custkey, o_orderkey,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders) x
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q68_corpus_clean" ->
      """WITH q AS (
        |  SELECT doc_id, lang, text, n_tokens FROM (
        |    SELECT doc_id, lang, text,
        |      CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |        ELSE len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS n_tokens,
        |      len(list_filter(
        |        CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |          ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END,
        |        t -> list_contains(['the','a','an','of','and','to','in','is','it','that','for'], t)))
        |        AS n_stop
        |    FROM documents) y
        |  WHERE n_tokens >= 20 AND n_stop * 2 <= n_tokens),
        |s AS (
        |  SELECT MIN(doc_id) AS doc_id,
        |    MIN_BY(lang, doc_id) AS lang,
        |    MIN_BY(n_tokens, doc_id) AS n_tokens
        |  FROM q
        |  GROUP BY md5(array_to_string(list_sort(list_distinct(
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END)), ' ')))
        |SELECT doc_id, lang, n_tokens,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
        |    THEN 'train' ELSE 'heldout' END AS split
        |FROM s ORDER BY doc_id""".stripMargin,
    "q69_bigram_lm" ->
      """WITH big AS (
        |  SELECT split_part(gram, ' ', 1) AS w1, split_part(gram, ' ', 2) AS w2,
        |    COUNT(*) AS n_pair
        |  FROM (
        |    SELECT unnest(CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END) AS gram
        |    FROM (SELECT CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |      FROM documents) y) x
        |  GROUP BY 1, 2),
        |uni AS (SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_w1 FROM big GROUP BY w1)
        |SELECT big.w1, w2, n_pair, n_w1,
        |  CAST(n_pair AS DOUBLE) / CAST(n_w1 AS DOUBLE) AS p_cond
        |FROM big JOIN uni ON big.w1 = uni.w1
        |WHERE n_pair >= 20
        |ORDER BY big.w1, w2""".stripMargin,
    "q66_scd2_ranges" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS valid_from,
        |  CAST(LEAD(o_orderdate, 1) OVER w AS DATE) AS valid_to,
        |  LEAD(o_orderkey, 1) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,
    "q67_array_ops" ->
      """SELECT doc_id,
        |  CAST(COALESCE(list_max(lens), 0) AS BIGINT) AS max_token_len,
        |  CAST(len(list_filter(toks, t -> length(t) >= 6)) AS BIGINT) AS n_long_tokens,
        |  CAST(COALESCE(list_sum(lens), 0) AS BIGINT) AS total_chars
        |FROM (
        |  SELECT doc_id, toks, list_transform(toks, t -> length(t)) AS lens
        |  FROM (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |    FROM documents) y) x
        |ORDER BY doc_id""".stripMargin,
    "q64_salted_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q65_bloom_semijoin" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q59_window_stats" ->
      """SELECT o_orderkey, o_orderpriority,
        |  NTILE(4) OVER w AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q60_date_math" ->
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
        |  CAST(o_orderdate AS DATE) + 30 AS plus_30d,
        |  CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS epoch_days,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q61_lateral_topk" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,
    "q62_exact_variance" ->
      """SELECT l_returnflag, n,
        |  (n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
        |    / (n * (n - 1)) AS var_qty,
        |  (n * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
        |    / (sqrt(n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
        |       * sqrt(n * CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))
        |    AS corr_qty_disc
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    SUM(q) AS sq, SUM(d) AS sd,
        |    SUM(q * q) AS sqq, SUM(d * d) AS sdd, SUM(q * d) AS sqd
        |  FROM (SELECT l_returnflag,
        |          CAST(l_quantity AS DECIMAL(18,2)) AS q,
        |          CAST(l_discount AS DECIMAL(18,2)) AS d
        |        FROM lineitem) y
        |  GROUP BY l_returnflag) x
        |ORDER BY l_returnflag""".stripMargin,
    "q63_binary_chunks" ->
      """SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  octet_length(encode(substring(text, CAST(chunk_idx AS INT) * 100 + 1, 100))) AS chunk_bytes,
        |  hex(encode(substring(text, CAST(chunk_idx AS INT) * 100 + 1, 8))) AS head_hex
        |FROM (
        |  -- DuckDB cannot slice BLOBs; the corpus is ASCII, so char slices of
        |  -- the VARCHAR re-encoded to bytes are byte-identical to Spark's
        |  -- binary substring
        |  SELECT doc_id, text,
        |    unnest(range(0, ((octet_length(encode(text)) - 1) // 100) + 1)) AS chunk_idx
        |  FROM documents
        |  WHERE text IS NOT NULL AND octet_length(encode(text)) > 0) x
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q56_boilerplate_ngrams" ->
      """SELECT gram, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf FROM (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS gram
        |  FROM (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |    FROM documents) y) x
        |GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 5
        |ORDER BY gram""".stripMargin,
    "q57_contamination" ->
      """WITH g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS gram
        |  FROM (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |    FROM documents) y)
        |SELECT doc_id, COUNT(*) AS n_shared_grams FROM (
        |  SELECT DISTINCT t.doc_id, t.gram
        |  FROM g t JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0) b
        |    ON t.gram = b.gram
        |  WHERE t.doc_id % 50 <> 0) x
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q58_dup_clusters" ->
      """WITH RECURSIVE
        |ws AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS ws
        |  FROM documents WHERE doc_id < 1000),
        |edges AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
        |  WHERE (CASE WHEN len(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
        |    ELSE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |      len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE END) >= 0.9),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION ALL SELECT id_b, id_a FROM edges),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM ws
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src)
        |SELECT a AS doc_id, MIN(b) AS component FROM reach
        |GROUP BY a ORDER BY doc_id""".stripMargin,
    "q82_exact_quantiles" ->
      """WITH g AS (
        |  SELECT l_returnflag AS k, l_extendedprice AS v, COUNT(*) AS c
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT k, SUM(c) AS n FROM g GROUP BY k),
        |cum AS (
        |  SELECT g.k, g.v, SUM(g.c) OVER (PARTITION BY g.k ORDER BY g.v) AS cc, t.n
        |  FROM g JOIN t USING (k))
        |SELECT k AS l_returnflag,
        |  MIN(CASE WHEN cc >= ceil(0.5 * n) THEN v END) AS p50,
        |  MIN(CASE WHEN cc >= ceil(0.9 * n) THEN v END) AS p90
        |FROM cum GROUP BY k ORDER BY k""".stripMargin,
    "q80_containment_pairs" ->
      """WITH ws AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END) AS ws
        |  FROM (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |    FROM documents WHERE doc_id < 1000) y)
        |SELECT id_a, id_b, containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(a.ws) = 0 THEN 1.0
        |      ELSE len(list_intersect(a.ws, b.ws))::DOUBLE / len(a.ws)::DOUBLE END AS containment
        |  FROM ws a JOIN ws b ON a.doc_id <> b.doc_id) x
        |WHERE containment >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "q81_dedup_keep" ->
      """WITH RECURSIVE
        |ws AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS ws
        |  FROM documents WHERE doc_id < 600),
        |edges AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM ws a JOIN ws b ON a.doc_id < b.doc_id
        |  WHERE (CASE WHEN len(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
        |    ELSE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |      len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE END) >= 0.9),
        |sym AS (
        |  SELECT id_a AS src, id_b AS dst FROM edges
        |  UNION ALL SELECT id_b, id_a FROM edges),
        |reach(a, b) AS (
        |  SELECT doc_id, doc_id FROM ws
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
        |comp AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)
        |SELECT component AS keeper_id, COUNT(*) AS n_members FROM comp
        |GROUP BY component ORDER BY keeper_id""".stripMargin,
    "q223_token_shards" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |      ELSE len(list_filter(string_split_regex(trim(text), '\s+'),
        |        t -> t <> '')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM d)
        |SELECT CAST(cum_before AS BIGINT) // 20000 AS shard_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM p GROUP BY 1 ORDER BY shard_id""".stripMargin,
    "q224_group_ols" ->
      """WITH r AS (
        |  SELECT p_brand,
        |    CAST(round(l_quantity) AS HUGEINT) AS x1,
        |    CAST(p_size AS HUGEINT) AS x2,
        |    CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |m AS (
        |  SELECT p_brand, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
        |    SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x1 * x2) AS s12,
        |    SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
        |  FROM r GROUP BY p_brand),
        |c AS (
        |  SELECT p_brand, n, s1, s2, sy,
        |    (n * s11 - s1 * s1)::DOUBLE AS c11,
        |    (n * s22 - s2 * s2)::DOUBLE AS c22,
        |    (n * s12 - s1 * s2)::DOUBLE AS c12,
        |    (n * s1y - s1 * sy)::DOUBLE AS c1y,
        |    (n * s2y - s2 * sy)::DOUBLE AS c2y
        |  FROM m),
        |b AS (
        |  SELECT p_brand, n, s1, s2, sy,
        |    c11 * c22 - c12 * c12 AS det,
        |    (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS beta_qty,
        |    (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS beta_size
        |  FROM c)
        |SELECT p_brand, CAST(n AS BIGINT) AS n_rows, beta_qty, beta_size,
        |  (sy::DOUBLE - beta_qty * s1::DOUBLE - beta_size * s2::DOUBLE)
        |    / n::DOUBLE AS intercept
        |FROM b ORDER BY p_brand""".stripMargin,
    "q226_bpe_merges" -> bpeOracleSql(4),
    "q251_bpe_compression" -> bpeEncodeOracleSql(4),
    "q267_tokenizer_fairness" -> bpeFairnessOracleSql(4),
    "q254_memorization_grams" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 8 THEN []
        |    ELSE list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' ')) END) AS gram
        |  FROM toks)
        |SELECT gram,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq,
        |  COUNT(*) AS n_occ
        |FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
        |ORDER BY doc_freq DESC, n_occ DESC, gram LIMIT 20""".stripMargin,
    "q255_gopher_rules" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |pc AS (
        |  SELECT doc_id, source, tok, COUNT(*) AS c FROM tk GROUP BY doc_id, source, tok),
        |st AS (
        |  SELECT doc_id, source,
        |    CAST(SUM(c) AS BIGINT) AS n_tok,
        |    COUNT(*) AS n_distinct,
        |    MAX(c) AS top_cnt,
        |    CAST(SUM(CASE WHEN tok IN ('the','a','an','of','and','to','in','is','it','that','for')
        |      THEN c ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM pc GROUP BY doc_id, source),
        |ch AS (
        |  SELECT doc_id,
        |    CAST(length(regexp_replace(text, '[ \t\n\r]+', '', 'g')) AS BIGINT) AS n_chars_ns
        |  FROM documents),
        |d AS (SELECT * FROM st JOIN ch USING (doc_id)),
        |r AS (
        |  SELECT source, 'min_tokens' AS rule, (n_tok >= 30) AS pass FROM d
        |  UNION ALL SELECT source, 'mean_word_len_range',
        |    (n_chars_ns >= n_tok * 3 AND n_chars_ns <= n_tok * 10) FROM d
        |  UNION ALL SELECT source, 'stopword_ratio', (n_stop * 50 >= n_tok) FROM d
        |  UNION ALL SELECT source, 'top_token_share', (top_cnt * 5 <= n_tok) FROM d
        |  UNION ALL SELECT source, 'distinct_ratio', (n_distinct * 5 >= n_tok * 2) FROM d)
        |SELECT source, rule, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  SUM(CASE WHEN pass THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE AS pass_share
        |FROM r GROUP BY source, rule ORDER BY source, rule""".stripMargin,
    "q256_distinct_ngrams" ->
      """WITH tk AS (
        |  SELECT source,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT source, 1 AS n, unnest(toks) AS gram FROM tk
        |  UNION ALL
        |  SELECT source, 2, unnest(CASE WHEN len(toks) < 2 THEN []
        |    ELSE list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) END)
        |  FROM tk
        |  UNION ALL
        |  SELECT source, 3, unnest(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END)
        |  FROM tk)
        |SELECT source, n, COUNT(*) AS total_grams,
        |  COUNT(DISTINCT gram) AS distinct_grams,
        |  COUNT(DISTINCT gram)::DOUBLE / COUNT(*)::DOUBLE AS distinct_ratio
        |FROM g GROUP BY source, n ORDER BY source, n""".stripMargin,
    "q258_dsir_weights" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |cc AS (SELECT tok, COUNT(*) AS c_corpus FROM tk GROUP BY tok),
        |tc AS (SELECT tok, COUNT(*) AS c_target FROM tk WHERE source = 'src0' GROUP BY tok),
        |scal AS (
        |  SELECT (SELECT CAST(SUM(c_corpus) AS BIGINT) FROM cc) AS n_corpus,
        |    (SELECT COUNT(*) FROM cc) AS vsize,
        |    (SELECT COUNT(*) FROM tk WHERE source = 'src0') AS n_target),
        |terms AS (
        |  SELECT doc_id, tk.source,
        |    1000000000000 * (COALESCE(c_target, 0) + 1) // (n_target + vsize) AS pt,
        |    1000000000000 * (c_corpus + 1) // (n_corpus + vsize) AS pc
        |  FROM tk JOIN cc USING (tok) LEFT JOIN tc USING (tok) CROSS JOIN scal),
        |per_doc AS (
        |  SELECT doc_id, source, COUNT(*) AS n_tok,
        |    (CAST(SUM(pt) AS BIGINT) - CAST(SUM(pc) AS BIGINT))::DOUBLE / COUNT(*)::DOUBLE
        |      AS weight
        |  FROM terms GROUP BY doc_id, source)
        |SELECT source, rk, doc_id, n_tok, weight FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY weight DESC, doc_id) AS rk
        |  FROM per_doc) r
        |WHERE rk <= 3 ORDER BY source, rk""".stripMargin,
    "q259_principal_direction" ->
      """WITH ex AS (
        |  SELECT vec_id, i - 1 AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)),
        |s AS (SELECT vec_id, CAST(SUM(q) AS BIGINT) AS s FROM ex GROUP BY vec_id),
        |v1 AS (
        |  SELECT dim, SUM(CAST(q AS HUGEINT) * s) AS v
        |  FROM ex JOIN s USING (vec_id) GROUP BY dim),
        |u1 AS (
        |  SELECT dim, CAST(CASE WHEN m = 0 THEN 0
        |    ELSE sign(v) * ((abs(v) * 1000000) // m) END AS BIGINT) AS u
        |  FROM v1 CROSS JOIN (SELECT MAX(abs(v)) AS m FROM v1)),
        |t AS (
        |  SELECT vec_id, CAST(SUM(q * u) AS BIGINT) AS t
        |  FROM ex JOIN u1 USING (dim) GROUP BY vec_id),
        |v2 AS (
        |  SELECT dim, SUM(CAST(q AS HUGEINT) * t) AS v
        |  FROM ex JOIN t USING (vec_id) GROUP BY dim)
        |SELECT dim, CAST(CASE WHEN m = 0 THEN 0
        |    ELSE sign(v) * ((abs(v) * 1000000) // m) END AS BIGINT) AS direction_fixed
        |FROM v2 CROSS JOIN (SELECT MAX(abs(v)) AS m FROM v2)
        |ORDER BY dim""".stripMargin,
    "q260_weighted_jaccard" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents WHERE doc_id < 1000 AND text IS NOT NULL AND length(trim(text)) > 0),
        |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY doc_id, tok),
        |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS i
        |  FROM tc a JOIN tc b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b,
        |  i::DOUBLE / (ta.n + tb.n - i)::DOUBLE AS wjaccard
        |FROM inter
        |JOIN tot ta ON ta.doc_id = id_a
        |JOIN tot tb ON tb.doc_id = id_b
        |WHERE i::DOUBLE / (ta.n + tb.n - i)::DOUBLE >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    "q265_dup_spectrum" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, n, unnest(list_distinct(CASE WHEN len(toks) < n THEN []
        |    ELSE list_transform(range(1, len(toks) - n + 2),
        |      i -> array_to_string(toks[i:i+n-1], ' ')) END)) AS gram
        |  FROM tk, (SELECT unnest([4, 8, 16]) AS n)),
        |df AS (SELECT n, gram, COUNT(*) AS df FROM g GROUP BY n, gram),
        |sg AS (SELECT DISTINCT source, g.n, g.gram, df
        |  FROM g JOIN df ON g.n = df.n AND g.gram = df.gram)
        |SELECT source, n, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE AS dup_frac
        |FROM sg GROUP BY source, n ORDER BY source, n""".stripMargin,
    "q266_loo_encoding" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |g AS (
        |  SELECT o_orderpriority, CAST(SUM(cents) AS BIGINT) AS gsum, COUNT(*) AS gn
        |  FROM o GROUP BY 1),
        |p AS (
        |  SELECT CAST(CAST(SUM(cents) AS HUGEINT) // COUNT(*) AS BIGINT) AS prior_cents
        |  FROM o)
        |SELECT o_orderkey, o_orderpriority, cents,
        |  CAST((CAST(gsum - cents + 10 * prior_cents AS HUGEINT) * 1000000)
        |    // (gn - 1 + 10) AS BIGINT) AS enc_fixed
        |FROM o JOIN g USING (o_orderpriority) CROSS JOIN p
        |ORDER BY o_orderkey LIMIT 25""".stripMargin,
    "q268_maxsim_retrieval" ->
      """WITH f AS (
        |  SELECT vec_id // 4 AS docv, vec_id % 4 AS slot,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |      AS iv
        |  FROM embeddings),
        |d AS (
        |  SELECT q.docv AS qdoc, q.slot AS qslot, c.docv, c.slot,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)
        |      AS dot
        |  FROM f q JOIN f c ON q.docv < 10 AND q.docv <> c.docv),
        |m AS (SELECT qdoc, docv, qslot, MAX(dot) AS m FROM d GROUP BY qdoc, docv, qslot),
        |sc AS (SELECT qdoc, docv, CAST(SUM(m) AS BIGINT) AS maxsim FROM m GROUP BY qdoc, docv)
        |SELECT qdoc, rank, doc, maxsim FROM (
        |  SELECT qdoc, docv AS doc, maxsim,
        |    ROW_NUMBER() OVER (PARTITION BY qdoc ORDER BY maxsim DESC, docv) AS rank
        |  FROM sc) r
        |WHERE rank <= 5 ORDER BY qdoc, rank""".stripMargin,
    "q269_shard_topk_merge" ->
      """WITH tk AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |tc AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY source, tok),
        |lt AS (SELECT source, tok, c,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rk
        |  FROM tc),
        |cand AS (SELECT DISTINCT tok FROM lt WHERE rk <= 20),
        |ref AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS global_cnt
        |  FROM tc JOIN cand USING (tok) GROUP BY tok),
        |bound AS (SELECT CAST(SUM(c) AS BIGINT) AS ta_bound FROM lt WHERE rk = 20)
        |SELECT rank, tok, global_cnt, ta_bound, global_cnt >= ta_bound AS guaranteed
        |FROM (SELECT tok, global_cnt,
        |    ROW_NUMBER() OVER (ORDER BY global_cnt DESC, tok) AS rank FROM ref) r
        |CROSS JOIN bound WHERE rank <= 10 ORDER BY rank""".stripMargin,
    "q270_prefix_cache_savings" ->
      """WITH p AS (
        |  SELECT source,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |q AS (
        |  SELECT source, CAST(len(toks) AS BIGINT) AS n_tok,
        |    array_to_string(toks[1:8], ' ') AS prefix,
        |    CAST(LEAST(len(toks), 8) AS BIGINT) AS prefix_len
        |  FROM p),
        |g AS (
        |  SELECT source, prefix, prefix_len, COUNT(*) AS gsize,
        |    CAST(SUM(n_tok) AS BIGINT) AS gtok
        |  FROM q GROUP BY source, prefix, prefix_len)
        |SELECT source, CAST(SUM(gsize) AS BIGINT) AS n_prompts,
        |  CAST(SUM(gtok) AS BIGINT) AS total_tokens,
        |  CAST(SUM((gsize - 1) * prefix_len) AS BIGINT) AS saved_tokens,
        |  CAST(SUM((gsize - 1) * prefix_len) AS BIGINT)::DOUBLE
        |    / CAST(SUM(gtok) AS BIGINT)::DOUBLE AS savings_ratio
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "q271_epoch_waterfill" ->
      """WITH tk AS (
        |  SELECT source,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |src AS (SELECT source, COUNT(*) AS tokens, COUNT(DISTINCT tok) AS dtok
        |  FROM tk GROUP BY source),
        |ranked AS (
        |  SELECT source, tokens,
        |    CASE NTILE(3) OVER (ORDER BY dtok::DOUBLE / tokens::DOUBLE DESC, source)
        |      WHEN 1 THEN CAST(4 AS BIGINT) WHEN 2 THEN 2 ELSE 1 END AS cap
        |  FROM src),
        |b AS (SELECT CAST((CAST(SUM(tokens) AS HUGEINT) * 3) // 2 AS BIGINT) AS budget
        |  FROM ranked),
        |scan AS (
        |  SELECT source, tokens, cap,
        |    SUM(tokens * cap) OVER (ORDER BY cap, source ROWS UNBOUNDED PRECEDING)
        |      AS cum_capped,
        |    SUM(tokens) OVER (ORDER BY cap, source
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS rest,
        |    LEAD(cap) OVER (ORDER BY cap, source) AS next_cap
        |  FROM ranked),
        |feas AS (
        |  SELECT 0 AS prio, budget - cum_capped AS lam_num, rest AS lam_den
        |  FROM scan CROSS JOIN b
        |  WHERE rest > 0 AND budget - cum_capped >= cap * rest
        |    AND (next_cap IS NULL OR budget - cum_capped < next_cap * rest)),
        |all0 AS (
        |  SELECT 1 AS prio, budget AS lam_num, rest + tokens AS lam_den
        |  FROM (SELECT * FROM scan ORDER BY cap, source LIMIT 1) f CROSS JOIN b
        |  WHERE budget < cap * (rest + tokens)),
        |capfall AS (
        |  SELECT 2 AS prio, MAX(cap) AS lam_num, CAST(1 AS BIGINT) AS lam_den FROM ranked),
        |lam AS (
        |  SELECT lam_num, lam_den
        |  FROM (SELECT * FROM feas UNION ALL SELECT * FROM all0 UNION ALL SELECT * FROM capfall)
        |  ORDER BY prio LIMIT 1)
        |SELECT source, tokens, cap,
        |  LEAST(cap::DOUBLE, lam_num::DOUBLE / lam_den::DOUBLE) AS epochs,
        |  tokens::DOUBLE * LEAST(cap::DOUBLE, lam_num::DOUBLE / lam_den::DOUBLE)
        |    AS alloc_tokens
        |FROM ranked CROSS JOIN lam ORDER BY source""".stripMargin,
    "q274_autocorrelation" ->
      """WITH daily AS (
        |  SELECT l_shipdate AS day,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |lp AS (
        |  SELECT 1 AS lag, a.rev AS x, b.rev AS y
        |  FROM daily a JOIN daily b ON b.day = a.day + INTERVAL 1 DAY
        |  UNION ALL
        |  SELECT 7, a.rev, b.rev
        |  FROM daily a JOIN daily b ON b.day = a.day + INTERVAL 7 DAY),
        |m AS (
        |  SELECT lag, COUNT(*) AS nn,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM lp GROUP BY lag)
        |SELECT lag, CAST(nn AS BIGINT) AS n_pairs,
        |  (nn * sxy - sx * sy)::DOUBLE
        |    / (sqrt((nn * sxx - sx * sx)::DOUBLE) * sqrt((nn * syy - sy * sy)::DOUBLE))
        |    AS acf
        |FROM m ORDER BY lag""".stripMargin,
    "q275_blocking_eval" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(
        |      list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))), ' ')) AS sig,
        |    array_to_string(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t <> '')[1:2], ' ') AS block
        |  FROM documents),
        |tp AS (SELECT COALESCE(CAST(SUM(m * (m - 1) // 2) AS BIGINT), 0) AS true_pairs
        |  FROM (SELECT COUNT(*) AS m FROM d GROUP BY sig)),
        |cp AS (SELECT COALESCE(CAST(SUM(m * (m - 1) // 2) AS BIGINT), 0) AS candidate_pairs
        |  FROM (SELECT COUNT(*) AS m FROM d GROUP BY block)),
        |fp AS (SELECT COALESCE(CAST(SUM(m * (m - 1) // 2) AS BIGINT), 0) AS found_pairs
        |  FROM (SELECT COUNT(*) AS m FROM d GROUP BY sig, block)),
        |nd AS (SELECT COUNT(*) AS n_docs FROM d)
        |SELECT n_docs, true_pairs, candidate_pairs, found_pairs,
        |  CASE WHEN true_pairs = 0 THEN 1.0
        |    ELSE found_pairs::DOUBLE / true_pairs::DOUBLE END AS pair_completeness,
        |  1.0 - candidate_pairs::DOUBLE / (n_docs * (n_docs - 1) // 2)::DOUBLE
        |    AS reduction_ratio
        |FROM nd CROSS JOIN tp CROSS JOIN cp CROSS JOIN fp""".stripMargin,
    "q278_dedup_signal_eval" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents WHERE doc_id < 1000),
        |tok AS (SELECT doc_id, unnest(toks) AS t FROM toks),
        |h AS (SELECT doc_id,
        |    ('0x' || substr(md5(t), 17, 8))::BIGINT AS hi,
        |    ('0x' || substr(md5(t), 25, 8))::BIGINT AS lo
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, bits.b AS b,
        |    SUM(CASE WHEN bits.b < 32
        |          THEN CASE WHEN (lo >> bits.b) & 1 = 1 THEN 1 ELSE -1 END
        |          ELSE CASE WHEN (hi >> (bits.b - 32)) & 1 = 1 THEN 1 ELSE -1 END END) AS v
        |  FROM h, (SELECT unnest(range(64)) AS b) bits
        |  GROUP BY doc_id, bits.b),
        |sim AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 AND b >= 32 THEN (1::BIGINT << (b - 32)) ELSE 0 END) AS BIGINT) AS hibits,
        |    CAST(SUM(CASE WHEN v > 0 AND b < 32 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS lobits
        |  FROM votes GROUP BY doc_id),
        |simall AS (
        |  SELECT d.doc_id, COALESCE(s.hibits, 0) AS hi, COALESCE(s.lobits, 0) AS lo
        |  FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) d
        |  LEFT JOIN sim s ON d.doc_id = s.doc_id),
        |sig AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM simall a JOIN simall b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
        |tc AS (SELECT doc_id, t AS tok, COUNT(*) AS c FROM tok GROUP BY doc_id, t),
        |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tc GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS i
        |  FROM tc a JOIN tc b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |tr AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN tot ta ON ta.doc_id = id_a
        |  JOIN tot tb ON tb.doc_id = id_b
        |  WHERE i::DOUBLE / (ta.n + tb.n - i)::DOUBLE >= 0.8),
        |cl AS (
        |  SELECT COALESCE(s.id_a, t.id_a) AS id_a, COALESCE(s.id_b, t.id_b) AS id_b,
        |    s.id_a IS NOT NULL AS in_sig, t.id_a IS NOT NULL AS in_tr
        |  FROM sig s FULL OUTER JOIN tr t ON s.id_a = t.id_a AND s.id_b = t.id_b),
        |cnt AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN in_sig AND in_tr THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN in_sig AND NOT in_tr THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN NOT in_sig AND in_tr THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM cl)
        |SELECT tp, fp, fn,
        |  CASE WHEN tp + fp = 0 THEN 1.0 ELSE tp::DOUBLE / (tp + fp)::DOUBLE END AS precision,
        |  CASE WHEN tp + fn = 0 THEN 1.0 ELSE tp::DOUBLE / (tp + fn)::DOUBLE END AS recall
        |FROM cnt""".stripMargin,
    "q279_haar_energy" ->
      """WITH daily AS (
        |  SELECT l_shipdate AS day,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1),
        |g0 AS (SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS g, v FROM daily),
        |l1 AS (SELECT g // 2 AS g, CAST(SUM(v) AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN g % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS d
        |  FROM g0 GROUP BY g // 2),
        |l2 AS (SELECT g // 2 AS g, CAST(SUM(v) AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN g % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS d
        |  FROM l1 GROUP BY g // 2),
        |l3 AS (SELECT g // 2 AS g, CAST(SUM(v) AS BIGINT) AS v,
        |    CAST(SUM(CASE WHEN g % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS d
        |  FROM l2 GROUP BY g // 2),
        |e AS (
        |  SELECT 1 AS level, COUNT(*) AS n_coeffs, SUM(CAST(d AS HUGEINT) * d) AS energy
        |  FROM l1
        |  UNION ALL SELECT 2, COUNT(*), SUM(CAST(d AS HUGEINT) * d) FROM l2
        |  UNION ALL SELECT 3, COUNT(*), SUM(CAST(d AS HUGEINT) * d) FROM l3)
        |SELECT level, n_coeffs,
        |  CAST(CAST(energy AS HUGEINT) // 1000000000000000000 AS BIGINT) AS energy_hi,
        |  CAST(CAST(energy AS HUGEINT) % 1000000000000000000 AS BIGINT) AS energy_lo
        |FROM e ORDER BY level""".stripMargin,
    "q280_inclusion_exclusion" ->
      """WITH flags AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS b,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY user_id)
        |SELECT
        |  CAST(SUM(a) AS BIGINT) AS n_view,
        |  CAST(SUM(b) AS BIGINT) AS n_click,
        |  CAST(SUM(c) AS BIGINT) AS n_purchase,
        |  CAST(SUM(a * b) AS BIGINT) AS n_vc,
        |  CAST(SUM(a * c) AS BIGINT) AS n_vp,
        |  CAST(SUM(b * c) AS BIGINT) AS n_cp,
        |  CAST(SUM(a * b * c) AS BIGINT) AS n_vcp,
        |  COUNT(*) AS n_union,
        |  COUNT(*) = CAST(SUM(a) + SUM(b) + SUM(c) - SUM(a * b) - SUM(a * c)
        |    - SUM(b * c) + SUM(a * b * c) AS BIGINT) AS identity_holds
        |FROM flags""".stripMargin,
    "q309_stream_neardup" ->
      """WITH ws AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_distinct(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) END AS ws
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM ws a JOIN ws b ON a.doc_id < b.doc_id
        |WHERE (CASE WHEN len(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
        |  ELSE len(list_intersect(a.ws, b.ws))::DOUBLE /
        |    len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE END) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    "q306_tws_initial_state" ->
      """WITH p AS (
        |  SELECT user_id, COUNT(*) AS n_purchases,
        |    SUM(CAST(round(value * 100) AS BIGINT)) AS stream_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |c AS (
        |  SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS start_cents
        |  FROM customer)
        |SELECT p.user_id,
        |  CAST(COALESCE(c.start_cents, 0) AS BIGINT) AS start_cents,
        |  CAST(COALESCE(c.start_cents, 0) + p.stream_cents AS BIGINT) AS end_cents,
        |  p.n_purchases
        |FROM p LEFT JOIN c ON p.user_id = c.c_custkey
        |ORDER BY user_id""".stripMargin,
    "q304_tws_timers" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800 * 1000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
        |    COUNT(*) AS n_events
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, start_us, end_us, n_events FROM sess
        |WHERE end_us + 1800 * 1000000 <= (SELECT MAX(epoch_us(ts)) FROM events)
        |ORDER BY user_id, start_us""".stripMargin,
    "q305_tws_firstk" ->
      """SELECT user_id, rank, event_id, event_type, cents FROM (
        |  SELECT user_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rank,
        |    event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events) WHERE rank <= 3
        |ORDER BY user_id, rank""".stripMargin,
    "q303_transform_with_state" ->
      """WITH c AS (
        |  SELECT user_id, event_type, COUNT(*) AS n
        |  FROM events GROUP BY user_id, event_type),
        |t AS (SELECT user_id, COUNT(*) AS n_types FROM c GROUP BY user_id)
        |SELECT c.user_id, c.event_type, c.n, t.n_types
        |FROM c JOIN t USING (user_id)
        |ORDER BY user_id, event_type""".stripMargin,
    "q313_stream_full_outer_join" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS vus, event_id AS view_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS pus, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase'),
        |mx AS (SELECT LEAST(
        |  (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'view'),
        |  (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'purchase'))
        |  AS wmus),
        |m AS (
        |  SELECT v.view_id, p.purchase_id, v.vus, p.pus
        |  FROM v FULL JOIN p ON v.user_id = p.user_id
        |    AND p.pus BETWEEN v.vus AND v.vus + 1800000000)
        |SELECT view_id, purchase_id FROM m, mx
        |WHERE (view_id IS NOT NULL AND purchase_id IS NOT NULL)
        |   OR (purchase_id IS NULL AND vus + 1800000000 < wmus)
        |   OR (view_id IS NULL AND pus < wmus)
        |ORDER BY view_id, purchase_id""".stripMargin,
    "q300_stream_outer_join" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(ts) AS vus, event_id AS view_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS pus, event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase'),
        |mx AS (SELECT LEAST(
        |  (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'view'),
        |  (SELECT MAX(epoch_us(ts)) FROM events WHERE event_type = 'purchase'))
        |  AS wmus),
        |m AS (
        |  SELECT v.view_id, p.purchase_id, v.vus
        |  FROM v LEFT JOIN p ON v.user_id = p.user_id
        |    AND p.pus BETWEEN v.vus AND v.vus + 1800000000)
        |SELECT view_id, purchase_id FROM m, mx
        |WHERE purchase_id IS NOT NULL OR vus + 1800000000 < wmus
        |ORDER BY view_id, purchase_id""".stripMargin,
    "q299_keep_owner_spans" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS gram
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i)),
        |shared AS (
        |  SELECT gram, MIN(doc_id) AS own FROM g GROUP BY gram
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |dp AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM (SELECT g.doc_id, g.pos FROM g JOIN shared USING (gram)
        |        WHERE g.doc_id <> shared.own) marked),
        |runs AS (
        |  SELECT doc_id, grp, MIN(pos) AS s, MAX(pos) + 7 AS e
        |  FROM dp GROUP BY doc_id, grp),
        |mr AS (
        |  SELECT doc_id, s, e,
        |    MAX(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM runs),
        |sp AS (
        |  SELECT doc_id, span_id, MIN(s) AS s, MAX(e) AS e
        |  FROM (SELECT doc_id, s, e,
        |          SUM(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY s
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |        FROM mr) x
        |  GROUP BY doc_id, span_id),
        |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS idx FROM sp),
        |tok AS (
        |  SELECT doc_id, toks[i] AS tok, i - 1 AS idx
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
        |kept AS (
        |  SELECT t.doc_id, t.tok, t.idx
        |  FROM tok t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    COALESCE(string_agg(tok, ' ' ORDER BY idx), '') AS clean_text
        |  FROM kept GROUP BY doc_id),
        |ns AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id)
        |SELECT tk.doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(ns.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(len(toks) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(agg.clean_text, '') AS clean_text
        |FROM tk LEFT JOIN ns USING (doc_id) LEFT JOIN agg USING (doc_id)
        |ORDER BY tk.doc_id""".stripMargin,
    "q298_remove_shared_spans" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS gram
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i)),
        |shared AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        |dp AS (
        |  SELECT doc_id, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM g SEMI JOIN shared USING (gram)),
        |runs AS (
        |  SELECT doc_id, grp, MIN(pos) AS s, MAX(pos) + 7 AS e
        |  FROM dp GROUP BY doc_id, grp),
        |mr AS (
        |  SELECT doc_id, s, e,
        |    MAX(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM runs),
        |sp AS (
        |  SELECT doc_id, span_id, MIN(s) AS s, MAX(e) AS e
        |  FROM (SELECT doc_id, s, e,
        |          SUM(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id ORDER BY s
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
        |        FROM mr) x
        |  GROUP BY doc_id, span_id),
        |cov AS (SELECT doc_id, unnest(generate_series(s, e)) AS idx FROM sp),
        |tok AS (
        |  SELECT doc_id, toks[i] AS tok, i - 1 AS idx
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
        |kept AS (
        |  SELECT t.doc_id, t.tok, t.idx
        |  FROM tok t ANTI JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    COALESCE(string_agg(tok, ' ' ORDER BY idx), '') AS clean_text
        |  FROM kept GROUP BY doc_id),
        |ns AS (SELECT doc_id, COUNT(*) AS n_spans FROM sp GROUP BY doc_id)
        |SELECT tk.doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(ns.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(len(toks) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
        |  COALESCE(agg.clean_text, '') AS clean_text
        |FROM tk LEFT JOIN ns USING (doc_id) LEFT JOIN agg USING (doc_id)
        |ORDER BY tk.doc_id""".stripMargin,
    "q320_dynamic_session_window" ->
      """WITH e0 AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN event_type = 'view' THEN 1200000000 ELSE 2400000000 END AS g
        |  FROM events),
        |e AS (
        |  SELECT user_id, us, g,
        |    CASE WHEN MAX(us + g) OVER w IS NULL THEN 1
        |      WHEN us >= MAX(us + g) OVER w THEN 1 ELSE 0 END AS brk
        |  FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s AS (
        |  SELECT user_id, us, g,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e),
        |ses AS (
        |  SELECT user_id, sid, COUNT(*) AS n_events,
        |    MAX(us + g) - MIN(us) AS span_us
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(n_events) AS BIGINT) AS n_events,
        |  CAST(MAX(span_us) AS BIGINT) AS max_span_us
        |FROM ses GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q297_session_window_native" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
        |      WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000 THEN 1
        |      ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, us,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e),
        |ses AS (
        |  SELECT user_id, sid, COUNT(*) AS n_events,
        |    MAX(us) + 1800000000 - MIN(us) AS span_us
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(n_events) AS BIGINT) AS n_events,
        |  CAST(MAX(span_us) AS BIGINT) AS max_span_us
        |FROM ses GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q296_variant_props" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(CAST(props->>'k' AS BIGINT)) AS n_with_k,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
        |  MAX(CAST(props->>'k' AS BIGINT)) AS max_k,
        |  CAST(SUM(CASE WHEN CAST(props->>'k' AS BIGINT) >= 50 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_ge_thresh
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q294_posting_compression" ->
      """WITH posts AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
        |    FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)),
        |gaps AS (
        |  SELECT tok,
        |    doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY tok ORDER BY doc_id), 0) AS gap
        |  FROM posts),
        |vb AS (
        |  SELECT tok,
        |    CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
        |      WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4 ELSE 5 END AS vbytes
        |  FROM gaps),
        |pt AS (SELECT tok, COUNT(*) AS df, CAST(SUM(vbytes) AS BIGINT) AS vbt
        |  FROM vb GROUP BY tok)
        |SELECT
        |  CASE WHEN df < 10 THEN '1-9' WHEN df < 100 THEN '10-99'
        |    WHEN df < 1000 THEN '100-999' ELSE '1000+' END AS df_bucket,
        |  COUNT(*) AS n_tokens,
        |  CAST(SUM(df) AS BIGINT) AS total_postings,
        |  CAST(SUM(df) * 8 AS BIGINT) AS raw_bytes,
        |  CAST(SUM(vbt) AS BIGINT) AS varint_bytes,
        |  (CAST(SUM(df) AS BIGINT) * 8)::DOUBLE / CAST(SUM(vbt) AS BIGINT)::DOUBLE
        |    AS compression_ratio
        |FROM pt GROUP BY 1 ORDER BY df_bucket""".stripMargin,
    "q295_merkle_repair" ->
      """WITH a AS (
        |  SELECT source, doc_id % 64 AS bucket, COUNT(*) AS n_rows,
        |    md5(string_agg(md5(doc_id || '|' || text), ''
        |      ORDER BY md5(doc_id || '|' || text))) AS leaf
        |  FROM documents GROUP BY source, doc_id % 64),
        |b AS (
        |  SELECT source, doc_id % 64 AS bucket,
        |    md5(string_agg(md5(doc_id || '|' || txt), ''
        |      ORDER BY md5(doc_id || '|' || txt))) AS leaf_b
        |  FROM (SELECT source, doc_id,
        |      CASE WHEN doc_id % 101 = 0 THEN text || ' CORRUPT' ELSE text END AS txt
        |    FROM documents)
        |  GROUP BY source, doc_id % 64)
        |SELECT source, COUNT(*) AS n_leaves,
        |  CAST(SUM(CASE WHEN leaf <> leaf_b THEN 1 ELSE 0 END) AS BIGINT) AS dirty_leaves,
        |  CAST(SUM(n_rows) AS BIGINT) AS total_rows,
        |  CAST(SUM(CASE WHEN leaf <> leaf_b THEN n_rows ELSE 0 END) AS BIGINT)
        |    AS repair_rows,
        |  SUM(CASE WHEN leaf <> leaf_b THEN n_rows ELSE 0 END)::DOUBLE
        |    / SUM(n_rows)::DOUBLE AS repair_share
        |FROM a JOIN b USING (source, bucket)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q293_ks_statistic" ->
      """WITH li AS (
        |  SELECT l_returnflag AS flag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')),
        |pv AS (
        |  SELECT cents,
        |    CAST(SUM(CASE WHEN flag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(SUM(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS cr
        |  FROM li GROUP BY cents),
        |cum AS (
        |  SELECT cents,
        |    CAST(SUM(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
        |    CAST(SUM(cr) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_r
        |  FROM pv),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cr) AS BIGINT) AS nr FROM pv)
        |SELECT CAST(MAX(abs(cum_a * nr - cum_r * na)) AS BIGINT) AS d_num,
        |  na AS n_a, nr AS n_r,
        |  MAX(abs(cum_a * nr - cum_r * na))::DOUBLE / (na * nr)::DOUBLE AS ks_d
        |FROM cum CROSS JOIN tot GROUP BY na, nr""".stripMargin,
    "q291_neyman_allocation" ->
      """WITH docs AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x FROM documents),
        |st AS (SELECT doc_id, x, NTILE(5) OVER (ORDER BY x, doc_id) AS stratum FROM docs),
        |mom AS (
        |  SELECT stratum, COUNT(*) AS n_docs,
        |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM st GROUP BY stratum),
        |m2 AS (
        |  SELECT stratum, n_docs,
        |    sqrt((n_docs * sxx - sx * sx)::DOUBLE / (n_docs * (n_docs - 1))::DOUBLE)
        |      AS sd_len
        |  FROM mom),
        |w AS (SELECT *, n_docs::DOUBLE * sd_len AS w FROM m2),
        |tw AS (SELECT SUM(w) AS tw FROM w),
        |raw AS (
        |  SELECT stratum, n_docs, sd_len,
        |    CAST(floor(1000.0 * w / tw) AS BIGINT) AS base,
        |    1000.0 * w / tw - floor(1000.0 * w / tw) AS rem
        |  FROM w CROSS JOIN tw),
        |lo AS (SELECT 1000 - CAST(SUM(base) AS BIGINT) AS lo FROM raw),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS rk FROM raw)
        |SELECT stratum, n_docs, sd_len,
        |  base + CASE WHEN rk <= lo THEN 1 ELSE 0 END AS alloc
        |FROM rk CROSS JOIN lo ORDER BY stratum""".stripMargin,
    "q292_krippendorff_alpha" ->
      """WITH base AS (SELECT doc_id, lang FROM documents),
        |nx(a, b) AS (VALUES ('en','es'), ('es','de'), ('de','fr'), ('fr','zh'),
        |  ('zh','und'), ('und','en')),
        |vals AS (
        |  SELECT doc_id, lang AS label FROM base
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 'en' ELSE lang END FROM base
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN b ELSE lang END
        |  FROM base JOIN nx ON a = lang),
        |ouc AS (SELECT doc_id, label, COUNT(*) AS o FROM vals GROUP BY doc_id, label),
        |dn AS (
        |  SELECT CAST(SUM(o * (3 - o)) AS BIGINT) AS do_num,
        |    COUNT(DISTINCT doc_id) AS n_units
        |  FROM ouc),
        |marg AS (SELECT label, CAST(SUM(o) AS BIGINT) AS nc FROM ouc GROUP BY label),
        |nt AS (SELECT CAST(SUM(nc) AS BIGINT) AS ntot FROM marg),
        |de AS (
        |  SELECT CAST(SUM(nc * (ntot - nc)) AS BIGINT) AS de_num, MAX(ntot) AS ntot
        |  FROM marg CROSS JOIN nt)
        |SELECT n_units, do_num, de_num, ntot,
        |  do_num::DOUBLE / (n_units * 6)::DOUBLE AS d_o,
        |  de_num::DOUBLE / (ntot * (ntot - 1))::DOUBLE AS d_e,
        |  1.0 - (do_num::DOUBLE / (n_units * 6)::DOUBLE)
        |    / (de_num::DOUBLE / (ntot * (ntot - 1))::DOUBLE) AS alpha
        |FROM dn CROSS JOIN de""".stripMargin,
    "q288_observe_metrics" ->
      """WITH li AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        |t AS (SELECT COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS c FROM li)
        |SELECT n AS observed_rows, c AS observed_cents,
        |  n AS direct_rows, c AS direct_cents,
        |  TRUE AS rows_match, TRUE AS cents_match
        |FROM t""".stripMargin,
    "q289_typed_sessions" ->
      """WITH e AS (
        |  -- epoch_us // 1e6 floors to seconds exactly like getTime/1000
        |  SELECT user_id, epoch_us(ts) // 1000000 AS sec,
        |    epoch_us(ts) // 1000000
        |      - LAG(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS gap
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  CAST(1 + SUM(CASE WHEN gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_sec
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q290_cogroup_reconcile" ->
      """WITH per AS (
        |  SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS hdr_cents,
        |    COALESCE(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT), 0)
        |      AS line_cents
        |  FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY o_orderkey, o_totalprice)
        |SELECT COUNT(*) AS n_orders,
        |  CAST(SUM(CASE WHEN line_cents > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_lines,
        |  CAST(SUM(CASE WHEN hdr_cents = line_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  CAST(MIN(hdr_cents - line_cents) AS BIGINT) AS min_diff,
        |  CAST(MAX(hdr_cents - line_cents) AS BIGINT) AS max_diff
        |FROM per""".stripMargin,
    "q286_verbatim_spans" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source, i - 1 AS pos,
        |    array_to_string(toks[i:i+9], ' ') AS gram
        |  FROM tk, LATERAL (SELECT unnest(generate_series(1, len(toks) - 9)) AS i)),
        |occ AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |dp AS (
        |  SELECT doc_id, source, pos,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |  FROM g SEMI JOIN occ USING (gram)),
        |spans AS (
        |  SELECT doc_id, source, grp, MIN(pos) AS span_start,
        |    MAX(pos) + 9 AS span_end,
        |    MAX(pos) + 9 - MIN(pos) + 1 AS span_len
        |  FROM dp GROUP BY doc_id, source, grp),
        |tok AS (SELECT source, CAST(SUM(len(toks)) AS BIGINT) AS total_tokens
        |  FROM tk GROUP BY source),
        |agg AS (
        |  SELECT source, COUNT(*) AS n_spans,
        |    CAST(SUM(span_len) AS BIGINT) AS dup_token_mass,
        |    CAST(MAX(span_len) AS BIGINT) AS longest_span
        |  FROM spans GROUP BY source)
        |SELECT t.source,
        |  COALESCE(n_spans, 0) AS n_spans,
        |  COALESCE(dup_token_mass, 0) AS dup_token_mass,
        |  COALESCE(longest_span, 0) AS longest_span,
        |  t.total_tokens,
        |  COALESCE(dup_token_mass, 0)::DOUBLE / t.total_tokens::DOUBLE AS dup_mass_ratio
        |FROM tok t LEFT JOIN agg USING (source)
        |ORDER BY t.source""".stripMargin,
    "q287_l_diversity" ->
      """WITH prio AS (
        |  SELECT o_custkey AS c_custkey, o_orderpriority AS sensitive FROM (
        |    SELECT o_custkey, o_orderpriority,
        |      ROW_NUMBER() OVER (PARTITION BY o_custkey
        |        ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
        |    FROM orders GROUP BY o_custkey, o_orderpriority) x
        |  WHERE rn = 1),
        |qid AS (
        |  SELECT c.c_custkey, c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal) AS BIGINT) + 10000) // 1000 AS bal_band,
        |    sensitive
        |  FROM customer c JOIN prio ON c.c_custkey = prio.c_custkey),
        |cls AS (
        |  SELECT c_nationkey, c_mktsegment, bal_band,
        |    COUNT(*) AS cls_size, COUNT(DISTINCT sensitive) AS l
        |  FROM qid GROUP BY c_nationkey, c_mktsegment, bal_band)
        |SELECT COUNT(*) AS n_classes,
        |  MIN(l) AS min_l,
        |  CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_homogeneous,
        |  CAST(SUM(CASE WHEN l < 2 THEN cls_size ELSE 0 END) AS BIGINT) AS n_exposed,
        |  CAST(SUM(cls_size) AS BIGINT) AS n_rows,
        |  SUM(CASE WHEN l < 2 THEN cls_size ELSE 0 END)::DOUBLE
        |    / SUM(cls_size)::DOUBLE AS exposed_share
        |FROM cls""".stripMargin,
    "q284_watermark_lateness" ->
      """WITH l AS (
        |  SELECT user_id, event_id, ts,
        |    MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |  FROM events),
        |late AS (
        |  -- epoch_us // 1e6 FLOORS like Spark's unix_timestamp;
        |  -- CAST(epoch() AS BIGINT) would ROUND the sub-second part
        |  SELECT GREATEST(epoch_us(wm) // 1000000 - epoch_us(ts) // 1000000, 0)
        |    AS late_sec
        |  FROM l)
        |SELECT COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN late_sec > 60 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_1m,
        |  CAST(SUM(CASE WHEN late_sec > 600 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_10m,
        |  CAST(SUM(CASE WHEN late_sec > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_1h,
        |  CAST(MAX(late_sec) AS BIGINT) AS max_late_sec,
        |  SUM(CASE WHEN late_sec > 600 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*)::DOUBLE
        |    AS drop_rate_10m
        |FROM late""".stripMargin,
    "q285_scd2_asof_join" ->
      """WITH versions AS (
        |  SELECT c_custkey, vyear,
        |    COALESCE(LEAD(vyear) OVER (PARTITION BY c_custkey ORDER BY vyear), 9999)
        |      AS valid_to_year,
        |    c_custkey * 100 + vyear AS version_bal_cents
        |  FROM (SELECT DISTINCT o_custkey AS c_custkey, year(o_orderdate) AS vyear
        |        FROM orders)),
        |o AS (SELECT o_orderkey, o_custkey, year(o_orderdate) AS oyear FROM orders),
        |matched AS (
        |  SELECT o_orderkey, o_custkey, oyear, vyear, version_bal_cents
        |  FROM o JOIN versions ON o_custkey = c_custkey
        |    AND oyear >= vyear AND oyear < valid_to_year),
        |audit AS (
        |  SELECT COUNT(*) AS n_orders,
        |    CAST(SUM(CASE WHEN n_versions = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_exactly_one
        |  FROM (SELECT o_orderkey, COUNT(*) AS n_versions FROM matched GROUP BY 1))
        |SELECT o_orderkey, o_custkey, oyear, vyear, version_bal_cents,
        |  n_orders = n_exactly_one AS all_exactly_one
        |FROM (SELECT * FROM matched ORDER BY o_orderkey LIMIT 20) m CROSS JOIN audit
        |ORDER BY o_orderkey""".stripMargin,
    "q281_shapley_attribution" ->
      """WITH fb AS (
        |  SELECT user_id, ts AS fts, event_id AS fid FROM (
        |    SELECT user_id, ts, event_id,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM events WHERE event_type = 'purchase') x WHERE rn = 1),
        |masks AS (
        |  SELECT e.user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      + MAX(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
        |      + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END) AS m,
        |    MAX(CASE WHEN fb.user_id IS NOT NULL THEN 1 ELSE 0 END) AS conv
        |  FROM events e LEFT JOIN fb USING (user_id)
        |  WHERE fb.user_id IS NULL OR (e.ts, e.event_id) < (fts, fid)
        |  GROUP BY e.user_id),
        |by_mask AS (
        |  SELECT m, COUNT(*) AS n_users, CAST(SUM(conv) AS BIGINT) AS n_conv
        |  FROM masks GROUP BY m),
        |nt AS (SELECT CAST(SUM(n_users) AS BIGINT) AS n_total FROM by_mask),
        |vtab AS (
        |  SELECT s_mask, COALESCE(CAST(SUM(n_conv) AS BIGINT), 0) AS vconv
        |  FROM (SELECT unnest(range(0, 8)) AS s_mask) s
        |  LEFT JOIN by_mask ON (m & s_mask) = m
        |  GROUP BY s_mask),
        |terms(channel, s_without, s_with, w6) AS (VALUES
        |  ('view', 0, 1, 2), ('view', 2, 3, 1), ('view', 4, 5, 1), ('view', 6, 7, 2),
        |  ('click', 0, 2, 2), ('click', 1, 3, 1), ('click', 4, 6, 1), ('click', 5, 7, 2),
        |  ('signup', 0, 4, 2), ('signup', 1, 5, 1), ('signup', 2, 6, 1), ('signup', 3, 7, 2))
        |SELECT channel,
        |  CAST(SUM(w6 * (vw.vconv - vo.vconv)) AS BIGINT) AS phi_num,
        |  n_total,
        |  CAST(SUM(w6 * (vw.vconv - vo.vconv)) AS BIGINT)::DOUBLE
        |    / (n_total * 6)::DOUBLE AS phi
        |FROM terms
        |JOIN vtab vw ON vw.s_mask = terms.s_with
        |JOIN vtab vo ON vo.s_mask = terms.s_without
        |CROSS JOIN nt
        |GROUP BY channel, n_total ORDER BY channel""".stripMargin,
    "q282_markov_removal" ->
      """WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events),
        |fb AS (
        |  SELECT user_id, ts AS fts, event_id AS fid FROM (
        |    SELECT user_id, ts, event_id,
        |      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |    FROM ev WHERE event_type = 'purchase') x WHERE rn = 1),
        |kept AS (
        |  SELECT e.user_id, e.ts, e.event_id, e.event_type
        |  FROM ev e LEFT JOIN fb USING (user_id)
        |  WHERE fb.user_id IS NULL OR (e.ts, e.event_id) <= (fts, fid)),
        |pairs AS (
        |  SELECT user_id,
        |    COALESCE(LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |      'start') AS a,
        |    event_type AS b
        |  FROM kept),
        |cnt AS (SELECT a, b, COUNT(*) AS c FROM pairs GROUP BY a, b),
        |tot AS (SELECT a, CAST(SUM(c) AS BIGINT) AS d FROM cnt GROUP BY a),
        |trans AS (SELECT a, b, CAST(1000000000 * c // d AS BIGINT) AS p9
        |  FROM cnt JOIN tot USING (a)),
        |variants(removed) AS (VALUES ('none'), ('view'), ('click'), ('signup')),
        |tv AS (SELECT removed, a, b, p9 FROM variants
        |  JOIN trans ON a <> removed AND b <> removed),
        |f1 AS (SELECT removed, b, p9 AS f1 FROM tv WHERE a = 'start'),
        |f2 AS (
        |  SELECT t.removed, t.b, CAST(SUM(f.f1 * t.p9) AS BIGINT) AS f2
        |  FROM f1 f JOIN tv t ON f.removed = t.removed AND t.a = f.b
        |  WHERE f.b <> 'purchase' GROUP BY t.removed, t.b),
        |f3 AS (
        |  SELECT t.removed, t.b, SUM(CAST(f.f2 AS HUGEINT) * t.p9) AS f3
        |  FROM f2 f JOIN tv t ON f.removed = t.removed AND t.a = f.b
        |  WHERE f.b <> 'purchase' GROUP BY t.removed, t.b),
        |conv AS (
        |  SELECT v.removed,
        |    CAST(COALESCE((SELECT f1 FROM f1 WHERE removed = v.removed AND b = 'purchase'), 0)
        |      AS HUGEINT) * 1000000000000000000
        |    + CAST(COALESCE((SELECT f2 FROM f2 WHERE removed = v.removed AND b = 'purchase'), 0)
        |      AS HUGEINT) * 1000000000
        |    + COALESCE((SELECT f3 FROM f3 WHERE removed = v.removed AND b = 'purchase'),
        |      CAST(0 AS HUGEINT)) AS mass
        |  FROM variants v),
        |fm AS (SELECT mass AS mass_full FROM conv WHERE removed = 'none')
        |SELECT removed AS channel,
        |  CAST(mass_full // 1000000000000000000 AS BIGINT) AS p_conv_e9_full,
        |  CAST(mass // 1000000000000000000 AS BIGINT) AS p_conv_e9_removed,
        |  CAST(1000000 - (mass * 1000000 // mass_full) AS BIGINT) AS removal_effect_fixed
        |FROM conv CROSS JOIN fm WHERE removed <> 'none' ORDER BY channel""".stripMargin,
    "q283_qini_curve" ->
      """WITH users AS (
        |  SELECT user_id,
        |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS score,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv,
        |    CAST(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS treated
        |  FROM events GROUP BY user_id),
        |ranked AS (
        |  SELECT *, NTILE(10) OVER (ORDER BY -score, user_id) AS decile FROM users),
        |bd AS (
        |  SELECT decile,
        |    CAST(SUM(treated) AS BIGINT) AS n_t,
        |    CAST(SUM(treated * conv) AS BIGINT) AS conv_t,
        |    CAST(SUM(1 - treated) AS BIGINT) AS n_c,
        |    CAST(SUM((1 - treated) * conv) AS BIGINT) AS conv_c
        |  FROM ranked GROUP BY decile),
        |cum AS (
        |  SELECT decile,
        |    CAST(SUM(n_t) OVER w AS BIGINT) AS cum_n_t,
        |    CAST(SUM(conv_t) OVER w AS BIGINT) AS cum_conv_t,
        |    CAST(SUM(n_c) OVER w AS BIGINT) AS cum_n_c,
        |    CAST(SUM(conv_c) OVER w AS BIGINT) AS cum_conv_c
        |  FROM bd WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING))
        |SELECT decile, cum_n_t, cum_conv_t, cum_n_c, cum_conv_c,
        |  cum_conv_t::DOUBLE / cum_n_t::DOUBLE - cum_conv_c::DOUBLE / cum_n_c::DOUBLE
        |    AS uplift,
        |  cum_conv_t::DOUBLE - cum_conv_c::DOUBLE * cum_n_t::DOUBLE / cum_n_c::DOUBLE
        |    AS qini
        |FROM cum ORDER BY decile""".stripMargin,
    "q276_best_run" ->
      """WITH daily AS (
        |  SELECT l_shipdate AS day,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |sc AS (SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS s FROM daily),
        |pre1 AS (
        |  SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn,
        |    CAST(SUM(n * rev - s) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |      AS prefix
        |  FROM daily CROSS JOIN sc),
        |pre2 AS (
        |  SELECT day, rn, prefix,
        |    prefix - LEAST(COALESCE(MIN(prefix) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 0) AS runsum
        |  FROM pre1),
        |best AS (
        |  SELECT rn AS rn_e, day AS end_day, runsum AS best_sum,
        |    prefix - runsum AS target_pre
        |  FROM pre2 ORDER BY runsum DESC, day LIMIT 1),
        |rn0 AS (
        |  SELECT MIN(rn) AS rn_match FROM pre2 CROSS JOIN best
        |  WHERE prefix = target_pre AND rn < rn_e),
        |srn AS (
        |  SELECT CASE WHEN target_pre = 0 THEN 1 ELSE rn_match + 1 END AS rn_s,
        |    rn_e, end_day, best_sum
        |  FROM best CROSS JOIN rn0)
        |SELECT p.day AS start_day, end_day, best_sum,
        |  CAST(rn_e - rn_s + 1 AS BIGINT) AS n_days
        |FROM pre2 p JOIN srn ON p.rn = srn.rn_s""".stripMargin,
    "q277_price_volume_decomp" ->
      """WITH li AS (
        |  SELECT p_brand, year(l_shipdate) AS yr,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE year(l_shipdate) IN (1995, 1996)
        |  GROUP BY p_brand, yr),
        |j AS (
        |  SELECT p_brand, y0.q0, y0.r0, y1.q1, y1.r1,
        |    CAST(sign(y1.q1 - y0.q0) AS BIGINT) *
        |      CAST((CAST(abs(y1.q1 - y0.q0) AS HUGEINT) * y0.r0 * 1000000) // y0.q0
        |        AS BIGINT) AS vol_eff_fixed,
        |    CAST((CAST(y1.r1 AS HUGEINT) - y0.r0) * 1000000 AS BIGINT) AS delta_fixed
        |  FROM (SELECT p_brand, qty AS q0, rev AS r0 FROM li WHERE yr = 1995) y0
        |  JOIN (SELECT p_brand, qty AS q1, rev AS r1 FROM li WHERE yr = 1996) y1
        |    USING (p_brand)
        |  WHERE y0.q0 > 0)
        |SELECT p_brand, r0, r1, vol_eff_fixed,
        |  delta_fixed - vol_eff_fixed AS price_eff_fixed
        |FROM j ORDER BY p_brand""".stripMargin,
    "q272_stream_dedup" ->
      """SELECT event_id, event_type FROM events ORDER BY event_id""",
    "q273_stream_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND p.ts BETWEEN v.ts AND v.ts + INTERVAL 30 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin,
    "q262_corpus_funnel" ->
      """WITH corpus AS (
        |  SELECT doc_id, source, text FROM documents WHERE doc_id % 50 <> 0),
        |tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
        |  FROM corpus WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |pc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY doc_id, tok),
        |st AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok, COUNT(*) AS n_distinct,
        |    MAX(c) AS top_cnt,
        |    CAST(SUM(CASE WHEN tok IN ('the','a','an','of','and','to','in','is','it','that','for')
        |      THEN c ELSE 0 END) AS BIGINT) AS n_stop
        |  FROM pc GROUP BY doc_id),
        |q AS (
        |  SELECT c.doc_id, c.source, c.text,
        |    (n_tok >= 30
        |      AND length(regexp_replace(text, '[ \t\n\r]+', '', 'g')) >= n_tok * 3
        |      AND length(regexp_replace(text, '[ \t\n\r]+', '', 'g')) <= n_tok * 10
        |      AND n_stop * 50 >= n_tok
        |      AND top_cnt * 5 <= n_tok
        |      AND n_distinct * 5 >= n_tok * 2) AS pass_quality
        |  FROM corpus c JOIN st ON c.doc_id = st.doc_id),
        |sv AS (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY md5(array_to_string(list_sort(list_distinct(
        |      list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))), ' '))
        |      ORDER BY doc_id) = 1 AS is_survivor
        |  FROM q WHERE pass_quality),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN []
        |    ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END)
        |    AS gram
        |  FROM (SELECT doc_id,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |    FROM documents)),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        |sh AS (
        |  SELECT doc_id, COUNT(DISTINCT gram) AS n_shared
        |  FROM g JOIN bench USING (gram) WHERE doc_id % 50 <> 0 GROUP BY doc_id),
        |flags AS (
        |  SELECT q.source, q.pass_quality AS s1,
        |    q.pass_quality AND COALESCE(sv.is_survivor, FALSE) AS s2,
        |    q.pass_quality AND COALESCE(sv.is_survivor, FALSE)
        |      AND COALESCE(sh.n_shared, 0) < 5 AS s3
        |  FROM q LEFT JOIN sv ON q.doc_id = sv.doc_id LEFT JOIN sh ON q.doc_id = sh.doc_id),
        |r AS (
        |  SELECT source, 0 AS stage_idx, 'ingested' AS stage, TRUE AS pass FROM flags
        |  UNION ALL SELECT source, 1, 'quality', s1 FROM flags
        |  UNION ALL SELECT source, 2, 'exact_dedup', s2 FROM flags
        |  UNION ALL SELECT source, 3, 'decontaminated', s3 FROM flags)
        |SELECT source, stage_idx, stage, COUNT(*) AS n_docs
        |FROM r WHERE pass GROUP BY source, stage_idx, stage
        |ORDER BY source, stage_idx""".stripMargin,
    "q263_sq8_audit" ->
      """WITH ex AS (
        |  SELECT vec_id, i - 1 AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)),
        |rng AS (SELECT dim, MIN(q) AS lo, MAX(q) AS hi FROM ex GROUP BY dim),
        |e AS (
        |  SELECT dim, q, lo, hi, hi - lo AS span,
        |    CASE WHEN hi - lo = 0 THEN 0
        |      ELSE (2 * 255 * (q - lo) + (hi - lo)) // (2 * (hi - lo)) END AS code
        |  FROM ex JOIN rng USING (dim)),
        |r AS (
        |  SELECT dim, lo, hi,
        |    abs(q - (CASE WHEN span = 0 THEN lo
        |      ELSE lo + (2 * code * span + 255) // (2 * 255) END)) AS err
        |  FROM e)
        |SELECT dim, MIN(lo) AS lo_fixed, MIN(hi) AS hi_fixed,
        |  CAST(MAX(err) AS BIGINT) AS max_abs_err,
        |  CAST(SUM(err) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE AS mean_abs_err
        |FROM r GROUP BY dim ORDER BY dim""".stripMargin,
    "q264_ivm_join" ->
      """WITH li AS (
        |  SELECT l_orderkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    l_orderkey % 97 = 0 AS d_a
        |  FROM lineitem),
        |o AS (
        |  SELECT o_orderkey, o_orderpriority, o_orderkey % 89 = 0 AS d_b FROM orders),
        |parts AS (
        |  SELECT o_orderpriority, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS cents
        |  FROM li JOIN o ON l_orderkey = o_orderkey WHERE NOT d_a AND NOT d_b GROUP BY 1
        |  UNION ALL
        |  SELECT o_orderpriority, COUNT(*), CAST(SUM(cents) AS BIGINT)
        |  FROM li JOIN o ON l_orderkey = o_orderkey WHERE d_a AND NOT d_b GROUP BY 1
        |  UNION ALL
        |  SELECT o_orderpriority, COUNT(*), CAST(SUM(cents) AS BIGINT)
        |  FROM li JOIN o ON l_orderkey = o_orderkey WHERE NOT d_a AND d_b GROUP BY 1
        |  UNION ALL
        |  SELECT o_orderpriority, COUNT(*), CAST(SUM(cents) AS BIGINT)
        |  FROM li JOIN o ON l_orderkey = o_orderkey WHERE d_a AND d_b GROUP BY 1),
        |merged AS (
        |  SELECT o_orderpriority, CAST(SUM(n) AS BIGINT) AS n_merged,
        |    CAST(SUM(cents) AS BIGINT) AS cents_merged
        |  FROM parts GROUP BY 1),
        |f AS (
        |  SELECT o_orderpriority, COUNT(*) AS n_full, CAST(SUM(cents) AS BIGINT) AS cents_full
        |  FROM li JOIN o ON l_orderkey = o_orderkey GROUP BY 1)
        |SELECT o_orderpriority, n_full, cents_full,
        |  n_merged = n_full AS n_matches,
        |  cents_merged = cents_full AS cents_match
        |FROM merged JOIN f USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,
    "q261_ahash_neardup" ->
      """WITH px AS (
        |  SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS r FROM documents),
        |v AS (
        |  SELECT doc_id, i,
        |    (g*37 + i*101 + i*i*13 + i*(g % 13)*29
        |      + CASE WHEN r > 0 AND i = 7*r + 3 THEN 128 ELSE 0 END) % 256 AS v
        |  FROM px, LATERAL (SELECT unnest(range(0, 64)) AS i)),
        |b AS (
        |  SELECT doc_id, i, v,
        |    SUM(v) OVER (PARTITION BY doc_id) AS s,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n
        |  FROM v),
        |hs AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN i < 32 AND n*v > s THEN (CAST(1 AS BIGINT) << i)
        |      ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(SUM(CASE WHEN i >= 32 AND n*v > s THEN (CAST(1 AS BIGINT) << (i - 32))
        |      ELSE 0 END) AS BIGINT) AS hi
        |  FROM b GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
        |FROM hs a JOIN hs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q257_merkle_manifest" ->
      """WITH leaves AS (
        |  SELECT source, doc_id % 64 AS bucket, COUNT(*) AS n_rows,
        |    md5(string_agg(md5(doc_id || '|' || text), '' ORDER BY md5(doc_id || '|' || text)))
        |      AS leaf_hash
        |  FROM documents GROUP BY source, doc_id % 64)
        |SELECT source, CAST(SUM(n_rows) AS BIGINT) AS n_rows,
        |  COUNT(*) AS n_leaves,
        |  md5(string_agg(leaf_hash, '' ORDER BY bucket)) AS merkle_root
        |FROM leaves GROUP BY source ORDER BY source""".stripMargin,
    "q252_fluency_score" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS s
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |pairs AS (
        |  SELECT doc_id, source, s[i] AS w1, s[i + 1] AS w2
        |  FROM (SELECT doc_id, source, s, unnest(generate_series(1, len(s) - 1)) AS i
        |        FROM toks WHERE len(s) >= 2)),
        |bi AS (
        |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS ctx_total FROM bi GROUP BY w1),
        |v AS (
        |  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsize
        |  FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t <> '')) AS tok
        |    FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)),
        |perdoc AS (
        |  SELECT doc_id, source,
        |    SUM(((c + 1) * 1000000) // (ctx_total + vsize)) // COUNT(*) AS doc_score
        |  FROM pairs JOIN bi USING (w1, w2) JOIN ctx USING (w1), v
        |  GROUP BY doc_id, source)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_score) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE AS mean_score,
        |  CAST(MIN(doc_score) AS BIGINT) AS min_score,
        |  CAST(MAX(doc_score) AS BIGINT) AS max_score
        |FROM perdoc GROUP BY source ORDER BY source""".stripMargin,
    "q253_eval_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 17, 16)
        |      AS UBIGINT) % 5 AS INT) AS fold,
        |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |      ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |eg AS (SELECT DISTINCT doc_id, gram FROM (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 8 THEN []
        |    ELSE list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' ')) END) AS gram
        |  FROM d WHERE fold = 0) x),
        |tg AS (SELECT DISTINCT gram FROM (
        |  SELECT unnest(CASE WHEN len(toks) < 8 THEN []
        |    ELSE list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' ')) END) AS gram
        |  FROM d WHERE fold <> 0) y),
        |cont AS (
        |  SELECT DISTINCT doc_id FROM eg WHERE gram IN (SELECT gram FROM tg))
        |SELECT source, COUNT(*) AS n_eval_docs,
        |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
        |    THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE
        |    AS contamination_rate
        |FROM d WHERE fold = 0 GROUP BY source ORDER BY source""".stripMargin,
    "q234_coverage_select" -> coverageOracleSql(5),
    "q248_freshness" ->
      """WITH per AS (
        |  SELECT event_type, COUNT(*) AS n_events, MAX(ts) AS max_ts
        |  FROM events GROUP BY event_type),
        |g AS (SELECT MAX(max_ts) AS global_max FROM per)
        |SELECT event_type, n_events, max_ts,
        |  CAST(epoch_us(global_max) - epoch_us(max_ts) AS BIGINT) AS lag_us,
        |  epoch_us(global_max) - epoch_us(max_ts) > 86400000000 AS stale_1d
        |FROM per, g ORDER BY event_type""".stripMargin,
    "q249_order_inversions" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    LAG(CAST(round(o_totalprice * 100) AS BIGINT), 1)
        |      OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |      AS prev
        |  FROM orders)
        |SELECT o_custkey, COUNT(*) AS n_steps,
        |  CAST(SUM(CASE WHEN cents < prev THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
        |  CAST(SUM(CASE WHEN cents < prev THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
        |    / COUNT(*)::DOUBLE AS down_share
        |FROM o WHERE prev IS NOT NULL
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q250_k_anonymity" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    (CAST(round(c_acctbal) AS BIGINT) + 10000) // 1000 AS bal_band,
        |    COUNT(*) AS cls_size
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT COUNT(*) AS n_classes,
        |  MIN(cls_size) AS min_class,
        |  CAST(SUM(CASE WHEN cls_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violating,
        |  CAST(SUM(CASE WHEN cls_size < 5 THEN cls_size ELSE 0 END) AS BIGINT)
        |    AS n_exposed,
        |  CAST(SUM(cls_size) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN cls_size < 5 THEN cls_size ELSE 0 END) AS BIGINT)::DOUBLE
        |    / CAST(SUM(cls_size) AS BIGINT)::DOUBLE AS exposed_share
        |FROM cls""".stripMargin,
    "q247_consistent_hash" ->
      """WITH vn AS (
        |  SELECT s AS shard,
        |    CAST(CAST('0x' || substring(md5('vnode:' || s || ':' || r), 17, 16)
        |      AS UBIGINT) AS HUGEINT) AS vpos
        |  FROM (SELECT unnest(generate_series(0, 9)) AS s),
        |       (SELECT unnest(generate_series(0, 7)) AS r)),
        |k AS (
        |  SELECT c_custkey AS key,
        |    CAST(CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 17, 16)
        |      AS UBIGINT) AS HUGEINT) AS kpos
        |  FROM customer),
        |a8 AS (
        |  SELECT key, COALESCE(
        |    arg_min(shard, vpos) FILTER (WHERE vpos >= kpos),
        |    arg_min(shard, vpos)) AS s8
        |  FROM k, vn WHERE shard < 8 GROUP BY key, kpos),
        |a10 AS (
        |  SELECT key, COALESCE(
        |    arg_min(shard, vpos) FILTER (WHERE vpos >= kpos),
        |    arg_min(shard, vpos)) AS s10
        |  FROM k, vn GROUP BY key, kpos)
        |SELECT COUNT(*) AS n_keys,
        |  CAST(SUM(CASE WHEN s8 <> s10 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
        |  CAST(SUM(CASE WHEN s8 <> s10 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
        |    / COUNT(*)::DOUBLE AS moved_share
        |FROM a8 JOIN a10 USING (key)""".stripMargin,
    "q246_cuped" ->
      """WITH per AS (
        |  SELECT user_id,
        |    COALESCE(SUM(CASE WHEN ts < TIMESTAMP '2024-04-01'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS x,
        |    COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-04-01'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS y,
        |    CAST(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS INT) AS cohort
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |pooled AS (
        |  SELECT
        |    (CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
        |      - SUM(CAST(x AS HUGEINT)) * SUM(CAST(y AS HUGEINT)))::DOUBLE
        |    / (CAST(COUNT(*) AS HUGEINT) * SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
        |      - SUM(CAST(x AS HUGEINT)) * SUM(CAST(x AS HUGEINT)))::DOUBLE AS theta,
        |    SUM(CAST(x AS HUGEINT))::DOUBLE / CAST(COUNT(*) AS HUGEINT)::DOUBLE
        |      AS xbar
        |  FROM per),
        |c AS (
        |  SELECT cohort, COUNT(*) AS n_users,
        |    CAST(SUM(x) AS BIGINT) AS sx_c, CAST(SUM(y) AS BIGINT) AS sy_c
        |  FROM per GROUP BY cohort)
        |SELECT cohort, n_users,
        |  sy_c::DOUBLE / n_users::DOUBLE AS mean_y_cents,
        |  (sy_c::DOUBLE - theta * (sx_c::DOUBLE - n_users::DOUBLE * xbar))
        |    / n_users::DOUBLE AS mean_y_cuped,
        |  theta
        |FROM c, pooled ORDER BY cohort""".stripMargin,
    "q245_theil_sen" ->
      """WITH monthly AS (
        |  SELECT l_suppkey,
        |    CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS INT) AS mo,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.l_suppkey, a.mo AS x1, b.mo AS x2,
        |    (b.cents - a.cents)::DOUBLE / (b.mo - a.mo)::DOUBLE AS slope
        |  FROM monthly a JOIN monthly b
        |    ON a.l_suppkey = b.l_suppkey AND a.mo < b.mo),
        |r AS (
        |  SELECT l_suppkey, slope,
        |    ROW_NUMBER() OVER (PARTITION BY l_suppkey
        |      ORDER BY slope, x1, x2) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_suppkey) AS cnt
        |  FROM slopes)
        |SELECT l_suppkey, cnt AS n_pairs, slope AS ts_slope_cents_per_month
        |FROM r WHERE rn = (cnt + 1) // 2
        |ORDER BY l_suppkey""".stripMargin,
    "q244_return_pchart" ->
      """WITH wk AS (
        |  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
        |    COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS returns
        |  FROM lineitem GROUP BY 1),
        |o AS (SELECT CAST(SUM(n) AS BIGINT) AS tn,
        |  CAST(SUM(returns) AS BIGINT) AS tr FROM wk),
        |c AS (
        |  SELECT week, n, returns,
        |    tr::DOUBLE / tn::DOUBLE AS pbar,
        |    returns::DOUBLE / n::DOUBLE AS p_week,
        |    sqrt((tr::DOUBLE / tn::DOUBLE) * (1.0 - tr::DOUBLE / tn::DOUBLE)
        |      / n::DOUBLE) AS sigma
        |  FROM wk, o)
        |SELECT week, n, returns, p_week,
        |  pbar + 3.0 * sigma AS ucl,
        |  greatest(pbar - 3.0 * sigma, 0.0) AS lcl,
        |  p_week > pbar + 3.0 * sigma OR p_week < greatest(pbar - 3.0 * sigma, 0.0)
        |    AS out_of_control
        |FROM c ORDER BY week""".stripMargin,
    "q242_bigram_lm" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS s
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |bi AS (
        |  SELECT s[i] AS w1, s[i + 1] AS w2, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT s, unnest(generate_series(1, len(s) - 1)) AS i
        |        FROM toks WHERE len(s) >= 2)
        |  GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS ctx_total FROM bi GROUP BY w1),
        |v AS (
        |  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsize
        |  FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t <> '')) AS tok
        |    FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)),
        |r AS (
        |  SELECT w1, w2, c,
        |    ((c + 1) * 1000000) // (ctx_total + vsize) AS prob_fixed,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS INT)
        |      AS rk
        |  FROM bi JOIN ctx USING (w1), v)
        |SELECT w1, w2, c, prob_fixed, rk FROM r
        |WHERE rk <= 3 ORDER BY w1, rk""".stripMargin,
    "q243_pii_hit_rate" ->
      """WITH h AS (
        |  SELECT source,
        |    CASE WHEN regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        'https?://[^ \t\n\r]+', '<URL>', 'g'),
        |      '[0-9][0-9 ()+.-]{6,}[0-9]', '<NUMBER>', 'g') <> text
        |      THEN 1 ELSE 0 END AS hit
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(hit) AS BIGINT) AS n_redacted,
        |  CAST(SUM(hit) AS BIGINT)::DOUBLE / COUNT(*)::DOUBLE AS hit_share
        |FROM h GROUP BY source ORDER BY source""".stripMargin,
    "q239_label_model_diag" ->
      """WITH lab AS (
        |  SELECT
        |    CASE WHEN text LIKE '%slow%' THEN 0 WHEN text LIKE '%fast%' THEN 1 END AS lf1,
        |    CASE WHEN n_chars >= 200 THEN 1 WHEN n_chars < 50 THEN 0 END AS lf2,
        |    CASE WHEN lang = 'en' THEN 1 WHEN lang IS NOT NULL THEN 0 END AS lf3
        |  FROM documents),
        |m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN lf1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN lf2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(SUM(CASE WHEN lf3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(SUM(CASE WHEN lf1 IS NOT NULL AND lf2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS b12,
        |    CAST(SUM(CASE WHEN lf1 IS NOT NULL AND lf2 IS NOT NULL AND lf1 = lf2 THEN 1 ELSE 0 END) AS BIGINT) AS a12,
        |    CAST(SUM(CASE WHEN lf1 IS NOT NULL AND lf3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS b13,
        |    CAST(SUM(CASE WHEN lf1 IS NOT NULL AND lf3 IS NOT NULL AND lf1 = lf3 THEN 1 ELSE 0 END) AS BIGINT) AS a13,
        |    CAST(SUM(CASE WHEN lf2 IS NOT NULL AND lf3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS b23,
        |    CAST(SUM(CASE WHEN lf2 IS NOT NULL AND lf3 IS NOT NULL AND lf2 = lf3 THEN 1 ELSE 0 END) AS BIGINT) AS a23
        |  FROM lab)
        |SELECT 'lf1' AS lf_a, 'lf1' AS lf_b, n1 AS n_both, n1 AS n_agree, 0::BIGINT AS n_conflict FROM m
        |UNION ALL SELECT 'lf2', 'lf2', n2, n2, 0 FROM m
        |UNION ALL SELECT 'lf3', 'lf3', n3, n3, 0 FROM m
        |UNION ALL SELECT 'lf1', 'lf2', b12, a12, b12 - a12 FROM m
        |UNION ALL SELECT 'lf1', 'lf3', b13, a13, b13 - a13 FROM m
        |UNION ALL SELECT 'lf2', 'lf3', b23, a23, b23 - a23 FROM m
        |ORDER BY lf_a, lf_b""".stripMargin,
    "q240_time_weighted_balance" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS bal,
        |    LEAD(ts, 1) OVER w AS next_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (
        |  SELECT user_id, bal, epoch_us(next_ts) - epoch_us(ts) AS dur_us
        |  FROM ev WHERE next_ts IS NOT NULL)
        |SELECT user_id, CAST(SUM(dur_us) AS BIGINT) AS total_us,
        |  SUM(CAST(bal AS HUGEINT) * CAST(dur_us AS HUGEINT))::DOUBLE
        |    / CAST(SUM(dur_us) AS BIGINT)::DOUBLE AS twa_cents
        |FROM d GROUP BY user_id HAVING SUM(dur_us) > 0
        |ORDER BY user_id""".stripMargin,
    "q241_order_backlog" ->
      """WITH spans AS (
        |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS open_day,
        |    CAST(MAX(l_shipdate) AS DATE) AS close_day
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY o_orderkey, CAST(o_orderdate AS DATE)),
        |deltas AS (
        |  SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM (
        |    SELECT open_day AS day, 1 AS d FROM spans
        |    UNION ALL
        |    SELECT close_day + INTERVAL 1 DAY, -1 FROM spans)
        |  GROUP BY day)
        |SELECT CAST(day AS DATE) AS day, delta,
        |  CAST(SUM(delta) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS open_orders
        |FROM deltas ORDER BY day""".stripMargin,
    "q238_market_share" ->
      """WITH base AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol,
        |    n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')
        |SELECT o_year, COUNT(*) AS n_lines,
        |  SUM(CASE WHEN supp_nation = 'NATION_3' THEN CAST(vol AS HUGEINT)
        |    ELSE 0 END)::DOUBLE / SUM(CAST(vol AS HUGEINT))::DOUBLE AS mkt_share
        |FROM base GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q235_hazard_table" ->
      """WITH life AS (
        |  SELECT user_id,
        |    datediff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) // 7
        |      AS life_w
        |  FROM events GROUP BY user_id),
        |pw AS (SELECT life_w, COUNT(*) AS n_churned FROM life GROUP BY life_w),
        |r AS (
        |  SELECT life_w, n_churned,
        |    CAST(SUM(n_churned) OVER () -
        |      COALESCE(SUM(n_churned) OVER (ORDER BY life_w
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS n_at_risk
        |  FROM pw)
        |SELECT life_w, n_at_risk, n_churned,
        |  n_churned::DOUBLE / n_at_risk::DOUBLE AS hazard
        |FROM r ORDER BY life_w""".stripMargin,
    "q236_rare_token_pairs" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> t <> '')) AS token
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |rare AS (
        |  SELECT token, CAST((n_docs * 1000000) // df AS BIGINT) AS idf_fixed
        |  FROM (SELECT token, COUNT(*) AS df FROM tok GROUP BY token), nd
        |  WHERE df * 10 <= n_docs),
        |inv AS (SELECT doc_id, tok.token, idf_fixed FROM tok JOIN rare USING (token))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  COUNT(*) AS n_shared_rare,
        |  CAST(SUM(a.idf_fixed) AS BIGINT) AS score_fixed
        |FROM inv a JOIN inv b ON a.token = b.token AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |ORDER BY score_fixed DESC, id_a, id_b LIMIT 50""".stripMargin,
    "q237_blocklist_tags" ->
      """WITH nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |m AS (
        |  SELECT 'perf_terms' AS category, COUNT(*) AS n_matched
        |  FROM documents WHERE regexp_matches(text, '\b(slow|fast)\b')
        |  UNION ALL
        |  SELECT 'exec_terms', COUNT(*) FROM documents
        |  WHERE regexp_matches(text, '\b(hash|merge|sort)\b')
        |  UNION ALL
        |  SELECT 'stream_terms', COUNT(*) FROM documents
        |  WHERE regexp_matches(text, '\b(stream|window|batch)\b'))
        |SELECT category, n_matched,
        |  n_matched::DOUBLE / n_docs::DOUBLE AS share
        |FROM m, nd ORDER BY category""".stripMargin,
    "q233_simhash_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |    ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS t FROM toks),
        |h AS (SELECT doc_id,
        |    ('0x' || substr(md5(t), 17, 8))::BIGINT AS hi,
        |    ('0x' || substr(md5(t), 25, 8))::BIGINT AS lo
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, bits.b AS b,
        |    SUM(CASE WHEN bits.b < 32
        |          THEN CASE WHEN (lo >> bits.b) & 1 = 1 THEN 1 ELSE -1 END
        |          ELSE CASE WHEN (hi >> (bits.b - 32)) & 1 = 1 THEN 1 ELSE -1 END END) AS v
        |  FROM h, (SELECT unnest(range(64)) AS b) bits
        |  GROUP BY doc_id, bits.b),
        |sim AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v > 0 AND b >= 32 THEN (1::BIGINT << (b - 32)) ELSE 0 END) AS BIGINT) AS hibits,
        |    CAST(SUM(CASE WHEN v > 0 AND b < 32 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS lobits
        |  FROM votes GROUP BY doc_id),
        |simall AS (
        |  SELECT d.doc_id, COALESCE(s.hibits, 0) AS hi, COALESCE(s.lobits, 0) AS lo
        |  FROM documents d LEFT JOIN sim s ON d.doc_id = s.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT)
        |    AS hamming
        |FROM simall a JOIN simall b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q232_matryoshka_audit" ->
      """WITH n AS (
        |  SELECT vec_id, iv, iv[1:16] AS ivp,
        |    CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm,
        |    CAST(list_sum(list_transform(iv[1:16], x -> x * x)) AS BIGINT) AS nrmp
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) AS cos_full,
        |    CAST(list_sum(list_transform(range(1, 17), i -> q.ivp[i] * c.ivp[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrmp::DOUBLE) * sqrt(c.nrmp::DOUBLE)) AS cos_pre
        |  FROM n q JOIN n c ON q.vec_id < 50 AND c.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos_full DESC, id ASC) AS rk_full,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos_pre DESC, id ASC) AS rk_pre
        |  FROM s)
        |SELECT query_id,
        |  CAST(SUM(CASE WHEN rk_full <= 10 AND rk_pre <= 10 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS overlap_at_k
        |FROM r GROUP BY query_id ORDER BY query_id""".stripMargin,
    "q231_filtered_topk" ->
      """WITH n AS (
        |  SELECT vec_id, label, iv,
        |    CAST(list_sum(list_transform(iv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM (SELECT vec_id, label,
        |          list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS iv
        |        FROM embeddings) v),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.label AS tag, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT) AS dot,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.iv[i] * c.iv[i])) AS BIGINT)::DOUBLE
        |      / (sqrt(q.nrm::DOUBLE) * sqrt(c.nrm::DOUBLE)) AS cosine
        |  FROM n q JOIN n c ON q.vec_id < 50 AND c.vec_id <> q.vec_id
        |    AND q.label IS NOT DISTINCT FROM c.label)
        |SELECT query_id, tag, neighbor_id, dot, cosine, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM s) r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q230_edit2_neighbors" ->
      """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
        |  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS edit_dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    "q228_split_leakage" ->
      """WITH d AS (
        |  SELECT md5(array_to_string(list_sort(list_distinct(
        |      CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |        ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END)), ' '))
        |      AS sig,
        |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 17, 16) AS UBIGINT)
        |      % 5 AS INT) AS fold
        |  FROM documents),
        |c AS (
        |  SELECT sig, COUNT(*) AS n_docs, COUNT(DISTINCT fold) AS n_folds
        |  FROM d GROUP BY sig)
        |SELECT COUNT(*) AS n_clusters,
        |  CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_doc,
        |  CAST(SUM(CASE WHEN n_folds > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaking,
        |  CAST(SUM(CASE WHEN n_folds > 1 THEN n_docs ELSE 0 END) AS BIGINT)
        |    AS docs_in_leaking
        |FROM c""".stripMargin,
    "q229_embedding_audit" ->
      """WITH e AS (
        |  SELECT label, embedding,
        |    CAST(len(embedding) AS INT) AS dim,
        |    list_reduce(list_prepend(0.0::DOUBLE, CAST(embedding AS DOUBLE[])),
        |      (a, x) -> a + x * x) AS nsq
        |  FROM embeddings)
        |SELECT label, COUNT(*) AS n_vecs,
        |  CAST(SUM(CASE WHEN embedding IS NULL OR len(embedding) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_null_or_empty,
        |  CAST(SUM(CASE WHEN isnan(nsq) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        |  CAST(SUM(CASE WHEN nsq = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(SUM(CASE WHEN nsq > 0.0 AND nsq < 1e-6 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_tiny,
        |  CAST(SUM(CASE WHEN nsq > 1e6 THEN 1 ELSE 0 END) AS BIGINT) AS n_huge,
        |  MIN(dim) AS dim_min, MAX(dim) AS dim_max
        |FROM e GROUP BY label ORDER BY label""".stripMargin,
    "q227_record_linkage" ->
      """WITH p AS (
        |  SELECT p_partkey, p_brand, p_type,
        |    string_split(p_type, ' ')[1] AS type_head,
        |    string_split(p_name, ' ')[1] AS name_head,
        |    p_size,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
        |  FROM part)
        |SELECT score, COUNT(*) AS n_pairs FROM (
        |  SELECT CAST(
        |    CASE WHEN a.p_brand = b.p_brand THEN 40 ELSE 0 END +
        |    CASE WHEN a.p_type = b.p_type THEN 30 ELSE 0 END +
        |    CASE WHEN a.name_head = b.name_head THEN 20 ELSE 0 END +
        |    CASE WHEN abs(a.price_c - b.price_c) <= 1000 THEN 10 ELSE 0 END
        |    AS INT) AS score
        |  FROM p a JOIN p b ON a.p_size = b.p_size
        |    AND a.type_head = b.type_head AND a.p_partkey < b.p_partkey)
        |WHERE score >= 50 GROUP BY score ORDER BY score""".stripMargin,
    "q225_rolling_median" ->
      """WITH daily AS (
        |  SELECT l_shipdate AS day,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS day_cents
        |  FROM lineitem GROUP BY 1),
        |win AS (
        |  SELECT day, day_cents,
        |    list_sort(list(day_cents) OVER (ORDER BY day
        |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
        |  FROM daily)
        |SELECT day, day_cents, arr[(len(arr) + 1) // 2] AS med7_cents
        |FROM win ORDER BY day""".stripMargin,
    "q54_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
        |         g_status, g_prio""".stripMargin,
    "q47_bigram_repetition" ->
      """SELECT doc_id,
        |  CASE WHEN len(grams) > 0
        |    THEN 1.0 - len(list_distinct(grams))::DOUBLE / len(grams)::DOUBLE
        |    ELSE 0.0 END AS bigram_rep
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN toks IS NULL OR len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) END AS grams
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []
        |        ELSE list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') END AS toks
        |    FROM documents) y) x
        |ORDER BY doc_id""".stripMargin
  )
}
