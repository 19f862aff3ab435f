package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution

/** Plan-shape regression guard: the 100-TB posture claims (pushdown reaches
  * the scan, dims broadcast, top-k avoids the global sort, kernels stay in
  * whole-stage codegen) are asserted against the ACTUAL physical plans of
  * the driver queries — a refactor that silently loses a pushed filter or
  * de-broadcasts a dim fails here, not at the next scale-up.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    val qe: QueryExecution = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("q_scan_pushdown: date predicate and projection reach the parquet scan") {
    val p = plan("q_scan_pushdown")
    assert(p.contains("PushedFilters:") &&
      (p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("LessThan(l_shipdate")),
      s"expected l_shipdate pushed to the scan:\n$p")
    // projection pruned: unselected columns must not appear in the scan
    assert(!p.contains("l_returnflag"), "ReadSchema not pruned — scan reads unused columns")
  }

  test("q_star_revenue: both dims broadcast; no distinct Expand") {
    val p = plan("q_star_revenue")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("Expand"),
      "distinct-aggregate Expand present — order-grain pre-agg lost")
  }

  test("q_topk_orders: plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a global sort:\n$p")
  }

  test("q_ann_bruteforce: cosine kernel runs inside whole-stage codegen") {
    val p = plan("q_ann_bruteforce")
    // formatted mode marks codegen'd operators with `[codegen id : N]`
    assert(p.contains("codegen id"), s"no codegen span:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a global sort:\n$p")
  }

  test("q_asof_bars: exactly one window pass over the union (struct carry)") {
    val p = plan("q_asof_bars")
    val windows = "(?m)^.*\\bWindow\\b".r.findAllIn(p).size
    assert(p.contains("Window"), s"no window in as-of plan:\n$p")
    assert(windows <= 2, // one Window node (may appear in both tree + detail sections)
      s"as-of join runs more than one window pass ($windows Window nodes):\n$p")
  }

  test("q_lag_change / q_moving_avg: single shuffle before the window") {
    // q_sentence_chunks rides the same contract: one doc_id exchange
    // feeds its window AND the (doc_id, chunk_idx) regroup
    Seq("q_lag_change", "q_moving_avg", "q_sentence_chunks").foreach { n =>
      val p = plan(n)
      // count Exchange operators in the formatted detail section
      val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
      assert(exchanges == 1,
        s"$n: expected exactly one hash exchange feeding the window, got $exchanges:\n$p")
    }
  }

  test("q_doc_chunks / q_text_repetition / q_pii_redact / q_zorder_key / q_line_dedup: shuffle-free narrow plans") {
    Seq("q_doc_chunks", "q_text_repetition", "q_pii_redact", "q_zorder_key",
      "q_line_dedup", "q_pii_planted", "q_license_detect", "q_gopher_rules",
      "q_c4_line_filter")
      .foreach { n =>
        val p = plan(n)
        assert(!p.contains("Exchange"),
          s"$n must be a narrow projection (no shuffle):\n$p")
      }
  }

  test("q_robots_filter: the corpus never shuffles — rule table broadcasts") {
    val p = plan("q_robots_filter")
    assert(p.contains("BroadcastHashJoin"),
      s"per-host rule table not broadcast onto the page scan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"robots apply sort-merge-joined the corpus:\n$p")
  }

  test("q_pii_scan: one map-side-combined aggregation exchange") {
    val p = plan("q_pii_scan")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"q_pii_scan: expected exactly one hash exchange (partial agg " +
        s"map-side), got $exchanges:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
  }

  test("TPC-H 22: every correlated subquery decorrelates — no nested-loop blowups") {
    // The point of shipping all 22 shapes is that Catalyst turns each
    // correlated MIN/EXISTS/NOT-IN/scalar-threshold subquery into joins.
    // A BroadcastNestedLoopJoin with a non-trivial condition or a
    // CartesianProduct here means a subquery survived to execution as a
    // per-row loop — O(n*m) at 100 TB. (Scalar-subquery results legally
    // enter as literals/one-row broadcasts; those don't print as NLJ.)
    val tpch = Seq("q1_pricing_summary", "q_sql_tpch_q1", "q_sql_tpch_q2",
      "q_sql_tpch_q3", "q_sql_tpch_q4", "q_sql_tpch_q5", "q_sql_tpch_q6",
      "q_sql_tpch_q7", "q_sql_tpch_q8", "q_sql_tpch_q9", "q_sql_tpch_q10",
      "q_sql_tpch_q11", "q_sql_tpch_q12", "q_sql_custdist", "q_sql_tpch_q14",
      "q_sql_tpch_q15", "q_sql_tpch_q16", "q_sql_tpch_q17", "q_sql_tpch_q18",
      "q_sql_tpch_q19", "q_sql_tpch_q20", "q_sql_tpch_q21", "q_sql_tpch_q22")
    tpch.foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct"),
        s"$n: a correlated subquery failed to decorrelate (cartesian):\n$p")
      // The OTHER shape a surviving correlated non-equi predicate takes:
      // BroadcastNestedLoopJoin carrying a real join condition. Inspect
      // each BNLJ's formatted-detail block — a condition-free BNLJ is a
      // legal one-row scalar broadcast; a conditioned one is the per-row
      // loop this test exists to forbid.
      val conditioned = p.split("\n\n").iterator
        .filter(_.contains("BroadcastNestedLoopJoin"))
        .flatMap(b => "Join condition: (.+)".r.findFirstMatchIn(b)
          .map(_.group(1).trim))
        .filterNot(_ == "None").toList
      assert(conditioned.isEmpty,
        s"$n: conditioned BroadcastNestedLoopJoin (surviving correlated " +
          s"predicate): ${conditioned.mkString("; ")}\n$p")
    }
  }

  test("q_blocklist_filter: the C4 gate is a zero-exchange narrow projection") {
    val p = plan("q_blocklist_filter")
    assert(!p.contains("Exchange"),
      s"blocklist gate must not shuffle (plan-literal list, in-row count):\n$p")
  }

  test("q_feature_hash: exactly one corpus shuffle") {
    val p = plan("q_feature_hash")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"q_feature_hash: expected exactly one hash exchange, got $exchanges:\n$p")
  }

  test("q_epoch_shuffle: one corpus shuffle + two statistics-frame exchanges, offsets broadcast") {
    // The hierarchical rank keeps the CORPUS at one hash exchange (the
    // (shard, subshard) window); the ≤ shards·256-row offsets frame adds
    // its map-side-combined count exchange and its tiny window exchange,
    // and joins back via broadcast — never a corpus-side shuffle join.
    val p = plan("q_epoch_shuffle")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 3,
      s"q_epoch_shuffle: expected 3 hash exchanges (1 corpus + 2 tiny), got $exchanges:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"q_epoch_shuffle: offsets frame must join back via broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q_epoch_shuffle: corpus must not shuffle for the offsets join:\n$p")
  }

  test("q_video_frames: container walk + frame decode is a narrow shuffle-free plan") {
    val p = plan("q_video_frames")
    assert(!p.contains("Exchange"),
      s"video decode must stay a per-partition pipeline (no shuffle):\n$p")
  }

  test("q_snapshot_table_diff: the CDC read scans only added dirs — no join, no shuffle") {
    val p = plan("q_snapshot_table_diff")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"manifest-level diff must be a plain scan of the added dirs:\n$p")
  }

  test("q_hll_merge: segment registers partial-aggregate; merge adds no extra corpus shuffle") {
    // two segment register builds (one hash exchange each, map-side
    // combined) + the register-wise max re-merge + the per-group estimate
    // — all over register-sized frames after the first exchange pair
    val p = plan("q_hll_merge")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 4,
      s"q_hll_merge: merge path grew beyond the expected exchanges ($exchanges):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"q_hll_merge must not join:\n$p")
  }

  test("q_pack_audit: both aggregations served by the ONE packing shuffle") {
    // (bucket, bin) → bucket are prefix-compatible groupings over the
    // window's pack_bucket partitioning — extra exchanges mean the
    // one-shuffle audit contract regressed
    val p = plan("q_pack_audit")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges == 1,
      s"q_pack_audit: expected one exchange (the packing window), got $exchanges:\n$p")
  }

  test("q_decontaminate: pruned eval index broadcast — corpus side never shuffles for the join") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"eval index not broadcast:\n$p")
  }

  test("q_text_ngram_repetition: one corpus shuffle feeds all three aggregations") {
    // counts → per-n → per-doc each key on a superset/prefix of the
    // doc-id partitioning, so Catalyst must satisfy all of them with the
    // original repartition; the only other exchange is the final id-join
    // side. More exchanges = the single-shuffle signal matrix regressed.
    val p = plan("q_text_ngram_repetition")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"expected ≤2 exchanges (corpus repartition + join side), got $exchanges:\n$p")
  }

  test("keepCanonical: corpus joins are broadcast on both legs — corpus never shuffles") {
    // the final kept-documents plan (label attach + loser anti-join) must
    // read the docs scan through broadcast joins only; a hash exchange of
    // the corpus here is the full-corpus window shape this operator was
    // rewritten to avoid
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val pairs = graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text",
      n = 3, minJaccard = 0.5, maxDocFreq = 20L)
    val kept = graft.ops.Dedup.keepCanonical(docs, "doc_id", pairs,
      "id_a", "id_b", Seq(col("n_chars").desc, col("doc_id")))
    val p = kept.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin"), s"label/loser sides not broadcast:\n$p")
    // the anti-join leg over the corpus must be broadcast, not shuffled
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus shuffled for a keepCanonical join:\n$p")
  }

  test("q_term_weights / q_domain_quota: rank pushed below the exchange (WindowGroupLimit)") {
    Seq("q_term_weights", "q_domain_quota").foreach { n =>
      val p = plan(n)
      assert(p.contains("WindowGroupLimit"),
        s"$n: rank-cap not pushed below the exchange:\n$p")
    }
  }

  test("q_events_enriched: dim broadcast — fact side never shuffles for the join") {
    val p = plan("q_events_enriched")
    assert(p.contains("BroadcastHashJoin"), s"dim not broadcast:\n$p")
  }

  test("q_funnel: stepwise windows + per-user dedup share ONE event-log shuffle") {
    val p = plan("q_funnel")
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    // one hash exchange on user_id (windows + groupBy reuse it) + the
    // single-partition exchange of the final 1-row rollup
    assert(exchanges <= 2,
      s"funnel shuffles the event log more than once ($exchanges exchanges):\n$p")
  }

  test("q_embed_quantize / q_text_canonical: shuffle-free narrow plans inside codegen") {
    Seq("q_embed_quantize", "q_text_canonical").foreach { n =>
      val p = plan(n)
      assert(!p.contains("Exchange"),
        s"$n must be a narrow projection (no shuffle):\n$p")
      assert(p.contains("codegen id"), s"$n: no codegen span:\n$p")
    }
  }

  test("q_sql_tpch_q3: SQL frontend broadcasts the filtered customer dim") {
    val p = plan("q_sql_tpch_q3")
    assert(p.contains("BroadcastHashJoin"),
      s"customer dim not broadcast in the SQL-frontend plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"ORDER BY+LIMIT fell back to a global sort:\n$p")
  }

  test("q_sql_tpch_q6: all three predicates and a 4-column read reach the scan") {
    val p = plan("q_sql_tpch_q6")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("GreaterThanOrEqual(l_discount") &&
      p.contains("LessThan(l_quantity"),
      s"Q6 predicates not pushed to the parquet scan:\n$p")
    // ReadSchema must be exactly the consumed columns, not the full table
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(Seq("l_quantity", "l_extendedprice", "l_discount", "l_shipdate")
      .forall(read.contains) && !read.contains("l_orderkey"),
      s"Q6 scan reads more than the 4 consumed columns: $read")
  }

  test("q_sql_tpch_q19: OR-of-ANDs still joins on the single equi-key") {
    val p = plan("q_sql_tpch_q19")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      s"Q19 disjunction fell out of the equi-join:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"Q19 has no hash/merge equi-join:\n$p")
    // the brand disjunction must reach the part scan as a pushed Or filter
    assert(p.contains("Or(") && p.contains("EqualTo(p_brand,Brand#1)"),
      s"part-side disjuncts not pushed into the part scan:\n$p")
  }

  test("q_sql_tpch_q15: the revenue CTE max is a reused subquery, not a rescan per row") {
    val p = plan("q_sql_tpch_q15")
    assert(!p.contains("NestedLoop"),
      s"Q15 scalar max fell back to a nested loop:\n$p")
  }

  test("q_sql_exists / q_sql_not_exists: subqueries decorrelate to semi/anti joins") {
    val pe = plan("q_sql_exists")
    assert(pe.contains("LeftSemi"), s"EXISTS did not rewrite to a semi join:\n$pe")
    val pn = plan("q_sql_not_exists")
    assert(pn.contains("LeftAnti"), s"NOT EXISTS did not rewrite to an anti join:\n$pn")
    // neither may fall back to a per-row subquery or nested loop
    assert(!pe.contains("NestedLoop") && !pn.contains("NestedLoop"),
      "subquery fell back to a nested-loop join")
  }

  test("q_sql_corr_scalar: scalar subqueries decorrelate to aggregate+hash joins") {
    val p = plan("q_sql_corr_scalar")
    // each correlated scalar must become a customer-grain aggregate hash-
    // joined back (Catalyst keeps the count/sum subplans separate — the
    // count leg is LeftOuter, the sum leg Inner — but both must be
    // broadcast/shuffle HASH joins over grouped aggregates, never a
    // per-outer-row re-execution or nested loop)
    assert(!p.contains("NestedLoop"), s"correlated scalar fell back to a nested loop:\n$p")
    val hashJoins = "(?m)HashJoin".r.findAllIn(p).size
    assert(hashJoins >= 2, s"expected 2 decorrelated hash joins:\n$p")
    // one scan per consumer (main + 2 subquery legs); `Location:` appears
    // once per scan node in the details section
    val scans = "(?m)Location: InMemoryFileIndex".r.findAllIn(p).size
    assert(scans <= 3, s"orders scanned more than once per consumer:\n$p")
  }

  test("q_keyword_search: postings scan filtered before aggregation (no full-corpus join)") {
    val p = plan("q_keyword_search")
    // the isin predicate must sit below the aggregation: the only rows that
    // reach the shuffle are postings of the query terms
    assert(p.contains("token") && p.contains("IN ("),
      s"term predicate missing from the postings scan:\n$p")
  }

  test("q_paragraph_dedup: boiler set broadcasts; bodies shuffle once") {
    val p = plan("q_paragraph_dedup")
    // the viral-digest probe must be a broadcast join, never a sort-merge
    // that re-shuffles every paragraph body by digest
    assert(p.contains("BroadcastHashJoin"),
      s"boilerplate digest set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"paragraph bodies re-shuffled for the digest probe:\n$p")
    // exchanges: two digest-only legs (partial-distinct expand) + ONE
    // carrying the paragraph bodies to reassembly — 3 total
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"expected <=3 hash exchanges (2 digest-only + 1 reassembly), got $exchanges:\n$p")
  }
}

/** AQE must split a skewed shuffle partition at runtime (OptimizeSkewedJoin)
  * — the complement of ops.Skew's compile-time salting: salting handles the
  * aggregations AQE can't touch, AQE handles the joins nobody predicted.
  * Thresholds are lowered to make the testdata's hot key register as skew.
  */
class SkewJoinAqeSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("AQE splits the hot key's partition in a sort-merge join") {
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10KB")
      c.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
      c.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      c.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key carrying 50k rows vs 1k uniform keys
      val left = spark.range(0, 51000)
        .select(when($"id" < 50000, 0L).otherwise($"id" % 1000).as("k"),
          $"id".as("payload"))
      val right = spark.range(0, 1000).select($"id".as("k"), ($"id" * 2).as("v"))
      val j = left.join(right, Seq("k"))
      assert(j.collect().length == 51000) // run THIS plan → final AQE plan
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }
}

/** Whole-surface plan hygiene: every driver query's physical plan is
  * checked for the silent 100-TB killer individual specs can miss — an
  * accidental cartesian / nested-loop join (a dropped join condition
  * still plans, and "works" at test scale). Codegen-span presence is
  * asserted per-query in PlanAuditSpec where AQE exposes it; across
  * arbitrary multi-stage AQE plans the explain output does not annotate
  * codegen ids, so a global codegen sweep would be vacuous.
  */
class PlanSweepSpec extends SparkSpec {

  // deliberate exceptions:
  //  - q_ann_recall cross-joins a BROADCAST handful of probe vectors (the
  //    standard batch-ANN scoring shape)
  //  - q_ann_quantized cross-joins the 1-ROW broadcast query-codes vector
  //  - q_triangle_count cross-joins three 1-ROW broadcast aggregates
  //    (n_nodes, n_edges, n_triangles) into the single stats row
  //  - q_unigram_logprob cross-joins the 1-ROW broadcast corpus token
  //    total onto the (doc, token) frame
  //  - q_bigram_logprob likewise cross-joins the 1-ROW broadcast bigram
  //    total (the rare-context smoothing floor) onto the (doc, a, b) frame
  //  - q_pagerank cross-joins the 1-ROW broadcast dangling-mass carrier
  //    into each round's rank projection (the fusion that removed the
  //    per-iteration driver scalar job — r4 verdict item 4)
  //  - q_mixture_temperature cross-joins the 1-ROW broadcast Σ-weight
  //    total onto the per-domain counts frame (rows = #domains, tiny)
  //    before the map-side ring filter
  //  - q_length_gate cross-joins two 1-ROW broadcasts (the corpus count
  //    onto the domain-bounded frequency table; the thresholds row onto
  //    the length projection)
  private val cartesianOk =
    Set("q_ann_recall", "q_ann_quantized", "q_triangle_count",
      "q_unigram_logprob", "q_bigram_logprob", "q_pagerank",
      "q_mixture_temperature", "q_length_gate")

  test("no accidental cartesian or nested-loop joins in any driver query") {
    val problems = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_ == "q_pipeline_verify") // runs a full pipeline with sinks
      .filterNot(cartesianOk)
      .foreach { name =>
        val p = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
          problems += s"$name: cartesian/nested-loop join"
      }
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}

/** A self-join over one aggregation must scan and shuffle the input ONCE:
  * Spark's ReuseExchange rule deduplicates identical exchange subtrees, so
  * the second consumer reads the first's shuffle files. Losing this (e.g.
  * by making the two subplans drift apart) doubles the dominant cost of
  * every self-comparison query at 100 TB.
  */
class ExchangeReuseSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("aggregation self-join reuses one exchange") {
    val c = spark.conf
    val saved = c.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast would make the two sides' exchanges differ (hash vs
      // broadcast); reuse needs identical subtrees — force the shuffle join
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val spend = spark.read.parquet(s"$sf/orders.parquet")
        .groupBy(col("o_custkey")).agg(sum(col("o_totalprice")).as("spent"))
      val j = spend.as("a").join(spend.withColumnRenamed("spent", "spent2"),
        Seq("o_custkey"))
      j.collect() // run THIS plan so the AQE final plan is inspectable
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        s"self-join did not reuse the aggregation exchange:\n$p")
    } finally saved match {
      case Some(v) => c.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => c.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}

/** At 100 TB, a selective dim filter should prune the FACT scan too:
  * Spark's InjectRuntimeFilter builds a bloom filter from the filtered
  * build side and pushes a `might_contain` probe into the big side's scan.
  * This guards the capability stays on (it is size-gated; a conf change
  * or plan-shape regression silently loses it).
  */
class RuntimeFilterSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    val c = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // testdata is far below the 10 GB production gate
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .where(col("o_totalprice") > 300000)
        .select("o_orderkey")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter injected:\n$p")
      // and the filter must not change the result
      val expected = li.join(ord.hint("broadcast"),
        li("l_orderkey") === ord("o_orderkey")).count()
      assert(j.count() == expected)
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None) => c.unset(k)
    }
  }
}

/** Plan traversal that descends into AQE query stages. */
private object AqePlan
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The corpus-derived vocabulary tables in TextAnalysis (oovRate's vocab,
  * unigramLogProb's lm) must be AQE-GATED, never hint-forced: a
  * minCount-floored vocabulary still grows with corpus size, and a forced
  * broadcast() hint would turn the documented shuffle fallback into a
  * driver OOM (r8 advice; the bigram model tables were fixed in r8 — this
  * guards the whole family). Both directions are asserted: AQE broadcasts
  * while the table fits, and the SAME code degrades to a shuffled join —
  * with identical results — when the broadcast path is unavailable.
  */
class VocabJoinFallbackSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import graft.ops.TextAnalysis

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  /** Whether the final (AQE) plan of an already-run `df` holds a
    * broadcast hash join keyed on `token`, read from the join nodes' key
    * references (robust to casts, aliases or `knownnotnull` wrapping the
    * key), plus the plan text for failure messages.
    */
  private def tokenBroadcast(df: org.apache.spark.sql.DataFrame): (Boolean, String) = {
    val p = df.queryExecution.executedPlan
    val keys = AqePlan.collect(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.leftKeys.flatMap(_.references.map(_.name))
    }
    (keys.exists(_.contains("token")), p.toString)
  }

  test("oovRate: AQE broadcasts a small vocab, falls back to shuffle above the limit") {
    val vocab = TextAnalysis.buildVocab(docs, "text", minCount = 2L)
      .select("token")
    val c = spark.conf
    val saved = c.getOption("spark.sql.autoBroadcastJoinThreshold")
    // the assertion targets the TOKEN-keyed vocab join specifically: the
    // vocab subtree itself legitimately carries an explicitly-hinted
    // bounded broadcast (globalRank's per-partition offset table — ≤
    // #partitions rows by construction) that survives a closed threshold
    try {
      val small = TextAnalysis.oovRate(docs, "doc_id", "text", vocab)
      small.collect() // run so the AQE final plan is the inspectable one
      val (smallBhj, smallPlan) = tokenBroadcast(small)
      assert(smallBhj, s"AQE did not broadcast a fitting vocab:\n$smallPlan")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // vocab "outgrew" it
      val big = TextAnalysis.oovRate(docs, "doc_id", "text", vocab)
        .orderBy("doc_id")
      // collect the fallback rows WHILE the threshold is closed — an
      // except() after restoring the conf would re-plan both sides on
      // the broadcast path and prove nothing
      val shuffledRows = big.collect().toSeq
      val (bigBhj, bigPlan) = tokenBroadcast(big)
      assert(!bigBhj,
        s"vocab join still broadcast with the hint path closed:\n$bigPlan")
      // degraded plan, identical answer
      c.unset("spark.sql.autoBroadcastJoinThreshold")
      val refRows = TextAnalysis.oovRate(docs, "doc_id", "text", vocab)
        .orderBy("doc_id").collect().toSeq
      assert(shuffledRows === refRows,
        "shuffled-fallback rows drifted from the broadcast-path rows")
    } finally saved match {
      case Some(v) => c.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => c.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("unigramLogProb: model-table join degrades to shuffle with identical scores") {
    val c = spark.conf
    val saved = c.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = TextAnalysis.unigramLogProb(docs, "doc_id", minCount = 2L)
      // rows collected under the closed threshold (see oovRate test)
      val shuffledRows = shuffled.orderBy("doc_id").collect().toSeq
      val plan = shuffled.queryExecution.executedPlan.toString
      // the 1-row totals scalar legitimately stays a broadcast nested-loop
      // cross join; the TOKEN-keyed lm join must not be a broadcast hash join
      assert(!plan.contains("BroadcastHashJoin"),
        s"lm join still broadcast with the hint path closed:\n$plan")
      c.unset("spark.sql.autoBroadcastJoinThreshold")
      val refRows = TextAnalysis.unigramLogProb(docs, "doc_id", minCount = 2L)
        .orderBy("doc_id").collect().toSeq
      assert(shuffledRows === refRows,
        "shuffled-fallback scores drifted from the broadcast-path scores")
    } finally saved match {
      case Some(v) => c.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => c.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}

/** No timed query may plan a window PARTITIONed solely by a
  * constant-cardinality key over its input: `PARTITION BY l_returnflag`
  * sorts the whole corpus in 3 tasks no matter how many executors exist —
  * the quiet 100-TB straggler the r8 verdict flagged in
  * q_approx_percentiles (since re-homed onto Ids.groupRank, alongside
  * q_percentiles which shared the shape). This sweep pins the fix and
  * stops the shape from reappearing.
  */
class ConstantCardinalityWindowSpec extends SparkSpec {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

  // categorical columns whose distinct-value count is a CONSTANT of the
  // schema (3–5 values at any scale factor)
  private val constCard = Set("l_returnflag", "l_linestatus", "o_orderstatus",
    "o_orderpriority", "event_type", "lang", "r_name", "c_mktsegment")

  // documented exceptions:
  //  - q_rank_functions: the per-priority GLOBAL rank/dense_rank/
  //    percent_rank/cume_dist surface — the query exists to pin those
  //    semantics against the oracle, and every output row needs its
  //    group's total order by definition
  //  - q_anomaly_zscore: the window input is the (event_type, hour)
  //    aggregate — bounded by hours × 5 types, not by corpus size; the
  //    corpus-scale work happened in the preceding hash aggregation
  private val windowOk = Set("q_rank_functions", "q_anomaly_zscore")

  test("no corpus window is partitioned only by a constant-cardinality key") {
    val problems = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_ == "q_pipeline_verify") // runs a full pipeline with sinks
      .filterNot(windowOk)
      .foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
        plan.foreach {
          case w: LWindow if w.partitionSpec.nonEmpty &&
              w.partitionSpec.forall {
                case a: AttributeReference => constCard(a.name)
                case _ => false
              } =>
            problems += s"$name: Window partitioned by " +
              w.partitionSpec.map(_.sql).mkString(", ")
          case _ =>
        }
      }
    assert(problems.isEmpty,
      "constant-parallelism window plans found (re-home onto Ids.groupRank " +
        "or whitelist with a bounded-input justification):\n" +
        problems.mkString("\n"))
  }
}
