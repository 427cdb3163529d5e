package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Plan-shape guards: the catalog queries must keep the physical plans
  * that make them scale — filters reaching the parquet scan, pruned
  * read schemas, broadcast joins for dims, TakeOrderedAndProject for
  * top-k, and no accidental cartesian products. A correctness-green
  * query with the wrong plan is a 100 TB incident waiting to happen.
  */
class PlanSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.GraftSession.local("plan-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = Catalog.all.find(_.name == name).get.build(spark, dir)
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q278 format read keeps parquet pushdown AND plans through the snapshot file index") {
    val p = planOf("q278_format_pruned_read")
    // filter reaches the parquet reader (row-group skipping)...
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(o_orderkey,1000)") ||
      p.contains("GreaterThanOrEqual(o_orderkey"), p)
    // ...and the scan's file listing is OUR index (manifest file skipping)
    assert(p.contains("SnapshotFileIndex"), p)
    // column pruning: only the two referenced columns are read
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_custkey"), readSchema)
  }

  test("q02 pushes filters into the parquet scan and prunes columns") {
    val p = planOf("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_discount"), p)
    // only the 5 referenced columns are read, not all 16
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment"), readSchema)
    assert(!readSchema.contains("l_tax"), readSchema)
  }

  test("q03 joins dims via broadcast, no shuffle of the build side") {
    val p = planOf("q03_top_revenue_orders")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q13 global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = planOf("q13_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q39 brute-force ANN is scan + broadcast + TakeOrderedAndProject") {
    val p = planOf("q39_ann_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("q46 theta join broadcasts the tiny band side") {
    val p = planOf("q46_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("no dedup query degenerates to a cartesian product") {
    for (name <- Seq("q35_dedup_minhash_lsh", "q36_dedup_simhash",
        "q37_dedup_ngram_jaccard", "q38_embedding_neardup",
        "q51_ann_lsh_topk", "q55_ann_ivf_topk",
        "q64_dedup_canonical_neardup", "q85_incremental_neardup")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name: $p")
    }
  }

  test("join strategy hints are honored (shuffle_hash beats the SMJ default)") {
    import org.apache.spark.sql.functions._
    val li = graft.Tables.load(spark, dir, "lineitem")
    val orders = graft.Tables.load(spark, dir, "orders").hint("shuffle_hash")
    val p = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("ShuffledHashJoin"), p)
  }

  test("NO catalog query plans an interpreted (CodegenFallback) expression") {
    // the repo-wide codegen hygiene rule, enforced over every query: a
    // fallback expression in any hot path re-interprets per row
    val offenders = Catalog.all.flatMap { q =>
      val fallbacks = q.build(spark, dir).queryExecution.executedPlan.collect {
        case plan => plan.expressions.flatMap(_.collect {
          case e: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
              if !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Unevaluable] =>
            e.getClass.getSimpleName
        })
      }.flatten.distinct
      if (fallbacks.isEmpty) None else Some(q.name -> fallbacks)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("q66 as-of join plans as union+window — no join operator at all") {
    val df = Catalog.all.find(_.name == "q66_asof_join").get.build(spark, dir)
    val joins = df.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"as-of join must not plan a physical join: $joins")
    val p = planOf("q66_asof_join")
    assert(p.contains("Window"), p)
  }

  test("q67 profiler reads the table exactly once (one scan for all columns)") {
    val p = planOf("q67_column_profile")
    // formatted mode prints one "(n) Scan parquet" detail header per scan node
    val scans = p.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"expected 1 scan node, got $scans:\n$p")
  }

  test("q73 large-large interval join plans as an equi-join, not a nested loop") {
    val p = planOf("q73_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q70 grouped top-k plans as partial ObjectHashAggregate, not a window") {
    val p = planOf("q70_grouped_topk")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("q01 aggregation is partial (map-side) before the shuffle") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    // partial + final pair ⇒ at least two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q75 upsert merge is union + one keyed shuffle — no join operator") {
    val p = planOf("q75_merge_upsert")
    assert(p.contains("Union"), p)
    assert(!p.contains("Join"), p)
    // one Exchange moves the unioned rows to their key; the second is
    // the presentation orderBy (count node headers — the name repeats
    // in the detail section)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2, p)
  }

  test("q76 SCD2 runs both window passes over a single shuffle+sort") {
    val p = planOf("q76_scd2_history")
    // one Exchange for the user_id partitioning; the final orderBy adds
    // a range Exchange — nothing else may shuffle
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2, p)
  }

  test("q77 per-source cap is a bounded-heap aggregate, not a row_number window") {
    val p = planOf("q77_cap_per_source")
    assert(p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), p)
  }

  test("q78 gopher rules and q80 chunk plan stay in the scan stage (no Exchange before sort)") {
    for (name <- Seq("q78_gopher_quality", "q80_chunk_plan")) {
      val p = planOf(name)
      // only the final presentation orderBy may shuffle
      assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 1, s"$name:\n$p")
      assert(!p.contains("Join"), s"$name:\n$p")
    }
  }

  test("q83 exact percentile aggregates partially before the shuffle") {
    val p = planOf("q83_exact_percentile")
    assert(p.contains("ObjectHashAggregate"), p)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("q84 batch packing shuffles once for the shard windows") {
    val p = planOf("q84_batch_pack")
    // shard-window Exchange + presentation orderBy Exchange, nothing else
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("Join"), p)
  }

  test("q81 sqrt resample broadcasts the stratum rates; the corpus is never shuffled") {
    val p = planOf("q81_sqrt_resample")
    assert(p.contains("BroadcastHashJoin"), p)
    // shuffles allowed: none for the corpus side. The stratum-count agg
    // exchanges only (stratum, n) rows; the final orderBy is a range
    // exchange over the sampled output.
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("q120 correlated EXISTS/NOT EXISTS decorrelates to semi + anti joins") {
    val p = planOf("q120_exists_subquery")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q126 winsorize broadcasts the percentile edges; the data never sort-merges") {
    val p = planOf("q126_winsorize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q131 time split is a scan-stage label behind one broadcast cut") {
    val p = planOf("q131_split_by_time")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  /** `name`'s plan with the graph pins split past one partition: the
    * pin sizing's per-partition floor (AQE's minPartitionSize) lowered
    * to 1 KB, so the sf0.001 pins take the session's 4 shuffle
    * partitions instead of the single partition their size gives.
    */
  private def planWithSplitPins(name: String): String = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try planOf(name) finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Every pinned scan of a pageRank-family plan declares the pin's
    * layout — `hashpartitioning(__src, 4)`, plus `[__src ASC]` on the
    * edge pins — and the plan holds `exchanges` Exchanges (the figure
    * recorded when the pins were first declared; a pin that lost its
    * layout re-exchanges its side of every round join).
    */
  private def assertDeclaredPins(p: String, exchanges: Int): Unit = {
    val scans = "(?m)^Arguments: \\[__src#\\d+, (__dst|__deg)#\\d+L?\\], .*ExistingRDD, (.*)$".r
      .findAllMatchIn(p).map(m => (m.group(1), m.group(2))).toSeq
    assert(scans.map(_._1).toSet == Set("__dst", "__deg"), p)
    scans.foreach { case (pin, layout) =>
      assert(layout.matches("hashpartitioning\\(__src#(\\d+), 4\\)" +
        (if (pin == "__dst") ", \\[__src#\\1 ASC NULLS FIRST\\]" else "")), s"$pin pin: $layout")
    }
    assert("(?m)^\\(\\d+\\) Exchange$".r.findAllIn(p).size == exchanges, p)
  }

  test("q123 PageRank never plans a cartesian product; rank totals broadcast back") {
    val p = planOf("q123_pagerank")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assertDeclaredPins(planWithSplitPins("q123_pagerank"), exchanges = 4)
  }

  test("q217 personalized PageRank reads its pins with no Exchange on the pinned side") {
    assertDeclaredPins(planWithSplitPins("q217_personalized_pagerank"), exchanges = 8)
  }

  test("graph-family builds keep their Spark job counts") {
    // recorded at sf0.001 on this suite's local[4] session, on a warm
    // build (the first load of a table infers its schema once per JVM);
    // a pin that costs its own stage job, or a lost convergence fold,
    // moves them
    val recorded = Seq(
      "q123_pagerank" -> 8, "q217_personalized_pagerank" -> 12, "q74_dedup_clusters" -> 23,
      "q92_cap_per_cluster" -> 23, "q64_dedup_canonical_neardup" -> 8, "q205_label_prop" -> 37,
      "q153_bfs_khop" -> 34, "q206_weighted_sssp" -> 36, "q163_kcore" -> 25,
      "q261_stationary_dist" -> 50, "q249_hits_rank" -> 25, "q197_bpe_train" -> 19)
    // each counted job's SQL execution, call site and task count, to
    // name the job a moved count gained or lost
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val exec = Option(e.properties).map(_.getProperty("spark.sql.execution.id")).orNull
        jobs.add(s"${e.jobId}@$exec " +
          e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(s => s"${s.name}#${s.numTasks}"))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try recorded.map { case (name, _) =>
      val q = Catalog.all.find(_.name == name).get
      q.build(spark, dir)
      // JobCount drains the listener bus before its body starts
      val n = org.apache.spark.JobCount(spark.sparkContext) { jobs.clear(); q.build(spark, dir) }._2
      (name -> n, jobs.toArray.mkString(s"$name:\n  ", "\n  ", ""))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(got.map(_._1) == recorded,
      got.filterNot(recorded contains _._1).map(_._2).mkString("\n"))
  }

  test("q123 pins leave AQE on for a query running beside it on the same session") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.functions.col
    val q = Catalog.all.find(_.name == "q123_pagerank").get
    def pagerank() = q.build(spark, dir).collect().map(_.toString).sorted.toSeq
    // AQE-dependent: adaptive planning coalesces this shuffle's reads
    def grouped() = spark.range(0L, 20000L, 1L, 8).groupBy((col("id") % 7L).as("k")).count()
    val expected = pagerank()
    val expectedGrouped = grouped().collect().map(_.toString).sorted.toSeq
    // every SQL execution that starts with an Exchange in its plan must
    // plan adaptively; a session-wide AQE flip shows up here whichever
    // thread's execution starts inside the window
    def exchanges(p: SparkPlanInfo): Boolean =
      p.nodeName.contains("Exchange") || p.children.exists(exchanges)
    val nonAdaptive = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.sparkPlanInfo.nodeName != "AdaptiveSparkPlan" && exchanges(s.sparkPlanInfo) =>
          nonAdaptive.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // JobCount drains the listener bus once the block returns
      org.apache.spark.JobCount(spark.sparkContext) {
        val graph = pool.submit(() => pagerank())
        val beside = pool.submit(() => {
          var runs = 0
          while (runs < 3 || !graph.isDone) {
            val df = grouped()
            assert(df.collect().map(_.toString).sorted.toSeq == expectedGrouped)
            assert(df.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
            runs += 1
          }
          runs
        })
        assert(graph.get == expected)
        assert(beside.get >= 3)
      }
    } finally {
      pool.shutdown()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(nonAdaptive.isEmpty, nonAdaptive.toArray.mkString("\n---\n"))
  }

  test("q249 HITS build stays within 3 Spark jobs per half-round plus set-up") {
    // iters = 4: 8 half-rounds × 3 jobs, plus the edge derivation; a
    // per-round max subquery or a keyed edge pin pushes it past 30
    val q = Catalog.all.find(_.name == "q249_hits_rank").get
    val (_, jobs) = org.apache.spark.JobCount(spark.sparkContext)(q.build(spark, dir))
    assert(jobs <= 30, s"q249 build ran $jobs Spark jobs")
  }

  test("q129 bipartite projection joins on the left key, no cartesian") {
    val p = planOf("q129_bipartite_project")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q149 lateral top-k decorrelates to WindowGroupLimit, not a per-row loop") {
    val p = planOf("q149_lateral_topk")
    // WindowGroupLimit = rank pushed below the shuffle (map-side partial
    // top-k); a BroadcastNestedLoopJoin here would mean Catalyst fell
    // back to re-running the subquery per outer row
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("round-8 expansion queries never degenerate to cartesian products") {
    for (name <- Seq("q207_kmv_distinct", "q208_budget_mixture", "q209_k_anonymity",
        "q210_quantile_norm", "q211_rolling_mad", "q213_url_domains",
        "q214_dataset_fingerprint", "q216_sax_symbols", "q219_rendezvous_shards",
        "q220_bucket_diff", "q222_stl_decompose", "q225_column_concentration")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
    }
  }

  test("q214 fingerprint is ONE group-keyed aggregate (plus the presentation sort)") {
    val p = planOf("q214_dataset_fingerprint")
    // map-side XOR/min/max/count combine -> one hash exchange; the
    // orderBy adds a range exchange — nothing else may shuffle
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 2, p)
  }

  test("q225 concentration profile is the two-level distinct shape") {
    val p = planOf("q225_column_concentration")
    // (column, value) partial -> column rollup -> presentation sort
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 3, p)
  }

  test("q210 quantile normalization broadcasts the 257-cell reference, one group window") {
    val p = planOf("q210_quantile_norm")
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row edges attach
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q221 diversified top-k prunes per-customer via WindowGroupLimit and cuts via TakeOrdered") {
    val p = planOf("q221_diversified_topk")
    // the per-customer cap must prune map-side (WindowGroupLimit) and the
    // global cut must be a TakeOrderedAndProject, never a full sort
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q147 triangle census keys every join in the wedge space") {
    val p = planOf("q147_triangles")
    assert(!p.contains("CartesianProduct"), p)
    // the ONLY nested-loop joins are the two deliberate 1-row stat
    // combiners at the root (degAgg × eAgg × tri); the wedge self-join
    // and the closing-edge join must stay keyed hash joins
    // tree lines only (formatted mode also lists each op in the details
    // section); Cross = the deliberate combiners, anything else fails
    val bnlj = "BroadcastNestedLoopJoin Cross".r.findAllIn(p).size
    val bnljAll = p.linesIterator.count(_.matches(".*BroadcastNestedLoopJoin \\w.*"))
    assert(bnlj == 2 && bnljAll == 2,
      s"expected exactly the 2 one-row cross combiners, got $bnlj cross / $bnljAll total:\n$p")
  }

  test("q151 multiset set-ops plan as keyed aggregates, never a join") {
    val p = planOf("q151_set_ops_all")
    // Spark plans EXCEPT ALL / INTERSECT ALL as +1/-1 count aggregates
    // + replicate-rows Generate — one keyed shuffle per side, no join
    // of the raw multisets
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Generate"), p)
  }

  test("q152 attribution shares one user Exchange across both windows") {
    val p = planOf("q152_attribution")
    // both IGNORE NULLS last() windows ride the same (key, sort) — one
    // hash Exchange for the window, one for the channel aggregate
    // formatted mode lists Exchange args in the details section
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).size
    assert(hashEx == 2, s"expected 2 hash exchanges, got $hashEx:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q148 token diversity aggregates partially before each keyed exchange") {
    val p = planOf("q148_token_diversity")
    // two HashAggregate pairs (doc,tok) → (doc); generate stays scan-stage
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q157 BPE pair counts: scan-stage Generate, partial agg, TakeOrdered top-k") {
    val p = planOf("q157_bpe_pairs")
    // pair extraction is zip_with+explode in the scan stage (no
    // self-join), the (a,b) count is a partial-then-final
    // HashAggregate, and the top-50 ships k rows per partition
    assert(p.contains("Generate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).size
    assert(hashEx == 1, s"expected 1 hash exchange (the pair count), got $hashEx:\n$p")
  }

  test("q158 sliding distinct: dedup before fanout, span broadcast, no range self-join") {
    val p = planOf("q158_sliding_distinct")
    // the only join is the 1-row span bound riding a broadcast; the
    // window fanout is a Generate over the DEDUPED (day, user) pairs
    assert(p.contains("Generate"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q160 gini shares the rank sort with the final aggregate") {
    val p = planOf("q160_gini")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    // one keyed exchange feeds window + aggregate; no corpus re-shuffle
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).size
    assert(hashEx <= 2, s"expected <= 2 hash exchanges, got $hashEx:\n$p")
  }

  test("q161 weighted median: both windows run on bucket-bounded relations") {
    val p = planOf("q161_weighted_median")
    assert(!p.contains("CartesianProduct"), p)
    // two-phase selection: the bucket cumulative + the in-bucket
    // cumulative — exactly two Window operators, each downstream of a
    // per-group-bounded relation (never a full-corpus single-reducer
    // sort), with the bounds/target relations joined in broadcast
    val windows = "\\(\\d+\\) Window\\n".r.findAllIn(p).size
    assert(windows == 2, s"expected 2 Window ops, got $windows:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q174 interpolation: all four anchor windows run in ONE Window op, no cartesian") {
    val p = planOf("q174_interpolate_fill")
    assert(!p.contains("CartesianProduct"), p)
    // same (key) partition + (bucket) order ⇒ Catalyst fuses the two
    // backward and two forward anchor frames into a single Window node
    val windows = "\\(\\d+\\) Window\\n".r.findAllIn(p).size
    assert(windows == 1, s"expected 1 Window op, got $windows:\n$p")
  }

  test("q179 change point: windows and the per-key pick share one keyed Exchange") {
    val p = planOf("q179_change_point")
    assert(!p.contains("Join"), p)
    // one hash Exchange partitions by key for the windows; the max_by
    // aggregate regroups on the SAME key, so no second hash shuffle —
    // only the presentation orderBy's range exchange remains
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).size
    assert(hashEx <= 1, s"expected <= 1 hash exchange, got $hashEx:\n$p")
  }

  test("q177 jaro-winkler linkage: blocked equi-join + TakeOrdered, never a cartesian") {
    val p = planOf("q177_jaro_winkler")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the compiled expression must stay inside whole-stage codegen
    assert(p.contains("jaro_winkler"), p)
  }

  test("q182 source overlap: shingle-keyed equi-join with broadcast totals, no cartesian") {
    val p = planOf("q182_source_overlap")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("round-10 rank/eval/media queries never plan a cartesian product") {
    for (name <- Seq("q246_spearman_corr", "q247_mann_whitney", "q248_bootstrap_ci",
        "q250_map_mrr", "q254_audio_neardup", "q255_ks_test", "q256_assortativity")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: $p")
    }
  }

  test("q253 audio stats stay join-free: scan-stage decode + HOFs, one presentation sort") {
    val p = planOf("q253_wav_stats")
    assert(!p.contains("Join"), p)
    assert(p.contains("wav_decode") || p.contains("wavdecode") ||
      p.toLowerCase.contains("wavdecode"), p)
  }

  test("q251 collocations: the only nested-loop is the single-row totals broadcast") {
    val p = planOf("q251_collocations")
    assert(!p.contains("CartesianProduct"), p)
    // formatted explain names each node twice (tree + details) — count
    // distinct node ids instead
    val bnl = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 1, s"expected at most the 1-row totals broadcast, got $bnl:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p) // global top-50, not a full sort
  }

  test("q258 PC projection joins the 64-row component by broadcast") {
    val p = planOf("q258_pc_projection")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q265 chunk boilerplate: hash-keyed df join, never a cartesian") {
    val p = planOf("q265_chunk_boilerplate")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q266 LM quality buckets: the per-lang (N, V) row broadcasts into the token scan") {
    val p = planOf("q266_lm_quality_buckets")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q267 FS linkage: nation-blocked equi-join + one 1-row u broadcast, no cartesian") {
    val p = planOf("q267_fs_linkage")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the single-row u-probability broadcast
    val bnl = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 1, s"expected at most the 1-row u broadcast, got $bnl:\n$p")
  }

  test("q268 modularity: node-keyed equi-joins + 1-row m broadcast, no cartesian") {
    val p = planOf("q268_modularity")
    assert(!p.contains("CartesianProduct"), p)
    val bnl = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 1, s"expected at most the 1-row m broadcast, got $bnl:\n$p")
  }

  test("q269/q270 video decode stays scan-stage; key-frame pairs never go cartesian") {
    val p269 = planOf("q269_avi_frame_stats")
    assert(!p269.contains("CartesianProduct") && !p269.contains("Join"), p269)
    val p270 = planOf("q270_video_keyframe_neardup")
    assert(!p270.contains("CartesianProduct"), p270)
    assert(!p270.contains("BroadcastNestedLoopJoin"), p270)
  }

  test("q267 composite-blocked linkage: equi-joins only, never a cartesian") {
    val p = planOf("q267_fs_linkage")
    assert(!p.contains("CartesianProduct"), p)
    // the block self-join and the two attribute re-joins are all keyed;
    // the only nested-loop allowed is the 1-row u-probability broadcast
    val bnl = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnl <= 1, s"expected at most the 1-row stats broadcast, got $bnl:\n$p")
  }

  test("q275 DSIR: ratio table broadcasts; one id-keyed corpus join only") {
    val p = planOf("q275_dsir_resample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // per-doc scoring must partial-aggregate map-side before its
    // one-row-per-doc shuffle
    assert(p.contains("HashAggregate"), p)
    // the ONLY shuffle join allowed is attaching scores back to the
    // corpus rows (id-keyed, O(docs)); the ratio lookup and both
    // 1-row totals/mean relations must broadcast
    val smj = "\\(\\d+\\) SortMergeJoin".r.findAllIn(p).size +
      "\\(\\d+\\) ShuffledHashJoin".r.findAllIn(p).size
    assert(smj <= 1, s"expected <= 1 shuffle join (score attach), got $smj:\n$p")
  }

  test("q276 container triage probes in the scan stage; dup grouping is the only window") {
    val p = planOf("q276_video_container_triage")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
    val windows = "\\(\\d+\\) Window".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly the dup-group window, got $windows:\n$p")
  }

  test("q280 mixed-container triage: both probes ride one scan stage, no join, one window") {
    val p = planOf("q280_mp4_container_triage")
    // AVI + MP4 arms are a per-row coalesce inside the projection —
    // container dispatch must not fork the plan into a union or join
    assert(!p.contains("CartesianProduct") && !p.contains("Join") &&
      !p.contains("Union"), p)
    val windows = "\\(\\d+\\) Window".r.findAllIn(p).size
    assert(windows == 1, s"expected exactly the dup-group window, got $windows:\n$p")
  }
}
