package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Semantics coverage for the round-6 insight operators: triangle
  * census, association rules, grouped OLS, token diversity.
  */
class InsightsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.GraftSession.local("insights-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  test("triangleCount: K4 census; dup/reversed/self-loop edges collapse") {
    import spark.implicits._
    val k4 = for { a <- 1 to 4; b <- 1 to 4 if a != b } yield (a.toLong, b.toLong)
    // both directions present + self-loops: dedup/canonicalization under test
    val edges = (k4 ++ Seq((1L, 1L), (2L, 2L))).toDF("x", "y")
    val r = Graph.triangleCount(edges, "x", "y").collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 6) // nodes, edges
    assert(r.getLong(2) == 12 && r.getLong(3) == 4) // wedges C(3,2)*4, triangles
    assert(r.getDouble(4) == 1.0) // 3*4/12
  }

  test("triangleCount: star graph — hub is never a wedge source; 4-cycle closes nothing") {
    import spark.implicits._
    val star = (1L to 50L).map(i => (0L, i)).toDF("x", "y")
    val s = Graph.triangleCount(star, "x", "y").collect().head
    assert(s.getLong(3) == 0 && s.getLong(2) == 50L * 49 / 2)
    assert(s.getDouble(4) == 0.0)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("x", "y")
    val c = Graph.triangleCount(cyc, "x", "y").collect().head
    assert(c.getLong(1) == 4 && c.getLong(2) == 4 && c.getLong(3) == 0)
  }

  test("triangleCount: no cartesian product in the physical plan") {
    import spark.implicits._
    val e = (1L to 100L).map(i => (i, i % 10)).toDF("x", "y")
    val plan = Graph.triangleCount(e, "x", "y").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("associationRules: hand-checked support/confidence/lift; hub basket excluded") {
    import spark.implicits._
    // baskets: b1={a,b}, b2={a,b}, b3={a,c}, hub={a,b,c,d} (excluded at max 3)
    val items = Seq(
      ("b1", "a"), ("b1", "b"), ("b1", "b"), // dup item dedups
      ("b2", "a"), ("b2", "b"),
      ("b3", "a"), ("b3", "c"),
      ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d"))
      .toDF("bk", "it")
    val r = Assoc.associationRules(items, col("bk"), col("it"), maxBasketSize = 3)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    // kept: b1, b2, b3 → n=3; sup(a)=3, sup(b)=2, sup(c)=1
    assert(r.keySet == Set(("a", "b"), ("a", "c")))
    assert(r(("a", "b")) == ((2L, 2.0 / 3.0, 2.0 * 3.0 / (3.0 * 2.0))))
    assert(r(("a", "c")) == ((1L, 1.0 / 3.0, 1.0 * 3.0 / (3.0 * 1.0))))
  }

  test("associationRules: null basket/item rows dropped; undersized guard rejected") {
    import spark.implicits._
    val items = Seq((null, "a"), ("b1", null), ("b1", "a"), ("b1", "b"))
      .toDF("bk", "it")
    val out = Assoc.associationRules(items, col("bk"), col("it"), 8).collect()
    assert(out.length == 1 && out.head.getLong(2) == 1)
    intercept[IllegalArgumentException] {
      Assoc.associationRules(items, col("bk"), col("it"), 1)
    }
  }

  test("groupedOls: exact fit recovered; constant-x and constant-y guards; nulls excluded") {
    import spark.implicits._
    val df = Seq(
      ("fit", Some(1.0), Some(3.0)), ("fit", Some(2.0), Some(5.0)),
      ("fit", Some(3.0), Some(7.0)), // y = 2x + 1
      ("fit", None, Some(8.0)), ("fit", Some(9.0), None), // excluded
      ("constx", Some(4.0), Some(1.0)), ("constx", Some(4.0), Some(2.0)),
      ("consty", Some(1.0), Some(9.0)), ("consty", Some(2.0), Some(9.0)))
      .toDF("g", "x", "y")
    val m = Profile.groupedOls(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) -> r).toMap
    val fit = m("fit")
    assert(fit.getLong(1) == 3) // null-bearing rows excluded from n_obs
    assert(math.abs(fit.getDouble(2) - 2.0) < 1e-12)
    assert(math.abs(fit.getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(fit.getDouble(4) - 1.0) < 1e-12)
    assert(m("constx").isNullAt(2) && m("constx").isNullAt(3) && m("constx").isNullAt(4))
    val cy = m("consty")
    assert(cy.getDouble(2) == 0.0 && cy.isNullAt(4)) // slope 0, R² undefined
  }

  test("bfsDistances: hand graph — min dist wins, horizon cuts, unreachable absent") {
    import spark.implicits._
    // path 1-2-3-4-5 plus shortcut 1-4; island 9-10
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (9L, 10L))
      .toDF("x", "y")
    val seeds = Seq(1L).toDF("id")
    val d = Graph.bfsDistances(edges, "x", "y", seeds, "id", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 4 via the shortcut is 1 hop, NOT 3; 5 is 2 via shortcut; island absent
    assert(d == Map(1L -> 0, 2L -> 1, 4L -> 1, 3L -> 2, 5L -> 2))
    val d1 = Graph.bfsDistances(edges, "x", "y", seeds, "id", maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(d1 == Map(1L -> 0, 2L -> 1, 4L -> 1))
    intercept[IllegalArgumentException] {
      Graph.bfsDistances(edges, "x", "y", seeds, "id", maxHops = 0)
    }
  }

  test("chiSquare: perfect association and exact independence; degenerate 1-level guard") {
    import spark.implicits._
    // perfect association, 2x2, n=40: chi2 = n, V = 1
    val perfect = (Seq.fill(20)(("a", "x")) ++ Seq.fill(20)(("b", "y"))).toDF("r", "c")
    val p = Profile.chiSquare(perfect, col("r"), col("c")).collect().head
    assert(p.getLong(0) == 40 && p.getLong(1) == 2 && p.getLong(2) == 2)
    assert(math.abs(p.getDouble(3) - 40.0) < 1e-9)
    assert(math.abs(p.getDouble(4) - 1.0) < 1e-9)
    // exact independence: chi2 = 0, V = 0
    val indep = (for { r <- Seq("a", "b"); c <- Seq("x", "y"); _ <- 1 to 10 }
      yield (r, c)).toDF("r", "c")
    val i = Profile.chiSquare(indep, col("r"), col("c")).collect().head
    assert(i.getDouble(3) == 0.0 && i.getDouble(4) == 0.0)
    // single-level column: V undefined (null), chi2 still 0
    val one = Seq(("a", "x"), ("a", "y")).toDF("r", "c")
    val o = Profile.chiSquare(one, col("r"), col("c")).collect().head
    assert(o.isNullAt(4))
  }

  test("lastTouchAttribution: window credit, lookback expiry, direct fallback") {
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf(_: String)
    val ev = Seq(
      // u1: view then purchase 1 day later -> view credited
      (1L, ts("2024-01-01 00:00:00"), 1L, "view", 0.0),
      (2L, ts("2024-01-02 00:00:00"), 1L, "purchase", 10.0),
      // u2: click 10 days before purchase -> outside 7d lookback -> direct
      (3L, ts("2024-01-01 00:00:00"), 2L, "click", 0.0),
      (4L, ts("2024-01-11 00:00:00"), 2L, "purchase", 5.0),
      // u3: purchase with no prior event at all -> direct
      (5L, ts("2024-01-05 00:00:00"), 3L, "purchase", 2.5),
      // u4: same-instant touch precedes via event_id tiebreak
      (6L, ts("2024-01-03 00:00:00"), 4L, "signup", 0.0),
      (7L, ts("2024-01-03 00:00:00"), 4L, "purchase", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val r = Funnel.lastTouchAttribution(ev, col("user_id"), col("ts"),
        col("event_type"), col("value"), "purchase", col("event_id"), 7)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r == Map(
      "view" -> ((1L, 10.0)), "signup" -> ((1L, 1.0)), "direct" -> ((2L, 7.5))))
  }

  test("rrfFuse: hand ranks incl. tie; partial membership; oversize list guard trips") {
    import spark.implicits._
    // score tie between 20 and 30: the id tiebreak makes ranking TOTAL,
    // so 20 (smaller id) ranks 2 and 30 ranks 3 — no shared ranks
    val l1 = Seq((10L, 5.0), (20L, 3.0), (30L, 3.0)).toDF("id", "s")
    val l2 = Seq((20L, 9.0), (40L, 1.0)).toDF("id", "s")
    val r = Retrieval.rrfFuse(Seq(l1, l2), c = 10)
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getInt(2), x.getDouble(3))))
      .toMap
    // rrf values are quantized to 1e-10 by the DECIMAL(38,10) sum
    // contract, so compare with tolerance
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-9
    assert(r(10L)._1 == 1L && r(10L)._2 == 1 && close(r(10L)._3, 1.0 / 11))
    assert(r(20L)._1 == 2L && r(20L)._2 == 1)
    assert(close(r(20L)._3, 1.0 / 12 + 1.0 / 11))
    assert(r(30L)._1 == 1L && r(30L)._2 == 3 && close(r(30L)._3, 1.0 / 13))
    assert(r(40L)._1 == 1L && r(40L)._2 == 2 && close(r(40L)._3, 1.0 / 12))
    intercept[IllegalArgumentException] { Retrieval.rrfFuse(Seq(l1)) }
    val boom = intercept[Exception] {
      Retrieval.rrfFuse(Seq(l1, l2), c = 60, maxListSize = 2L).collect()
    }
    assert(boom.getMessage.contains("maxListSize"), boom.getMessage)
  }

  test("equiWidthHistogram: fixed edges, max closes last bin, constant column -> bin 0") {
    import spark.implicits._
    val df = (0 to 100).map(_.toDouble).toDF("v")
    val h = Profile.equiWidthHistogram(df, col("v"), 10)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // width 10: bins 0..8 get 10 values, bin 9 gets 11 (90..100, max closes)
    assert(h == (0 to 9).map(b => b -> (if (b == 9) 11L else 10L)).toMap)
    val const = Seq(4.2, 4.2, 4.2).toDF("v")
    val hc = Profile.equiWidthHistogram(const, col("v"), 10).collect()
    assert(hc.length == 1 && hc.head.getInt(0) == 0 && hc.head.getLong(1) == 3L)
    intercept[IllegalArgumentException] {
      Profile.equiWidthHistogram(df, col("v"), 0)
    }
  }

  test("tokenDiversity: hand counts; no-token docs absent by the no-evidence contract") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, ""), (3L, null), (4L, "x")).toDF("id", "txt")
    val m = TokenDiversityFixture.run(docs)
    assert(m.keySet == Set(1L, 4L))
    val (n, ty, conc, top, ttr) = m(1L)
    assert(n == 3 && ty == 2)
    assert(conc == 5.0 / 9.0 && top == 2.0 / 3.0 && ttr == 2.0 / 3.0)
    assert(m(4L) == ((1L, 1L, 1.0, 1.0, 1.0)))
  }

  test("kCore: triangle with a tail — 2-core is exactly the triangle; 3-core empty") {
    import spark.implicits._
    // triangle 1-2-3 plus tail 3-4-5 (path); self-loop and dup edges noise
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (2L, 1L), (4L, 4L)).toDF("x", "y")
    val core2 = Graph.kCore(edges, "x", "y", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(Graph.kCore(edges, "x", "y", k = 3).count() == 0)
  }

  test("kCore: peel cascades — removing the shell can dequalify inner nodes") {
    import spark.implicits._
    // path 1-2-3-4: every node peels at k=2 (ends first, then the middle)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    assert(Graph.kCore(path, "x", "y", k = 2).count() == 0)
    // K4 with a pendant: 4-clique survives k=3, pendant (and only it) drops
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong))
    val g = (k4 :+ (4L, 9L)).toDF("x", "y")
    val core = Graph.kCore(g, "x", "y", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: a set still peeling after maxRounds fails instead of returning a non-core") {
    import spark.implicits._
    val sc = spark.sparkContext
    // path 1-…-8 at k = 2 peels its two ends per round: four rounds to
    // empty, a fifth to see it stable
    val path = (1L to 8L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("x", "y")
    def pinned = sc.getPersistentRDDs.keySet.toSet
    val before = pinned
    val e = intercept[IllegalArgumentException](Graph.kCore(path, "x", "y", k = 2, maxRounds = 2))
    assert(e.getMessage.contains("did not settle in 2 rounds (4 nodes left)"), e.getMessage)
    assert(pinned.diff(before).isEmpty, "a kCore that did not settle left checkpoint blocks")
    assert(Graph.kCore(path, "x", "y", k = 2, maxRounds = 5).count() == 0)
  }

  /** Small fixtures of the iterative operators, built on first use. */
  private object fx {
    import spark.implicits._
    lazy val path = (1L to 8L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("x", "y")
    lazy val weighted = path.withColumn("w", $"y" - $"x")
    lazy val seeds = Seq(1L).toDF("id")
    lazy val bridged = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("x", "y")
    lazy val chain = Seq(("a", "b", 500000000L), ("a", "c", 500000000L),
      ("b", "c", 1000000000L), ("c", "a", 1000000000L)).toDF("f", "t", "p")
    lazy val docs = Seq("a b c d a b c d", "b c d e b c", "a b a b c").toDF("txt")
  }

  /** Every iterative operator, with its result rows over a fixture and
    * the unpersist of one of its own RDDs that falls inside a round:
    * the first that frees a superseded round's pin (each
    * [[Graph.pinByKey]] first frees its flat pass-1 pin).
    */
  private val iterative: Seq[(String, Int, Long, () => Long)] = Seq(
    // round 1 frees the start labels: round 2 on is cancelled
    ("connectedComponents", 2, 8L, () => Graph.connectedComponents(fx.path, "x", "y").count()),
    // cadence pins at rounds 5, 10, 15: the round-10 pin frees the
    // round-5 one, and rounds 11 on are cancelled
    ("pageRank", 2, 7L, () => Graph.pageRank(fx.path, "x", "y", iters = 17).count()),
    ("personalizedPageRank", 2, 7L, () =>
      Graph.personalizedPageRank(fx.path, "x", "y", fx.seeds, "id", iters = 17).count()),
    // the third half-round frees the first: the fourth on is cancelled
    ("hits", 1, 14L, () => Graph.hits(fx.path, "x", "y", iters = 3).count()),
    // round 2 frees round 1's ranks: round 3 on
    ("stationaryDistribution", 2, 3L, () =>
      Graph.stationaryDistribution(fx.chain, "f", "t", "p", iters = 4).count()),
    // round 2's count frees the seed frontier and dist: round 3 on
    ("bfsDistances", 2, 6L, () =>
      Graph.bfsDistances(fx.path, "x", "y", fx.seeds, "id", maxHops = 5).count()),
    ("weightedShortestPaths", 2, 6L, () =>
      Graph.weightedShortestPaths(fx.weighted, "x", "y", "w", fx.seeds, "id", maxHops = 5)
        .count()),
    // path 1-…-8 at k = 2 peels its two ends per round, four rounds;
    // round 1 frees the start set: round 2 on
    ("kCore", 2, 0L, () => Graph.kCore(fx.path, "x", "y", k = 2).count()),
    // two triangles joined by a bridge, four rounds; round 1 frees the
    // start labels: round 2 on
    ("labelPropagation", 2, 6L, () =>
      Graph.labelPropagation(fx.bridged, "x", "y", rounds = 4).count()),
    // round 2's collect frees the first corpus generation: round 3 on
    ("bpeTrain", 1, 4L, () => TextAnalysis.bpeTrain(fx.docs, col("txt"), rounds = 4).count()))

  for ((name, cancelAt, rows, run) <- iterative)
    test(s"$name: a round cancelled mid-run leaves no checkpoint blocks registered") {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
      val sc = spark.sparkContext
      assert(run() == rows)
      def pinned = sc.getPersistentRDDs.keySet.toSet
      val before = pinned
      val group = s"$name-cancel"
      val floor = sc.emptyRDD[Int].id // the run's RDDs all get later ids
      // every job of the group from the `cancelAt`-th unpersist of one
      // of the run's RDDs on is cancelled
      val frees = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
          if (e.rddId > floor && frees.incrementAndGet() == cancelAt)
            sc.cancelJobGroupAndFutureJobs(group)
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(group, s"$name cancelled mid-run")
      try {
        val e = intercept[Exception](run())
        assert(e.getMessage.contains("cancel"), e.getMessage)
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      assert(frees.get >= cancelAt)
      assert(pinned.diff(before).isEmpty, s"$name left checkpoint blocks registered")
      assert(run() == rows) // the session still works
    }

  test("an eager pin whose own job fails leaves no checkpoint blocks registered") {
    import spark.implicits._
    val sc = spark.sparkContext
    // one partition end to end, so the derivation after the exchange
    // plans with no Exchange of its own: the UDF throws inside the
    // first pin's own job, after its checkpoint RDD is registered
    val boom = udf((x: Long) => if (x > 0L) throw new IllegalStateException("boom") else x)
      .asNondeterministic()
    val edges = (1L to 8L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("x", "y")
      .repartition(1).select(boom($"x").as("x"), $"y")
    def pinned = sc.getPersistentRDDs.keySet.toSet
    val leaked = Seq[(String, () => Any)](
      "kCore" -> (() => Graph.kCore(edges, "x", "y", k = 2)),
      "bfsDistances" -> (() =>
        Graph.bfsDistances(edges, "x", "y", Seq(1L).toDF("id"), "id", maxHops = 3)),
      "pageRank" -> (() => Graph.pageRank(edges, "x", "y", iters = 3))
    ).flatMap { case (name, run) =>
      val before = pinned
      val e = intercept[Exception](run())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("boom")), s"$name: $e")
      Some(pinned.diff(before)).filter(_.nonEmpty).map(name -> _)
    }
    assert(leaked.isEmpty, s"failed pins left registered: $leaked")
  }

  test("bpePairCounts: hand pairs; short docs skipped; deterministic tie order") {
    import spark.implicits._
    val docs = Seq("a b a b", "b a", "x", "", null).toDF("txt")
    val r = TextAnalysis.bpePairCounts(docs, col("txt"), topK = 10)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2)))
    // "a b a b" → (a,b) (b,a) (a,b); "b a" → (b,a): counts a,b=2 b,a=2
    // tie on n=2 broken lexicographically: (a,b) before (b,a)
    assert(r.toSeq == Seq(("a", "b", 2L), ("b", "a", 2L)))
  }

  test("bpeTrain: greedy non-overlap, merged tokens re-merge, tie-break, early stop") {
    import spark.implicits._
    val docs = Seq("c c c c", "a b a b", "a b c", "x", "", null).toDF("txt")
    // round 1: (a,b)=3 ties (c,c)=3 → lexicographic tie-break picks (a,b)
    // round 2: (c,c)=3; GREEDY merge turns "c c c c" into two "c c"
    //          (3 adjacent pairs, but only 2 non-overlapping merges)
    // round 3: all pairs n=1 → ("a b","a b") wins the tie — a merged
    //          token merging with itself
    // round 4: ("a b","c") — merged token merging with a base token
    // round 5: ("c c","c c")
    // round 6: no pairs remain → early stop at 5 merges despite rounds=8
    val got = TextAnalysis.bpeTrain(docs, col("txt"), rounds = 8)
      .orderBy(col("round"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, "a", "b", "a b", 3L),
      (2L, "c", "c", "c c", 3L),
      (3L, "a b", "a b", "a b a b", 1L),
      (4L, "a b", "c", "a b c", 1L),
      (5L, "c c", "c c", "c c c c", 1L)))
  }

  test("bpeTrain: maxTrainDocs fail-fast guard trips before the training loop") {
    import spark.implicits._
    val docs = Seq("a b", "c d", "e f").toDF("txt")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrain(docs, col("txt"), rounds = 2, maxTrainDocs = 2)
    }
    assert(e.getMessage.contains("maxTrainDocs"))
    // at the bound it trains normally
    assert(TextAnalysis.bpeTrain(docs, col("txt"), rounds = 1, maxTrainDocs = 3)
      .count() == 1L)
  }

  test("bpeEncode: merges replay in learned order; train-then-encode reproduces trainer state") {
    import spark.implicits._
    val docs = Seq((1L, "c c c c"), (2L, "a b a b"), (3L, "a b c"))
      .toDF("doc_id", "txt")
    val merges = TextAnalysis.bpeTrain(docs, col("txt"), rounds = 8)
      .orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // 5 learned merges (see the bpeTrain spec); applying them in order
    // to the training corpus itself must land on the trainer's final
    // state: every doc collapses to ONE merged token
    val got = TextAnalysis.bpeEncode(docs, col("doc_id"), col("txt"), merges)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(got.toSeq == Seq(
      (1L, 4L, 1L, 250000L, "c c c c"),
      (2L, 4L, 1L, 250000L, "a b a b"),
      (3L, 3L, 1L, 333333L, "a b c")))
    // out-of-vocabulary text passes through unmerged
    val oov = TextAnalysis.bpeEncode(
        Seq((9L, "x y z")).toDF("doc_id", "txt"), col("doc_id"), col("txt"), merges)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(4)))
    assert(oov.toSeq == Seq((3L, 3L, "x|y|z")))
  }

  test("countMinTopTerms: wide sketch is exact; narrow sketch only ever overcounts") {
    import spark.implicits._
    val docs = Seq("a a a b b", "a a b c", "").toDF("txt")
    // width 1024 over a 3-term vocab: no collisions, est == exact
    val wide = graft.ext.Retrieval
      .countMinTopTerms(docs, col("txt"), depth = 4, width = 1024, topK = 3)
      .orderBy(col("term")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(wide.toSeq == Seq(("a", 5L, 5L, true), ("b", 3L, 3L, true), ("c", 1L, 1L, true)))
    // width 2, depth 1: collisions force overcounts — never undercounts
    val narrow = graft.ext.Retrieval
      .countMinTopTerms(docs, col("txt"), depth = 1, width = 2, topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(narrow.forall { case (_, exact, est) => est >= exact })
    assert(narrow.map(_._2).sum == 9L)
  }

  test("confusionStats: hand confusion matrix; phantom/unseen classes get null metrics") {
    import spark.implicits._
    // actual:    a a a b b c
    // predicted: a a b b b d   — c never predicted, d never actual
    val df = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "d"))
      .toDF("act", "pred")
    val got = Profile.confusionStats(df, col("act"), col("pred"))
      .orderBy(col("cls")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6)))
    assert(got.toSeq == Seq(
      // a: tp=2, predicted 2 → p=1.0; actual 3 → r=2/3; f1=2pr/(p+r)=800000
      ("a", 3L, 2L, 2L, 1000000L, 666666L, 799999L),
      // b: tp=2, predicted 3 → p=666666; actual 2 → r=1.0
      ("b", 2L, 3L, 2L, 666666L, 1000000L, 799999L),
      // c: never predicted → precision null; recall 0; f1 null (p null)
      ("c", 1L, 0L, 0L, -1L, 0L, -1L),
      // d: never actual → recall null; precision 0; f1 null
      ("d", 0L, 1L, 0L, 0L, -1L, -1L)))
  }

  test("labelPropagation: bridged triangles settle into two communities; deterministic ties") {
    import spark.implicits._
    // triangle {1,2,3} — bridge 3-10 — triangle {10,11,12}: connected
    // components would merge everything; majority propagation keeps
    // the two dense cores apart (hand-traced: labels 1 and 3 after 4
    // synchronous rounds with smallest-label ties)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val got = Graph.labelPropagation(edges, "a", "b", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 3L, 11L -> 3L, 12L -> 3L), got)
    // one extra round: the assignment is a fixed point
    val again = Graph.labelPropagation(edges, "a", "b", rounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("termDrift: identical slices → 0; disjoint vocabularies → 1; union vocab counted") {
    import spark.implicits._
    val same = Seq(("s1", "a b c"), ("s2", "a b c")).toDF("src", "txt")
    val r0 = TextAnalysis.termDrift(same, col("txt"), col("src"), "s1", "s2").collect().head
    assert(r0.getDouble(0) == 0.0 && r0.getLong(1) == 3L)
    val disj = Seq(("s1", "a a b"), ("s2", "x y z")).toDF("src", "txt")
    val r1 = TextAnalysis.termDrift(disj, col("txt"), col("src"), "s1", "s2").collect().head
    assert(r1.getDouble(0) == 1.0 && r1.getLong(1) == 5L)
  }

  test("slidingDistinct: trailing window accumulates and expires; span clipped") {
    import spark.implicits._
    val ev = Seq(
      ("2024-01-01 10:00:00", 1L), ("2024-01-01 11:00:00", 1L), // dup (day,user)
      ("2024-01-02 09:00:00", 2L),
      ("2024-01-05 09:00:00", 3L))
      .toDF("ts_s", "uid").select(to_timestamp($"ts_s").as("ts"), $"uid")
    val m = TimeSeries.slidingDistinct(ev, col("ts"), col("uid"), windowDays = 3)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // day1: {1}; day2: {1,2}; day3: {1,2}; day4: {2}; day5: {3}
    assert(m == Map("2024-01-01" -> 1L, "2024-01-02" -> 2L, "2024-01-03" -> 2L,
      "2024-01-04" -> 1L, "2024-01-05" -> 1L))
  }

  test("giniConcentration: uniform → 0, single holder → (n-1)/n, negatives excluded") {
    import spark.implicits._
    val df = Seq(("u", 5.0), ("u", 5.0), ("u", 5.0), ("u", 5.0),
      ("c", 0.0), ("c", 0.0), ("c", 0.0), ("c", 10.0),
      ("neg", -1.0), ("neg", 2.0), ("neg", 2.0)).toDF("g", "v")
    val m = Profile.giniConcentration(df, col("g"), col("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(m("u") == ((4L, 0.0)))
    assert(m("c") == ((4L, 0.75))) // one row holds all: (n-1)/n
    assert(m("neg") == ((2L, 0.0))) // the -1 row excluded, remaining uniform
  }

  test("weightedMedian: mass at the center wins; exact half-threshold picks the lower") {
    import spark.implicits._
    val df = Seq(("a", 1.0, 1.0), ("a", 2.0, 5.0), ("a", 3.0, 1.0),
      ("b", 1.0, 1.0), ("b", 2.0, 1.0), // exact half at x=1 → lower median
      ("z", 7.0, 0.0), ("z", 9.0, 2.0)) // zero-weight row excluded
      .toDF("g", "v", "w")
    val m = Profile.weightedMedian(df, col("g"), col("v"), col("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m == Map("a" -> 2.0, "b" -> 1.0, "z" -> 9.0))
  }

  test("benfordProfile: hand digits, sub-1 rows excluded, expectations are the log10 table") {
    import spark.implicits._
    val df = Seq(1.5, 19.0, 190.5, 2.0, 0.5, 9000.0).toDF("v") // fsd: 1,1,1,2,skip,9
    val m = Profile.benfordProfile(df, col("v"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(m.keySet == Set(1, 2, 9))
    assert(m(1) == ((3L, 0.6, math.log10(2.0))))
    assert(m(2)._1 == 1L && m(2)._3 == math.log10(1.5))
    assert(m(9)._1 == 1L && m(9)._3 == math.log10(10.0 / 9.0))
  }

  test("paretoFront: dominated points die, same-x keeps max y, frontier ascends") {
    import spark.implicits._
    val pts = Seq((1.0, 5L), (1.0, 3L), (2.0, 4L), (2.0, 7L), (3.0, 7L), (4.0, 9L),
      (5.0, 1L)).toDF("x", "y")
    val r = Profile.paretoFront(pts, col("x"), col("y"))
      .orderBy(col("x")).collect().map(p => (p.getDouble(0), p.getLong(1))).toSeq
    // (1,5) survives; (2,7) beats (2,4) and 5; (3,7) ties prev max -> dominated;
    // (4,9) new max; (5,1) dominated
    assert(r == Seq((1.0, 5L), (2.0, 7L), (4.0, 9L)))
  }

  test("positionalIndex: 1-based sorted positions, probe-set restriction, tf counts") {
    import spark.implicits._
    val docs = Seq((1L, "a b a c a"), (2L, "c c"), (3L, null)).toDF("id", "txt")
    val r = Retrieval.positionalIndex(docs, col("id"), col("txt"), Seq("a", "c"))
      .orderBy(col("term"), col("doc_id"))
      .collect().map(x => (x.getString(0), x.getLong(1), x.getSeq[Long](2), x.getLong(3)))
    assert(r.toSeq == Seq(
      ("a", 1L, Seq(1L, 3L, 5L), 3L),
      ("c", 1L, Seq(4L), 1L),
      ("c", 2L, Seq(1L, 2L), 2L)))
  }

  test("decayedSum: power-of-two weights, staircase half-life, max-age cutoff") {
    import spark.implicits._
    val ev = Seq(
      ("g", "2024-01-10 00:00:00", 8.0),  // age 0 → w 1
      ("g", "2024-01-09 00:00:00", 8.0),  // age 1, hl 2 → floor(1/2)=0 → w 1
      ("g", "2024-01-08 00:00:00", 8.0),  // age 2 → w 1/2
      ("g", "2024-01-04 00:00:00", 8.0),  // age 6 → w 1/8
      ("g", "2023-01-01 00:00:00", 999.0)) // age > maxAge → excluded
      .toDF("g", "ts_s", "v").select($"g", to_timestamp($"ts_s").as("ts"), $"v")
    val r = TimeSeries.decayedSum(ev, col("g"), col("ts"), col("v"),
      halfLifeDays = 2, maxAgeDays = 30).collect().head
    assert(r.getDouble(1) == 8.0 + 8.0 + 4.0 + 1.0)
    assert(r.getDouble(2) == 32.0 && r.getLong(3) == 4L)
  }

  test("containmentPairs: doc-inside-doc found where Jaccard misses; direction is small-in-big") {
    import spark.implicits._
    val small = "alpha beta gamma delta epsilon zeta"           // 4 shingles
    val big = small + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, big), (2L, small), (3L, "unrelated text entirely here now"))
      .toDF("doc_id", "text")
    val r = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(r.toSeq == Seq((2L, 1L, 1.0))) // small fully contained in big
    // and the Jaccard twin at the same threshold finds nothing
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.8).count() == 0)
  }

  test("agreementKappa: perfect agreement → 1, independence → ~0, degenerate → null") {
    import spark.implicits._
    val perfect = Seq(("x", "x"), ("y", "y"), ("x", "x")).toDF("a", "b")
    val p = Profile.agreementKappa(perfect, col("a"), col("b")).collect().head
    assert(p.getDouble(4) == 1.0 && p.getLong(0) == 3L && p.getLong(1) == 2L)
    // marginals independent: po = pe exactly -> kappa 0
    val indep = Seq(("x", "x"), ("x", "y"), ("y", "x"), ("y", "y")).toDF("a", "b")
    val i = Profile.agreementKappa(indep, col("a"), col("b")).collect().head
    assert(i.getDouble(2) == 0.5 && i.getDouble(3) == 0.5 && i.getDouble(4) == 0.0)
    val degen = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    assert(Profile.agreementKappa(degen, col("a"), col("b")).collect().head.isNullAt(4))
  }

  test("groupCentroids: exact per-dim means, 1-based dims, null vectors excluded") {
    import spark.implicits._
    val df = Seq(
      (1, Array(1.0f, 2.0f)), (1, Array(3.0f, 6.0f)),
      (2, Array(10.0f, 0.0f)), (2, null.asInstanceOf[Array[Float]]))
      .toDF("lbl", "vec")
    val m = graft.ext.Similarity.groupCentroids(df, col("lbl"), col("vec"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m == Map((1, 1L) -> 2.0, (1, 2L) -> 4.0, (2, 1L) -> 10.0, (2, 2L) -> 0.0))
  }

  test("cooccurrenceCosine: Ochiai normalization, minCo floor, hub basket excluded") {
    import spark.implicits._
    // baskets: b1={x,y}, b2={x,y}, b3={x,z}, b4={x,z}, hub={x,y,z,w} (cap 3)
    val e = Seq(("b1", "x"), ("b1", "y"), ("b2", "x"), ("b2", "y"),
      ("b3", "x"), ("b3", "z"), ("b4", "x"), ("b4", "z"),
      ("h", "x"), ("h", "y"), ("h", "z"), ("h", "w")).toDF("bk", "it")
    val r = Graph.cooccurrenceCosine(e, "bk", "it", maxDegree = 3, minCo = 2)
      .collect().map(x => (x.getString(0), x.getString(1)) -> ((x.getLong(2), x.getDouble(3))))
      .toMap
    // kept universe: n_x=4, n_y=2, n_z=2; co(x,y)=2, co(x,z)=2; (y,z) never co-occur
    assert(r.keySet == Set(("x", "y"), ("x", "z")))
    assert(r(("x", "y")) == ((2L, 2.0 / math.sqrt(8.0))))
    assert(r(("x", "z")) == ((2L, 2.0 / math.sqrt(8.0))))
  }

  test("fdProfile: exact dependency certifies 1.0; violations counted per key") {
    import spark.implicits._
    val df = Seq((1L, "x", "p"), (1L, "x", "q"), (2L, "y", "p"), (3L, "x", "p"),
      (3L, "x", "p")).toDF("k", "dep_ok", "dep_bad")
    val m = Profile.fdProfile(df, Seq("k" -> "dep_ok", "k" -> "dep_bad"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(m("k->dep_ok") == ((3L, 0L, 1.0)))
    assert(m("k->dep_bad") == ((3L, 1L, 1.0 - 1.0 / 3.0))) // key 1 maps to {p,q}
  }
}

/** Collects tokenDiversity output into a comparable map. */
private object TokenDiversityFixture {
  def run(docs: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long, Double, Double, Double)] =
    TextAnalysis.tokenDiversity(docs, col("id"), col("txt"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
}
