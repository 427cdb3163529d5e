package graft.ext

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Semantics coverage for the round-10 expansion operators. */
class ZenithSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = graft.GraftSession.local("zenith-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  test("spearmanCorr: monotone = 1e6, anti-monotone = -1e6, ties use average ranks") {
    import spark.implicits._
    val df = (Seq.tabulate(5)(i => ("mono", (i + 1).toDouble, ((i + 1) * (i + 1)).toDouble)) ++
      Seq.tabulate(5)(i => ("anti", (i + 1).toDouble, -(i + 1).toDouble)) ++
      // hand-folded tie case: x=[1,1,2] y=[3,4,5] -> rho = 18/sqrt(18*24)
      Seq(("tie", 1.0, 3.0), ("tie", 1.0, 4.0), ("tie", 2.0, 5.0)))
      .toDF("g", "x", "y")
    val out = Profile.spearmanCorr(df, $"g", $"x", $"y")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("mono") == 1000000L)
    assert(out("anti") == -1000000L)
    assert(out("tie") == 866025L) // floor(0.8660254*1e6 + .5)
  }

  test("spearmanCorr: constant column has zero rank variance -> null rho") {
    import spark.implicits._
    val df = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 1.0)).toDF("g", "x", "y")
    val r = Profile.spearmanCorr(df, $"g", $"x", $"y").collect()
    assert(r.length == 1 && r.head.isNullAt(2))
  }

  test("mannWhitney: fully separated samples hit max U and the hand-folded z2") {
    import spark.implicits._
    val df = (Seq(10, 11, 12).map(v => ("g", true, v.toLong)) ++
      Seq(1, 2, 3).map(v => ("g", false, v.toLong))).toDF("g", "a", "v")
    val r = Profile.mannWhitney(df, $"g", $"a", $"v").collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L)        // n_a, n_b
    assert(r.getLong(3) == 18L)                             // 2U = 2*9 (max)
    // z2 = (18-9)^2 * 3*6*5 / (9 * (7*6*5 - 0)) = 3.857...
    assert(r.getLong(4) == 3857L)
    assert(r.getBoolean(5))                                 // 3857 >= 3841
  }

  test("mannWhitney: identical samples give U at its mean and z2 = 0") {
    import spark.implicits._
    val df = (Seq(1, 2, 3).map(v => ("g", true, v.toLong)) ++
      Seq(1, 2, 3).map(v => ("g", false, v.toLong))).toDF("g", "a", "v")
    val r = Profile.mannWhitney(df, $"g", $"a", $"v").collect().head
    assert(r.getLong(3) == 9L)   // 2U = n_a*n_b when the samples mirror
    assert(r.getLong(4) == 0L && !r.getBoolean(5))
  }

  test("bootstrapCi: constant metric pins every replica mean to the constant") {
    import spark.implicits._
    val df = Seq.tabulate(30)(i => ("g", i.toLong, 7L)).toDF("g", "id", "v")
    val r = Profile.bootstrapCi(df, $"g", $"id", $"v", b = 40).collect().head
    assert(r.getLong(1) == 30L)                  // n
    assert(r.getLong(2) == 7000000L)             // mean_micro
    assert(r.getLong(3) == 40L)                  // every replica nonempty here
    assert(r.getLong(4) == 7000000L && r.getLong(5) == 7000000L)
  }

  test("bootstrapCi: deterministic across runs, lo <= hi, point inside a sane band") {
    import spark.implicits._
    val df = Seq.tabulate(60)(i => ("g", i.toLong, (i % 13).toLong + 1L)).toDF("g", "id", "v")
    val a = Profile.bootstrapCi(df, $"g", $"id", $"v", b = 40).collect().head
    val b2 = Profile.bootstrapCi(df, $"g", $"id", $"v", b = 40).collect().head
    assert(a == b2)
    assert(a.getLong(4) <= a.getLong(5))
    assert(a.getLong(4) <= a.getLong(2) + 1500000L && a.getLong(5) >= a.getLong(2) - 1500000L)
  }

  test("hits: the hub covering every authority and the authority covered by every hub win") {
    import spark.implicits._
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("s", "d")
    val out = Graph.hits(e, "s", "d", iters = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val auth = out.filter(_._1 == "auth").sortBy(-_._3)
    val hub = out.filter(_._1 == "hub").sortBy(-_._3)
    assert(auth.map(_._2).toSeq == Seq(10L, 11L))
    assert(hub.map(_._2).toSeq == Seq(1L, 2L))
    // l-inf normalization: each side's max is exactly 1e6
    assert(auth.head._3 == 1000000L && hub.head._3 == 1000000L)
    assert(auth.last._3 < 1000000L && hub.last._3 < 1000000L)
  }

  /** Plain-Scala HITS: BigInt ppm scores, floor division, ℓ∞ per
    * half-round. A null source never joins a hub; a null destination is
    * an authority node; a null-source edge into a scored authority is a
    * hub node.
    */
  private def referenceHits(edges: Seq[(Option[Long], Option[Long])], iters: Int)
      : Set[(String, Option[Long], Long)] = {
    val e = edges.distinct
    val ppm = BigInt(1000000)
    def norm(raw: Map[Option[Long], BigInt]): Map[Option[Long], BigInt] =
      if (raw.isEmpty) raw
      else { val mx = raw.values.max; raw.map { case (n, r) => n -> r * ppm / mx } }
    var hub: Map[Option[Long], BigInt] = e.map(_._1 -> ppm).toMap
    var auth = Map.empty[Option[Long], BigInt]
    for (_ <- 1 to iters) {
      auth = norm(e.filter(x => x._1.isDefined && hub.contains(x._1))
        .groupMapReduce(_._2)(x => hub(x._1))(_ + _))
      hub = norm(e.filter(x => x._2.isDefined && auth.contains(x._2))
        .groupMapReduce(_._1)(x => auth(x._2))(_ + _))
    }
    auth.map { case (n, v) => ("auth", n, v.toLong) }.toSet ++
      hub.map { case (n, v) => ("hub", n, v.toLong) }.toSet
  }

  test("hits: matches a BigInt reference on random graphs across partitions and join strategies") {
    import spark.implicits._
    val confs = Seq(
      Map("spark.sql.shuffle.partitions" -> "1"),
      Map("spark.sql.shuffle.partitions" -> "7"),
      Map("spark.sql.shuffle.partitions" -> "7", "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    val keys = confs.flatMap(_.keys).distinct
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try for (seed <- Seq(11L, 12L)) {
      val rnd = new scala.util.Random(seed)
      def node = if (rnd.nextInt(12) == 0) None else Some(rnd.nextInt(9).toLong)
      val base = Seq.fill(30)((node, node))
      // duplicates, self-loops and null endpoints all present; node 9 is
      // reached only by a null source
      val edges = base ++ base.take(6) ++
        Seq((Some(3L), Some(3L)), (None, Some(4L)), (Some(5L), None), (None, Some(9L)))
      val df = edges.toDF("s", "d")
      for (conf <- confs; iters <- Seq(1, 2, 5)) {
        keys.foreach(k => saved(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        val got = Graph.hits(df, "s", "d", iters).collect()
          .map(r => (r.getString(0), Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2)))
        assert(got.length == got.toSet.size)
        assert(got.toSet == referenceHits(edges, iters), s"seed $seed, iters $iters, $conf")
      }
    } finally keys.foreach(k => saved(k).fold(spark.conf.unset(k))(spark.conf.set(k, _)))
  }

  test("hits and stationaryDistribution free every pin when the input is empty") {
    import spark.implicits._
    val sc = spark.sparkContext
    def pinned = sc.getPersistentRDDs.keySet.toSet
    val before = pinned
    val e1 = intercept[IllegalArgumentException](
      Graph.hits(Seq.empty[(Long, Long)].toDF("s", "d"), "s", "d", iters = 2))
    assert(e1.getMessage.contains("no edges"))
    assert(pinned.diff(before).isEmpty, "hits left checkpoint blocks registered")
    val e2 = intercept[IllegalArgumentException](Graph.stationaryDistribution(
      Seq.empty[(String, String, Long)].toDF("f", "t", "p"), "f", "t", "p", iters = 2))
    assert(e2.getMessage.contains("no transitions"))
    assert(pinned.diff(before).isEmpty, "stationaryDistribution left checkpoint blocks registered")
    // pageRank's and personalizedPageRank's edge and degree pins, on
    // each input their requires reject after pinning
    val none = Seq.empty[(Long, Long)].toDF("s", "d")
    val e3 = intercept[IllegalArgumentException](Graph.pageRank(none, "s", "d", iters = 2))
    assert(e3.getMessage.contains("no edges"))
    assert(pinned.diff(before).isEmpty, "pageRank (no edges) left checkpoint blocks registered")
    // 20k nodes at the default ppm unit: 50 rank units per node, < 100
    val path = spark.range(20000L).select(col("id").as("s"), (col("id") + 1L).as("d"))
    val e4 = intercept[IllegalArgumentException](Graph.pageRank(path, "s", "d", iters = 2))
    assert(e4.getMessage.contains("raise rankUnit"))
    assert(pinned.diff(before).isEmpty, "pageRank (rankUnit) left checkpoint blocks registered")
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    val e5 = intercept[IllegalArgumentException](Graph.personalizedPageRank(
      edges, "s", "d", Seq(7L).toDF("seed"), "seed", iters = 2))
    assert(e5.getMessage.contains("no seed appears"))
    assert(pinned.diff(before).isEmpty,
      "personalizedPageRank (no seed) left checkpoint blocks registered")
    val e6 = intercept[IllegalArgumentException](Graph.personalizedPageRank(
      path, "s", "d", spark.range(20000L).toDF("seed"), "seed", iters = 2))
    assert(e6.getMessage.contains("raise rankUnit"))
    assert(pinned.diff(before).isEmpty,
      "personalizedPageRank (rankUnit) left checkpoint blocks registered")
  }

  test("a pin declares only the partition count its blocks have; free takes only pins") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    import spark.implicits._
    val sc = spark.sparkContext
    def pinned = sc.getPersistentRDDs.keySet.toSet
    val before = pinned
    def pin() = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("s", "d")
      .repartition(3, col("s")).localCheckpoint()
    val e = intercept[IllegalStateException](Graph.declare(pin(), Seq("s"), 4, sorted = false))
    assert(e.getMessage.contains("declared 4 partitions, materialized 3"), e.getMessage)
    assert(pinned.diff(before).isEmpty, "a refused declaration left its pin registered")
    val ok = Graph.declare(pin(), Seq("s"), 3, sorted = false)
    ok.queryExecution.analyzed match {
      case l: LogicalRDD =>
        assert(l.outputPartitioning == HashPartitioning(l.output.take(1), 3))
        assert(l.outputOrdering.isEmpty)
      case p => fail(s"declared pin is rooted at ${p.nodeName}")
    }
    assert(ok.collect().length == 3)
    val notPin = intercept[IllegalArgumentException](Graph.free(ok.select("s")))
    assert(notPin.getMessage.contains("not a pin"), notPin.getMessage)
    Graph.free(ok)
    assert(pinned.diff(before).isEmpty, "free left the declared pin registered")
  }

  test("mapMrrAtK: hand-folded AP terms, no-hit and beyond-k behavior") {
    import spark.implicits._
    // q1: rel at ranks 1 and 3 -> apnum = 1e6 + 666666, /2;
    // q3: only hit at rank 12 (beyond k=10)
    val base = Seq(
      ("q1", 1L, 30L, true), ("q1", 2L, 20L, false), ("q1", 3L, 10L, true),
      ("q2", 1L, 30L, false), ("q2", 2L, 20L, false)) ++
      Seq.tabulate(12)(i => ("q3", i.toLong, (100 - i).toLong, i == 11))
    val out = Retrieval.mapMrrAtK(base.toDF("q", "i", "s", "r"),
        $"q", $"i", $"s", $"r", k = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
      .toMap
    assert(out("q1") == ((3L, 2L, (1000000L + 666666L) / 2, 1000000L)))
    assert(out("q2") == ((2L, 0L, -1L, 0L)))          // no rel -> null AP, rr 0
    assert(out("q3") == ((12L, 1L, 0L, 0L)))          // hit past k -> AP 0, rr 0
  }

  test("collocations: fixed phrase tops lift; marginals and N come from the bigram relation") {
    import spark.implicits._
    val docs = Seq("x a b y", "z a b w", "a b").toDF("text")
    val out = TextAnalysis.collocations(docs, $"text", minCount = 2L).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getString(0), r.getString(1)) == (("a", "b")))
    assert(r.getLong(2) == 3L && r.getLong(3) == 3L && r.getLong(4) == 3L)
    // lift = 3 * 7 * 1e6 / (3*3), truncated
    assert(r.getLong(5) == 2333333L)
  }

  test("collocations: minCount gates output but not the marginals") {
    import spark.implicits._
    val docs = Seq("a b", "a b", "a c").toDF("text")
    // pairs: (a,b) x2, (a,c) x1; c_x(a) = 3 counts BOTH pairs
    val out = TextAnalysis.collocations(docs, $"text", minCount = 2L).collect()
    assert(out.length == 1 && out.head.getLong(3) == 3L)
  }

  test("powerIterationPC: variance axis wins, orthogonal dim collapses to 0") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(-1.0f, 0.0f)),
      (3L, Seq(2.0f, 0.0f)), (4L, Seq(-2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.powerIterationPC(vecs, "vec_id", "embedding", iters = 3)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0)._1 == 0L && out(1)._1 == 0L)        // centered means
    assert(math.abs(out(0)._2) == 1000000L)           // the dominant axis
    assert(out(1)._2 == 0L)
  }

  test("ksTest: separated samples hit D = 1e6; identical samples hit 0; small n not significant") {
    import spark.implicits._
    val sep = (Seq(1, 2, 3).map(v => ("g", true, v.toLong)) ++
      Seq(4, 5, 6).map(v => ("g", false, v.toLong))).toDF("g", "a", "v")
    val r = Profile.ksTest(sep, $"g", $"a", $"v").collect().head
    assert(r.getLong(1) == 3L && r.getLong(2) == 3L)
    assert(r.getLong(3) == 1000000L)          // disjoint supports: max gap
    assert(!r.getBoolean(4))                  // n=3+3 is far below the 95% line
    val same = (Seq(1, 2, 3).map(v => ("g", true, v.toLong)) ++
      Seq(1, 2, 3).map(v => ("g", false, v.toLong))).toDF("g", "a", "v")
    val r2 = Profile.ksTest(same, $"g", $"a", $"v").collect().head
    assert(r2.getLong(3) == 0L && !r2.getBoolean(4))
  }

  test("ksTest: a large separated sample clears the 95% line") {
    import spark.implicits._
    val df = (Seq.tabulate(60)(i => ("g", true, i.toLong)) ++
      Seq.tabulate(60)(i => ("g", false, 100L + i))).toDF("g", "a", "v")
    val r = Profile.ksTest(df, $"g", $"a", $"v").collect().head
    assert(r.getLong(3) == 1000000L && r.getBoolean(4))
  }

  test("assortativity: star graph = -1e6, degree-regular cycle = null") {
    import spark.implicits._
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("s", "d")
    val r = Graph.assortativity(star, "s", "d").collect().head
    assert(r.getLong(0) == 6L)                // both orientations of 3 edges
    assert(r.getLong(1) == -1000000L)         // perfectly disassortative
    val cycle = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)).toDF("s", "d")
    val r2 = Graph.assortativity(cycle, "s", "d").collect().head
    assert(r2.getLong(0) == 8L && r2.isNullAt(1)) // zero degree variance
  }

  test("silhouetteScore: two orthogonal tight clusters score near 1e6 each") {
    import spark.implicits._
    // ids 0 and 1 seed one centroid in each cluster (init = vid < k)
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (4L, Seq(0.8f, 0.2f)),
      (1L, Seq(0.0f, 1.0f)), (3L, Seq(0.1f, 0.9f)), (5L, Seq(0.2f, 0.8f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.silhouetteScore(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(0L, 1L))
    assert(out.values.forall(_._1 == 3L))
    assert(out.values.forall(_._2 > 600000L), s"tight clusters should score high: $out")
  }

  test("oneWayAnova: hand-folded F for separated means; identical cells give 0") {
    import spark.implicits._
    val df = (Seq(1, 2, 3).map(v => ("g", "A", v.toLong)) ++
      Seq(7, 8, 9).map(v => ("g", "B", v.toLong))).toDF("g", "c", "v")
    val r = Profile.oneWayAnova(df, $"g", $"c", $"v").collect().head
    assert(r.getLong(1) == 2L && r.getLong(2) == 6L)
    assert(r.getLong(3) == 54000L) // F = 54 exactly in the milli fold
    val same = (Seq(1, 2, 3).map(v => ("g", "A", v.toLong)) ++
      Seq(1, 2, 3).map(v => ("g", "B", v.toLong))).toDF("g", "c", "v")
    assert(Profile.oneWayAnova(same, $"g", $"c", $"v").collect().head.getLong(3) == 0L)
  }

  test("brownForsythe: catches a spread shift that plain ANOVA misses (equal means)") {
    import spark.implicits._
    val df = (Seq(5, 5, 5).map(v => ("g", "A", v.toLong)) ++
      Seq(1, 5, 9).map(v => ("g", "B", v.toLong))).toDF("g", "c", "v")
    assert(Profile.oneWayAnova(df, $"g", $"c", $"v").collect().head.getLong(3) == 0L)
    val lv = Profile.brownForsythe(df, $"g", $"c", $"v").collect().head
    assert(lv.getLong(3) == 4000L) // hand fold: F = 4 on |v − median|
  }

  test("stationaryDistribution: converges to the hand-solved chain; sink mass renormalizes") {
    import spark.implicits._
    // A: 0.5 self, 0.5 -> B; B: 1.0 -> A  =>  pi = (2/3, 1/3)
    val tm = Seq(("A", "A", 500000000L), ("A", "B", 500000000L), ("B", "A", 1000000000L))
      .toDF("f", "t", "p")
    val pi = Graph.stationaryDistribution(tm, "f", "t", "p", iters = 6)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(pi("A") - 666666L) < 20000L, pi.toString)
    assert(math.abs(pi("A") + pi("B") - 1000000L) <= 2L)
    // a transition into an unknown state drops its mass: A -> B kept,
    // B -> C dropped (C never emits), so all mass ends on B
    val sink = Seq(("A", "B", 1000000000L), ("B", "C", 1000000000L)).toDF("f", "t", "p")
    val pi2 = Graph.stationaryDistribution(sink, "f", "t", "p", iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pi2 == Map("A" -> 0L, "B" -> 1000000L), pi2.toString)
  }

  test("powerIterationPC: centering removes a common offset from the component") {
    import spark.implicits._
    // same cloud as above but shifted +10 on dim1: PC must not tilt
    val vecs = Seq(
      (1L, Seq(1.0f, 10.0f)), (2L, Seq(-1.0f, 10.0f)),
      (3L, Seq(2.0f, 10.0f)), (4L, Seq(-2.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.powerIterationPC(vecs, "vec_id", "embedding", iters = 3)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1)._1 == 10000L)                       // mean_q at quant 1000
    assert(math.abs(out(0)._2) == 1000000L && out(1)._2 == 0L)
  }
}
