package graft.ext

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftStreamBridge}
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Distributed graph connectivity for dedup clustering.
  *
  * The near-dup generators ([[Dedup.minhashLshPairs]], simhash, Jaccard,
  * embedding near-dup) emit PAIRS; an actual dedup needs CLUSTERS — a
  * doc near-dup with B which is near-dup with C must collapse with C
  * even if (A, C) itself was never emitted. That transitive closure is
  * connected components over the pair graph.
  *
  * Algorithm: hash-to-min label propagation with pointer jumping
  * ("Connected Components in MapReduce and Beyond", Kiveris et al.,
  * SoCC'14 — the min-label family). Each round:
  *
  *   1. neighbor-min — every node offers its current component label to
  *      each neighbor; labels relax to the min (one shuffle on node id);
  *   2. pointer jumping — `comp := comp(comp)` (one self-join on the
  *      label relation), which halves the length of any remaining label
  *      chain, so convergence is O(log d) rounds for diameter d, not
  *      O(d) as plain propagation would be.
  *
  * Scale posture: state per round is one (id, comp) row per node — far
  * smaller than the input corpus — and the edge relation is checkpointed
  * once and re-read each round. No collect(): the only driver-side value
  * is the per-round convergence count. Labels only ever decrease, so the
  * fixpoint (every node labeled with its component's min id) is
  * deterministic regardless of partitioning.
  */
object Graph {

  /** Pin a STATIC relation of an iterative operator in scope `p`:
    * materialized, hash-partitioned on `keys` and sorted by them within
    * each partition, with that layout DECLARED on the returned frame
    * (see [[declare]]), so a per-round join or aggregate keyed the same
    * way reads the pin with no Exchange and no Sort.
    *
    * Two passes, both planned as the session plans everything else.
    * Pass 1 materializes the relation once and reads its real stored
    * size; pass 2 re-keys the BLOCKS (not the lineage) into
    * `clamp(bytes/advisory, 1, shuffle.partitions)` hash partitions,
    * SORTED by the key. Partition-count rationale (guide §2): the
    * co-partitioned per-round join must match the pin's partitioning
    * exactly, so AQE can never coalesce those round stages — a pin at
    * raw shuffle.partitions forced 3×32-task stages per round over an
    * 0.4 MB sf0.1 graph (a per-job listener probe: round wall ~0.5 s
    * of pure task overhead, 2× the un-pinned shape). Deriving the count
    * from the measured size — one partition per
    * advisoryPartitionSizeInBytes, the same target AQE coalesces to —
    * keeps rounds at the task count the data warrants at ANY scale,
    * capped at shuffle.partitions (the per-deploy knob). The declared
    * SORT lets per-round sort-merge joins read the pinned side with no
    * Sort either (the bucketed+sorted-table shape); partitioning alone
    * measured 20-50% slower (q205/q153) — it traded the round's
    * Exchange for an edge-sized per-round SortExec.
    *
    * Pass 2 is a LAZY checkpoint: adaptive planning runs its shuffle
    * stage at the call, so the flat pass-1 blocks are consumed (and
    * freed) here, while the sorted blocks materialize inside the first
    * job that reads the pin — one Spark job for the pass, as an eager
    * checkpoint of a shuffle-free plan would be.
    */
  private[ext] def pinByKey(p: Pins, df: DataFrame, keys: String*): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val flat = p.pin(df, eager = true)
    val flatId = root(flat).rdd.id
    val bytes = sc.getRDDStorageInfo
      .filter(_.id == flatId).map(i => i.memSize + i.diskSize).sum
    // AQE's own parallelismFirst coalescing policy, applied to the pin:
    // partition target = bytes/parallelism clamped to [minPartitionSize,
    // advisorySize], count capped at shuffle.partitions — big relations
    // keep every core busy, small ones don't spray task-overhead across
    // rounds (a raw shuffle.partitions pin measured 2× on sf0.1 graphs)
    val advisory = confBytes(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")
    val minSize = confBytes(spark, "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
    val maxN = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val target = math.max(minSize,
      math.min(advisory, bytes / math.max(1, sc.defaultParallelism)))
    val n = math.max(1L, math.min(maxN.toLong, (bytes + target - 1) / target)).toInt
    val k = keys.map(col)
    val sized = declare(p.pin(flat.repartition(n, k: _*).sortWithinPartitions(k: _*)),
      keys, n, sorted = true)
    p.free(flat) // the sized pin replaces the flat one
    sized
  }

  /** The static relations of [[pageRank]] and [[personalizedPageRank]]:
    * the distinct edges pinned on `__src`, and their out-degrees. The
    * degree aggregate reads the pinned edges with no Exchange, so its
    * blocks keep the edges' partitions; it is pinned with that layout
    * declared (unsorted: a hash aggregate emits no order) and feeds two
    * joins per round plus the rank init.
    */
  private def pinEdgesAndDegrees(
      p: Pins, edges: DataFrame, srcCol: String, dstCol: String): (DataFrame, DataFrame) = {
    val e = pinByKey(p,
      edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst")).distinct(), "__src")
    (e, declare(p.pin(e.groupBy(col("__src")).agg(count(lit(1)).as("__deg")), eager = true),
      Seq("__src"), root(e).rdd.getNumPartitions, sorted = false))
  }

  /** Re-root a checkpointed `pin` under the layout of the plan that
    * built it: `keys` hash-partitioned into `n` partitions
    * (`SinglePartition` when n = 1, as `repartition(1, …)` plans it),
    * plus ascending key order when `sorted`. Adaptive execution hands a
    * checkpoint an opaque partitioning, so the layout is stated here
    * instead of read back from the executed plan, and no session conf
    * is touched. A declaration the blocks do not honour would let a
    * keyed join pair rows from different partitions, so the RDD's
    * partition count must equal `n`; a mismatch fails (and the
    * [[withPins]] scope holding the pin frees it). The one exception is an EMPTY pin: adaptive planning
    * replaces an empty relation by a zero-partition scan, which has no
    * layout to declare, so it is returned as it is.
    */
  private[ext] def declare(pin: DataFrame, keys: Seq[String], n: Int, sorted: Boolean): DataFrame = {
    val l = root(pin)
    val got = l.rdd.getNumPartitions
    if (got == 0) pin
    else if (got != n) throw new IllegalStateException(
      s"pin on ${keys.mkString(", ")}: declared $n partitions, materialized $got")
    else {
      val attrs = keys.map(k => l.output.find(_.name == k).get)
      val partitioning = if (n == 1) SinglePartition else HashPartitioning(attrs, n)
      val ordering = if (sorted) attrs.map(SortOrder(_, Ascending)) else Nil
      // makeCopy carries the second parameter list over (session, and
      // the origin plan's statistics that broadcast decisions read)
      GraftStreamBridge.ofRows(pin.sparkSession, l.makeCopy(Array(
        l.output, l.rdd, partitioning, ordering, Boolean.box(l.isStreaming), l.stream)))
    }
  }

  private def root(pin: DataFrame): LogicalRDD = pin.queryExecution.logical match {
    case l: LogicalRDD => l
    case p => throw new IllegalArgumentException(
      s"not a pin: the frame's logical root is ${p.nodeName}, not a LogicalRDD")
  }

  /** The pins one call of an iterative operator holds. Every iterative
    * operator takes its checkpoints through one of these (see
    * [[withPins]]), and the scope keeps the one rule they share: every
    * pin is freed on every exit path, exceptions and cancellations
    * included, except the pins that back the returned frame. A local
    * checkpoint's blocks are otherwise freed only once a driver GC
    * proves its RDD unreachable, which on a big heap can be never.
    *
    *  - `pin(df)` checkpoints `df` LAZILY and holds the pin; its blocks
    *    materialize inside the first job that reads it.
    *    `pin(df, eager = true)` then runs that job at once, as one RDD
    *    action on the held pin: the job an eager `localCheckpoint` runs,
    *    without its gap (when an eager checkpoint's own job fails, no
    *    frame comes back to free, and its RDD stays registered until a
    *    driver GC).
    *  - `hold(pin)` holds a frame that already is a pin. [[hits]]'s
    *    half-rounds are the one eager `localCheckpoint` left, because
    *    `Dataset.observe` reports only from the checkpoint's own SQL
    *    execution; a failed half-round job there keeps the gap.
    *  - `free(pins*)` drops pins now, once every job that reads them has
    *    run.
    *  - `keep(pins*)` marks the pins that back the returned frame.
    *
    * When the body returns, [[withPins]] frees every held pin that is
    * not kept; when it throws, every held pin. A pin is a frame whose
    * logical root is a checkpoint's LogicalRDD (what `localCheckpoint`,
    * `pin` and [[declare]] return), and any other frame is refused. It
    * is tracked by that root's RDD, so a [[declare]]d re-rooting of a
    * held pin is that pin.
    * The scope knows only the frames handed to it: it diffs no global
    * RDD registry and touches no session conf.
    */
  private[ext] final class Pins private[Graph] () {
    private val held = scala.collection.mutable.LinkedHashSet.empty[RDD[_]]
    private val backing = scala.collection.mutable.Set.empty[RDD[_]]

    def pin(df: DataFrame, eager: Boolean = false): DataFrame = {
      val ck = hold(df.localCheckpoint(eager = false))
      val rdd = root(ck).rdd
      // an eager checkpoint's job covers the partitions it lacks: none
      // when adaptive planning emptied the relation to zero partitions
      if (eager && rdd.getNumPartitions > 0) rdd.count()
      ck
    }

    def hold(pin: DataFrame): DataFrame = { held += root(pin).rdd; pin }

    def free(pins: DataFrame*): Unit = pins.map(root(_).rdd).foreach { rdd =>
      rdd.unpersist(false)
      held -= rdd
    }

    def keep(pins: DataFrame*): Unit = backing ++= pins.map(root(_).rdd)

    private[Graph] def release(all: Boolean): Unit =
      held.foreach(rdd => if (all || !backing(rdd)) rdd.unpersist(false))
  }

  /** Run `body` in a fresh [[Pins]] scope. */
  private[ext] def withPins[T](body: Pins => T): T = {
    val p = new Pins
    val out = try body(p) catch { case t: Throwable => p.release(all = true); throw t }
    p.release(all = false)
    out
  }

  /** A byte-size session conf, parsed as Spark parses it: a leading `-`
    * negates, so `-1` (a disabled threshold) stays below every size.
    */
  private def confBytes(
      spark: org.apache.spark.sql.SparkSession, key: String, dflt: String): Long = {
    val v = spark.conf.get(key, dflt).trim
    val b = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v.stripPrefix("-"))
    if (v.startsWith("-")) -b else b
  }

  /** Connected components of an undirected graph given as an edge list.
    * Returns one row per node that appears in any edge: (id, comp) where
    * comp is the smallest node id in the component. Self-loops are
    * ignored; edges are treated as undirected.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 25): DataFrame = withPins { p =>
    val e = edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
    // undirected: keep both orientations so one join propagates both
    // ways; pinned CO-PARTITIONED on the round join key so each round
    // exchanges only the node-sized label state, never the edges
    val bidir = pinByKey(p,
      e.union(e.select(col("d").as("s"), col("s").as("d")))
        .filter(col("s") =!= col("d"))
        .distinct(), "s")
    // Initial labels fold the first relax in: comp = min(id, neighbors).
    // The plain id-labeled start would spend a whole round reaching this.
    var lbl = p.pin(bidir.groupBy(col("s").as("id"))
      .agg(least(min(col("d")), col("s")).as("comp")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val offers = bidir
        .join(lbl.withColumnRenamed("id", "s"), "s")
        .select(col("d").as("id"), col("comp"), lit(null).cast("long").as("__old"))
      // __old rides the round through (exactly one lbl row per id, so
      // max-ignoring-nulls recovers it) — convergence is then a filter
      // on the checkpointed output, not a second join against lbl
      val relaxed = lbl.select(col("id"), col("comp"), col("comp").as("__old"))
        .union(offers)
        .groupBy("id").agg(min("comp").as("comp"), max("__old").as("__old"))
      // every comp value is itself a node id, so the jump join is total
      val jumped = p.pin(relaxed
        .join(
          relaxed.select(col("id").as("comp"), col("comp").as("__cc")),
          Seq("comp"))
        .select(col("id"), col("__cc").as("comp"), col("__old")))
      changed = jumped.filter(col("comp") =!= col("__old")).count()
      p.free(lbl) // previous round fully consumed — drop its blocks now
      lbl = jumped
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents: no fixpoint after $maxIter rounds (graph diameter > 2^$maxIter?)")
    p.keep(lbl)
    lbl.select("id", "comp")
  }

  /** Damped PageRank over an edge list, a FIXED number of iterations,
    * in EXACT integer arithmetic: ranks are parts-per-million longs,
    * per-edge contribution is `rank div out_degree` (integer floor
    * division), and the damped update is
    * `(10⁶ − dampPpm) div N + (dampPpm · inflow) div 10⁶` — every
    * operation is integer, so the result is bit-identical on any
    * engine (a double-valued PageRank never is: the inflow sum is
    * order-dependent). The price is floor-truncation of ≤1 rank unit
    * per arithmetic step — negligible against the ranking use,
    * decisive for verifiability. The resolution bound is explicit:
    * `rankUnit div N` is the initial per-node rank, and each
    * floor-division (per-degree split, teleport term) can eat one
    * unit of it — so the operator FAILS FAST unless
    * `rankUnit div N ≥ 100` (≤1% truncation error per step; anything
    * lower lets ranks silently decay toward zero). Raise `rankUnit`
    * to 10⁹ or beyond for graphs past ~10⁴ nodes; the damping
    * arithmetic is unit-independent (dampPpm stays parts-per-million
    * of whatever unit is chosen).
    *
    * Ranked nodes are the nodes WITH out-edges (rank mass reaching a
    * dangling node leaks — the standard non-redistributing treatment);
    * for an undirected graph pass both orientations and every node
    * ranks. Self-loops count like any edge.
    *
    * Scale posture: per iteration one join of the edge list with the
    * O(N)-row rank relation (both hash-partitioned on the source key,
    * so consecutive iterations reuse the partitioning), one
    * (dst)-keyed aggregation, one broadcast-size left join back to the
    * node list. State is one row per node; the (distinct) edge
    * relation is locally checkpointed ONCE and re-read each iteration
    * — without that every iteration would recompute the whole
    * upstream edge derivation (joins, distinct) from scratch, iters×
    * over. Those pins back the returned frame (see [[withPins]]).
    * Driver-side actions: the checkpoint materialization and the node
    * COUNT (a scalar, same contract as [[connectedComponents]]'s
    * convergence count). The rounds are [[rankRounds]].
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      dampPpm: Long = 850000L,
      rankUnit: Long = 1000000L): DataFrame = {
    requireRankArgs("pageRank", iters, dampPpm, rankUnit)
    withPins { p =>
      val (e, deg) = pinEdgesAndDegrees(p, edges, srcCol, dstCol)
      val n = deg.count()
      require(n > 0, "pageRank: no edges")
      requireRankUnit("pageRank", rankUnit, n, "node")
      rankRounds(p, e, deg,
        deg.select(col("__src").as("node"), lit(rankUnit / n).as("rank_ppm")),
        lit((rankUnit / 1000000L * (1000000L - dampPpm)) / n), None, iters, dampPpm)
    }
  }

  private def requireRankArgs(op: String, iters: Int, dampPpm: Long, rankUnit: Long): Unit = {
    require(iters >= 1 && iters <= 50, s"$op: iters in [1,50], got $iters")
    require(dampPpm >= 0L && dampPpm <= 1000000L, s"$op: dampPpm in [0, 1e6], got $dampPpm")
    // the restart term floors rankUnit/1e6 FIRST, so a rankUnit below
    // 1e6 (or not a multiple of it) silently zeroes it and all rank
    // mass decays to 0 over the rounds
    require(rankUnit >= 1000000L && rankUnit % 1000000L == 0L && rankUnit <= 1000000000000L,
      s"$op: rankUnit must be a multiple of 1e6 in [1e6, 1e12], got $rankUnit")
  }

  /** The resolution bound of [[pageRank]]: `rankUnit` shared by `n`
    * holders of the initial mass must leave each ≥ 100 units. */
  private def requireRankUnit(op: String, rankUnit: Long, n: Long, holder: String): Unit =
    require(rankUnit / n >= 100L,
      s"$op: rankUnit=$rankUnit gives only ${rankUnit / n} units of rank per $holder " +
        s"for $n ${holder}s (need >= 100, or floor-truncation silently decays every rank " +
        "toward 0); raise rankUnit (e.g. 10^9 for graphs past ~10^4 nodes)")

  /** The round loop of [[pageRank]] and [[personalizedPageRank]], from
    * the initial ranks `r0` (node, rank_ppm) over the pinned edges `e`
    * and out-degrees `deg`: per round, inflow = Σ rank div out-degree
    * per destination, and rank = `restart` + dampPpm · inflow div 10⁶.
    * `restart` may read `__seed`, the mark `gate` left-joins onto the
    * nodes. Each round adds 3 joins to the rank lineage; at iters = 50
    * an uncheckpointed chain would nest a 150-join analyzer tree and a
    * task retry would recompute the whole history, so every 5 rounds
    * the ranks are pinned (materialized by a count) and the superseded
    * cadence pin freed. The last cadence pin, `e` and `deg` back the
    * returned (lazy) relation.
    */
  private def rankRounds(
      p: Pins, e: DataFrame, deg: DataFrame, r0: DataFrame,
      restart: Column, gate: Option[DataFrame], iters: Int, dampPpm: Long): DataFrame = {
    var r = r0
    var cadence = Option.empty[DataFrame]
    for (i <- 1 to iters) {
      val inflow = e
        .join(r.withColumnRenamed("node", "__src"), "__src")
        .join(deg, "__src")
        .select(col("__dst"), expr("rank_ppm div __deg").as("__c"))
        .groupBy(col("__dst"))
        .agg(sum(col("__c")).as("__s"))
      val nodes = deg.select(col("__src").as("node"))
        .join(inflow.withColumnRenamed("__dst", "node"), Seq("node"), "left")
      r = gate.fold(nodes)(nodes.join(_, Seq("node"), "left"))
        .select(col("node"),
          (restart + expr(s"${dampPpm}L * coalesce(__s, 0L) div 1000000L")).as("rank_ppm"))
      if (i % 5 == 0 && i < iters) {
        val ck = p.pin(r)
        ck.count()
        p.free(cadence.toSeq: _*)
        cadence = Some(ck)
        r = ck
      }
    }
    p.keep(Seq(e, deg) ++ cadence: _*)
    r
  }

  /** HITS hubs & authorities (Kleinberg JACM'99): mutual-reinforcement
    * scoring of a directed graph — a node is a good authority when
    * good hubs point at it, a good hub when it points at good
    * authorities. The complement to [[pageRank]]'s single-score
    * endorsement walk: HITS separates "collects the good stuff" from
    * "is the good stuff", the shape that matters on bipartite
    * curation graphs (consumers → producers, queries → documents).
    *
    * Integer power iteration, engine-exact: scores live in ppm longs;
    * each half-round is one keyed join + one aggregate, then an
    * ℓ∞ normalization (score·10⁶ div max) so the iteration can't
    * decay or overflow — the same fixed-point discipline as
    * [[pageRank]]'s rankUnit. Aggregates accumulate in DECIMAL(38,0):
    * a 10⁹-degree authority at ppm scale tops out near 10²¹, past a
    * long but nowhere near the decimal rail. Round 1 needs no join:
    * every hub starts at 10⁶, so an authority's raw score is 10⁶ · its
    * in-degree over edges with a non-null source. A null source never
    * joins (it contributes nothing); a null destination is a null
    * authority node, and a null-source edge into a scored authority
    * yields a null hub node.
    *
    * Driver work: three Spark jobs per half-round — the state's
    * broadcast, the join + partial-aggregate shuffle, and the final
    * aggregate, run as one EAGER checkpoint whose job also observes the
    * aggregate's max and row count (`Dataset.observe`). The max
    * therefore reaches the driver with the blocks, and normalization is
    * a literal divisor in the next half-round's plan: no max subquery,
    * no broadcast of it, no re-exchange of the state. The count sizes
    * that broadcast and replaces a separate emptiness probe. The
    * distinct edge relation is one lazy, unkeyed checkpoint read by
    * all 2·iters half-rounds; no session conf is touched.
    *
    * Scale: the node state (one row per node of a side) joins the edges
    * by broadcast while rows × row width fit
    * `spark.sql.autoBroadcastJoinThreshold`, so the edges are never
    * shuffled for the join. Past that bound (millions of nodes per
    * side) it is a plain join, and every half-round re-shuffles the
    * edges — the price of dropping the per-key edge pins, which cost
    * two eager pins and a conf flip on every call at catalog sizes.
    * Only the last two half-round checkpoints stay live: they back
    * the returned frame.
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"hits: iters in [1,50], got $iters")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val spark = edges.sparkSession
    val bcastBytes = confBytes(spark, "spark.sql.autoBroadcastJoinThreshold", "10MB")
    withPins { p =>
      val e = p.pin(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d")).distinct())
      // a half-round's pin, its scores ℓ∞-normalized to ppm, its rows
      case class Half(pin: DataFrame, scores: DataFrame, rows: Long)
      // eager-checkpoint a raw (node, __r) aggregate, normalized as `as`
      def half(raw: DataFrame, as: String): Half = {
        val obs = new org.apache.spark.sql.Observation()
        val ck = p.hold(raw.observe(obs, max(col("__r")).as("mx"), count(lit(1)).as("n"))
          .localCheckpoint(eager = true))
        val m = obs.get
        val mx = Option(m("mx")).fold("NULL")(_.asInstanceOf[java.math.BigDecimal].toPlainString)
        Half(ck, ck.select(col("node"),
          expr(s"CAST(__r * 1000000 div CAST($mx AS DECIMAL(38,0)) AS BIGINT)").as(as)),
          m("n").asInstanceOf[Long])
      }
      // one half-round: the `state` scores join the edges on `on`, its
      // `score` sums per `by` node
      def step(state: Half, on: String, by: String, score: String, as: String): Half = {
        val keyed = state.scores.withColumnRenamed("node", on)
        val side =
          if (state.rows * keyed.schema.defaultSize <= bcastBytes) broadcast(keyed) else keyed
        half(e.join(side, on)
          .groupBy(col(by).as("node")).agg(sum(col(score).cast(dec)).as("__r")), as)
      }
      // a destination reached only by null sources has a null sum: it
      // counts toward the emptiness check but is no authority
      val a1 = half(e.groupBy(col("__d").as("node"))
        .agg(sum(when(col("__s").isNotNull, lit(1000000L)).cast(dec)).as("__r")), "a")
      require(a1.rows > 0, "hits: no edges")
      var auth = a1.copy(scores = a1.scores.filter(col("a").isNotNull))
      var hub = step(auth, "__d", "__s", "a", "h")
      // a half-round reads only the one before it; the last two back
      // the returned frame
      for (_ <- 2 to iters) {
        val a = step(hub, "__s", "__d", "h", "a")
        p.free(auth.pin)
        val h = step(a, "__d", "__s", "a", "h")
        p.free(hub.pin)
        auth = a; hub = h
      }
      p.keep(auth.pin, hub.pin)
      auth.scores.select(lit("auth").as("side"), col("node"), col("a").as("score_ppm"))
        .unionByName(
          hub.scores.select(lit("hub").as("side"), col("node"), col("h").as("score_ppm")))
    }
  }

  /** Stationary distribution of a finite Markov chain by integer power
    * iteration (π ← πP — von Mises again, on the q118 transition
    * relation): where does the process spend its time in the long
    * run? The chain-level summary behind session-mix forecasting and
    * steady-state capacity planning, and the undamped cousin of
    * [[pageRank]] (damping 1, empirical transition probabilities
    * instead of uniform out-edges).
    *
    * Input is any (from, to, prob_ppb) relation (the
    * [[graft.ext.Funnel.transitionMatrix]] output shape). States =
    * DISTINCT from-values; transitions into unknown states (absorbing
    * sinks with no outgoing row) drop their mass, and the per-round
    * ℓ₁ renormalization (π·10⁶ div Σ) restores it proportionally —
    * the standard taboo-state treatment, documented rather than
    * hidden. All integer: round mass Σπᵢ·p div 10⁹ in DECIMAL(38,0),
    * the normalizer a broadcast single-row sum (no driver
    * round-trip). States never reached by any transition report 0.
    *
    * Scale: the gated transition relation is checkpointed once
    * (iters consumers); each round is one keyed join + one aggregate
    * on a |states|²-bounded relation, state is one row per state. The
    * superseded round's blocks are freed one round later.
    */
  def stationaryDistribution(
      trans: DataFrame,
      fromCol: String,
      toCol: String,
      probPpbCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"stationaryDistribution: iters in [1,50], got $iters")
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    withPins { p =>
      // the projected transition relation feeds THREE chains before the
      // rounds start (states' distinct, the known-state gate, and the
      // dangling anti-join reads the gate again) — unpinned, the whole
      // upstream derivation (for q261: a window over the events corpus)
      // re-executed per consumer; pin it once (the q37 multi-consumer
      // shape), freed with the transition pin after the rounds
      val t0 = p.pin(trans.select(col(fromCol).cast("string").as("__f"),
        col(toCol).cast("string").as("__t"), col(probPpbCol).cast("long").as("__p")))
      // states = every from-state; transitions gated to known states;
      // a state whose every outgoing edge leaves the chain (dangling
      // after the gate) gets an implicit self-loop so its mass persists
      // instead of annihilating the normalizer — the pageRank dangling-
      // node treatment. Blocks stay live for the returned lazy relation
      // (the pageRank contract).
      val states = p.pin(t0.select(col("__f").as("state")).distinct())
      val gated = t0.join(states.select(col("state").as("__t")), Seq("__t"))
      val dangling = states
        .join(gated.select(col("__f").as("state")).distinct(), Seq("state"), "left_anti")
        .select(col("state").as("__t"), col("state").as("__f"),
          lit(1000000000L).as("__p"))
      // pinned on the per-round join key: rounds read co-partitioned
      // transition blocks, shuffle only state-sized rows
      val e = pinByKey(p, gated.unionByName(dangling), "__f")
      require(e.count() > 0, "stationaryDistribution: no transitions between known states")
      var pi = states.withColumn("pi_ppm", lit(1000000L))
      var prev = Option.empty[DataFrame]
      for (i <- 1 to iters) {
        val raw = p.pin(e.join(pi.withColumnRenamed("state", "__f"), Seq("__f"))
          .groupBy(col("__t").as("state"))
          .agg(expr("CAST(sum(CAST(pi_ppm AS DECIMAL(38,0)) * __p) div 1000000000 AS BIGINT)")
            .as("__r")))
        raw.count()
        pi = raw
          .crossJoin(broadcast(raw.agg(sum(col("__r").cast(dec)).as("__s"))))
          .select(col("state"), expr("CAST(__r * 1000000 div __s AS BIGINT)").as("pi_ppm"))
        p.free(prev.toSeq: _*)
        prev = Some(raw)
      }
      // the result reads states + the final round's blocks, never the
      // transition pin or the t0 projection
      p.keep(states +: prev.toSeq: _*)
      states.join(pi, Seq("state"), "left")
        .select(col("state"), coalesce(col("pi_ppm"), lit(0L)).as("pi_ppm"))
    }
  }

  /** Degree assortativity coefficient (Newman PRL'02): the Pearson
    * correlation of endpoint degrees over all directed edge
    * orientations of an undirected graph — positive when hubs attach
    * to hubs (social cores), negative when hubs fan out to leaves
    * (star/bipartite infrastructure). The one-number mixing summary
    * that predicts how a graph fragments under node removal and how
    * fast dedup clusters percolate.
    *
    * Exactness: degrees are exact integers from the distinct
    * bidirectional edge relation; the five Pearson power sums
    * accumulate in DECIMAL(38,0); one closing IEEE-identical double
    * ratio (the q246 Spearman fold). Output: one row
    * (n_pairs = 2·|E|, r_ppm; null r on a degree-regular graph where
    * the variance vanishes).
    *
    * Scale: the bidirectional relation is checkpointed once (two
    * consumers: the degree aggregate and the pair join); degrees join
    * back by node key — two keyed equi-joins + ONE aggregate, no
    * quadratic anything.
    */
  def assortativity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val e = edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
    val bidir = e.union(e.select(col("d").as("s"), col("s").as("d")))
      .filter(col("s") =!= col("d"))
      .distinct()
      .localCheckpoint(false)
    val deg = bidir.groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
    bidir
      .join(deg.select(col("node").as("s"), col("deg").as("__du")), Seq("s"))
      .join(deg.select(col("node").as("d"), col("deg").as("__dv")), Seq("d"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("__du").cast(dec)).as("__sx"),
        sum(col("__dv").cast(dec)).as("__sy"),
        sum((col("__du") * col("__du")).cast(dec)).as("__sxx"),
        sum((col("__dv") * col("__dv")).cast(dec)).as("__syy"),
        sum((col("__du") * col("__dv")).cast(dec)).as("__sxy"))
      .withColumn("__num",
        (col("n_pairs").cast(dec) * col("__sxy") - col("__sx") * col("__sy")).cast("double"))
      .withColumn("__d1",
        (col("n_pairs").cast(dec) * col("__sxx") - col("__sx") * col("__sx")).cast("double"))
      .withColumn("__d2",
        (col("n_pairs").cast(dec) * col("__syy") - col("__sy") * col("__sy")).cast("double"))
      .select(col("n_pairs"),
        when(col("__d1") > 0.0 && col("__d2") > 0.0,
          floor(col("__num") / sqrt(col("__d1") * col("__d2")) * 1000000.0 + 0.5)
            .cast("long")).as("r_ppm"))
  }

  /** Bipartite projection: link right-side nodes that share a
    * left-side neighbor, weighted by how many neighbors they share —
    * co-purchase, co-occurrence, co-authorship graphs all reduce to
    * this. Output edges satisfy a < b (each undirected pair once).
    *
    * The operator is QUADRATIC in per-left-key degree by construction
    * (a left key of degree d emits d·(d−1)/2 pairs), so `maxDegree`
    * is mandatory: left keys above it are EXCLUDED ENTIRELY — the
    * standard treatment in co-occurrence mining, where hub keys (the
    * customer who bought everything, the stopword) carry no signal and
    * would otherwise dominate both cost and output. The per-key pair
    * bound is maxDegree²; run [[Profile.joinCardinality]] first when
    * the degree distribution is unknown.
    */
  def bipartiteProject(
      edges: DataFrame,
      leftCol: String,
      rightCol: String,
      maxDegree: Int): DataFrame = {
    require(maxDegree >= 2, s"bipartiteProject: maxDegree >= 2 required, got $maxDegree")
    sharedPairs(cappedEdges(edges, leftCol, rightCol, maxDegree), "weight")
  }

  /** The distinct (`__l`, `__r`) edges whose left node has at most
    * `maxDegree` right neighbors: the universe of [[bipartiteProject]]
    * and [[cooccurrenceCosine]]. Pinned, because it feeds BOTH sides of
    * the pair self-join (and the per-item counts) — the multi-consumer
    * shape that otherwise replays the scan+distinct+degree-join chain
    * per consumer and read bimodally in the bench (the q147 pattern).
    */
  private def cappedEdges(
      edges: DataFrame, leftCol: String, rightCol: String, maxDegree: Int): DataFrame = {
    val e = edges.select(col(leftCol).as("__l"), col(rightCol).as("__r")).distinct()
    val deg = e.groupBy(col("__l")).agg(count(lit(1)).as("__d"))
    e.join(deg.filter(col("__d") <= maxDegree), Seq("__l"))
      .select(col("__l"), col("__r"))
      .localCheckpoint(false)
  }

  /** Right-node pairs (a < b) of `capped` sharing a left node,
    * counted as `as`. */
  private def sharedPairs(capped: DataFrame, as: String): DataFrame =
    capped.select(col("__l"), col("__r").as("a"))
      .join(capped.select(col("__l"), col("__r").as("b")), Seq("__l"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as(as))

  /** Triangle census of an undirected graph: one row with node, edge,
    * wedge, and triangle counts plus the global clustering coefficient
    * 3·T / wedges (null on a wedge-free graph).
    *
    * Algorithm: degree-oriented wedge enumeration (Schank & Wagner,
    * WEA'05 — the "forward"/compact-forward family). Each undirected
    * edge is oriented from its lower-(degree, id) endpoint to the
    * higher; wedges are pairs of out-edges from one source; a wedge
    * closes iff its two far endpoints are themselves an edge. Under
    * this orientation every triangle is counted EXACTLY once (at its
    * minimum-(degree, id) corner) and every out-degree is O(√m), so
    * the wedge space is O(m^1.5) worst-case instead of Σ deg² — the
    * property that keeps hub nodes (degree 10⁶ in a 100 TB co-purchase
    * graph) from exploding the self-join: a hub is always the wedge
    * FAR endpoint, never the enumeration source.
    *
    * Shuffle census: dedup (u,v), degree groupBy, two degree joins,
    * the out-edge self-join on the source key, and the closing-edge
    * join on the (min, max) pair key — all keyed exchanges, no
    * cartesian anywhere. Output is a single row built by crossJoin of
    * 1-row aggregates (broadcast, not a driver collect).
    */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val (e, deg, closed) = closedWedges(edges, aCol, bCol, "d")
    val tri = closed.agg(count(lit(1)).as("n_triangles"))
    val degAgg = deg.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1L) div 2L")).as("n_wedges"))
    val eAgg = e.agg(count(lit(1)).as("n_edges"))
    degAgg.crossJoin(eAgg).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0L,
          lit(3.0) * col("n_triangles").cast("double") / col("n_wedges").cast("double"))
          .as("global_cc"))
  }

  /** The degree-oriented wedge enumeration of [[triangleCount]] and
    * [[clusteringCoefficient]]: `e`, the distinct edges (u < v); `deg`,
    * each node's degree as (id, `degCol`); and every triangle ONCE, as
    * a wedge (s, b, c) from its minimum-(degree, id) corner s joined
    * with its closing edge (u, v).
    *
    * localCheckpoint (lazy): e feeds the degree groupBy, both
    * orientation joins, the closing-edge join, and the edge-count
    * aggregate; oriented feeds BOTH sides of the wedge self-join.
    * Without pinning, pressure-evicted shuffle blocks re-run the
    * dedup/degree chain up to 4× (the round-9 3.2× bench reading).
    */
  private def closedWedges(edges: DataFrame, aCol: String, bCol: String,
      degCol: String): (DataFrame, DataFrame, DataFrame) = {
    val e = edges
      .filter(col(aCol).isNotNull && col(bCol).isNotNull && col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"), greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
      .localCheckpoint(false)
    val deg = e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as(degCol))
    // orient: u<v always, so (d_u, u) < (d_v, v) reduces to d_u <= d_v
    val oriented = e
      .join(deg.select(col("id").as("u"), col(degCol).as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col(degCol).as("dv")), Seq("v"))
      .select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("s"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("t"))
      .localCheckpoint(false)
    val wedges = oriented.select(col("s"), col("t").as("b"))
      .join(oriented.select(col("s"), col("t").as("c")), Seq("s"))
      .filter(col("b") < col("c"))
    (e, deg, wedges.join(e, least(col("b"), col("c")) === col("u") &&
      greatest(col("b"), col("c")) === col("v")))
  }

  /** LOCAL clustering coefficient: per node — degree, incident-triangle
    * count, and cc = 2·t/(d·(d−1)), the per-node refinement of
    * [[triangleCount]]'s single global number. The community-structure
    * probe: cc ≈ 1 marks nodes inside cliques (dense dup clusters,
    * tight co-purchase pockets), cc ≈ 0 marks pure hubs/bridges —
    * ranking nodes by (degree, cc) separates genuinely embedded
    * entities from star centers that merely touch everything.
    *
    * Same degree-oriented wedge enumeration and O(m^1.5) bound as
    * [[triangleCount]] — triangles are found once at their
    * minimum-(degree, id) corner — then each closed triangle (s, b, c)
    * is unpivoted to its three corners (inline, scan-stage) and
    * counted per node; nodes in no triangle keep t = 0 via the left
    * join back to the degree relation. Degree-1 nodes (no wedge) get
    * null cc, matching the global null-on-no-wedges convention.
    */
  def clusteringCoefficient(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val (_, deg, closed) = closedWedges(edges, aCol, bCol, "degree")
    val triCorners = closed
      .select(explode(array(col("s"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("triangles"))
    deg.join(triCorners, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double") /
            (col("degree") * (col("degree") - 1L)).cast("double"))
          .as("local_cc"))
  }

  /** Hop-bounded multi-source BFS: minimum hop distance from any seed
    * node, for every node within `maxHops` undirected hops. Output
    * (id, dist) — nodes beyond the horizon are absent (the no-evidence
    * contract; an unreachable node has no distance, not distance ∞).
    *
    * Level-synchronous frontier expansion — the textbook distributed
    * BFS (Pregel's canonical example): round h joins the CURRENT
    * frontier (nodes first reached at h-1) against the edge relation,
    * anti-joins the already-settled set, and labels survivors h. Each
    * round is two keyed shuffles (join on the frontier key, anti-join
    * on the settled key); the frontier — not the graph — bounds the
    * per-round work, which is what makes hop-bounded neighborhoods
    * cheap on a 100 TB graph where the FULL transitive closure would
    * not be.
    *
    * Both the frontier and the settled set are pinned per round and
    * the superseded ones freed: each round's plan references the
    * previous round twice (expansion + anti-join), so an
    * uncheckpointed lineage doubles per hop.
    */
  def bfsDistances(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 30,
      s"bfsDistances: maxHops in [1, 30] required, got $maxHops")
    withPins { p =>
      val e = edges.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).as("u"), col(bCol).as("v"))
      val bidir = pinByKey(p,
        e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
          .filter(col("u") =!= col("v")).distinct(), "u")
      var frontier = p.pin(
        seeds.select(col(seedCol).as("id")).filter(col("id").isNotNull).distinct())
      var dist = p.pin(frontier.select(col("id"), lit(0).as("dist")))
      // ONE action per round: the new dist union stays a LAZY pin — its
      // blocks materialize inside the NEXT round's frontier count (whose
      // anti-join reads it), so the previous round's frontier and dist
      // are freed after that count; the final round's dist gets one
      // settling count after the loop, before its inputs free
      var prev = Seq.empty[DataFrame]
      var h = 1
      var frontierSize = 1L
      while (h <= maxHops && frontierSize > 0) {
        val next = p.pin(frontier.join(bidir, frontier("id") === bidir("u"))
          .select(col("v").as("id")).distinct()
          .join(dist, Seq("id"), "left_anti"))
        frontierSize = next.count() // materializes the round (and dist)
        p.free(prev: _*)
        prev = Seq(frontier, dist)
        dist = p.pin(dist.unionAll(next.select(col("id"), lit(h).as("dist"))))
        frontier = next
        h += 1
      }
      dist.count() // settle the final lazy union before its inputs free
      p.free(prev: _*)
      p.keep(dist)
      dist
    }
  }

  /** Item-item cosine similarity from co-occurrence (the Ochiai
    * coefficient): for items a, b co-occurring in `co` baskets out of
    * n_a and n_b total baskets each, cos = co / √(n_a·n_b) — cosine
    * of the binary basket-membership vectors. The classic
    * item-based-CF / related-terms score, and the normalization that
    * makes raw co-counts comparable across popularity levels.
    *
    * Built on [[bipartiteProject]]'s capped pair generation (hub
    * baskets excluded, pair space maxDegree²-bounded); per-item
    * basket counts come from the same capped edge relation, so the
    * numerator and denominator see the same universe. √ is correctly
    * rounded in IEEE 754 and the score is one fixed expression tree —
    * hash-stable. `minCo` prunes the noise floor (pairs seen once are
    * not evidence); items only ever appear as (min, max) pairs.
    *
    * Scale: bipartiteProject's keyed joins + two broadcast-sized
    * count joins; no new shuffle over the pair relation.
    */
  def cooccurrenceCosine(
      edges: DataFrame,
      basketCol: String,
      itemCol: String,
      maxDegree: Int,
      minCo: Long = 2L): DataFrame = {
    require(minCo >= 1, s"cooccurrenceCosine: minCo >= 1 required, got $minCo")
    require(maxDegree >= 2, s"cooccurrenceCosine: maxDegree >= 2 required, got $maxDegree")
    val capped = cappedEdges(edges, basketCol, itemCol, maxDegree)
    val pairs = sharedPairs(capped, "co").filter(col("co") >= minCo)
    val n = capped.groupBy(col("__r").as("__item")).agg(count(lit(1)).as("__n"))
    pairs
      .join(n.select(col("__item").as("a"), col("__n").as("__na")), Seq("a"))
      .join(n.select(col("__item").as("b"), col("__n").as("__nb")), Seq("b"))
      .select(col("a"), col("b"), col("co"),
        (col("co").cast("double") /
          sqrt(col("__na").cast("double") * col("__nb").cast("double"))).as("cos"))
  }

  /** k-core decomposition by iterative peeling: repeatedly drop nodes
    * whose degree within the surviving subgraph is below `k` until the
    * set is stable (the classic Matula-Beck peel, round-parallelized).
    * Returns the surviving core: one row per node with its degree
    * counted inside the core — every returned `core_degree >= k`, and
    * the set is the UNIQUE maximal subgraph with that property, so the
    * result is deterministic regardless of partitioning or peel order.
    *
    * In a curation pipeline this is the graph-shaped quality gate: the
    * k-core of a co-purchase / co-citation / near-dup graph is its
    * densely-connected backbone, with bridge and tendril nodes (the
    * ones a clustering would glue into noise) peeled away.
    *
    * Each round is two keyed shuffles — a semi-join of the edge list
    * against the active set on BOTH endpoints, then a degree
    * aggregate — and the active relation (one row per surviving node)
    * is pinned per round and the previous round's freed. Rounds stop
    * at stability; a set still shrinking after `maxRounds` rounds is
    * not a k-core, so the call then FAILS rather than return it.
    * Peeling removes at least one node per non-stable round, but in
    * practice collapses in a handful of rounds: each round removes the
    * ENTIRE current shell, not one node. The only driver-side value is
    * the per-round surviving-node count. Self-loops are ignored; edges
    * are undirected; nodes with no edges are never in any core
    * (k >= 1).
    */
  def kCore(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      k: Int,
      maxRounds: Int = 20): DataFrame = {
    require(k >= 1, s"kCore: k >= 1 required, got $k")
    require(maxRounds >= 1, s"kCore: maxRounds >= 1 required, got $maxRounds")
    withPins { p =>
      val e = edges
        .filter(col(aCol).isNotNull && col(bCol).isNotNull && col(aCol) =!= col(bCol))
        .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      val bidir = pinByKey(p,
        e.union(e.select(col("v").as("u"), col("u").as("v"))).distinct(), "u")
      var active = p.pin(bidir.select(col("u").as("node")).distinct())
      var n = active.count()
      var rounds = 0
      var stable = false
      while (rounds < maxRounds && !stable) {
        val next = p.pin(bidir
          .join(active.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(active.select(col("node").as("v")), Seq("v"), "left_semi")
          .groupBy(col("u").as("node")).agg(count(lit(1)).as("__d"))
          .filter(col("__d") >= k)
          .select(col("node")))
        val m = next.count()
        p.free(active)
        active = next
        stable = m == n
        n = m
        rounds += 1
      }
      require(stable, s"kCore: the $k-core did not settle in $maxRounds rounds " +
        s"($n nodes left); raise maxRounds")
      // the result is its own pin
      val core = p.pin(bidir
        .join(active.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(active.select(col("node").as("v")), Seq("v"), "left_semi")
        .groupBy(col("u").as("node")).agg(count(lit(1)).as("core_degree")), eager = true)
      p.keep(core)
      core
    }
  }

  /** Synchronous label-propagation community detection (Raghavan,
    * Albert & Kumara, Phys. Rev. E 2007) over an undirected edge
    * list, made fully deterministic: every node starts labeled with
    * its own id; each round, ALL nodes simultaneously adopt the most
    * frequent label among their neighbors' previous-round labels,
    * ties to the smallest label; a FIXED round count (the classic
    * async sweep converges faster but its result depends on visit
    * order — useless under an exactness contract). Communities are
    * finer-grained than [[connectedComponents]]: a bridge edge joins
    * components but rarely flips a majority.
    *
    * Scale: per round, one keyed join (neighbor labels) + one
    * (node, label)-counted aggregate + one per-node argmax window —
    * all edge-bound; label state is node-bound, pinned per round and
    * the previous round's freed. Round count is a small constant, not
    * data-dependent.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 1 && rounds <= 64, s"labelPropagation: 1 <= rounds <= 64, got $rounds")
    withPins { p =>
      val e = edges.select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      // pinned on the round join key (the CC co-partition shape)
      val bidir = pinByKey(p,
        e.union(e.select(col("d").as("s"), col("s").as("d")))
          .filter(col("s") =!= col("d"))
          .distinct(), "d")
      var lbl = p.pin(bidir.select(col("s").as("id")).distinct()
        .select(col("id"), col("id").as("lbl")))
      val w = Window.partitionBy(col("id")).orderBy(col("c").desc, col("lbl"))
      for (_ <- 1 to rounds) {
        val next = p.pin(bidir
          .join(lbl.withColumnRenamed("id", "d"), "d")
          .select(col("s").as("id"), col("lbl"))
          .groupBy(col("id"), col("lbl"))
          .agg(count(lit(1)).as("c"))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("id"), col("lbl")))
        next.count() // materialize before freeing the round it reads
        p.free(lbl)
        lbl = next
      }
      p.keep(lbl)
      lbl.select(col("id").as("node"), col("lbl").as("community"))
    }
  }

  /** Personalized (topic-sensitive) PageRank — Haveliwala WWW'02: the
    * restart mass lands ONLY on the seed set instead of uniformly, so
    * ranks measure proximity to the seeds rather than global
    * centrality ("importance from the point of view of these nodes" —
    * the related-entity / trust-propagation primitive). Same exact
    * integer rank-unit arithmetic as [[pageRank]] (every round's
    * state is a long per node, floor divisions only, so an external
    * engine replays it bit-for-bit), same cadence checkpoint; the
    * only differences are r₀ = rankUnit/|S| on seeds (0 elsewhere)
    * and the (1−d) restart term being seed-gated.
    *
    * Scale: identical to [[pageRank]] — per round one keyed join of
    * edges against ranks plus one destination-keyed sum; seed
    * membership is a broadcast-sized boolean join.
    */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iters: Int,
      dampPpm: Long = 850000L,
      rankUnit: Long = 1000000L): DataFrame = {
    requireRankArgs("personalizedPageRank", iters, dampPpm, rankUnit)
    withPins { p =>
      val (e, deg) = pinEdgesAndDegrees(p, edges, srcCol, dstCol)
      val sd = seeds.select(col(seedCol).as("__src")).distinct()
        .join(deg.select(col("__src")), Seq("__src"), "left_semi")
      val nSeeds = sd.count()
      require(nSeeds > 0, "personalizedPageRank: no seed appears in the graph")
      requireRankUnit("personalizedPageRank", rankUnit, nSeeds, "seed")
      val seedMark = broadcast(sd.select(col("__src").as("node"), lit(1L).as("__seed")))
      def onSeeds(v: Long) = when(col("__seed").isNotNull, lit(v)).otherwise(lit(0L))
      val r0 = deg.select(col("__src").as("node"))
        .join(seedMark, Seq("node"), "left")
        .select(col("node"), onSeeds(rankUnit / nSeeds).as("rank_ppm"))
      rankRounds(p, e, deg, r0,
        onSeeds((rankUnit / 1000000L * (1000000L - dampPpm)) / nSeeds), Some(seedMark),
        iters, dampPpm)
    }
  }

  /** Hop-bounded single-source shortest paths over a weighted
    * undirected edge list — Bellman–Ford with the frontier (delta)
    * optimization: round h relaxes only edges incident to nodes whose
    * distance IMPROVED in round h-1, and after h rounds `dist` is
    * exactly the minimum cost over paths of at most h edges from any
    * seed (the textbook invariant; the delta form reaches the same
    * per-round state because a node's improvement is propagated the
    * round after it happens and min is idempotent). Early exit at an
    * empty frontier is a fixpoint, so the result equals the full
    * `maxHops`-round answer — which is what the oracle unrolls.
    *
    * Weights are integral (cast to long) and may repeat per node pair;
    * parallel edges collapse to their MINIMUM weight up front, the only
    * one min-plus can ever use. Hop-bounding is the 100 TB posture for
    * the same reason as [[bfsDistances]]: k-hop weighted neighborhoods
    * are frontier-bound, while full SSSP on a planetary graph is not a
    * single-query operation.
    *
    * Scale: per round one keyed join (frontier × adjacency, edge-
    * degree-bound), one min-aggregate keyed on the node, one left join
    * against the settled map to keep only improvements. Frontier and
    * dist are pinned per round and the superseded ones freed; the only
    * driver values are the per-round frontier counts that drive early
    * exit.
    */
  def weightedShortestPaths(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 30,
      s"weightedShortestPaths: maxHops in [1, 30] required, got $maxHops")
    withPins { p =>
      val e0 = edges
        .filter(col(srcCol).isNotNull && col(dstCol).isNotNull && col(weightCol).isNotNull)
        .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"),
          col(weightCol).cast("long").as("w"))
      val adj = pinByKey(p,
        e0.unionAll(e0.select(col("v").as("u"), col("u").as("v"), col("w")))
          .filter(col("u") =!= col("v"))
          .groupBy(col("u"), col("v")).agg(min(col("w")).as("w")), "u")
      var dist = p.pin(
        seeds.select(col(seedCol).cast("long").as("id")).filter(col("id").isNotNull)
          .distinct().select(col("id"), lit(0L).as("dist")))
      var frontier = p.pin(dist)
      // one action per round, as in bfsDistances: the new dist stays a
      // lazy pin, materialized by the next round's improved.count()
      var prev = Seq.empty[DataFrame]
      var h = 1
      var frontierSize = 1L
      while (h <= maxHops && frontierSize > 0) {
        val relaxed = frontier.join(adj, frontier("id") === adj("u"))
          .select(col("v").as("id"), (col("dist") + col("w")).as("__cand"))
          .groupBy(col("id")).agg(min(col("__cand")).as("__cand"))
        val improved = p.pin(
          relaxed.join(dist.withColumnRenamed("dist", "__old"), Seq("id"), "left")
            .filter(col("__old").isNull || col("__cand") < col("__old"))
            .select(col("id"), col("__cand").as("dist")))
        frontierSize = improved.count() // materializes the round (and dist)
        p.free(prev: _*)
        prev = Seq(frontier, dist)
        dist = p.pin(dist.join(improved.select(col("id")), Seq("id"), "left_anti")
          .unionAll(improved))
        frontier = improved
        h += 1
      }
      dist.count() // settle the final lazy union before its inputs free
      p.free(prev: _*)
      p.keep(dist)
      dist.select(col("id").as("node"), col("dist"))
    }
  }

  /** Newman modularity of a node partition (Newman & Girvan, PRE'04):
    * per community c, the contribution e_c/m − (d_c/2m)² where e_c is
    * the count of edges internal to c, d_c the degree sum of c's
    * nodes, m the undirected edge count — reported in exact truncated
    * ppm via the single rational (4·m·e_c − d_c²)/(4m²) so no float
    * division enters. Arithmetic rides DECIMAL(38,0): safe to
    * m ≈ 1.5e9 edges per community-squared term (4m² ≤ 1e19·m²...
    * precisely, d_c² ≤ 4m² and the ppm numerator ≤ 4m²·1e6 must stay
    * under 1e38 ⇒ m ≤ ~1.5e15 — far past any single partition).
    *
    * Output: (community, e_c, d_c, q_ppm), one row per community;
    * total modularity = Σ q_ppm / 1e6 (up to per-row truncation).
    *
    * Plan shape: edges and labels are lazily pinned (each feeds 2-3
    * consumers — the q147 multi-consumer shape); degree is one
    * keyed aggregate over exploded endpoints; e_c is two node-keyed
    * equi-joins then a community-keyed aggregate; m broadcasts as a
    * 1-row relation. Linear in edges, never a pair space.
    */
  def modularity(
      edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .localCheckpoint(false)
    val lab = labels
      .select(col(nodeCol).cast("long").as("node"),
        col(labelCol).cast("long").as("community"))
      .localCheckpoint(false)
    val m1 = e.agg(count(lit(1)).as("m"))
    val ec = e
      .join(lab.select(col("node").as("u"), col("community").as("__ca")), Seq("u"))
      .join(lab.select(col("node").as("v"), col("community").as("__cb")), Seq("v"))
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("e_c"))
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val dc = deg.join(lab, Seq("node"))
      .groupBy(col("community")).agg(sum(col("deg")).as("d_c"))
    dc.join(ec, Seq("community"), "left")
      .na.fill(0L, Seq("e_c"))
      .crossJoin(broadcast(m1))
      .select(col("community"), col("e_c"), col("d_c"),
        expr("CAST((CAST(4 AS DECIMAL(38,0)) * m * e_c - " +
          "CAST(d_c AS DECIMAL(38,0)) * d_c) * 1000000 div " +
          "(CAST(4 AS DECIMAL(38,0)) * m * m) AS BIGINT)").as("q_ppm"))
  }
}
