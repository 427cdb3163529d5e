package graft.perfbench

import java.io.File
import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one operation produced: whether its output check passed, and the
  * bytes of rows it delivered to its final output. */
final case class Outcome(ok: Boolean, delivered: Long, note: String = "")

/** One closed-loop operation: the next starts when this one returns.
  * `run` does the timed work and returns the untimed output check. */
final case class Op(name: String, run: Ctx => () => Outcome)

/** One timed operation's record. */
final case class Sample(name: String, wallS: Double, ok: Boolean, delivered: Long,
    written: Long, filesWritten: Long, pins: Int, storageBytes: Long,
    counters: Map[String, Double], jobs: Seq[JobRecord], spans: Seq[Span])

/** One pass: its operations, Spark's local-disk writes, the heap after a
  * full GC, and on-disk bytes of the output per live byte. */
final case class PassRecord(samples: Seq[Sample], diskBytes: Long, heapMb: Double, spaceAmp: Double) {
  /** Summed wall time of the pass's operations. */
  def seconds: Double = samples.map(_.wallS).sum
}

/** A benchmark workload: inputs made from the seed, then a fixed list of
  * operations that one pass runs. */
trait Workload {
  /** Generates the inputs under `dir`. */
  def prepare(ctx: Ctx, dir: File): Unit
  /** One-time load of the prepared inputs before the first operation. */
  def load(ctx: Ctx): Unit = ()
  /** The operations of one pass, in run order. */
  def pass(rng: java.util.Random): Seq[Op]
  /** Directories the operations write their durable output to. */
  def outputDirs: Seq[File]
  /** Bytes of the live latest version of the output (0: no durable output). */
  def liveBytes: Long
  /** Passes run untimed before measuring, as part of set-up. */
  def warmupPasses: Int = 1
  /** Input sizes, as a JSON object. */
  def describe: String
}

/** Per-run context handed to operations: the session, the span recorder
  * and per-operation counters. Spans and job descriptions are only
  * recorded when `traced`. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long) {
  val sc: SparkContext = spark.sparkContext
  var traced = false
  private var nextSpan = 0
  private var current = -1
  private var opSpan = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def count(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v

  /** Runs `body` as a child span of the current one. Jobs it launches
    * carry the span id in their job description. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = current
      if (parent < 0) opSpan = id
      current = id
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"perfbench span=$id $name")
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, opSpan, name, t0, System.nanoTime())
        current = parent
        sc.setJobDescription(prev)
      }
    }
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, cores: Int, record: Option[File])

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      new File(m("work")), m("cores").toInt, m.get("record").map(new File(_)))
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val o = parse(args)
    o.work.mkdirs()
    System.setProperty("derby.system.home", new File(o.work, "derby").getAbsolutePath)
    val spark = graft.GraftSession.local(s"perfbench-${o.workload}", o.cores)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, o.cores, o.seed)
    val code =
      try {
        val wl = Workloads(o.workload, ctx)
        o.record match {
          case Some(f) => Workloads.record(ctx, wl, f, new File(o.work, "inputs")); 0
          case None => new Runner(ctx, wl, o, sessionS).run()
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally spark.stop()
    System.exit(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Bytes of the regular files under `dirs`, by path, with their
    * modification time. */
  def files(dirs: Seq[File]): Map[String, (Long, Long)] = {
    val out = mutable.Map.empty[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.isFile) out(f.getPath) = (f.length, f.lastModified)
    dirs.foreach(walk)
    out.toMap
  }
}

/** The closed loop: set-up, warm-up, timed passes, then the result line. */
final class Runner(ctx: Ctx, wl: Workload, o: Main.Opts, sessionS: Double) {
  import Main.{median, files}
  private val sc = ctx.sc
  private val disk = new DiskWriteCounter
  sc.addSparkListener(disk)

  private var tracer: Option[JobTracer] = None
  /** Listener job times are epoch ms; spans are `System.nanoTime`. */
  private val epochNsOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private var events: Option[EventCounter] = None

  private def runOp(op: Op): Sample = {
    ctx.counters.clear()
    val before = files(wl.outputDirs)
    val codegen0 = events.map(_.codegenFallbacks.get).getOrElse(0L)
    val lost0 = events.map(_.lostMetricUpdates.get).getOrElse(0L)
    val spans0 = ctx.spans.size
    val t0 = System.nanoTime()
    val check =
      try ctx.span(s"op ${op.name}")(op.run(ctx))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${op.name} threw: $e")
          () => Outcome(ok = false, delivered = 0L)
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val after = files(wl.outputDirs)
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    PerfbenchBridge.drainListenerBus(sc)
    val jobs = tracer.map(_.takeJobs()).getOrElse(Nil)
    val out =
      try check()
      catch { case e: Throwable => Outcome(ok = false, delivered = 0L, s"check threw $e") }
    if (!out.ok) System.err.println(s"[perfbench] ${op.name} failed its check ${out.note}")
    println(f"[perfbench] op ${op.name}%-36s $wall%.3f s ok=${out.ok}")
    events.foreach { e =>
      ctx.count("sql.codegen_fallbacks", (e.codegenFallbacks.get - codegen0).toDouble)
      ctx.count("spark.lost_metric_updates", (e.lostMetricUpdates.get - lost0).toDouble)
    }
    val storage = if (ctx.traced) sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum else 0L
    Sample(op.name, wall, out.ok, out.delivered, changed.values.map(_._1).sum,
      changed.size.toLong, sc.getPersistentRDDs.size, storage, ctx.counters.toMap, jobs,
      ctx.spans.drop(spans0).toList)
  }

  private def runPass(pass: Int): PassRecord = {
    val rng = new java.util.Random(o.seed * 7919L + pass)
    val disk0 = disk.bytes.get
    val samples = wl.pass(rng).map(runOp)
    PerfbenchBridge.drainListenerBus(sc)
    val diskBytes = disk.bytes.get - disk0
    val heap = retainedHeap()
    val live = wl.liveBytes
    val space = if (live > 0) files(wl.outputDirs).values.map(_._1).sum.toDouble / live else 0.0
    PassRecord(samples, diskBytes, heap / 1048576.0, space)
  }

  /** Heap in use after full GCs, once Spark's cleaner has released the
    * blocks and shuffles the previous GC found unreachable. */
  private def retainedHeap(): Long = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 2).foreach { _ => System.gc(); Thread.sleep(100) }
    System.gc()
    mem.getHeapMemoryUsage.getUsed
  }

  /** Timed passes a run makes at least, however short `--seconds` is, so
    * that its medians rest on the same number of samples on a slow host. */
  private val MinPasses = 2

  /** Timed passes until at least `MinPasses` have run and `seconds` have
    * passed. */
  private def passes(first: Int, seconds: Double): Seq[PassRecord] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[PassRecord]
    while (out.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds)
      out += runPass(first + out.size)
    out.toList
  }

  def run(): Int = {
    val tp = System.nanoTime()
    wl.prepare(ctx, new File(o.work, "inputs"))
    val prepS = (System.nanoTime() - tp) / 1e9
    val tl = System.nanoTime()
    wl.load(ctx)
    val loadS = (System.nanoTime() - tl) / 1e9
    val tw = System.nanoTime()
    // a traced run warms one pass more, so that its untraced half, which
    // trace.overhead_frac compares with the traced half, starts warm too
    (1 to wl.warmupPasses + (if (o.trace) 1 else 0)).foreach(p => runPass(-p))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + prepS + loadS + warmS
    println(f"[perfbench] workload=${o.workload} seed=${o.seed} cores=${o.cores} " +
      f"session_s=$sessionS%.3f prepare_s=$prepS%.3f " +
      f"load_s=$loadS%.3f warmup_s=$warmS%.3f")
    println(s"[perfbench] inputs ${wl.describe}")

    val plain = passes(0, if (o.trace) o.seconds / 2 else o.seconds)
    val traced = if (!o.trace) Nil else {
      val t = new JobTracer
      sc.addSparkListener(t)
      tracer = Some(t)
      events = Some(EventCounter.install())
      ctx.traced = true
      passes(plain.size, o.seconds / 2)
    }
    val all = plain ++ traced
    val samples = all.flatMap(_.samples)
    val attempted = samples.size
    val failed = samples.count(!_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (o.trace) Layers.metrics(traced, plain, ctx.cores, epochNsOffset)
      else endToEnd(setupS, plain)
    report(metrics, attempted, failed)
    writeSpans(traced)
    0
  }

  private def endToEnd(setupS: Double, ps: Seq[PassRecord]): Seq[(String, Double, String)] = {
    val ops = ps.flatMap(_.samples)
    val delivered = ops.map(_.delivered).sum.toDouble
    val written = ops.map(_.written).sum + ps.map(_.diskBytes).sum
    val walls = ops.map(_.wallS).sorted
    // highest percentile with at least ten samples beyond it
    val tail = if (walls.size < 20) None else {
      val i = walls.size - 11
      Some((walls(i), 100.0 * (i + 1) / walls.size))
    }
    println(f"[perfbench] ops=${ops.size} passes=${ps.size} failed_frac=" +
      f"${ops.count(!_.ok).toDouble / math.max(1, ops.size)}%.4f " +
      tail.map { case (v, p) => f"op_s_tail=$v%.4f s (p$p%.1f of ${walls.size})" }
        .getOrElse(s"op_s_tail=n/a (${walls.size} samples)") +
      f" space_amp=${ps.head.spaceAmp}%.4f")
    Seq(
      ("setup_s", setupS, "s"),
      // per operation name first: a median over mixed queries would jump
      // between the two queries that straddle it
      ("op_s_p50", median(ops.groupBy(_.name).values.map(xs => median(xs.map(_.wallS))).toSeq), "s"),
      ("pass_s", median(ps.map(_.seconds)), "s"),
      ("write_amp", if (delivered > 0) written / delivered else 0.0, "ratio"),
      ("retained_heap_mb", median(ps.map(_.heapMb)), "MB"))
  }

  private def report(metrics: Seq[(String, Double, String)], attempted: Int, failed: Int): Unit = {
    metrics.foreach { case (n, v, u) => println(f"[perfbench] $n%-28s $v%14.6f $u") }
    val body = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$n": {"value": $num, "unit": "$u"}""" }.mkString(", ")
    println(s"""PERFBENCH_RESULT {"correct": ${failed == 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$body}}""")
  }

  /** Writes the traced passes' spans, Spark jobs included, one JSON object a line. */
  private def writeSpans(traced: Seq[PassRecord]): Unit = if (traced.nonEmpty) {
    val w = new java.io.PrintWriter(new File(o.work, "spans.jsonl"), "UTF-8")
    def line(id: String, parent: Int, op: Int, name: String, iv: (Long, Long)): Unit =
      w.println(s"""{"id":"$id","parent":$parent,"op":$op,"name":"$name",""" +
        s""""start_ns":${iv._1},"end_ns":${iv._2}}""")
    try traced.flatMap(_.samples).foreach { s =>
      s.spans.foreach(sp => line(sp.id.toString, sp.parent, sp.op, sp.name, (sp.startNs, sp.endNs)))
      Layers.jobSpans(s, epochNsOffset).foreach { case (j, iv, sp) =>
        line(s"job${j.id}", sp.id, sp.op, "spark.job", iv) }
    } finally w.close()
  }
}
