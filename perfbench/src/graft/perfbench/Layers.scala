package graft.perfbench

/** Per-layer metrics of the traced passes. Each operation's jobs are
  * attached to the span named in their job description (or, for a job
  * started outside the benchmark's thread, the innermost span open at its
  * start); a span's self time is its duration minus the part its child
  * spans and jobs cover. Values are means per operation unless the name
  * says otherwise. */
object Layers {
  type Iv = (Long, Long)

  /** Total length of the union of intervals, clipped to `within`. */
  private def covered(ivs: Seq[Iv], within: Iv): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, within._1), math.min(b, within._2)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }

  /** Layer of a span name: the module before the first '.' or ' '. */
  def layer(name: String): String = name.takeWhile(c => c != '.' && c != ' ')

  private val SpanRef = """perfbench span=(\d+) .*""".r

  final case class OpTrace(wallS: Double, spanTotals: Map[String, Double], spanJobs: Map[String, Int],
      self: Map[String, Double], gapS: Double, jobs: Seq[JobRecord], ingestRowsRead: Long)

  /** Each job of the operation with its interval on the span clock and
    * the span that launched it. */
  def jobSpans(s: Sample, epochNsOffset: Long): Seq[(JobRecord, Iv, Span)] = {
    val root = s.spans.find(_.parent < 0).get
    val byId = s.spans.map(sp => sp.id -> sp).toMap
    def ns(ms: Long) = ms * 1000000L - epochNsOffset
    s.jobs.map { j =>
      val iv = (ns(j.startMs), if (j.endMs < 0) root.endNs else ns(j.endMs))
      val fromDesc = j.description match {
        case SpanRef(id) => byId.get(id.toInt)
        case _ => None
      }
      (j, iv, fromDesc.getOrElse {
        s.spans.filter(sp => sp.startNs <= iv._1 && iv._1 <= sp.endNs)
          .sortBy(sp => sp.endNs - sp.startNs).headOption.getOrElse(root)
      })
    }
  }

  def trace(s: Sample, epochNsOffset: Long): OpTrace = {
    val spans = s.spans
    val root = spans.find(_.parent < 0).get
    val js = jobSpans(s, epochNsOffset)
    val jobIv = js.map { case (j, iv, _) => j -> iv }.toMap
    val owner = js.map { case (j, _, sp) => j -> sp }.toMap
    val byId = spans.map(sp => sp.id -> sp).toMap
    def ancestors(sp: Span): List[Span] =
      sp :: (if (sp.parent < 0) Nil else byId.get(sp.parent).map(ancestors).getOrElse(Nil))
    val jobsUnder: Map[Int, Seq[JobRecord]] =
      spans.map(sp => sp.id -> s.jobs.filter(j => ancestors(owner(j)).exists(_.id == sp.id))).toMap
    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { sp =>
      val kids = spans.filter(_.parent == sp.id).map(k => (k.startNs, k.endNs)) ++
        s.jobs.filter(owner(_).id == sp.id).map(jobIv)
      self(layer(sp.name)) += (sp.endNs - sp.startNs - covered(kids, (sp.startNs, sp.endNs))) / 1e9
    }
    val rootIv = (root.startNs, root.endNs)
    self("spark") += covered(s.jobs.map(jobIv), rootIv) / 1e9
    val named = spans.filter(_.parent >= 0)
    val totals = named.groupBy(_.name).map { case (n, xs) => n -> xs.map(x => (x.endNs - x.startNs) / 1e9).sum }
    val jobsPer = named.groupBy(_.name).map { case (n, xs) => n -> xs.map(x => jobsUnder(x.id).size).sum }
    val ingestRead = named.filter(_.name == "jobs.ingest").flatMap(x => jobsUnder(x.id)).map(_.inputRecords).sum
    OpTrace(s.wallS, totals, jobsPer, self.toMap,
      (root.endNs - root.startNs - covered(s.jobs.map(jobIv), rootIv)) / 1e9, s.jobs, ingestRead)
  }

  val SelfLayers: Seq[String] = Seq("op", "input", "jobs", "queries", "sql", "spark")

  def metrics(traced: Seq[PassRecord], plain: Seq[PassRecord], cores: Int,
      epochNsOffset: Long): Seq[(String, Double, String)] = {
    val samples = traced.flatMap(_.samples)
    val ops = samples.map(trace(_, epochNsOffset))
    val n = math.max(1, ops.size).toDouble
    val jobs = ops.flatMap(_.jobs)
    def mean(f: OpTrace => Double): Double = ops.map(f).sum / n
    def meanS(f: Sample => Double): Double = samples.map(f).sum / n
    def jobSum(f: JobRecord => Double): Double = jobs.map(f).sum / n
    def counter(k: String): Double = samples.map(_.counters.getOrElse(k, 0.0)).sum
    val mb = 1048576.0
    val taskS = jobs.map(_.taskMs).sum / 1000.0
    val wall = ops.map(_.wallS).sum
    val tasks = jobs.map(_.tasks).sum
    val ingestRead = ops.map(_.ingestRowsRead).sum.toDouble
    Seq(
      ("queries.build_s", mean(_.spanTotals.getOrElse("queries.build", 0.0)), "s"),
      ("queries.build_jobs", mean(_.spanJobs.getOrElse("queries.build", 0).toDouble), "count"),
      ("sql.plan_s", mean(_.spanTotals.getOrElse("sql.plan", 0.0)), "s"),
      ("sql.exec_s", mean(_.spanTotals.getOrElse("sql.exec", 0.0)), "s"),
      ("sql.exec_jobs", mean(_.spanJobs.getOrElse("sql.exec", 0).toDouble), "count"),
      ("sql.codegen_fallbacks", counter("sql.codegen_fallbacks") / n, "count"),
      ("jobs.sync_s", mean(_.spanTotals.getOrElse("jobs.sync", 0.0)), "s"),
      ("jobs.ingest_s", mean(_.spanTotals.getOrElse("jobs.ingest", 0.0)), "s"),
      ("etl.rows_synced", counter("etl.rows_synced") / n, "count"),
      ("etl.rows_ingested", counter("etl.rows_ingested") / n, "count"),
      ("etl.ingest_rows_read", ingestRead / n, "count"),
      ("etl.ingest_useful_frac", if (ingestRead > 0) counter("etl.rows_ingested") / ingestRead else 0.0, "frac"),
      ("etl.bytes_written", meanS(_.written.toDouble), "bytes"),
      ("etl.files_written", meanS(_.filesWritten.toDouble), "count"),
      ("etl.commits", counter("etl.commits") / n, "count"),
      ("etl.space_amp", plain.headOption.map(_.spaceAmp).getOrElse(0.0), "ratio"),
      ("ext.pins_held", meanS(_.pins.toDouble), "count"),
      ("spark.driver_gap_s", mean(_.gapS), "s"),
      ("spark.jobs", jobs.size / n, "count"),
      ("spark.tasks", tasks / n, "count"),
      ("spark.task_s", taskS / n, "s"),
      ("spark.cpu_s", jobSum(_.cpuNs / 1e9), "s"),
      ("spark.core_busy_frac", if (wall > 0) taskS / (wall * cores) else 0.0, "frac"),
      ("spark.task_wait_s", if (tasks > 0) jobs.map(_.waitMs).sum / 1000.0 / tasks else 0.0, "s"),
      ("spark.shuffle_write_mb", jobSum(_.shuffleWrite / mb), "MB"),
      ("spark.shuffle_read_mb", jobSum(_.shuffleRead / mb), "MB"),
      ("spark.spill_mb", jobSum(_.spill / mb), "MB"),
      ("spark.input_mb", jobSum(_.inputBytes / mb), "MB"),
      ("spark.gc_s", jobSum(_.gcMs / 1000.0), "s"),
      ("spark.storage_mb", meanS(_.storageBytes / mb), "MB"),
      ("spark.failed_tasks", jobSum(_.failedTasks.toDouble), "count"),
      ("spark.lost_metric_updates", counter("spark.lost_metric_updates") / n, "count"),
      ("trace.overhead_frac", {
        val t = Main.median(traced.map(_.seconds)); val p = Main.median(plain.map(_.seconds))
        if (p > 0) t / p - 1 else 0.0
      }, "frac")
    ) ++ SelfLayers.map(l => (s"self.${l}_s", mean(_.self.getOrElse(l, 0.0)), "s"))
  }
}
