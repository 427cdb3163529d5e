package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default 32 = the driver's configuration (the round-1 baseline was
    // accidentally authored at local[4], which made driver-measured
    // numbers look 1.5x regressed — keep both sides measuring alike)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen, parquet reader, shuffle machinery) so
    // the alphabetically-first query doesn't absorb startup cost.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // optional subset (comma-separated names) for scoped re-measurement
    // under the same min-of-two contract — BASELINE row refreshes after
    // a structural fix use this instead of a full catalog run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def pass(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(kv => only.forall(_.contains(kv._1))).map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name FAILED: $e")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    // Two full passes, per-query min: a single pass reads whatever
    // query happens to absorb a JVM GC / JIT-deopt spike as 3-4x its
    // median (BENCH_r05's q81-q99 cluster); the min of two passes is a
    // far better estimator of the steady-state cost the baseline
    // medians record.
    val p1 = pass()
    val p2 = pass()
    val results = p1.zip(p2).map { case ((name, a), (_, b)) => name -> math.min(a, b) }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fs,"sf":"$sfDir"}"""
    // The log-tail capture that produces BENCH_r{N}.json keeps only the
    // LAST 2000 characters of output (measured from round 7, where the
    // single 196-entry line lost its head and parsed as null). Emission
    // order is therefore: (a) the full-fidelity line to a file and an
    // early stdout line; (b) per-query chunk lines of ~30 entries each
    // (whatever the window holds, it holds complete parseable lines);
    // (c) a SHORT total line LAST — always inside the window, always
    // parseable, pointing at the file with the per-query data.
    try {
      val p = java.nio.file.Paths.get("target/bench_full.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, fullLine.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    println(fullLine)
    results.grouped(30).zipWithIndex.foreach { case (chunk, i) =>
      val qsChunk = chunk.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      println(s"""{"metric":"chunk","part":${i + 1},"queries":$qsChunk}""")
    }
    // The driver parses the LAST stdout line from that same 2000-char
    // window, so an empty `queries` map there starves its per-query and
    // scaling comparison entirely (round 17's PERF ran with per_query={}).
    // All 303 full query names need ~9 KB — they can never fit — so the
    // final line carries as many entries as fit a 1900-char budget in
    // DESCENDING cost order: the expensive queries are the ones the
    // per-query comparison exists for, and the full map is still in
    // target/bench_full.json and the chunk lines above.
    val lineHead =
      s"""{"metric":"total","value":${f"$total%.2f"},"unit":"sec","n_queries":${results.size},"failed":$fs,"sf":"$sfDir","full":"target/bench_full.json","queries":{"""
    val sb = new StringBuilder(lineHead)
    var first = true
    for ((k, v) <- results.sortBy(-_._2)) {
      val e = (if (first) "" else ",") + "\"" + k + "\":" + f"$v%.2f"
      if (sb.length + e.length + 2 <= 1900) { sb.append(e); first = false }
    }
    sb.append("}}")
    println(sb.toString)
    spark.stop()
  }
}
