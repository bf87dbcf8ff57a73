package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A failed query is reported under "errors" (and excluded from timings) —
  * never as a fast time (a broken query must not look like a fast query).
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) and reports
  * the MIN: the r2/r3 driver runs recorded contention artifacts (one
  * descheduled run made g2 look 6× slower than it measures on idle
  * hardware), and the r10 driver bench hit the same weather on BOTH of
  * two runs for several keys — min-of-3 makes one descheduled pair
  * unable to poison a key's reported cost.
  *
  * Reporting (r15): the full per-query JSON line is far longer than the
  * 2000-char stdout tail the driver keeps, so in ADDITION to printing it
  * the line is written to SPARK_GRAFT_BENCH_OUT (default bench_out.json
  * in the working dir) and a SHORT summary JSON line (no per-query map)
  * is printed last so the tail always holds one complete parseable line.
  *
  * Instrumentation (r15): per-key JVM/session health is appended to
  * SPARK_GRAFT_BENCH_INSTRUMENT (default bench_instrument.log) —
  * cumulative GC ms, JIT code-cache used, heap used, and BlockManager
  * storage (persistent-RDD count + mem/disk bytes) — to pin down
  * late-run degradation (leaked localCheckpoint blocks vs JIT-off vs GC
  * pressure). Reads are local MXBean/SparkContext calls outside the
  * timed region; the timed action and min-of-N are unchanged.
  */
object Bench {
  private def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }
  private def codeCacheUsed: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum
  }
  private def heapUsed: Long =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  /** (steal, total) cumulative CPU ticks across all cores from /proc/stat.
    * This box is a VM under a contended host: r14/r15 full-run
    * measurements showed uniform 1.5-3x inflation windows (light and
    * heavy keys alike) that no JVM-internal metric explained; hypervisor
    * CPU steal is the remaining suspect and this column attributes it
    * per key (interval steal% = d(steal)/d(total)). The total sums the
    * first 8 fields only: guest and guest_nice are already counted in
    * user and nice. Linux-only; (0, 0) where /proc/stat is absent. */
  private def cpuSteal: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f(7), f.take(8).sum)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JVM/codegen on the FIRST query of the timed (sorted) order,
    // so warm-up is deterministic and the first timed query doesn't pay
    // first-job classloading
    // optional comma-separated allowlist for isolated re-measurement of a
    // few queries while tuning (absent/empty = run everything)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    try sorted.headOption.foreach(_._2(spark, sfDir).count())
    catch { case _: Throwable => () }
    val instrPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_INSTRUMENT", "bench_instrument.log")
    val instr = new java.io.PrintWriter(new java.io.FileWriter(instrPath, false))
    instr.println("idx\tquery\tsec\tsec_max\tgc_ms_total\tcode_cache_mb\theap_mb\trdds_persisted\tstorage_mem_mb\tstorage_disk_mb\tsteal_ticks\tcpu_ticks")
    val results = sorted.zipWithIndex.map { case ((name, fn), idx) =>
      val timings = (1 to math.max(1, runs)).map { _ =>
        val t0 = System.nanoTime()
        val outcome =
          try { fn(spark, sfDir).count(); None }
          catch { case e: Throwable => Some(e.getClass.getSimpleName) }
        ((System.nanoTime() - t0) / 1e9, outcome)
      }
      // an error in ANY run marks the query failed; min over clean runs
      val err = timings.collectFirst { case (_, Some(e)) => e }
      val best = timings.collect { case (t, None) => t }
        .reduceOption(_ min _).getOrElse(0.0)
      // max beside min: min≈max yet inflated = a sustained-slow window
      // (weather/external); min≪max = one descheduled run (absorbed)
      val worst = timings.collect { case (t, None) => t }
        .reduceOption(_ max _).getOrElse(0.0)
      val sc = spark.sparkContext
      val storage = sc.getRDDStorageInfo
      val (steal, ticks) = cpuSteal
      val line = f"$idx%d\t$name%s\t$best%.3f\t$worst%.3f\t$gcMillis%d\t${codeCacheUsed / 1e6}%.1f\t${heapUsed / 1e6}%.0f\t${sc.getPersistentRDDs.size}%d\t${storage.map(_.memSize).sum / 1e6}%.1f\t${storage.map(_.diskSize).sum / 1e6}%.1f\t$steal%d\t$ticks%d"
      instr.println(line); instr.flush()
      if (idx % 25 == 0) System.err.println(s"[bench-instr] $line")
      (name, best, err)
    }
    instr.close()
    def j(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val ok = results.filter(_._3.isEmpty)
    val qs = ok.map { case (k, v, _) => s"${j(k)}:$v" }.mkString("{", ",", "}")
    def errors(maxLen: Int) = results
      .collect { case (k, _, Some(e)) => s"${j(k)}:${j(e.take(maxLen))}" }
      .mkString("{", ",", "}")
    val errs = errors(Int.MaxValue)
    val total = ok.map(_._2).sum
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":${j(sfDir)}}"""
    println(full)
    // the full line overflows the driver's stdout tail; persist it to a file
    // and close stdout with one short, complete, parseable summary line
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(outPath)
      try w.println(full) finally w.close()
    } catch { case e: Throwable => System.err.println(s"[bench] could not write $outPath: $e") }
    // the summary truncates each error string; bench_out.json keeps them whole
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${ok.size},"errors":${errors(120)},"queries_file":${j(outPath)},"sf":${j(sfDir)}}""")
    spark.stop()
  }
}
