package graft.perfbench

/** Per-layer figures derived from a traced run's spans. */
object Layers {
  type M = Seq[(String, Double, String)]
  private val MB = 1048576.0

  private def jobsUnder(spans: Seq[Span]): Seq[Span] = spans.filter(_.kind == "job")
  private def sumAttr(jobs: Seq[Span], k: String): Double =
    jobs.map(_.attrs.getOrElse(k, 0.0)).sum

  /** Figures every workload produces: Spark totals over the timed ops,
    * self time per layer, and the share of op time no Spark job covers
    * (planning, scheduling and work in the calling JVM). */
  def common(spans: Seq[Span]): M = {
    val jobs = jobsUnder(spans)
    val self = Tracer.selfTimes(spans)
    val roots = spans.filter(s => s.kind == "call" && s.parent == 0)
    val desc = Tracer.descendants(spans)
    // op time covered by no job: root self time plus its call children's
    val outsideMs = roots.map { r =>
      self(r.id) + desc(r.id).filter(_.kind == "call").map(s => self(s.id)).sum
    }.sum
    val opMs = roots.map(_.dur).sum
    val perLayer = spans.groupBy(_.layer).toSeq.sortBy(_._1).map {
      case (l, ss) => (s"layer.$l.self_ms", ss.map(s => self(s.id)).sum, "ms")
    }
    val waits = jobs.map(_.attrs("queue_wait_ms"))
    Seq(
      ("run.jobs", jobs.size.toDouble, "count"),
      ("run.stages", sumAttr(jobs, "stages"), "count"),
      ("run.tasks", sumAttr(jobs, "tasks"), "count"),
      ("run.task_cpu_ms", sumAttr(jobs, "cpu_ms"), "ms"),
      ("run.gc_ms", sumAttr(jobs, "gc_ms"), "ms"),
      ("run.shuffle_read_mb", sumAttr(jobs, "shuffle_read_b") / MB, "MB"),
      ("run.shuffle_write_mb", sumAttr(jobs, "shuffle_write_b") / MB, "MB"),
      ("run.spill_mb", sumAttr(jobs, "spill_b") / MB, "MB"),
      ("run.input_mb", sumAttr(jobs, "input_b") / MB, "MB"),
      ("run.queue_wait_mean_ms", if (waits.isEmpty) 0.0 else waits.sum / waits.size, "ms"),
      ("trace.spans", spans.size.toDouble, "count"),
      ("trace.jobs_per_op", jobs.size.toDouble / math.max(1, roots.size), "count"),
      ("trace.outside_jobs_frac", if (opMs > 0) outsideMs / opMs else 0.0, "ratio")
    ) ++ perLayer
  }

  /** For the call spans named `name`: p50 duration, jobs and shuffle per
    * call, and queue wait (submit to first task) summed per call. */
  def ofCalls(spans: Seq[Span], name: String, prefix: String,
              secondsUnit: Boolean = false): M = {
    val calls = spans.filter(s => s.kind == "call" && s.name == name)
    if (calls.isEmpty) Nil
    else {
      val desc = Tracer.descendants(spans)
      val perCall = calls.map(c => jobsUnder(desc(c.id)))
      def med(f: Seq[Span] => Double) = Stats.median(perCall.map(f))
      val p50 = Stats.median(calls.map(_.dur))
      Seq(
        if (secondsUnit) (s"$prefix.s", p50 / 1000, "s")
        else (s"$prefix.p50_ms", p50, "ms"),
        (s"$prefix.jobs", med(_.size.toDouble), "count"),
        (s"$prefix.queue_wait_ms", med(j => sumAttr(j, "queue_wait_ms")), "ms"),
        (s"$prefix.shuffle_mb",
          med(j => (sumAttr(j, "shuffle_read_b") + sumAttr(j, "shuffle_write_b")) / MB), "MB"),
        (s"$prefix.input_records", med(j => sumAttr(j, "input_records")), "count"))
    }
  }

  /** Median of a span attribute over the call spans named `name`. */
  def attr(spans: Seq[Span], name: String, key: String): Option[Double] = {
    val v = spans.filter(s => s.name == name).flatMap(_.attrs.get(key))
    if (v.isEmpty) None else Some(Stats.median(v))
  }
}
