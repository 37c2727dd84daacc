package perfbench

/** The per-layer metrics every workload reports from its traced run. A
  * unit is one warm pass (batch workloads) or one recommend request
  * (`serve_replay`); each metric is the median over units of the unit's
  * total. */
object Layers {
  final case class Op(buildMs: Double, actionMs: Double, layers: Tracer.Layers)

  def report(rep: Report, units: Seq[Seq[Op]], cpus: Int): Unit = {
    def m(name: String, unit: String)(f: Op => Double): Unit =
      rep.metric(name, Stats.median(units.map(u => Stats.sum(u.map(f)))), unit)
    m("driver.build_ms", "ms")(_.buildMs)
    m("driver.action_ms", "ms")(_.actionMs)
    m("spark.analysis_ms", "ms")(_.layers.analysisMs)
    m("spark.optimization_ms", "ms")(_.layers.optimizationMs)
    m("spark.planning_ms", "ms")(_.layers.planningMs)
    m("spark.driver_only_ms", "ms")(_.layers.driverOnlyMs)
    m("spark.jobs_n", "count")(_.layers.jobs.toDouble)
    m("spark.stages_n", "count")(_.layers.stages.toDouble)
    m("spark.tasks_n", "count")(_.layers.tasks.toDouble)
    m("spark.task_run_ms", "ms")(_.layers.taskRunMs)
    m("spark.task_cpu_ms", "ms")(_.layers.taskCpuMs)
    m("spark.gc_ms", "ms")(_.layers.gcMs)
    m("spark.shuffle_read_bytes", "bytes")(_.layers.shuffleRead.toDouble)
    m("spark.shuffle_write_bytes", "bytes")(_.layers.shuffleWrite.toDouble)
    m("spark.spill_bytes", "bytes")(_.layers.spill.toDouble)
    // task run time over job-active time × cores: how busy executors are
    // while any job runs
    rep.metric("spark.core_util", Stats.median(units.map { u =>
      val active = Stats.sum(u.map(_.layers.jobsActiveMs))
      if (active <= 0) 0.0 else Stats.sum(u.map(_.layers.taskRunMs)) / (active * cpus)
    }), "ratio")
    // share of wall time inside Spark jobs or the tracked planning phases
    // of actions; the rest is driver time no layer names
    rep.metric("trace.attributed_pct", Stats.median(units.map { u =>
      val wall = Stats.sum(u.map(_.layers.wallMs))
      val named = Stats.sum(u.map { o =>
        val l = o.layers
        l.jobsActiveMs + math.min(l.analysisMs + l.optimizationMs + l.planningMs, l.driverOnlyMs)
      })
      if (wall <= 0) 0.0 else 100.0 * named / wall
    }), "%")
  }
}
