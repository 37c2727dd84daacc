package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The batch workloads: a fixed list of registry queries run in passes.
  *
  * Set-up ([[Env.setUp]]) ends with a warm-up pass that invokes each query
  * once cold; then [[SettlePasses]] untimed passes let the JIT settle; then
  * measured passes over the list, each in a seeded order, run until
  * `--seconds` have been spent in them.
  * Every invocation is isolated the way `graft.Bench` does it and runs its
  * query to completion through [[Digest.of]], whose result is checked
  * against the recorded expectation and against the run's first digest. */
object Batch {
  val SettlePasses = 1

  type Q = (SparkSession, String) => DataFrame

  final case class Inv(query: String, tag: String, startMs: Long, endMs: Long,
      buildMs: Double, actionMs: Double, digest: Either[String, Digest.Value]) {
    def wallMs: Double = buildMs + actionMs
  }

  def invoke(spark: SparkSession, dir: String, query: String, fn: Q, tag: String): Inv = {
    Env.quiesce(spark)
    spark.sparkContext.setLocalProperty(Tracer.TagKey, tag)
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val d = try {
      val df = fn(spark, dir)
      t1 = System.nanoTime()
      Right(Digest.of(df))
    } catch { case e: Throwable => Left(s"$query: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
    Inv(query, tag, s0, System.currentTimeMillis(), (t1 - t0) / 1e6, (t2 - t1) / 1e6, d)
  }

  def run(w: Workloads.Batch, cfg: Main.Config, rep: Report): SparkSession = {
    val reg = graft.SparkEntry.queries
    val ops: Seq[(String, Q)] = w.queries.map(q => q -> reg(q))
    val expected = Expected.load(cfg.expected)
    val missing = w.queries.filterNot(expected.contains)
    require(missing.isEmpty, s"no expected output recorded for ${missing.mkString(",")}")
    val rnd = new scala.util.Random(cfg.seed)
    val first = mutable.Map.empty[String, Digest.Value]

    def check(inv: Inv): Unit = rep.check(inv.digest match {
      case Left(err) => Some(err)
      case Right(d) =>
        expected(inv.query).problem(d).map(p => s"${inv.query}: $p").orElse {
          val f = first.getOrElseUpdate(inv.query, d)
          expected(inv.query) match {
            case _: Expected.Exact if f != d => Some(s"${inv.query}: digest changed from cold $f to $d")
            case _ => None
          }
        }
    })

    val spark = Env.setUp(cfg, rep)
    val cg0 = Tracer.codegen()
    val warm = rnd.shuffle(ops).map { case (q, fn) =>
      val inv = invoke(spark, cfg.data, q, fn, s"warmup/$q")
      check(inv)
      inv.wallMs
    }
    val cg1 = Tracer.codegen()
    Env.setUpDone(rep)
    rep.ctx("warmup_s", f"${Stats.sum(warm) / 1000.0}%.3f")
    rep.metric("spark.codegen_compile_n", (cg1._1 - cg0._1).toDouble, "count")
    rep.metric("spark.codegen_compile_ms", cg1._2 - cg0._2, "ms")

    // ---- settle passes: untimed, so the JIT has compiled the hot driver
    // paths before measuring
    for (p <- 0 until SettlePasses; (q, fn) <- rnd.shuffle(ops))
      check(invoke(spark, cfg.data, q, fn, s"settle$p/$q"))

    // ---- measured passes
    val tracer = new Tracer(spark)
    val passes = mutable.ArrayBuffer.empty[(Boolean, Seq[Inv])]
    val minPasses = if (cfg.trace) 4 else 2
    var spentMs = 0.0
    var p = 0
    while (p < minPasses || spentMs < cfg.seconds * 1000.0) {
      // untraced, traced, traced, untraced, ...: drift cancels in the overhead
      val traced = cfg.trace && (p % 4 == 1 || p % 4 == 2)
      if (traced) tracer.enable() else tracer.disable()
      val invs = rnd.shuffle(ops).map { case (q, fn) =>
        val inv = invoke(spark, cfg.data, q, fn, s"pass$p/$q")
        check(inv)
        inv
      }
      spentMs += Stats.sum(invs.map(_.wallMs))
      passes += traced -> invs
      p += 1
    }
    tracer.disable()
    val cg2 = Tracer.codegen()
    rep.ctx("codegen_warm_n", cg2._1 - cg1._1)
    rep.ctx("passes", passes.size)

    val plain = passes.filterNot(_._1).map(_._2)
    val passS = plain.map(invs => Stats.sum(invs.map(_.wallMs)) / 1000.0).toSeq
    // a query's latency is its median over the passes; the percentiles
    // run across the workload's queries
    val lat = plain.flatten.groupBy(_.query).values.map(xs => Stats.median(xs.map(_.wallMs).toSeq)).toSeq
    rep.metric("pass_s", Stats.median(passS), "s")
    rep.metric("query_p50_ms", Stats.quantile(lat, 0.5), "ms")
    // too few samples past the 90th percentile to gate it: context only
    rep.ctx("query_p90_ms", f"${Stats.quantile(lat, 0.9)}%.1f")
    rep.ctx("pass_times_s", passS.map(x => f"$x%.3f").mkString(","))

    if (cfg.trace) layerMetrics(tracer, passes.filter(_._1).map(_._2).toSeq, passS, cfg, rep)
    spark
  }

  /** Per-layer numbers from the traced passes: per-pass totals, median over
    * passes, plus each query's own split. */
  private def layerMetrics(tracer: Tracer, traced: Seq[Seq[Inv]], plainPassS: Seq[Double],
      cfg: Main.Config, rep: Report): Unit = {
    val split = traced.map(_.map(inv => inv -> tracer.layers(inv.tag, inv.startMs, inv.endMs)))
    Layers.report(rep, split.map(_.map { case (inv, l) => Layers.Op(inv.buildMs, inv.actionMs, l) }),
      cfg.cpus)
    val tracedS = split.map(pass => Stats.sum(pass.map(_._1.wallMs)) / 1000.0)
    rep.metric("trace.overhead_pct",
      100.0 * (Stats.median(tracedS) / Stats.median(plainPassS) - 1.0), "%")
    split.flatten.groupBy(_._1.query).toSeq.sortBy(_._1).foreach { case (q, xs) =>
      def med(f: ((Inv, Tracer.Layers)) => Double): Double = Stats.median(xs.map(f))
      rep.ctx(s"$q.warm_ms", f"${med(_._1.wallMs)}%.1f")
      rep.ctx(s"$q.jobs_n", med(_._2.jobs.toDouble).toLong)
      rep.ctx(s"$q.driver_only_ms", f"${med(_._2.driverOnlyMs)}%.1f")
      rep.ctx(s"$q.task_cpu_ms", f"${med(_._2.taskCpuMs)}%.1f")
    }
  }

  /** Writes the expected-output line of each query in `w` to `file`: a
    * cold and two warm invocations in this session, then two more in a
    * session with half the cores, so partition-count dependence shows. */
  def record(w: Workloads.Batch, cfg: Main.Config, file: String): Unit = {
    val reg = graft.SparkEntry.queries
    def digests(cpus: Int, n: Int): Map[String, Seq[Digest.Value]] = {
      val spark = Env.session(cpus, cfg.work)
      try w.queries.map { q =>
        q -> (1 to n).map(i => invoke(spark, cfg.data, q, reg(q), s"record$i/$q").digest
          .fold(e => sys.error(e), identity))
      }.toMap finally spark.stop()
    }
    val a = digests(cfg.cpus, 3)
    val b = digests(math.max(1, cfg.cpus / 2), 2)
    val lines = w.queries.sorted.map(q => Expected.line(q, a(q) ++ b(q)))
    java.nio.file.Files.write(java.nio.file.Paths.get(file),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
