package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Benchmark entry point, started by `run.py` (which builds the engine and
  * the fixtures first):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --data <fixture dir> --work <scratch dir> --cpus <n>
  *                --expected <file> --out <result json> [--record <file>]
  * }}}
  *
  * Writes one JSON result (every metric measured, the operation tally and
  * the run's context) to `--out`. `--record` instead runs each batch query
  * several times and writes its expected-output line. */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, work: String, cpus: Int, expected: String, out: String,
      record: Option[String])

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Config(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("data"), get("work"), get("cpus").toInt, m.getOrElse("expected", ""),
      get("out"), m.get("record"))
  }

  /** Nanos on the `System.nanoTime` clock at which this JVM started. */
  def jvmStartNanos(): Long =
    System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val rep = new Report
    val (steal0, total0) = Env.stealJiffies()
    rep.ctx("workload", cfg.workload)
    rep.ctx("seed", cfg.seed)
    rep.ctx("trace", if (cfg.trace) 1 else 0)
    rep.ctx("nproc", Runtime.getRuntime.availableProcessors)
    rep.ctx("master", s"local[${cfg.cpus}]")
    rep.ctx("data", Paths.get(cfg.data).getFileName)
    rep.ctx("heap_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    rep.ctx("gc_flag", Env.gcFlag())
    rep.ctx("load1_start", Env.load1())
    (Workloads.byName(cfg.workload), cfg.record) match {
      case (b: Workloads.Batch, Some(file)) => return Batch.record(b, cfg, file)
      case (b: Workloads.Batch, None) => Batch.run(b, cfg, rep).stop()
      case (Workloads.Serve, _) => ServeReplay.run(cfg, rep).stop()
    }
    rep.ctx("quiesce_s", f"${Env.quiesceNs / 1e9}%.2f")
    val (steal1, total1) = Env.stealJiffies()
    rep.ctx("load1_end", Env.load1())
    rep.ctx("steal_pct", if (total1 > total0) f"${100.0 * (steal1 - steal0) / (total1 - total0)}%.2f" else "0")
    rep.metric("rss_peak_mb", Env.rssPeakMb(), "MB")
    rep.metric("error_rate", if (rep.attempted == 0) 1.0 else rep.failedN.toDouble / rep.attempted, "ratio")
    Files.write(Paths.get(cfg.out), rep.json.getBytes("UTF-8"))
  }
}
