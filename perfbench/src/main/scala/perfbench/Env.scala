package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Session construction and host readings shared by every workload. */
object Env {

  /** A session with `graft.Bench`'s configuration, so numbers from the two
    * harnesses stay comparable: UTC, shuffle width = cores, AQE allowed to
    * re-coalesce cached plans, a 4096-entry codegen cache and a 1m
    * coalesce floor. Scratch and warehouse directories live under
    * `workDir` so a run writes only inside its checkout. */
  def session(cpus: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def resolveTables(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    graft.Tables.names.foreach(t => graft.Tables.table(spark, dir, t).schema)
    graft.Tables.events(spark, dir).schema
    (System.nanoTime() - t0) / 1e6
  }

  /** The first part of set-up: a session and the resolution of every
    * fixture table, timed from JVM start (class loading, engine
    * initialisation, the first session). */
  def setUp(cfg: Main.Config, rep: Report): SparkSession = {
    val spark = session(cfg.cpus, cfg.work)
    rep.metric("Tables.resolve_ms", resolveTables(spark, cfg.data), "ms")
    rep.ctx("session_ready_s", f"${(System.nanoTime() - Main.jvmStartNanos()) / 1e9}%.3f")
    spark
  }

  /** Ends set-up when the workload's warm-up is done: `setup_s` runs from
    * JVM start to the first timed operation. */
  def setUpDone(rep: Report): Unit =
    rep.metric("setup_s", (System.nanoTime() - Main.jvmStartNanos()) / 1e9, "s")

  /** `graft.Bench`'s isolation between invocations: drop cached plans,
    * unpersist checkpointed RDDs, then collect the previous invocation's
    * garbage so it is not billed to the next one. */
  def quiesce(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    quiesceNs += System.nanoTime() - t0
  }

  /** Time spent in [[quiesce]] so far: harness overhead, never in a metric. */
  var quiesceNs = 0L

  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path))) catch { case _: Throwable => "" }

  def load1(): Double =
    read("/proc/loadavg").split(" ").headOption.flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** Host-wide (steal, total) jiffies from the first line of /proc/stat. */
  def stealJiffies(): (Long, Long) = {
    val f = read("/proc/stat").linesIterator.nextOption().getOrElse("")
      .trim.split("\\s+").drop(1).flatMap(_.toLongOption)
    if (f.length > 7) (f(7), f.sum) else (0L, 0L)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .flatMap(_.split("\\s+").lift(1)).flatMap(_.toDoubleOption)
      .map(_ / 1024.0).getOrElse(-1.0)

  def gcFlag(): String = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("-XX:+Use") && a.endsWith("GC")).mkString(",")
  }
}
