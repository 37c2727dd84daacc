package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.functions.VectorOps
import graft.ops.AsOf
import graft.recall.{Cascade, NeuralForward}
import graft.streaming.BehaviorIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** KV store handed to `BehaviorIngest.profileSink`: writes through to
  * `InMemoryKV` and stamps when each key first became readable. A Scala
  * object, so the copies deserialized by local-mode tasks are this one. */
object TimedKV extends BehaviorIngest.KVStore {
  val readableNs = new ConcurrentHashMap[String, java.lang.Long]()
  val puts = new AtomicLong()

  override def put(key: String, value: String): Unit = {
    BehaviorIngest.InMemoryKV.put(key, value)
    readableNs.putIfAbsent(key, System.nanoTime())
    puts.incrementAndGet()
  }

  def clear(): Unit = {
    BehaviorIngest.InMemoryKV.clear(); readableNs.clear(); puts.set(0)
  }
}

/** `serve_replay`: the reference's product path, writes beside reads.
  *
  * Ingest is an open loop: a generator thread replays kafka-shaped events
  * `{user_id, history_items, timestamp}` (built from `events`, history =
  * the user's last three items) into a memory source at a fixed rate,
  * each event stamped with its due time; they flow through
  * `BehaviorIngest.parse` → `profileSink` into the KV store. Serving runs
  * beside it as a closed loop with one client: each request takes the next
  * [[UsersPerRequest]] users of a seeded permutation at the replay horizon
  * through `AsOf.historyAsOf` → `VectorOps.meanPool` →
  * `Cascade.recommend` with the DIN / RankNet fixture scorers, as
  * `graft.Replay` does. [[SettleRequests]] untimed requests let the JIT
  * settle (request times keep falling for ten to twenty requests; a
  * measured window further down that curve depends less on how many
  * requests fit in it); then a pass is [[PassRequests]] requests.
  *
  * After the measured phase, a capacity ladder doubles the ingest rate
  * every half second (serving idle) to find the highest rate whose p99 latency
  * stays within [[IngestLimitMs]].
  *
  * A traced run ends with a single-threaded baseline: the reference-rate
  * ingest alone on `local[1]`, printed and not gated.
  *
  * Checks, one operation each: an ingest window (the measured one or a
  * ladder step) is right when every KV profile written in it equals the
  * history computed here for its `(user, ts)`; a request is right when
  * every user's response equals one batch cascade run over all requests'
  * users at their horizons. */
object ServeReplay {
  val RefRateEps = 2000.0
  val UsersPerRequest = 16
  val PassRequests = 2
  val IngestLimitMs = 1000.0
  val HistoryLen = 3
  val LadderStepS = 0.5
  val LadderSteps = 6
  val TickMs = 20L
  val BaselineS = 2.0
  val SettleRequests = 12

  final case class Msg(user: Long, tsNs: Long, items: Array[Long]) {
    def key: String = s"user_profile:$user:$tsNs"
    def kvValue: String = items.map(i => "\"" + i + "\"").mkString("[", ",", "]")
    def json: String =
      s"""{"user_id":"$user","history_items":$kvValue,"timestamp":$tsNs}"""
  }

  /** Static serving inputs, built once per session. */
  final class Model(spark: SparkSession, dir: String) {
    import spark.implicits._
    val ev: DataFrame = graft.Tables.events(spark, dir)
    val emb: DataFrame = graft.Tables.embeddings(spark, dir)
    val nItems: Long = emb.count()
    val behaviors: DataFrame = ev.select($"user_id", ($"event_id" % nItems).as("item_id"), $"ts")
    val items: DataFrame = emb.select($"vec_id".as("item_id"), $"embedding".as("item_emb"))
    val itemFeats: DataFrame = emb.select($"vec_id".as("item_id"),
      slice($"embedding".cast("array<double>"), 1, 8).as("feat"))
    val din = NeuralForward.fixtureDin()
    val rankNet = NeuralForward.fixtureRankNet()

    def history(users: DataFrame): DataFrame =
      AsOf.historyAsOf(users, behaviors, "user_id", "ts", "ts",
        payload = $"item_id", outCol = "history", n = 10, tieBreak = $"item_id")

    def userVectors(hist: DataFrame): DataFrame = {
      val fetched = hist.select($"user_id", explode($"history").as("item_id"))
        .join(broadcast(emb.select($"vec_id".as("item_id"), $"embedding")), "item_id")
      VectorOps.meanPool(fetched, Seq("user_id"), $"embedding", "user_emb")
        .join(hist.select($"user_id", $"history"), "user_id")
    }

    def dinScorer(hist: DataFrame): Cascade.Scorer = {
      val dinHists = hist.select($"user_id", explode($"history").as("item_id"))
        .join(broadcast(itemFeats), "item_id")
        .groupBy($"user_id")
        .agg(transform(array_sort(collect_list(struct($"item_id", $"feat"))),
          p => p.getField("feat")).as("hist"))
      NeuralForward.dinScorer(itemFeats, dinHists, din)
    }

    def rankNetScorer(userVecs: DataFrame): Cascade.Scorer =
      NeuralForward.rankNetScorer(userVecs.select($"user_id",
        slice($"user_emb".cast("array<double>"), 1, 8).as("ufeat")), itemFeats, rankNet)

    /** The fused request plan: (user_id, item_id, final_rank). */
    def recommend(users: DataFrame): DataFrame = {
      val hist = history(users)
      val userVecs = userVectors(hist)
      Cascade.recommend(userVecs, items, dinScorer(hist), rankNetScorer(userVecs),
        n1 = 50, n2 = 20, n3 = 5)
    }

    def usersAt(pairs: Seq[(Long, Long)]): DataFrame = pairs.toDF("user_id", "ts")
  }

  type Recs = Map[Long, Seq[(Long, Int)]]

  def collectRecs(df: DataFrame): Recs =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(x => (x._2, x._3)).sortBy(_._2) }

  final case class Request(users: Seq[Long], horizon: Long, recs: Recs, buildMs: Double,
      actionMs: Double, traced: Boolean, tag: String, startMs: Long, endMs: Long,
      stageMs: Map[String, Double]) {
    def wallMs: Double = buildMs + actionMs
  }

  /** One request through the fused plan, or (traced) stage by stage with
    * each boundary materialized and timed. */
  def serve(spark: SparkSession, m: Model, users: Seq[Long], horizon: Long, traced: Boolean,
      tag: String): Request = {
    spark.sparkContext.setLocalProperty(Tracer.TagKey, tag)
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val frame = m.usersAt(users.map(u => (u, horizon)))
    val (recs, buildNs, stages) = if (!traced) {
      val df = m.recommend(frame)
      val b = System.nanoTime() - t0
      (collectRecs(df), b, Map.empty[String, Double])
    } else {
      var build = 0L
      val st = mutable.LinkedHashMap.empty[String, Double]
      val pinned = mutable.ArrayBuffer.empty[DataFrame]
      def stage[T](name: String)(mk: => DataFrame)(act: DataFrame => T): (DataFrame, T) = {
        val a = System.nanoTime()
        val df = mk
        build += System.nanoTime() - a
        val p = df.persist()
        pinned += p
        val r = act(p)
        st(name) = (System.nanoTime() - a) / 1e6
        (p, r)
      }
      val (hist, _) = stage("ops.AsOf.history_ms")(m.history(frame))(_.count())
      val (vecs, _) = stage("functions.VectorOps.meanPool_ms")(m.userVectors(hist))(_.count())
      val (recalled, n) = stage("recall.Cascade.recall_ms")(Cascade.recall(vecs, m.items, 50))(_.count())
      st("recall.candidates_n") = n.toDouble
      val (ranked, _) = stage("recall.Cascade.rank_ms")(
        Cascade.rankStage(recalled, m.dinScorer(hist), 20, "rank_stage"))(_.count())
      val (_, recs) = stage("recall.Cascade.rerank_ms")(
        Cascade.rankStage(ranked.drop("rank_stage"), m.rankNetScorer(vecs), 5, "final_rank")
          .select(col("user_id"), col("item_id"), col("final_rank")))(collectRecs)
      pinned.foreach(_.unpersist(blocking = true))
      (recs, build, st.toMap)
    }
    val wall = System.nanoTime() - t0
    spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
    Request(users, horizon, recs, buildNs / 1e6, (wall - buildNs) / 1e6, traced, tag, s0,
      System.currentTimeMillis(), stages)
  }

  /** Replays messages `from until from + n` at `rate` events/s starting
    * now; due times carry seeded jitter within each event's slot. */
  final class Generator(mem: MemoryStream[String], msgs: Int => Msg, from: Int, n: Int,
      rate: Double, jitter: Array[Double]) extends Thread("perfbench-generator") {
    setDaemon(true)
    val t0: Long = System.nanoTime()
    def dueNs(i: Int): Long = t0 + ((i + jitter((from + i) % jitter.length)) / rate * 1e9).toLong
    val lateNs = mutable.ArrayBuffer.empty[Long]
    @volatile var sent = 0
    @volatile var horizon: Long = msgs(from).tsNs
    @volatile var maxBacklog = 0L
    @volatile private var stopped = false

    def finish(): Unit = { stopped = true; join() }

    override def run(): Unit = {
      val base = TimedKV.puts.get()
      while (!stopped && sent < n) {
        val now = System.nanoTime()
        var k = sent
        while (k < n && dueNs(k) <= now) k += 1
        if (k > sent) {
          lateNs += now - dueNs(sent)
          mem.addData((sent until k).map(i => msgs(from + i).json))
          horizon = msgs(from + k - 1).tsNs
          sent = k
        }
        maxBacklog = math.max(maxBacklog, sent - (TimedKV.puts.get() - base))
        // one source block per tick: the memory source plans one
        // partition (one task) per block
        Thread.sleep(TickMs)
      }
    }

    /** Latency (ms) from due time to readable, per sent event; None if the
      * key never became readable. */
    def latencies(): Seq[Option[Double]] = (0 until sent).map { i =>
      Option(TimedKV.readableNs.get(msgs(from + i).key)).map(r => (r - dueNs(i)) / 1e6)
    }

    def awaitWritten(timeoutMs: Long): Unit = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var i = 0
      while (i < sent && System.nanoTime() < deadline) {
        if (TimedKV.readableNs.containsKey(msgs(from + i).key)) i += 1 else Thread.sleep(2)
      }
    }
  }

  def startIngest(spark: SparkSession, work: String, name: String): (MemoryStream[String], StreamingQuery) = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[String]
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work, "ckpt")), name).toString
    val q = BehaviorIngest.profileSink(BehaviorIngest.parse(mem.toDF(), "value"), TimedKV, ckpt)
      .start()
    (mem, q)
  }

  /** Kafka-shaped messages for every event, in time order; index `i` past
    * the end replays the stream again 30 days later, so keys stay unique. */
  def messages(spark: SparkSession, m: Model): Int => Msg = {
    val rows = m.ev.select(col("event_id"), col("ts"), col("user_id"))
      .orderBy(col("ts"), col("event_id")).collect()
    val last = mutable.Map.empty[Long, List[Long]]
    val base = rows.map { r =>
      val u = r.getLong(2)
      val h = (r.getLong(0) % m.nItems :: last.getOrElse(u, Nil)).take(HistoryLen)
      last(u) = h
      Msg(u, r.getLong(1), h.reverse.toArray)
    }
    val span = 30L * 86400L * 1000000000L
    i => { val b = base(i % base.length); b.copy(tsNs = b.tsNs + (i / base.length) * span) }
  }

  def run(cfg: Main.Config, rep: Report): SparkSession = {
    val rnd = new scala.util.Random(cfg.seed)
    val spark = Env.setUp(cfg, rep)
    // warm-up: the static serving frames, one cold request and one ingest
    // round trip through a fresh stream
    val cg0 = Tracer.codegen()
    val w0 = System.nanoTime()
    val model = new Model(spark, cfg.data)
    serve(spark, model, Seq(0L, 1L), Long.MaxValue, traced = false, "warmup")
    TimedKV.clear()
    val (warmMem, warmQ) = startIngest(spark, cfg.work, "warmup")
    val warm = Msg(-1L, 0L, Array(0L))
    warmMem.addData(warm.json)
    warmQ.processAllAvailable()
    warmQ.stop()
    rep.check(if (TimedKV.readableNs.containsKey(warm.key)) None
      else Some("warm-up profile not written"))
    Env.setUpDone(rep)
    rep.ctx("warmup_s", f"${(System.nanoTime() - w0) / 1e9}%.3f")
    val cg1 = Tracer.codegen()
    rep.metric("spark.codegen_compile_n", (cg1._1 - cg0._1).toDouble, "count")
    rep.metric("spark.codegen_compile_ms", cg1._2 - cg0._2, "ms")

    // seeded inputs: replay start, arrival jitter, user order
    val msgs = messages(spark, model)
    val nEvents = model.ev.count().toInt
    val jitter = Array.fill(nEvents)(rnd.nextDouble())
    val userOrder = rnd.shuffle(model.ev.select("user_id").distinct().collect().map(_.getLong(0)).toSeq.sorted)
    var nextUser = 0
    val start = rnd.nextInt(nEvents)
    var cursor = start

    TimedKV.clear()
    val tracer = new Tracer(spark)
    val (mem, query) = startIngest(spark, cfg.work, "measure")
    val gen = new Generator(mem, msgs, cursor, Int.MaxValue / 4, RefRateEps, jitter)
    gen.start()
    val perRequest = math.min(UsersPerRequest, userOrder.size)
    def nextUsers(): Seq[Long] = {
      val us = (0 until perRequest).map(i => userOrder((nextUser + i) % userOrder.size))
      nextUser += perRequest
      us
    }
    val settled = (0 until SettleRequests).map(i =>
      serve(spark, model, nextUsers(), gen.horizon, traced = false, s"settle$i"))
    val requests = mutable.ArrayBuffer.empty[Request]
    val windowT0 = System.nanoTime()
    val minRequests = if (cfg.trace) 4 * PassRequests else 3 * PassRequests
    while (requests.size < minRequests || (System.nanoTime() - windowT0) / 1e9 < cfg.seconds ||
        requests.size % PassRequests != 0) {
      val traced = cfg.trace && Set(1, 2)((requests.size / PassRequests) % 4)
      if (traced) tracer.enable() else tracer.disable()
      requests += serve(spark, model, nextUsers(), gen.horizon, traced, s"req${requests.size}")
    }
    gen.finish()
    gen.awaitWritten(10000)
    tracer.disable()
    val window = (start, start + gen.sent)
    cursor += gen.sent

    // capacity ladder: serving idle, the rate doubles each step
    var maxEps = 0.0
    var rate = RefRateEps * 4
    var step = 0
    var passing = true
    val steps = mutable.ArrayBuffer.empty[(Int, Int)]
    while (passing && step < LadderSteps) {
      val n = (rate * LadderStepS).toInt
      val g = new Generator(mem, msgs, cursor, n, rate, jitter)
      g.start(); g.join(); g.awaitWritten((IngestLimitMs * 3).toLong)
      val l = g.latencies()
      passing = l.forall(_.nonEmpty) && Stats.quantile(l.flatten, 0.99) <= IngestLimitMs
      rep.ctx(s"ladder_${rate.toInt}_p99_ms",
        if (l.forall(_.nonEmpty)) f"${Stats.quantile(l.flatten, 0.99)}%.1f" else "unwritten")
      if (passing) maxEps = rate
      steps += ((cursor, cursor + n))
      cursor += n; rate *= 2; step += 1
    }
    // a step that failed on time still owes its writes: drain the backlog
    // before stopping, so a slow host shows as a lower rate, never as
    // missing profiles
    query.processAllAvailable()
    query.stop()
    rep.ctx("ingest_max_eps", maxEps)
    // every step passed: the figure is a lower bound set by the ladder's top
    rep.ctx("ingest_max_eps_at_ladder_top", passing)
    rep.ctx("ingest_limit_ms", IngestLimitMs)

    // ingest at the reference rate, beside serving
    val lat = gen.latencies()
    val ok = lat.flatten
    val late = gen.lateNs.map(_ / 1e6).toSeq
    rep.ctx("ingest_p50_ms", f"${Stats.quantile(ok, 0.5)}%.2f")
    rep.ctx("ingest_p99_ms", f"${Stats.quantile(ok, 0.99)}%.2f")
    rep.ctx("ingest_events", lat.size)
    rep.ctx("generator.lag_ms", f"${if (late.isEmpty) 0.0 else Stats.quantile(late, 0.99)}%.2f")
    rep.ctx("streaming.backlog_events", gen.maxBacklog)

    // one checked operation per ingest window (the measured one, then each
    // ladder step): every profile the stream wrote in it must equal the
    // history computed here
    (("measured", window) +: steps.toSeq.zipWithIndex.map { case (w, i) => (s"ladder$i", w) })
      .foreach { case (name, (from, until)) =>
        val bad = (from until until).iterator.map(msgs).filter(m =>
          BehaviorIngest.InMemoryKV.data.get(m.key) != m.kvValue)
        rep.check(bad.nextOption().map(m => s"ingest $name: profile ${m.key} = " +
          s"${BehaviorIngest.InMemoryKV.data.get(m.key)}, expected ${m.kvValue}"))
      }
    rep.ctx("streaming.kv_put_ratio", f"${TimedKV.puts.get().toDouble / (cursor - start)}%.4f")
    if (cfg.trace) streamLayers(tracer, rep)

    // recommendations
    val plain = requests.filterNot(_.traced).toSeq
    val passS = plain.grouped(PassRequests).filter(_.size == PassRequests)
      .map(g => Stats.sum(g.map(_.wallMs)) / 1000.0).toSeq
    rep.metric("pass_s", Stats.median(passS), "s")
    rep.metric("query_p50_ms", Stats.quantile(plain.map(_.wallMs), 0.5), "ms")
    // too few samples past the 90th percentile to gate it: context only
    rep.ctx("recommend_p50_ms", f"${Stats.quantile(plain.map(_.wallMs), 0.5)}%.1f")
    rep.ctx("recommend_p90_ms", f"${Stats.quantile(plain.map(_.wallMs), 0.9)}%.1f")
    rep.ctx("request_times_ms", plain.map(r => f"${r.wallMs}%.0f").mkString(","))
    rep.ctx("recommend_users_per_s",
      f"${plain.map(_.users.size).sum / (Stats.sum(plain.map(_.wallMs)) / 1000.0)}%.3f")

    // one checked operation per request: every user's response must equal
    // one batch cascade over all requests' users
    val seen = mutable.Set.empty[Long]
    val pairs = (settled ++ requests).flatMap(r => r.users.filter(seen.add).map(u => (u, r.horizon))).toSeq
    val batch = collectRecs(model.recommend(model.usersAt(pairs)))
    val horizonOf = pairs.toMap
    (settled ++ requests).foreach { r =>
      rep.check(r.users.filter(u => horizonOf(u) == r.horizon)
        .find(u => r.recs.getOrElse(u, Nil) != batch.getOrElse(u, Nil))
        .map(u => s"${r.tag} user $u: ${r.recs.getOrElse(u, Nil)} != batch ${batch.getOrElse(u, Nil)}"))
    }

    if (cfg.trace) {
      val traced = requests.filter(_.traced).toSeq
      Layers.report(rep, traced.map(r =>
        Seq(Layers.Op(r.buildMs, r.actionMs, tracer.layers(r.tag, r.startMs, r.endMs)))), cfg.cpus)
      rep.metric("trace.overhead_pct", 100.0 * (Stats.median(traced.map(_.wallMs)) /
        Stats.median(plain.map(_.wallMs)) - 1.0), "%")
      traced.head.stageMs.keys.foreach { k =>
        rep.ctx(k, f"${Stats.median(traced.map(_.stageMs(k)))}%.2f")
      }
      spark.stop()
      singleThreadBaseline(cfg, rep, msgs, cursor, jitter)
    } else spark
  }

  /** The reference-rate ingest alone on `local[1]`: printed beside the
    * traced numbers, never gated. Returns the session it ran in. */
  private def singleThreadBaseline(cfg: Main.Config, rep: Report, msgs: Int => Msg, from: Int,
      jitter: Array[Double]): SparkSession = {
    val one = Env.session(1, cfg.work)
    val (mem, q) = startIngest(one, cfg.work, "local1")
    val g = new Generator(mem, msgs, from, (RefRateEps * BaselineS).toInt, RefRateEps, jitter)
    g.start(); g.join(); g.awaitWritten(10000)
    q.stop()
    val l = g.latencies()
    rep.check(if (l.forall(_.nonEmpty)) None else Some("local[1] baseline: events never written"))
    rep.ctx("baseline_local1_ingest_p50_ms", f"${Stats.quantile(l.flatten, 0.5)}%.2f")
    rep.ctx("baseline_local1_ingest_p99_ms", f"${Stats.quantile(l.flatten, 0.99)}%.2f")
    one
  }

  /** Median per-batch `durationMs` parts of the measured stream. */
  private def streamLayers(tracer: Tracer, rep: Report): Unit = {
    val bs = tracer.batches.toArray(Array.empty[Map[String, Double]]).toSeq
      .filter(_.getOrElse("numInputRows", 0.0) > 0)
    rep.ctx("streaming.batches_n", bs.size)
    Seq("triggerExecution" -> "trigger", "addBatch" -> "addBatch", "getBatch" -> "getBatch",
        "queryPlanning" -> "queryPlanning", "walCommit" -> "walCommit").foreach { case (k, n) =>
      val xs = bs.flatMap(_.get(k))
      rep.ctx(s"streaming.${n}_ms", if (xs.isEmpty) "0" else f"${Stats.median(xs)}%.2f")
    }
  }
}
