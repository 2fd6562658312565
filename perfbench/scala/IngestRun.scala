package perfbench

import graft.streaming.{Daemon, Ingest}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `ingest` workload: `streaming.Daemon` in `mode=tcp` polling the
  * benchmark's device simulator (run.py) for `warm + timed` ticks.
  *
  * The source admits one tick per trigger, so the loop is closed: the
  * daemon polls again as soon as the previous micro-batch commits. The
  * warm ticks are set-up; the timed window runs from the trigger of the
  * first timed tick to the commit of the last. The run ends with
  * `drainAndCompact()`, after which run.py checks the stored fact and
  * status tables.
  *
  * With tracing, a sampler reads the ingest stream thread's stack every
  * few milliseconds during the second half of the window, so each tick's
  * wall time splits into the self time of the graft function innermost
  * on the stack, Spark's own trigger phases, and a remainder. */
object IngestRun {

  final case class Chan(id: Long, addr: Int, count: Int, format: Int, conv: Long,
      history: Int, dead: Boolean)

  final case class Config(startEpoch: Long, port: Int, probeAddr: Int, warm: Int, timed: Int,
      conversions: Seq[(Long, String)], channels: Seq[Chan])

  def readConfig(path: String): Config = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val kv = lines.map(_.split(" ", 2)).collect { case Array(k, v) => k -> v }
    def one(k: String): String = kv.find(_._1 == k).get._2
    Config(one("start_epoch").toLong, one("port").toInt, one("probe_addr").toInt,
      one("ticks_warm").toInt, one("ticks_timed").toInt,
      kv.collect { case ("conv", v) => val Array(id, p) = v.split(" ", 2); id.toLong -> p },
      kv.collect { case ("chan", v) =>
        val f = v.split(" ")
        Chan(f(0).toLong, f(1).toInt, f(2).toInt, f(3).toInt, f(4).toLong, f(5).toInt, f(6) == "1")
      })
  }

  /** One ingest-query progress event: trigger start (epoch ms) and phases. */
  final case class Tick(batchId: Long, startMs: Long, rows: Long, dur: Map[String, Long]) {
    def ms: Long = dur.getOrElse("triggerExecution", 0L)
    def endMs: Long = startMs + ms
  }

  final class Progress extends StreamingQueryListener {
    val ticks = new java.util.concurrent.ConcurrentHashMap[String, mutable.ArrayBuffer[Tick]]()
    @volatile var failure: Option[String] = None
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      e.exception.foreach(x => failure = Some(x.take(300)))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t = Tick(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      val buf = ticks.computeIfAbsent(p.id.toString, _ => mutable.ArrayBuffer[Tick]())
      buf.synchronized { buf += t }
      ()
    }
    /** Ticks of query `id` that carried data, one per batch id. */
    def of(id: String): Seq[Tick] = Option(ticks.get(id)).toSeq.flatMap { b =>
      b.synchronized(b.toList).filter(_.rows > 0).groupBy(_.batchId).values.map(_.head)
        .toSeq.sortBy(_.batchId)
    }
    def all(id: String): Seq[Tick] = Option(ticks.get(id)).toSeq.flatMap(b => b.synchronized(b.toList))
  }

  /** Graft functions that own a tick's time on the stream thread, innermost first. */
  val Layers: Seq[String] = Seq(
    "streaming.Ingest.mergeStatus", "streaming.Ingest.compactFact",
    "streaming.Daemon.compactBeforePersist", "streaming.Ingest.persistBatch")

  /** Stack samples of one thread: (epoch ms, weight ms, layer, blocked). */
  final class Sampler(thread: Thread, periodMs: Long) extends Thread("perfbench-sampler") {
    setDaemon(true)
    val samples = mutable.ArrayBuffer[(Long, Double, String, Boolean)]()
    @volatile var running = true
    /** time spent taking stacks: an upper bound on the sampled thread's pauses */
    @volatile var nanos = 0L
    override def run(): Unit = {
      var last = System.nanoTime()
      while (running) {
        Thread.sleep(periodMs)
        val t0 = System.nanoTime()
        val stack = thread.getStackTrace
        val blocked = thread.getState == Thread.State.BLOCKED
        val now = System.nanoTime()
        nanos += now - t0
        val fns = Tracer.graftFns(stack)
        val layer = fns.find(Layers.contains)
          .orElse(fns.headOption.map(_ => "graft.other")).getOrElse("")
        samples.synchronized {
          samples += ((System.currentTimeMillis(), (now - last) / 1e6, layer, blocked))
        }
        last = now
      }
    }
  }

  def run(o: Opts): Json.Obj = {
    val cfg = readConfig(o.configFile)
    val spark = graft.model.Tables.buildLocalSession(o.cpus)
    val sc = spark.sparkContext
    import spark.implicits._
    val channels = cfg.channels.map(c => (c.id, c.format, c.conv, c.history))
      .toDF("id", "format_code", "conversion_id", "history_len")
    val sourceOptions = Map(
      "mode" -> "tcp", "host" -> "127.0.0.1", "port" -> cfg.port.toString,
      "channels" -> cfg.channels.map(c => s"${c.id}@${c.addr}@${c.count}").mkString(","),
      "startEpochSec" -> cfg.startEpoch.toString, "periodSec" -> "1",
      "numPartitions" -> "2", "timeoutMs" -> "2000",
      "maxTicks" -> (cfg.warm + cfg.timed).toString)

    val tracer = new Tracer
    val counter = new JobCounter
    val probe = if (o.trace) Some(Tracer.probe(spark)) else None
    // the counter first: once the tracer has seen the drain sentinel, so has it
    if (o.trace) { sc.addSparkListener(counter); sc.addSparkListener(tracer) }
    val readUs = if (o.trace) readProbe(cfg) else Seq.empty[Double]
    val progress = new Progress
    spark.streams.addListener(progress)

    val dataDir = s"${o.workDir}/daq"
    val daemon = new Daemon(spark, channels, cfg.conversions, sourceOptions, dataDir)
    daemon.start()
    val ingestId = daemon.ingest.id.toString
    val heartbeat = spark.streams.active.find(_.id != daemon.ingest.id)
    tracer.labelStream(ingestId, "ingest")
    heartbeat.foreach(h => tracer.labelStream(h.id.toString, "heartbeat"))

    // in-loop retention swaps the fact directory: each new inode of it
    // (after the first) is one compaction, seen without any tracing
    val factPath = java.nio.file.Paths.get(daemon.factDir)
    def factInode: Option[AnyRef] =
      scala.util.Try(java.nio.file.Files.getAttribute(factPath, "unix:ino")).toOption
    val compactions = mutable.ArrayBuffer[Long]()
    var inode = factInode

    val total = cfg.warm + cfg.timed
    val halfway = cfg.warm + cfg.timed / 2
    var sampler: Option[Sampler] = None
    var meter: Option[Main.Meter] = None
    var metered: Seq[(String, Any)] = Nil
    val deadline = System.nanoTime() + 150e9.toLong
    def committed = progress.of(ingestId).size
    while (committed < total && daemon.ingest.isActive && System.nanoTime() < deadline) {
      if (meter.isEmpty && committed >= cfg.warm) meter = Some(new Main.Meter)
      if (o.trace && sampler.isEmpty && committed >= halfway) {
        probe.foreach(_.on = true)
        val t = Thread.getAllStackTraces.keySet.asScala
          .find(_.getName.contains(s"id = $ingestId"))
        sampler = t.map(new Sampler(_, 5))
        sampler.foreach(_.start())
      }
      val now = factInode
      if (now.isDefined && inode.isDefined && now != inode) compactions += System.currentTimeMillis()
      if (now.isDefined) inode = now
      Thread.sleep(10)
    }
    metered = meter.map(_.result()).getOrElse(Nil)
    sampler.foreach(_.running = false)
    sampler.foreach(_.join())
    probe.foreach(_.on = false)
    // the probe runs on the tick thread, so its time is exact; the sampler's
    // stack walks mostly wait for the tick thread to reach a safepoint and
    // overstate its pauses, so they are reported apart (sampler_ms)
    val hookMs = probe.map(_.nanos.get).getOrElse(0L) / 1e6
    val samplerMs = sampler.map(_.nanos).getOrElse(0L) / 1e6
    val ticks = progress.of(ingestId)
    val window = ticks.filter(t => t.batchId >= cfg.warm && t.batchId < total)
    val failure = progress.failure.orElse(
      if (window.size < cfg.timed) Some(s"only ${ticks.size} of $total ticks committed") else None)

    val storage = Tracer.enter(sc, "storage")(storageStats(spark, daemon))._1
    // the final retention pass, measured on its own (drain finds nothing left)
    val drainMs = if (failure.nonEmpty) None else (try {
      Some(Tracer.enter(sc, "drain")(daemon.drainAndCompact())._2)
    } catch { case e: Throwable => System.err.println(Main.describe(e)); None })
    daemon.stop()
    val decodeMs = if (o.trace && drainMs.isDefined) decodeOnly(spark, cfg, channels) else 0.0
    if (o.trace) Tracer.drain(spark, tracer)

    val inWindow = window.headOption.map(w => compactions.count(c =>
      c >= w.startMs && c <= window.last.endMs + 20)).getOrElse(0)
    val layers = if (!o.trace) Json.obj() else tickLayers(window, sampler, tracer,
      progress.all(heartbeat.map(_.id.toString).getOrElse("")), readUs, storage, decodeMs,
      drainMs.getOrElse(0.0), inWindow, hookMs, samplerMs)
    val result = Json.Obj(metered ++ Seq(
      "setup_end_ms" -> window.headOption.map(_.startMs).getOrElse(0L),
      "op_ms" -> window.map(_.ms.toDouble),
      "ops" -> window.size,
      "window_s" -> (if (window.isEmpty) 0.0 else (window.last.endMs - window.head.startMs) / 1e3),
      "ticks" -> ticks.size,
      "compactions_in_window" -> inWindow,
      "failed_ops" -> (cfg.timed - window.size + (if (drainMs.isDefined) 0 else 1)),
      "errors" -> failure.map(f => Json.obj("ingest" -> f)).getOrElse(Json.obj()),
      "fact_dir" -> daemon.factDir,
      "status_dir" -> daemon.statusDir,
      "layers" -> layers,
      "spans" -> Tracer.spansJson(tracer),
      "jobs_counted" -> counter.jobs,
      "jobs_span_sum" -> tracer.jobsBySpanSum,
      "rss_mb" -> Main.peakRssMb()))
    spark.stop()
    result
  }

  /** Loopback read latency of one `ModbusTcpClient`, µs per read, on the
    * simulator's probe address (never a channel, so channel read counts
    * stay exact). */
  private def readProbe(cfg: Config): Seq[Double] = {
    val client = new graft.sources.ModbusTcpClient("127.0.0.1", cfg.port, 2000)
    try {
      (1 to 200).foreach(_ => client.readHoldingRegisters(1, cfg.probeAddr, 4))
      (1 to 2000).map { _ =>
        val t0 = System.nanoTime()
        client.readHoldingRegisters(1, cfg.probeAddr, 4)
        (System.nanoTime() - t0) / 1e3
      }
    } finally client.close()
  }

  private def storageStats(spark: SparkSession, daemon: Daemon): Map[String, Double] = {
    def files(dir: String): Seq[java.io.File] = {
      val root = new java.io.File(dir)
      if (!root.exists) Nil
      else java.nio.file.Files.walk(root.toPath).iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    }
    val fact = files(daemon.factDir)
    val rows = if (fact.isEmpty) 0L else Ingest.readFact(spark, daemon.factDir).count()
    Map("storage.fact.files" -> fact.size.toDouble,
      "storage.fact.bytes_per_sample" -> (if (rows == 0) 0.0 else fact.map(_.length).sum.toDouble / rows),
      "storage.status.files" -> files(daemon.statusDir).size.toDouble)
  }

  /** `Ingest.decodeAndConvert` driven alone over one tick's worth of
    * readings (every live channel, all-zero registers so every format
    * decodes in range), median ms of five forced runs. */
  private def decodeOnly(spark: SparkSession, cfg: Config,
      channels: org.apache.spark.sql.DataFrame): Double = {
    val ts = new java.sql.Timestamp(cfg.startEpoch * 1000L)
    val rows = cfg.channels.filterNot(_.dead).map { c =>
      Row(c.id, ts, Seq.fill(c.count)(0), 0)
    }
    val readings = spark.createDataFrame(rows.asJava, graft.sources.ModbusSimSource.schema)
    def once(): Double = Tracer.enter(spark.sparkContext, "decode") {
      Ingest.decodeAndConvert(readings, channels, cfg.conversions)
        .write.format("noop").mode("overwrite").save()
    }._2
    once(); once()
    Main.median((1 to 5).map(_ => once()))
  }

  /** Per-tick layer accounting over the sampled (second-half) ticks. */
  private def tickLayers(window: Seq[Tick], sampler: Option[Sampler], tracer: Tracer,
      heartbeat: Seq[Tick], readUs: Seq[Double], storage: Map[String, Double],
      decodeMs: Double, drainMs: Double, compactions: Int, hookMs: Double,
      samplerMs: Double): Json.Obj = {
    val samples = sampler.map(s => s.samples.synchronized(s.samples.toList)).getOrElse(Nil)
    val t0 = samples.headOption.map(_._1).getOrElse(Long.MaxValue)
    val traced = window.filter(_.startMs >= t0)
    val work = tracer.snapshot()
    def med(f: Tick => Double, ts: Seq[Tick]): Double = Main.median(ts.map(f))
    def in(t: Tick) = samples.filter(s => s._1 >= t.startMs && s._1 <= t.endMs)
    def layerMs(t: Tick, layers: String*): Double =
      in(t).filter(s => layers.contains(s._3)).map(_._2).sum
    def jobs(t: Tick, fn: String): Double =
      work.get(s"ingest/${t.batchId}").map(_.jobsByFn(fn).toDouble).getOrElse(0.0)
    def phase(t: Tick, k: String): Double = t.dur.getOrElse(k, 0L).toDouble
    val sparkPhases = Seq("queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
    val mergeStatus = "streaming.Ingest.mergeStatus"
    val persistBatch = "streaming.Ingest.persistBatch"
    val compact = Seq("streaming.Ingest.compactFact", "streaming.Daemon.compactBeforePersist")
    // tick wall time no named layer and no Spark trigger phase accounts for
    def unattributed(t: Tick): Double = math.max(0.0, t.ms - sparkPhases.map(phase(t, _)).sum -
      layerMs(t, (Seq(mergeStatus, persistBatch) ++ compact): _*))
    val named = Seq(
      s"$mergeStatus.ms" -> med(layerMs(_, mergeStatus), traced),
      s"$mergeStatus.jobs" -> med(jobs(_, mergeStatus), traced),
      s"$persistBatch.ms" -> med(layerMs(_, persistBatch), traced),
      s"$persistBatch.jobs" -> med(t => jobs(t, persistBatch) - jobs(t, mergeStatus), traced),
      "streaming.Ingest.compactFact.ms" -> drainMs,
      "streaming.Ingest.compactFact.jobs" -> work.get("drain")
        .map(_.jobsByFn("streaming.Ingest.compactFact").toDouble).getOrElse(0.0),
      "streaming.Ingest.compactFact.calls" -> compactions.toDouble,
      "streaming.Ingest.statusLock.wait_ms" ->
        med(t => in(t).filter(s => s._4 && s._3 == mergeStatus).map(_._2).sum, traced),
      "streaming.Ingest.startHeartbeat.ms" ->
        Main.median(heartbeat.filter(_.rows > 0).map(_.ms.toDouble)),
      "streaming.Ingest.decodeAndConvert.ms" -> decodeMs,
      "streaming.Daemon.addBatch_ms" -> med(phase(_, "addBatch"), window),
      "streaming.Daemon.queryPlanning_ms" -> med(phase(_, "queryPlanning"), window),
      "streaming.Daemon.walCommit_ms" -> med(phase(_, "walCommit"), window),
      "streaming.Daemon.commitOffsets_ms" -> med(phase(_, "commitOffsets"), window),
      "streaming.Daemon.tick_p90_ms" -> percentile(window.map(_.ms.toDouble), 0.9),
      "streaming.Daemon.tick.unattributed_ms" -> med(unattributed, traced),
      "sources.ModbusTcpClient.read_us_p50" -> percentile(readUs, 0.5),
      "sources.ModbusTcpClient.read_us_p90" -> percentile(readUs, 0.9),
      "trace.overhead" -> Tracer.overhead(traced.map(_.ms.toDouble).sum, hookMs))
    // self times that make up a traced tick, for naming the largest layer
    val shares = Seq(s"$mergeStatus.ms", s"$persistBatch.ms", "streaming.Daemon.tick.unattributed_ms",
      "streaming.Daemon.queryPlanning_ms", "streaming.Daemon.walCommit_ms",
      "streaming.Daemon.commitOffsets_ms").map(k => k -> named.toMap.apply(k))
    // each traced tick's wall time as the sum of its parts
    val accounts = traced.map { t =>
      Json.obj((Seq("batch" -> t.batchId, "ms" -> t.ms) ++
        sparkPhases.map(k => k -> phase(t, k)) ++
        Seq(mergeStatus, persistBatch).map(k => k -> layerMs(t, k)) ++
        Seq("compact" -> layerMs(t, compact: _*), "unattributed" -> unattributed(t))): _*)
    }
    Json.obj((named ++ storage.toSeq ++ Seq(
      "tick_accounts" -> accounts,
      "largest_layer" -> shares.maxBy(_._2)._1,
      "traced_ticks" -> traced.size.toDouble,
      "traced_tick_ms" -> med(_.ms.toDouble, traced),
      "sampler_ms" -> samplerMs)): _*)
  }

  /** Linear-interpolated percentile, as Python's statistics.quantiles. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
