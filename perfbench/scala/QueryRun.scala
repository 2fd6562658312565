package perfbench

import graft.QueryDef

import scala.collection.mutable

/** The query workloads: one session, the workload's query list in a
  * seed-permuted order, run back to back by one client thread.
  *
  * An untimed first pass writes every output as parquet for the
  * correctness check (it is the set-up); timed passes then force each
  * query through the noop sink, whole passes only, until the window is
  * spent. With tracing, the first half of the window runs without the
  * tracer and the second half with it. */
object QueryRun {

  /** The `queries` lists (of those SparkEntry aggregates) that hold the
    * workloads' queries, under their module names. */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "ops.Relational" -> graft.ops.Relational.queries,
    "ops.AdvancedRelational" -> graft.ops.AdvancedRelational.queries,
    "ops.Breadth" -> graft.ops.Breadth.queries,
    "ops.Scale" -> graft.ops.Scale.queries,
    "ops.TimeSeries" -> graft.ops.TimeSeries.queries,
    "ops.ReferenceOps" -> graft.ops.ReferenceOps.queries,
    "ops.Dedup" -> graft.ops.Dedup.queries,
    "ops.Classify" -> graft.ops.Classify.queries,
    "ops.IvfPqAdd" -> graft.ops.IvfPqAdd.queries,
    "streaming.AnnServe" -> graft.streaming.AnnServe.queries)

  val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  private val queryFn: Map[String, QueryDef] =
    modules.flatMap(_._2).map(q => q.name -> q).toMap

  /** One timed execution of one query. */
  final case class Exec(name: String, buildMs: Double, execMs: Double, error: Option[String]) {
    def ms: Double = buildMs + execMs
  }

  def run(o: Opts, queries: Seq[String]): Json.Obj = {
    val unknown = queries.filterNot(queryFn.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val order = new scala.util.Random(o.seed).shuffle(queries)
    val spark = graft.model.Tables.buildLocalSession(o.cpus)
    val sc = spark.sparkContext
    val errors = mutable.LinkedHashMap[String, String]()

    // set-up: the first pass, untimed, writes each output for the check
    order.foreach { q =>
      try {
        Tracer.enter(sc, s"first/$q") {
          queryFn(q).fn(spark, o.dataDir).write.mode("overwrite").parquet(s"${o.outDir}/$q")
        }
        ()
      } catch { case e: Throwable => errors(q) = Main.describe(e) }
    }
    val setupEndMs = System.currentTimeMillis()

    def pass(tag: String): Seq[Exec] = order.map { q =>
      Tracer.enter(sc, s"$tag/$q") {
        val t0 = System.nanoTime()
        try {
          val df = queryFn(q).fn(spark, o.dataDir)
          val t1 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          Exec(q, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, None)
        } catch { case e: Throwable =>
          Exec(q, (System.nanoTime() - t0) / 1e6, 0.0, Some(Main.describe(e)))
        }
      }._1
    }
    /** Whole passes until `seconds` have elapsed (at least one). */
    def window(seconds: Double, tag: String): Seq[Seq[Exec]] = {
      val t0 = System.nanoTime()
      val out = mutable.ArrayBuffer[Seq[Exec]]()
      while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
        out += pass(s"$tag${out.size}")
      out.toSeq
    }

    val tracer = new Tracer
    val counter = new JobCounter
    val probe = if (o.trace) Some(Tracer.probe(spark)) else None
    val meter = new Main.Meter
    val (plain, traced) =
      if (!o.trace) (window(o.seconds, "p"), Nil)
      else {
        val a = window(o.seconds / 2.0, "u")
        sc.addSparkListener(counter) // before the tracer, see Tracer.drain
        sc.addSparkListener(tracer)
        probe.foreach(_.on = true)
        val b = window(o.seconds / 2.0, "t")
        probe.foreach(_.on = false)
        Tracer.drain(spark, tracer)
        (a, b)
      }
    val metered = meter.result()
    val timed = plain ++ traced
    timed.flatten.foreach(x => x.error.foreach(err => errors.getOrElseUpdate(x.name, err)))
    val passMs = timed.map(_.map(_.ms).sum)

    val result = Json.Obj(metered ++ Seq(
      "setup_end_ms" -> setupEndMs,
      "order" -> order,
      "op_ms" -> timed.flatten.filter(_.error.isEmpty).map(_.ms),
      "ops" -> timed.flatten.size,
      "window_s" -> passMs.sum / 1e3,
      "pass_ms" -> passMs,
      "failed_ops" -> timed.flatten.count(_.error.isDefined),
      "errors" -> Json.obj(errors.toSeq: _*),
      "layers" -> (if (o.trace) layers(traced, tracer, probe.get.nanos.get / 1e6, order)
        else Json.obj()),
      "spans" -> Tracer.spansJson(tracer),
      "jobs_counted" -> counter.jobs,
      "jobs_span_sum" -> tracer.jobsBySpanSum,
      "rss_mb" -> Main.peakRssMb()))
    spark.stop()
    result
  }

  private def median(xs: Seq[Double]): Double = Main.median(xs)

  /** Per-layer metrics from the traced passes: per query (and per
    * module) wall ms, jobs and shuffle bytes; per workload build time,
    * spill, peak execution memory and straggler ratio. Counts come from
    * the last traced pass, times are medians over traced passes. */
  private def layers(traced: Seq[Seq[Exec]], tracer: Tracer, probeMs: Double,
      order: Seq[String]): Json.Obj = {
    val work = tracer.snapshot()
    val lastTag = s"t${traced.size - 1}"
    def w(q: String): Work = work.getOrElse(s"$lastTag/$q", new Work)
    val perQuery = order.flatMap { q =>
      val key = s"${moduleOf(q)}.$q"
      Seq(s"$key.ms" -> median(traced.map(_.find(_.name == q).get.ms)),
        s"$key.jobs" -> w(q).jobs.toDouble,
        s"$key.shuffle_bytes" -> w(q).shuffleBytes.toDouble)
    }
    val perModule = order.groupBy(moduleOf).toSeq.flatMap { case (m, qs) =>
      Seq(s"$m.ms" -> median(traced.map(_.filter(x => qs.contains(x.name)).map(_.ms).sum)),
        s"$m.jobs" -> qs.map(w(_).jobs).sum.toDouble,
        s"$m.shuffle_bytes" -> qs.map(w(_).shuffleBytes).sum.toDouble)
    }
    val lastPass = traced.last
    val straggler = median(lastPass.filter(_.ms > 0).map(x => w(x.name).maxTaskMs / x.ms))
    val tracedWork = work.collect { case (k, v) if k.startsWith("t") => v }
    val wl = Seq(
      "workload.build_ms" -> median(traced.map(_.map(_.buildMs).sum)),
      "workload.spill_bytes" -> order.map(w(_).spillBytes).sum.toDouble,
      "workload.peak_exec_mem_mb" ->
        (if (tracedWork.isEmpty) 0.0 else tracedWork.map(_.peakExecMem).max / 1048576.0),
      "workload.straggler" -> straggler,
      // query wall time no engine job covers: planning on the client thread and
      // eager work between jobs
      "workload.unattributed_ms" ->
        lastPass.map(x => math.max(0.0, x.ms - w(x.name).jobCoveredMs)).sum,
      // traced wall over the same wall without the time tracing spent on
      // the query thread
      "trace.overhead" -> Tracer.overhead(traced.flatten.map(_.ms).sum, probeMs))
    Json.obj((perQuery ++ perModule ++ wl): _*)
  }
}
