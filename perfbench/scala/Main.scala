package perfbench

/** Command-line options of the engine-side harness (run.py passes them). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cpus: String,
    dataDir: String,
    workDir: String,
    outFile: String,
    queries: Seq[String],
    configFile: String) {
  def outDir: String = s"$workDir/out"
}

/** Engine-side harness: runs one workload in this JVM and writes its raw
  * measurements as one JSON object to `--out`. Scoring and the
  * correctness checks that need no engine live in run.py. */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      trace = kv.get("trace").contains("1"),
      cpus = kv.getOrElse("cpus", "4"),
      dataDir = kv.getOrElse("data", ""),
      workDir = kv("work"),
      outFile = kv("out"),
      queries = kv.get("queries").toSeq.flatMap(_.split(",")).filter(_.nonEmpty),
      configFile = kv.getOrElse("config", ""))
    val result =
      if (o.workload == "ingest") IngestRun.run(o)
      else if (o.workload == "oracles") // DuckDB oracle SQL of the named queries
        Json.Obj(o.queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)))
      else QueryRun.run(o, o.queries)
    java.nio.file.Files.write(java.nio.file.Paths.get(o.outFile),
      Json.render(result).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the stream and listener threads are not daemons everywhere
    System.exit(0)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** CPU time this JVM has used, all threads, ms. */
  def cpuMs(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Machine-wide (steal, total) CPU jiffies from /proc/stat: the share of
    * time the hypervisor ran something else is a property of the box,
    * reported beside the timings it slows. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }

  /** Engine CPU ms and machine steal share between two marks. */
  final class Meter {
    private val cpu0 = cpuMs()
    private val (steal0, total0) = cpuJiffies()
    def result(): Seq[(String, Any)] = {
      val (steal1, total1) = cpuJiffies()
      Seq("cpu_ms" -> (cpuMs() - cpu0),
        "steal_frac" -> (if (total1 > total0) (steal1 - steal0).toDouble / (total1 - total0) else 0.0))
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON rendering for the harness result. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}:${render(x)}" }.mkString("{", ",", "}")
    case m: Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
