package graft.tools

import graft.model.Tables
import graft.model.Tables.table
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s.JsonAST.{JInt, JObject}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Scale-stress harness. Every mode runs on one core:
  * [[amplifyDatabase]] builds the `copies`× replica (the only
  * amplification), [[withMeter]] gives each measurement a fresh session
  * with one task listener, and [[writeJson]] writes the artifact.
  * Positional args follow the mode; `sfDir` defaults to sf0.1.
  *
  * Query sweeps — each query timed at 1x and at `copies`× (median of
  * three warm runs), its [[invariants]] checked on both outputs:
  *
  *  - `full <sfDir> [10] [SCALE_r05.json] [subset]` — EVERY
  *    `SparkEntry.queries` entry (or the comma-separated subset) over a
  *    `copies`× replica of the WHOLE database: `copies` disjoint,
  *    FK-consistent replicas — every fact table's key columns are
  *    shifted per copy so joins land exactly as at 1x, while the
  *    dimension tables (region/nation) stay broadcast-small, which is
  *    precisely the 100 TB shape (facts grow, dims don't). Documents
  *    keep their text across copies, so the dedup family sees a
  *    duplicate-SATURATED corpus — its worst case (candidate volume
  *    would grow copies² if any stage were pairwise-unbounded). A query
  *    whose time grows super-linearly in `copies` (ratio well above
  *    `copies`, beyond fixed-overhead noise) is a scale defect.
  *  - `fulld` — `full` with DISTINCT-document amplification: each
  *    copy's words carry a per-copy prefix, so copies share no shingles
  *    and the near-dup pair graph is `copies` disjoint replicas of the
  *    1x graph — the amplification that keeps the dedup family's
  *    inherent output LINEAR in copies (verbatim copies saturate it
  *    quadratically: every doc gains C(copies,2) true pairs, which
  *    measures output writing, not operator scaling).
  *  - the document families, `<sfDir> [100] [SCALE100<MODE>.json]`
  *    over a documents-only amplification (verbatim text, ids shifted
  *    — every selection bucket now holds `copies` exact-score twins per
  *    1x doc, the worst tie density, and every n-gram count multiplies
  *    by `copies` at constant vocabulary):
  *    - `dsir` → t_dsir
  *    - `curate` → t_select_excess t_sample_weighted t_batch_bylen
  *      t_pack_curriculum t_pack_split t_select_quality
  *      t_select_bydomain
  *    - `classify` → t_classify_nb w_classify_nb
  *    - `curatepipe` → pipe_curate, plus the survivor probe
  *      ([[survivorProbe]])
  *    - `batchshard [shards=8]` (4th arg) → w_batch_bylen
  *      w_batch_bylen_sharded, plus the band probe ([[bandProbe]])
  *
  * Parameter probes — configurations no declared query expresses:
  * `ann` (IVF at √N-scale nlist, PQ at the contract codebook),
  * `semdedup` (SemDeDup at √N-scale nlist), `classifylife` (NB model
  * edits vs retrain) and `joinskew` (plain vs bucketed interval join
  * under one hot user) — see each method's doc.
  *
  * Stress runs that print instead of writing JSON: `skew <sfDir>
  * [2500 variants]` ([[hotBand]]) and `dedup <sfDir> [20 copies]`
  * ([[dedupSaturation]]).
  *
  * Materialization: `amp <sfDir> <copies> <outDir>` writes the `full`
  * replica for ad-hoc profiling; `ampd` the `fulld` one (for
  * core-count scale-out sweeps, where saturated duplicates would
  * measure pair-output writing instead of operator scaling).
  *
  * Usage: sbt "runMain graft.tools.ScaleSmoke [mode] [sfDir] [n] [out]"
  *
  * Run with the DEFAULT driver heap (no SPARK_DRIVER_MEM override).
  * Measured: oversizing the heap to 40g made warm repeat runs degrade
  * progressively (dd_cluster 3.9s at 8g -> 26s then 106s at 40g) — a
  * huge heap almost never GCs, so everything the ContextCleaner frees
  * only after a driver GC (shuffle state, broadcasts, checkpoint
  * blocks) accumulates without bound. Same reason Tables.buildLocalSession
  * sets a short periodic-GC interval.
  */
object ScaleSmoke {

  /** Per-copy key shift; every replica's ids stay disjoint. */
  private val Offset = 1000000000L

  /** A query-subset family of the `full` sweep; `probe` adds the
    * fields of its cross-output invariants (base args, amplified dir). */
  private final case class Family(mode: String, queries: Seq[String],
      probe: (Args, String) => JObject = (_, _) => JObject())

  private val families = Seq(
    Family("dsir", Seq("t_dsir")),
    Family("curate", Seq("t_select_excess", "t_sample_weighted",
      "t_batch_bylen", "t_pack_curriculum", "t_pack_split",
      "t_select_quality", "t_select_bydomain")),
    Family("classify", Seq("t_classify_nb", "w_classify_nb")),
    Family("batchshard", Seq("w_batch_bylen", "w_batch_bylen_sharded"), bandProbe),
    Family("curatepipe", Seq("pipe_curate"), survivorProbe))

  /** The default artifact name of a 100× mode. */
  private def defaultOut(mode: String): String = s"SCALE100${mode.toUpperCase}.json"

  private val modes = Seq[(String, Array[String] => Unit)](
    "full" -> (a => fullSet(a)),
    "fulld" -> (a => fullSet(a, distinctDocs = true)),
    "amp" -> (a => withMeter(m => amplifyDatabase(m.spark, a(0), a(2), a(1).toInt))),
    "ampd" -> (a => withMeter(m =>
      amplifyDatabase(m.spark, a(0), a(2), a(1).toInt, distinctDocs = true))),
    "skew" -> hotBand,
    "dedup" -> dedupSaturation,
    "ann" -> annScale,
    "semdedup" -> semDedupScale,
    "joinskew" -> joinSkew,
    "classifylife" -> classifyLifeScale) ++
    families.map(f => f.mode -> ((a: Array[String]) => familyScale(f, a)))

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("dedup")
    modes.collectFirst { case (`mode`, run) => run }
      .getOrElse(sys.error(
        s"unknown mode '$mode' (${modes.map(_._1).mkString("|")})"))
      .apply(args.drop(1))
  }

  /** `<sfDir> <n> <out> [rest...]` with the mode's defaults. */
  private final case class Args(sfDir: String, n: Int, out: String,
      rest: Seq[String])

  private def parse(args: Array[String], n: Int, out: String = ""): Args = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    Args(sfDir, args.lift(1).fold(n)(_.toInt), args.lift(2).getOrElse(out),
      args.drop(3).toSeq)
  }

  // ---- measurement core --------------------------------------------

  /** One measurement: median wall over the timed runs, and the task
    * durations of the LAST timed run — max, median, count, and the
    * straggler fraction max-task / that run's wall (the skew witness:
    * if a stage serialized its hot key into one task, it reads ≈ 1). */
  private final case class Timing(wall: Double, straggler: Double,
      maxTask: Double, medTask: Double, tasks: Int)

  /** A session with ONE task-duration listener. */
  private final class Meter(val spark: SparkSession) {
    private val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        durations.add(te.taskInfo.duration); ()
      }
    })

    /** `body` once untimed when `warm` (whole-stage codegen JIT
      * compiles on first execution — identical plan at both scales, so
      * neither side may pay it in the ratio), then `runs` timed runs.
      * Returns the last run's value. */
    def time[T](runs: Int = 1, warm: Boolean = true)(body: => T): (Timing, T) = {
      if (warm) body
      var last: T = null.asInstanceOf[T]
      val walls = (1 to runs).map { i =>
        if (i == runs) durations.clear()
        val t0 = System.nanoTime()
        last = body
        (System.nanoTime() - t0) / 1e9
      }
      val ds = { import scala.jdk.CollectionConverters._
        durations.iterator().asScala.toArray.sorted }
      val (maxT, medT) =
        if (ds.isEmpty) (0.0, 0.0) else (ds.last / 1e3, ds(ds.length / 2) / 1e3)
      (Timing(walls.sorted.apply(runs / 2),
        if (walls.last > 0) maxT / walls.last else 0.0, maxT, medT, ds.length),
        last)
    }
  }

  /** Run `f` in a FRESH session: the amplify writes and any other
    * measurement contribute zero session state — broadcast blocks,
    * checkpoint blocks, shuffle tracking — to this one (a shared
    * session measurably distorted repeat runs). One-time session costs
    * are paid before `f`, outside every timed run (same as Bench). */
  private def withMeter[T](f: Meter => T): T = {
    // shared with Bench/Verify — see Tables.buildLocalSession's doc for
    // why the periodicGC pin and fresh-session discipline live THERE
    val spark = Tables.buildLocalSession()
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      f(new Meter(spark))
    } finally spark.stop()
  }

  /** Write one run's artifact, echoed to stdout. */
  private def writeJson(path: String, json: JObject): Unit = {
    val text = JsonMethods.pretty(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"SCALE wrote $path\n$text")
  }

  private def r3(x: Double): Double = math.rint(x * 1000) / 1000

  private def ratio(t1: Double, tn: Double): Double = if (t1 > 0 && tn >= 0) tn / t1 else -1.0

  /** The 1x-vs-Nx timing fields every scaled artifact reports. */
  private def scaled(t1: Double, tn: Double): JObject =
    ("t1" -> r3(t1)) ~ ("tN" -> r3(tn)) ~ ("ratio" -> r3(ratio(t1, tn)))

  private def noopForce(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  // ---- amplification -------------------------------------------------

  /** Key columns shifted per copy so each replica is FK-consistent and
    * disjoint from the others. Dims (region, nation) are NOT amplified:
    * at 100 TB dimensions stay broadcast-small while facts grow. */
  private val shiftCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Per-copy seeded permutation of the printable non-space alphabet
    * (33..126), copy 0 = identity — applied as one chained
    * `translate` CASE over the copy column. Deterministic, injective
    * per copy, and space-preserving, so every within-copy structural
    * property (token boundaries, lengths, gram equality, dup graph)
    * is exactly what the un-permuted copy had. */
  private def copyPermutedText(text: org.apache.spark.sql.Column,
      copy: org.apache.spark.sql.Column, copies: Int): org.apache.spark.sql.Column = {
    val from = (33 to 126).map(_.toChar).mkString
    (2 until copies).foldLeft(
      when(copy === 1, translate(text, from, permTo(1)))) { (acc, c) =>
      acc.when(copy === c, translate(text, from, permTo(c)))
    }.otherwise(text) // copy 0: identity
  }

  private def permTo(c: Int): String = {
    val rng = new scala.util.Random(c * 7919L + 13L)
    rng.shuffle((33 to 126).map(_.toChar).toVector).mkString
  }

  /** Amplify `tables` (default: the whole database) into `outDir`:
    * `copies` id-shifted, FK-consistent replicas of every fact table;
    * dims copied verbatim. Raw parquet in/out (no `table()` ts
    * normalization) so the amplified dir is schema-identical to the
    * driver's. Callers that read one table amplify only that one —
    * amplifying the whole database 100× to read documents is waste. */
  def amplifyDatabase(spark: SparkSession, sfDir: String, outDir: String,
      copies: Int, distinctDocs: Boolean = false,
      tables: Seq[String] = Tables.driverTables): Unit = {
    import spark.implicits._
    tables.foreach { t =>
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      val out = shiftCols.get(t) match {
        case None => df // broadcast dim: unchanged
        case Some(keys) =>
          val shifted = df
            .crossJoin(spark.range(copies).select($"id".as("__copy")))
            .select(df.schema.fields.toSeq.map { f =>
              if (keys.contains(f.name))
                (col(f.name) + $"__copy" * lit(Offset)).cast(f.dataType).as(f.name)
              else col(f.name)
            } :+ col("__copy"): _*)
          val transformed =
            if (distinctDocs && t == "documents")
              // per-copy word prefix: copy c's "quick brown" becomes
              // "c<c>_quick c<c>_brown" — every shingle/gram/token is
              // copy-local, so cross-copy similarity is exactly zero
              // and the pair graph is `copies` disjoint 1x replicas
              // (copy 0 is prefixed too: all copies see identical
              // per-token work, so tN/t1 still compares like to like
              // up to the constant prefix cost).
              // THEN a per-copy pseudorandom permutation of the
              // non-space printable alphabet (space fixed, so token
              // boundaries and all length/gram structure survive;
              // injective per copy, so within-copy dup structure is
              // untouched): the prefix alone is PERCEPTUALLY invisible
              // — copies 0-9 differ only in one digit per word, and a
              // digit-for-digit substitution flips almost no dHash
              // order comparison, so corresponding frames of the same
              // base doc matched across copies at hamming <= 6
              // (measured: 53k of 155k cross-copy frame matches at 4
              // copies were same-base-doc; the permutation cuts them
              // to 2k). Copy 0 keeps the identity permutation.
              shifted
                .withColumn("text", regexp_replace($"text",
                  lit("(\\S+)"), concat(lit("c"), $"__copy", lit("_$1"))))
                .withColumn("text", copyPermutedText($"text", $"__copy", copies))
                .withColumn("n_chars", length($"text").cast("long"))
            else shifted
          transformed.drop("__copy")
      }
      // write fact replicas across many files: a real 100x corpus
      // arrives as thousands of splits, and a single-file table read
      // as ONE scan partition serializes every per-row map chain into
      // one task (measured: w_corpus straggler 0.95 at copies=100 —
      // the harness, not the operator, was the bottleneck)
      val parts = if (shiftCols.contains(t)) 32 else 1
      out.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Run `f` over a temp dir holding `tables` amplified `copies`× (in
    * its own session), deleting the dir afterwards. */
  private def withAmplified[T](sfDir: String, copies: Int, tables: Seq[String],
      distinctDocs: Boolean = false)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft_amp").toString
    try {
      withMeter(meter => amplifyDatabase(meter.spark, sfDir, dir, copies, distinctDocs, tables))
      println(s"SCALE amplified ${copies}x ${tables.mkString(",")} at $dir" +
        (if (distinctDocs) " (distinct documents)" else ""))
      f(dir)
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
      ()
    }
  }

  // ---- invariants --------------------------------------------------

  /** A query's scale invariants. `each` runs on its output at both
    * scales: it throws on a violation and returns the stats the
    * artifact records as `<stat>_1x` / `<stat>_Nx`. `rowsNx`, when
    * set, gives the exact output rows at `copies`× from the rows at 1x. */
  final case class Invariant(
      each: DataFrame => Seq[(String, Long)] = _ => Nil,
      rowsNx: Option[(Long, Int) => Long] = None)

  private def flagged(out: DataFrame): (Long, Long) = {
    val a = out.agg(count(lit(1)),
      coalesce(sum(when(col("selected"), 1L).otherwise(0L)), lit(0L))).head()
    (a.getLong(0), a.getLong(1))
  }

  /** Exactly ceil(frac · n) rows selected — the bucketed rank's claim
    * under any tie density. */
  private def topFrac(frac: Double) = Invariant(out => {
    val (n, sel) = flagged(out)
    require(sel == math.ceil(n * frac).toLong, s"selected $sel != ceil($frac * $n)")
    Seq("selected" -> sel)
  })

  /** Every (band[, shard]) key numbers its arrivals densely: its max
    * batch == (n - 1) div 32 (checked Spark-side, nothing corpus-sized
    * collects). */
  private def denseBatches(keys: String*)(out: DataFrame): Seq[(String, Long)] = {
    val bad = out.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), max(col("batch")).as("mb"))
      .filter(col("mb") =!= expr("(n - 1) div 32")).count()
    require(bad == 0L, s"$bad keys with max batch != (n-1) div 32")
    Nil
  }

  /** pipe_curate's per-run structural contracts (the PipelineSpec
    * invariants, re-checked at scale): exact segment tiling, exact
    * non-terminal shard budgets (2000), ≤ 32 docs per batch, ≤ 100
    * sampled docs, and a non-empty result. */
  private def curatedContracts(out: DataFrame): Seq[(String, Long)] = {
    val broken = out.groupBy(col("doc_id"))
      .agg(sum(col("tok_len")).as("tiled"), max(col("n_tokens")).as("n"),
        min_by(col("tok_start"), col("shard")).as("first"))
      .filter(col("tiled") =!= col("n") || col("first") =!= 0L).count()
    require(broken == 0L, s"$broken docs with broken segment tiling")
    val last = out.agg(max(col("shard"))).head().get(0)
    val short = out.filter(col("shard") =!= lit(last)).groupBy(col("shard"))
      .agg(sum(col("tok_len")).as("t")).filter(col("t") =!= 2000L).count()
    require(short == 0L, s"$short non-terminal shards off the 2000-token budget")
    val overfull = out.groupBy(col("len_band"), col("batch"))
      .agg(countDistinct(col("doc_id")).as("d")).filter(col("d") > 32).count()
    require(overfull == 0L, s"$overfull batches over 32 docs")
    val docs = out.select(col("doc_id")).distinct().count()
    require(docs > 0 && docs <= 100, s"$docs sampled docs not in (0, 100]")
    Seq("sampled_docs" -> docs)
  }

  /** The check table, keyed by query name; every sweep runs it. */
  private[graft] val invariants: Map[String, Invariant] = Map(
    "t_dsir" -> topFrac(0.25),
    "t_select_excess" -> topFrac(0.25),
    "t_select_quality" -> topFrac(0.5),
    "t_sample_weighted" -> Invariant(out => {
      val (_, sel) = flagged(out)
      require(sel > 0 && sel <= 200, s"sample selected $sel not in (0, 200]")
      Seq("selected" -> sel)
    }),
    "t_batch_bylen" -> Invariant(out => {
      val a = out.groupBy(col("len_band"), col("batch")).agg(count(lit(1)).as("n"))
        .agg(max(col("n")), count(lit(1))).head()
      require(a.getLong(0) <= 32, s"batch of ${a.getLong(0)} > 32")
      Seq("batches" -> a.getLong(1))
    }),
    "t_pack_split" -> Invariant(out => {
      val a = out.groupBy(col("shard")).agg(sum(col("tok_len")).as("n"))
        .agg(count(lit(1)), max(col("n"))).head()
      require(a.getLong(1) <= 5000L, s"shard over budget: ${a.getLong(1)}")
      Seq("shards" -> a.getLong(0))
    }),
    // exact per-GROUP counts: every source must select exactly
    // ceil(0.25 * its own size) — the grouped primitive's claim
    "t_select_bydomain" -> Invariant(out => {
      val perSource = out.groupBy(col("source")).agg(count(lit(1)).as("n"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("sel"))
      val bad = perSource.filter(col("sel") =!= ceil(col("n") * 0.25).cast("long")).count()
      require(bad == 0L, s"$bad sources with sel != ceil(0.25 * n)")
      Seq("selected" -> flagged(out)._2)
    }),
    // verbatim copies all carry tokens alike; the served slice is the
    // original ids only, so it must not change
    "t_classify_nb" -> Invariant(rowsNx = Some(_ * _)),
    "w_classify_nb" -> Invariant(rowsNx = Some((rows, _) => rows)),
    "w_batch_bylen" -> Invariant(denseBatches("len_band")),
    "w_batch_bylen_sharded" -> Invariant(denseBatches("len_band", "shard")),
    "pipe_curate" -> Invariant(curatedContracts))

  // ---- query sweeps ------------------------------------------------

  /** One query's sweep result; a failed run reads t = rows = -1. */
  private final case class Run(t: Double, straggler: Double, rows: Long,
      stats: Seq[(String, Long)], err: Option[String])

  /** Sweep `only` (every query when empty) over `dir` in one fresh
    * session. Per query: one untimed warmup, then the MEDIAN of three
    * timed runs — a 130-execution local sweep shows sporadic
    * multi-second stalls (GC / cleaner / IO), and a single sample let
    * one stall print a 90x "ratio" that in-isolation reruns put at
    * ~4x. Then, outside every timed run, the output-row count (a ratio
    * over 10x reads very differently when the true output itself grew
    * 100x) and the query's [[invariants]]. */
  private def sweep(dir: String, only: Seq[String]): Map[String, Run] = withMeter { meter =>
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    (if (only.isEmpty) qs else qs.filter(q => only.contains(q._1)))
      .map { case (name, fn) =>
        val r =
          try {
            val (t, _) = meter.time(runs = 3)(noopForce(fn(meter.spark, dir)))
            val out = fn(meter.spark, dir)
            Run(t.wall, t.straggler, out.count(),
              invariants.get(name).fold(Seq.empty[(String, Long)])(_.each(out)), None)
          } catch {
            case e: Throwable =>
              Run(-1.0, 0.0, -1L, Nil, Some(e.getClass.getSimpleName +
                Option(e.getMessage).fold("")(m => ": " + m.linesIterator.next())))
          }
        println(f"SCALE $dir%s $name%s: ${r.t}%.2f s (straggler ${r.straggler}%.2f, rows ${r.rows})${r.err.fold("")(" ERR " + _)}")
        name -> r
      }.toMap
  }

  /** 1x vs `copies`× over `subset`: both sweeps, isolated rechecks, the
    * cross-scale row rules → the artifact's fields and the count of
    * failed runs plus violated invariants. */
  private def scaleRun(sfDir: String, ampDir: String, copies: Int,
      subset: Seq[String]): (JObject, Int) = {
    val base = sweep(sfDir, subset)
    val amp = sweep(ampDir, subset)
    val names = base.keys.toSeq.sorted
    // Queries whose sweep ratio exceeds 10 are re-measured ALONE in a
    // fresh session: the 130-execution sweep measures queries under
    // shared-session memory pressure (storage blocks, shuffle state,
    // page-cache churn from every prior query), which inflates a few
    // window-heavy queries well past their plan-inherent scaling —
    // e.g. q_rolling_range timed 31s mid-sweep but 3.0s isolated on
    // the same amplified data. Both numbers are reported; the
    // isolated one is the plan's own scaling. A one-query sweep is
    // already isolated.
    val over = if (names.size < 2) Nil
      else names.filter(n => ratio(base(n).t, amp(n).t) > 10)
    if (over.nonEmpty) println(s"SCALE isolated recheck: ${over.mkString(", ")}")
    // one fresh session PER flagged query: a recheck session shared
    // across flagged queries re-accumulates the very pressure it
    // exists to exclude (measured: a query stable at 2s alone timed
    // 23s when rechecked downstream of another flagged query)
    val iso = over.map(n => n -> sweep(ampDir, Seq(n)).apply(n)).toMap
    val rowViolations = (for {
      n <- names
      rule <- invariants.get(n).flatMap(_.rowsNx)
      want = rule(base(n).rows, copies)
      if base(n).err.isEmpty && amp(n).err.isEmpty && amp(n).rows != want
    } yield n -> s"rows_Nx ${amp(n).rows} != $want").toMap
    val queries = names.map { n =>
      val (b, a) = (base(n), amp(n))
      val isoPart = iso.get(n).filter(_.err.isEmpty).fold(JObject()) { i =>
        ("tN_iso" -> r3(i.t)) ~ ("ratio_iso" -> r3(ratio(b.t, i.t))) ~
          ("straggler_iso" -> r3(i.straggler))
      }
      val stats = JObject(b.stats.map { case (k, v) => (k + "_1x") -> JInt(v) }.toList ++
        a.stats.map { case (k, v) => (k + "_Nx") -> JInt(v) })
      n -> (scaled(b.t, a.t) ~
        ("straggler_1x" -> r3(b.straggler)) ~ ("straggler_N" -> r3(a.straggler)) ~
        ("rows_1x" -> b.rows) ~ ("rows_Nx" -> a.rows) ~
        ("rows_ratio" -> r3(if (b.rows > 0 && a.rows >= 0) a.rows.toDouble / b.rows else -1.0)) ~
        stats ~ isoPart ~ ("err" -> b.err.orElse(a.err).orElse(rowViolations.get(n))))
    }
    val t1Total = base.values.map(_.t).filter(_ >= 0).sum
    val tnTotal = amp.values.map(_.t).filter(_ >= 0).sum
    val failed = (base.values ++ amp.values).count(_.err.isDefined) + rowViolations.size
    println(f"SCALE total $t1Total%.1f s @1x -> $tnTotal%.1f s @${copies}x, $failed failed")
    (("copies" -> copies) ~ ("sf" -> sfDir) ~ ("total_t1" -> r3(t1Total)) ~
      ("total_tN" -> r3(tnTotal)) ~ ("total_ratio" -> r3(ratio(t1Total, tnTotal))) ~
      ("failed" -> failed) ~ ("queries" -> JObject(queries.toList)), failed)
  }

  /** `full`/`fulld`: the whole-query-set 1x vs Nx proof run. Optional
    * 4th arg: a comma-separated query subset (e.g. the aggregate family
    * at copies=100, where amplifying and sweeping all queries would
    * dominate the run for four data points). Failed queries are
    * recorded in the artifact, not fatal. */
  def fullSet(args: Array[String], distinctDocs: Boolean = false): Unit = {
    val p = parse(args, 10, "SCALE_r05.json")
    val subset = p.rest.headOption.toSeq.flatMap(_.split(",")).map(_.trim)
    withAmplified(p.sfDir, p.n, Tables.driverTables, distinctDocs) { amp =>
      writeJson(p.out, scaleRun(p.sfDir, amp, p.n, subset)._1)
    }
  }

  /** A document family: its queries' sweep plus its probe; any failed
    * run or violated invariant fails the mode after the artifact is
    * written. */
  private def familyScale(f: Family, args: Array[String]): Unit = {
    val p = parse(args, 100, defaultOut(f.mode))
    withAmplified(p.sfDir, p.n, Seq("documents")) { amp =>
      val (fields, failed) = scaleRun(p.sfDir, amp, p.n, f.queries)
      writeJson(p.out, ("mode" -> f.mode) ~ fields ~ f.probe(p, amp))
      require(failed == 0, s"${f.mode}: $failed failed runs or violated invariants (see ${p.out})")
    }
  }

  /** batchshard's cross-form invariant at `copies`×: the exact-per-band
    * form (`shards = 1`, w_batch_bylen's semantic) numbers each band
    * serially — under batch replay one task drains one band, so wall
    * time is bounded below by the LARGEST band no matter how many
    * cores idle. The `shards`-way form (4th arg, default 8 like
    * w_batch_bylen_sharded) keys state by (band, hash-shard), cutting
    * the serial unit ~1/shards at the cost of per-shard numbering. Both
    * forms must number densely and hold identical per-band totals —
    * sharding must never move a doc across bands (which also conserves
    * rows). Reports the largest serial unit each form drains. */
  private def bandProbe(p: Args, ampDir: String): JObject = withMeter { meter =>
    import meter.spark.implicits._
    val shards = p.rest.headOption.fold(8)(_.toInt)
    def bands(sh: Int): Map[Long, Long] = {
      val out = graft.streaming.Batching.withOnlineBatchesSharded(
        table(meter.spark, ampDir, "documents"), $"doc_id", $"text", shards = sh).toDF()
      denseBatches((if (sh == 1) Seq("len_band") else Seq("len_band", "shard")): _*)(out)
      out.groupBy($"len_band").agg(count(lit(1))).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val serial = bands(1)
    require(serial == bands(shards),
      "sharding moved documents across bands — band membership must be invariant")
    ("shards" -> shards) ~ ("rows" -> serial.values.sum) ~
      ("largest_band" -> serial.values.max) ~
      ("serial_unit_serial" -> serial.values.max) ~
      ("serial_unit_sharded_approx" -> serial.values.max / shards)
  }

  /** curatepipe's cross-scale invariant. What is and is NOT
    * scale-invariant under verbatim copies, measured and honest:
    * keep-best ALWAYS returns originals (copy ids shift above every
    * original, quality ties break to the lowest id — so no copy may
    * survive, or reach the curated output), and pipe_curate's
    * structural contracts hold at both scales ([[invariants]]). But
    * the top-half SELECTION CUT is a corpus-relative rank, and a rank
    * cut through a TIED order-key group is inherently not
    * copy-invariant: at 100× every tie multiplies 100×, so `ceil(N/2)`
    * slices the boundary tie group differently, a boundary-sliver of
    * documents swaps in/out, and every downstream running offset
    * shifts — the same semantics-driven boundary behavior
    * w_select_quality documents for its frozen threshold. So the
    * SURVIVOR sets (see Pipeline.curateSurvivors) must overlap ≥ 0.98
    * instead of matching bit for bit; the systematic sample downstream
    * is deliberately input-sensitive (interval crossings over
    * cumulative sums) and is not compared across scales. */
  private def survivorProbe(p: Args, ampDir: String): JObject = {
    def survivors(dir: String): Set[Long] = withMeter { meter =>
      graft.ops.Pipeline.curateSurvivors(meter.spark, dir)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    }
    val (surv1, survN) = (survivors(p.sfDir), survivors(ampDir))
    require(survN.forall(_ < Offset), "an amplified copy survived keep-best")
    val copiesOut = withMeter(meter => graft.ops.Pipeline.pipeCurate(meter.spark, ampDir)
      .filter(col("doc_id") >= Offset).count())
    require(copiesOut == 0L, "an amplified copy reached the curated output")
    val overlap = (surv1 & survN).size.toDouble / (surv1 | survN).size
    require(overlap >= 0.98,
      f"survivor-set overlap $overlap%.4f < 0.98 — more than the " +
        "selection boundary tie-sliver moved")
    ("survivors_1x" -> surv1.size) ~ ("survivors_Nx" -> survN.size) ~
      ("survivor_overlap" -> math.rint(overlap * 1e4) / 1e4)
  }

  // ---- parameter probes --------------------------------------------

  /** `ann <sfDir> <copies> <outJson>` — the scaled-parameter honesty
    * pass on the IVF family: the oracle-pinned queries run nlist = 10
    * (tiny by design — the DuckDB replay unrolls training), but the
    * 100 TB design claim is nlist ≈ √N. This mode amplifies the
    * embeddings table `copies`× (id-shifted, verbatim vectors — the
    * point is shape and cost, not recall, which SimilaritySpec pins at
    * real data scale) and measures the full build+serve ivfTopK at the
    * contract config AND at √N-scale cell counts, with nprobe held to
    * a comparable probed fraction. What must hold for the design claim:
    * the centroid side stays broadcast-small (nlist × dim doubles),
    * the per-round assignment stays one map pass + one tiny aggregate,
    * serving cost FALLS as nlist grows (nprobe/nlist of the corpus is
    * scanned), and no cell degenerates into a straggler (cell-balance
    * stats are emitted alongside). PQ serves from a codebook whose
    * size is m × ksub × dsub — dimension-bound, INDEPENDENT of N — so
    * its honesty number here is just the 100× build+serve time at the
    * contract codebook. */
  def annScale(args: Array[String]): Unit = {
    val p = parse(args, 100, "SCALE100ANN_r10.json")
    withAmplified(p.sfDir, p.n, Seq("embeddings")) { ampDir =>
      // (nlist, nprobe): contract config, then √N-scale cells at a
      // comparable-or-smaller probed fraction
      val configs = Seq((graft.ops.Similarity.IvfNlist, 2), (64, 8), (256, 16))
      val rows = configs.map { case (nlist, nprobe) =>
        withMeter { meter =>
          val (t, _) = meter.time()(noopForce(graft.ops.Similarity.ivfTopK(
            meter.spark, ampDir, nprobe, 5,
            cells => graft.ops.Similarity.kmeansCells(cells, nlist = nlist))))
          // cell balance of the trained assignment at this nlist
          val emb = table(meter.spark, ampDir, "embeddings")
            .select(col("vec_id"),
              graft.ops.Similarity.asDouble(col("embedding")).as("v"))
          val stats = graft.ops.Similarity.kmeansCells(emb, nlist = nlist)
            .groupBy(col("cell")).agg(count(lit(1)).as("m"))
            .agg(count(lit(1)), max(col("m")), avg(col("m"))).head()
          val (cells, mx, mean) =
            (stats.getLong(0), stats.getLong(1), stats.getDouble(2))
          ("nlist" -> nlist) ~ ("nprobe" -> nprobe) ~ ("t" -> r3(t.wall)) ~
            ("straggler" -> r3(t.straggler)) ~ ("cells" -> cells) ~
            ("max_cell" -> mx) ~ ("mean_cell" -> r3(mean))
        }
      }
      // PQ at the contract codebook on the same amplified corpus
      val pq = withMeter(meter => meter.time()(noopForce(
        graft.ops.ProductQuant.pqTopK(meter.spark, ampDir, m = 10, k = 5)))._1)
      writeJson(p.out, ("mode" -> "ann_scaled_params") ~ ("copies" -> p.n) ~
        ("n_vectors" -> p.n * 2000L) ~ // recorded, not load-bearing
        ("configs" -> rows.toList) ~ ("pq_contract_t" -> r3(pq.wall)))
    }
  }

  /** `semdedup <sfDir> <copies> <outJson>` — the scaled-parameter
    * honesty pass on dd_semdedup, mirroring [[annScale]]: the
    * oracle-pinned query runs nlist = 10, but SemDeDup's whole scaling
    * argument is that the within-cluster quadratic stays bounded
    * because nlist grows with the corpus (cells stay ~N/nlist sized).
    * Amplifies embeddings `copies`× (id-shifted verbatim vectors — a
    * duplicate-SATURATED corpus: every copy pair is cosine 1.0, the
    * family's worst case) and measures the full cluster+prune at
    * √N-scale cell counts, emitting wall, straggler fraction, cell
    * balance, and the survivor count (which must stay ≈ the 1×
    * survivor set: the 99 extra copies of every vector are dominated
    * by their lowest-copy twin — within-cell recall of exact dups is
    * total because identical vectors share a cell by construction). */
  def semDedupScale(args: Array[String]): Unit = {
    val p = parse(args, 100, defaultOut("semdedup"))
    withAmplified(p.sfDir, p.n, Seq("embeddings")) { ampDir =>
      def run(dir: String, nlist: Int): (Timing, Long) = withMeter { meter =>
        meter.time()(graft.ops.Dedup.semDedupSurvivors(
          table(meter.spark, dir, "embeddings"), nlist = nlist).count())
      }
      val (t1, surv1) = run(p.sfDir, graft.ops.Similarity.IvfNlist)
      val cfgs = Seq(256, 1024).map { nlist =>
        val (t, surv) = run(ampDir, nlist)
        ("nlist" -> nlist) ~ ("tN" -> r3(t.wall)) ~ ("ratio" -> r3(ratio(t1.wall, t.wall))) ~
          ("straggler" -> r3(t.straggler)) ~ ("survivors" -> surv)
      }
      writeJson(p.out, ("mode" -> "semdedup_scaled_params") ~ ("copies" -> p.n) ~
        ("t1" -> r3(t1.wall)) ~ ("survivors_1x" -> surv1) ~ ("configs" -> cfgs.toList))
    }
  }

  /** `joinskew <sfDir> <copies> <outJson>` — the adversarial-skew
    * witness for the stream-stream-join batch twins: the events table
    * is amplified `copies`× and ~20% of ALL rows are reassigned to ONE
    * hot user (md5-bucket selection, so the plant is deterministic),
    * then the purchase<-click interval join runs over it. user_id is
    * the join key, so the hot user is one shuffle partition holding
    * 20% of both sides AND a quadratic share of the output — exactly
    * the shape AQE's skew-join split must break across tasks. The
    * artifact records wall, the max-task/wall straggler fraction, and
    * the hot user's share of the output. */
  def joinSkew(args: Array[String]): Unit = {
    val p = parse(args, 10, "SKEW_JOIN_r15.json")
    val hotUser = 999999999L
    withAmplified(p.sfDir, p.n, Seq("events")) { ampDir =>
      withMeter { meter =>
        import meter.spark.implicits._
        // ~20% of rows -> the hot user; the rest keep their per-copy
        // disjoint user spaces (joins land exactly as at 1x)
        val ev = table(meter.spark, ampDir, "events").withColumn("user_id",
          when(conv(substring(md5($"event_id".cast("string")), 1, 4), 16, 10)
            .cast("int") % 100 < 20, lit(hotUser)).otherwise($"user_id"))
        def measure(join: (DataFrame, DataFrame, String) => DataFrame) = {
          val (t, agg) = meter.time()(join(
              graft.streaming.Windows.purchaseSide(ev),
              graft.streaming.Windows.clickSide(ev), "24 hours")
            .agg(count(lit(1)), sum(when($"user_id" === hotUser, 1L).otherwise(0L)))
            .head())
          (t, agg.getLong(0), agg.getLong(1))
        }
        val (tp, rp, hp) = measure(graft.streaming.Windows.purchaseClickJoin(_, _, _))
        val (tb, rb, hb) = measure(graft.streaming.Windows.purchaseClickJoinBucketed(_, _, _))
        require(rp == rb && hp == hb,
          s"bucketed rewrite changed the output: plain ($rp, $hp) vs bucketed ($rb, $hb)")
        writeJson(p.out, ("mode" -> "join_hot_user") ~ ("copies" -> p.n) ~
          ("hot_frac" -> 0.2) ~ ("rows" -> rp) ~ ("hot_rows" -> hp) ~
          ("plain" -> (("t" -> r3(tp.wall)) ~ ("straggler" -> r3(tp.straggler)))) ~
          ("bucketed" -> (("t" -> r3(tb.wall)) ~ ("straggler" -> r3(tb.straggler)))))
      }
    }
  }

  /** `classifylife <sfDir> <copies> <outJson>` — the 100× pass on the
    * NB classifier's OPERATIONAL closure (the round-17 stored/add/
    * takedown + hashed-feature work): on the 1× and the `copies`×
    * (verbatim-copy) corpus, measure the lifecycle costs and check
    * the claims that justify them at 100 TB:
    *
    *  - build + store: the one-time cost (grows with the corpus —
    *    that's fine, it is paid once);
    *  - hashed build: the bucket-bounded artifact — the model's key
    *    count must stay ≤ HashedFeatureBuckets at BOTH scales
    *    (require()d), the property that makes the serving broadcast
    *    safe at any corpus size;
    *  - add: folding a FIXED 30-doc batch into the stored count
    *    frames (union + group-sum + save). The stored frame is
    *    VOCABULARY-sized, not corpus-sized — verbatim copies keep the
    *    vocabulary constant (require()d equal across scales) — so the
    *    edit cost must stay roughly flat while the corpus grows 100×;
    *  - takedown: subtracting FIXED tombstones (docs 100-199) from
    *    the live frames — same flat-cost argument, and the edited
    *    model must be EXACTLY the retrain on (corpus + batch −
    *    tombstones), field-for-field and count-for-count (require()d
    *    at both scales: the additivity proof, executed);
    *  - retrain: the full-rebuild baseline the edits avoid —
    *    `edit_vs_retrain_Nx` is the measured win.
    */
  def classifyLifeScale(args: Array[String]): Unit = {
    val p = parse(args, 100, defaultOut("classifylife"))
    def modelEq(a: graft.streaming.NbModel, b: graft.streaming.NbModel): Boolean =
      a.classes.sameElements(b.classes) &&
        a.priorBits.sameElements(b.priorBits) &&
        a.dd.sameElements(b.dd) &&
        a.counts.keySet == b.counts.keySet &&
        a.counts.forall { case (w, arr) => arr.sameElements(b.counts(w)) }

    val seq = new java.util.concurrent.atomic.AtomicLong()
    def run(dir: String): (Map[String, Double], Long, Long) = withMeter { meter =>
      val spark = meter.spark
      import spark.implicits._
      import graft.streaming.ClassifyServe
      import graft.ops.IndexStore
      def docs = table(spark, dir, "documents")
      // the phases edit stored state in sequence: timed once, unwarmed
      def time[T](body: => T): (Timing, T) = meter.time(warm = false)(body)
      val root = IndexStore.scratchRoot(spark, "nblife", seq.incrementAndGet())
      val (tBuild, vocab) = time {
        val (cls, cnt) = ClassifyServe.nbCountFrames(docs, $"text", $"lang")
        IndexStore.save(root, "nb_classes" -> cls, "nb_counts" -> cnt)
        ClassifyServe.nbModelFromFrames(
          IndexStore.load(spark, root, "nb_classes"),
          IndexStore.load(spark, root, "nb_counts")).counts.size.toLong
      }
      val (tHash, hkeys) = time {
        val (clsH, cntH) = ClassifyServe.nbCountFrames(docs, $"text", $"lang",
          featOf = graft.ops.Classify.hashedFeat)
        ClassifyServe.nbModelFromFrames(clsH, cntH,
          Some(graft.ops.Classify.HashedFeatureBuckets)).counts.size.toLong
      }
      require(hkeys <= graft.ops.Classify.HashedFeatureBuckets,
        s"hashed model $hkeys keys > bucket bound")
      def batch = docs.filter($"doc_id" < 30)
        .select(($"doc_id" + 2000000L).as("doc_id"), $"lang",
          substring($"text", 1, 40).as("text"))
      val (tAdd, _) = time {
        val (clsB, cntB) = ClassifyServe.nbCountFrames(batch, $"text", $"lang")
        val clsLive = IndexStore.load(spark, root, "nb_classes")
          .unionByName(clsB)
          .groupBy($"lab").agg(
            sum($"n_docs_s").as("n_docs_s"), sum($"n_toks_s").as("n_toks_s"))
        val cntLive = IndexStore.load(spark, root, "nb_counts")
          .unionByName(cntB)
          .groupBy($"w", $"lab").agg(sum($"cws").as("cws"))
        IndexStore.save(root, "nb_classes" -> clsLive, "nb_counts" -> cntLive)
      }
      val (tTake, _) = time {
        val (clsT, cntT) = ClassifyServe.nbCountFrames(
          docs.filter($"doc_id" >= 100 && $"doc_id" < 200), $"text", $"lang")
        val clsLive = IndexStore.load(spark, root, "nb_classes")
          .join(clsT.select($"lab", $"n_docs_s".as("__d"), $"n_toks_s".as("__t")),
            Seq("lab"), "left")
          .select($"lab",
            ($"n_docs_s" - coalesce($"__d", lit(0L))).as("n_docs_s"),
            ($"n_toks_s" - coalesce($"__t", lit(0L))).as("n_toks_s"))
          .filter($"n_docs_s" > 0)
        val cntLive = IndexStore.load(spark, root, "nb_counts")
          .join(cntT.select($"w", $"lab", $"cws".as("__c")), Seq("w", "lab"), "left")
          .select($"w", $"lab", ($"cws" - coalesce($"__c", lit(0L))).as("cws"))
          .filter($"cws" > 0)
        IndexStore.save(root, "nb_classes" -> clsLive, "nb_counts" -> cntLive)
      }
      val (tRetrain, ok) = time {
        val base = docs
          .filter(!($"doc_id" >= 100 && $"doc_id" < 200))
          .select($"doc_id", $"lang", $"text")
          .unionByName(batch.select($"doc_id", $"lang", $"text"))
        val mRe = ClassifyServe.buildNbModel(base, $"doc_id", $"text", $"lang")
        val mEd = ClassifyServe.nbModelFromFrames(
          IndexStore.load(spark, root, "nb_classes"),
          IndexStore.load(spark, root, "nb_counts"))
        modelEq(mEd, mRe)
      }
      require(ok, "edited frames != retrain on corpus + batch - tombstones")
      (Map("build" -> tBuild, "hash_build" -> tHash, "add" -> tAdd,
        "takedown" -> tTake, "retrain" -> tRetrain).map(kv => kv._1 -> kv._2.wall),
        vocab, hkeys)
    }

    withAmplified(p.sfDir, p.n, Seq("documents")) { ampDir =>
      val (m1, v1, h1) = run(p.sfDir)
      val (mN, vN, hN) = run(ampDir)
      require(v1 == vN,
        s"vocabulary changed under verbatim copies: $v1 -> $vN")
      val phases = Seq("build", "hash_build", "add", "takedown", "retrain")
        .map(k => k -> scaled(m1(k), mN(k)))
      writeJson(p.out, ("mode" -> "classify_lifecycle") ~ ("copies" -> p.n) ~
        JObject(phases.toList) ~
        ("vocab" -> v1) ~ ("hashed_keys_1x" -> h1) ~ ("hashed_keys_Nx" -> hN) ~
        ("edit_vs_retrain_Nx" -> r3(mN("retrain") / math.max(mN("add") + mN("takedown"), 1e-9))) ~
        ("model_surgery_exact" -> true) ~
        ("note" -> "the structural claims are the scale story here: count frames stay vocabulary-sized (vocab constant under verbatim copies, require()d), the hashed model stays bucket-bounded at both scales, and edited frames equal the retrain EXACTLY at both scales; at this fixture's corpus/vocabulary size every phase is scheduling-overhead-dominated, so ~1.0 ratios under 100x data mean no phase's cost grew with the corpus -- for add/takedown that flatness IS the claim (they scan only the delta + vocabulary-sized frames), while at production scale build/retrain would grow linearly and the edit forms would not"))
    }
  }

  // ---- stress runs -------------------------------------------------

  /** Hot-band skew stress for the banded dedup joins: plants a HOT
    * BAND of `variants` distinct near-identical documents (~20% of the
    * corpus) whose shingle sets differ by one token, so every LSH band
    * hashes them into the SAME bucket, over 2 amplified background
    * copies. The candidate join then has one bucket holding ~20% of
    * all postings — the adversarial-skew case for the banded
    * equi-joins. Prints wall time plus the max/median TASK time of
    * each run: AQE's skew-join split (`spark.sql.adaptive.skewJoin`,
    * on by default) splits the oversized sort-merge partition across
    * tasks, so the hot bucket must NOT serialize into one straggler
    * task. */
  def hotBand(args: Array[String]): Unit = {
    val p = parse(args, 2500)
    val variants = p.n
    // background: 2 id-shifted copies (duplicate-saturated baseline)
    withAmplified(p.sfDir, 2, Seq("documents", "embeddings")) { dir =>
      withMeter { meter =>
        val spark = meter.spark
        import spark.implicits._
        // the hot rows join the amplified table in its own schema
        def append(rows: DataFrame, t: String): Unit = {
          val path = s"$dir/$t.parquet"
          rows.select(spark.read.parquet(path).schema.fields.toSeq
              .map(f => col(f.name).cast(f.dataType)): _*)
            .write.mode("append").parquet(path)
        }
        val base = table(spark, p.sfDir, "documents")
        val n = base.count()
        // hot band: `variants` DISTINCT texts sharing ~all shingles — one
        // appended unique token each, so exact-content collapse can NOT
        // absorb them (all contents distinct) and every minhash band
        // funnels them into the same bucket
        val seedText = base.orderBy($"doc_id").select($"text").head().getString(0)
        append(spark.range(variants).select(
          ($"id" + lit(500000000L)).as("doc_id"),
          concat(lit(seedText), lit(" varianttok"), $"id").as("text"),
          lit("en").as("lang"), lit("hot").as("source"),
          (length(lit(seedText)) + lit(12)).as("n_chars")), "documents")
        // embedding twin of the text hot band: `variants` DISTINCT
        // vectors around one seed, each perturbed on coordinate 0 by a
        // different tiny step — exact-vector collapse cannot absorb them
        // (all distinct), yet the perturbation is far too small to flip
        // a hyperplane sign, so every LSH band hashes them into the SAME
        // bucket: the adversarial case for dd_embed_cos / s_ann_lsh's
        // banded blocking
        val emb = spark.read.parquet(s"${p.sfDir}/embeddings.parquet")
        val nE = emb.count()
        val seedVec = emb.orderBy($"vec_id").select($"embedding")
          .head().getSeq[Float](0)
        append(spark.range(variants).select(
          ($"id" + lit(500000000L)).as("vec_id"),
          array((lit(seedVec.head) + ($"id" + 1L).cast("float") * lit(1e-6f))
              .cast("float") +: seedVec.tail.map(f => lit(f)): _*).as("embedding"),
          lit(999).as("label")), "embeddings")
        val total = n * 2 + variants
        println(s"SKEW corpus: $total docs, hot band = $variants distinct near-identical texts (${100 * variants / total}%)")
        println(s"SKEW embeddings: ${nE * 2 + variants} vectors, hot bucket = $variants distinct near-identical vectors")

        // task-level skew metrics: if the hot bucket serialized into one
        // task, max task time ≈ whole-stage time; AQE's skew-join split
        // (adaptive.skewJoin, default on) plus the pair-bound verify keep
        // max/median bounded instead
        def measure(name: String)(rowsOf: => Long): Unit = {
          val (t, nRows) = meter.time(warm = false)(rowsOf)
          println(f"SKEW $name%s: ${t.wall}%.1f s wall, $nRows rows, ${t.tasks} tasks, max task ${t.maxTask}%.1f s, median ${t.medTask}%.2f s, max/wall ${t.straggler}%.2f")
        }
        def query(q: String): Unit =
          measure(q)(graft.SparkEntry.queries(q)(spark, dir).count())
        // The two online indexes (w_neardup_pairs, w_embed_neardup)
        // are EXPECTED to show max/wall near 1 here: a hot band is one
        // flatMapGroupsWithState group, and stateful groups cannot be
        // AQE-split — the serial verify inside the group is the
        // inherent cost of an ONLINE per-band index under a true-dup
        // flood (every emitted pair is true output; production bounds
        // it with maxPerBand). The batch family's banded JOINS are the
        // ones that must stay under the straggler bound.
        // dd_dup_ngrams: the hot band makes every seed gram's document
        // frequency ≈ variants, so the postings back-join concentrates
        // `variants` rows per gram hash — the viral-gram case its
        // scaladoc promises AQE handles
        // dd_containment under the hot band: every hot doc's prefix
        // ends with one shared seed gram, so the candidate join
        // surfaces ALL ~variants² true containment pairs — the
        // inherent quadratic output of containment on a
        // duplicate-saturated corpus, like the other pair queries
        for (q <- Seq("dd_minhash_lsh", "dd_apply_lsh", "dd_simhash",
            "dd_embed_cos", "s_ann_lsh", "dd_decontaminate",
            "dd_embed_decontaminate", "dd_dup_ngrams", "dd_dup_spans",
            "dd_containment", "w_neardup_pairs", "w_embed_neardup"))
          query(q)
        // Incremental-admission worst case: a HOT-BAND BATCH arriving
        // against the hot-band corpus. Every batch doc/vector is a
        // fresh distinct variant of the SAME seed, so all of its band
        // postings land in the bucket that already holds `variants`
        // corpus postings — the candCorpus equi-join concentrates
        // |batch| × |variants| candidate rows into ONE bucket per band
        // (plus the |batch|² candBatch self-join in the same bucket).
        // The joins are plain equi-joins, so AQE's skew split must
        // keep them off a single straggler task — the property the
        // frozen-index admission path needs under a true-dup flood.
        val nBatch = math.max(variants / 5, 100)
        val hotDocBatch = spark.range(nBatch).select(
          ($"id" + lit(700000000L)).as("doc_id"),
          concat(lit(seedText), lit(" battok"), $"id").as("text"))
        measure("dd_lsh_increment(hot-batch)")(
          graft.ops.Dedup.lshIncrementSurvivors(
            table(spark, dir, "documents").select($"doc_id", $"text"),
            hotDocBatch).count())
        // embedding twin: half-integer perturbation steps interleave
        // with the corpus hot bucket's integer steps — all 2500 + 500
        // vectors distinct, all in one hyperplane bucket
        val hotEmbBatch = spark.range(nBatch).select(
          ($"id" + lit(700000000L)).as("vec_id"),
          array((lit(seedVec.head) +
              (($"id".cast("double") + lit(0.5)) * lit(1e-6)).cast("float"))
              .cast("float") +: seedVec.tail.map(f => lit(f)): _*).as("embedding"))
        measure("dd_embed_increment(hot-batch)")(
          graft.ops.Dedup.embedIncrementSurvivors(
            spark.read.parquet(s"$dir/embeddings.parquet"),
            hotEmbBatch).count())
        // Takedown/compact under the hot band: the tombstone set is
        // ~20% of the corpus, HALF drawn from the hot band (every
        // other hot variant) and half from the background copies. The
        // IndexStore.compact rewrite is a broadcast anti-join on
        // UNIQUE ids — no join-key skew is possible there by
        // construction — so the skew stress lands on what follows:
        // band postings REBUILT over the half-emptied hot bucket, and
        // the hot-batch admission joins against it. Those are the
        // same plain equi-joins AQE must keep off a straggler.
        val hotTombDocs = spark.range(variants / 2)
          .select(($"id" * 2 + lit(500000000L)).as("id"))
          .unionByName(spark.range(n / 10).select($"id"))
        measure("dd_lsh_takedown(hot-tombstones)")(
          graft.ops.Dedup.lshTakedownSurvivors(
            table(spark, dir, "documents").select($"doc_id", $"text"),
            hotDocBatch, hotTombDocs).count())
        val hotTombVecs = spark.range(variants / 2)
          .select(($"id" * 2 + lit(500000000L)).as("vec_id"))
          .unionByName(spark.range(nE / 10).select($"id".as("vec_id")))
        measure("dd_embed_takedown(hot-tombstones)")(
          graft.ops.Dedup.embedTakedownSurvivors(
            spark.read.parquet(s"$dir/embeddings.parquet"),
            hotEmbBatch, hotTombVecs).count())
        // the quantized-index compact queries over the hot-bucket
        // corpus: tombstoned cells fold into the artifact while the
        // hot bucket concentrates assignment/probe keys
        Seq("s_ann_ivf_compact", "s_ann_ivfpq_compact").foreach(query)
      }
    }
  }

  /** Round-4 dedup-family saturation probes: amplifies the sf0.1 corpus
    * `copies` times (each copy keeps the text, shifts doc_id), producing
    * a duplicate-SATURATED corpus — every document gains C(copies, 2)
    * true near-dup partners, the worst case for pairwise stages (df per
    * gram multiplies by `copies`, so a quadratic intermediate would blow
    * up copies² ≈ 400x while the corpus only grows 20x). Embeddings are
    * amplified too: every vector has copies-1 exact twins, the worst
    * case for the banded-LSH blocking (twins collide in EVERY band). */
  def dedupSaturation(args: Array[String]): Unit = {
    val p = parse(args, 20)
    withAmplified(p.sfDir, p.n, Seq("documents", "embeddings")) { bigDir =>
      withMeter { meter =>
        val spark = meter.spark
        import spark.implicits._
        val n = table(spark, p.sfDir, "documents").count()
        println(s"SMOKE corpus: ${n * p.n} docs (${p.n} copies of $n)")
        def time(name: String)(f: => Long): Unit = {
          val (t, rows) = meter.time(warm = false)(f)
          println(f"SMOKE $name: ${t.wall}%.1f s ($rows rows)")
        }
        def query(q: String): Unit =
          time(q)(graft.SparkEntry.queries(q)(spark, bigDir).count())
        query("dd_exact")
        // UNCOLLAPSED prefix-filter probe: candidate volume is pair-bound
        // (stop-grams fall out of prefixes — not sum-of-df^2-bound), but
        // on this saturated corpus "pair-bound" is still quadratic in the
        // duplication factor (~49M candidates for ~1.05M true pairs)
        time("dd_apply_prefix_candidates") {
          val docs = table(spark, bigDir, "documents")
          graft.ops.Dedup.prefixCandidates(docs.select($"doc_id", $"text"))._2.count()
        }
        // the full operator collapses exact-content groups to their
        // minimal doc_id BEFORE pairing, so the pairwise stage sees the
        // 5k unique contents, not the 100k docs: 342s -> ~6s here with a
        // provably identical survivor set
        query("dd_apply")
        // ngram candidate volume under saturation, uncollapsed probe: the
        // banded prefix filter at t=0.2 keeps this pair-bound (prefix
        // collisions within adjacent bands), not Σ df²-bound — the
        // pre-round-4 full-postings join would square the gram df here
        time("dd_ngram_prefix_candidates") {
          val docs = table(spark, bigDir, "documents")
          graft.ops.Dedup.prefixCandidates(
            docs.select($"doc_id", $"text",
              floor($"n_chars" / lit(50)).cast("int").as("band")),
            tn = 1, td = 5, hashKind = "xx64", banded = true)._2.count()
        }
        Seq("dd_minhash_lsh", "dd_ngram_jaccard", "dd_apply_lsh", "dd_simhash").foreach(query)
        // banded hyperplane-LSH blocking under total vector saturation;
        // output is the inherent quadratic (every twin pair is a true
        // cosine-1 pair), candidates stay band-bounded
        Seq("dd_embed_cos", "s_ann_lsh", "t_vocab", "t_fingerprint").foreach(query)
      }
    }
  }
}
