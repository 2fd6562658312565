package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-technique evidence: salting preserves results and spreads hot
  * keys; bucketed tables co-locate their join (no shuffle exchange on
  * either side). */
class ScaleSpec extends AnyFunSuite with SparkSpec {

  test("saltedAgg == direct groupBy on a skewed distribution") {
    import spark.implicits._
    // hot key: 90% of rows on one key, all with the SAME value (the
    // stuck-sensor case — a value-derived salt would not spread it)
    val rnd = new scala.util.Random(11)
    val df = (0 until 20000).map { i =>
      val k = if (rnd.nextDouble() < 0.9) "hot" else s"k${rnd.nextInt(50)}"
      val v = if (k == "hot") 42.42 else rnd.nextInt(10000) / 100.0
      (k, v)
    }.toDF("key", "value")
    val direct = df.groupBy($"key").agg(
      count(lit(1)).as("n"),
      sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
    val salted = Scale.saltedAgg(df, $"key", $"value", salt = 16)
      .withColumnRenamed("key", "key")
    assert(salted.exceptAll(direct).count() == 0 && direct.exceptAll(salted).count() == 0)
    // the salted first stage has no single group bigger than ~1/16 of the hot key
    val firstStage = df.withColumn("__salt", Scale.saltColumn(16))
      .groupBy($"key", $"__salt").count()
    val maxGroup = firstStage.agg(max($"count")).head().getLong(0)
    assert(maxGroup < 20000 * 0.9 / 4, s"salting failed to spread: $maxGroup")
  }

  test("packShards: offsets equal the sequential scan; bucket width never changes the answer") {
    import spark.implicits._
    // sparse, shuffled doc_ids with a zero-token doc and a doc bigger
    // than the whole budget — the offsets must equal a driver-side
    // sequential scan over id order, for ANY bucketing
    val docs = Seq(
      (7L, "a b c"), (2L, "x y"), (40L, ""), (13L, "one two three four five"),
      (100L, ("t " * 17).trim), (3L, "q"))
      .toDF("doc_id", "text").repartition(5)
    val expected = docs.select($"doc_id",
        size(TextAnalysis.tokens($"text")).cast("long").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .foldLeft((0L, Vector.empty[(Long, Long, Long, Long)])) {
        case ((off, acc), (id, n)) =>
          (off + n, acc :+ ((id, n, off, off / 6L)))
      }._2
    for (width <- Seq(1L, 3L, 1000L)) {
      val got = TextAnalysis.packShards(docs, $"doc_id", $"text",
          budget = 6L, bucketWidth = width)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toVector
      assert(got == expected, s"bucketWidth=$width")
    }
  }

  test("amplifyDatabase: FK-consistent replicas — no orphans, exact Nx join cardinality, saturated text") {
    import spark.implicits._
    // the 10x scale-proof corpus (SCALE_r05.json) is only meaningful if
    // the amplified database joins exactly like the base one: every
    // copy must be a disjoint, self-consistent replica
    val sf = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft_ampspec").toString
    graft.tools.ScaleSmoke.amplifyDatabase(spark, sf, out, copies = 3)
    def base(t: String) = spark.read.parquet(s"$sf/$t.parquet")
    def amp(t: String) = spark.read.parquet(s"$out/$t.parquet")

    // fact rows scale exactly; dims are untouched
    assert(amp("lineitem").count() == 3 * base("lineitem").count())
    assert(amp("nation").count() == base("nation").count())

    // zero orphan FKs after shifting both sides
    val orphans = amp("lineitem").join(amp("orders"),
      $"l_orderkey" === $"o_orderkey", "left_anti").count()
    assert(orphans == 0L)
    val custOrphans = amp("orders").join(amp("customer"),
      $"o_custkey" === $"c_custkey", "left_anti").count()
    assert(custOrphans == 0L)

    // join cardinality scales exactly Nx (replicas never cross-join)
    val baseJoin = base("lineitem").join(base("orders"),
      $"l_orderkey" === $"o_orderkey").count()
    val ampJoin = amp("lineitem").join(amp("orders"),
      $"l_orderkey" === $"o_orderkey").count()
    assert(ampJoin == 3 * baseJoin)

    // documents: ids disjoint, text saturated (dedup's worst case)
    assert(amp("documents").select($"doc_id").distinct().count() ==
      3 * base("documents").count())
    assert(amp("documents").select($"text").distinct().count() ==
      base("documents").select($"text").distinct().count())

    // a table subset writes only the requested tables
    val docsOnly = java.nio.file.Files.createTempDirectory("graft_ampspec").toString
    graft.tools.ScaleSmoke.amplifyDatabase(spark, sf, docsOnly, copies = 2,
      tables = Seq("documents"))
    assert(new java.io.File(docsOnly).list().toSeq == Seq("documents.parquet"))
    assert(spark.read.parquet(s"$docsOnly/documents.parquet").count() ==
      2 * base("documents").count())
  }

  test("ScaleSmoke invariants accept each checked query's output at 1x and 2x") {
    val sf = "/root/testdata/sf0.001"
    val amp = java.nio.file.Files.createTempDirectory("graft_invspec").toString
    graft.tools.ScaleSmoke.amplifyDatabase(spark, sf, amp, copies = 2,
      tables = Seq("documents"))
    graft.tools.ScaleSmoke.invariants.toSeq.sortBy(_._1).foreach { case (name, inv) =>
      // building a query again releases its prior run's leases, so
      // each output is fully checked before the next is built
      def checked(dir: String): Long = {
        val out = graft.SparkEntry.queries(name)(spark, dir)
        inv.each(out)
        out.count()
      }
      val rows1 = checked(sf)
      val rows2 = checked(amp)
      inv.rowsNx.foreach(rule => assert(rows2 == rule(rows1, 2), s"$name rows at 2x"))
    }
  }

  test("ScaleSmoke t_dsir invariant rejects one flipped selected flag") {
    import spark.implicits._
    val out = graft.SparkEntry.queries("t_dsir")(spark, "/root/testdata/sf0.001")
    val check = graft.tools.ScaleSmoke.invariants("t_dsir").each
    assert(check(out) == Seq("selected" -> out.filter($"selected").count()))
    val flip = out.filter($"selected").select($"doc_id").head().getLong(0)
    val flipped = out.withColumn("selected",
      when($"doc_id" === flip, !$"selected").otherwise($"selected"))
    intercept[IllegalArgumentException](check(flipped))
  }

  test("zValue: exact interleave, bucket rectangles, 2-D layout beats 1-D sort") {
    import spark.implicits._
    // hand-check: x=5 (101) lands on even z-bits -> 17, y=3 (011) on
    // odd z-bits -> 10; z = 27
    val z = Seq((5L, 3L)).toDF("x", "y")
      .select(Scale.zValue($"x", $"y").as("z")).head().getLong(0)
    assert(z == 27L)
    // every zbucket of the oracle-checked query is a 32x32 rectangle
    val rows = graft.SparkEntry.queries("q_zorder")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 31, s"gx span in bucket ${r.getLong(0)}")
      assert(r.getLong(5) - r.getLong(4) <= 31, s"gy span in bucket ${r.getLong(0)}")
    }
    // layout property: range-partitioning on z bounds BOTH dimensions
    // per partition (total box area far below the 1-D sort's, whose
    // partitions span the second dimension fully). Needs two WIDE
    // dimensions to matter — lineitem's suppkey is ~10 values at this
    // sf, so use a uniform 64x64 grid (the shape of a real fact table
    // where both layout keys are high-cardinality).
    val li = spark.range(4096)
      .select((($"id" % 64) * 16).cast("long").as("gx"),
        (floor($"id" / 64) * 16).cast("long").as("gy"))
    // per-partition (min, max) boxes — what parquet row-group stats
    // would record for each file
    def boxes(df: org.apache.spark.sql.DataFrame): Array[(Long, Long, Long, Long)] =
      df.mapPartitions { it =>
        val rs = it.toArray
        if (rs.isEmpty) Iterator.empty
        else {
          val gxs = rs.map(_.getLong(0)); val gys = rs.map(_.getLong(1))
          Iterator.single((gxs.min, gxs.max, gys.min, gys.max))
        }
      }.collect()
    val zBoxes = boxes(li.repartitionByRange(16, Scale.zValue($"gx", $"gy")))
    val xBoxes = boxes(li.repartitionByRange(16, $"gx"))
    // a gy-only range predicate (gy <= 255, the grid's top quarter):
    // min/max stats prune z-layout files to the intersecting blocks,
    // while every 1-D gx-sorted file spans all of gy and none prune
    def touchedByGy(bs: Array[(Long, Long, Long, Long)]): Int =
      bs.count { case (_, _, gyMin, _) => gyMin <= 255L }
    val (zTouched, xTouched) = (touchedByGy(zBoxes), touchedByGy(xBoxes))
    assert(xTouched == xBoxes.length, "1-D sort should prune nothing on gy")
    assert(zTouched * 2 <= xTouched,
      s"z layout touched $zTouched of ${zBoxes.length}, 1-D $xTouched of ${xBoxes.length}")
    // while a gx predicate still prunes under z too (both dims bounded)
    assert(zBoxes.count { case (gxMin, _, _, _) => gxMin <= 255L } < zBoxes.length)
  }

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val sf = "/root/testdata/sf0.001"
    graft.model.Tables.table(spark, sf, "orders")
      .write.mode("overwrite").option("path", s"$wh/orders_b")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    graft.model.Tables.table(spark, sf, "lineitem")
      .write.mode("overwrite").option("path", s"$wh/lineitem_b")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    // tiny test tables would broadcast; disable so the join exercises
    // the bucketed (co-located) path a big fact-fact join would use
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      joined.collect() // force final plan under AQE
      joined.queryExecution.executedPlan.toString
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    // co-located: the join itself requires no hashpartitioning exchange
    val joinSection = plan.split("SortMergeJoin|ShuffledHashJoin")
    assert(joinSection.length >= 2, plan)
    assert(!joinSection.last.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }
}
