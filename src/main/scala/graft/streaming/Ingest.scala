package graft.streaming

import graft.functions.{Conversions, ModbusDecode}
import graft.ops.Maintenance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, LongType, StructField, StructType}

/** The reference daemon's acquire -> decode -> convert -> persist
  * dataflow (SURVEY.md §3) as ONE Structured Streaming pipeline.
  *
  * Reference topology: per-bus poll threads mutate ChannelState, a
  * persist thread scans dirty flags and writes row-at-a-time
  * (daq-3i.py:233-292). Here the stream IS the handoff: the source
  * emits raw register readings, one declarative plan decodes (D3) and
  * converts (D4) them, and `foreachBatch` lands the fact append (D6)
  * and the status upsert (D7) transactionally per micro-batch with
  * checkpointed exactly-once (vs the reference's at-least-once dirty
  * flag, and with NO last-value-wins sample loss — SURVEY.md §3.2).
  *
  * Scale: decode/convert are codegen'd column expressions; the channel
  * dimension is broadcast; the fact append is partitioned parquet.
  * Nothing in the hot path touches the driver.
  */
object Ingest {

  /** One raw acquisition: the wire-format words read from a device
    * register block (reference buscommon.ReadResponse + ChannelState). */
  case class RegisterReading(
      channel_id: Long,
      ts: java.sql.Timestamp,
      registers: Seq[Int],
      status: Int) // 0 ok, -1 read error (bus.py:94-105)

  /** D3 + D4 as one declarative transform: join the broadcast channel
    * dimension (format_code, conversion_id — db_model.py:9-28), decode
    * registers, apply the compiled conversion, cast to the fact
    * table's exact NUMERIC(25,6). Failed reads (status == -1) are
    * dropped exactly like the reference (bus.py:94-100 logs and skips;
    * sample lost until next poll). */
  def decodeAndConvert(
      readings: DataFrame,
      channels: DataFrame,
      conversions: Seq[(Long, String)]): DataFrame = {
    val dim = channels.select(
      col("id").as("channel_id"), col("format_code"), col("conversion_id"))
    readings
      .filter(col("status") === 0)
      .join(broadcast(dim), Seq("channel_id"))
      .withColumn("raw", ModbusDecode.decode(col("format_code"), col("registers")))
      .withColumn("value",
        Conversions.applyConversions(conversions, col("conversion_id"), col("raw"))
          .cast(DecimalType(25, 6)))
      .select(col("channel_id"), col("ts"), col("value"))
  }

  /** Latest-status updates for a micro-batch: one "CHL: <id>" row per
    * channel seen (reference daq-3i.py:284), plus the heartbeat row
    * when `heartbeat` is set (daq-3i.py:163-171). */
  def statusUpdates(batch: DataFrame, heartbeat: Boolean): DataFrame = {
    val chl = batch.groupBy(col("channel_id")).agg(max(col("ts")).as("ts"))
      .select(
        format_string("CHL: %d", col("channel_id")).as("parameter"),
        lit(1).as("status"), col("ts"))
    if (heartbeat)
      chl.unionByName(batch.select(
          lit("daq-3i").as("parameter"), lit(1).as("status"), max(col("ts")).as("ts"))
        .filter(col("ts").isNotNull)) // empty batch: no null-ts heartbeat
    else chl
  }

  /** Serializes read-merge-overwrite cycles on a status table: two
    * streams (ingest + heartbeat) may upsert the SAME statusDir from
    * different driver threads, and an unserialized overwrite would
    * drop one side's rows. Driver-local lock is sufficient — the
    * status table has exactly one writing driver (like the reference's
    * single daemon process; multi-driver deployments put daq_status in
    * a transactional store via the same foreachBatch MERGE). */
  private val statusLock = new Object

  /** Merge status updates into the keyed status table on disk as ONE
    * plan, written by its only action (the table is bounded by
    * parameter count ≈ channel count, db_model.py:57-62). The merged
    * table is computed lazily OVER the directory it replaces, so the
    * write lands aside and installs via the same two-rename + .bak
    * swap as [[compactFact]] — the data is never deleted before its
    * replacement is in place, and a swap that dies between renames is
    * restored at the next merge's entry probe.
    *
    * The persisted table carries the reference's surrogate `id`
    * (db_model.py:58 autoincrement PK): a parameter keeps its id
    * across upserts; parameters without one take the next ids after
    * the table's max, parameters already in the table first, each
    * group in parameter order — which makes replays deterministic and
    * backfills a table written by an id-less engine version (its ids
    * read as null) before any new parameter. */
  def mergeStatus(spark: SparkSession, statusDir: String, updates: DataFrame): Unit = statusLock.synchronized {
    // First-run absence is the ONLY condition that leaves out the
    // current table — probed explicitly, so a genuine read failure
    // (corrupt file, FS error) propagates and the micro-batch retries
    // instead of silently truncating persisted status rows. The probe
    // resolves the PATH'S filesystem (statusDir may live on a scheme
    // other than fs.defaultFS).
    val statusPath = new org.apache.hadoop.fs.Path(statusDir)
    val fs = statusPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    restoreSwap(fs, statusPath)
    val tableSchema = StructType(StructField("id", LongType) +: updates.schema.fields.toSeq)
    val incoming = updates.withColumn("id", lit(null).cast(LongType)).withColumn("__src", lit(1))
    val rows =
      if (fs.exists(statusPath))
        spark.read.schema(tableSchema).parquet(statusDir).withColumn("__src", lit(0))
          .unionByName(incoming)
      else incoming
    val byParam = Window.partitionBy("parameter")
    // tie-break equal timestamps in favor of the incoming update so a
    // same-second replay/recompute resolves deterministically
    val latest = rows
      .withColumn("id", max(col("id")).over(byParam))
      .withColumn("__held", min(col("__src")).over(byParam))
      .withColumn("__rn", row_number().over(
        byParam.orderBy(col("ts").desc, col("__src").desc)))
      .filter(col("__rn") === 1)
    // bounded-global-window: one row per parameter (≈ channel count,
    // db_model.py:57-62). It runs in one partition, so the table lands
    // as a single file — a control table read whole by monitors. Rows
    // without an id sort first, so their row numbers run 1..k
    val idOrder = Window.orderBy(col("id").isNotNull, col("__held"), col("parameter"))
    val maxId = max(col("id")).over(
      idOrder.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    val out = latest
      .withColumn("id", coalesce(col("id"), coalesce(maxId, lit(0L)) + row_number().over(idOrder)))
      .select((col("id") +: updates.columns.toSeq.map(col)): _*)
    val tmp = statusDir + ".tmp"
    out.write.mode("overwrite").parquet(tmp)
    swapInto(fs, new org.apache.hadoop.fs.Path(tmp), statusPath, "mergeStatus")
  }

  /** Install the freshly written `tmp` as `dst` via a `.bak` hop: data
    * is never deleted before its replacement is in place, and every
    * rename result is checked, so a concurrent writer recreating the
    * destination aborts the swap loudly (leaving .bak) instead of
    * silently nesting directories. An absent `dst` (a first status
    * write) skips the move-aside; an absent `tmp` fails the install and
    * rolls back. Errors name `caller`. Crash recovery: [[restoreSwap]]. */
  private def swapInto(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      caller: String): Unit = {
    val bak = new org.apache.hadoop.fs.Path(dst.toString + ".bak")
    fs.delete(bak, true)
    if (fs.exists(dst) && !fs.rename(dst, bak))
      throw new java.io.IOException(s"$caller: cannot move $dst aside")
    if (!fs.rename(tmp, dst)) {
      fs.rename(bak, dst) // roll back
      throw new java.io.IOException(s"$caller: cannot install $tmp")
    }
    fs.delete(bak, true)
    ()
  }

  /** Recover a [[swapInto]] that died between its two renames: the
    * data is under `<dst>.bak` and `dst` is gone — restore it. */
  private def restoreSwap(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path): Unit = {
    val bak = new org.apache.hadoop.fs.Path(dst.toString + ".bak")
    if (!fs.exists(dst) && fs.exists(bak)) { fs.rename(bak, dst); () }
  }

  /** Land one micro-batch: fact append + status upsert. The fact write
    * goes to a batchId-keyed partition directory with overwrite, so a
    * replay of the same batch (crash after write, before the
    * checkpoint commit) lands in the same directory and overwrites
    * deterministically instead of duplicating — idempotent, which is
    * what turns the checkpoint's at-least-once replay into effective
    * exactly-once. The status merge is last-writer-wins and therefore
    * idempotent by construction. */
  def persistBatch(
      batch: DataFrame, batchId: Long,
      factDir: String, statusDir: String,
      batchPrefix: String = "b"): Unit = {
    val spark = batch.sparkSession
    batch.persist()
    try {
      batch.write.mode("overwrite").parquet(s"$factDir/batch=$batchPrefix$batchId") // D6
      mergeStatus(spark, statusDir, statusUpdates(batch, heartbeat = true)) // D7+D10
    } finally { batch.unpersist(); () }
  }

  /** Read the fact sink without its physical batch partition column. */
  def readFact(spark: SparkSession, factDir: String): DataFrame =
    spark.read.parquet(factDir).drop("batch")

  /** D6's fact append into a JDBC store with the same effective
    * exactly-once the parquet path gets from batch-keyed directory
    * overwrite ([[persistBatch]]). A JDBC append can't overwrite, so
    * replay safety comes from a two-step protocol against a batch
    * LEDGER table (`<table>_batches`, created on first use):
    *
    *  1. ledger already holds `batchId` → the batch committed; the
    *     replay is a NO-OP;
    *  2. otherwise scrub rows tagged `batchId` (a crashed attempt that
    *     died between data append and ledger insert left partials),
    *     append the batch tagged with a `batch_id` column, and insert
    *     the ledger row LAST — the commit marker.
    *
    * Every crash point replays to the same final state: before the
    * append (clean retry), mid-append (scrub removes partials), after
    * the append but before the marker (scrub + re-append), after the
    * marker (no-op). The ledger's PRIMARY KEY makes two concurrent
    * writers of the same batch fail loudly rather than double-commit.
    * The tag column mirrors the parquet path's `batch=bN` partition;
    * [[readFactJdbc]] strips it. Reference persist path:
    * daq-3i.py:262-292 (row-at-a-time ORM inserts, at-least-once). */
  private def withJdbc[A](url: String)(f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Table-existence probe that respects how THIS database stores
    * unquoted identifiers (JDBC metadata is exact-match). Derby folds
    * them upper; MySQL on Linux stores them case-sensitively as
    * written — a hardcoded toUpperCase (the original Derby-ism) misses
    * lowercase tables there, so every batch would retry CREATE TABLE
    * and die on "table already exists". */
  private def jdbcTableExists(c: java.sql.Connection, t: String): Boolean = {
    val md = c.getMetaData
    // getTables takes a metadata search PATTERN: '_' matches any one
    // char, so an unescaped probe for fact_batches also matches
    // factXbatches — and this probe guards the ledger replay check,
    // where a false positive misroutes the commit marker. Escape the
    // wildcards (and the escape char itself) with the driver's own
    // escape string.
    val esc = Option(md.getSearchStringEscape).getOrElse("\\")
    def pattern(name: String): String =
      name.flatMap {
        case c @ ('_' | '%') => esc + c
        case c if esc.length == 1 && c == esc.head => esc + c
        case c => c.toString
      }
    val stored =
      if (md.storesUpperCaseIdentifiers) t.toUpperCase
      else if (md.storesLowerCaseIdentifiers) t.toLowerCase
      else t
    (Seq(stored, t).distinct: Seq[String]).exists { name =>
      val rs = md.getTables(null, null, pattern(name), null)
      try rs.next() finally rs.close()
    }
  }

  /** Has `batchId` been ledger-committed? The ledger row is the commit
    * marker persistBatchJdbc writes LAST — its presence means the
    * batch's data rows are fully landed and must never be scrubbed. */
  private def ledgerHasBatch(
      c: java.sql.Connection, ledger: String, batchId: Long): Boolean =
    jdbcTableExists(c, ledger) && {
      val ps = c.prepareStatement(s"SELECT 1 FROM $ledger WHERE batch_id = ?")
      try {
        ps.setLong(1, batchId)
        val rs = ps.executeQuery()
        try rs.next() finally rs.close()
      } finally ps.close()
    }

  /** Delete rows tagged with `batchId` — a crashed attempt's partials.
    * Spark's JDBC writer creates columns QUOTED (case-preserving), so
    * the scrub must quote too — with the driver's own quote string
    * (Derby: ", MySQL: backtick), not a hardcoded one. */
  private def scrubBatchJdbc(c: java.sql.Connection, table: String, batchId: Long): Unit = {
    val q = c.getMetaData.getIdentifierQuoteString.trim
    val ps = c.prepareStatement(
      s"DELETE FROM $table WHERE $q" + "batch_id" + s"$q = ?")
    try { ps.setLong(1, batchId); ps.executeUpdate(); () } finally ps.close()
  }

  def persistBatchJdbc(
      batch: DataFrame, batchId: Long, url: String, table: String): Unit = {
    val ledger = s"${table}_batches"
    val committed = withJdbc(url) { c =>
      if (!jdbcTableExists(c, ledger)) {
        val st = c.createStatement()
        // tolerate losing a create race (or a metadata probe that saw
        // a different stored case): the table existing is the goal
        try { st.executeUpdate(s"CREATE TABLE $ledger (batch_id BIGINT PRIMARY KEY)"); () }
        catch { case e: java.sql.SQLException => if (!jdbcTableExists(c, ledger)) throw e }
        finally st.close()
      }
      ledgerHasBatch(c, ledger, batchId)
    }
    if (committed) return
    withJdbc(url) { c =>
      if (jdbcTableExists(c, table)) scrubBatchJdbc(c, table, batchId)
    }
    graft.sources.FileSources.writeJdbc(
      batch.withColumn("batch_id", lit(batchId)), url, table)
    withJdbc(url) { c =>
      val ps = c.prepareStatement(s"INSERT INTO $ledger (batch_id) VALUES (?)")
      try { ps.setLong(1, batchId); ps.executeUpdate(); () } finally ps.close()
    }
  }

  /** Public replay-guard entry for the daemon's in-loop JDBC
    * compaction (see Daemon.compactBeforePersistJdbc): delete rows of
    * a batch that has NOT been ledger-committed. The ledger check is
    * load-bearing, not an optimization: a trigger can crash AFTER
    * persistBatchJdbc fully committed (data + ledger marker) but
    * BEFORE the streaming checkpoint commit. The replayed trigger
    * then re-enters the compaction path with the same batchId — an
    * unconditional scrub would delete the committed rows, after which
    * the replayed persist sees the marker and no-ops: the batch would
    * be permanently lost. Rows tagged batchId are scrubbed ONLY while
    * no marker exists (then they are provably a crashed attempt's
    * partials). No-op when the fact table doesn't exist yet. */
  def scrubUncommittedBatch(url: String, table: String, batchId: Long): Unit =
    withJdbc(url) { c =>
      if (!ledgerHasBatch(c, s"${table}_batches", batchId) &&
        jdbcTableExists(c, table)) scrubBatchJdbc(c, table, batchId)
    }

  /** D9 over a JDBC fact sink: compute the kept set, stage it
    * executor-parallel into `<table>_compact`, then swap with
    * DELETE + INSERT inside ONE database transaction — the reference's
    * row-at-a-time delete sweep (daq-3i.py:209-214) as a single atomic
    * set operation. The parquet path approximates atomicity with a
    * two-rename directory swap; the database gives the real thing, so
    * a crash mid-compaction leaves the fact table untouched (the
    * orphaned staging table is rebuilt by the next sweep's overwrite). */
  def compactFactJdbc(
      spark: SparkSession, url: String, table: String, channels: DataFrame): Unit = {
    if (!withJdbc(url)(jdbcTableExists(_, table))) return
    val staging = s"${table}_compact"
    val fact = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()
    val kept = Maintenance.retainNewestPerKey(
      fact, col("channel_id"), Seq(col("ts"), col("value")),
      channels, col("id"), col("history_len"))
    // staging is created by the same writer from the same schema, so
    // its column order matches `table` and INSERT ... SELECT * aligns
    kept.write.format("jdbc")
      .option("url", url).option("dbtable", staging)
      .mode("overwrite").save()
    withJdbc(url) { c =>
      c.setAutoCommit(false)
      val st = c.createStatement()
      try {
        st.executeUpdate(s"DELETE FROM $table")
        st.executeUpdate(s"INSERT INTO $table SELECT * FROM $staging")
        c.commit()
        c.setAutoCommit(true)
        st.executeUpdate(s"DROP TABLE $staging")
        ()
      } finally st.close()
    }
  }

  /** Read the JDBC fact sink without its replay-protocol tag column. */
  def readFactJdbc(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table)
      .load().drop("batch_id")

  /** Start the full ingestion stream. Each micro-batch lands decoded
    * samples in `factDir` and upserts `statusDir`; exactly-once =
    * checkpointed offsets + idempotent [[persistBatch]] replays. */
  def start(
      readings: DataFrame,
      channels: DataFrame,
      conversions: Seq[(Long, String)],
      factDir: String,
      statusDir: String,
      checkpointDir: String): StreamingQuery = {
    val decoded = decodeAndConvert(readings, channels, conversions)
    decoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        persistBatch(batch, batchId, factDir, statusDir)
      }
      .start()
  }

  /** Backfill/replay: drain all currently-available raw readings from
    * a parquet directory through the SAME decode/convert/persist
    * pipeline as the live stream, then stop (Trigger.AvailableNow —
    * checkpointed micro-batches, so a crashed backfill resumes where
    * it left off and a re-run over an unchanged directory is a no-op).
    * The reference daemon only tails live devices; a 100 TB engine
    * additionally needs deterministic reprocessing of landed raw data
    * with the exact same semantics as the live path — same plan, same
    * sink idempotence, different trigger.
    *
    * Backfill batches land under `batch=bf<id>` partitions: the
    * checkpoint restarts batch ids at 0, so without the distinct
    * prefix a backfill into a factDir already fed by the LIVE stream
    * (whose checkpoint owns `batch=b<id>`) would overwrite committed
    * live partitions. Idempotence holds per checkpoint lineage; the
    * prefix keeps the two lineages disjoint. Do NOT run a backfill
    * concurrently with a live [[Daemon]] on the same factDir: the
    * daemon's in-loop compaction swaps the whole directory and would
    * race the backfill's partition writes — run backfills with the
    * daemon stopped, or into a separate factDir union'd at read time. */
  def runBackfill(
      spark: SparkSession,
      rawDir: String,
      channels: DataFrame,
      conversions: Seq[(Long, String)],
      factDir: String,
      statusDir: String,
      checkpointDir: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val readings = spark.readStream
      .schema(graft.sources.ModbusSimSource.schema)
      .parquet(rawDir)
    val decoded = decodeAndConvert(readings, channels, conversions)
    val q = decoded.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        persistBatch(batch, batchId, factDir, statusDir, batchPrefix = "bf")
      }
      .start()
    q.awaitTermination()
  }

  /** D10 as an independent stream: the reference pulses
    * `("daq-3i", 1)` every PULSE_SECONDS regardless of data flow
    * (daq-3i.py:20,163-171) — so liveness is observable even when all
    * channels are quiet. A rate source drives one upsert per trigger. */
  def startHeartbeat(
      spark: SparkSession,
      statusDir: String,
      periodSec: Int): StreamingQuery = {
    import org.apache.spark.sql.streaming.Trigger
    spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream
      .trigger(Trigger.ProcessingTime(periodSec * 1000L))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          mergeStatus(batch.sparkSession, statusDir, batch.select(
            lit("daq-3i").as("parameter"), lit(1).as("status"),
            max(col("timestamp")).as("ts")))
        ()
      }
      .start()
  }

  /** Crash recovery for [[compactFact]]'s directory swap: a swap that
    * died between its two renames leaves the data under .bak and no
    * factDir — restore it. MUST run before anything else writes into
    * factDir after a crash (e.g. a replayed micro-batch recreating the
    * directory would make the .bak look stale and lose the pre-crash
    * history), which is why [[Daemon]] calls this at startup before
    * starting the stream. */
  def recoverFactDir(spark: SparkSession, factDir: String): Unit = {
    val dst = new org.apache.hadoop.fs.Path(factDir)
    restoreSwap(dst.getFileSystem(spark.sparkContext.hadoopConfiguration), dst)
  }

  /** D9 as a scheduled compaction over the fact sink: keep the newest
    * `history_len` samples per channel (from the channel dim), writing
    * to a swap directory then renaming — idempotent and atomic at the
    * directory level, the scale-out form of the reference's 15 s
    * truncate sweep (daq-3i.py:173-216). */
  def compactFact(
      spark: SparkSession,
      factDir: String,
      channels: DataFrame): Unit = {
    recoverFactDir(spark, factDir)
    // nothing persisted yet (e.g. the loop's compact-before-persist on
    // a quiet stream) -> nothing to retain
    locally {
      val dst = new org.apache.hadoop.fs.Path(factDir)
      if (!dst.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dst)) return
    }
    val fact = readFact(spark, factDir)
    // order ends with `value` so (channel_id, ts) ties resolve
    // deterministically — repeated compaction of the same factDir must
    // keep the same survivors (rows identical in ts AND value are
    // interchangeable, so the remaining arbitrariness is harmless)
    val kept = Maintenance.retainNewestPerKey(
      fact, col("channel_id"), Seq(col("ts"), col("value")),
      channels, col("id"), col("history_len"))
    val tmp = factDir + ".compact"
    // keep the batch-partitioned layout so post-compaction micro-batches
    // (batch=bN) coexist with the compacted base
    kept.write.mode("overwrite").parquet(s"$tmp/batch=compacted")
    // Not concurrency-safe with an ACTIVE ingest stream — run
    // compaction between micro-batches or with the stream stopped.
    val dst = new org.apache.hadoop.fs.Path(factDir)
    swapInto(dst.getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(tmp), dst, "compactFact")
  }

  /** D9 retention over a DATE-PARTITIONED fact table carrying the
    * reference's surrogate id (db_model.py:49-54) — the shape a 100 TB
    * deployment actually lands facts in, where [[compactFact]]'s
    * whole-directory rewrite would re-write 100 TB to delete a few
    * percent. Touches ONLY partitions that contain victims:
    *
    *  - phase 1 (cutoffs): a column-pruned scan of (channel_id, ts, id)
    *    — never `value` — through one window ranks each channel's rows
    *    and keeps the history_len-th newest `(ts, id)` per channel: the
    *    retention cutoff, a CHANNEL-BOUNDED broadcastable table. A full
    *    pass is unavoidable for count-based retention (the per-key
    *    Nth-newest row is a global property), but it is the CHEAP kind:
    *    pruned columns, one shuffle on channel_id;
    *  - phase 2 (victim partitions): a second column-pruned scan
    *    broadcast-joined against the cutoffs — no shuffle — yields the
    *    distinct partition values holding victims (bounded by partition
    *    count, safe to collect);
    *  - phase 3 (the rewrite): reads `fact WHERE partCol IN hot`, which
    *    Catalyst prunes at the SCAN (PartitionFilters — cold partitions
    *    are never opened, spec-asserted), keeps rows lexicographically
    *    >= their channel's cutoff, writes to a swap dir, and installs
    *    each hot partition by directory move. Cold partitions are never
    *    read, written, or moved — their files stay byte-identical.
    *
    * Channels absent from the dim keep history_len 1 (db_model.py:24);
    * channels with fewer rows than their limit have no cutoff row and
    * keep everything (left join, null guard). The unique `id`
    * tiebreaker makes the cutoff exact under duplicate timestamps —
    * same semantics as the reference's id-ordered delete
    * (daq-3i.py:209-214). Returns the rewritten partition values.
    *
    * Each hot partition installs via the same two-rename + .bak
    * protocol as [[compactFact]] (never delete data before its
    * replacement is in place): the old partition moves aside into
    * `<factDir>.pbak/<part>=<v>` — a SIBLING of factDir, so a crash
    * can never leave a directory that partition discovery would read
    * as a bogus partition value — then the compacted partition renames
    * in, then the .bak drops. [[recoverFactPartitions]] is the startup
    * sweep for the crash windows; it runs at the head of every
    * compaction pass too, so an unswept crash self-heals on the next
    * sweep even if the embedding process skips startup recovery. */
  def compactFactPartitioned(
      spark: SparkSession,
      factDir: String,
      channels: DataFrame,
      partCol: String = "day"): Seq[String] = {
    recoverFactPartitions(spark, factDir)
    val fact = spark.read.parquet(factDir)
    val dataCols = fact.columns.filterNot(_ == partCol).map(col).toSeq
    val w = Window.partitionBy(col("channel_id"))
      .orderBy(col("ts").desc, col("id").desc)
    val cutoffs = fact.select(col("channel_id"), col("ts"), col("id"))
      .join(broadcast(channels.select(col("id").as("__ch"), col("history_len"))),
        col("channel_id") === col("__ch"), "left")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === coalesce(col("history_len"), lit(1)))
      .select(col("channel_id").as("__cch"), col("ts").as("__cts"),
        col("id").as("__cid"))
      .persist() // channel-bounded; feeds two broadcasts (phases 2+3)
    // inner join: a channel with no cutoff row keeps everything and
    // contributes no victims by construction
    val hot = fact.select(col("channel_id"), col("ts"), col("id"), col(partCol))
      .join(broadcast(cutoffs), col("channel_id") === col("__cch"))
      .filter(col("ts") < col("__cts") ||
        (col("ts") === col("__cts") && col("id") < col("__cid")))
      .select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    if (hot.isEmpty) { cutoffs.unpersist(); return Nil }
    val keptHot = fact
      .filter(col(partCol).cast("string").isin(hot: _*))
      .join(broadcast(cutoffs), col("channel_id") === col("__cch"), "left")
      .filter(col("__cch").isNull || col("ts") > col("__cts") ||
        (col("ts") === col("__cts") && col("id") >= col("__cid")))
      .select(dataCols :+ col(partCol): _*)
    val tmp = factDir + ".compact"
    keptHot.write.mode("overwrite").partitionBy(partCol).parquet(tmp)
    cutoffs.unpersist()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(factDir).getFileSystem(conf)
    val bakRoot = new org.apache.hadoop.fs.Path(factDir + ".pbak")
    fs.mkdirs(bakRoot)
    hot.foreach { d =>
      val dst = new org.apache.hadoop.fs.Path(s"$factDir/$partCol=$d")
      val src = new org.apache.hadoop.fs.Path(s"$tmp/$partCol=$d")
      val bak = new org.apache.hadoop.fs.Path(bakRoot, s"$partCol=$d")
      // two-rename swap: the original data is ALWAYS recoverable from
      // exactly one of {dst, bak} at every crash point
      fs.delete(bak, true)
      if (fs.exists(dst) && !fs.rename(dst, bak))
        throw new java.io.IOException(s"compactFactPartitioned: cannot move $dst aside")
      // a hot partition whose kept set is empty has no swap dir — the
      // move-aside + bak drop IS its compaction (all rows were victims)
      if (fs.exists(src) && !fs.rename(src, dst)) {
        fs.rename(bak, dst) // roll back
        throw new java.io.IOException(s"compactFactPartitioned: cannot install $src")
      }
      fs.delete(bak, true)
    }
    fs.delete(bakRoot, true)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    hot
  }

  /** Crash recovery for [[compactFactPartitioned]]'s per-partition
    * swaps — the partitioned twin of [[recoverFactDir]]. A swap that
    * died between its two renames leaves the partition's data under
    * `<factDir>.pbak/` and no destination — restore it; a .bak whose
    * destination EXISTS is a completed swap's leftover — drop it. Like
    * recoverFactDir, run this before anything else writes the layout
    * after a crash; every compaction pass also runs it first. */
  def recoverFactPartitions(spark: SparkSession, factDir: String): Unit = {
    val bakRoot = new org.apache.hadoop.fs.Path(factDir + ".pbak")
    val fs = bakRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(bakRoot)) {
      fs.listStatus(bakRoot).foreach { st =>
        val dst = new org.apache.hadoop.fs.Path(factDir, st.getPath.getName)
        if (!fs.exists(dst)) {
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(
              s"recoverFactPartitions: cannot restore ${st.getPath}")
        } else fs.delete(st.getPath, true)
      }
      fs.delete(bakRoot, true)
      ()
    }
  }

  /** D8: flush the status table at startup (daq_status.py:19-33). */
  def flushStatus(spark: SparkSession, statusDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(statusDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
}
