package lakebench

import graft.catalog.TableStore
import graft.cdc.{Checkpoints, Synth}
import graft.pipeline.{Rollup, Silver, Snapshot, UnpriceableWindowException}
import graft.privacy.Mask
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The reference CDC pipeline as a loop of micro-batches. The events are
  * the repository's own recipe, `graft.cdc.Synth.bronze`, over seeded
  * orders rows shaped like the sf0.1 `orders` fixture; the loop reads
  * them in offset order. Each write op appends the next offset window of
  * every Kafka partition to bronze, reads the checkpoint, runs the
  * reference silver MERGE verbatim, refreshes the silver rollup and
  * advances the checkpoint with the reference checkpoint MERGE. Five
  * read ops then probe the privacy view; the first lands right after the
  * commit and misses the read-plan cache. */
final class CdcIngest(spark: SparkSession, seed: Long, trace: Trace,
                      ops: Ops) extends Workload(spark, seed, trace, ops) {
  val name = "cdc_ingest"

  private val Salt = "lakebench-salt"
  /** Orders generated per run, and the sf0.1 fixture's order density
    * (150 000 orders over 2 405 order dates). */
  private val Orders = 12000
  private val OrdersPerDay = 150000.0 / 2405
  /** Per-partition offsets loaded by set-up, and per write op. Synth
    * numbers offsets within each of 4 partitions, so a batch is the same
    * offset window of every partition and the reference's one
    * `offset > last_offset` filter selects exactly the new events. */
  private val BaseOffsets = 1400
  private val BatchOffsets = 64
  private val CompactAfter = 3
  /** View probes after each commit: the first misses the read-plan
    * cache; five per commit give each merge-on-read state of a
    * compaction cycle five read samples. */
  private val ReadsPerCommit = 5

  private val BronzeSchema = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("kafka_ts", TimestampType),
    StructField("k", StringType), StructField("v", StringType)))

  private val MergeSql = """
    MERGE INTO iceberg.silver.orders_current t
    USING staging_orders s
    ON t.order_id = s.order_id
    WHEN MATCHED AND s.op = 'd' THEN DELETE
    WHEN MATCHED AND s.op <> 'd' THEN UPDATE SET
      user_id = s.user_id,
      amount_eur = s.amount_eur,
      status = s.status,
      last_change_ts = s.last_change_ts
    WHEN NOT MATCHED AND s.op <> 'd' THEN
      INSERT (order_id, user_id, amount_eur, status, last_change_ts)
      VALUES (s.order_id, s.user_id, s.amount_eur, s.status,
              s.last_change_ts)"""

  private def checkpointSql(off: Long): String = s"""
    MERGE INTO iceberg.monitoring.cdc_checkpoints t
    USING (SELECT 'orders' AS pipeline, $off AS last_offset) s
    ON t.pipeline = s.pipeline
    WHEN MATCHED THEN UPDATE SET
      last_offset = s.last_offset,
      updated_at = current_timestamp
    WHEN NOT MATCHED THEN INSERT (pipeline, last_offset, updated_at)
    VALUES (s.pipeline, s.last_offset, current_timestamp)"""

  // --- seeded input generator -------------------------------------------

  private var r: java.util.SplittableRandom = _
  /** Synth's bronze rows in (offset, partition) order. */
  private var log: IndexedSeq[Row] = _
  /** The last offset every partition of [[log]] reaches. */
  private var logEnd = 0L
  private var cursor = 0
  private var offset = 0L
  private var hashAcc = 0
  private val bronzeRows = scala.collection.mutable.ArrayBuffer.empty[Row]
  private val lastOp = scala.collection.mutable.HashMap.empty[Int, String]
  private var lastTouched = Seq.empty[Int]
  private var matched = 0L
  private var events = 0L

  /** Orders rows shaped like the sf0.1 fixture: dense keys from 0, each
    * on a uniformly drawn date at its order density, uniform customer,
    * status and price. */
  private def orders(): org.apache.spark.sql.DataFrame = {
    val days = math.round(Orders / OrdersPerDay).toInt
    val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    val rows = (0 until Orders).map { k =>
      val date = java.time.LocalDate.ofEpochDay(day0 + r.nextInt(days))
      Row(k.toLong, r.nextInt(15000).toLong, Seq("O", "F", "P")(r.nextInt(3)),
        (100000L + r.nextLong(49900000L)) / 100.0,
        java.sql.Timestamp.valueOf(date.atStartOfDay()))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType))))
  }

  private def keyOf(row: Row): Int = row.getString(4).drop(12).dropRight(1).toInt

  private def opOf(row: Row): String = {
    val v = row.getString(5)
    val i = v.indexOf("\"op\":\"") + 6
    v.substring(i, i + 1)
  }

  /** The events of every partition with offsets in (offset, upTo]; keeps
    * the driver's view of which keys silver holds, to count MATCHED
    * events. */
  private def take(upTo: Long): Seq[Row] = {
    if (upTo > logEnd) throw new IllegalStateException(
      s"a partition of the generated event log ends before offset $upTo")
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    while (cursor < log.size && log(cursor).getLong(2) <= upTo) {
      out += log(cursor); cursor += 1
    }
    offset = upTo
    // MATCHED: the key is in silver before the batch is merged
    out.foreach(row => if (lastOp.get(keyOf(row)).exists(_ != "d")) matched += 1)
    events += out.size
    out.sortBy(row => (row.getInt(1), row.getLong(2))).foreach { row =>
      lastOp(keyOf(row)) = opOf(row)
      hashAcc = scala.util.hashing.MurmurHash3.mix(hashAcc,
        scala.util.hashing.MurmurHash3.stringHash(
          s"${row.getInt(1)}|${row.getLong(2)}|${row.getString(5)}"))
    }
    bronzeRows ++= out
    out.toSeq
  }

  private def nextBatch(): Seq[Row] = {
    val batch = take(offset + BatchOffsets)
    lastTouched = batch.map(keyOf).distinct
    batch
  }

  // --- tables -------------------------------------------------------------

  private var wh: String = _
  private def bronzePath = s"$wh/bronze/orders_cdc_raw"
  private def silverPath = s"$wh/silver/orders_current"
  private def checkpointPath = s"$wh/monitoring/cdc_checkpoints"
  private def rollupDir = s"$wh/gold/orders_by_status"
  def tablePath: String = silverPath

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(rows.asJava, BronzeSchema)

  def setup(warehouse: String): Unit = {
    wh = warehouse
    r = rng(1)
    bronzeRows.clear(); lastOp.clear()
    cursor = 0; offset = 0L; hashAcc = 0; matched = 0L; events = 0L
    log = Synth.bronze(orders()).collect().toIndexedSeq
      .sortBy(row => (row.getLong(2), row.getInt(1)))
    logEnd = log.groupBy(_.getInt(1)).values.map(_.map(_.getLong(2)).max).min
    val base = take(BaseOffsets)
    matched = 0L; events = 0L
    TableStore.reset(spark)
    val store = new TableStore(spark)
    val bronze = df(base)
    Snapshot.createOrReplace(bronze, bronzePath, keepVersions = 1)
    // the MERGE semantics from an empty table: a key whose last event is
    // a delete is absent (Silver.rebuild by design keeps its last image)
    Snapshot.createOrReplace(
      Silver.mergeBatch(Silver.rebuild(bronze).limit(0), bronze), silverPath,
      keepVersions = 1)
    Snapshot.createOrReplace(spark.sql(
      s"""SELECT 'orders' AS pipeline, CAST($offset AS BIGINT) AS
          last_offset, current_timestamp() AS updated_at"""),
      checkpointPath, keepVersions = 1)
    store.registerSnapshot("bronze", "orders_cdc_raw", bronzePath)
    store.registerSnapshot("silver", "orders_current", silverPath)
    store.registerSnapshot("monitoring", "cdc_checkpoints", checkpointPath)
    spark.sql("""ALTER TABLE iceberg.bronze.orders_cdc_raw SET TBLPROPERTIES(
      'write.merge.mode'='merge-on-read',
      'write.mor.compact-after-commits'='10')""")
    spark.sql(s"""ALTER TABLE iceberg.silver.orders_current SET TBLPROPERTIES(
      'write.merge.mode'='merge-on-read',
      'write.mor.compact-after-commits'='$CompactAfter')""")
    Rollup.build(spark, silverPath, rollupDir, Seq("status"),
      Seq("amount_eur"))
    spark.sql(s"""CREATE VIEW iceberg.silver.orders_current_priv AS
      SELECT
        order_id,
        sha2(cast(user_id as STRING) || '::$Salt', 256) AS user_key,
        amount_eur,
        status,
        last_change_ts
      FROM iceberg.silver.orders_current""")
  }

  // --- ops ------------------------------------------------------------------

  private def writeOp(batch: Seq[Row]): Long = {
    df(batch).createOrReplaceTempView("lb_bronze_batch")
    trace.span("catalog.insert") {
      spark.sql("INSERT INTO iceberg.bronze.orders_cdc_raw " +
        "SELECT * FROM lb_bronze_batch")
    }
    val lo = trace.span("cdc.last_offset") {
      Checkpoints.lastOffset(
        spark.sql("SELECT * FROM iceberg.monitoring.cdc_checkpoints"),
        "orders")
    }
    new TableStore(spark).stage("staging_orders", Silver.staged(
      spark.sql("SELECT * FROM iceberg.bronze.orders_cdc_raw")
        .filter(col("offset") > lo)))
    trace.span("catalog.merge") { spark.sql(MergeSql) }
    trace.span("pipeline.rollup_refresh") {
      // the documented caller contract: a compaction re-bases the
      // source, and an unpriceable window is rebuilt
      try Rollup.refresh(spark, silverPath, rollupDir)
      catch {
        case _: UnpriceableWindowException =>
          Rollup.build(spark, silverPath, rollupDir, Seq("status"),
            Seq("amount_eur"))
      }
    }
    val hi = batch.map(_.getLong(2)).max
    trace.span("catalog.checkpoint_merge") { spark.sql(checkpointSql(hi)) }
    batch.size.toLong
  }

  private def viewSql(k: Int, range: Boolean): String = {
    val where =
      if (range) s"order_id BETWEEN $k AND ${k + 40}" else s"order_id = $k"
    s"""SELECT order_id, user_key, amount_eur, status
        FROM iceberg.silver.orders_current_priv WHERE $where"""
  }

  private def readOp(sql: String, traced: Boolean): Long = {
    if (traced) trace.span("pipeline.snapshot_read.miss") {
      Snapshot.read(spark, silverPath)
    }
    val q = trace.span("catalog.analyze") { spark.sql(sql) }
    q.collect().length.toLong
  }

  def warmup(): Unit = {
    ops.probe("write")(writeOp(nextBatch()))
    ops.probe("read")(readOp(viewSql(lastTouched.head, range = false),
      traced = false))
  }

  def step(traced: Boolean): Unit = {
    val batch = nextBatch()
    ops.run("write", traced)(writeOp(batch))
    if (traced) {
      val staged = trace.span("probe.lww_survivors") {
        Silver.staged(df(batch)).count()
      }
      sample("cdc.lww_survivor_ratio", staged.toDouble / batch.size)
    }
    (0 until ReadsPerCommit).foreach { j =>
      val k = lastTouched(r.nextInt(lastTouched.size))
      val sql = viewSql(k, range = j == 1)
      val first = j == 0
      ops.run("read", traced)(readOp(sql, traced && first))
      if (traced && first) {
        sample("pipeline.snapshot_read_hit_ms",
          trace.timed("pipeline.snapshot_read.hit")(
            Snapshot.read(spark, silverPath))._2)
        // the read op just ran the view probe's statement: warm the bare
        // statement once too, so both timed probes are warm
        val bareSql = sql.replace("user_key", "user_id")
          .replace("orders_current_priv", "orders_current")
        trace.span("privacy.base_probe.warm")(spark.sql(bareSql).collect())
        val bare = trace.timed("privacy.base_probe")(
          spark.sql(bareSql).collect())._2
        val view = trace.timed("privacy.view_probe")(
          spark.sql(sql).collect())._2
        sample("privacy.mask_ms", view - bare)
      }
    }
  }

  // --- correctness ----------------------------------------------------------

  def gates(): Seq[Gate] = {
    val allBronze = df(bronzeRows.toSeq)
    val maxOffset = bronzeRows.map(_.getLong(2)).max
    val silver = Snapshot.read(spark, silverPath)
    val reference = Silver.mergeBatch(Silver.rebuild(allBronze).limit(0),
      allBronze)
    val cp = spark.sql("SELECT last_offset FROM " +
      "iceberg.monitoring.cdc_checkpoints WHERE pipeline = 'orders'")
      .collect().map(_.getLong(0)).toSeq
    val view = spark.sql(
      "SELECT * FROM iceberg.silver.orders_current_priv")
    val badKeys = view.join(silver, "order_id")
      .filter(col("user_key") =!= Mask.pseudonym(col("user_id"), Salt) ||
        col("user_key") === col("user_id").cast("string"))
      .count()
    Seq(
      Check.same("bronze holds every generated event",
        Snapshot.read(spark, bronzePath), allBronze),
      Check.same("silver equals the merge of all bronze", silver,
        reference),
      Gate("checkpoint equals the max offset", cp == Seq(maxOffset),
        s"got $cp want $maxOffset"),
      Gate("view user_key is the salted pseudonym, no raw user_id",
        badKeys == 0 && !view.columns.contains("user_id") &&
          view.count() == silver.count(),
        s"$badKeys mismatched keys, columns ${view.columns.mkString(",")}"))
  }

  /** A run measures whole compaction cycles, so every run holds reads
    * in each merge-on-read state in equal numbers. */
  val cycle: Int = CompactAfter

  def shares: Map[String, Double] = Map(
    "reads_first_after_commit" -> 1.0 / ReadsPerCommit,
    "matched_events" -> matched.toDouble / math.max(events, 1L))

  def inputHash: Int = hashAcc
}
