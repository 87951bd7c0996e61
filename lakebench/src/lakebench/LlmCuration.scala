package lakebench

import graft.catalog.TableStore
import graft.ext.{DedupOps, IvfIndex, SimilarityOps, TextIndex, TextOps}
import graft.pipeline.Snapshot
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The LLM data-curation loop. Each write op ingests one seeded shard of
  * documents (with exact and near twins) and their embeddings: exact
  * dedup against the curated corpus, near-duplicate decontamination
  * against it, append of the survivors through SQL, then BM25 and IVF
  * index refreshes. Each write is followed by two read ops: a batch of
  * BM25 searches, which lands right after the commit, then a batch of
  * IVF top-10 searches. */
final class LlmCuration(spark: SparkSession, seed: Long, trace: Trace,
                        ops: Ops) extends Workload(spark, seed, trace, ops) {
  val name = "llm_curation"

  private val BaseDocs = 1500
  private val ShardDocs = 120
  private val Dim = 32
  private val Clusters = 16
  private val NList = 16
  private val NProbe = 4
  private val QueriesPerBatch = 8

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val EmbSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  // --- seeded input generator -------------------------------------------

  /** A fixed vocabulary; documents draw from it with a skew so some
    * words are common, as in real text. */
  private val vocab: IndexedSeq[String] = {
    val v = new java.util.SplittableRandom(7L)
    val syl = IndexedSeq("ka", "lo", "mi", "ne", "su", "ta", "ri", "po",
      "da", "ve", "xo", "bu", "ge", "fa", "zi", "hu")
    (0 until 2000).map(_ =>
      (0 until 2 + v.nextInt(3)).map(_ => syl(v.nextInt(syl.size))).mkString)
      .distinct
  }

  private var r: java.util.SplittableRandom = _
  private var centers: IndexedSeq[Array[Float]] = _
  private var nextId = 1L
  private var hashAcc = 0
  private val base = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
  private val fresh = scala.collection.mutable.ArrayBuffer.empty[String]
  private val shardRows = scala.collection.mutable.ArrayBuffer.empty[Row]
  private val embOf = scala.collection.mutable.HashMap.empty[Long, Array[Float]]
  private var twins = 0L
  private var shardDocs = 0L

  private def word(): String =
    vocab((vocab.size * math.pow(r.nextDouble(), 2)).toInt)

  private def text(): String =
    Seq.fill(30 + r.nextInt(40))(word()).mkString(" ")

  private def vector(): Array[Float] = {
    val c = centers(r.nextInt(Clusters))
    c.map(x => (x + 0.35 * r.nextDouble() - 0.175).toFloat)
  }

  private def record(id: Long, t: String, e: Array[Float]): Row = {
    hashAcc = scala.util.hashing.MurmurHash3.mix(hashAcc,
      scala.util.hashing.MurmurHash3.stringHash(s"$id|$t|${e.mkString(",")}"))
    embOf(id) = e
    Row(id, t)
  }

  /** One shard: mostly fresh documents, plus exact twins of the base
    * corpus, repeats within the shard, exact twins of earlier shards'
    * fresh documents, and one-word-edited near twins of the base. The
    * shares are an unverified assumption (see the README): no committed
    * trace gives them. */
  private def nextShard(): Seq[Row] = {
    val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
    val inShard = scala.collection.mutable.ArrayBuffer.empty[String]
    while (rows.size < ShardDocs) {
      val id = nextId; nextId += 1
      val u = r.nextDouble()
      val (t, e, twin) =
        if (u < 0.10) {
          val (bid, bt) = base(r.nextInt(base.size))
          (bt, embOf(bid), true)
        } else if (u < 0.17 && inShard.nonEmpty) {
          (inShard(r.nextInt(inShard.size)), vector(), true)
        } else if (u < 0.22 && fresh.nonEmpty) {
          (fresh(r.nextInt(fresh.size)), vector(), true)
        } else if (u < 0.30) {
          val (_, bt) = base(r.nextInt(base.size))
          val ws = bt.split(" ")
          ws(r.nextInt(ws.length)) = word()
          (ws.mkString(" "), vector(), true)
        } else {
          val t = text()
          inShard += t
          (t, vector(), false)
        }
      if (twin) twins += 1
      rows += record(id, t, e)
    }
    fresh ++= inShard
    shardDocs += rows.size
    shardRows ++= rows
    rows.toSeq
  }

  private def docsDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, DocSchema)

  private def embDf(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(ids.map(i => Row(i, embOf(i).toSeq)).asJava,
      EmbSchema)

  private def queryTerms(): DataFrame = spark.createDataFrame(
    (1 to QueriesPerBatch).flatMap(q =>
      Seq.fill(2 + r.nextInt(2))(Row(q.toLong, word()))).asJava,
    StructType(Seq(StructField("query_id", LongType),
      StructField("term", StringType))))

  private def queryVectors(n: Int): DataFrame = spark.createDataFrame(
    (1 to n).map(q => Row(-q.toLong, vector().toSeq)).asJava,
    StructType(Seq(StructField("query_id", LongType),
      StructField("q_embedding", ArrayType(FloatType, containsNull = false)))))

  // --- tables -------------------------------------------------------------

  private var wh: String = _
  private def docsPath = s"$wh/cur/docs"
  private def embPath = s"$wh/cur/emb"
  private def textIdx = s"$wh/idx/text"
  private def ivfIdx = s"$wh/idx/ivf"
  def tablePath: String = docsPath

  def setup(warehouse: String): Unit = {
    wh = warehouse
    r = rng(2)
    centers = IndexedSeq.fill(Clusters)(
      Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat))
    nextId = 1L; hashAcc = 0
    base.clear(); fresh.clear(); shardRows.clear(); embOf.clear()
    twins = 0L; shardDocs = 0L
    val baseRows = (1 to BaseDocs).map { _ =>
      val id = nextId; nextId += 1
      val t = text()
      base += id -> t
      record(id, t, vector())
    }
    TableStore.reset(spark)
    Snapshot.createOrReplace(docsDf(baseRows), docsPath, keepVersions = 1)
    Snapshot.createOrReplace(embDf(base.map(_._1).toSeq), embPath,
      keepVersions = 1)
    val store = new TableStore(spark)
    store.registerSnapshot("cur", "docs", docsPath)
    store.registerSnapshot("cur", "emb", embPath)
    Seq("docs", "emb").foreach(t => spark.sql(
      s"ALTER TABLE iceberg.cur.$t SET TBLPROPERTIES(" +
        "'write.merge.mode'='merge-on-read')"))
    TextIndex.build(spark, docsPath, textIdx)
    IvfIndex.build(spark, embPath, ivfIdx, NList)
  }

  // --- ops ------------------------------------------------------------------

  private var lastKept: DataFrame = _

  private def writeOp(shard: Seq[Row]): Long = {
    val survivors = trace.span("ext.dedup") {
      DedupOps.incrementalExactDedup(Snapshot.read(spark, docsPath),
        docsDf(shard)).select("doc_id", "text").localCheckpoint()
    }
    val kept = trace.span("ext.decontaminate") {
      DedupOps.decontaminate(survivors, Snapshot.read(spark, docsPath))
        .localCheckpoint()
    }
    lastKept = kept
    kept.createOrReplaceTempView("lb_kept")
    embDf(shard.map(_.getLong(0))).createOrReplaceTempView("lb_emb")
    trace.span("catalog.insert") {
      spark.sql("INSERT INTO iceberg.cur.docs SELECT doc_id, text FROM lb_kept")
      spark.sql("""INSERT INTO iceberg.cur.emb SELECT e.vec_id, e.embedding
        FROM lb_emb e LEFT SEMI JOIN lb_kept k ON e.vec_id = k.doc_id""")
    }
    trace.span("ext.text_refresh") {
      TextIndex.refresh(spark, docsPath, textIdx)
    }
    trace.span("ext.ivf_refresh") { IvfIndex.refresh(spark, embPath, ivfIdx) }
    shard.size.toLong
  }

  private def textOp(q: DataFrame): Long = trace.span("ext.text_search") {
    TextIndex.search(spark, docsPath, textIdx, q, 10).collect().length
  }.toLong

  private def ivfOp(q: DataFrame): Long = trace.span("ext.ivf_search") {
    IvfIndex.search(spark, embPath, ivfIdx, q, 10, NProbe).collect().length
  }.toLong

  def warmup(): Unit = {
    ops.probe("write")(writeOp(nextShard()))
    ops.probe("read")(textOp(queryTerms()))
    ops.probe("read")(ivfOp(queryVectors(QueriesPerBatch)))
  }

  def step(traced: Boolean): Unit = {
    val shard = nextShard()
    ops.run("write", traced)(writeOp(shard))
    if (traced && lastKept != null) {
      val kept = trace.span("probe.kept_docs") { lastKept.count() }
      sample("ext.dup_drop_ratio", (shard.size - kept).toDouble / shard.size)
    }
    val terms = queryTerms()
    ops.run("read", traced)(textOp(terms))
    val vecs = queryVectors(QueriesPerBatch)
    ops.run("read", traced)(ivfOp(vecs))
  }

  /** Every step runs both searches, so any whole number of steps holds
    * as many BM25 as IVF reads. */
  val cycle = 1

  // --- correctness ----------------------------------------------------------

  def gates(): Seq[Gate] = {
    val curated = Snapshot.read(spark, docsPath)
    val baseDf = docsDf(base.map { case (i, t) => Row(i, t) }.toSeq)
    val union = docsDf(shardRows.toSeq)
    val reference = baseDf.unionByName(DedupOps.decontaminate(
      DedupOps.incrementalExactDedup(baseDf, union).select("doc_id", "text"),
      baseDf))
    val embIds = Snapshot.read(spark, embPath).select(col("vec_id"))
    val terms = queryTerms().localCheckpoint()
    val bm25 = TextIndex.search(spark, docsPath, textIdx, terms, 10)
      .select("query_id", "doc_id", "rank", "score")
    val bm25Ref = TextOps.bm25TopK(curated, terms, 10)
      .select("query_id", "doc_id", "rank", "score")
    val vecs = Snapshot.read(spark, embPath)
      .orderBy(xxhash64(col("vec_id"), lit(seed))).limit(16)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      .localCheckpoint()
    val ivf = IvfIndex.search(spark, embPath, ivfIdx, vecs, 10, NProbe)
    val brute = SimilarityOps.bruteForceTopK(vecs,
      Snapshot.read(spark, embPath), 10)
    val hits = ivf.join(brute, Seq("query_id", "neighbor_id")).count()
    val recall = hits.toDouble / math.max(brute.count(), 1L)
    sample("ext.recall_at_10", recall)
    Seq(
      Check.same("curated corpus equals dedup + decontamination of all " +
        "shards", curated, reference),
      Check.same("embeddings cover exactly the curated docs", embIds,
        curated.select(col("doc_id").as("vec_id"))),
      Check.same("BM25 index search equals bm25TopK on the corpus", bm25,
        bm25Ref),
      Gate("IVF recall@10 against brute force is at least 0.8",
        recall >= 0.8, f"recall $recall%.3f"))
  }

  def shares: Map[String, Double] = Map(
    "duplicate_docs_per_shard" -> twins.toDouble / math.max(shardDocs, 1L),
    "reads_after_commit" -> 0.5)

  def inputHash: Int = hashAcc
}
