package lakebench

import org.apache.spark.sql.SparkSession

/** The one session factory every benchmark run uses, timed or traced:
  * the same confs as `graft.Bench` (including `marksuccessfuljobs=false`)
  * on `local[min(nproc, 4)]`, with every scratch location under the
  * run's own root so nothing outside it is written. */
object Session {

  val cores: Int = math.min(Runtime.getRuntime.availableProcessors(), 4)

  def confs(root: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false",
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs" ->
      "false",
    "spark.local.dir" -> s"$root/local",
    "spark.sql.warehouse.dir" -> s"$root/spark-warehouse",
    "spark.hadoop.hadoop.tmp.dir" -> s"$root/tmp",
    "spark.driver.host" -> "localhost")

  def make(root: String): SparkSession = {
    val b = SparkSession.builder().appName("lakebench")
    confs(root).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** What the output records about the configuration it measured. */
  def describe(root: String): Map[String, Any] =
    confs(root).filterNot(_._1.endsWith(".dir"))
      .map { case (k, v) => k -> (v: Any) }.toMap ++ Map(
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jvm" -> System.getProperty("java.version"),
      "cores" -> cores)
}

/** One timed operation as the client saw it. A failed op keeps its
  * error class and counts as over every latency limit. */
final case class OpRec(id: Int, kind: String, startNs: Long, endNs: Long,
                       ok: Boolean, error: String, rows: Long,
                       traced: Boolean) {
  def seconds: Double =
    if (ok) (endNs - startNs) / 1e9 else Double.PositiveInfinity
}

/** Runs ops in a closed loop (one client thread) and keeps their
  * records. Every op goes through [[run]], so none can throw past the
  * accounting. */
final class Ops(trace: Trace) {
  private val recs = scala.collection.mutable.ArrayBuffer.empty[OpRec]
  private var next = 0

  def records: Seq[OpRec] = recs.toSeq

  /** Time `body` (which returns the rows it committed or read) as one
    * op; a throw is recorded as a failure, never as a fast time. */
  def run(kind: String, traced: Boolean)(body: => Long): OpRec = {
    val id = next; next += 1
    val t0 = System.nanoTime()
    val r =
      try {
        val rows =
          if (traced) trace.op(id, s"op.$kind")(body) else body
        OpRec(id, kind, t0, System.nanoTime(), ok = true, "", rows, traced)
      } catch {
        case e: Throwable
            if !e.isInstanceOf[VirtualMachineError] &&
              !e.isInstanceOf[InterruptedException] =>
          OpRec(id, kind, t0, System.nanoTime(), ok = false,
            e.getClass.getName, 0L, traced)
      }
    recs += r
    r
  }

  /** Run `body` untimed through the same wrapper and forget it. */
  def probe(kind: String)(body: => Long): OpRec = {
    val r = run(kind, traced = false)(body)
    recs -= r
    r
  }
}

/** Latency summaries: median and the tail — the highest percentile
  * with at least ten samples beyond it once that reaches p90 (100
  * samples); with fewer samples that percentile falls toward or below
  * the median, so the tail is the maximum (percentile 100). */
object Stats {
  final case class Summary(n: Int, p50: Double, tail: Double,
                           tailPct: Double)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def summary(xs: Seq[Double]): Summary = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Summary(0, 0.0, 0.0, 0.0)
    else if (n < 100) Summary(n, median(s), s.last, 100.0)
    else Summary(n, median(s), s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** Minimal JSON rendering of maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
