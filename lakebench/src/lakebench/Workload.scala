package lakebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Gate(name: String, ok: Boolean, detail: String)

/** One closed-loop workload. [[Main]]'s run loop calls [[setup]] on a fresh
  * warehouse (several times, for the set-up metric), [[warmup]] once
  * (one untimed op of each type), then [[step]] until the run's time is
  * up and the steps taken are a whole number of [[cycle]]s, then
  * [[gates]]. Inputs come only from the seed. */
abstract class Workload(val spark: SparkSession, val seed: Long,
                        val trace: Trace, val ops: Ops) {
  def name: String

  /** Snapshot dir the write ops commit to: the pipeline metrics count
    * its files and versions and watch it for auto-compaction. */
  def tablePath: String

  def setup(warehouse: String): Unit
  def warmup(): Unit

  /** Steps after which the tables are back in the same kind of state;
    * the loop ends on a multiple of it, so the mix of states a run's ops
    * see does not depend on how many steps fit in the time. */
  def cycle: Int

  /** The next op or ops of the loop, one write op first;
    * `traced` ops record layer spans. */
  def step(traced: Boolean): Unit

  def gates(): Seq[Gate]

  /** Input properties the workload was built to have, as measured. */
  def shares: Map[String, Double]

  /** Hash of every input generated so far (32 bits, exact in JSON). */
  def inputHash: Int

  /** Layer samples taken by probes outside the timed ops. */
  val samples =
    scala.collection.mutable.Map.empty[String,
      scala.collection.mutable.ArrayBuffer[Double]]

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric,
      scala.collection.mutable.ArrayBuffer.empty[Double]) += v

  protected def rng(salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + salt)
}

object Check {
  /** Order-free content fingerprint: row count and two independent
    * 32-bit row-hash sums. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val r = df.select(hash(cols: _*).cast("long").as("h1"),
        pmod(xxhash64(cols: _*), lit(2147483647L)).as("h2"))
      .agg(count(lit(1)), coalesce(sum("h1"), lit(0L)),
        coalesce(sum("h2"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def same(name: String, got: DataFrame, want: DataFrame): Gate = {
    val (g, w) = (fingerprint(got), fingerprint(want))
    Gate(name, g == w, s"got $g want $w")
  }

  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }
}
