package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload round measured. `ingest*` and `serve*` are the record
  * counts and busy seconds of the write-side and read-side calls; `samples`
  * holds per-call timings by name; `layers` the per-layer numbers (traced
  * rounds only).
  */
final case class Round(
    wall: Double,
    ingestRecords: Double, ingestSec: Double,
    serveRecords: Double, serveSec: Double,
    samples: Map[String, Seq[Double]] = Map.empty,
    layers: Map[String, Double] = Map.empty,
    cleanup: () => Unit = () => ())

trait Workload {
  def name: String
  /** Input sizes and parameters, recorded in the result file. */
  def sizes: Map[String, Any]
  /** Write this seed's inputs under `ctx.inputs`; return their fingerprint. */
  def generate(ctx: Ctx): String
  /** Input files, for the traced scan probe and `sources.*_bytes`. */
  def inputPaths(ctx: Ctx): Seq[String]
  /** Expected results derived from the inputs, computed once before timing. */
  def prepare(ctx: Ctx): Unit = ()
  /** One timed round: every call into the program plus its output check. */
  def round(ctx: Ctx): Round
  /** Layer probes run after a traced round, outside its wall; `scanS` is
    * the time the inputs alone took to scan.
    */
  def probe(ctx: Ctx, scanS: Double): Map[String, Double] = Map.empty
}

/** Timed calls made and failed in one benchmark process. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
}

/** One session's view of a benchmark process: directories, tracer and the
  * process's shared [[Tally]]. Everything on disk lives under `work`.
  * `threads` is the session's task threads; inputs are written in as
  * many partitions.
  */
final class Ctx(val spark: SparkSession, val work: File, val seed: Long,
    val threads: Int, val tr: Tracer, val tally: Tally) {
  val inputs = new File(work, "inputs")
  var heapPeakMb = 0.0

  /** A timed call into the program: its result and wall seconds. A call
    * that throws counts as failed and aborts the run.
    */
  def call[T](span: String)(body: => T): (T, Double) = {
    tally.attempted += 1
    val t0 = System.nanoTime()
    val r =
      try tr.span(span)(body)
      catch { case e: Throwable =>
        tally.failed += 1
        tally.failures += s"$span threw $e"
        throw e
      }
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** An output check on the last call; a failed check counts once. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      tally.failed += 1
      tally.failures += s"$what $detail"
    }

  /** A fresh directory under `work` (not created). */
  def scratch(tag: String): String =
    new File(work, s"$tag-${Ctx.scratchSeq.incrementAndGet()}").getAbsolutePath

  /** Live heap after a full collection, kept as the run's peak. Called
    * after each round returns and before its cleanup, so what the round
    * still holds (queues, result files) counts and its locals do not.
    */
  def sampleHeap(): Unit = {
    // the second collection frees what Spark's ContextCleaner released
    // (broadcast and shuffle blocks) once the first made their handles
    // unreachable
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    heapPeakMb = math.max(heapPeakMb, used)
  }

  def bytesUnder(paths: Seq[String]): Long = paths.map { p =>
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(hp).getLength
  }.sum
}

object Ctx {
  private val scratchSeq = new java.util.concurrent.atomic.AtomicInteger
}

object Checks {

  /** Order-independent checksum of a frame: its row count and the exact sum
    * of a 64-bit hash over every column of each row. Equal multisets of
    * rows give equal checksums whatever their order or partitioning.
    */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*)
        .cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
