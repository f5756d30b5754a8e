package recordbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload reports after its window: op counts, end-to-end
  * metrics (untraced runs), per-layer metrics (traced runs), and facts
  * about the inputs. */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Seq[Metric],
                         perLayer: Seq[Metric], info: Seq[(String, Json.V)])

/** One closed-loop workload driven by a single client thread. */
trait Workload {
  /** Generates the inputs and builds the standing state; timed as
    * `setup_s` (the median of `setupRounds` rounds). */
  def setup(round: Int): Unit
  def setupRounds: Int = 3
  /** Untimed preparation of check references after the last setup. */
  def prepare(): Unit = ()
  /** Runs before the window: the first execution of a plan pays code
    * generation and JIT costs that later ones do not. Ops run here are
    * checked but not timed into the metrics. */
  def warmup(t: Tracer): Unit
  /** One closed-loop step (an op, or a whole rotation). */
  def step(t: Tracer): Unit
  /** Runs the deferred checks and computes the metrics. */
  def finish(t: Tracer): Outcome
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (`p` in 0..100). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Files and bytes on disk under a set of warehouse table directories. */
object Storage {
  final case class Usage(files: Long, bytes: Long)

  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else Iterator(f)

  /** Data files (not `_`/`.`-prefixed markers and checksums) and all
    * bytes under the warehouse directories of `tables`. */
  def usage(spark: SparkSession, tables: Seq[String]): Usage = {
    val wh = new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
    usage(tables.map(t => new File(wh, t.toLowerCase)))
  }

  def usage(dirs: Seq[File]): Usage = {
    val files = dirs.filter(_.isDirectory).iterator.flatMap(walk).toSeq
    Usage(files.count(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")),
      files.map(_.length).sum)
  }

  /** A BM25 index family: postings plus every side table it may hold. */
  def bm25Family(t: String): Seq[String] =
    Seq("", "_terms", "_stats", "_pos", "_tombstones", "_blkmax", "_blkmeta")
      .map(t + _)
}

/** Op-level bookkeeping shared by the workloads. */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def fail(what: String): Unit = {
    if (failures.size < 20) failures += what
  }

  /** Runs one op; a throw counts it failed. Returns None on a throw. */
  def attempt[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }
  }

  /** Counts an already-attempted op failed when `ok` is false. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; fail(what) }
}
