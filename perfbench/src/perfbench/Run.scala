package perfbench

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession

/** One timed call into the program: its wall, and everything the
  * scheduler ran for it. `samples` are the sampler's (nanoTime, layer)
  * readings when the call was traced. */
final case class Op(kind: String, wallS: Double, t0Ns: Long, t1Ns: Long,
                    t0Ms: Long, t1Ms: Long, jobs: Vector[Meter.Job],
                    tasks: Vector[Meter.Task], samples: Vector[(Long, String)],
                    traced: Boolean, error: Option[String]) {
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  /** Monotonic nanoTime of an epoch-millisecond scheduler timestamp. */
  def ns(ms: Long): Long = t0Ns + (ms - t0Ms) * 1000000L
}

/** Shared state of one benchmark process. */
final class Run(var spark: SparkSession, val meter: Meter,
                val sampler: Option[Sampler], val work: String, val data: String,
                val seed: Long, val seconds: Double, val trace: Boolean,
                val cores: Int, val pins: Pins) {
  val ops = Vector.newBuilder[Op]
  private val callsOf = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  /** Trace every call of the run instead of every second one. */
  var traceAll = false
  /** Operations run (warm-up calls and extracted docs included) and those
    * that threw, failed their output check, or soft-failed a doc. */
  var attempted = 0L
  var failed = 0L
  val failures = Vector.newBuilder[String]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  /** Run `body` as one timed call of kind `kind`. A thrown exception
    * fails the operation.
    * In a traced run every second call of each kind is traced; the
    * others measure the tracing overhead. Warm-up calls are checked but
    * not kept. */
  def timed[T](kind: String, keep: Boolean)(body: => T): Option[T] = {
    meter.take(spark.sparkContext)
    sampler.foreach(_.take())
    val traced = trace && keep && (traceAll || callsOf(kind) % 2 == 1)
    if (keep) callsOf(kind) += 1
    sampler.foreach(_.on = traced)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = Try(body)
    val t1 = System.nanoTime()
    val t1Ms = System.currentTimeMillis()
    sampler.foreach(_.on = false)
    val samples = sampler.map(_.take()).getOrElse(Vector.empty)
    val (jobs, tasks) = meter.take(spark.sparkContext)
    val err = r match {
      case Failure(e) => Some(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      case Success(_) => None
    }
    val op = Op(kind, (t1 - t0) / 1e9, t0, t1, t0Ms, t1Ms, jobs, tasks, samples,
      traced, err)
    attempted += 1
    err.foreach(fail)
    System.err.println(f"[perfbench] $kind%-6s ${op.wallS}%7.3f s  cpu ${op.cpuS}%7.3f s  " +
      s"jobs ${jobs.size}  tasks ${tasks.size}${if (keep) "" else "  (warm-up)"}${if (traced) "  traced" else ""}")
    if (keep) ops += op
    r.toOption
  }

  def fail(msg: String): Unit = { failed += 1; failures += msg }

  /** Record a failed output check of an operation that already counted. */
  def check(what: String, cond: Boolean, detail: => String): Boolean = {
    if (!cond) fail(s"$what: $detail")
    cond
  }

  /** Run `body` with the sampler naming `layer` (benchmark-driven code). */
  def layer[T](name: String)(body: => T): T = {
    sampler.foreach(_.explicit = name)
    try body finally sampler.foreach(_.explicit = null)
  }

  def elapsed(startNs: Long): Double = (System.nanoTime() - startNs) / 1e9

  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.delete(f))
      }
  }
}
