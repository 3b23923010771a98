package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, one seed, one run.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --root <checkout> --work <dir> [--commit <id>]
  * Main --pin <first>..<last> --root <checkout> --work <dir>
  * }}}
  * Prints one `PERFBENCH_RECORD {json}` line; `run.py` turns it into the
  * result line. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = a.getOrElse("root", ".")
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors
    a.get("pin") match {
      case Some(range) => pin(root, work, cores, range)
      case None =>
        val rec = bench(root, work, cores, a("workload"), a("seed").toLong,
          a("seconds").toDouble, a("trace") == "1", a.getOrElse("commit", "unknown"))
        println("PERFBENCH_RECORD " + Json(rec))
    }
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Replace the run's session by one at `cores` slots. */
  def withSession[T](run: Run, cores: Int)(body: => T): T = {
    run.spark.stop()
    run.spark = session(run.work, cores)
    run.spark.sparkContext.addSparkListener(run.meter)
    body
  }

  private def bench(root: String, work: String, cores: Int, name: String, seed: Long,
                    seconds: Double, trace: Boolean, commit: String): Map[String, Any] = {
    val hostBefore = Host.cpuTimes()
    val load0 = Host.loadavg()
    val w = Workloads(name)
    val spark = session(work, cores)
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    val layers = LayerMap.program(root)
    val sampler = if (trace) Some(new Sampler(Thread.currentThread(), layers, 5)) else None
    val run = new Run(spark, meter, sampler, work, s"$root/perfbench/data", seed, seconds,
      trace, cores, new Pins(s"$root/perfbench/pins.tsv"))
    val setup = (0 until w.setupReps).map { rep =>
      val t0 = System.nanoTime()
      w.prepare(run, rep)
      val t = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup  $t%7.3f s  (repetition $rep)")
      t
    }
    w.warm(run)
    val startup = uptimeS()
    val t0 = System.nanoTime()
    w.measure(run, t0)
    val measured = run.elapsed(t0)
    if (trace) w.traceExtra(run)
    sampler.foreach(_.stop())
    run.spark.stop()
    val host = Host.stamp(hostBefore, load0, cores, commit)
    Report(w, run, setup, startup, measured, host, layers)
  }

  /** The curate loop's pins cost a bootstrap each: only the range's first seeds. */
  private val CurateSeeds = 5

  /** Regenerate the pins of a seed range for every workload. */
  private def pin(root: String, work: String, cores: Int, range: String): Unit = {
    val Array(lo, hi) = range.split("\\.\\.").map(_.toLong)
    val spark = session(work, cores)
    val out = Paths.get(root, "perfbench", "pins.tsv")
    val keep = if (Files.exists(out)) Files.readAllLines(out).asScala.toVector
      .filter { l =>
        val f = l.split("\t")
        l.startsWith("#") || f.length < 2 || f(1).toLong < lo || f(1).toLong > hi
      } else Vector("# workload\tseed\tkey\tvalue (regenerate: python3 perfbench/run.py --pin <lo>..<hi>)")
    val lines = for (seed <- lo to hi; name <- Workloads.names
                     if name != "curate_stream" || seed < lo + CurateSeeds) yield {
      val w = Workloads(name)
      val run = new Run(spark, new Meter, None, work, s"$root/perfbench/data", seed, 0,
        trace = false, cores, new Pins(""))
      w.prepare(run, 0)
      val kv = w.pinLines(run)
      require(run.failed == 0, s"$name seed $seed failed: ${run.failures.result().mkString("; ")}")
      System.err.println(s"[pin] $name seed $seed: ${kv.size} pins")
      kv.map { case (k, v) => s"$name\t$seed\t$k\t$v" }
    }
    Files.write(out, (keep ++ lines.flatten).asJava)
    spark.stop()
  }
}

/** Host facts that tell a steal-contaminated window from a regression. */
object Host {
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuTimes(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").drop(1)
      .map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def loadavg(): String = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def stamp(before: (Long, Long), load0: String, cores: Int, commit: String): Map[String, Any] = {
    val after = cpuTimes()
    val total = after._2 - before._2
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(s => s.startsWith("-Xm") || s.contains("Use"))
    Map("cores" -> cores, "commit" -> commit,
      "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
      "steal_jiffies" -> (after._1 - before._1), "total_jiffies" -> total,
      "steal_frac" -> (if (total <= 0) 0.0 else (after._1 - before._1).toDouble / total),
      "jvm_flags" -> jvm.mkString(" "),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString(","))
  }
}

/** Minimal JSON rendering of maps, sequences, numbers and strings. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => quote(s.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }
}
