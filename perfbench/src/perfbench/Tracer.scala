package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Layer attribution for the traced run.
  *
  * A public call such as `Pipeline.run` is one span; its layers are the
  * sections of that method's body, each starting at a marker line found
  * in the method's source. A sampler thread reads the driver thread's
  * stack every few milliseconds and charges the interval to the section
  * of the outermost `graft.*` frame on it: while the driver waits on a
  * Spark job, that frame is the line whose action launched the job, so
  * driver-side work and the jobs it waits on land in the same layer.
  * Code the benchmark drives directly (lazy operators it then counts)
  * names its layer explicitly instead. */
final class LayerMap(methods: Seq[LayerMap.Method]) {
  private val byFrame = methods.map(m => (m.cls, m.method) -> m).toMap

  /** Markers that were not found in the source; their lines fold into
    * the preceding layer. */
  val missing: Seq[String] = methods.flatMap(_.missing)

  def classify(stack: Array[StackTraceElement]): String = {
    var i = stack.length - 1
    while (i >= 0) {
      val f = stack(i)
      if (f.getClassName.startsWith("graft.")) {
        byFrame.get((f.getClassName, f.getMethodName)) match {
          case Some(m) => return m.layerAt(f.getLineNumber)
          case None =>
        }
      }
      i -= 1
    }
    LayerMap.Other
  }
}

object LayerMap {
  val Other = "other"

  /** `sections`: (layer, first-line marker); the first layer starts at
    * the method's `def` line. */
  final case class Method(cls: String, method: String, starts: Vector[(Int, String)],
                          missing: Seq[String]) {
    def layerAt(line: Int): String =
      starts.takeWhile(_._1 <= line).lastOption.getOrElse(starts.head)._2
  }

  def method(root: String, file: String, cls: String, method: String,
             first: String, sections: Seq[(String, String)]): Method = {
    val lines = Files.readAllLines(Paths.get(root, file)).asScala.toVector
    val defLine = lines.indexWhere(_.contains(s"def $method(")) + 1
    require(defLine > 0, s"no `def $method(` in $file")
    var from = defLine
    val missing = Seq.newBuilder[String]
    val starts = Vector.newBuilder[(Int, String)]
    starts += ((defLine, first))
    sections.foreach { case (layer, marker) =>
      val at = lines.indexWhere(_.contains(marker), from) + 1
      if (at > 0) { starts += ((at, layer)); from = at }
      else missing += s"$layer ($file: $marker)"
    }
    Method(cls, method, starts.result(), missing.result())
  }

  /** The layers of the three public calls the benchmark times. */
  def program(root: String): LayerMap = LayerMap(Seq(
    method(root, "src/main/scala/graft/pipeline/Pipeline.scala",
      "graft.pipeline.Pipeline$", "run", "extract",
      Seq("pipeline.lineage" -> "val written", "pipeline.manifest" -> "val counts")),
    method(root, "src/main/scala/graft/pipeline/StreamingCuration.scala",
      "graft.pipeline.StreamingCuration$", "curateBatch", "curation.scrub",
      Seq("curation.decide" -> "Curation.curateShard(",
        "curation.drift" -> "Lm.driftStats(",
        "curation.accept" -> "val keepers",
        "curation.manifest" -> "written.count()")),
    method(root, "src/main/scala/graft/pipeline/Maintenance.scala",
      "graft.pipeline.Maintenance$", "run", "maintenance.other",
      Seq("maintenance.minhash_index" -> "Fold(\"minhash_index\"",
        "maintenance.mix_stats" -> "Fold(\"mix_stats\"",
        "maintenance.lm_counts" -> "Fold(\"lm_counts\"",
        "maintenance.gram_index" -> "gramTable.foreach",
        "maintenance.corpus" -> "corpusPath.foreach",
        "maintenance.other" -> "ivfIndexPath.foreach",
        "maintenance.probe_model" -> "Fold(\"probe_model\"",
        "maintenance.lm_model" -> "Fold(\"lm_model\""))))

  def apply(methods: Seq[Method]): LayerMap = new LayerMap(methods)
}

/** Samples one thread's stack while `on`, keeping (nanoTime, layer). */
final class Sampler(target: Thread, layers: LayerMap, periodMs: Long) {
  @volatile var on = false
  /** Set by benchmark code around operators it drives directly. */
  @volatile var explicit: String = null
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
  @volatile private var running = true

  private val thread = new Thread(() => {
    while (running) {
      if (on) {
        val e = explicit
        val layer = if (e != null) e else layers.classify(target.getStackTrace)
        buf.add((System.nanoTime(), layer))
      }
      Thread.sleep(periodMs)
    }
  }, "perfbench-sampler")
  thread.setDaemon(true)
  thread.start()

  def take(): Vector[(Long, String)] = {
    val b = Vector.newBuilder[(Long, String)]
    var x = buf.poll()
    while (x != null) { b += x; x = buf.poll() }
    b.result()
  }

  def stop(): Unit = { running = false; thread.join() }
}

object Sampler {
  /** Charge [t0, t1] to layers: each sample owns the time since the one
    * before it (the first one since t0), the tail goes to the last one.
    * Returns layer -> (self ns, first ns, last ns). */
  def charge(t0: Long, t1: Long, samples: Seq[(Long, String)]): Map[String, (Long, Long, Long)] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, Long)]
    var prev = t0
    val in = samples.filter { case (t, _) => t >= t0 && t <= t1 }
    in.zipWithIndex.foreach { case ((t, l), i) =>
      val end = if (i == in.length - 1) t1 else t
      val (s, a, b) = acc.getOrElse(l, (0L, prev, prev))
      acc(l) = (s + (end - prev), math.min(a, prev), math.max(b, end))
      prev = end
    }
    if (in.isEmpty) acc(LayerMap.Other) = (t1 - t0, t0, t1)
    acc.toMap
  }

  /** The layer a job belongs to: the layer most samples inside the job's
    * life name, else the last sample before it started. */
  def jobLayer(startNs: Long, endNs: Long, samples: Seq[(Long, String)]): String = {
    val in = samples.filter { case (t, _) => t >= startNs && t <= endNs }
    if (in.nonEmpty) in.groupBy(_._2).maxBy(_._2.size)._1
    else samples.filter(_._1 <= startNs).lastOption
      .orElse(samples.headOption).map(_._2).getOrElse(LayerMap.Other)
  }
}
