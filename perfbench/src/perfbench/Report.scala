package perfbench

/** Turns one run's timed calls into the record `run.py` prints: the
  * end-to-end metrics (untraced run), the per-layer metrics (traced run),
  * the headline metrics with sample counts, host stamps and failures. */
object Report {

  /** Layers whose per-call breakdown the traced run reports. */
  val CallLayers: Seq[String] = Seq("extract", "pipeline.lineage", "pipeline.manifest",
    "curation.scrub", "curation.decide", "curation.drift", "curation.accept",
    "curation.manifest", "ops.dedup.neardup", "ops.decontaminate.contaminated",
    "ops.decontaminate.substr")
  val Tables: Seq[String] = Seq("minhash_index", "mix_stats", "lm_counts", "gram_index",
    "corpus", "probe_model", "lm_model")
  private val MB = 1024.0 * 1024.0

  private def m(value: Double, unit: String): Map[String, Any] = Map("value" -> value, "unit" -> unit)

  private def timing(xs: Seq[Double], unit: String): Map[String, Any] =
    if (xs.isEmpty) Map("value" -> 0.0, "unit" -> unit, "samples" -> 0)
    else {
      val (q1, q3) = Stats.quartiles(xs)
      Map("value" -> Stats.median(xs), "unit" -> unit, "samples" -> xs.size,
        "q1" -> q1, "q3" -> q3, "min" -> xs.min, "max" -> xs.max)
    }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def apply(w: Workload, run: Run, setup: Seq[Double], startup: Double, measured: Double,
            host: Map[String, Any], layers: LayerMap): Map[String, Any] = {
    val ops = run.ops.result()
    val prim = ops.filter(_.kind == w.primary)
    val wins = ops.filter(_.kind == "window")
    val walls = prim.map(_.wallS)
    val cpus = prim.map(_.cpuS)
    val rss = Host.peakRssMb()
    val failedFrac = run.failed.toDouble / math.max(1L, run.attempted)

    val e2e = Map(
      "setup_s" -> m(med(setup), "s"),
      "pass_p50_s" -> m(med(walls), "s"),
      "executor_cpu_s" -> m(med(cpus), "s"),
      "peak_rss_mb" -> m(rss, "MB"))

    val named = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> timing(setup, "s"))
    if (w.name == "extract_batch")
      named("extract_docs_per_s") = timing(walls.map(w.docsPerCall / _), "docs/s")
    if (w.name == "corpus_dedup") named("corpus_dedup_s") = timing(walls, "s")
    // curate_stream calls: the workload's own, or a traced corpus_dedup
    // run's companion loop
    val batches = ops.filter(_.kind == "batch").map(_.wallS)
    if (batches.nonEmpty) named("curate_batch_p50_s") = timing(batches, "s")
    if (wins.nonEmpty) named("maintenance_p50_s") = timing(wins.map(_.wallS), "s")
    named("executor_cpu_s") = timing(cpus, "s")
    named("peak_rss_mb") = Map("value" -> rss, "unit" -> "MB", "samples" -> 1)
    named("failed_frac") = Map("value" -> failedFrac, "unit" -> "ratio",
      "samples" -> run.attempted)

    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> run.seed, "trace" -> run.trace,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "pinned" -> run.pins.of(w.name, run.seed).isDefined,
      "failures" -> run.failures.result().take(20),
      "named" -> named, "startup_s" -> startup, "measured_s" -> measured,
      "calls" -> ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "wall_spread" -> Stats.spread(if (walls.isEmpty) Seq(0.0) else walls),
      "cpu_spread" -> Stats.spread(if (cpus.isEmpty) Seq(0.0) else cpus),
      "host" -> host, "extra" -> run.extra.toMap)
    if (layers.missing.nonEmpty) record("layer_markers_missing") = layers.missing
    if (run.trace) record("layers") = perLayer(run, ops, prim, wins, host)
    else record("metrics") = e2e
    record.toMap
  }

  /** Per-layer metrics: medians over the traced calls of the layer's kind. */
  private def perLayer(run: Run, ops: Vector[Op], prim: Vector[Op],
                       wins: Vector[Op], host: Map[String, Any]): Map[String, Any] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    def put(k: String, v: Double, unit: String): Unit = out(k) = m(v, unit)

    final case class LayerCall(self: Double, wall: Double, cpu: Double, tasks: Int,
                               shuffle: Double, spill: Double, skew: Double)
    /** The traced call split into layers. */
    def split(op: Op): Map[String, LayerCall] = {
      val charged = Sampler.charge(op.t0Ns, op.t1Ns, op.samples)
      val jobLayer = op.jobs.map(j => j.id ->
        Sampler.jobLayer(op.ns(j.startMs), op.ns(j.endMs), op.samples)).toMap
      val tasksBy = op.tasks.groupBy(t => jobLayer.getOrElse(t.job, LayerMap.Other))
      (charged.keySet ++ tasksBy.keySet).map { l =>
        val (self, a, b) = charged.getOrElse(l, (0L, 0L, 0L))
        val ts = tasksBy.getOrElse(l, Vector.empty)
        l -> LayerCall(self / 1e9, (b - a) / 1e9, ts.map(_.cpuNs).sum / 1e9, ts.size,
          ts.map(_.shuffleBytes).sum / MB, ts.map(_.spillBytes).sum / MB, Meter.skew(ts))
      }.toMap
    }
    val traced = ops.filter(_.traced)
    val splits = traced.map(split)
    val byKind = traced.map(_.kind).zip(splits).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val tWins = byKind.getOrElse("window", Vector.empty)

    CallLayers.foreach { l =>
      // the calls of the kind the layer belongs to (0 where it is absent)
      val calls = byKind.values.find(_.exists(_.contains(l))).getOrElse(Vector.empty).map(_.get(l))
      def q(f: LayerCall => Double): Double = med(calls.map(_.map(f).getOrElse(0.0)))
      put(s"$l.wall_s", q(_.wall), "s")
      put(s"$l.self_s", q(_.self), "s")
      put(s"$l.cpu_s", q(_.cpu), "s")
      put(s"$l.tasks", q(_.tasks.toDouble), "count")
      put(s"$l.shuffle_mb", q(_.shuffle), "MB")
      put(s"$l.spill_mb", q(_.spill), "MB")
      put(s"$l.task_skew", q(_.skew), "ratio")
    }
    Tables.foreach { t =>
      put(s"maintenance.$t.wall_s",
        med(tWins.map(_.get(s"maintenance.$t").map(_.self).getOrElse(0.0))), "s")
    }
    put("maintenance.wall_s", med(wins.filter(_.traced).map(_.wallS)), "s")
    // the part of a traced call no named layer claims, and the share the
    // named layers cover (the breakdown is complete when this is ~1)
    val named = CallLayers.toSet ++ Tables.map(t => s"maintenance.$t")
    put("other.self_s", med(splits.map(_.get(LayerMap.Other).map(_.self).getOrElse(0.0))), "s")
    put("trace.coverage", med(traced.zip(splits).map { case (op, s) =>
      s.filter(kv => named(kv._1)).values.map(_.self).sum / op.wallS }), "ratio")
    val untraced = prim.filterNot(_.traced).map(_.wallS)
    val tracedW = prim.filter(_.traced).map(_.wallS)
    put("trace.overhead_frac",
      if (untraced.isEmpty || tracedW.isEmpty) 0.0 else med(tracedW) / med(untraced) - 1, "ratio")
    put("driver.idle_s", med(prim.map(op => Meter.idleMs(op.t0Ms, op.t1Ms, op.tasks) / 1e3)), "s")
    put("jobs", med(prim.map(_.jobs.size.toDouble)), "count")
    put("pass.wall_spread", Stats.spread(if (prim.isEmpty) Seq(0.0) else prim.map(_.wallS)), "ratio")
    put("pass.cpu_spread", Stats.spread(if (prim.isEmpty) Seq(0.0) else prim.map(_.cpuS)), "ratio")
    put("host.steal_frac", host("steal_frac").asInstanceOf[Double], "ratio")
    val single = run.extra.get("single_core_pass_s").map(_.asInstanceOf[Double])
    put("extract.scaling_eff", single.map(s => s / (run.cores * med(prim.map(_.wallS)))).getOrElse(0.0), "ratio")
    put("ops.dedup.lsh_dropped_rows",
      run.extra.get("lsh_dropped_rows").map(_.asInstanceOf[Long].toDouble).getOrElse(0.0), "count")
    put("ops.dedup.verified_frac",
      run.extra.get("verified_frac").map(_.asInstanceOf[Double]).getOrElse(0.0), "ratio")
    out.toMap
  }
}
