package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Doc
import graft.ops.{Decontaminate, Dedup}
import graft.pipeline.{Curation, Maintenance, Pipeline, StreamingCuration}

/** A workload: a closed loop with one client. `prepare` builds the inputs
  * (and serving state) from the seed and is what `setup_s` times, several
  * times per run; `warm` runs untimed calls until the JIT and Spark's
  * caches settle; `measure` issues timed calls until the run's time is
  * spent. Every call's output is checked. */
trait Workload {
  def name: String
  def setupReps: Int
  def prepare(run: Run, rep: Int): Unit
  def warm(run: Run): Unit
  def measure(run: Run, startNs: Long): Unit
  /** Work only a traced run does, after the timed loop. */
  def traceExtra(run: Run): Unit = ()
  /** The kind of timed call `pass_p50_s` is the median of. */
  def primary: String
  /** Docs one primary call processes. */
  def docsPerCall: Long
  /** Run the calls a pin covers on prepared inputs; return the pins. */
  def pinLines(run: Run): Seq[(String, String)]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "extract_batch" => new ExtractBatch
    case "curate_stream" => new CurateStream
    case "corpus_dedup" => new CorpusDedup
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (extract_batch, curate_stream, corpus_dedup)")
  }
  /** Workloads `--pin` covers. */
  val names = Seq("extract_batch", "curate_stream", "corpus_dedup")

  /** Min samples of the primary call a run takes even past `--seconds`. */
  val MinSamples = 3
}

/** `Pipeline.run` on a seeded contract corpus, each pass into a fresh
  * snapshot directory: scan, extract, contracts, lineage, manifest. */
final class ExtractBatch extends Workload {
  val name = "extract_batch"
  val primary = "pass"
  val setupReps = 3
  private val Replicate = 3
  // walls keep falling for ~5 passes in a fresh JVM (JIT, codegen)
  private val WarmPasses = 5
  private var n = 0L
  private var input = ""
  private var seen = Option.empty[String]
  private var pinned = Option.empty[String]
  def docsPerCall: Long = n

  def prepare(run: Run, rep: Int): Unit = {
    val spark = run.spark
    val rows = Inputs.seedRows(spark, run.data)
    input = s"${run.work}/extract/input"
    Inputs.extractDocs(spark, rows, run.seed, Replicate)
      .write.mode("overwrite").parquet(input)
    n = rows.size.toLong * Replicate
    pinned = run.pins.of(name, run.seed).flatMap(_.get("digest"))
  }

  private def pass(run: Run, i: Int, keep: Boolean): Unit = {
    val out = s"${run.work}/extract/out/p$i"
    val spark = run.spark
    import spark.implicits._
    val res = run.timed(primary, keep) {
      Pipeline.run(spark, spark.read.parquet(input).as[Doc], out, s"s$i")
    }
    res.foreach { case (ok, err) =>
      // every doc is an operation; a doc soft-failed to status='error' failed
      run.attempted += ok + err
      if (err > 0) run.fail(s"pass $i: $err docs soft-failed")
      if (run.check(s"pass $i counts", ok + err == n, s"ok $ok + err $err != $n docs")) {
        val d = digest(spark, out)
        run.check(s"pass $i digest", pinned.forall(_ == d) && seen.forall(_ == d),
          s"$d vs pinned ${pinned.getOrElse("-")}, first pass ${seen.getOrElse("-")}")
        if (seen.isEmpty) seen = Some(d)
      }
    }
    run.delete(out)
  }

  /** Digest of the sorted (doc_id, contract_number, contract_type,
    * total_value) rows the pass wrote. */
  private def digest(spark: SparkSession, out: String): String =
    Inputs.digest(spark.read.parquet(s"$out/contracts")
      .select(col("contract.doc_id"), col("contract.contract_number"),
        col("contract.contract_type"), col("contract.total_value").cast("string"))
      .collect().toSeq)

  def warm(run: Run): Unit = (0 until WarmPasses).foreach(i => pass(run, -1 - i, keep = false))

  def measure(run: Run, startNs: Long): Unit = {
    var i = 0
    while (run.elapsed(startNs) < run.seconds || i < Workloads.MinSamples) { pass(run, i, keep = true); i += 1 }
  }

  /** The single-threaded baseline: the same pass at local[1]. */
  override def traceExtra(run: Run): Unit = {
    val walls = Main.withSession(run, 1) {
      (0 until 2).map { i =>
        val spark = run.spark
        import spark.implicits._
        val out = s"${run.work}/extract/out/single$i"
        val t0 = System.nanoTime()
        Pipeline.run(spark, spark.read.parquet(input).as[Doc], out, s"single$i")
        val w = (System.nanoTime() - t0) / 1e9
        run.delete(out)
        w
      }
    }
    run.extra("single_core_pass_s") = walls.min
  }

  def pinLines(run: Run): Seq[(String, String)] = {
    pass(run, 0, keep = false)
    seen.toSeq.map("digest" -> _)
  }
}

/** `StreamingCuration.curateBatch` over equal shards in id order, with a
  * `Maintenance.run` window every few batches, against serving state
  * bootstrapped (scrub required) from the lower hash-ranked ids. */
final class CurateStream extends Workload {
  val name = "curate_stream"
  val primary = "batch"
  val setupReps = 1
  private val NBoot = 4000
  private val ShardSize = 100
  private val BenchEvery = 25
  private val WindowEvery = 4
  private val WarmBatches = 2
  /** Batches the traced companion loop times (see [[traced]]). */
  val TracedBatches = 2
  private var st: Inputs.Stream = _
  private var ixs: Curation.Indexes = _
  private var corpusPath = ""
  private var outDir = ""
  private var bench: DataFrame = _
  private var nextBatch = 0
  private var windows = 0
  private var sinceWindow = 0
  private var lastEpoch = 0L
  private var modelVersions = (0L, 0L)
  private var pins = Map.empty[String, String]
  private val produced = Vector.newBuilder[(String, String)]
  def docsPerCall: Long = ShardSize

  def prepare(run: Run, rep: Int): Unit = {
    val spark = run.spark
    st = Inputs.stream(Inputs.seedRows(spark, run.data), run.seed, NBoot, ShardSize, BenchEvery)
    val root = s"${run.work}/curate"
    run.delete(root)
    val t = "mh_perfbench"
    Seq(t, s"${t}_counts", s"${t}_params", s"gx_$t", s"gx_${t}_params", s"gx_${t}_epochs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    ixs = Curation.Indexes(minhashTable = t, statsPath = s"$root/stats",
      modelPath = s"$root/model", lmPath = s"$root/lm", gramTable = Some(s"gx_$t"))
    corpusPath = s"$root/corpus"
    outDir = s"$root/out"
    StreamingCuration.bootstrap(Inputs.frame(spark, st.boot), ixs, corpusPath,
      requireScrub = true)
    import spark.implicits._
    bench = st.bench.toDF("snippet")
    modelVersions = (graft.io.Models.current(ixs.modelPath), graft.io.Models.current(ixs.lmPath))
    nextBatch = 0; windows = 0; sinceWindow = 0; lastEpoch = 0L
    pins = run.pins.of(name, run.seed).getOrElse(Map.empty)
  }

  private def batch(run: Run, keep: Boolean): Unit = {
    val b = nextBatch
    require(b < st.shards.size, s"shard stream exhausted after $b batches")
    nextBatch += 1
    val spark = run.spark
    val shard = Inputs.frame(spark, st.shards(b))
    val res = run.timed(primary, keep) {
      StreamingCuration.curateBatch(shard, b, ixs, corpusPath, outDir, bench, "snippet")
    }
    if (res.isDefined) {
      val f = spark.read.parquet(f"$outDir/batch=$b%06d/funnel").collect()
        .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      val funnel = f.map { case (d, c) => s"$d=$c" }.mkString(",")
      produced += (s"funnel.$b" -> funnel)
      if (run.check(s"batch $b funnel", f.map(_._2).sum == ShardSize,
          s"$funnel does not add up to $ShardSize docs"))
        run.check(s"batch $b funnel pin", pins.get(s"funnel.$b").forall(_ == funnel),
          s"$funnel vs pinned ${pins(s"funnel.$b")}")
      if (f.exists(_._1 == "keep")) lastEpoch = b + 1L
    }
    sinceWindow += 1
  }

  private def window(run: Run, keep: Boolean): Unit = {
    val w = windows
    windows += 1
    sinceWindow = 0
    val res = run.timed("window", keep) {
      Maintenance.run(run.spark, ixs, corpusPath = Some(corpusPath))
    }
    res.foreach { folds =>
      val got = folds.map(f => s"${f.table}=${f.foldPoint}").mkString(",")
      val key = s"folds.after$nextBatch"
      produced += (key -> got)
      // every epoch table folds up to the last accepted epoch; the model
      // roots keep the bootstrap version (nothing retrains in the loop)
      val want = folds.map { f =>
        val p = f.table match {
          case "probe_model" => modelVersions._1
          case "lm_model" => modelVersions._2
          case "lm_counts" => -1L // accepts never append LM counts
          case _ => lastEpoch
        }
        s"${f.table}=$p"
      }.mkString(",")
      run.check(s"window $w folds", got == want && pins.get(key).forall(_ == got),
        s"$got vs expected $want, pinned ${pins.getOrElse(key, "-")}")
    }
  }

  private def step(run: Run, keep: Boolean): Unit =
    if (sinceWindow == WindowEvery) window(run, keep) else batch(run, keep)

  def warm(run: Run): Unit = while (nextBatch < WarmBatches || sinceWindow != 0) step(run, keep = false)

  def measure(run: Run, startNs: Long): Unit = {
    var k = 0
    while ((run.elapsed(startNs) < run.seconds || k < Workloads.MinSamples) && nextBatch < st.shards.size) {
      if (sinceWindow != WindowEvery) k += 1
      step(run, keep = true)
    }
    // close on a window so every run's loop includes maintenance
    if (sinceWindow > 0) window(run, keep = true)
  }

  /** The short loop a traced corpus_dedup run adds for the curation
    * and maintenance layers: bootstrap, one warm-up batch, then
    * `TracedBatches` traced batches closed by one traced window. Stops
    * early rather than overrun the run's time limit. */
  def traced(run: Run, deadlineS: Double): Unit = {
    prepare(run, 0)
    batch(run, keep = false)
    run.traceAll = true
    while (nextBatch <= TracedBatches && Main.uptimeS() < deadlineS) batch(run, keep = true)
    window(run, keep = true)
  }

  /** Pins cover the batches and window the traced loop runs. */
  def pinLines(run: Run): Seq[(String, String)] = {
    while (nextBatch <= TracedBatches) batch(run, keep = false)
    window(run, keep = false)
    produced.result()
  }
}

/** The whole-corpus training-data tier: near-dup resolution,
  * benchmark decontamination and duplicated-span removal back to back
  * over the seed corpus replicated with seeded affine permutations. */
final class CorpusDedup extends Workload {
  val name = "corpus_dedup"
  val primary = "pass"
  val setupReps = 3
  private val Replicas = 1
  private val WarmPasses = 3
  private var path = ""
  private var n = 0L
  private var seen = Option.empty[String]
  private var pinned = Option.empty[String]
  def docsPerCall: Long = n

  def prepare(run: Run, rep: Int): Unit = {
    val spark = run.spark
    val rows = Inputs.seedRows(spark, run.data)
    path = s"${run.work}/dedup/docs"
    Inputs.dedupDocs(spark, rows, run.seed, Replicas).write.mode("overwrite").parquet(path)
    n = rows.size.toLong * Replicas
    pinned = run.pins.of(name, run.seed).flatMap(_.get("counts"))
  }

  private def pass(run: Run, i: Int, keep: Boolean): Unit = {
    val spark = run.spark
    val res = run.timed(primary, keep) {
      val docs = spark.read.parquet(path)
      val keepers = run.layer("ops.dedup.neardup") {
        Dedup.resolveNearDups(docs, "doc_id", "text", threshold = 0.5)
          .filter(col("is_keeper") === 1).count()
      }
      val contaminated = run.layer("ops.decontaminate.contaminated") {
        Decontaminate.contaminated(docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text",
          docs.filter(col("doc_id") % 10 === 7), "text", n = 13).count()
      }
      val trimmed = run.layer("ops.decontaminate.substr") {
        Decontaminate.removeDupSpans(docs, "doc_id", "text")
          .filter(col("n_removed") > 0).count()
      }
      s"keepers=$keepers,contaminated=$contaminated,trimmed=$trimmed"
    }
    res.foreach { c =>
      run.check(s"pass $i counts", pinned.forall(_ == c) && seen.forall(_ == c),
        s"$c vs pinned ${pinned.getOrElse("-")}, first pass ${seen.getOrElse("-")}")
      if (seen.isEmpty) seen = Some(c)
    }
  }

  def warm(run: Run): Unit = (0 until WarmPasses).foreach(i => pass(run, -1 - i, keep = false))

  def measure(run: Run, startNs: Long): Unit = {
    var i = 0
    while (run.elapsed(startNs) < run.seconds || i < Workloads.MinSamples) { pass(run, i, keep = true); i += 1 }
  }

  /** Candidate-stage counts the timed pass cannot expose without adding
    * work to it (rows the LSH bucket cap dropped, verified pairs over
    * candidate pairs), then the shard-scale form of the same operators:
    * the curate_stream loop, for the curation and maintenance layers. */
  override def traceExtra(run: Run): Unit = {
    val spark = run.spark
    val docs = spark.read.parquet(path)
    val dropped = spark.sparkContext.longAccumulator("perfbench_lsh_dropped")
    val cands = Dedup.minhashCandidates(docs, "doc_id", "text", droppedRows = Some(dropped))
      .localCheckpoint()
    val nCands = cands.count()
    val nVerified = Dedup.jaccardOnCandidates(docs, cands, "doc_id", "text", 0.5).count()
    run.extra("lsh_dropped_rows") = dropped.value.longValue
    run.extra("verified_frac") = if (nCands == 0) 0.0 else nVerified.toDouble / nCands
    run.extra("candidate_pairs") = nCands
    new CurateStream().traced(run, deadlineS = 125)
  }

  def pinLines(run: Run): Seq[(String, String)] = {
    pass(run, 0, keep = false)
    seen.toSeq.map("counts" -> _)
  }
}
