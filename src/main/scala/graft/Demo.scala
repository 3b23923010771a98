package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** End-to-end driver for the extraction engine: synthesize the interleaved
  * corpus from a sf dir, run the full pipeline (boilerplate strip -> block
  * parse -> lineage -> manifest), print a summary. Usage:
  *   runMain graft.Demo <sfDir> <outDir>
  */
object Demo {

  /** Deletion guard: wipe `outDir` ONLY when it is absent, empty, or was
    * written by a pipeline run (it carries a `_manifest_*.json` marker) —
    * a mistyped path argument must not walk-and-delete an arbitrary
    * tree. Refusal is a loud require, not a silent skip. */
  private[graft] def cleanOwnedOutDir(outDir: String): Unit = {
    val outPath = java.nio.file.Paths.get(outDir)
    if (java.nio.file.Files.exists(outPath)) {
      val entries = {
        val s = java.nio.file.Files.list(outPath)
        try s.iterator().asScala.toList finally s.close()
      }
      val looksOwned = entries.isEmpty ||
        entries.exists(_.getFileName.toString.matches("_manifest_.*\\.json"))
      require(looksOwned,
        s"refusing to delete $outDir: it is non-empty and carries no " +
          "_manifest_*.json marker, so it was not written by this demo — " +
          "pass a fresh or demo-owned output dir")
      graft.io.EpochStore.deleteTree(outPath)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft-demo"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // start from a clean output dir: the demo re-runs into the same path,
    // and a stale pre-partitioned layout must not mix with the snapshot
    // partitions (dynamic overwrite only replaces the partitions it writes)
    cleanOwnedOutDir(outDir)
    val docs = gen.Corpus.corpus(spark, sfDir)
    val (ok, err) = pipeline.Pipeline.run(spark, docs, outDir, "demo-snap")
    println(s"[demo] docs ok=$ok err=$err out=$outDir")
    val contracts = spark.read.parquet(s"$outDir/contracts")
    contracts.select("contract.doc_id", "contract.contract_number",
        "contract.contract_type", "contract.currency",
        "contract.effective_date", "contract.client_name")
      .show(5, truncate = false)
    contracts.groupBy("contract.contract_type").count().orderBy("contract_type").show()

    // validation over the extracted contracts (schema.py business rules)
    import spark.implicits._
    val validate = org.apache.spark.sql.functions.udf(
      (title: String, num: String, cur: String, value: java.lang.Double,
       eff: String, exp: String, client: String, vendor: String) =>
        extract.Extract.validate(graft.model.ContractRow(
          "", title, num, cur, Option(value).map(_.doubleValue), eff, exp,
          client, vendor, "MSA", Seq.empty, Seq.empty, 0, Seq.empty, 0, 0.0)).size)
    val nInvalid = contracts.select(validate(
        $"contract.title", $"contract.contract_number", $"contract.currency",
        $"contract.total_value", $"contract.effective_date",
        $"contract.expiration_date", $"contract.client_name",
        $"contract.vendor_name").as("n_errors"))
      .filter($"n_errors" > 0).count()
    println(s"[demo] contracts with validation errors: $nInvalid")

    // training-pipeline ops over the driver documents table
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    println(s"[demo] exact-dedup groups: ${ops.Dedup.exact(raw, "doc_id", "text").count()}")
    val dropAcc = spark.sparkContext.longAccumulator("graft.lsh_dropped")
    val nCand = ops.Dedup.minhashCandidates(raw, "doc_id", "text",
      droppedRows = Some(dropAcc)).count()
    println(s"[demo] minhash-LSH candidate pairs: $nCand (bucket-cap dropped rows: ${dropAcc.value})")
    val ccDropAcc = spark.sparkContext.longAccumulator("graft.neardup_dropped")
    val components = ops.Dedup.resolveNearDups(raw, "doc_id", "text",
      threshold = 0.5, droppedRows = Some(ccDropAcc))
    println(s"[demo] near-dup components: keepers=${components.filter($"is_keeper" === 1).count()} " +
      s"of ${components.count()} docs (bucket-cap dropped rows: ${ccDropAcc.value})")
    // layout pass: Marker-style columns/blocks/kinds over derived pages
    val blocks = SparkEntry.queries("x17_layout_typed")(spark, sfDir)
    val kindCounts = blocks.groupBy("kind").count().orderBy("kind")
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"[demo] layout blocks: $kindCounts")
    // eval-set hygiene: 13-gram decontamination over a corpus/bench split
    val nContaminated = SparkEntry.queries("x18_decontaminate_grams")(spark, sfDir).count()
    println(s"[demo] decontamination: $nContaminated corpus docs share a 13-gram with the bench split")
    // graded overlap: docs a tau=0.05 ratio threshold would drop
    val overTau = SparkEntry.queries("x27_contamination_score")(spark, sfDir)
      .filter($"overlap_ratio" > 0.05).count()
    println(s"[demo] contamination score: $overTau docs over ratio 0.05")
    // ExactSubstr-style duplicated-span removal: shared 13-gram runs
    // survive only in the min-id doc
    val sub = SparkEntry.queries("x39_substr_dedup")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_removed").as("w"),
        org.apache.spark.sql.functions.expr(
          "sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END)").as("d")).head()
    println(s"[demo] substring dedup: ${sub.getLong(0)} duplicated words " +
      s"cut from ${sub.getLong(1)} docs")
    // per-language bigram LM typicality (gibberish signal)
    val lm = SparkEntry.queries("t14_lm_score")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.min("lm_score"),
        org.apache.spark.sql.functions.max("lm_score")).head()
    println(f"[demo] bigram LM scores: ${lm.getDouble(0)}%.3f..${lm.getDouble(1)}%.3f " +
      "(per-language char model, trained in-engine)")
    // the retrain trigger: serve the model, then watch a half-junk shard
    // push each language's below-cut fraction over the alarm line
    val lmPath = s"$outDir/lm_demo"
    val lmDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id".cast("long").as("doc_id"), $"lang", $"text")
    ops.Lm.writeModel(lmDocs, lmPath)
    val junkShard = lmDocs.limit(20).unionByName(lmDocs.limit(20)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"lang",
        org.apache.spark.sql.functions.lit(
          "xqzj wvkx qjzx vbdg kxqz jxqv zzqk xjvq").as("text")))
    val drift = ops.Lm.driftStats(junkShard, ops.Lm.openModel(spark, lmPath))
      .orderBy("lang").collect()
      .map(r => f"${r.getString(0)}=${r.getAs[Double]("below_frac")}%.2f" +
        (if (r.getAs[Boolean]("retrain")) "!" else "")).mkString(" ")
    println(s"[demo] LM drift on a half-junk shard: below-cut frac $drift (!=retrain)")
    // the alarm's ACTION: refit on the grown corpus (which now carries the
    // junk register) and republish through the crash-safe version pointer
    // — the same shard stops alarming against the refit half-min cuts
    val vNew = ops.Lm.retrainModel(lmDocs.unionByName(junkShard), lmPath)
    val after = ops.Lm.driftStats(junkShard, ops.Lm.openModel(spark, lmPath))
      .agg(org.apache.spark.sql.functions.sum($"n_below"),
        org.apache.spark.sql.functions.max($"retrain".cast("int"))).head()
    println(s"[demo] LM retrain: republished v$vNew " +
      s"(${io.Models.currentDir(lmPath)}), same shard now n_below=" +
      s"${after.getLong(0)} retrain_fired=${after.getInt(1) == 1}")
    // multimodal: real container decodes (PNG stills, multi-frame GIFs, WAV audio)
    val frames = SparkEntry.queries("x12_media_frames")(spark, sfDir)
    val multi = frames.filter($"n_frames" > 1).select("media_ref").distinct().count()
    val still = frames.filter($"n_frames" === 1).select("media_ref").distinct().count()
    println(s"[demo] media frames: $still stills, $multi multi-frame clips decoded")
    val audioRows = SparkEntry.queries("x26_audio_features")(spark, sfDir).count()
    println(s"[demo] audio: $audioRows windowed RMS/ZCR feature rows from decoded WAV clips")
    // incremental ingestion: 80% of the corpus pre-indexed, 20% arriving —
    // candidates come from the shard-vs-index probe, corpus never reprocessed
    val incAcc = spark.sparkContext.longAccumulator("graft.inc_dropped")
    val incTable = "graft_demo_mh_idx"
    ops.Dedup.writeMinhashIndex(raw.filter($"doc_id" % 5 =!= 0), "doc_id", "text", incTable)
    val nInc = ops.Dedup.incrementalCandidates(raw.filter($"doc_id" % 5 === 0),
      "doc_id", "text", ops.Dedup.openMinhashIndex(spark, incTable),
      droppedRows = Some(incAcc)).count()
    println(s"[demo] incremental dedup: $nInc shard-touching candidate pairs " +
      s"vs the written index (combined-cap dropped rows: ${incAcc.value})")
    // index maintenance: accept the shard as its own epoch, then fold the
    // accumulated epochs into one baseline (count rows collapse to one per
    // key; the bucketed no-shuffle probe layout survives the swap)
    ops.Dedup.appendToMinhashIndex(raw.filter($"doc_id" % 5 === 0), "doc_id", "text", incTable)
    val countRowsBefore = spark.table(s"${incTable}_counts").count()
    val baselineEpoch = ops.Dedup.compactMinhashIndex(spark, incTable)
    println(s"[demo] index compaction: epochs folded to baseline $baselineEpoch, " +
      s"count rows $countRowsBefore -> ${spark.table(s"${incTable}_counts").count()}")
    // served ANN maintenance: same epoch-fold story for the vector index —
    // shard vectors land as epoch partitions under frozen centroids, then
    // compaction rewrites each cell to one baseline partition (answers
    // byte-identical, probes stay partition-pruned)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val annDir = s"$outDir/ann_ivf"
    val annIdx = ops.Ann.Ivf.buildIndex(emb.filter($"vec_id" % 5 =!= 0 && $"vec_id" =!= 0),
      "vec_id", "embedding", nlist = 8, sampleN = 400)
    ops.Ann.Ivf.writeIndex(annIdx, annDir)
    ops.Ann.Ivf.appendToIndex(spark, annDir,
      emb.filter($"vec_id" % 5 === 0 && $"vec_id" =!= 0), "embedding", epoch = 1L)
    val annBaseline = ops.Ann.Ivf.compactIndex(spark, annDir)
    val qv = emb.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0).toArray
    val topIds = ops.Ann.Ivf.topKIndexed(
        ops.Ann.Ivf.openIndex(spark, annDir, "vec_id", "embedding"), qv, 5, nProbe = 2)
      .collect().map(_.getLong(0)).mkString(" ")
    println(s"[demo] ANN index compaction: epochs folded to baseline $annBaseline; " +
      s"top-5 for vec 0: $topIds")
    // domain-level curation rollup: wholesale keep/drop per source
    val domains = SparkEntry.queries("t10_domain_stats")(spark, sfDir)
      .groupBy("decision").count().orderBy("decision")
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"[demo] domain curation: $domains")
    // the composed keep/drop endpoint + its per-stage funnel
    val funnel = SparkEntry.queries("a06_filter_funnel")(spark, sfDir)
      .collect().map(r => s"${r.getString(0)}=${r.getInt(1)}").mkString(" ")
    println(s"[demo] filter funnel: $funnel")
    // domain-mixture sampling -> sharded training order
    val mix = SparkEntry.queries("d14_domain_mix")(spark, sfDir)
      .groupBy("n_copies").count().orderBy("n_copies")
      .collect().map(r => s"${r.getInt(0)}x=${r.getLong(1)}").mkString(" ")
    val shards = SparkEntry.queries("t11_training_shards")(spark, sfDir)
      .groupBy("shard").count().orderBy("shard")
      .collect().map(_.getLong(1))
    println(s"[demo] domain mix copies: $mix -> ${shards.length} shards " +
      s"(rows min=${shards.min} max=${shards.max})")
    // concat-and-chunk: 512-token training sequences per shard
    val seqs = SparkEntry.queries("t12_packed_batches")(spark, sfDir)
      .groupBy("shard").agg(org.apache.spark.sql.functions.max("seq_id").as("s"))
      .collect().map(_.getLong(1) + 1)
    println(s"[demo] packed batches: ${seqs.sum} sequences of 512 tokens " +
      s"across ${seqs.length} shards")
    // the mix served from maintained stats: baseline + ingested epoch,
    // folded by compaction — copy counts identical to the corpus scan
    val mixDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    val statsPath = new java.io.File(outDir, "mix_stats").getAbsolutePath
    ops.Mix.writeStats(mixDocs.filter(
      org.apache.spark.sql.functions.col("doc_id") % 4 =!= 3), statsPath)
    ops.Mix.appendStats(mixDocs.filter(
      org.apache.spark.sql.functions.col("doc_id") % 4 === 3), statsPath, epoch = 1L)
    ops.Mix.compactStats(spark, statsPath)
    val servedCopies = ops.Mix.assign(mixDocs,
        ops.Mix.rates(ops.Mix.openStats(spark, statsPath)))
      .agg(org.apache.spark.sql.functions.sum("n_copies")).head().getLong(0)
    val scanCopies = SparkEntry.queries("d14_domain_mix")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n_copies")).head().getLong(0)
    println(s"[demo] served mix (stats baseline + epoch, compacted): " +
      s"$servedCopies copies == corpus-scan $scanCopies")
    // in-engine classifier training: the linear quality probe vs its gate
    val probe = SparkEntry.queries("t13_quality_probe")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.expr(
          "sum(CASE WHEN label = pred THEN 1 ELSE 0 END)").as("agree"),
        org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.min("score"),
        org.apache.spark.sql.functions.max("score")).head()
    println(s"[demo] quality probe (24 GD iters in-engine): " +
      s"${probe.getLong(0)}/${probe.getLong(1)} label agreement, " +
      f"scores ${probe.getDouble(2)}%.3f..${probe.getDouble(3)}%.3f")
    // the probe's retrain trigger: serve the model with its training
    // keep rate, then watch a junk flood collapse the shard keep rate
    val pmPath = s"$outDir/probe_demo"
    val pmDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    ops.Probe.writeModel(pmDocs, pmPath)
    val pm = ops.Probe.openModel(spark, pmPath)
    // ids disjoint from the corpus doc_id space — the grown corpus below
    // must respect the pipeline's doc-id uniqueness contract
    val junkFlood = spark.range(920001, 920041)
      .selectExpr("id AS doc_id", "'tiny junk' AS text")
    val pq = ops.Probe.driftStats(pmDocs, pm).head()
    val pa = ops.Probe.driftStats(junkFlood, pm).head()
    println(f"[demo] probe drift: corpus keep ${pq.getDouble(2)}%.3f vs " +
      f"train ${pq.getDouble(3)}%.3f (quiet); junk flood keep " +
      f"${pa.getDouble(2)}%.3f -> retrain=${pa.getBoolean(5)}")
    // the alarm's ACTION (x46's loop): refit the GD chain on the grown
    // corpus, republish through the versioned pointer, and read the
    // representative stream quiet under the refit training rate
    val pGrown = pmDocs.select($"doc_id".cast("long").as("doc_id"), $"text")
      .unionByName(junkFlood)
    val pV = ops.Probe.retrainModel(pGrown, pmPath)
    val pAfter = ops.Probe
      .driftStats(pGrown, ops.Probe.openModel(spark, pmPath)).head()
    println(f"[demo] probe retrain: republished v$pV " +
      f"(${io.Models.currentDir(pmPath)}), grown stream keep " +
      f"${pAfter.getDouble(2)}%.3f vs refit train " +
      f"${pAfter.getDouble(3)}%.3f -> retrain_fired=${pAfter.getBoolean(5)}")
    // the whole curation loop: every serving structure composed
    val cur = SparkEntry.queries("x38_curation_e2e")(spark, sfDir)
      .groupBy("decision").agg(
        org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.sum("n_copies").as("c"))
      .orderBy("decision")
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"[demo] curation loop (bootstrap indexes -> curate shard): $cur")
    // the FULL loop with the gram index: preserving scrub before
    // decisions, per-doc scrub counts beside the decision
    val curS = SparkEntry.queries("x44_curation_scrubbed")(spark, sfDir)
    val scrubTouched = curS
      .filter($"n_scrubbed_words" > 0).count()
    val curSTotal = curS.count()
    println(s"[demo] scrubbed curation loop: $scrubTouched of $curSTotal " +
      "shard docs had corpus-duplicated spans cut before decisions")
    val manifest = io.Snapshots.latest(outDir)
    println(s"[demo] snapshot manifest: ${manifest.map(_.snapshotId).getOrElse("-")} " +
      s"(docs_ok=${manifest.map(_.docsOk).getOrElse(-1L)})")
    // time travel: read the contract state back AS OF the snapshot
    val asOf = io.Snapshots.asOf(spark, outDir, "demo-snap")
    println(s"[demo] as-of demo-snap: ${asOf.contracts.count()} contracts, " +
      s"${asOf.ledger.count()} ledger rows")
    // snapshot maintenance: reprocess a slice as a second snapshot, then
    // expire+rewrite history up to the first one — reads at or after the
    // point are unchanged, the folded history becomes one baseline partition
    pipeline.Pipeline.run(spark,
      docs.filter(org.apache.spark.sql.functions.xxhash64($"doc_id") % 7 === 0),
      outDir, "demo-snap-2")
    val baseId = io.Snapshots.compact(spark, outDir, "demo-snap")
    println(s"[demo] snapshot compaction: baseline $baseId, history now " +
      io.Snapshots.list(outDir).map(_.snapshotId).mkString(" -> ") +
      s", as-of latest: ${io.Snapshots.asOf(spark, outDir, "demo-snap-2").contracts.count()} contracts")
    spark.stop()
  }
}
