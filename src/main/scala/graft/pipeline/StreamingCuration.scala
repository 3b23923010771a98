package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.io.EpochStore

/** The FULL incremental curation loop (`pipeline.Curation`) as a
  * checkpointed Structured Streaming job — the form a 100 TB ingest
  * actually runs: document shards land as parquet files; each micro-batch
  * is curated against the serving state (minhash index, domain stats,
  * quality-probe model, bigram LM — all bootstrapped once), its per-doc
  * decisions and per-shard funnel land under the batch's own directory,
  * and the keepers fold back into the index, the stats, AND the corpus
  * text table as one epoch — so the NEXT micro-batch dedups against them.
  *
  * Exactly-once without markers (the StreamingDedup contract, extended to
  * every piece of serving state a batch touches):
  *  - decisions/funnel writes OVERWRITE the batch's directory;
  *  - every probe excludes the batch's OWN epoch — the minhash index via
  *    `incrementalCandidates(excludeEpoch)`, the mix stats via
  *    `Mix.openStatsExcluding`, the corpus text via `openCorpus`'s filter
  *    — so a replay that crashed after any accept append still recomputes
  *    decisions against the exact pre-accept state, byte-identically;
  *  - all three accept appends are dynamic-partition epoch overwrites, so
  *    a replayed accept rewrites itself instead of double-counting.
  * The probe and LM models are bootstrap-time state: batches READ them
  * (every open dereferences the versioned CURRENT pointer, see
  * `graft.io.Models`) but never move them. Retrain is an out-of-band
  * action with a QUIESCENCE contract, same discipline as compaction:
  * republish (`Curation.retrainIfDrifted`) only while the stream is
  * stopped with all batches committed. Structured Streaming replays only
  * an uncommitted batch, so under the contract every replay re-reads the
  * exact model its original attempt used — byte-identical. (A retrain
  * wedged between a crash and its replay keeps the state CONSISTENT —
  * the replay's epoch overwrites rewrite decisions and accepts wholesale
  * under the new model — but the re-decided batch is no longer
  * byte-identical to the crashed attempt, which never committed.)
  *
  * The corpus text table is what makes the loop self-contained: curation
  * needs candidate-id-selective text for jaccard verification, and the
  * contract is that it holds text for every doc the index knows. It lives
  * as an epoch-partitioned parquet dataset managed by the same
  * `EpochStore` as every other serving table — so shard-per-hour
  * ingestion's file accretion folds away with the same crash-safe
  * staged-swap compaction and folded-epoch replay interlock. */
object StreamingCuration {

  /** The interleaved-corpus shard schema the full loop needs (the LM is
    * per-language, the mix per-source). */
  val ShardSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType), StructField("lang", StringType)))

  private[graft] def corpusStore(spark: SparkSession, path: String): EpochStore =
    EpochStore.dirs(spark, path, Seq(EpochStore.relabel("docs", Seq("epoch"))))
  private val docCols = Seq("doc_id", "text", "source", "lang")

  /** Write the corpus text table from the bootstrap corpus (epoch 0). */
  def writeCorpus(corpus: DataFrame, path: String): Unit = {
    corpusStore(corpus.sparkSession, path).reset()
    corpus.select(docCols.map(col): _*).withColumn("epoch", lit(0L))
      .write.partitionBy("epoch").mode("overwrite").parquet(s"$path/docs")
  }

  /** Fold an accepted batch's keepers in as one epoch. Dynamic partition
    * overwrite makes a replayed accept rewrite itself; an epoch already
    * folded by compaction is refused loudly. */
  def appendCorpus(keepers: DataFrame, path: String, epoch: Long): Unit = {
    require(epoch > 0L, s"epoch must be positive (0 is the bootstrap): $epoch")
    corpusStore(keepers.sparkSession, path).requireUnfolded(epoch)
    keepers.select(docCols.map(col): _*).withColumn("epoch", lit(epoch))
      .write.partitionBy("epoch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$path/docs")
  }

  /** Reopen the corpus text (finishing any crashed compaction swap).
    * `excludeEpoch` is the replay view: rows THIS batch's crashed accept
    * may already have appended are filtered out, so the jaccard
    * verification fetch sees the exact pre-accept corpus. */
  def openCorpus(spark: SparkSession, path: String,
                 excludeEpoch: Option[Long] = None): DataFrame = {
    val store = corpusStore(spark, path)
    store.open()
    excludeEpoch.foreach(store.requireUnfolded)
    val docs = spark.read.parquet(s"$path/docs")
    excludeEpoch.fold(docs)(e => docs.filter(col("epoch").cast("long") =!= e))
  }

  /** Fold the accumulated accept epochs into one baseline partition. */
  def compactCorpus(spark: SparkSession, path: String): Long =
    corpusStore(spark, path).compact()

  /** Bootstrap ALL serving state once from the existing corpus: the
    * Curation indexes (minhash, mix stats, probe model, LM — plus the
    * gram index when the state scrubs) and the corpus text table the
    * loop grows. */
  def bootstrap(corpus: DataFrame, ixs: Curation.Indexes,
                corpusPath: String, requireScrub: Boolean = false): Unit = {
    Curation.bootstrap(corpus, ixs, requireScrub)
    writeCorpus(corpus, corpusPath)
  }

  private def batchDir(outDir: String, batchId: Long): String =
    f"$outDir/batch=$batchId%06d"

  /** One micro-batch: curate against the pre-accept state, publish the
    * decisions + funnel, fold the keepers into index/stats/corpus as
    * epoch batchId+1 (epoch 0 is the bootstrap). Idempotent under replay
    * (see object doc). */
  def curateBatch(batch: DataFrame, batchId: Long, ixs: Curation.Indexes,
                  corpusPath: String, outDir: String, bench: DataFrame,
                  benchTextCol: String, maxBucket: Int = 1000): Unit = {
    val spark = batch.sparkSession
    val epoch = batchId + 1L
    // pin the model versions the batch computes under: every consumer
    // below dereferences the CURRENT pointer independently, so a retrain
    // published MID-batch (a quiescence-contract violation, see object
    // doc) would yield decisions under v(n) but drift rows under v(n+1)
    // — an internally inconsistent batch. The end-of-batch check makes
    // that LOUD instead: the batch fails uncommitted, and its replay
    // recomputes everything consistently under the new version.
    val probeV0 = graft.io.Models.current(ixs.modelPath)
    val lmV0 = graft.io.Models.current(ixs.lmPath)
    val corpus = openCorpus(spark, corpusPath, excludeEpoch = Some(epoch))
      .drop("epoch")
    val dropped = spark.sparkContext.longAccumulator(
      s"curation_dropped_candidates_b$batchId")
    // the pre-decision scrub (no-op without a gram index in the state):
    // corpus boilerplate is cut from the shard FIRST, so dedup, quality,
    // and mix all act on content — and the accepted keepers fold their
    // scrubbed text into every serving table below. Materialized ONCE
    // when the scrub is LIVE: the scrubbed plan embeds the gram-index
    // probe and per-doc text rebuild, and four consumers read it
    // (decisions, both drift rows, the keepers join) — without the
    // checkpoint each would re-probe the index. Without a gram index the
    // scrub is a pass-through, and paying a full shard materialization
    // for it would be pure overhead (r7; the keepers checkpoint below
    // still covers the self-read hazard).
    val scrubbed = Curation.scrubShard(spark, batch, ixs,
      excludeEpoch = Some(epoch))
    val shard =
      if (ixs.gramTable.isDefined) scrubbed.localCheckpoint() else scrubbed
    val decisions = Curation.curateShard(spark, shard, corpus, ixs,
      bench, benchTextCol, maxBucket = maxBucket,
      excludeEpoch = Some(epoch), droppedRows = Some(dropped))
    val dir = batchDir(outDir, batchId)
    decisions.write.mode("overwrite").parquet(s"$dir/decisions")
    // read the DECISIONS BACK for everything downstream: one computation,
    // and the accept appends' lineage is the written parquet + the batch —
    // never the serving tables they overwrite (self-read hazard)
    val written = spark.read.parquet(s"$dir/decisions")
    // the per-shard funnel — the observability row a corpus run watches
    written.groupBy("decision")
      .agg(count("*").as("n_docs"), sum("n_copies").as("n_copies"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/funnel")
    // BOTH retrain alarms, computed on the shard the loop just saw and
    // written per batch (replay-idempotent overwrites). LM: count
    // ingestion never moves the bootstrap cuts, so a register shift /
    // encoding regression surfaces as per-language below-cut fractions
    // (Lm.driftStats). Probe: the shard keep rate diverging from the
    // persisted training keep rate (Probe.driftStats, one row). Each is
    // one narrow shard-scale pass against the broadcast served model;
    // acting on a fired row is `Curation.retrainIfDrifted` at a
    // quiescence point (see object doc).
    graft.ops.Lm.driftStats(shard,
        graft.ops.Lm.openModel(spark, ixs.lmPath))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/drift")
    graft.ops.Probe.driftStats(shard,
        graft.ops.Probe.openModel(spark, ixs.modelPath))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/probe_drift")
    // keepers materialized too: three accept appends re-read them, and a
    // lazy plan re-evaluated during an append job must never read a
    // serving table it is writing (the self-read hazard — the shard
    // checkpoint above already cut the gram-index probe out of this plan)
    val keepers = shard.join(
      written.filter(col("decision") === "keep").select("doc_id"), "doc_id")
      .localCheckpoint()
    Curation.acceptShard(keepers, ixs, epoch)
    appendCorpus(keepers, corpusPath, epoch)
    // the batch's lineage row: which epoch it became, what it saw, what
    // it kept, and — the one number a silent bucket cap would otherwise
    // hide — how many candidate rows the viral-bucket cap dropped
    // (`dropped` is populated eagerly at probe-build time inside
    // curateShard, so it is final here)
    import spark.implicits._
    Seq((batchId, epoch, written.count(), keepers.count(), dropped.value))
      .toDF("batch_id", "epoch", "n_docs", "n_keepers",
        "dropped_candidate_rows")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/manifest")
    // the quiescence interlock (versions are monotonic, so start==end
    // means no publish landed while any of the batch's jobs ran)
    val probeV1 = graft.io.Models.current(ixs.modelPath)
    val lmV1 = graft.io.Models.current(ixs.lmPath)
    require(probeV1 == probeV0 && lmV1 == lmV0,
      s"model version moved during batch $batchId (probe $probeV0 -> " +
        s"$probeV1, lm $lmV0 -> $lmV1): retrain published against a LIVE " +
        "stream violates the quiescence contract — the batch fails " +
        "uncommitted; its replay recomputes consistently under the new " +
        "version")
  }

  /** Start the loop over a parquet file source of shards. Restarting with
    * the same checkpoint resumes from committed offsets; a replayed batch
    * rewrites its own outputs and epoch appends (see object doc). The
    * serving state must have been `bootstrap`ed first. */
  def start(spark: SparkSession, inDir: String, ixs: Curation.Indexes,
            corpusPath: String, outDir: String, checkpointDir: String,
            bench: DataFrame, benchTextCol: String,
            maxBucket: Int = 1000): StreamingQuery =
    spark.readStream.schema(ShardSchema).parquet(inDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: Dataset[Row], id: Long) =>
        curateBatch(b.toDF(), id, ixs, corpusPath, outDir, bench,
          benchTextCol, maxBucket))
      .start()
}
