package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.EpochStore
import graft.queries.{Dialect, TrainingQueries}

/** The n-gram language model SERVED: train the per-language character-bigram
  * LM once, persist its SUFFICIENT STATISTICS, score every incoming shard
  * with one narrow pass — the CCNet deployment shape (fit an LM on a
  * reference tranche, perplexity-filter the crawl with it).
  *
  * `t14_lm_score` trains and scores in a single query — right for the
  * oracle gate, wrong for deployment: at 100 TB the LM is fitted once and
  * then applied to every shard without re-aggregating the corpus. What
  * persists is the per-language bigram COUNT table (epoch-partitioned,
  * KB-sized at any corpus scale): counts are additive, so an ingested
  * shard extends the model with one SHARD-scale aggregate — the same
  * additive-epoch contract as the minhash/ANN/Mix serving layers, folded
  * by the shared `graft.io.EpochStore` compaction with its crash-safe swap
  * and folded-epoch replay interlock. The quantized probabilities derive
  * from the folded counts at open time (a few thousand rows of driver-free
  * arithmetic, never a corpus read).
  *
  * All arithmetic renders through the SAME `LmSql` shared expression
  * builders the SQL tier uses, so a served score is value-identical to
  * the in-query run on the training corpus — x40 pins that against t14's
  * own DuckDB oracle. Scoring an UNSEEN shard exercises the
  * add-one-smoothing fallbacks a single-query run never needs: an unseen
  * bigram under a seen prefix scores floor(1e9/(c1n+37)) (the
  * prefix-default table), an unseen prefix scores floor(1e9/37).
  *
  * Scale shape: training is one explode + two hash aggs down to a
  * ≤ #langs × 37² model frame; scoring joins per-doc bigram COUNTS (not
  * positions) against the broadcast model — no per-char row explosion
  * survives past the first aggregate.
  */
object Lm {
  private val Sp = Dialect.Spark

  /** floor(1e9 / 37): the quantized probability of a bigram whose prefix
    * character was never seen in training (c2 = c1n = 0). */
  val UnseenPrefixQ: Long = 27027027L

  /** The counts of the model version under `dir`: one epoch-partitioned
    * dataset whose rows fold by RE-AGGREGATION (sums are additive across
    * epochs), not relabeling. */
  private def countsAt(spark: SparkSession, dir: String): EpochStore =
    EpochStore.dirs(spark, dir, Seq(EpochStore.EpochData("counts", Seq("epoch"),
      (df, b) => df.groupBy("lang", "bg").agg(sum("cnt").as("cnt"))
        .withColumn("epoch", lit(b)))))

  /** The CURRENT model version's counts store. */
  private[graft] def countsStore(spark: SparkSession, path: String): EpochStore =
    countsAt(spark, cur(path))

  /** See Mix.parserParity — the shared expression strings carry regex
    * literals that parse verbatim only under escapedStringLiterals. */
  private def parserParity(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")

  /** Per-doc bigram counts (doc_id, lang, bg, cnt) over the shared
    * normalization — the first aggregate of both train and score. */
  private def bigramCounts(docs: DataFrame): DataFrame = {
    parserParity(docs.sparkSession)
    val L = TrainingQueries.LmSql
    docs.selectExpr("doc_id", "lang", s"${L.norm(Sp)} AS s")
      .selectExpr("doc_id", "lang", s"${L.bigrams(Sp)} AS bg")
      .groupBy("doc_id", "lang", "bg")
      .agg(count("*").as("cnt"))
  }

  /** The model's sufficient statistics for one tranche: (lang, bg, cnt) —
    * ONE aggregate over whatever it is given (the corpus at build time, a
    * shard at ingest time). */
  def bigramStats(docs: DataFrame): DataFrame =
    bigramCounts(docs).groupBy("lang", "bg").agg(sum("cnt").as("cnt"))

  /** The servable model: quantized bigram probabilities, the
    * unseen-bigram prefix defaults, and (from writeModel) the
    * per-language out-of-distribution cuts. */
  final case class Model(bigrams: DataFrame, prefixes: DataFrame,
                         cuts: Option[DataFrame] = None)

  /** Derive the quantized probability tables from (possibly
    * epoch-split) count rows — integer sums are associative, so a
    * baseline + appended epochs yields exactly the single-build model. */
  def modelFromCounts(counts: DataFrame, cuts: Option[DataFrame] = None): Model = {
    val mdl = counts.groupBy("lang", "bg").agg(sum("cnt").as("c2"))
    val pre = mdl.groupBy(col("lang"), substring(col("bg"), 1, 1).as("c1"))
      .agg(sum("c2").as("c1n"))
    val q = mdl.join(pre.withColumnRenamed("lang", "plang"),
        mdl("lang") === col("plang") && substring(mdl("bg"), 1, 1) === col("c1"))
      .selectExpr("lang", "bg", s"${TrainingQueries.LmSql.q} AS q")
    val qd = pre.selectExpr("lang", "c1",
      "CAST(floor(1e9 / (c1n + 37)) AS BIGINT) AS qd")
    Model(q, qd, cuts)
  }

  /** Fit the LM on a training tranche (in-memory form; the served path
    * persists the counts via writeModel instead). */
  def train(docs: DataFrame): Model = modelFromCounts(bigramStats(docs))

  /** Persist the model's counts (epoch 0) plus the per-language
    * out-of-distribution cut: HALF the minimum score any training doc of
    * that language reaches under the just-trained model. A register shift
    * (natural prose vs the training corpus's synthetic word salad) lands
    * a modest factor below the training minimum and must pass; encoding
    * junk / consonant salad lands an order of magnitude under typical
    * scores and fails — half-min splits the two with margin on both sides
    * (measured: register-shifted English 0.13 vs train-min 0.21 vs
    * gibberish 0.04). min is order-free and halving is exact in binary
    * floating point, so the cut is deterministic at any parallelism; a
    * quantile would gate in-distribution tails too and belongs to
    * threshold tuning, not serving. Cuts are bootstrap-time state — count
    * ingestion does not move them; a scheduled retrain does. */
  def writeModel(docs: DataFrame, path: String): Unit = {
    graft.io.Models.reset(path)
    buildTo(docs, s"$path/v0")
    graft.io.Models.publish(path, 0L)
  }

  /** The LM's drift-alarm ACTION: rebuild counts AND the per-language
    * cuts from the (grown) corpus, published as a new model version —
    * `CURRENT` moves only after the complete rebuild lands, so readers
    * never see a torn model and a crashed retrain is retried over the
    * same staging directory. Epoch history restarts at 0 under the new
    * version (retrain is a rebase, not an append). Single-writer,
    * quiescent-loop contract — same as compaction. */
  def retrainModel(docs: DataFrame, path: String): Long = {
    val (n, dir) = graft.io.Models.nextDir(path)
    buildTo(docs, dir)
    graft.io.Models.publish(path, n)
    n
  }

  private def buildTo(docs: DataFrame, dir: String): Unit = {
    countsAt(docs.sparkSession, dir).reset()
    bigramStats(docs).withColumn("epoch", lit(0L))
      .write.partitionBy("epoch").mode("overwrite").parquet(s"$dir/counts")
    val m = modelFromCounts(
      docs.sparkSession.read.parquet(s"$dir/counts"))
    score(docs, m)
      .groupBy("lang").agg((min("lm_score") / 2).as("lm_cut"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/cuts")
  }

  /** The CURRENT version's directory — every count/cut read and append
    * below dereferences the pointer, so a retrain-published model takes
    * effect atomically across all of them. */
  private def cur(path: String): String = graft.io.Models.currentDir(path)

  /** Replay guard: an epoch is "in" once its partition committed or once
    * compaction folded it into the baseline (within the CURRENT model
    * version — a retrain rebases epoch history). */
  def epochInCounts(spark: SparkSession, path: String, epoch: Long): Boolean =
    epoch <= countsStore(spark, path).maxFolded ||
      spark.read.parquet(s"${cur(path)}/counts")
        .filter(col("epoch").cast("long") === epoch).limit(1).count() > 0

  /** Shard-scale ingest: one aggregate over the shard lands as an epoch
    * partition — the model's probabilities shift to include the shard
    * with NO corpus read. Dynamic partition overwrite makes a replayed
    * ingest rewrite itself byte-identically; an epoch already folded away
    * by compaction is refused loudly (`EpochStore` interlock). */
  def appendCounts(shard: DataFrame, path: String, epoch: Long): Unit = {
    require(epoch > 0L, s"epoch must be positive (0 is the base build): $epoch")
    val d = cur(path)
    countsAt(shard.sparkSession, d).requireUnfolded(epoch)
    bigramStats(shard).withColumn("epoch", lit(epoch))
      .write.partitionBy("epoch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$d/counts")
  }

  /** Fold ingestion epochs into one baseline row per (lang, bigram). */
  def compactCounts(spark: SparkSession, path: String): Long =
    countsStore(spark, path).compact()

  /** Reopen the model (finishing any crashed compaction swap first). */
  def openModel(spark: SparkSession, path: String): Model = {
    val d = cur(path)
    countsAt(spark, d).open()
    val cuts = if (new java.io.File(s"$d/cuts").exists())
      Some(spark.read.parquet(s"$d/cuts")) else None
    modelFromCounts(spark.read.parquet(s"$d/counts"), cuts)
  }

  /** Score a shard against a trained model: per-doc bigram counts joined
    * to the broadcast model tables, smoothing fallbacks for unseen
    * bigrams/prefixes, one hash agg per doc. Emits t14's row shape
    * (doc_id, lang, n_pos, sum_q, lm_score). */
  def score(docs: DataFrame, model: Model): DataFrame = {
    val scored = bigramCounts(docs)
      .join(broadcast(model.bigrams), Seq("lang", "bg"), "left")
      .withColumn("c1", substring(col("bg"), 1, 1))
      .join(broadcast(model.prefixes), Seq("lang", "c1"), "left")
      .withColumn("qq", coalesce(col("q"), col("qd"), lit(UnseenPrefixQ)))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_pos"), sum(col("cnt") * col("qq")).as("sum_q"))
    docs.select("doc_id", "lang")
      .join(scored, Seq("doc_id"), "left")
      .selectExpr("doc_id", "lang",
        "coalesce(n_pos, CAST(0 AS BIGINT)) AS n_pos",
        "coalesce(sum_q, CAST(0 AS BIGINT)) AS sum_q",
        s"${TrainingQueries.LmSql.score("coalesce(sum_q, CAST(0 AS BIGINT))", "coalesce(n_pos, CAST(0 AS BIGINT))")} AS lm_score")
  }

  /** `score` + the persisted per-language cut: (doc_id, lm_score, lm_ok).
    * lm_ok is false only for docs scoring strictly BELOW their language's
    * cut — out-of-distribution character statistics. A language the model
    * never saw has no cut and passes (new languages enter ungated until a
    * retrain, the same posture as Mix's unseen domains). Requires a model
    * written by `writeModel`. */
  def gate(docs: DataFrame, model: Model): DataFrame = {
    val cuts = model.cuts.getOrElse(sys.error(
      "Lm.gate needs the per-language cuts — write the model via Lm.writeModel"))
    score(docs, model)
      .join(broadcast(cuts), Seq("lang"), "left")
      .select(col("doc_id"), col("lm_score"),
        (col("lm_cut").isNull || col("lm_score") >= col("lm_cut")).as("lm_ok"))
  }

  /** The retrain trigger. Count ingestion moves the model's COUNTS but
    * never the bootstrap-time cuts, so a distribution shift in the
    * incoming stream — a new register, an encoding regression upstream, a
    * crawler picking up a spam farm — shows up as a RISING below-cut
    * fraction per language long before it contaminates the corpus. One
    * hash agg over a scored shard (shard-scale in, #langs rows out):
    * (lang, n_docs, n_below, below_frac, mean_score, has_cut, retrain).
    * `retrain` fires when more than `retrainFrac` of a gated language's
    * shard scores below its cut — the scheduled-retrain signal the
    * serving docs promise ("cuts move by retrain, not ingestion"). A
    * language with no cut reports has_cut=false and never fires (new
    * languages enter ungated; their signal is the missing cut itself). */
  def driftStats(docs: DataFrame, model: Model,
                 retrainFrac: Double = 0.1): DataFrame = {
    val cuts = model.cuts.getOrElse(sys.error(
      "Lm.driftStats needs the per-language cuts — write the model via Lm.writeModel"))
    score(docs, model)
      .join(broadcast(cuts), Seq("lang"), "left")
      .groupBy("lang")
      .agg(count("*").as("n_docs"),
        sum(when(col("lm_cut").isNotNull && col("lm_score") < col("lm_cut"),
          1L).otherwise(0L)).as("n_below"),
        round(avg("lm_score"), 6).as("mean_score"),
        max(col("lm_cut").isNotNull).as("has_cut"))
      .withColumn("below_frac",
        round(col("n_below") * lit(1e0) / col("n_docs"), 6))
      .withColumn("retrain",
        col("has_cut") && col("below_frac") > lit(retrainFrac))
      // pin the documented column order — withColumn appends, and a
      // positional caller following the scaladoc would otherwise read
      // mean_score where it expects below_frac
      .select("lang", "n_docs", "n_below", "below_frac", "mean_score",
        "has_cut", "retrain")
  }
}
