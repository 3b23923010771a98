package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.EpochStore
import graft.queries.{Dialect, TrainingQueries}

/** Domain-mixture quota sampling served from a MAINTAINED stats table.
  *
  * `d14_domain_mix` fixes the training mix by scanning the corpus twice
  * (domain token totals, then the per-doc copy-count pass). At 10^12 docs
  * the totals pass must not rerun for every mix decision — this module
  * keeps the per-domain (n_docs, n_tokens) stats as an epoch-partitioned
  * side table: built once from the corpus, extended per ingested shard
  * with one SHARD-scale aggregate (no corpus read — the same additive-
  * epoch contract as the minhash and ANN serving layers), folded by the
  * shared `graft.io.EpochStore` compaction with its crash-safe swap and
  * folded-epoch replay interlock. Rates derive from the stats (a
  * #domains-row frame); the per-doc assignment is the same broadcast +
  * narrow pass as d14.
  *
  * All arithmetic renders through the same shared expression builders as
  * the SQL tier (`TrainingQueries.MixSql`) — the served mix is value-equal
  * to the corpus-scan query by construction, and `x36_domain_mix_served`
  * pins it against d14's own DuckDB oracle (a green hash-compare, not a
  * rows-only check).
  */
object Mix {
  private val Sp = Dialect.Spark

  /** One epoch-partitioned dataset: stats rows fold by RE-AGGREGATION
    * (sums are additive across epochs), not relabeling. */
  private[graft] def statsStore(spark: SparkSession, path: String): EpochStore =
    EpochStore.dirs(spark, path, Seq(EpochStore.EpochData("stats", Seq("epoch"),
      (df, b) => df.groupBy("source")
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
        .withColumn("epoch", lit(b)))))

  /** MixSql strings carry regex literals ('\S+'); they parse verbatim only
    * under escapedStringLiterals — the same conf `SparkEntry.runShared`
    * sets for every dialect-shared query (default parsing would strip the
    * backslash and tokenize on the letter S). Set it before every expr(). */
  private def parserParity(df: DataFrame): Unit =
    df.sparkSession.conf.set("spark.sql.parser.escapedStringLiterals", "true")

  /** Per-source doc + token counts — ONE aggregate over whatever tranche
    * it is given (the full corpus at build time, a shard at ingest time). */
  def domainStats(docs: DataFrame): DataFrame = {
    parserParity(docs)
    docs.filter(col("source").isNotNull)
      .select(col("source"), expr(TrainingQueries.MixSql.ntok(Sp)).as("ntok"))
      .groupBy("source")
      .agg(count("*").as("n_docs"), sum("ntok").as("n_tokens"))
  }

  /** Build the stats table once from the existing corpus (epoch 0). */
  def writeStats(docs: DataFrame, path: String): Unit = {
    statsStore(docs.sparkSession, path).reset()
    domainStats(docs).withColumn("epoch", lit(0L))
      .write.partitionBy("epoch").mode("overwrite").parquet(s"$path/stats")
  }

  /** Replay guard: an epoch is "in" once its partition committed or once
    * compaction folded it into the baseline. */
  def epochInStats(spark: SparkSession, path: String, epoch: Long): Boolean =
    epoch <= statsStore(spark, path).maxFolded ||
      spark.read.parquet(s"$path/stats")
        .filter(col("epoch").cast("long") === epoch).limit(1).count() > 0

  /** Shard-scale ingest: one aggregate over the shard lands as an epoch
    * partition. Dynamic partition overwrite makes a replayed ingest
    * rewrite itself byte-identically; an epoch already folded away by
    * compaction is refused loudly (`EpochStore` interlock). */
  def appendStats(shard: DataFrame, path: String, epoch: Long): Unit = {
    require(epoch > 0L, s"epoch must be positive (0 is the base build): $epoch")
    statsStore(shard.sparkSession, path).requireUnfolded(epoch)
    domainStats(shard).withColumn("epoch", lit(epoch))
      .write.partitionBy("epoch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$path/stats")
  }

  /** Fold ingestion epochs into one baseline row per source. */
  def compactStats(spark: SparkSession, path: String): Long =
    statsStore(spark, path).compact()

  /** Reopen the stats (finishing any crashed compaction swap first). */
  def openStats(spark: SparkSession, path: String): DataFrame = {
    statsStore(spark, path).open()
    spark.read.parquet(s"$path/stats")
  }

  /** The streaming-replay view: the stats with one epoch EXCLUDED. A
    * curation batch that crashed between its stats append and the offset
    * commit must recompute its mix rates against the pre-append state so
    * the replayed decisions are byte-identical. An epoch already folded
    * by compaction cannot be excluded — its rows are indistinguishable
    * inside the baseline — so that misuse fails loudly (compaction's
    * quiescence contract was violated) instead of returning silently
    * shifted rates. */
  def openStatsExcluding(spark: SparkSession, path: String,
                         epoch: Long): DataFrame = {
    statsStore(spark, path).requireUnfolded(epoch)
    openStats(spark, path).filter(col("epoch").cast("long") =!= epoch)
  }

  /** Per-source sampling rate in basis points — d14's rule over the
    * #domains-row stats frame (epochs sum per source first; integer sums
    * are associative, so the split-by-epoch total equals the corpus-scan
    * total exactly). The unpartitioned windows run over domains, never
    * corpus rows. */
  def rates(stats: DataFrame): DataFrame =
    stats.groupBy("source").agg(sum("n_tokens").as("dom_tok"))
      .selectExpr("source", s"${TrainingQueries.MixSql.w(Sp)} AS w", "dom_tok")
      .selectExpr("source", s"${TrainingQueries.MixSql.rate(Sp)} AS rate_bp")

  /** The per-doc pass: broadcast the rates in, emit d14's row shape
    * (doc_id, source, ntok, rate_bp, n_copies). The only corpus-scale
    * work left once the stats are maintained. */
  def assign(docs: DataFrame, ratesDf: DataFrame): DataFrame = {
    parserParity(docs)
    docs.filter(col("source").isNotNull)
      .select(col("doc_id"), col("source"),
        expr(TrainingQueries.MixSql.ntok(Sp)).as("ntok"))
      .join(broadcast(ratesDf), "source")
      .selectExpr("doc_id", "source", "ntok", "rate_bp",
        s"${TrainingQueries.MixSql.nCopies(Sp)} AS n_copies")
  }
}
