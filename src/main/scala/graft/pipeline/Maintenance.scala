package graft.pipeline

import org.apache.spark.sql.SparkSession
import graft.ops.{Ann, Decontaminate, Dedup, Lm, Mix}

/** One maintenance window for a curated corpus: compact EVERY serving
  * table the curation state names — the call a production pipeline runs
  * on a schedule instead of six per-table entrypoints with six
  * individually-remembered contracts.
  *
  * QUIESCENCE CONTRACT (stated once, holds for every table below): run
  * only while ingestion is quiescent — the streaming loop stopped with
  * its last batch fully committed, no batch writer live. Each table's
  * `graft.io.EpochStore` interlock then guarantees (a) a
  * crash anywhere inside any swap is finished by the next open/append,
  * (b) probes before and after the window are byte-identical, and (c) a
  * replay of a FOLDED epoch refuses loudly instead of corrupting the
  * baseline (spec-pinned in MaintenanceSpec) — the loud case is exactly
  * a maintenance window run while a batch was still uncommitted.
  *
  * The probe model and LM cuts move by retrain (versioned pointer
  * publish, `graft.io.Models`); the window's job for them is pruning
  * superseded and crashed-attempt version directories. */
object Maintenance {

  /** One compacted table: which serving table, and the fold point (max
    * epoch folded into the baseline; -1 = never folded — a bootstrap-only
    * table, nothing had accumulated and nothing was rewritten). */
  final case class Fold(table: String, name: String, foldPoint: Long)

  /** Compact all serving tables of `ixs` (+ the grown corpus text table
    * and any ANN/k-NN serving structures the deployment keeps). Returns
    * the per-table fold points, in compaction order. */
  def run(spark: SparkSession, ixs: Curation.Indexes,
          corpusPath: Option[String] = None,
          ivfIndexPath: Option[String] = None,
          ivfPqIndexPath: Option[String] = None,
          knnCorpusPath: Option[String] = None): Seq[Fold] = {
    val out = Seq.newBuilder[Fold]
    out += Fold("minhash_index", ixs.minhashTable,
      Dedup.compactMinhashIndex(spark, ixs.minhashTable))
    out += Fold("mix_stats", ixs.statsPath,
      Mix.compactStats(spark, ixs.statsPath))
    out += Fold("lm_counts", ixs.lmPath,
      Lm.compactCounts(spark, ixs.lmPath))
    ixs.gramTable.foreach(t =>
      out += Fold("gram_index", t, Decontaminate.compactGramIndex(spark, t)))
    corpusPath.foreach(p =>
      out += Fold("corpus", p, StreamingCuration.compactCorpus(spark, p)))
    ivfIndexPath.foreach(p =>
      out += Fold("ivf_cells", p, Ann.Ivf.compactIndex(spark, p)))
    ivfPqIndexPath.foreach(p =>
      out += Fold("ivfpq_cells", p, Ann.Pq.compactIvfPqIndex(spark, p)))
    knnCorpusPath.foreach(p =>
      out += Fold("knn_corpus", p, Ann.compactKnnCorpus(spark, p)))
    // model roots: prune superseded/crashed retrain versions; the fold
    // point reported is the CURRENT (surviving) version
    out += Fold("probe_model", ixs.modelPath, pruneModels(ixs.modelPath))
    out += Fold("lm_model", ixs.lmPath, pruneModels(ixs.lmPath))
    out.result()
  }

  private def pruneModels(root: String): Long = {
    graft.io.Models.prune(root)
    graft.io.Models.current(root)
  }
}
