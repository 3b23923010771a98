package graft.io

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Doc

/** Iceberg-snapshot-SHAPED checkpointing over plain parquet (SURVEY §7.4.4:
  * no Iceberg jar ships in this sandbox, so the table-format seam is kept
  * explicit — `Snapshots` presents the snapshot-id / time-travel API a
  * real Iceberg catalog would back; swapping in Iceberg changes only this
  * object).
  *
  * Layout per output dir:
  *   contracts/snapshot_id=<id>/   extraction output, one partition per snapshot
  *   lineage/snapshot_id=<id>/     per-(doc, stage) ledger, same layout
  *   _manifest_<id>.json           snapshot manifest: id, sequence, counts
  *
  * Resume contract (north rule): a job restarted against the same outDir
  * processes exactly the docs whose LATEST ledger record (snapshot
  * history accumulates — the most recent snapshot that touched a doc is
  * authoritative for it) is not 'ok' — `Pipeline.resume`'s anti-join over
  * `latestLedgerState`. Writes are idempotent per snapshot partition
  * (dynamic overwrite), so replaying a partially-written snapshot is safe.
  *
  * Time travel (`asOf`): the state as of snapshot N = the partitions of
  * snapshots with sequence <= N's — a partition-pruned filter, mirroring
  * the reference's reversible operation ledger
  * (system_contract_organizer.py:339-362, replay-to-a-point). */
object Snapshots {

  case class Manifest(snapshotId: String, docsOk: Long, docsErr: Long,
                      spansSeen: Long, seq: Long)

  // tolerant of trailing fields (e.g. the listener-bus "execution" object);
  // seq is optional for manifests written before it existed (treated as
  // file-order)
  private val ManifestRe =
    """\{"snapshot_id":"([^"]+)","docs_ok":(\d+),"docs_err":(\d+),"spans_seen":(\d+)(?:,"seq":(\d+))?.*\}""".r

  /** Manifests in snapshot-sequence order. Legacy manifests (written
    * before the seq field existed) get fallback seqs 0..k-1 in filename
    * order counted among THEMSELVES only — indexing them by position in
    * the combined listing would shift with every new manifest and collide
    * with explicit seqs (a legacy file sorting after a new `seq:1` file
    * would also read as seq 1, corrupting latest()/asOf() ordering). The
    * legacy set is frozen (nothing writes seq-less manifests anymore), so
    * among-themselves indices are stable, and writers assign new seqs as
    * max(existing)+1 — always past the legacy range. */
  def list(outDir: String): Seq[Manifest] = {
    val dir = Paths.get(outDir)
    if (!Files.exists(dir)) return Seq.empty
    val parsed = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("_manifest_"))
      .toSeq.sortBy(_.getFileName.toString)
      .flatMap { p =>
        Files.readString(p) match {
          case ManifestRe(id, ok, err, spans, seq) =>
            Some((id, ok.toLong, err.toLong, spans.toLong, Option(seq).map(_.toLong)))
          case _ => None
        }
      }
    var legacyIdx = -1L
    parsed.map { case (id, ok, err, spans, seqOpt) =>
      Manifest(id, ok, err, spans, seqOpt.getOrElse { legacyIdx += 1; legacyIdx })
    }.sortBy(m => (m.seq, m.snapshotId))
  }

  def latest(outDir: String): Option[Manifest] = list(outDir).lastOption

  /** The RAW ledger: every (doc, stage) record of every accumulated
    * snapshot partition. For resume decisions use `latestLedgerState` —
    * a doc reprocessed in a later snapshot has multiple rows here and the
    * stale ones must not vote. */
  def ledger(spark: SparkSession, outDir: String): Option[DataFrame] = {
    val p = Paths.get(outDir, "lineage")
    if (Files.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Ledger reduced to the latest record per (doc, stage) across the given
    * snapshots: one hash aggregate (max_by over the manifest sequence —
    * partial+final, no window sort), scale-safe at 10^12 docs. Ledger rows
    * whose snapshot has no manifest (a crash between the lineage write and
    * the manifest write) are excluded by the inner join — conservatively
    * treating those docs as unprocessed, which resume then redoes. */
  private def latestPerDoc(led: DataFrame, manifests: Seq[Manifest]): DataFrame = {
    val spark = led.sparkSession
    import spark.implicits._
    val seqDf = manifests.map(m => (m.snapshotId, m.seq)).toDF("snapshot_id", "seq")
    led.join(broadcast(seqDf), "snapshot_id")
      .groupBy("doc_id", "stage")
      .agg(expr("max_by(status, seq)").as("status"))
  }

  /** Per-(doc, stage) CURRENT status under the full snapshot history. */
  def latestLedgerState(spark: SparkSession, outDir: String): Option[DataFrame] =
    ledger(spark, outDir).map(latestPerDoc(_, list(outDir)))

  /** The contracts + ledger state AS OF a snapshot: partitions of every
    * snapshot up to and including it, with contracts resolved keep-latest
    * per doc (a doc reprocessed in a later included snapshot shows that
    * later row). */
  case class SnapshotView(snapshotId: String, contracts: DataFrame, ledger: DataFrame)

  def asOf(spark: SparkSession, outDir: String, snapshotId: String): SnapshotView = {
    val ms = list(outDir)
    val target = ms.find(_.snapshotId == snapshotId)
      .getOrElse(sys.error(s"unknown snapshot '$snapshotId' in $outDir " +
        s"(have: ${ms.map(_.snapshotId).mkString(", ")})"))
    val included = ms.filter(_.seq <= target.seq)
    val ids = included.map(_.snapshotId)
    val led = spark.read.parquet(s"$outDir/lineage")
      .filter(col("snapshot_id").isin(ids: _*)) // partition-pruned
    import spark.implicits._
    val seqDf = included.map(m => (m.snapshotId, m.seq)).toDF("snapshot_id", "seq")
    // keep-latest per doc across the included snapshots: tiny broadcast of
    // the (snapshot, seq) order, window by doc over seq desc
    val contracts = spark.read.parquet(s"$outDir/contracts")
      .filter(col("snapshot_id").isin(ids: _*))
      .join(broadcast(seqDf), "snapshot_id")
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("contract.doc_id")).orderBy(desc("seq"))))
      .filter(col("_rn") === 1)
      .drop("_rn", "seq")
    SnapshotView(snapshotId, contracts, led)
  }

  /** Incremental read (the Iceberg `incremental-between-snapshots` shape):
    * the contract rows that BECAME authoritative in (from, to] — docs first
    * processed or REprocessed by a snapshot in that range, each resolved to
    * its latest included row. A downstream consumer (training-data refresh,
    * index update) reads exactly the delta instead of rescanning the table:
    * partition-pruned to the newer snapshots, keep-latest via `asOf`.
    * `changes(a, a)` is empty by definition. */
  def changes(spark: SparkSession, outDir: String,
              fromId: String, toId: String): DataFrame = {
    val ms = list(outDir)
    def seqOf(id: String): Long = ms.find(_.snapshotId == id)
      .getOrElse(sys.error(s"unknown snapshot '$id' in $outDir " +
        s"(have: ${ms.map(_.snapshotId).mkString(", ")})")).seq
    val (fromSeq, toSeq) = (seqOf(fromId), seqOf(toId))
    require(fromSeq <= toSeq,
      s"changes: '$fromId' (seq $fromSeq) is newer than '$toId' (seq $toSeq)")
    val newer = ms.filter(m => m.seq > fromSeq && m.seq <= toSeq).map(_.snapshotId)
    val atTo = asOf(spark, outDir, toId).contracts
    if (newer.isEmpty) atTo.limit(0) else atTo.filter(col("snapshot_id").isin(newer: _*))
  }

  /** Resume against the ledger AS OF a snapshot: docs whose latest record
    * AT THAT POINT is not 'ok' — i.e. everything later snapshots did (or
    * new work) gets reprocessed. Latest-per-doc within the included
    * snapshots, so a doc that was ok early but errored in a later included
    * snapshot is correctly pending again. */
  def resumeAsOf(docs: Dataset[Doc], outDir: String, snapshotId: String): Dataset[Doc] = {
    val ms = list(outDir)
    val target = ms.find(_.snapshotId == snapshotId)
      .getOrElse(sys.error(s"unknown snapshot '$snapshotId' in $outDir"))
    val view = asOf(docs.sparkSession, outDir, snapshotId)
    graft.pipeline.Pipeline.resume(docs,
      latestPerDoc(view.ledger, ms.filter(_.seq <= target.seq)))
  }

  /** Docs still pending under the current snapshot history (all docs if
    * none): the anti-join runs against the latest-per-doc ledger state, so
    * a doc that errored in its most recent snapshot is pending even if an
    * older snapshot once processed it ok. */
  def pending(spark: SparkSession, docs: Dataset[Doc], outDir: String): Dataset[Doc] =
    latestLedgerState(spark, outDir) match {
      case Some(l) => graft.pipeline.Pipeline.resume(docs, l)
      case None => docs
    }

  /** Snapshot maintenance — the Iceberg expire-snapshots + rewrite-data-
    * files pair. Every snapshot with seq <= `upToId`'s folds into ONE
    * baseline partition (id `compact-<upToId>`, same seq): contracts
    * resolved keep-latest per doc, ledger reduced to the latest row per
    * (doc, stage), both coalesced to `files` files — the small-files fix
    * an accumulating checkpoint history needs at scale (k snapshots x p
    * partition files otherwise grow without bound and each asOf read
    * lists them all).
    *
    * Semantics after compaction: `asOf`/`changes`/`resume` at or after
    * the compaction point are UNCHANGED (spec-pinned); time travel to
    * snapshots BEFORE it is gone — exactly Iceberg's expire contract.
    *
    * Crash safety (single-writer outDir, same contract as the writers):
    * the baseline partitions are written FIRST (manifestless = invisible
    * to every reader), then a `_compact_pending` protocol file makes the
    * manifest swap (delete folded manifests + seq markers, claim the
    * target seq, publish the baseline manifest) recoverable: a crash
    * anywhere inside the swap is finished by the next `compact` call on
    * the dir. Folded DATA partitions are deleted last — leftovers are
    * manifestless and therefore ignored by every reader. */
  def compact(spark: SparkSession, outDir: String, upToId: String,
              files: Int = 1): String =
    compactImpl(spark, outDir, upToId, files, crashBeforeSwap = false)

  /** `crashBeforeSwap`: the test seam of `EpochStore.publish`, hit after
    * the `_compact_pending` protocol file is published. */
  private[graft] def compactImpl(spark: SparkSession, outDir: String,
                                 upToId: String, files: Int,
                                 crashBeforeSwap: Boolean): String = {
    finishPendingCompact(outDir)
    val ms = list(outDir)
    val compactIdIfDone = s"compact-$upToId"
    // a prior call crashed after publishing the protocol file: the
    // finishPendingCompact above just completed its swap, so the target id
    // is gone and the baseline exists — retrying with the same args is the
    // documented recovery and must succeed, not error on the missing id
    if (ms.exists(_.snapshotId == compactIdIfDone) &&
        !ms.exists(_.snapshotId == upToId)) return compactIdIfDone
    val target = ms.find(_.snapshotId == upToId)
      .getOrElse(sys.error(s"unknown snapshot '$upToId' in $outDir " +
        s"(have: ${ms.map(_.snapshotId).mkString(", ")})"))
    val folded = ms.filter(_.seq <= target.seq)
    val compactId = s"compact-${target.snapshotId}"
    require(!ms.exists(_.snapshotId == compactId),
      s"snapshot id '$compactId' already exists in $outDir")
    val view = asOf(spark, outDir, upToId)
    import spark.implicits._
    // a table root cannot be overwritten while it is being read, so each
    // baseline is written to a temp dir and RENAMED into its partition —
    // which is also what a real table format does (new files + metadata
    // swap, never in-place)
    def writeInto(df: DataFrame, tbl: String): Unit = {
      val tmp = Paths.get(outDir, s"_compact_tmp_$tbl")
      df.drop("snapshot_id").coalesce(files)
        .write.mode("overwrite").parquet(tmp.toString)
      val dest = Paths.get(outDir, tbl, s"snapshot_id=$compactId")
      Files.createDirectories(dest.getParent)
      EpochStore.deleteTree(dest)
      Files.move(tmp, dest)
      ()
    }
    // resolved contracts re-homed into the baseline partition
    writeInto(view.contracts, "contracts")
    // ledger reduced to the latest ROW per (doc, stage): max_by over the
    // manifest seq — hash aggregate, no window sort (maintenance job or
    // not, the house plan rule holds)
    val seqDf = folded.map(m => (m.snapshotId, m.seq)).toDF("snapshot_id", "seq")
    val rest = view.ledger.columns
      .filterNot(Set("doc_id", "stage", "snapshot_id").contains)
    val packed = rest.map(c => s"'$c', $c").mkString(", ")
    val led = view.ledger.join(broadcast(seqDf), "snapshot_id")
      .groupBy("doc_id", "stage")
      .agg(expr(s"max_by(named_struct($packed), seq)").as("_r"))
    writeInto(
      rest.foldLeft(led)((df, c) => df.withColumn(c, col(s"_r.$c"))).drop("_r"),
      "lineage")
    // manifest counts from the WRITTEN baseline, never from plan-side
    // aggregates (the at-least-once rule writers follow)
    val written = spark.read
      .parquet(s"$outDir/contracts/snapshot_id=$compactId")
    val r = written.agg(
      coalesce(sum(when(col("status") === "ok", 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("status") =!= "ok", 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(col("status") === "ok", col("n_spans").cast("long"))), lit(0L)))
      .head()
    val manifest =
      s"""{"snapshot_id":"$compactId","docs_ok":${r.getLong(0)},"docs_err":${r.getLong(1)},"spans_seen":${r.getLong(2)},"seq":${target.seq}}"""
    // recoverable swap protocol: manifest line, folded ids, folded seqs —
    // published ATOMICALLY so a crash mid-write can never leave a
    // half-written protocol file for recovery to trip over
    EpochStore.publish(Paths.get(outDir, EpochStore.Marker),
      manifest + "\n" + folded.map(_.snapshotId).mkString(",") + "\n" +
        folded.map(_.seq).mkString(","), crashBeforeSwap)
    finishPendingCompact(outDir)
    compactId
  }

  /** Complete a compaction swap left behind by a crash (or the tail of a
    * live one): delete the folded manifests and seq markers, claim the
    * baseline's seq, publish its manifest, drop the pending file, then
    * delete the folded data partitions. Every step is idempotent. */
  private def finishPendingCompact(outDir: String): Unit = {
    val pending = Paths.get(outDir, EpochStore.Marker)
    if (!Files.exists(pending)) return
    val Array(manifest, idsLine, seqsLine) =
      Files.readString(pending).split("\n", 3)
    val ManifestRe(compactId, _, _, _, seqStr) = manifest: @unchecked
    val foldedIds = idsLine.split(",").filter(_.nonEmpty)
    foldedIds.foreach { id =>
      Files.deleteIfExists(Paths.get(outDir, s"_manifest_$id.json")); ()
    }
    seqsLine.split(",").filter(_.nonEmpty).foreach { s =>
      Files.deleteIfExists(Paths.get(outDir, s"_seq_$s")); ()
    }
    Files.writeString(Paths.get(outDir, s"_seq_$seqStr"), compactId)
    Files.writeString(Paths.get(outDir, s"_manifest_$compactId.json"), manifest)
    Files.deleteIfExists(pending)
    for (tbl <- Seq("contracts", "lineage"); id <- foldedIds)
      EpochStore.deleteTree(Paths.get(outDir, tbl, s"snapshot_id=$id"))
  }
}
