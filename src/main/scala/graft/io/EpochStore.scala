package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The epoch-append store every serving table sits on: each ingest lands
  * as one epoch, and compaction folds the accumulated epochs into ONE
  * baseline under the max folded epoch id — at shard-per-hour ingestion
  * the appends otherwise accrete thousands of small files per partition
  * and per-key rows every probe re-sums. Probes answer byte-identically
  * across a fold (spec-pinned per table).
  *
  * Two layouts share this protocol: epoch-partitioned parquet directories
  * ([[EpochStore.dirs]]: IVF/IVF-PQ cells, the k-NN corpus, LM counts,
  * mix stats, the curated corpus) and bucketed warehouse tables
  * ([[EpochStore.tables]]: the minhash and gram indexes, which need
  * `saveAsTable` for their bucket spec). Only the swap step differs
  * between them. Everything table-specific — bucket specs, how rows fold,
  * params columns — stays with the table's owner.
  *
  *  - Fold point: the max epoch folded into the baseline, -1 when never
  *    folded.
  *  - Replay interlock (`requireUnfolded`): an epoch at or below the fold
  *    point is refused. A replayed ingest of a folded epoch would
  *    otherwise overwrite or duplicate baseline rows, and a replay view
  *    cannot exclude it (its rows are indistinguishable inside the
  *    baseline). Compact only while ingestion is quiescent; committed-
  *    batch replays are the last batch only, and that is the loud case.
  *  - Partial-epoch check: an append writes its datasets in order, the
  *    epoch ledger last. A dataset written earlier that holds an epoch
  *    above the ledger's max is a crash between the append's writes;
  *    folding it would bake the inconsistency into the baseline, so the
  *    interrupted ingest must be replayed (idempotent) first. A ledger
  *    epoch with no data rows (a shard that produced none) is complete.
  *  - Stage writes, then the atomically published `_compact_pending`
  *    marker, then the swap; `open` finishes a swap a crash left pending,
  *    and every open, append and compaction starts with it.
  *  - A rebuild resets maintenance history (`reset`).
  *
  * Single-writer contract: one LIVE writer per table (appends AND
  * compaction) — the streaming checkpoint enforces the one owner in
  * deployment. Epoch idempotence covers crashed-writer replays, not two
  * concurrent lives (see Dedup.appendToMinhashIndex). */
private[graft] final class EpochStore private (
    val marker: Path,
    foldPoint: () => Long,
    maxEpochs: () => Seq[(String, Long)],
    stage: Long => Unit,
    swap: String => Unit,
    refresh: () => Unit,
    clear: () => Unit) {

  /** Finish a swap a crash left pending (idempotent: a missing stage
    * means that dataset's swap already happened), then re-list. */
  def open(): Unit = {
    if (Files.exists(marker)) {
      swap(Files.readString(marker).trim)
      Files.deleteIfExists(marker)
    }
    refresh()
  }

  def maxFolded: Long = foldPoint()

  /** The replay interlock, for appends and for replay views that exclude
    * an epoch alike. */
  def requireUnfolded(epoch: Long): Unit = {
    open()
    val mf = maxFolded
    require(epoch > mf,
      s"epoch $epoch was folded by compaction (max folded: $mf); " +
        "compact only while ingestion is quiescent")
  }

  /** Fold every appended epoch into one baseline. Returns the fold point;
    * with nothing appended since the last fold — or ever: the epoch-0
    * build already is a baseline — nothing is rewritten and the previous
    * fold point (-1 when never folded) comes back. `crashBeforeSwap` is
    * the test seam (see [[EpochStore.publish]]). */
  def compact(crashBeforeSwap: Boolean = false): Long = {
    open()
    val maxes = maxEpochs()
    val baseline = maxes.last._2
    require(maxes.forall(_._2 <= baseline),
      s"partial epoch across ${maxes.map(_._1).mkString(", ")} " +
        s"(max epochs: ${maxes.map(_._2).mkString(", ")}); replay the " +
        "interrupted ingest before compacting")
    val mf = maxFolded
    if (baseline <= math.max(0L, mf)) return mf
    stage(baseline)
    EpochStore.publish(marker, baseline.toString, crashBeforeSwap)
    open()
    baseline
  }

  /** A REBUILD starts maintenance history over: drop the fold point, a
    * pending marker, and any staged rewrite — otherwise the fresh table
    * would refuse early epochs or resurrect a dead stage over new data.
    * Called by the write paths before the base write. */
  def reset(): Unit = {
    clear()
    Files.deleteIfExists(marker)
    ()
  }
}

private[graft] object EpochStore {

  val Marker = "_compact_pending"

  /** One epoch-carrying dataset of a store: its name (a directory under
    * the root, or a suffix of the index table — "" for the table itself),
    * its layout columns (partition columns, epoch last, for a directory;
    * bucket-and-sort columns for a warehouse table), and how its rows
    * fold into the baseline — a relabel for data rows, a re-aggregate for
    * count rows. */
  case class EpochData(name: String, layout: Seq[String],
                       fold: (DataFrame, Long) => DataFrame)

  /** Plain data rows: folding just relabels the epoch. */
  def relabel(name: String, layout: Seq[String]): EpochData =
    EpochData(name, layout, (df, b) => df.withColumn("epoch", lit(b)))

  /** Datasets under one root `path`, in append write order (ledger last).
    * Fold point in `<path>/_max_folded`, marker `<path>/_compact_pending`
    * holding the baseline; each rewrite is staged at `<name>_stage` and
    * swapped by moving it over `<name>`. */
  def dirs(spark: SparkSession, path: String,
           datasets: Seq[EpochData]): EpochStore = {
    val folded = Paths.get(path, "_max_folded")
    def staged(d: EpochData): Path = Paths.get(path, s"${d.name}_stage")
    new EpochStore(Paths.get(path, Marker),
      foldPoint = () =>
        if (Files.exists(folded)) Files.readString(folded).trim.toLong else -1L,
      maxEpochs = () =>
        datasets.map(d => d.name -> maxEpoch(spark.read.parquet(s"$path/${d.name}"))),
      stage = b => datasets.foreach { d =>
        d.fold(spark.read.parquet(s"$path/${d.name}"), b)
          .write.partitionBy(d.layout: _*).mode("overwrite")
          .parquet(staged(d).toString)
      },
      swap = baseline => {
        datasets.foreach { d =>
          if (Files.exists(staged(d))) {
            deleteTree(Paths.get(path, d.name))
            Files.move(staged(d), Paths.get(path, d.name))
          }
        }
        Files.writeString(folded, baseline)
      },
      refresh = () => (),
      clear = () => {
        Files.createDirectories(Paths.get(path))
        Files.deleteIfExists(folded)
        datasets.foreach(d => deleteTree(staged(d)))
      })
  }

  /** Bucketed warehouse tables: `<table><name>` per dataset, in append
    * write order (ledger last), plus `<table>_params`, whose
    * `max_folded_epoch` column holds the fold point (read tolerantly:
    * params tables written before compaction existed lack it) and whose
    * `n_buckets` sizes every bucketed rewrite. Marker
    * `<warehouse>/_compact_pending_<table>`. Each rewrite is staged as
    * `<t>_cstage` and swapped by DROP + RENAME: a managed-table rename
    * moves the data directory and keeps the bucket spec (the no-shuffle
    * probe layout), which a directory move would lose. Every open
    * re-lists the tables: they are appended to from OTHER sessions (a
    * streaming foreachBatch runs in a clone), and a long-lived session
    * caches a catalog table's file listing on first touch. */
  def tables(spark: SparkSession, table: String,
             datasets: Seq[EpochData]): EpochStore = {
    val params = s"${table}_params"
    val names = datasets.map(d => s"$table${d.name}") :+ params
    val warehouse =
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    new EpochStore(Paths.get(warehouse, s"${Marker}_$table"),
      foldPoint = () => {
        val p = spark.table(params).head()
        if (p.schema.fieldNames.contains("max_folded_epoch"))
          p.getAs[Long]("max_folded_epoch")
        else -1L
      },
      maxEpochs = () => datasets.map(d =>
        d.name -> maxEpoch(spark.table(s"$table${d.name}"))),
      stage = b => {
        val nBuckets = spark.table(params).head().getAs[Int]("n_buckets")
        datasets.foreach { d =>
          val w = d.fold(spark.table(s"$table${d.name}"), b)
            .write.mode("overwrite").format("parquet")
          (if (d.layout.isEmpty) w
           else w.bucketBy(nBuckets, d.layout.head, d.layout.tail: _*)
             .sortBy(d.layout.head, d.layout.tail: _*))
            .saveAsTable(s"$table${d.name}_cstage")
        }
        spark.table(params).withColumn("max_folded_epoch", lit(b))
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${params}_cstage")
      },
      swap = _ => names.foreach { t =>
        if (spark.catalog.tableExists(s"${t}_cstage")) {
          spark.sql(s"DROP TABLE IF EXISTS $t")
          spark.sql(s"ALTER TABLE ${t}_cstage RENAME TO $t")
        }
      },
      refresh = () => names.foreach { t =>
        if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
      },
      // true overwrite semantics for the rebuild: a previous session's
      // managed location (catalog entry gone, files still on disk) would
      // block saveAsTable, which refuses to adopt a location it did not
      // create
      clear = () => names.flatMap(t => Seq(t, s"${t}_cstage")).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        deleteTree(Paths.get(warehouse, t))
      })
  }

  /** Max epoch of a dataset, -1 when it has no rows. Partition-column
    * inference reads `epoch=N` back as INT — hence the cast. */
  private def maxEpoch(df: DataFrame): Long = {
    val r = df.agg(max(col("epoch").cast("long"))).head()
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  /** Atomically publish `content` at `file`: write `<file>.tmp`, then
    * ATOMIC_MOVE it over `file` — readers see the previous file or the
    * complete new one, never a torn write. `crashBeforeSwap` is the one
    * test seam of every swap protocol: throw right after a swap marker is
    * durable, before the swap it guards runs — the worst crash point
    * recovery must finish. */
  def publish(file: Path, content: String,
              crashBeforeSwap: Boolean = false): Unit = {
    Files.createDirectories(file.getParent)
    val tmp = file.resolveSibling(s"${file.getFileName}.tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    if (crashBeforeSwap)
      throw new IllegalStateException(s"test crash seam: before the swap $file guards")
  }

  /** Delete a file tree, children first; absent is fine. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(q => { Files.deleteIfExists(q); () })
      finally s.close()
    }
}
