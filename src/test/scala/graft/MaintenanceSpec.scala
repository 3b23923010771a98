package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.EpochStore
import graft.ops.{Ann, Decontaminate, Dedup, Lm, Mix}
import graft.pipeline.{Curation, Maintenance, StreamingCuration}

/** The single maintenance window: one call compacts every serving table
  * a curation state names, probes are byte-identical across it, and a
  * replay of a folded epoch refuses loudly (the interlock the
  * quiescence contract promises). */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_maint_${tag}_${System.nanoTime()}").getAbsolutePath

  private def docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source"), col("lang"))

  /** Drop warehouse tables with their compaction stages. */
  private def dropTables(names: String*): Unit =
    names.flatMap(t => Seq(t, s"${t}_cstage"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def indexTables(table: String, gtable: String): Seq[String] =
    Seq(table, s"${table}_counts", s"${table}_params",
      gtable, s"${gtable}_params", s"${gtable}_epochs")

  /** A bootstrapped curation state (scrub required), named per test. */
  private def bootstrapped(tag: String): (Curation.Indexes, String) = {
    val ix = Curation.Indexes(minhashTable = s"mh_maint_$tag",
      statsPath = tmp("stats"), modelPath = tmp("model"), lmPath = tmp("lm"),
      gramTable = Some(s"gx_maint_$tag"))
    val corpusPath = tmp("corpus")
    StreamingCuration.bootstrap(docs.filter(col("doc_id") < 300), ix,
      corpusPath, requireScrub = true)
    (ix, corpusPath)
  }

  test("one window compacts all named tables; probes byte-identical; folded-epoch replay refuses") {
    val table = "mh_maint_spec"; val gtable = "gx_maint_spec"
    (Seq(table, s"${table}_counts", s"${table}_params") ++
      Seq(gtable, s"${gtable}_params", s"${gtable}_epochs"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val ix = Curation.Indexes(minhashTable = table, statsPath = tmp("stats"),
      modelPath = tmp("model"), lmPath = tmp("lm"),
      gramTable = Some(gtable))
    val corpusPath = tmp("corpus")
    val outDir = tmp("out")

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("source"), col("lang"))
    val corpus = docs.filter(col("doc_id") < 300)
    StreamingCuration.bootstrap(corpus, ix, corpusPath, requireScrub = true)
    val bench = Seq("unrelated benchmark snippet never matching anything")
      .toDF("snippet")

    // two committed batches grow epochs 1 and 2 in every accept-fed table
    val b0 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
    val b1 = docs.filter(col("doc_id") >= 350 && col("doc_id") < 400)
    StreamingCuration.curateBatch(b0, 0L, ix, corpusPath, outDir,
      bench, "snippet")
    StreamingCuration.curateBatch(b1, 1L, ix, corpusPath, outDir,
      bench, "snippet")

    // a read-only probe shard: decisions captured before the window
    val probeShard = docs.filter(col("doc_id") >= 400 && col("doc_id") < 440)
    def probe(): Seq[(Long, String, Int)] = {
      val scrubbed = Curation.scrubShard(spark, probeShard, ix)
      Curation.curateShard(spark, scrubbed,
          StreamingCuration.openCorpus(spark, corpusPath).drop("epoch"),
          ix, bench, "snippet")
        .select(col("doc_id"), col("decision"), col("n_copies"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        .sortBy(_._1).toSeq
    }
    val pre = probe()
    assert(pre.nonEmpty)

    // ONE call compacts everything the state names
    val folds = Maintenance.run(spark, ix, corpusPath = Some(corpusPath))
    val byTable = folds.map(f => f.table -> f.foldPoint).toMap
    assert(byTable.keySet == Set("minhash_index", "mix_stats", "lm_counts",
      "gram_index", "corpus", "probe_model", "lm_model"), byTable.toString)
    // accept-fed tables folded both batch epochs; the LM counts are
    // bootstrap-only in this loop (retrain-only state) — never folded
    // reads -1 in the cells-layout convention
    for (t <- Seq("minhash_index", "mix_stats", "gram_index", "corpus"))
      assert(byTable(t) == 2L, s"$t fold point ${byTable(t)}")
    assert(byTable("lm_counts") == -1L, byTable.toString)
    // model roots report the surviving (current) version: v0, no retrain
    // has happened in this loop
    assert(byTable("probe_model") == 0L, byTable.toString)
    assert(byTable("lm_model") == 0L, byTable.toString)

    // probes across the window are byte-identical
    assert(probe() == pre, "probe diverged across the maintenance window")

    // the quiescence interlock: replaying a FOLDED epoch refuses loudly
    // instead of corrupting the baseline (this is the documented crash
    // mode of compacting while a batch was uncommitted)
    val e = intercept[Exception] {
      StreamingCuration.curateBatch(b1, 1L, ix, corpusPath, outDir,
        bench, "snippet")
    }
    assert(e.getMessage != null && e.getMessage.contains("folded"),
      e.toString)
    // the refused replay wrote nothing: probes still byte-identical
    assert(probe() == pre, "refused replay mutated serving state")

    // a second window is a no-op at the same fold points
    val folds2 = Maintenance.run(spark, ix, corpusPath = Some(corpusPath))
    assert(folds2.map(f => f.table -> f.foldPoint).toMap == byTable)

    (Seq(table, s"${table}_counts", s"${table}_params") ++
      Seq(gtable, s"${gtable}_params", s"${gtable}_epochs"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("fold-point convention: a bootstrap-only state rewrites nothing and every epoch table reports -1") {
    val (ix, corpusPath) = bootstrapped("boot")
    val (table, gtable) = (ix.minhashTable, ix.gramTable.get)
    def files(): Seq[Set[String]] = Seq(table, s"${table}_counts", gtable)
      .map(t => spark.table(t).inputFiles.toSet)
    val before = files()
    val folds = Maintenance.run(spark, ix, corpusPath = Some(corpusPath))
      .map(f => f.table -> f.foldPoint).toMap
    for (t <- Seq("minhash_index", "mix_stats", "lm_counts", "gram_index", "corpus"))
      assert(folds(t) == -1L, s"$t fold point ${folds(t)}")
    assert(files() == before, "a bootstrap-only index was rewritten")
    dropTables(indexTables(table, gtable): _*)
  }

  test("partial epoch: a warehouse index whose append crashed between its writes refuses compaction until the replay completes it") {
    import spark.implicits._
    val corpus = docs.filter(col("doc_id") < 300)
    val shard = docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
    val (table, twin) = ("mh_partial_spec", "mh_partial_spec_twin")
    val (gtable, gtwin) = ("gx_partial_spec", "gx_partial_spec_twin")
    def refused(compact: => Long): Unit = {
      val e = intercept[IllegalArgumentException](compact)
      assert(e.getMessage.contains("partial epoch") &&
        e.getMessage.contains("replay the interrupted ingest"), e.getMessage)
    }

    // minhash: the append's first job (epoch-1 bucket rows) committed, its
    // second (the counts ledger) never ran. A build of the shard alone
    // writes exactly those bucket rows under epoch 0.
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", table)
    Dedup.writeMinhashIndex(shard, "doc_id", "text", twin)
    spark.table(twin).withColumn("epoch", lit(1L))
      .write.mode("append").bucketBy(32, "band", "h").sortBy("band", "h")
      .format("parquet").saveAsTable(table)
    refused(Dedup.compactMinhashIndex(spark, table))
    Dedup.appendToMinhashIndex(shard, "doc_id", "text", table, epoch = 1L)
    assert(Dedup.compactMinhashIndex(spark, table) == 1L)
    assert(spark.table(table).count() ==
      spark.table(s"${table}_counts").agg(sum("n_corpus")).head().getLong(0),
      "bucket rows diverged from the summed key counts")

    // gram: the keepers' grams committed, the `_epochs` ledger row did not
    Decontaminate.writeGramIndex(corpus, "text", gtable)
    def scrub(idx: Decontaminate.GramIndex) =
      Decontaminate.removeDupSpansServed(shard, "doc_id", "text", idx)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val clean = scrub(Decontaminate.openGramIndex(spark, gtable))
    Decontaminate.writeGramIndex(shard, "text", gtwin)
    spark.table(gtwin).withColumn("epoch", lit(1L))
      .write.mode("append").bucketBy(32, "gh").sortBy("gh")
      .format("parquet").saveAsTable(gtable)
    refused(Decontaminate.compactGramIndex(spark, gtable))
    // the replayed batch's scrub still excludes its own grams
    assert(scrub(Decontaminate.openGramIndex(spark, gtable,
      excludeEpoch = Some(1L))) == clean)
    Decontaminate.appendToGramIndex(shard, "text", gtable, epoch = 1L)
    assert(Decontaminate.compactGramIndex(spark, gtable) == 1L)
    // a ledger row with no gram rows (a shard too short to hold an
    // n-gram) is a complete epoch, not a partial one
    Decontaminate.appendToGramIndex(Seq((9001L, "too short")).toDF("doc_id", "text"),
      "text", gtable, epoch = 2L)
    assert(spark.table(gtable).filter(col("epoch") === 2L).count() == 0L)
    assert(Decontaminate.compactGramIndex(spark, gtable) == 2L)

    dropTables(indexTables(table, gtable) ++ indexTables(twin, gtwin): _*)
  }

  test("crash matrix: a crash at the swap seam of every table a window compacts is finished by the next open") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val (ix, corpusPath) = bootstrapped("crash")
    val (table, gtable) = (ix.minhashTable, ix.gramTable.get)
    val bench = Seq("unrelated benchmark snippet never matching anything")
      .toDF("snippet")
    val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 350)
    // epoch 1 in the accept-fed tables; accepts never feed the LM counts
    StreamingCuration.curateBatch(batch, 0L, ix, corpusPath, tmp("out"),
      bench, "snippet")
    Lm.appendCounts(batch, ix.lmPath, epoch = 1L)
    val probeShard = docs.filter(col("doc_id") >= 400 && col("doc_id") < 440)

    // the ANN serving structures, each with one appended epoch
    val dim = 16
    def rand(seed: Long): Seq[Float] =
      Seq.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    def embOf(ids: Seq[Long]) = ids.map(p => (p, rand(p))).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val qv = rand(424242L).toArray
    val (ivfDir, pqDir, knnDir) = (tmp("ivf"), tmp("ivfpq"), tmp("knn"))
    val built = Ann.Ivf.buildIndex(embOf(1L to 300L), "vec_id", "embedding",
      nlist = 8, sampleN = 400)
    Ann.Ivf.writeIndex(built, ivfDir)
    Ann.Ivf.appendToIndex(spark, ivfDir, embOf(301L to 400L), "embedding", epoch = 1L)
    val cb = Ann.Pq.train(embOf(1L to 300L), "vec_id", "embedding", dim,
      m = 4, ksub = 16, sampleN = 400)
    Ann.Pq.writeIvfPqIndex(built, cb, pqDir)
    Ann.Pq.appendToIvfPqIndex(spark, pqDir, embOf(301L to 400L), "vec_id",
      "embedding", epoch = 1L)
    Ann.writeKnnCorpus(embOf(1L to 200L), "vec_id", "embedding", knnDir,
      dim = dim, nBits = 4, nTables = 2)
    Ann.appendToKnnCorpus(spark, knnDir, embOf(201L to 260L), "vec_id",
      "embedding", epoch = 1L)
    val queries = embOf(Seq(500L, 1L, 250L))

    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    val matrix: Seq[(String, EpochStore, () => Set[String])] = Seq(
      ("minhash_index", Dedup.minhashStore(spark, table), () =>
        rows(Dedup.incrementalCandidates(probeShard, "doc_id", "text",
          Dedup.openMinhashIndex(spark, table)))),
      ("gram_index", Decontaminate.gramStore(spark, gtable), () =>
        rows(Decontaminate.removeDupSpansServed(probeShard, "doc_id", "text",
          Decontaminate.openGramIndex(spark, gtable)))),
      ("mix_stats", Mix.statsStore(spark, ix.statsPath), () =>
        rows(Mix.rates(Mix.openStats(spark, ix.statsPath)))),
      ("lm_counts", Lm.countsStore(spark, ix.lmPath), () =>
        rows(Lm.score(probeShard, Lm.openModel(spark, ix.lmPath)))),
      ("corpus", StreamingCuration.corpusStore(spark, corpusPath), () =>
        rows(StreamingCuration.openCorpus(spark, corpusPath).drop("epoch"))),
      ("ivf_cells", Ann.cellsStore(spark, ivfDir), () =>
        rows(Ann.Ivf.topKIndexed(Ann.Ivf.openIndex(spark, ivfDir, "vec_id",
          "embedding"), qv, 10, nProbe = 2))),
      ("ivfpq_cells", Ann.cellsStore(spark, pqDir), () =>
        rows(Ann.Pq.topKIvfServed(Ann.Pq.openIvfPqIndex(spark, pqDir, "vec_id"),
          embOf(1L to 400L), "vec_id", "embedding", qv, 5, nProbe = 2))),
      ("knn_corpus", Ann.knnStore(spark, knnDir), () =>
        rows(Ann.knnJoinServed(Ann.openKnnCorpus(spark, knnDir), queries,
          "vec_id", "embedding", k = 4))))
    assert(matrix.map(_._1).toSet == Set("minhash_index", "gram_index",
      "mix_stats", "lm_counts", "corpus", "ivf_cells", "ivfpq_cells",
      "knn_corpus"))

    for ((name, store, answers) <- matrix) {
      val want = answers()
      assert(want.nonEmpty, s"$name: no answers — the check would be vacuous")
      intercept[IllegalStateException](store.compact(crashBeforeSwap = true))
      assert(Files.exists(store.marker), s"$name: no pending swap after the crash")
      assert(answers() == want, s"$name: answers changed across the recovered swap")
      assert(!Files.exists(store.marker), s"$name: the next open left the swap pending")
      assert(store.maxFolded == 1L, s"$name: fold point ${store.maxFolded}")
    }
    dropTables(indexTables(table, gtable): _*)
  }
}
