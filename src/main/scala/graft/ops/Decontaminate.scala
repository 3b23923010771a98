package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{alnum_word_starts, alnum_words}
import graft.io.EpochStore

/** Benchmark decontamination: flag corpus documents that share any word
  * n-gram with a benchmark/eval set — the GPT-3 appendix-C / The-Pile
  * 13-gram overlap rule every serious training-data pipeline runs before
  * training. (The reference has no eval-set hygiene; this extends its
  * corpus tooling the way the dedup tier does.)
  *
  * Scale shape: both sides reduce to (gram-hash) keys BEFORE the wide op —
  * the corpus side shuffles distinct (doc_id, hash) pairs (≤ words-per-doc
  * longs, never text), the bench side distinct hashes only. Overlap is a
  * hash equi-join + hash agg; with a small bench side Catalyst/AQE
  * broadcasts it (no shuffle of the corpus at all). The oracle-exact SQL
  * twin for small literal benches is d09_decontaminate (substring form);
  * DecontaminateSpec pins this operator against a brute-force gram
  * intersect on real corpus samples.
  */
object Decontaminate {

  /** Normalized word array: the maximal ASCII `[a-zA-Z0-9]` runs,
    * ASCII-lowercased, in one byte scan (`graft.functions.AlnumRuns`);
    * null stays null, a text without such a run gives `[]`. The same words
    * as the regex form `filter(split(lower(regexp_replace(t,
    * "[^a-zA-Z0-9]+", " ")), " "), nonEmpty)` and its DuckDB oracle twin
    * (after that replace only ASCII alnum and spaces remain), so gram
    * hashes, and the gram indexes written with them, do not depend on
    * which form computed them. */
  private[graft] def wordsOf(textCol: Column): Column = alnum_words(textCol)

  /** n-gram hashes over an already-materialized word-array COLUMN. The
    * words must be a bound column, not an inline expression: Catalyst
    * inlines a free expression into the transform lambda and re-evaluates
    * it per gram — the word scan would run O(grams) times per row
    * (measured 23.6 s -> 1.6 s at sf0.1 for the bound form). */
  private def gramsFromWords(w: Column, n: Int): Column =
    when(size(w) >= n,
      transform(sequence(lit(0), size(w) - n),
        i => xxhash64(array_join(slice(w, i + lit(1), lit(n)), " "))))
      .otherwise(array().cast("array<bigint>"))

  /** All word n-grams of a text column as xxhash64 keys (empty when the
    * text has fewer than n words). Pure array HOFs — narrow, codegen'd. */
  def gramHashes(textCol: Column, n: Int): Column =
    gramsFromWords(wordsOf(textCol), n)

  /** Distinct (id, gram-hash) pairs of an (id, w) word frame. Ids are
    * unique per document (every caller's contract), so duplicate (id, gh)
    * pairs can only arise WITHIN one row — a per-row `array_distinct`
    * before the explode yields exactly the distinct pairs with NO
    * exchange, where the r6 form shuffled every gram row through a global
    * `distinct()` (guide §2.4: a distinct on data that is already unique
    * across rows). */
  private def gramPairs(w: DataFrame, n: Int): DataFrame =
    w.select(col("id"), explode(array_distinct(gramsFromWords(col("w"), n))).as("gh"))

  /** `gramPairs` of a document set, tokenized in the same narrow stage.
    * Scale shape: one word scan and one per-row gram pass, no exchange;
    * every consumer (the bench-overlap joins, the self-dup aggregate, the
    * span-removal marks) shuffles only the (id, gh) longs it derives. */
  private def gramTable(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame =
    gramPairs(docs.select(col(idCol).as("id"), wordsOf(col(textCol)).as("w")), n)

  /** Distinct bench-side gram hashes. The per-row array_distinct removes
    * within-doc repeats before the explode, so the global distinct's
    * exchange carries only cross-doc survivors (r7, guide §2.3). */
  private def benchGramSet(bench: DataFrame, benchTextCol: String, n: Int): DataFrame =
    bench.select(wordsOf(col(benchTextCol)).as("w"))
      .select(explode(array_distinct(gramsFromWords(col("w"), n))).as("gh"))
      .distinct()

  /** Corpus documents contaminated by the bench set: one row per flagged
    * doc with the number of distinct overlapping n-grams.
    * Output: (idCol, n_hits). */
  def contaminated(corpus: DataFrame, idCol: String, textCol: String,
                   bench: DataFrame, benchTextCol: String,
                   n: Int = 13): DataFrame = {
    require(n >= 2, s"n=$n: a 1-gram overlap check flags any shared word — " +
      "use a real n-gram width (GPT-3 used 13)")
    gramTable(corpus, idCol, textCol, n)
      .join(benchGramSet(bench, benchTextCol, n), "gh")
      .groupBy(col("id").as(idCol))
      .agg(count("*").cast("int").as("n_hits"))
  }

  /** `contaminated` with a BLOOM pre-filter on the corpus side — the
    * runtime-filter shape for when the bench/eval set is too large to
    * broadcast (say 10^8 grams from a full eval-suite sweep): without it,
    * the join sort-merges and EVERY corpus gram hash shuffles — at 10^12
    * docs that shuffle dwarfs the real overlap, which is near-empty by
    * construction. A bloom over the bench gram hashes (~1.2 GB at 10^9
    * entries / 1% fpp, ~10-20x smaller than a hash relation) broadcasts
    * where the exact set cannot, and the corpus side drops non-candidate
    * grams BEFORE its exchange; false positives die in the exact join
    * that follows, so the result is row-identical to `contaminated`
    * (spec-pinned, and x33 pins it against the same DuckDB oracle as
    * x18). `expectedBenchGrams` sizes the filter without an extra
    * counting pass when the caller knows the bench scale (same hint
    * pattern as Ann.hashSample); <= 0 counts. The probe is a Scala UDF
    * because Spark exposes no public might_contain — one primitive-long
    * call per gram, applied only on the pre-exchange map side. */
  def contaminatedPrefiltered(corpus: DataFrame, idCol: String, textCol: String,
                              bench: DataFrame, benchTextCol: String,
                              n: Int = 13, fpp: Double = 0.01,
                              expectedBenchGrams: Long = -1L): DataFrame = {
    require(n >= 2, s"n=$n: a 1-gram overlap check flags any shared word — " +
      "use a real n-gram width (GPT-3 used 13)")
    val bg = benchGramSet(bench, benchTextCol, n)
    val expected = if (expectedBenchGrams > 0L) expectedBenchGrams
      else math.max(bg.count(), 1L)
    val bloom = bg.stat.bloomFilter("gh", expected, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((gh: Long) => bc.value.mightContainLong(gh))
    // the filter sits on the per-row-distinct gram pairs (gramTable is
    // exchange-free since r7), still below any shuffle — pruning before
    // the join is the entire point
    gramTable(corpus, idCol, textCol, n)
      .filter(mightContain(col("gh")))
      .join(bg, "gh")
      .groupBy(col("id").as(idCol))
      .agg(count("*").cast("int").as("n_hits"))
  }

  /** Cross-document duplicated-gram score — the INTRA-corpus twin of
    * `overlapScore` (ExactSubstr-style boilerplate detection at gram
    * granularity, after Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): for every doc, the count and fraction of
    * its distinct n-grams that also appear in at least one OTHER
    * document. High ratios flag licence headers, templated boilerplate,
    * and near-copies that survived doc-level dedup.
    *
    * Scale shape: the (id, gram-hash) table has no exchange (`gramTable`
    * is a per-row array_distinct + explode), so each of its two consumers
    * (the ≥2-doc gram aggregate and the probe) derives it narrowly in its
    * own map stage; everything downstream is gh-keyed hash aggs + an
    * equi-join, then the id-keyed reattach.
    * Output: (idCol, n_grams, n_dup, dup_ratio). */
  def selfDupScore(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 13): DataFrame = {
    require(n >= 2, s"n=$n: a 1-gram rule flags any shared word — " +
      "use a real n-gram width")
    val grams = gramTable(docs, idCol, textCol, n)
    // a gram's doc count needs distinct docs — gramTable is already
    // distinct on (id, gh), so count(*) per gh IS the doc count
    val shared = grams.groupBy("gh").agg(count("*").as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("gh"), lit(1).as("_dup"))
    val scored = grams.join(shared, Seq("gh"), "left")
      .groupBy(col("id"))
      .agg(count("*").cast("int").as("n_grams"),
        coalesce(sum("_dup"), lit(0L)).cast("int").as("n_dup"))
    docs.select(col(idCol).as("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0)).as("n_grams"),
        coalesce(col("n_dup"), lit(0)).as("n_dup"))
      .withColumn("dup_ratio",
        round(col("n_dup") * lit(1e0) / greatest(col("n_grams"), lit(1)), 6))
  }

  /** ExactSubstr-style duplicated-span REMOVAL — the action form of
    * `selfDupScore` (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): every word n-gram appearing in ≥ 2
    * documents keeps its occurrences only in the smallest doc_id that
    * contains it; in every other document the words covered by such a
    * gram are cut out and the text is rebuilt from the surviving words.
    * Doc-level dedup falls out as the degenerate case (a full clone of a
    * smaller id empties); the common case is surgical — licence headers,
    * templated boilerplate, and quoted passages vanish from the copies
    * while the keeper and all unique prose survive verbatim.
    *
    * Output text is word-normalized (lowercased alnum runs joined by one
    * space — the same C4-style normalization every gram consumer here
    * uses); n_removed counts cut words. Deterministic: the keeper rule is
    * min(id), no RNG, no floats.
    *
    * Scale shape: the gram side never carries positions. The per-doc
    * distinct (id, gh) pairs (`gramPairs`, narrow) shuffle once by gh and
    * are sorted within each partition by (gh, id); one streaming pass
    * (`runMarks`) then marks every pair after the first of its gh run, so
    * there is no shared-gram aggregate and no keeper join. A boilerplate
    * gram is a long run that the sort spills, never an in-memory list.
    * The rebuild never explodes words: each doc's marked hashes collapse
    * into one array (an id-keyed agg over the marked pairs only), that
    * array joins id-keyed onto the doc's word array, and for marked docs
    * only the gram hashes are recomputed to find the cut starts; coverage
    * plus survivors come out of one narrow sweep per row
    * (`keptPositions`). Docs with no mark pass through untouched. Per-row
    * state is bounded by words-per-doc, the same mega-doc-salting
    * assumption as the rest of the span tier.
    * Output: (idCol, n_words, n_removed, text_clean). */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 13): DataFrame = {
    require(n >= 2, s"n=$n: a 1-gram rule removes any shared word — " +
      "use a real n-gram width")
    val w = docs.select(col(idCol).as("id"), wordsOf(col(textCol)).as("w"))
    rebuildNormalized(w, runMarks(gramPairs(w, n)), n).withColumnRenamed("id", idCol)
  }

  /** The min-id keeper rule over per-doc-distinct (id, gh) pairs: the
    * (id, gh) pairs whose gram is in >= 2 docs and whose doc is not the
    * gram's smallest id. Pairs are hash-partitioned by gh and sorted by
    * (gh, id) within each partition, so each gram is one run that starts
    * at its keeper; a streaming pass emits every later pair of the run. A
    * run of one pair is an unshared gram. A null id can neither keep nor
    * lose a gram, so null-id pairs are dropped before the sort (nulls
    * sort first and would head their runs). Output: (id, gh). */
  private[graft] def runMarks(pairs: DataFrame): DataFrame = {
    // gh first: the exchange's compressed rows come out ~10% smaller
    // than in (id, gh) order (measured on the benchmark corpus)
    val sorted = pairs.select("gh", "id").filter(col("id").isNotNull)
      .repartition(col("gh")).sortWithinPartitions("gh", "id")
    sorted.mapPartitions { rows =>
      var gh = 0L; var keeper: Any = null
      rows.filter { r =>
        if (keeper != null && r.getLong(0) == gh) r.get(1) != keeper
        else { gh = r.getLong(0); keeper = r.get(1); false }
      }
    }(Encoders.row(sorted.schema)).select("id", "gh")
  }

  /** The coverage kernel: the positions of a `nWords`-word doc that
    * survive once every word covered by a marked gram start is cut (start
    * `p` covers words `p until p + n`). One sort of the starts, one sweep
    * of the words with a running `covEnd = max(p + n)` over the starts
    * `<= i`; word `i` is kept iff `covEnd <= i`. Starts may repeat or
    * arrive in any order. */
  private[graft] def keptPositions(nWords: Int, starts: Seq[Int],
                                   n: Int): Array[Int] = {
    val s = starts.toArray
    java.util.Arrays.sort(s)
    val kept = Array.newBuilder[Int]
    var covEnd = 0; var j = 0; var i = 0
    while (i < nWords) {
      while (j < s.length && s(j) <= i) { covEnd = math.max(covEnd, s(j) + n); j += 1 }
      if (covEnd <= i) kept += i
      i += 1
    }
    kept.result()
  }

  /** Shared tail of the span-removal forms. `docs` carries (id, w, ...);
    * `marks` is the (id, gh) pairs to cut. The marked hashes become one
    * array per doc (id-keyed agg) and join id-keyed onto `docs`; for a
    * marked doc only, the cut starts are the positions whose gram hash is
    * marked, and `keptPositions` runs once per row. Adds `_kp` (kept
    * positions; null when the doc has no mark, so such docs pass through
    * untouched), `n_words` and `n_removed`. */
  private def withKept(docs: DataFrame, marks: DataFrame, n: Int): DataFrame = {
    val keep = udf { (nWords: Int, grams: Seq[Long], marked: Seq[Long]) =>
      val m = marked.toSet
      keptPositions(nWords, grams.indices.filter(i => m(grams(i))), n)
    }
    docs.join(marks.groupBy("id").agg(collect_list("gh").as("_mg")),
        Seq("id"), "left")
      // a null text has a null word array, and Spark 4's size(null) is null
      .withColumn("n_words", coalesce(size(col("w")), lit(0)))
      .withColumn("_kp", when(col("_mg").isNotNull,
        keep(col("n_words"), gramsFromWords(col("w"), n), col("_mg"))))
      .withColumn("n_removed",
        col("n_words") - coalesce(size(col("_kp")), col("n_words")))
  }

  /** The normalized rebuild: kept words joined by one space.
    * Output: (id, n_words, n_removed, text_clean). */
  private def rebuildNormalized(w: DataFrame, marks: DataFrame, n: Int): DataFrame =
    withKept(w, marks, n)
      .select(col("id"), col("n_words"), col("n_removed"),
        coalesce(array_join(coalesce(
          transform(col("_kp"), p => element_at(col("w"), p + 1)), col("w")), " "),
          lit("")).as("text_clean"))

  /** The duplicated-gram index SERVED: the corpus side of `removeDupSpans`
    * as a build-once bucketed warehouse table of DISTINCT gram hashes, so
    * an incoming shard is scrubbed of corpus boilerplate with NO corpus
    * re-read — the probe streams the bucketed index with no exchange
    * (same layout contract as the served minhash index). */
  final case class GramIndex(grams: DataFrame, n: Int)

  /** Build the index of an existing corpus ONCE: one gram pass reduced to
    * distinct hashes, written bucketed+sorted by gh. */
  def writeGramIndex(docs: DataFrame, textCol: String,
                     table: String, n: Int = 13, nBuckets: Int = 32): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    gramStore(spark, table).reset()
    docs.select(wordsOf(col(textCol)).as("w"))
      .select(explode(array_distinct(gramsFromWords(col("w"), n))).as("gh"))
      .distinct()
      .withColumn("epoch", lit(0L))
      .write.mode("overwrite").bucketBy(nBuckets, "gh").sortBy("gh")
      .format("parquet").saveAsTable(table)
    Seq((n, nBuckets)).toDF("n", "n_buckets")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_params")
    Seq(Tuple1(0L)).toDF("epoch")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_epochs")
  }

  /** The index's epoch store. An append writes the grams, then its
    * `_epochs` ledger row. Every accepted shard appends its DISTINCT grams
    * as an epoch, so at shard-per-hour ingestion the bucketed table
    * accretes files AND duplicate gh rows (a keeper's gram that was
    * already in the corpus repeats under the new epoch — harmless to the
    * set-semantics probes, but paid on every scan forever). Compaction
    * rewrites the table as ONE distinct-gh baseline, keeping the SAME
    * bucket spec (the no-shuffle probe layout survives), and collapses the
    * ledger to the baseline row. */
  private[graft] def gramStore(spark: org.apache.spark.sql.SparkSession,
                               table: String): EpochStore =
    EpochStore.tables(spark, table, Seq(
      EpochStore.EpochData("", Seq("gh"), (df, b) =>
        df.select("gh").distinct().withColumn("epoch", lit(b))),
      EpochStore.EpochData("_epochs", Nil, (df, b) =>
        df.select(lit(b).as("epoch")).distinct())))

  /** Fold an accepted shard's grams in as one epoch — a SHARD-scale gram
    * pass appended into the bucket layout (probes keep streaming the index
    * with no exchange). A gram already present under an earlier epoch
    * simply repeats; the semi/anti probes are set-semantics, so duplicate
    * rows cannot change any answer — `compactGramIndex` folds the
    * accumulated epochs (and the duplicate rows) into one distinct-gh
    * baseline. Replays are no-ops via the tiny epoch ledger, and stay
    * no-ops for folded epochs (their grams live on inside the baseline).
    * Single-writer contract as everywhere in the serving tier: one live
    * writer per table (see Dedup.appendToMinhashIndex). */
  def appendToGramIndex(shard: DataFrame, textCol: String,
                        table: String, epoch: Long): Unit = {
    val spark = shard.sparkSession
    import spark.implicits._
    require(epoch > 0L, s"epoch must be positive (0 is the base build): $epoch")
    val store = gramStore(spark, table)
    store.open()
    // a folded epoch's grams live on inside the baseline, so its replayed
    // append stays a no-op — set semantics make this exact, not lossy
    if (epoch <= store.maxFolded) return
    if (spark.table(s"${table}_epochs").filter(col("epoch") === epoch)
        .limit(1).count() > 0) return
    val p = spark.table(s"${table}_params").head()
    val (n, nBuckets) = (p.getInt(0), p.getInt(1))
    shard.select(wordsOf(col(textCol)).as("w"))
      .select(explode(array_distinct(gramsFromWords(col("w"), n))).as("gh"))
      .distinct()
      .withColumn("epoch", lit(epoch))
      .write.mode("append").bucketBy(nBuckets, "gh").sortBy("gh")
      .format("parquet").saveAsTable(table)
    Seq(Tuple1(epoch)).toDF("epoch")
      .write.mode("append").format("parquet").saveAsTable(s"${table}_epochs")
  }

  /** Gram-index maintenance — the same story as `compactMinhashIndex`
    * (see `gramStore`). Probes answer byte-identically; a folded epoch
    * can no longer be EXCLUDED (`openGramIndex(excludeEpoch)` refuses it
    * loudly — compact only while ingestion is quiescent), while a folded
    * epoch's replayed APPEND stays a correct no-op (its grams live on in
    * the baseline). */
  def compactGramIndex(spark: org.apache.spark.sql.SparkSession,
                       table: String): Long =
    gramStore(spark, table).compact()

  /** `excludeEpoch` is the streaming-replay view: gram rows THIS batch's
    * crashed accept may already have appended are filtered out, so a
    * replayed scrub sees the exact pre-accept index (without it, a
    * replayed keeper would find its own grams indexed and scrub itself
    * to nothing). An epoch already folded by `compactGramIndex` cannot
    * be excluded — refused loudly (quiescence contract). */
  def openGramIndex(spark: org.apache.spark.sql.SparkSession,
                    table: String,
                    excludeEpoch: Option[Long] = None): GramIndex = {
    val store = gramStore(spark, table)
    store.open()
    excludeEpoch.foreach(store.requireUnfolded)
    val g = spark.table(table)
    val gf = excludeEpoch.map(e => g.filter(col("epoch") =!= e)).getOrElse(g)
    GramIndex(gf.select("gh"), spark.table(s"${table}_params").head().getInt(0))
  }

  /** `removeDupSpans` for an incoming shard against a WRITTEN gram index —
    * the incremental-pipeline form: per-shard cost is shard-scale, the
    * corpus appears only as the bucketed index probe. Corpus seniority: a
    * shard position whose gram is in the index is cut unconditionally
    * (the keeper lives in the corpus); grams unknown to the index fall
    * back to the in-shard min-id keeper rule. CONTRACT: shard ids must be
    * larger than every indexed doc's id — then the output is value-equal
    * to running `removeDupSpans` over corpus ∪ shard and keeping the
    * shard rows (x41 pins exactly that against the DuckDB full-run twin).
    * Plan: two probes of the index (left-semi for hits, left-anti for the
    * in-shard tier) — both stream the bucketed table with no exchange on
    * the index side; only shard-scale (id, gh) pairs shuffle. */
  def removeDupSpansServed(shard: DataFrame, idCol: String, textCol: String,
                           index: GramIndex): DataFrame = {
    val w = shard.select(col(idCol).as("id"), wordsOf(col(textCol)).as("w"))
    rebuildNormalized(w, servedMarked(w, index), index.n)
      .withColumnRenamed("id", idCol)
  }

  /** The served marks shared by the normalized and the text-preserving
    * rebuilds. `w` is (id, w: array<string>) of normalized words; returns
    * the (id, gh) pairs to cut. Scale shape: one narrow pass to the
    * per-doc-distinct pairs, probed against the index twice; the pairs
    * whose gram the index holds are marks outright (corpus seniority),
    * and the misses go through the same sorted-runs rule as the full form
    * (`runMarks`) for the in-shard keeper tier. */
  private[graft] def servedMarked(w: DataFrame, index: GramIndex): DataFrame = {
    val pairs = gramPairs(w, index.n)
    // the index may hold duplicate gh rows across epochs — semi/anti are
    // the fan-out-proof probes (a left join would multiply pairs)
    val hit = pairs.join(index.grams, Seq("gh"), "left_semi").select("id", "gh")
    // disjoint by construction (semi vs anti on the same probe)
    hit.union(runMarks(pairs.join(index.grams, Seq("gh"), "left_anti")))
  }

  /** `removeDupSpansServed` with the ORIGINAL text preserved — the form
    * the curation loop serves (Curation.scrubShard). The normalized
    * rebuild is right for the gram algebra (x39/x41 pin it value-exact)
    * but wrong as the surviving DOCUMENT: lowercasing and
    * punctuation-stripping every shard doc shifts quality-probe / LM
    * features off their raw-corpus training distribution (train/serve
    * skew) and persists a mangled corpus. Here:
    *   - a doc with NOTHING removed passes through VERBATIM (byte-equal);
    *   - a doc with removed spans is rebuilt from original codepoint
    *     slices: kept word `i` contributes text[start(i), start(i+1))
    *     (its run plus the punctuation/whitespace up to the next word;
    *     the last word runs to end-of-text), so case and punctuation
    *     survive on all kept content — RefinedWeb-style span removal
    *     keeps the surviving original text intact;
    *   - a full clone of indexed content still rebuilds to "".
    * Invariant (spec-pinned): normalizing the preserved rebuild yields
    * exactly the words of the normalized rebuild, so every downstream
    * gram/minhash consumer sees identical keys either way.
    * Output: (idCol, n_words, n_removed, text_clean). */
  def removeDupSpansServedPreserving(shard: DataFrame, idCol: String,
                                     textCol: String,
                                     index: GramIndex): DataFrame = {
    val d = shard.select(col(idCol).as("id"), col(textCol).as("_text"),
      wordsOf(col(textCol)).as("w"))
    withKept(d, servedMarked(d.select("id", "w"), index), index.n)
      // bind per-row scalars OUTSIDE the transform lambda (a free
      // expression is re-evaluated per element); only rebuilt docs scan
      // their text for word starts
      .withColumn("_starts", when(col("_kp").isNotNull, alnum_word_starts(col("_text"))))
      .withColumn("_nst", size(col("_starts")))
      .withColumn("_tlen", length(col("_text")))
      .select(col("id"), col("n_words"), col("n_removed"),
        when(col("_kp").isNull, coalesce(col("_text"), lit("")))  // untouched: verbatim
          .otherwise(regexp_replace(regexp_replace(
            array_join(transform(col("_kp"),
              p => col("_text").substr(
                element_at(col("_starts"), p + 1) + 1,
                when(p + 2 <= col("_nst"), element_at(col("_starts"), p + 2))
                  .otherwise(col("_tlen"))
                  - element_at(col("_starts"), p + 1))), ""),
            "^\\s+", ""), "\\s+$", ""))
          .as("text_clean"))
      .withColumnRenamed("id", idCol)
  }

  /** Graded form of `contaminated`: EVERY corpus doc scored with its
    * distinct-gram count, the distinct overlapping-gram count, and the
    * overlap ratio — the threshold-based filtering shape (drop when
    * ratio > tau) real pipelines prefer over the boolean rule, and the
    * observability row for tuning tau. Docs with fewer than n words have
    * zero grams and score 0. Same scale shape as `contaminated` (both
    * sides reduce to gram hashes before the join; bench side
    * broadcast-able) plus one hash agg and a final id-keyed left join to
    * reattach gram-free docs. Output: (idCol, n_grams, n_hits,
    * overlap_ratio). */
  def overlapScore(corpus: DataFrame, idCol: String, textCol: String,
                   bench: DataFrame, benchTextCol: String,
                   n: Int = 13): DataFrame = {
    require(n >= 2, s"n=$n: a 1-gram overlap check flags any shared word — " +
      "use a real n-gram width (GPT-3 used 13)")
    val scored = gramTable(corpus, idCol, textCol, n)
      .join(benchGramSet(bench, benchTextCol, n).withColumn("_hit", lit(1)),
        Seq("gh"), "left")
      .groupBy(col("id"))
      .agg(count("*").cast("int").as("n_grams"),
        coalesce(sum("_hit"), lit(0L)).cast("int").as("n_hits"))
    corpus.select(col(idCol).as("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_grams"), lit(0)).as("n_grams"),
        coalesce(col("n_hits"), lit(0)).as("n_hits"))
      .withColumn("overlap_ratio",
        round(col("n_hits") * lit(1e0) / greatest(col("n_grams"), lit(1)), 6))
  }
}
