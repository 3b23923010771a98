package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.EpochStore

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column. Brute-force cosine is the correctness baseline; the LSH
  * (random-hyperplane) variant is the scale path: bucketing costs one
  * narrow projection + an equi-join on bucket keys, so the 10^12-row
  * corpus never sees an all-pairs product. Hyperplanes are deterministic
  * (splitmix from a fixed seed) — same buckets on every run/cluster. */
object Ann {

  /** Cosine similarity column between two array<float> columns (double math). */
  private def cosExpr(a: String, b: String): String =
    s"""(aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (p, q) -> p + q)
       | / (sqrt(aggregate(transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (p, q) -> p + q))
       |  * sqrt(aggregate(transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (p, q) -> p + q))))"""
      .stripMargin.replace("\n", " ")

  /** Deterministic UNBIASED training sample for the quantizer trainers: a
    * seeded hash filter over ids (`pmod(xxhash64(id, salt), m) == 0`, with
    * `m` sized from one narrow count so ~sampleN rows survive) — one
    * narrow pass over the corpus, no corpus-wide TakeOrdered, and no
    * id-prefix bias (the r3 form took the first sampleN rows BY ID, which
    * skews the codebooks whenever ids correlate with content — they do in
    * most real ingestion orders). The tiny surviving set is sorted by id
    * so Lloyd iterations fold floats in a stable order (exact
    * deterministic retrain).
    *
    * `nHint`: the filter modulus `m = n / sampleN` only needs the corpus
    * size to order of magnitude, so callers that already know (or can
    * cheaply estimate) the row count pass it here and the extra full
    * `count()` pass is skipped — at 10^12 rows that pass costs a whole
    * scan per train call. Default (-1) counts, preserving the
    * parameter-free behavior; retrains are deterministic per
    * (corpus, hint) since `m` feeds the seeded filter. */
  private[ops] def hashSample(embeddings: DataFrame, idCol: String,
                              vecCol: String, sampleN: Int,
                              nHint: Long = -1L): Array[Array[Double]] = {
    val n = if (nHint >= 0L) nHint else embeddings.count()
    val m = math.max(1L, n / math.max(1, sampleN))
    embeddings
      .filter(pmod(xxhash64(col(idCol), lit("graft-sample")), lit(m)) === 0)
      .orderBy(col(idCol)).limit(sampleN)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
  }

  /** The epoch store of the (cell, epoch)-partitioned `cells/` layout
    * both served index families write (IVF vectors, IVF-PQ codes):
    * compaction folds each cell's epochs into ONE baseline partition —
    * probes prune on the unchanged top-level cell directories. */
  private[graft] def cellsStore(spark: SparkSession, path: String): EpochStore =
    EpochStore.dirs(spark, path, Seq(EpochStore.relabel("cells", Seq("cell", "epoch"))))

  /** Brute-force top-k for one query vector (broadcast the 1-row query). */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                     query: Array[Float], k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = Seq(Tuple1(query.toSeq)).toDF("qe")
    embeddings.crossJoin(broadcast(q))
      .withColumn("cos_sim", expr(cosExpr(vecCol, "qe")))
      .select(col(idCol), col("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** Deterministic random hyperplanes: nBits x dim doubles in [-1, 1). */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(nBits) { b =>
      Array.tabulate(dim) { i =>
        val h = graft.gen.Corpus.mix(seed + b * 1000003L + i)
        (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
      }
    }

  /** Add an LSH bucket column: sign-bit signature against the hyperplanes.
    * One narrow per-row pass (UDF closes over the broadcast-small plane
    * matrix — no join, no shuffle). */
  def withBucket(embeddings: DataFrame, vecCol: String, planes: Array[Array[Double]]): DataFrame = {
    val bucketOf = udf { (v: Seq[Float]) =>
      var b = 0L
      var i = 0
      while (i < planes.length) {
        val p = planes(i)
        var dot = 0.0
        var j = 0
        val n = math.min(p.length, v.length)
        while (j < n) { dot += p(j) * v(j); j += 1 }
        if (dot >= 0) b |= (1L << i)
        i += 1
      }
      b
    }
    embeddings.withColumn("bucket", bucketOf(col(vecCol)))
  }

  /** IVF (inverted-file) ANN, the second scale path beside hyperplane LSH.
    *
    * faiss-style split: centroids are TRAINED on a bounded deterministic
    * sample (driver-side Lloyd iterations — training cost is independent of
    * corpus size, the standard practice at 10^12 rows), then ASSIGNMENT is
    * a narrow per-row argmin against the broadcast centroid matrix, and a
    * query scans only its `nProbe` nearest cells. Everything is seeded and
    * order-stable: same centroids on every run/cluster. */
  object Ivf {

    /** Deterministic Lloyd k-means on an unbiased seeded-hash sample of
      * ~`sampleN` vectors (see [[Ann.hashSample]]). Empty cells re-seed
      * from the sample (seeded pick) so nlist cells always come back. */
    def trainCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
                       nlist: Int, iters: Int = 10, sampleN: Int = 2048,
                       nHint: Long = -1L): Array[Array[Double]] = {
      val sample: Array[Array[Double]] = hashSample(embeddings, idCol, vecCol, sampleN, nHint)
      require(sample.length >= nlist, s"need >= $nlist sample vectors, got ${sample.length}")
      var centroids = Array.tabulate(nlist) { i =>
        sample(((graft.gen.Corpus.mix(42L + i) % sample.length + sample.length) % sample.length).toInt)
      }
      def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
        var best = 0; var bd = Double.MaxValue; var i = 0
        while (i < cs.length) {
          var d = 0.0; var j = 0
          val c = cs(i)
          while (j < v.length) { val x = v(j) - c(j); d += x * x; j += 1 }
          if (d < bd) { bd = d; best = i }
          i += 1
        }
        best
      }
      for (it <- 1 to iters) {
        val sums = Array.fill(nlist)(new Array[Double](sample(0).length))
        val counts = new Array[Int](nlist)
        sample.foreach { v =>
          val c = nearest(v, centroids)
          counts(c) += 1
          var j = 0; while (j < v.length) { sums(c)(j) += v(j); j += 1 }
        }
        centroids = Array.tabulate(nlist) { i =>
          if (counts(i) == 0)
            sample(((graft.gen.Corpus.mix(1000L * it + i) % sample.length + sample.length) % sample.length).toInt)
          else sums(i).map(_ / counts(i))
        }
      }
      centroids
    }

    /** Cell assignment: one narrow pass, centroids broadcast in the UDF
      * closure — no join, no shuffle. */
    def assign(embeddings: DataFrame, vecCol: String,
               centroids: Array[Array[Double]]): DataFrame = {
      val cellOf = udf { (v: Seq[Float]) =>
        var best = 0; var bd = Double.MaxValue; var i = 0
        while (i < centroids.length) {
          val c = centroids(i)
          var d = 0.0; var j = 0
          val n = math.min(c.length, v.length)
          while (j < n) { val x = v(j) - c(j); d += x * x; j += 1 }
          if (d < bd) { bd = d; best = i }
          i += 1
        }
        best
      }
      embeddings.withColumn("cell", cellOf(col(vecCol)))
    }

    /** A built IVF index: trained centroids + the cell-assigned corpus.
      * Build ONCE, query many times — training and the narrow assignment
      * pass amortize across queries (callers persist/bucket `assigned` as
      * their reuse pattern warrants; at real scale it is a written table
      * partitioned by cell, making each probe a partition-pruned scan). */
    case class Index(centroids: Array[Array[Double]], assigned: DataFrame,
                     idCol: String, vecCol: String)

    def buildIndex(embeddings: DataFrame, idCol: String, vecCol: String,
                   nlist: Int = 16, sampleN: Int = 2048,
                   nHint: Long = -1L): Index = {
      val centroids = trainCentroids(embeddings, idCol, vecCol, nlist,
        sampleN = sampleN, nHint = nHint)
      Index(centroids, assign(embeddings, vecCol, centroids), idCol, vecCol)
    }

    /** The query's nProbe nearest cells — driver-side arithmetic on the
      * broadcast-small centroid matrix. */
    def probeCellsOf(centroids: Array[Array[Double]], query: Array[Float],
                     nProbe: Int): Seq[Int] = {
      val qd = query.map(_.toDouble)
      centroids.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        val n = math.min(c.length, qd.length)
        while (j < n) { val x = qd(j) - c(j); d += x * x; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2).toSeq
    }

    /** Top-k against a prebuilt index: probe-cell selection is driver-side;
      * the scan touches only the nProbe chosen cells. */
    def topKIndexed(index: Index, query: Array[Float], k: Int,
                    nProbe: Int = 2): DataFrame = {
      val spark = index.assigned.sparkSession
      import spark.implicits._
      val probeCells = probeCellsOf(index.centroids, query, nProbe)
      val q = Seq(Tuple1(query.toSeq)).toDF("qe")
      index.assigned
        .filter(col("cell").isin(probeCells: _*))
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", expr(cosExpr(index.vecCol, "qe")))
        .select(col(index.idCol), col("cos_sim"))
        .orderBy(desc("cos_sim"), col(index.idCol))
        .limit(k)
    }

    /** Persist the index as the at-scale layout: the assigned corpus
      * written PARTITIONED BY (cell, epoch) — each probe becomes a
      * partition-pruned scan (Spark reads only the nProbe cell
      * directories; `epoch` is the ingestion level `appendToIndex` adds
      * under each cell), centroids beside it as a small parquet. */
    def writeIndex(index: Index, path: String): Unit = {
      val spark = index.assigned.sparkSession
      import spark.implicits._
      cellsStore(spark, path).reset()
      index.assigned.withColumn("epoch", lit(0L))
        .write.partitionBy("cell", "epoch").mode("overwrite")
        .parquet(s"$path/cells")
      index.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    }

    private[ops] def readCentroids(spark: SparkSession,
                                   path: String): Array[Array[Double]] =
      spark.read.parquet(s"$path/centroids")
        .orderBy("cell").collect()
        .map(_.getSeq[Double](1).toArray)

    /** Ingest new vectors into a WRITTEN index without retraining: one
      * narrow assignment pass against the stored centroids (no shuffle, no
      * corpus read), landing as `epoch=<epoch>` partitions under each
      * touched cell. At 10^12 vectors this is the only affordable shape —
      * rebuild cost is corpus-scale, append cost is shard-scale; probes
      * prune on the top-level cell directories exactly as before.
      *
      * Idempotent by construction: dynamic partition overwrite replaces
      * only this epoch's (cell, epoch) directories, so a replayed ingest
      * rewrites itself byte-identically instead of duplicating rows (same
      * contract as the pipeline's snapshot writes). Recall drifts as the
      * corpus distribution moves away from the frozen centroids — retrain
      * by rebuilding when cell-size skew warrants (`cellStats`). */
    def appendToIndex(spark: SparkSession, path: String, newVecs: DataFrame,
                      vecCol: String, epoch: Long): Unit = {
      require(epoch > 0L, s"epoch must be positive (0 is the base build): $epoch")
      cellsStore(spark, path).requireUnfolded(epoch)
      assign(newVecs, vecCol, readCentroids(spark, path))
        .withColumn("epoch", lit(epoch))
        .write.partitionBy("cell", "epoch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$path/cells")
    }

    /** Per-cell row counts of a written index — the skew signal that
      * decides when appended drift warrants a retrain/rebuild. */
    def cellStats(spark: SparkSession, path: String): DataFrame =
      spark.read.parquet(s"$path/cells").groupBy("cell")
        .agg(count("*").as("n_rows")).orderBy("cell")

    /** Fold the index's ingestion epochs into one baseline partition per
      * cell (see `EpochStore` for the contract). Returns the
      * baseline epoch id. */
    def compactIndex(spark: SparkSession, path: String): Long =
      cellsStore(spark, path).compact()

    /** Reopen a written index. Probing through `topKIndexed` on the result
      * is partition-pruned: the `cell` filter hits the directory layout
      * (PartitionFilters in the scan), so only nProbe/nlist of the data is
      * ever read — the IvfIndexSpec asserts this on the physical plan. */
    def openIndex(spark: SparkSession, path: String,
                  idCol: String, vecCol: String): Index = {
      cellsStore(spark, path).open()
      Index(readCentroids(spark, path),
        spark.read.parquet(s"$path/cells"), idCol, vecCol)
    }

    /** IVF top-k: exact cosine over the query's nProbe nearest cells only
      * (scanned fraction ~= nProbe/nlist of the corpus). One-shot form of
      * buildIndex + topKIndexed. */
    def topK(embeddings: DataFrame, idCol: String, vecCol: String,
             query: Array[Float], k: Int, nlist: Int = 16, nProbe: Int = 2,
             sampleN: Int = 2048): DataFrame =
      topKIndexed(buildIndex(embeddings, idCol, vecCol, nlist, sampleN), query, k, nProbe)
  }

  /** Product quantization (faiss IndexPQ-style), the memory-footprint scale
    * path beside IVF and hyperplane LSH: the corpus-resident index is
    * (id, m small codes) — m bytes/row instead of dim*4 — so a 10^12-row
    * index fits where raw vectors cannot.
    *
    *  - TRAIN: the dim-space splits into m subspaces of dim/m; each gets
    *    its own ksub-centroid Lloyd codebook from a bounded deterministic
    *    sample (driver-side, corpus-size-independent, like Ivf).
    *  - ENCODE: per row, m tiny argmins against the broadcast codebooks —
    *    one narrow pass, no shuffle.
    *  - QUERY (ADC): the driver precomputes the m x ksub lookup table of
    *    partial squared distances query-subvector -> centroid; a row's
    *    approximate distance is m table lookups summed — no float vector
    *    touched at scan time. The ADC shortlist (k * refine) is a
    *    TakeOrderedAndProject (distributed top-k, no global sort), and
    *    only the shortlist rows get the exact cosine re-rank. */
  object Pq {

    /** [m][ksub][dsub] codebooks. */
    case class Codebooks(m: Int, dsub: Int, ksub: Int,
                         centroids: Array[Array[Array[Double]]])

    /** Deterministic per-subspace Lloyd on an unbiased seeded-hash sample
      * (see [[Ann.hashSample]]). */
    def train(embeddings: DataFrame, idCol: String, vecCol: String, dim: Int,
              m: Int = 8, ksub: Int = 16, sampleN: Int = 2048,
              iters: Int = 10, nHint: Long = -1L): Codebooks = {
      require(dim % m == 0, s"dim=$dim must split into m=$m subspaces")
      val dsub = dim / m
      val sample: Array[Array[Double]] = hashSample(embeddings, idCol, vecCol, sampleN, nHint)
      require(sample.length >= ksub, s"need >= $ksub sample vectors, got ${sample.length}")
      val books = Array.tabulate(m) { j =>
        val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
        var cents = Array.tabulate(ksub) { i =>
          sub(((graft.gen.Corpus.mix(42L + j * 131071L + i) % sub.length + sub.length) % sub.length).toInt)
        }
        def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
          var best = 0; var bd = Double.MaxValue; var i = 0
          while (i < cs.length) {
            var d = 0.0; var t = 0
            val c = cs(i)
            while (t < v.length) { val x = v(t) - c(t); d += x * x; t += 1 }
            if (d < bd) { bd = d; best = i }
            i += 1
          }
          best
        }
        for (it <- 1 to iters) {
          val sums = Array.fill(ksub)(new Array[Double](dsub))
          val counts = new Array[Int](ksub)
          sub.foreach { v =>
            val c = nearest(v, cents)
            counts(c) += 1
            var t = 0; while (t < dsub) { sums(c)(t) += v(t); t += 1 }
          }
          cents = Array.tabulate(ksub) { i =>
            if (counts(i) == 0)
              sub(((graft.gen.Corpus.mix(9000L * it + j * 131071L + i) % sub.length + sub.length) % sub.length).toInt)
            else sums(i).map(_ / counts(i))
          }
        }
        cents
      }
      Codebooks(m, dsub, ksub, books)
    }

    /** Narrow encoding pass: code = m per-subspace argmins. */
    def encode(embeddings: DataFrame, vecCol: String, cb: Codebooks): DataFrame = {
      val codeOf = udf { (v: Seq[Float]) =>
        Array.tabulate(cb.m) { j =>
          val off = j * cb.dsub
          var best = 0; var bd = Double.MaxValue; var i = 0
          while (i < cb.ksub) {
            val c = cb.centroids(j)(i)
            var d = 0.0; var t = 0
            while (t < cb.dsub && off + t < v.length) {
              val x = v(off + t) - c(t); d += x * x; t += 1
            }
            if (d < bd) { bd = d; best = i }
            i += 1
          }
          best
        }.toSeq
      }
      embeddings.withColumn("code", codeOf(col(vecCol)))
    }

    /** The driver-side m x ksub ADC lookup table for a query, as a
      * codegen-friendly UDF over the code column: a row's approximate
      * distance is m table lookups summed — no float vector touched. */
    private def adcUdf(cb: Codebooks, query: Array[Float]) = {
      val qd = query.map(_.toDouble)
      val lut: Array[Array[Double]] = Array.tabulate(cb.m) { j =>
        Array.tabulate(cb.ksub) { i =>
          val c = cb.centroids(j)(i)
          var d = 0.0; var t = 0
          while (t < cb.dsub && j * cb.dsub + t < qd.length) {
            val x = qd(j * cb.dsub + t) - c(t); d += x * x; t += 1
          }
          d
        }
      }
      udf { (code: Seq[Int]) =>
        var d = 0.0; var j = 0
        while (j < cb.m && j < code.length) { d += lut(j)(code(j)); j += 1 }
        d
      }
    }

    /** Exact-cosine re-rank of a shortlist against the query (broadcast
      * 1-row query, TakeOrderedAndProject top-k). */
    private def rerank(withVec: DataFrame, idCol: String, vecCol: String,
                       query: Array[Float], k: Int): DataFrame = {
      val spark = withVec.sparkSession
      import spark.implicits._
      val q = Seq(Tuple1(query.toSeq)).toDF("qe")
      withVec.crossJoin(broadcast(q))
        .withColumn("cos_sim", expr(cosExpr(vecCol, "qe")))
        .select(col(idCol), col("cos_sim"))
        .orderBy(desc("cos_sim"), col(idCol))
        .limit(k)
    }

    /** ADC top-k with exact cosine re-rank on the k*refine shortlist. */
    def topK(embeddings: DataFrame, idCol: String, vecCol: String,
             query: Array[Float], k: Int, cb: Codebooks,
             refine: Int = 10): DataFrame = {
      require(refine >= 1, s"refine=$refine must be >= 1")
      val shortlist = encode(embeddings, vecCol, cb)
        .withColumn("adc_dist", adcUdf(cb, query)(col("code")))
        .orderBy(col("adc_dist"), col(idCol))
        .limit(k * refine)
      rerank(shortlist, idCol, vecCol, query, k)
    }

    /** SERVED top-k: ADC runs straight over a PERSISTED codes table
      * (`writeIndex`/`openIndex`) — the m-byte-per-row resident index a
      * 10^12-row deployment scans; no encode pass, no vector column in
      * the scan. Only the k*refine shortlist ids join back to the source
      * table to fetch vectors for the exact re-rank (an id equi-join on
      * k*refine rows, broadcast-able). */
    def topKServed(codes: DataFrame, idCol: String, cb: Codebooks,
                   source: DataFrame, srcIdCol: String, vecCol: String,
                   query: Array[Float], k: Int, refine: Int = 10): DataFrame = {
      require(refine >= 1, s"refine=$refine must be >= 1")
      val shortlist = codes
        .withColumn("adc_dist", adcUdf(cb, query)(col("code")))
        .orderBy(col("adc_dist"), col(idCol))
        .limit(k * refine)
        .select(col(idCol))
      val withVec = shortlist.join(
        source.select(col(srcIdCol).as(idCol), col(vecCol)), Seq(idCol))
      rerank(withVec, idCol, vecCol, query, k)
    }

    /** Persist the PQ index at its at-scale layout: the encoded corpus
      * (id + m small codes — the m-byte-per-row resident form; vectors are
      * NOT written) plus the codebooks as a small parquet. Re-ranking
      * against a reopened index fetches vectors from the source table for
      * the shortlist ids only. */
    def writeIndex(encoded: DataFrame, idCol: String, cb: Codebooks,
                   path: String): Unit = {
      val spark = encoded.sparkSession
      import spark.implicits._
      encoded.select(col(idCol), col("code"))
        .write.mode("overwrite").parquet(s"$path/codes")
      cb.centroids.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
      }.toSeq.toDF("subspace", "centroid_id", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    }

    /** Reopen: (codes table, codebooks). */
    def openIndex(spark: SparkSession, path: String): (DataFrame, Codebooks) =
      (spark.read.parquet(s"$path/codes"), readCodebooks(spark, path))

    /** IVF-PQ (faiss IndexIVFPQ composition): probe the query's nProbe
      * nearest IVF cells, then run the ADC shortlist + exact re-rank on
      * that slice only — the scan touches ~nProbe/nlist of the corpus AND
      * reads m-byte codes instead of float vectors, the standard
      * billion-scale recipe. */
    def topKIvf(index: Ivf.Index, cb: Codebooks, query: Array[Float], k: Int,
                nProbe: Int = 2, refine: Int = 10): DataFrame = {
      val cells = Ivf.probeCellsOf(index.centroids, query, nProbe)
      topK(index.assigned.filter(col("cell").isin(cells: _*)),
        index.idCol, index.vecCol, query, k, cb, refine)
    }

    /** A reopened on-disk IVF-PQ index: IVF centroids (driver-resident),
      * the cell-partitioned codes table, and the PQ codebooks. */
    case class IvfPqIndex(centroids: Array[Array[Double]], codes: DataFrame,
                          cb: Codebooks, idCol: String)

    /** Persist the IVF-PQ composition at its SERVING layout: m-byte codes
      * written PARTITIONED BY IVF cell (a probe prunes directories AND
      * reads codes only — never vectors), IVF centroids + PQ codebooks
      * beside them as small parquets. The full billion-scale form:
      * scanned bytes per query ~= (nProbe/nlist) * m bytes/row. */
    def writeIvfPqIndex(index: Ivf.Index, cb: Codebooks, path: String): Unit = {
      val spark = index.assigned.sparkSession
      import spark.implicits._
      cellsStore(spark, path).reset()
      encode(index.assigned, index.vecCol, cb)
        .select(col(index.idCol), col("cell"), col("code"), lit(0L).as("epoch"))
        .write.partitionBy("cell", "epoch").mode("overwrite").parquet(s"$path/cells")
      index.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      cb.centroids.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
      }.toSeq.toDF("subspace", "centroid_id", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    }

    private def readCodebooks(spark: SparkSession, path: String): Codebooks = {
      val cbDf = spark.read.parquet(s"$path/codebooks")
        .orderBy("subspace", "centroid_id").collect()
      val m = cbDf.map(_.getInt(0)).max + 1
      val ksub = cbDf.map(_.getInt(1)).max + 1
      val books = Array.ofDim[Array[Double]](m, ksub)
      cbDf.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
      Codebooks(m, books(0)(0).length, ksub, books)
    }

    /** Ingest new vectors into a WRITTEN IVF-PQ index without retraining:
      * assign to the stored IVF centroids + encode with the stored PQ
      * codebooks (two narrow passes, no shuffle, no corpus read), landing
      * as this epoch's partitions under each touched cell — dynamic
      * partition overwrite makes a replayed ingest rewrite itself instead
      * of duplicating rows. The frozen-quantizer drift caveat of
      * `Ivf.appendToIndex` applies to both levels here. */
    def appendToIvfPqIndex(spark: SparkSession, path: String,
                           newVecs: DataFrame, idCol: String, vecCol: String,
                           epoch: Long): Unit = {
      require(epoch > 0L, s"epoch must be positive (0 is the base build): $epoch")
      cellsStore(spark, path).requireUnfolded(epoch)
      val assigned = Ivf.assign(newVecs, vecCol, Ivf.readCentroids(spark, path))
      encode(assigned, vecCol, readCodebooks(spark, path))
        .select(col(idCol), col("cell"), col("code"), lit(epoch).as("epoch"))
        .write.partitionBy("cell", "epoch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$path/cells")
    }

    /** Fold the codes table's ingestion epochs into one baseline partition
      * per cell (see `EpochStore`). Returns the baseline epoch id. */
    def compactIvfPqIndex(spark: SparkSession, path: String): Long =
      cellsStore(spark, path).compact()

    /** Reopen a written IVF-PQ index. */
    def openIvfPqIndex(spark: SparkSession, path: String,
                       idCol: String): IvfPqIndex = {
      cellsStore(spark, path).open()
      IvfPqIndex(Ivf.readCentroids(spark, path),
        spark.read.parquet(s"$path/cells"), readCodebooks(spark, path), idCol)
    }

    /** Served IVF-PQ top-k: driver-side probe-cell choice → the cell
      * filter hits the directory layout (PartitionFilters) → ADC over
      * the surviving m-byte codes → exact re-rank on the shortlist via
      * an id join back to the source table. Value-equal to the
      * in-memory `topKIvf` (same deterministic training/codes). */
    def topKIvfServed(index: IvfPqIndex,
                      source: DataFrame, srcIdCol: String, vecCol: String,
                      query: Array[Float], k: Int,
                      nProbe: Int = 2, refine: Int = 10): DataFrame = {
      val cells = Ivf.probeCellsOf(index.centroids, query, nProbe)
      topKServed(index.codes.filter(col("cell").isin(cells: _*)),
        index.idCol, index.cb, source, srcIdCol, vecCol, query, k, refine)
    }
  }

  /** Shared OR-table bucket signature UDF: per row, one sign-bit bucket
    * per hyperplane table. */
  private def bucketsOfUdf(planeTables: Array[Array[Array[Double]]]) =
    udf { (v: Seq[Float]) =>
      planeTables.map { planes =>
        var b = 0L
        var i = 0
        while (i < planes.length) {
          val p = planes(i)
          var dot = 0.0
          var j = 0
          val n = math.min(p.length, v.length)
          while (j < n) { dot += p(j) * v(j); j += 1 }
          if (dot >= 0) b |= (1L << i)
          i += 1
        }
        b
      }.toSeq
    }

  /** k-NN similarity JOIN — the set-to-set form: top-k corpus neighbors for
    * EVERY query row, not one driver-side vector. The batch shape real
    * retrieval/dedup pipelines run (N query docs x 10^12 corpus).
    *
    * Scale shape: both sides get OR-amplified hyperplane buckets (same
    * construction as `neardupPairs`); candidates are the (table, bucket)
    * equi-join — never a cross product; per-pair dedup, exact cosine, then
    * a per-query row_number window keeps k. Viral corpus buckets are
    * capped and the drop COUNTED. The value-exact brute-force twin for
    * small sets is d12_knn_join; OpsSpec pins planted-neighbor recall. */
  def knnJoin(queries: DataFrame, qId: String, qVec: String,
              corpus: DataFrame, cId: String, cVec: String,
              k: Int, dim: Int, nBits: Int = 8, nTables: Int = 4,
              maxBucket: Int = 10000,
              droppedRows: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val planeTables = Array.tabulate(nTables)(l => hyperplanes(nBits, dim, 42L + 7919L * l))
    val buckets = bucketsOfUdf(planeTables)
    val qb = queries.select(col(qId).as("qid"), col(qVec).as("qv"))
      .select(col("qid"), col("qv"), posexplode(buckets(col("qv"))).as(Seq("tbl", "bucket")))
    val cbk = corpus.select(col(cId).as("cid"), col(cVec).as("cv"))
      .select(col("cid"), col("cv"), posexplode(buckets(col("cv"))).as(Seq("tbl", "bucket")))
    val bounded = DropStats.capByKey(cbk, Seq("tbl", "bucket"), maxBucket, droppedRows)
    knnScore(qb, bounded, k, nTables)
  }

  /** Shared scoring tail of the k-NN join: bucket equi-join, exact cosine,
    * scalar distinct (multi-table collisions scored once), per-query top-k.
    * Score-then-dedup keeps the aggregate a hash agg — dropDuplicates over
    * the vector-carrying rows forces first(array) -> SortAggregate; the
    * per-query top-k window is the only sort. */
  private def knnScore(qb: DataFrame, corpusBuckets: DataFrame, k: Int,
                       nTables: Int): DataFrame = {
    val cand = qb.join(corpusBuckets, Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "qv", "cid", "cv")
    val scored0 = cand
      .withColumn("cos_sim", round(expr(cosExpr("qv", "cv")), 6))
      .select("qid", "cid", "cos_sim")
    val deduped = if (nTables == 1) scored0 else scored0.distinct()
    val scored = deduped
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy(desc("cos_sim"), col("cid"))))
      .filter(col("rn") <= k)
    scored.select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
      col("cos_sim"))
  }

  /** A served k-NN corpus: the OR-table bucketed corpus as a WRITTEN
    * table plus its pre-aggregated per-(tbl, bucket) sizes and the LSH
    * parameters it was built with (stored beside it, so probes cannot
    * silently rebucket with mismatched planes). At 10^12 rows the corpus
    * side of a k-NN join is this — built once, probed by every query
    * batch, ingested into shard by shard — not an in-memory rebucketing
    * per batch (which `knnJoin` does, the one-shot form).
    *
    * The viral-bucket cap is applied at PROBE time from the counts (the
    * minhash-index design): rows land uncapped, so an appended shard that
    * pushes a bucket over the cap retroactively suppresses the whole
    * bucket — exactly what a rebuild over the union would do. A cap baked
    * in at write time cannot do that (the over-cap rows are already
    * gone), so it would silently diverge from the rebuild under
    * ingestion. */
  case class ServedKnnCorpus(buckets: DataFrame, keyCounts: DataFrame,
                             dim: Int, nBits: Int, nTables: Int,
                             maxBucket: Int)

  /** The knn corpus root holds two epoch-partitioned datasets: the bucket
    * rows (relabel on fold) and the per-key counts (re-aggregate on
    * fold — one row per key in the baseline). An append writes the
    * buckets first, so the counts are the epoch ledger. */
  private[graft] def knnStore(spark: SparkSession, path: String): EpochStore =
    EpochStore.dirs(spark, path, Seq(
      EpochStore.relabel("buckets", Seq("tbl", "bucket", "epoch")),
      EpochStore.EpochData("counts", Seq("epoch"),
        (df, b) => df.groupBy("tbl", "bucket").agg(sum("n").as("n"))
          .withColumn("epoch", lit(b)))))

  /** Write the corpus side of the k-NN join once: OR-table bucket rows
    * laid out `partitionBy(tbl, bucket, epoch)` so a probing batch reads
    * only the directories its query buckets hit — nTables*|Q| of
    * nTables*2^nBits — plus the per-key counts the probe-time cap sums.
    * Counts derive from the WRITTEN table (a narrow columnar re-read),
    * not a second evaluation of the bucketing plan — the expensive pass
    * over the vectors runs once. Params land beside the data for
    * `openKnnCorpus`. */
  def writeKnnCorpus(corpus: DataFrame, cId: String, cVec: String,
                     path: String, dim: Int, nBits: Int = 8, nTables: Int = 4,
                     maxBucket: Int = 10000): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    knnStore(spark, path).reset()
    val planeTables = Array.tabulate(nTables)(l => hyperplanes(nBits, dim, 42L + 7919L * l))
    val buckets = bucketsOfUdf(planeTables)
    corpus.select(col(cId).as("cid"), col(cVec).as("cv"))
      .select(col("cid"), col("cv"), posexplode(buckets(col("cv"))).as(Seq("tbl", "bucket")))
      .withColumn("epoch", lit(0L))
      .write.partitionBy("tbl", "bucket", "epoch").mode("overwrite")
      .parquet(s"$path/buckets")
    spark.read.parquet(s"$path/buckets")
      .groupBy("tbl", "bucket").agg(count("*").as("n"))
      .select(col("tbl"), col("bucket"), col("n"), lit(0L).as("epoch"))
      .write.partitionBy("epoch").mode("overwrite").parquet(s"$path/counts")
    Seq((dim, nBits, nTables, maxBucket)).toDF("dim", "n_bits", "n_tables", "max_bucket")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Fold a NEW corpus shard into the served k-NN corpus without touching
    * the existing rows: the shard is bucketed with the STORED planes (one
    * narrow pass over the shard vectors only), landing as epoch
    * partitions under each (tbl, bucket) plus one counts row per touched
    * key. Dynamic partition overwrite makes a replayed ingest of the same
    * epoch idempotent (both datasets rewrite exactly their own epoch
    * partitions); an epoch already folded by compaction fails loudly.
    * Caller guarantees shard ids are disjoint from corpus ids. */
  def appendToKnnCorpus(spark: SparkSession, path: String,
                        newCorpus: DataFrame, cId: String, cVec: String,
                        epoch: Long): Unit = {
    require(epoch > 0L, s"epoch must be positive (0 is the base build): $epoch")
    knnStore(spark, path).requireUnfolded(epoch)
    val p = spark.read.parquet(s"$path/params").head()
    val (dim, nBits, nTables) = (p.getInt(0), p.getInt(1), p.getInt(2))
    val planeTables = Array.tabulate(nTables)(l => hyperplanes(nBits, dim, 42L + 7919L * l))
    val buckets = bucketsOfUdf(planeTables)
    newCorpus.select(col(cId).as("cid"), col(cVec).as("cv"))
      .select(col("cid"), col("cv"), posexplode(buckets(col("cv"))).as(Seq("tbl", "bucket")))
      .withColumn("epoch", lit(epoch))
      .write.partitionBy("tbl", "bucket", "epoch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$path/buckets")
    // this epoch's counts from the WRITTEN rows: narrow re-read, and
    // immune to the self-read recomputation hazard when `newCorpus`
    // derives from this very corpus
    spark.read.parquet(s"$path/buckets").filter(col("epoch") === epoch)
      .groupBy("tbl", "bucket").agg(count("*").as("n"))
      .select(col("tbl"), col("bucket"), col("n"), lit(epoch).as("epoch"))
      .write.partitionBy("epoch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$path/counts")
  }

  /** Fold the corpus's ingestion epochs into one baseline partition per
    * (tbl, bucket) — and the counts back to one row per key (see
    * `EpochStore` for the contract). Returns the baseline epoch. */
  def compactKnnCorpus(spark: SparkSession, path: String): Long =
    knnStore(spark, path).compact()

  /** Reopen a written k-NN corpus with the parameters it was built with.
    * Finishes a compaction swap a crashed maintenance run left pending. */
  def openKnnCorpus(spark: SparkSession, path: String): ServedKnnCorpus = {
    knnStore(spark, path).open()
    val p = spark.read.parquet(s"$path/params").head()
    ServedKnnCorpus(spark.read.parquet(s"$path/buckets"),
      spark.read.parquet(s"$path/counts"),
      p.getInt(0), p.getInt(1), p.getInt(2), p.getInt(3))
  }

  /** Batch k-NN against a served corpus: only the QUERY side is bucketed
    * at probe time (with the planes stored alongside the corpus); the join
    * streams the written table through a partition-pruned scan — the
    * query batch broadcasts, and dynamic partition pruning turns its
    * (tbl, bucket) set into PartitionFilters on the directory layout, so
    * a narrow batch never reads the full corpus. Value-equal to `knnJoin`
    * over the same corpus (spec-pinned).
    *
    * The combined viral-bucket cap applies here: totals for QUERY-TOUCHED
    * keys only — the corpus-scale counts table STREAMS through a
    * semi-join against the broadcast query keys (summed across ingestion
    * epochs for just those keys, never a whole-table re-aggregate), and
    * over-cap keys are removed from the QUERY side before the corpus
    * join, so dynamic pruning never even selects a viral directory.
    * Dropped corpus rows (for touched over-cap keys — untouched buckets
    * cannot contribute pairs) are COUNTED via `droppedRows`. */
  def knnJoinServed(served: ServedKnnCorpus, queries: DataFrame,
                    qId: String, qVec: String, k: Int,
                    droppedRows: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val planeTables = Array.tabulate(served.nTables)(l =>
      hyperplanes(served.nBits, served.dim, 42L + 7919L * l))
    val buckets = bucketsOfUdf(planeTables)
    val cSchema = served.buckets.schema
    // partition-column type inference can narrow tbl/bucket on read; cast
    // the QUERY side to the stored types so the corpus join keys stay the
    // raw partition attributes pruning resolves against
    val qb0 = queries.select(col(qId).as("qid"), col(qVec).as("qv"))
      .select(col("qid"), col("qv"), posexplode(buckets(col("qv"))).as(Seq("tbl", "bucket")))
      .withColumn("tbl", col("tbl").cast(cSchema("tbl").dataType))
      .withColumn("bucket", col("bucket").cast(cSchema("bucket").dataType))
    val touched = served.keyCounts
      .join(broadcast(qb0.select("tbl", "bucket").distinct()),
        Seq("tbl", "bucket"), "left_semi")
      .groupBy("tbl", "bucket").agg(sum("n").as("n_total"))
    val overCap = touched.filter(col("n_total") > served.maxBucket)
    droppedRows.foreach { a =>
      a.add(overCap.agg(coalesce(sum("n_total"), lit(0L))).head().getLong(0))
    }
    val marked = overCap.select(col("tbl"), col("bucket"), lit(true).as("_over"))
    val qb = qb0.join(broadcast(marked), Seq("tbl", "bucket"), "left")
      .filter(col("_over").isNull).drop("_over")
    knnScore(broadcast(qb), served.buckets, k, served.nTables)
  }

  /** Embedding-cosine near-dup pairs, the SCALE path: candidates come from
    * hyperplane-LSH bucket equi-joins (shuffle carries only (table, bucket,
    * id, vector)), the exact cosine is the residual filter. A viral bucket
    * is capped like the minhash/simhash paths — at 10^12 rows one
    * degenerate bucket must not produce O(bucket^2) pairs — and the drop
    * is COUNTED via `droppedRows`, never silent.
    *
    * OR-amplification: `nTables` independent hyperplane tables (the
    * standard LSH band construction the minhash path uses). Per-table
    * collision probability for angle theta is (1 - theta/pi)^nBits, which
    * collapses as nBits grows to corpus-appropriate selectivity; a pair is
    * a candidate if it collides in ANY table, so recall is
    * 1 - (1 - (1-theta/pi)^nBits)^nTables — tunable without giving up
    * bucket selectivity. Candidates are deduped on the pair key before the
    * cosine filter, so a pair colliding in several tables is scored once. */
  def neardupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
                   threshold: Double, dim: Int, nBits: Int = 8,
                   maxBucket: Int = 10000, nTables: Int = 1,
                   droppedRows: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    require(nTables >= 1, s"nTables=$nTables must be >= 1")
    // table l gets its own deterministic plane set (seed-shifted)
    val planeTables = Array.tabulate(nTables)(l => hyperplanes(nBits, dim, 42L + 7919L * l))
    val bucketsOf = bucketsOfUdf(planeTables)
    val bucketed = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), col("v"),
        posexplode(bucketsOf(col("v"))).as(Seq("tbl", "bucket")))
    val bounded = DropStats.capByKey(bucketed, Seq("tbl", "bucket"), maxBucket, droppedRows)
    val joined = bounded.as("a").join(bounded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_a"), col("b.id").as("vec_b"),
        col("a.v").as("va"), col("b.v").as("vb"))
    // score BEFORE deduping: the cosine is deterministic per pair, so the
    // multi-table dedup becomes a distinct over three SCALAR columns — a
    // partial+final HashAggregate. Deduping first (dropDuplicates carrying
    // the vector columns) forces first(array) agg buffers, which fall back
    // to a SortAggregate of the candidate set — the sort the r4 cap
    // rewrite exists to eliminate. A pair colliding in k tables pays k
    // codegen'd cosine evals instead; threshold-filtering first shrinks
    // the distinct input further.
    val scored = joined
      .withColumn("cos_sim", round(expr(cosExpr("va", "vb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("vec_a", "vec_b", "cos_sim")
    // one table cannot produce duplicate pairs — skip the dedup shuffle
    if (nTables == 1) scored else scored.distinct()
  }

  /** LSH top-k: restrict the cosine scan to the query's bucket PLUS its
    * hamming-1 multiprobe neighborhood (`probeHamming = 1`, the default).
    * A true near-neighbor sits on the wrong side of one hyperplane with
    * probability ~theta/pi per plane, so single-bucket recall collapses as
    * nBits grows; probing the nBits+1 buckets within hamming distance 1
    * restores recall while still scanning only (nBits+1)/2^nBits of the
    * corpus. Probe set is computed driver-side (nBits+1 longs, broadcast
    * as an isin filter — no join, no shuffle). */
  def lshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              query: Array[Float], k: Int, nBits: Int = 8,
              probeHamming: Int = 1): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dim = query.length
    val planes = hyperplanes(nBits, dim)
    val qBucket = {
      var b = 0L
      planes.zipWithIndex.foreach { case (p, i) =>
        val dot = p.zip(query).map { case (x, y) => x * y.toDouble }.sum
        if (dot >= 0) b |= (1L << i)
      }
      b
    }
    val probes: Seq[Long] =
      if (probeHamming <= 0) Seq(qBucket)
      else qBucket +: (0 until nBits).map(i => qBucket ^ (1L << i))
    val bucketed = withBucket(embeddings, vecCol, planes)
    val q = Seq(Tuple1(query.toSeq)).toDF("qe")
    bucketed.filter(col("bucket").isin(probes: _*))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", expr(cosExpr(vecCol, "qe")))
      .select(col(idCol), col("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** Embedding-side near-dup RESOLUTION — the decision layer over
    * `neardupPairs`, mirroring `Dedup.resolveNearDups` on the text path:
    * OR-amplified LSH candidate pairs above the cosine threshold become an
    * undirected similarity graph, closed into components by the same
    * large-star/small-star operator, keeper = min id per component. A
    * semantic-dup cluster (A~B, B~C) yields exactly one keeper even though
    * (A, C) never collided in any table. Scale shape: LSH equi-joins +
    * O(log n) CC rounds, never all-pairs. */
  def resolveNearDups(embeddings: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, dim: Int, nBits: Int = 8,
                      maxBucket: Int = 10000, nTables: Int = 1,
                      droppedRows: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val pairs = neardupPairs(embeddings, idCol, vecCol, threshold, dim,
      nBits, maxBucket, nTables, droppedRows)
    val cc = Dedup.connectedComponents(pairs, "vec_a", "vec_b")
    embeddings.select(col(idCol).cast("long").as("vec_id"))
      .join(cc, col("vec_id") === cc("id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"))
      .withColumn("is_keeper", when(col("vec_id") === col("component"), 1).otherwise(0))
  }
}
