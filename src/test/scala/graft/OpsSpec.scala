package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Ann, Dedup, Media}

/** Training-data operators: dedup recall/precision properties, ANN LSH vs
  * brute force, multimodal plumbing shape. */
class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()

  test("exact dedup: groups partition the corpus") {
    val d = Dedup.exact(docs, "doc_id", "text")
    val total = d.agg(sum("n_dups")).collect()(0).getLong(0)
    assert(total == docs.count())
  }

  test("minhash LSH candidates contain every high-jaccard pair (recall)") {
    import spark.implicits._
    // planted near-dups: clone 5 docs with one word changed
    val base = docs.limit(5).select($"doc_id", $"text")
      .as[(Long, String)].collect()
    val clones = base.map { case (id, t) => (id + 100000L, t.replaceFirst("\\w+", "zzz")) }
    val all = (base ++ clones).toSeq.toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(all, "doc_id", "text", bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted clone pair must be a candidate
    base.foreach { case (id, _) =>
      assert(cands.contains((id, id + 100000L)), s"missing clone pair for $id")
    }
    // and exact jaccard verification keeps them
    val verified = Dedup.jaccardOnCandidates(all, cands.toSeq.toDF("doc_a", "doc_b"),
      "doc_id", "text", threshold = 0.7)
    assert(verified.count() >= 5)
  }

  test("connected components: planted transitive clusters, one keeper each") {
    import spark.implicits._
    // {1,2,3} via chain + shortcut, {10,11} pair, {20..23} chain, in
    // deliberately mixed edge orientations
    val edges = Seq((2L, 1L), (2L, 3L), (11L, 10L), (20L, 21L), (22L, 21L), (22L, 23L), (1L, 3L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
  }

  test("connected components: 64-node path converges (log-round property)") {
    import spark.implicits._
    // a diameter-63 path would defeat naive neighbor label propagation
    // within the round budget; large-star/small-star closes it in O(log n).
    // smallGraphEdges = 0 FORCES the star loop: since the r7 small-graph
    // fast path, a test-sized graph would otherwise never exercise it.
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(edges, "doc_a", "doc_b",
      smallGraphEdges = 0L).collect()
    assert(cc.length == 64)
    assert(cc.forall(_.getLong(1) == 0L))
  }

  test("connected components: small-graph fast path == star loop on every seeded graph") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    // the r7 fast path (single-task union-find under the edge threshold)
    // must label identically to the forced star loop — same graphs as the
    // union-find parity case, compared path-vs-path
    for ((n, m, seed) <- Seq((120, 60, 11L), (120, 150, 12L), (200, 400, 13L))) {
      val edges = (0 until m).map { i =>
        val a = math.abs(mix(seed * 7919 + i * 2) % n).toInt
        val b = math.abs(mix(seed * 7919 + i * 2 + 1) % n).toInt
        (a, b)
      }.filter(e => e._1 != e._2).toDF("doc_a", "doc_b")
      val fast = Dedup.connectedComponents(edges, "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val loop = Dedup.connectedComponents(edges, "doc_a", "doc_b",
          smallGraphEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == loop, s"graph(n=$n, m=$m, seed=$seed)")
    }
  }

  test("connected components == local union-find on seeded random graphs") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    // three deterministic random graphs with different density regimes;
    // ground truth from a driver-side union-find (fine at test scale —
    // the operator exists precisely because union-find doesn't distribute)
    for ((n, m, seed) <- Seq((120, 60, 1L), (120, 150, 2L), (200, 400, 3L))) {
      val edges = (0 until m).map { i =>
        val a = math.abs(mix(seed * 7919 + i * 2) % n).toInt
        val b = math.abs(mix(seed * 7919 + i * 2 + 1) % n).toInt
        (a, b)
      }.filter(e => e._1 != e._2)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v.toLong -> {
          // path-compress to the true min root
          var r = find(v)
          while (parent(r) != r) r = parent(r)
          r.toLong
        }).toMap
      // union-find with min-root union gives min-id component labels
      val got = Dedup.connectedComponents(
          edges.toDF("doc_a", "doc_b").repartition(7), "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"graph(n=$n, m=$m, seed=$seed)")
    }
  }

  test("resolveNearDups: transitive near-dup chain A~B~C gets ONE keeper") {
    import spark.implicits._
    val a = (1 to 30).map("w" + _)
    val b = a.updated(0, "x0").updated(5, "x5").updated(10, "x10")
      .updated(15, "x15").updated(20, "x20")
    val c = b.updated(1, "y1").updated(6, "y6").updated(11, "y11")
      .updated(16, "y16").updated(21, "y21")
    // jaccard(a,b) = jaccard(b,c) = 25/35 ≈ 0.71 >= 0.6;
    // jaccard(a,c) = 20/40 = 0.5 < 0.6 — only transitivity links A to C
    val df = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")), (3L, c.mkString(" ")),
      (9L, (1 to 30).map("unrelated" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.resolveNearDups(df, "doc_id", "text", threshold = 0.6, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(out.map(t => t._1 -> t._2).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
    assert(out.filter(_._3 == 1).map(_._1).toSeq == Seq(1L, 9L))
  }

  test("simhash: identical docs collide, near-dups within distance") {
    import spark.implicits._
    val d = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"),
                (2L, "the quick brown fox jumps over the lazy dog again and again"),
                (3L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(d, "doc_id", "text", maxDist = 3).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L && r.getInt(2) == 0))
    assert(!pairs.exists(r => r.getLong(1) == 3L))
  }

  test("ANN: LSH top-k ⊆ same-bucket subset of brute-force ranking; exact on bucket") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.filter($"vec_id" === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    val rest = emb.filter($"vec_id" =!= 0)
    val brute = Ann.bruteForceTopK(rest, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0))
    assert(brute.length == 10)
    val lsh = Ann.lshTopK(rest, "vec_id", "embedding", q, 10, nBits = 2)
      .collect().map(_.getLong(0))
    assert(lsh.nonEmpty)
    // LSH results must be a subset of the bucket's brute-force order —
    // validate top-1 agreement at tiny bit count (bucket ≈ quarter space)
    val bruteSet = Ann.bruteForceTopK(rest, "vec_id", "embedding", q, 200)
      .collect().map(_.getLong(0)).toSet
    assert(lsh.forall(bruteSet.contains) || lsh.length < 10)
  }

  test("ANN multiprobe: recall >= 0.9 vs brute force at nBits=8 on planted neighbors") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    val qv = rand(424242L)
    // 10 planted near-neighbors: query + small deterministic noise
    val planted = (1L to 10L).map { p =>
      (p, qv.zipWithIndex.map { case (x, i) =>
        x + (mix(p * 131 + i) % 100) / 4000.0f
      }.toSeq)
    }
    val randoms = (11L to 510L).map(p => (p, rand(p).toSeq))
    val emb = (planted ++ randoms).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", qv, 10)
      .collect().map(_.getLong(0)).toSet
    assert(brute == (1L to 10L).toSet, "planted neighbors must be the brute-force top-10")
    val multi = Ann.lshTopK(emb, "vec_id", "embedding", qv, 10, nBits = 8)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(multi).size / 10.0
    assert(recall >= 0.9, s"multiprobe recall $recall < 0.9 (got ${multi.toSeq.sorted})")
    // multiprobe scans a superset of the single bucket, so its recall
    // can only be >= the single-bucket recall
    val single = Ann.lshTopK(emb, "vec_id", "embedding", qv, 10, nBits = 8,
      probeHamming = 0).collect().map(_.getLong(0)).toSet
    assert(brute.intersect(single).size <= brute.intersect(multi).size)
  }

  test("PQ ADC + re-rank: recall >= 0.9 vs brute force; codebooks deterministic") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    val qv = rand(424242L)
    val planted = (1L to 10L).map { p =>
      (p, qv.zipWithIndex.map { case (x, i) =>
        x + (mix(p * 131 + i) % 100) / 4000.0f
      }.toSeq)
    }
    val randoms = (11L to 510L).map(p => (p, rand(p).toSeq))
    val emb = (planted ++ randoms).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val brute = Ann.bruteForceTopK(emb, "vec_id", "embedding", qv, 10)
      .collect().map(_.getLong(0)).toSet
    val cb = Ann.Pq.train(emb, "vec_id", "embedding", dim, m = 4, ksub = 16, sampleN = 600)
    // the resident index is m small codes per row
    val codes = Ann.Pq.encode(emb, "embedding", cb).select("code")
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 16)))
    val pq = Ann.Pq.topK(emb, "vec_id", "embedding", qv, 10, cb, refine = 5)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(pq).size / 10.0
    assert(recall >= 0.9, s"PQ recall $recall < 0.9 (got ${pq.toSeq.sorted})")
    // deterministic training: identical codebooks on retrain
    val cb2 = Ann.Pq.train(emb, "vec_id", "embedding", dim, m = 4, ksub = 16, sampleN = 600)
    assert(cb.centroids.flatten.flatten.toSeq == cb2.centroids.flatten.flatten.toSeq)
    // PQ index persistence: codes + codebooks round-trip the at-scale
    // m-byte layout (no vectors written)
    val pqDir = "/tmp/graft-test-pq-index"
    Ann.Pq.writeIndex(Ann.Pq.encode(emb, "embedding", cb), "vec_id", cb, pqDir)
    val (codesBack, cbBack) = Ann.Pq.openIndex(spark, pqDir)
    assert(cbBack.m === cb.m && cbBack.ksub === cb.ksub && cbBack.dsub === cb.dsub)
    assert(cbBack.centroids.flatten.flatten.toSeq === cb.centroids.flatten.flatten.toSeq)
    assert(codesBack.count() === emb.count())
    assert(codesBack.columns.toSeq === Seq("vec_id", "code"))
    // IVF-PQ composition: probing half the cells still recalls >= 0.9 —
    // the planted cluster concentrates in the query's nearest cells
    val ivf = Ann.Ivf.buildIndex(emb, "vec_id", "embedding", nlist = 8, sampleN = 600)
    val ivfpq = Ann.Pq.topKIvf(ivf, cb, qv, 10, nProbe = 4, refine = 5)
      .collect().map(_.getLong(0)).toSet
    val recallIvfPq = brute.intersect(ivfpq).size / 10.0
    assert(recallIvfPq >= 0.9, s"IVF-PQ recall $recallIvfPq (got ${ivfpq.toSeq.sorted})")
  }

  test("knn join: every planted neighbor retrieved at k=1; no self matches") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 64
    def rand(seed: Long): Seq[Float] =
      Seq.tabulate(dim)(i => (mix(seed * 104729 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    // 5 queries, each with one planted near-copy in the corpus (small noise)
    val qs = (1L to 5L).map(i => (i, rand(i)))
    val planted = qs.map { case (i, v) =>
      (i + 1000L, v.zipWithIndex.map { case (x, j) => x + (mix(i * 77 + j) % 100) / 8000.0f })
    }
    val noise = (11L to 400L).map(i => (i, rand(i + 90000L)))
    val queries = qs.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val corpus = (qs ++ planted ++ noise).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val nn = Ann.knnJoin(queries, "vec_id", "embedding",
        corpus, "vec_id", "embedding", k = 1, dim = dim, nBits = 8, nTables = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    qs.foreach { case (i, _) =>
      assert(nn.get(i).contains(i + 1000L), s"query $i: expected planted ${i + 1000L}, got ${nn.get(i)}")
    }
    // self pairs (query present in corpus under the same id) are excluded
    assert(nn.values.toSet.intersect((1L to 5L).toSet).isEmpty)
  }

  test("ingestion to decode: binaryFile source feeds the real image codec") {
    // genuine PNG files on disk -> binaryFile rows -> decode -> features
    val dir = java.nio.file.Files.createTempDirectory("graft-imgs").toString
    val refs = Seq("corpus://img/901-0.jpg", "corpus://img/902-0.jpg")
    val expected = refs.map { r =>
      val bytes = Media.ImageIoCodec.fetchBytes(r) // deterministic real PNG
      val name = r.split("/").last.replace(".jpg", ".png")
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)
      name.replace(".png", "") -> Media.ImageIoCodec.decode(bytes)
    }.toMap
    val files = graft.io.Sources.binaryDocs(spark, dir, glob = "*.png")
    val media = Media.mediaTableFromFiles(files, Media.ImageIoCodec)
    val got = media.collect().map(m => m.doc_id -> ((m.width, m.height, m.format))).toMap
    assert(got === expected)
    val feats = Media.withFeatures(media, codec = Media.ImageIoCodec)
    assert(feats.count() === 2)
  }

  test("IVF index on disk: partition-pruned probes, identical to in-memory") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    val qv = rand(424242L)
    val emb = (1L to 400L).map(p => (p, rand(p).toSeq)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val idx = Ann.Ivf.buildIndex(emb, "vec_id", "embedding", nlist = 8, sampleN = 400)
    val dir = "/tmp/graft-test-ivf-index"
    Ann.Ivf.writeIndex(idx, dir)
    val opened = Ann.Ivf.openIndex(spark, dir, "vec_id", "embedding")
    assert(opened.centroids.length === 8)
    assert(opened.centroids.flatten.toSeq === idx.centroids.flatten.toSeq)
    val mem = Ann.Ivf.topKIndexed(idx, qv, 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val diskDf = Ann.Ivf.topKIndexed(opened, qv, 10, nProbe = 2)
    val disk = diskDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(disk === mem)
    // the cell filter must reach the DIRECTORY layout: a partition-pruned
    // scan, not a full read + post-filter
    val p = diskDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*cell".r.findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
  }

  test("IVF append: frozen-centroid ingestion equals a rebuild over the union; replay idempotent; still pruned") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    val qv = rand(424242L)
    def embOf(ids: Seq[Long]) = ids.map(p => (p, rand(p).toSeq)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val base = embOf(1L to 300L)
    val shard = embOf(301L to 400L)
    val dir = "/tmp/graft-test-ivf-append"
    val built = Ann.Ivf.buildIndex(base, "vec_id", "embedding", nlist = 8, sampleN = 400)
    Ann.Ivf.writeIndex(built, dir)
    Ann.Ivf.appendToIndex(spark, dir, shard, "embedding", epoch = 1L)
    val opened = Ann.Ivf.openIndex(spark, dir, "vec_id", "embedding")
    // twin: SAME centroids (no retrain), assignment over the union
    val twin = Ann.Ivf.Index(built.centroids,
      Ann.Ivf.assign(base.union(shard), "embedding", built.centroids),
      "vec_id", "embedding")
    val want = Ann.Ivf.topKIndexed(twin, qv, 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val servedDf = Ann.Ivf.topKIndexed(opened, qv, 10, nProbe = 2)
    val got = servedDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"got=$got want=$want")
    assert(got.exists(_._1 > 300L), "no appended vector reached the top-k — parity check is vacuous")
    // probes stay partition-pruned after the append
    val p = servedDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*cell".r.findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    // a replayed ingest rewrites its own epoch partitions, never duplicates
    val n1 = spark.read.parquet(s"$dir/cells").count()
    Ann.Ivf.appendToIndex(spark, dir, shard, "embedding", epoch = 1L)
    assert(spark.read.parquet(s"$dir/cells").count() == n1, "replayed append duplicated rows")
    assert(Ann.Ivf.topKIndexed(Ann.Ivf.openIndex(spark, dir, "vec_id", "embedding"),
      qv, 10, nProbe = 2).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == want)
    // cell stats expose the drift/skew signal over base + appended rows
    assert(Ann.Ivf.cellStats(spark, dir).agg(org.apache.spark.sql.functions.sum("n_rows"))
      .head().getLong(0) == 400L)
    // the base build is epoch 0; appends must claim a positive epoch
    intercept[IllegalArgumentException] {
      Ann.Ivf.appendToIndex(spark, dir, shard, "embedding", epoch = 0L)
    }
  }

  test("IVF-PQ append: frozen centroids + codebooks encode the shard; served equals in-memory over the union") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    val qv = rand(424242L)
    def embOf(ids: Seq[Long]) = ids.map(p => (p, rand(p).toSeq)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val base = embOf(1L to 300L)
    val shard = embOf(301L to 400L)
    val all = base.union(shard)
    val dir = "/tmp/graft-test-ivfpq-append"
    val built = Ann.Ivf.buildIndex(base, "vec_id", "embedding", nlist = 8, sampleN = 400)
    val cb = Ann.Pq.train(base, "vec_id", "embedding", dim, m = 4, ksub = 16, sampleN = 400)
    Ann.Pq.writeIvfPqIndex(built, cb, dir)
    Ann.Pq.appendToIvfPqIndex(spark, dir, shard, "vec_id", "embedding", epoch = 1L)
    val idx = Ann.Pq.openIvfPqIndex(spark, dir, "vec_id")
    // twin: same centroids AND codebooks, in-memory over the union
    val twin = Ann.Ivf.Index(built.centroids,
      Ann.Ivf.assign(all, "embedding", built.centroids), "vec_id", "embedding")
    val want = Ann.Pq.topKIvf(twin, cb, qv, 5, nProbe = 2, refine = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = Ann.Pq.topKIvfServed(idx, all, "vec_id", "embedding", qv, 5,
        nProbe = 2, refine = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"got=$got want=$want")
    // replay idempotency on the codes table
    val n1 = spark.read.parquet(s"$dir/cells").count()
    Ann.Pq.appendToIvfPqIndex(spark, dir, shard, "vec_id", "embedding", epoch = 1L)
    assert(spark.read.parquet(s"$dir/cells").count() == n1, "replayed append duplicated codes")
  }

  test("IVF compaction: epochs fold to one baseline per cell, answers byte-identical, folded replays refused") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    val qv = rand(424242L)
    def embOf(ids: Seq[Long]) = ids.map(p => (p, rand(p).toSeq)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val dir = "/tmp/graft-test-ivf-compact"
    val built = Ann.Ivf.buildIndex(embOf(1L to 300L), "vec_id", "embedding", nlist = 8, sampleN = 400)
    Ann.Ivf.writeIndex(built, dir)
    Ann.Ivf.appendToIndex(spark, dir, embOf(301L to 350L), "embedding", epoch = 1L)
    Ann.Ivf.appendToIndex(spark, dir, embOf(351L to 400L), "embedding", epoch = 2L)
    def answers() = Ann.Ivf.topKIndexed(
        Ann.Ivf.openIndex(spark, dir, "vec_id", "embedding"), qv, 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = answers()
    assert(Ann.Ivf.compactIndex(spark, dir) === 2L)
    assert(answers() === want)
    // every cell directory folded to exactly the baseline epoch partition
    val cellDirs = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "cells"))
      .filter(p => p.getFileName.toString.startsWith("cell=")).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { cd =>
      val epochs = java.nio.file.Files.list(cd)
        .filter(p => p.getFileName.toString.startsWith("epoch=")).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      assert(epochs === Seq("epoch=2"), s"$cd not folded: $epochs")
    }
    // probes stay partition-pruned over the compacted layout
    val p = Ann.Ivf.topKIndexed(Ann.Ivf.openIndex(spark, dir, "vec_id", "embedding"),
      qv, 10, nProbe = 2).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*cell".r.findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    // a replayed ingest of a folded epoch would overwrite baseline partitions
    // with just the shard — the fold point makes that loud
    val e = intercept[IllegalArgumentException] {
      Ann.Ivf.appendToIndex(spark, dir, embOf(301L to 350L), "embedding", epoch = 2L)
    }
    assert(e.getMessage.contains("folded"))
    // ingestion continues past the fold point; a second compaction folds it in
    Ann.Ivf.appendToIndex(spark, dir, embOf(401L to 420L), "embedding", epoch = 3L)
    val twin = Ann.Ivf.Index(built.centroids,
      Ann.Ivf.assign(embOf(1L to 420L), "embedding", built.centroids), "vec_id", "embedding")
    val wantAll = Ann.Ivf.topKIndexed(twin, qv, 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(answers() === wantAll)
    assert(Ann.Ivf.compactIndex(spark, dir) === 3L)
    assert(answers() === wantAll)
    // an idle compaction (nothing newer than the fold point) is a no-op
    assert(Ann.Ivf.compactIndex(spark, dir) === 3L)
    // a REBUILD resets maintenance history: early epochs are appendable again
    Ann.Ivf.writeIndex(built, dir)
    Ann.Ivf.appendToIndex(spark, dir, embOf(301L to 350L), "embedding", epoch = 1L)
  }

  test("IVF compaction crash seam: a crash between stage and swap recovers on the next open") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    val qv = rand(424242L)
    def embOf(ids: Seq[Long]) = ids.map(p => (p, rand(p).toSeq)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val dir = "/tmp/graft-test-ivf-compact-crash"
    val built = Ann.Ivf.buildIndex(embOf(1L to 300L), "vec_id", "embedding", nlist = 8, sampleN = 400)
    Ann.Ivf.writeIndex(built, dir)
    Ann.Ivf.appendToIndex(spark, dir, embOf(301L to 400L), "embedding", epoch = 1L)
    val want = Ann.Ivf.topKIndexed(
        Ann.Ivf.openIndex(spark, dir, "vec_id", "embedding"), qv, 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    intercept[IllegalStateException] {
      Ann.cellsStore(spark, dir).compact(crashBeforeSwap = true)
    }
    // crashed mid-compaction: marker + staged rewrite are on disk, live untouched
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_compact_pending")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "cells_stage")))
    // the next open finishes the swap and answers are unchanged
    val got = Ann.Ivf.topKIndexed(
        Ann.Ivf.openIndex(spark, dir, "vec_id", "embedding"), qv, 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_compact_pending")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "cells_stage")))
    assert(Ann.cellsStore(spark, dir).maxFolded === 1L)
    // the fold point survives the crash-recovery path too
    intercept[IllegalArgumentException] {
      Ann.Ivf.appendToIndex(spark, dir, embOf(301L to 400L), "embedding", epoch = 1L)
    }
  }

  test("IVF-PQ compaction: codes fold to one baseline per cell; served answers unchanged; folded replays refused") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    val qv = rand(424242L)
    def embOf(ids: Seq[Long]) = ids.map(p => (p, rand(p).toSeq)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val base = embOf(1L to 300L)
    val all = embOf(1L to 400L)
    val dir = "/tmp/graft-test-ivfpq-compact"
    val built = Ann.Ivf.buildIndex(base, "vec_id", "embedding", nlist = 8, sampleN = 400)
    val cb = Ann.Pq.train(base, "vec_id", "embedding", dim, m = 4, ksub = 16, sampleN = 400)
    Ann.Pq.writeIvfPqIndex(built, cb, dir)
    Ann.Pq.appendToIvfPqIndex(spark, dir, embOf(301L to 400L), "vec_id", "embedding", epoch = 1L)
    def served() = Ann.Pq.topKIvfServed(Ann.Pq.openIvfPqIndex(spark, dir, "vec_id"),
        all, "vec_id", "embedding", qv, 5, nProbe = 2, refine = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = served()
    assert(Ann.Pq.compactIvfPqIndex(spark, dir) === 1L)
    assert(served() === want)
    intercept[IllegalArgumentException] {
      Ann.Pq.appendToIvfPqIndex(spark, dir, embOf(301L to 400L), "vec_id", "embedding", epoch = 1L)
    }
    Ann.Pq.appendToIvfPqIndex(spark, dir, embOf(401L to 420L), "vec_id", "embedding", epoch = 2L)
    assert(spark.read.parquet(s"$dir/cells").count() === 420L)
  }

  test("x34 served IVF ingestion: appended index answers equal a frozen-centroid rebuild over the union") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") =!= 0)
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val centroids = Ann.Ivf.trainCentroids(base, "vec_id", "embedding",
      nlist = 8, sampleN = 400)
    val twin = Ann.Ivf.Index(centroids,
      Ann.Ivf.assign(corpus, "embedding", centroids), "vec_id", "embedding")
    val want = Ann.Ivf.topKIndexed(twin, q, 10, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = SparkEntry.queries("x34_ann_ivf_appended")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"got=$got want=$want")
  }

  test("x25 served ANN: persisted partition-pruned index answers equal the in-memory x14 path") {
    // build-once/query-many: the driver-facing x25 writes the IVF index,
    // reopens it from disk, and probes through the pruned scan — its
    // answers must be exactly the in-memory x14 top-k (same deterministic
    // training, same probe cells)
    val mem = SparkEntry.queries("x14_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = SparkEntry.queries("x25_ann_served")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == mem, s"served=$served mem=$mem")
  }

  test("x28 served PQ: ADC over the persisted codes table equals the in-memory x19 path") {
    val mem = SparkEntry.queries("x19_ann_pq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = SparkEntry.queries("x28_ann_pq_served")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == mem, s"served=$served mem=$mem")
  }

  test("x30 served IVF-PQ: pruned cell scan over persisted codes equals the in-memory x20 path") {
    val mem = SparkEntry.queries("x20_ann_ivfpq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val servedDf = SparkEntry.queries("x30_ann_ivfpq_served")(spark, sf)
    val served = servedDf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == mem, s"served=$served mem=$mem")
    // the cell filter must reach the DIRECTORY layout of the codes table
    val p = servedDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*cell".r.findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
  }

  test("x31 served batch k-NN: written bucket table + pruned probe equals the in-memory x21 join") {
    // the corpus side of the k-NN join as a build-once written table: the
    // probe must return exactly the in-memory rebucketing form's rows
    // (same planes, same cap, same cosine/tiebreak), and the bucket scan
    // must be partition-pruned by the query batch, not a full read
    val mem = SparkEntry.queries("x21_knn_join_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val servedDf = SparkEntry.queries("x31_knn_join_served")(spark, sf)
    val served = servedDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(served == mem, s"served=${served.take(5)}... mem=${mem.take(5)}...")
    // dynamic partition pruning from the broadcast query batch must reach
    // the directory layout of the written bucket table
    val p = servedDf.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*dynamicpruning".r.findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
  }

  test("x35 served k-NN ingestion: appended corpus probe equals the single-build x31 form") {
    // base 80% + epoch-appended 20% must answer exactly like one build
    // over the full corpus — planes are stored, counts are additive, and
    // the probe-time cap sums across epochs
    val one = SparkEntry.queries("x31_knn_join_served")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val appended = SparkEntry.queries("x35_knn_join_appended")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(appended == one, s"appended=${appended.take(5)}... one=${one.take(5)}...")
    assert(appended.exists(_._2 % 5 == 0),
      "no appended vector reached any top-k — ingestion parity check is vacuous")
  }

  test("served k-NN corpus: an appended shard pushing a bucket over the cap suppresses it, counted — rebuild-exact") {
    import spark.implicits._
    // identical vectors collide in every table; 3 base + 2 appended rows
    // cross maxBucket=4 only ACROSS the ingestion boundary — a cap baked
    // in at write time could never drop the 3 already-written rows
    val dim = 4
    val v = Seq(1f, 2f, 3f, 4f)
    val far = Seq(-9f, 8f, -7f, 6f)
    def embOf(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val base = embOf((1L to 3L).map(i => (i, v)) :+ (10L, far))
    val shard = embOf(Seq((4L, v), (5L, v)))
    val dir = "/tmp/graft-test-knn-capped-append"
    Ann.writeKnnCorpus(base, "vec_id", "embedding", dir,
      dim = dim, nBits = 2, nTables = 1, maxBucket = 4)
    val queries = embOf(Seq((100L, v), (101L, far)))
    // before the append the v-bucket holds 3 <= 4 rows: probing finds them
    val acc0 = spark.sparkContext.longAccumulator("knn_cap_before")
    val before = Ann.knnJoinServed(Ann.openKnnCorpus(spark, dir), queries,
        "vec_id", "embedding", k = 5, droppedRows = Some(acc0))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.contains((100L, 1L)) && acc0.value == 0L)
    Ann.appendToKnnCorpus(spark, dir, shard, "vec_id", "embedding", epoch = 1L)
    val acc1 = spark.sparkContext.longAccumulator("knn_cap_after")
    val after = Ann.knnJoinServed(Ann.openKnnCorpus(spark, dir), queries,
        "vec_id", "embedding", k = 5, droppedRows = Some(acc1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the combined 5-row bucket is over cap: no neighbor from it survives,
    // and the 5 suppressed corpus rows are counted, never silent
    assert(!after.exists(_._1 == 100L), s"over-cap bucket leaked: $after")
    assert(acc1.value == 5L, s"dropped_rows=${acc1.value}")
    // the far bucket is untouched by the append
    assert(after.exists(_._1 == 101L))
    // rebuild-exact: the in-memory knnJoin over the union agrees
    val accU = spark.sparkContext.longAccumulator("knn_cap_union")
    val union = Ann.knnJoin(queries, "vec_id", "embedding",
        base.union(shard), "vec_id", "embedding", k = 5, dim = dim,
        nBits = 2, nTables = 1, maxBucket = 4, droppedRows = Some(accU))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after == union, s"served=$after union=$union")
  }

  test("served k-NN corpus compaction: epochs fold, counts collapse to one row per key, probes unchanged; replays guarded") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    def embOf(ids: Seq[Long]) = ids.map(p => (p, rand(p).toSeq)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val dir = "/tmp/graft-test-knn-compact"
    Ann.writeKnnCorpus(embOf(1L to 200L), "vec_id", "embedding", dir,
      dim = dim, nBits = 4, nTables = 2)
    Ann.appendToKnnCorpus(spark, dir, embOf(201L to 260L), "vec_id", "embedding", epoch = 1L)
    // a replayed append of a committed epoch rewrites its own partitions,
    // never duplicates (both datasets)
    val nb = spark.read.parquet(s"$dir/buckets").count()
    val nc = spark.read.parquet(s"$dir/counts").count()
    Ann.appendToKnnCorpus(spark, dir, embOf(201L to 260L), "vec_id", "embedding", epoch = 1L)
    assert(spark.read.parquet(s"$dir/buckets").count() == nb, "replay duplicated bucket rows")
    assert(spark.read.parquet(s"$dir/counts").count() == nc, "replay duplicated count rows")
    Ann.appendToKnnCorpus(spark, dir, embOf(261L to 300L), "vec_id", "embedding", epoch = 2L)
    val queries = embOf(Seq(500L)).union(embOf(Seq(1L, 250L, 290L)))
    def probe() = Ann.knnJoinServed(Ann.openKnnCorpus(spark, dir), queries,
        "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = probe()
    assert(want.exists(_._2 > 200L), "no appended vector in any top-k — parity is vacuous")
    assert(Ann.compactKnnCorpus(spark, dir) === 2L)
    assert(probe() === want)
    // counts folded: exactly one row per surviving key, all epoch=2
    val counts = spark.read.parquet(s"$dir/counts")
    assert(counts.select("epoch").distinct().collect().map(_.get(0).toString).toSeq == Seq("2"))
    assert(counts.groupBy("tbl", "bucket").count().filter(col("count") > 1).count() == 0L)
    // probes stay dynamically partition-pruned over the compacted layout
    val p = Ann.knnJoinServed(Ann.openKnnCorpus(spark, dir), queries,
      "vec_id", "embedding", k = 4).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*dynamicpruning".r.findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
    // folded epochs refuse replays; ingestion continues past the fold point
    val e = intercept[IllegalArgumentException] {
      Ann.appendToKnnCorpus(spark, dir, embOf(261L to 300L), "vec_id", "embedding", epoch = 2L)
    }
    assert(e.getMessage.contains("folded"))
    Ann.appendToKnnCorpus(spark, dir, embOf(301L to 320L), "vec_id", "embedding", epoch = 3L)
    assert(Ann.compactKnnCorpus(spark, dir) === 3L)
  }

  test("quantizer training sample: seeded hash filter covers id-correlated clusters") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    // content CORRELATED with id order: cluster c = id/100, centers 10c —
    // the r3 prefix sample (first sampleN by id) would train every
    // centroid inside cluster 0 and never see the rest
    def centered(c: Int, seed: Long): Seq[Float] =
      Seq.tabulate(dim)(i => c * 10f + ((mix(seed * 31 + i) >>> 40).toFloat / (1 << 24) - 0.5f))
    val emb = (0L until 400L).map(id => (id, centered((id / 100).toInt, id)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val cents = Ann.Ivf.trainCentroids(emb, "vec_id", "embedding", nlist = 4, sampleN = 100)
    // the hash sample sees all four clusters, so the trained centroids
    // span the full data range (means near 0/10/20/30); an id-prefix
    // sample of 100 could only ever produce means inside [−1, 1]
    val means = cents.map(c => c.sum / dim)
    assert(means.max - means.min > 15.0,
      s"centroids collapsed to one id-range: means=${means.sorted.mkString(", ")}")
    // deterministic retrain stays exact under the hash sampler
    val again = Ann.Ivf.trainCentroids(emb, "vec_id", "embedding", nlist = 4, sampleN = 100)
    assert(cents.flatten.toSeq == again.flatten.toSeq)
    // row-count hint: callers that know the corpus size skip the extra
    // count() pass; an exact hint reproduces the no-hint sample (same
    // modulus m -> same seeded filter), so trained centroids are identical
    val hinted = Ann.Ivf.trainCentroids(emb, "vec_id", "embedding", nlist = 4,
      sampleN = 100, nHint = 400L)
    assert(cents.flatten.toSeq == hinted.flatten.toSeq)
  }

  test("connected components: reliable-checkpoint variant is value-identical and writes rounds to the dir") {
    import spark.implicits._
    val edges = ((0L until 20L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
      .toDF("a", "b")
    val expected = Dedup.connectedComponents(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    // force the star loop (smallGraphEdges = 0): the round-file cleanup
    // under test only happens when rounds actually run
    val reliable = Dedup.connectedComponents(edges, "a", "b",
        checkpointDir = Some(dir.toString), smallGraphEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reliable == expected)
    // the fault-tolerant form left the FINAL round's files under the
    // reliable dir (what a lost executor would replay from), and deleted
    // every superseded round — checkpoint data must not accumulate
    // per round across a long-running CC job
    val s = java.nio.file.Files.walk(dir)
    val (files, roundDirs) = try {
      import scala.jdk.CollectionConverters._
      val ps = s.iterator().asScala.toVector
      (ps.count(p => java.nio.file.Files.isRegularFile(p)),
        ps.count(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("round_")))
    } finally s.close()
    assert(files > 0, s"no checkpoint files under $dir")
    assert(roundDirs == 1, s"superseded rounds not cleaned: $roundDirs dirs remain")
  }

  test("embed near-dup: LSH pairs are a subset of brute force; planted clones always recalled") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 64
    def rand(seed: Long): Seq[Float] =
      Seq.tabulate(dim)(i => (mix(seed * 104729 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    // 5 planted clone pairs (identical vectors -> same bucket at ANY nBits)
    val bases = (1L to 5L).map(i => (i, rand(i)))
    val clones = bases.map { case (i, v) => (i + 1000L, v) }
    val noise = (11L to 200L).map(i => (i, rand(i)))
    val emb = (bases ++ clones ++ noise).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val lsh = ops.Ann.neardupPairs(emb, "vec_id", "embedding", 0.99, dim, nBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    bases.foreach { case (i, _) =>
      assert(lsh.contains((i, i + 1000L)), s"clone pair $i missing")
    }
    // capped viral bucket drops ALL its pairs
    val capped = ops.Ann.neardupPairs(emb, "vec_id", "embedding", 0.99, dim,
      nBits = 1, maxBucket = 10)
    assert(capped.count() <= lsh.size)
  }

  test("embed near-dup OR-amplified: recall >= 0.9 on planted NEAR-neighbors at nBits=8") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 64
    def rand(seed: Long, amp: Float): Seq[Float] =
      Seq.tabulate(dim)(i => ((mix(seed * 104729 + i) >>> 40).toFloat / (1 << 24) - 0.5f) * amp)
    // 25 planted near-neighbor pairs at cos ~0.98 (NOT clones: each pair
    // differs by per-dim noise ~1/5 of the vector norm) among 200 randoms
    val bases = (1L to 25L).map(i => (i, rand(i, 1f)))
    val nears = bases.map { case (i, v) =>
      (i + 1000L, v.zip(rand(i + 555L, 0.2f)).map { case (x, e) => x + e })
    }
    val noise = (101L to 300L).map(i => (i, rand(i, 1f)))
    val emb = (bases ++ nears ++ noise).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    // single 8-bit table: per-pair collision ~(1-theta/pi)^8 — low by design
    val single = ops.Ann.neardupPairs(emb, "vec_id", "embedding", 0.9, dim,
      nBits = 8, nTables = 1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // OR-amplified: 4 independent tables restore recall without giving up
    // bucket selectivity (1-(1-p)^4)
    val amplified = ops.Ann.neardupPairs(emb, "vec_id", "embedding", 0.9, dim,
      nBits = 8, nTables = 4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = bases.map { case (i, _) => (i, i + 1000L) }.toSet
    val recall = planted.intersect(amplified).size.toDouble / planted.size
    assert(recall >= 0.9, s"amplified recall $recall < 0.9")
    assert(planted.intersect(single).size <= planted.intersect(amplified).size,
      "amplification must not lose pairs a single table finds")
  }

  test("capByKey == per-key-count reference on randomized skewed data, drops exact") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    // random (id, key) rows with one hot key (~20% of rows) + a long tail
    val rows = (1L to 3000L).map { i =>
      val k = (math.abs(mix(i)) % 40).toInt
      (i, if (k < 8) 0 else k)
    }
    val df = rows.toDF("id", "k")
    val bucketN = rows.groupBy(_._2).view.mapValues(_.size).toMap
    for (cap <- Seq(1, 10, 50, 500, 5000)) {
      val want = rows.filter { case (_, k) => bucketN(k) <= cap }.toSet
      val acc = spark.sparkContext.longAccumulator(s"cap_$cap")
      val got = ops.DropStats.capByKey(df, Seq("k"), cap, Some(acc))
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("k"))).toSet
      assert(got == want, s"cap=$cap: ${got.size} vs ${want.size}")
      assert(acc.value == rows.size - want.size, s"cap=$cap drops=${acc.value}")
    }
  }

  /** Drop a minhash-index table triple AND its managed-table dirs (a
    * failed prior run can leave the location without the catalog entry,
    * which blocks the next saveAsTable). */
  private def dropMinhashIndex(name: String): Unit = {
    Seq("", "_counts", "_params").flatMap(s =>
      Seq(s"$name$s", s"$name${s}_cstage")).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val d = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(d)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get("spark-warehouse", s"_compact_pending_$name"))
    ()
  }

  test("incremental minhash: shard-vs-index candidates equal the full-corpus pairs touching the shard") {
    import spark.implicits._
    // split the sf corpus at an ingestion boundary, plus one planted clone
    // pair CROSSING it so the cross-boundary path is provably exercised
    val clone = "zeta omega kappa sigma lambda theta epsilon delta gamma beta"
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val docs = base.union(Seq((900001L, clone), (900002L, clone)).toDF("doc_id", "text"))
    val isShard = (id: Long) => id % 5 == 0 || id == 900002L
    val corpus = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") =!= 900002L)
    val shard = docs.filter(col("doc_id") % 5 === 0 || col("doc_id") === 900002L)
    dropMinhashIndex("mh_idx_parity")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "mh_idx_parity")
    val idx = Dedup.openMinhashIndex(spark, "mh_idx_parity")
    assert(idx.bands == 4 && idx.rowsPerBand == 2)
    val inc = Dedup.incrementalCandidates(shard, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => isShard(p._1) || isShard(p._2))
    assert(inc == full, s"inc=${inc.size} full-restricted=${full.size}")
    assert(inc.contains((900001L, 900002L)), "planted cross-boundary clone pair missing")
    dropMinhashIndex("mh_idx_parity")
  }

  test("incremental minhash: appended shard folds into the index, next probe sees it") {
    import spark.implicits._
    // build on A, append B (the accept step), probe C: candidates must
    // equal the full-corpus pairs touching C — including a planted clone
    // pair (B, C) that ONLY the appended epoch's rows and counts can find
    val clone = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val a = base.filter(col("doc_id") % 3 === 1)
    val b = base.filter(col("doc_id") % 3 === 2)
      .union(Seq((910001L, clone)).toDF("doc_id", "text"))
    val c = base.filter(col("doc_id") % 3 === 0)
      .union(Seq((910002L, clone)).toDF("doc_id", "text"))
    dropMinhashIndex("mh_idx_append")
    Dedup.writeMinhashIndex(a, "doc_id", "text", "mh_idx_append")
    Dedup.appendToMinhashIndex(b, "doc_id", "text", "mh_idx_append")
    val idx = Dedup.openMinhashIndex(spark, "mh_idx_append")
    val inc = Dedup.incrementalCandidates(c, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inC = (id: Long) => id % 3 == 0 || id == 910002L
    val full = Dedup.minhashCandidates(a.union(b).union(c), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => inC(p._1) || inC(p._2))
    assert(inc == full, s"inc=${inc.size} full-restricted=${full.size}")
    assert(inc.contains((910001L, 910002L)), "appended-epoch clone pair missing")
    dropMinhashIndex("mh_idx_append")
  }

  test("incremental minhash: combined cap catches buckets viral across the ingestion boundary") {
    import spark.implicits._
    // 10 clones indexed + 10 clones arriving: each side alone is under the
    // cap of 15, combined 20 is over — a per-side cap would let the bucket
    // through; the combined count must drop it AND report the loss
    val viral = "alpha beta gamma delta epsilon zeta eta theta iota"
    val corpus = (1L to 10L).map(i => (i, viral)).toDF("doc_id", "text")
    val shard = (101L to 110L).map(i => (i, viral)).toDF("doc_id", "text")
    dropMinhashIndex("mh_idx_viral")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", "mh_idx_viral")
    val idx = Dedup.openMinhashIndex(spark, "mh_idx_viral")
    val acc = spark.sparkContext.longAccumulator("inc_dropped")
    val inc = Dedup.incrementalCandidates(shard, "doc_id", "text", idx,
      maxBucket = 15, droppedRows = Some(acc))
    assert(inc.count() == 0)
    // 4 bands x (10 corpus + 10 shard) combined rows suppressed
    assert(acc.value == 80, s"combined-cap drops miscounted: ${acc.value}")
    dropMinhashIndex("mh_idx_viral")
  }

  test("incremental minhash probe: bucketed index layout removes the corpus-side shuffle") {
    import spark.implicits._
    val docs = (1L to 300L).map(i =>
      (i, s"alpha$i beta$i gamma${i % 7} delta${i % 5} epsilon zeta eta")).toDF("doc_id", "text")
    val shard = (1001L to 1020L).map(i =>
      (i, s"alpha${i - 1000} beta${i - 1000} gamma${(i - 1000) % 7} delta${(i - 1000) % 5} epsilon zeta eta")).toDF("doc_id", "text")
    dropMinhashIndex("mh_idx_plan")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", "mh_idx_plan", nBuckets = 4)
    val bucketed = Dedup.openMinhashIndex(spark, "mh_idx_plan")
    // identical probe against the same rows WITHOUT the bucketed layout:
    // the only difference is the index table's physical layout
    val plainDir = "/tmp/graft-test-mh-plain"
    bucketed.buckets.write.mode("overwrite").parquet(plainDir)
    val plain = bucketed.copy(buckets = spark.read.parquet(plainDir))
    // whether the corpus-index scan is shuffled before reaching its probe
    // join: walk the scan's ancestor chain (tree indentation) up to the
    // first Join node and look for an Exchange on the way
    def corpusShuffled(idx: Dedup.MinhashIndex, scanTag: String): Boolean = {
      val df = Dedup.incrementalCandidates(shard, "doc_id", "text", idx)
      df.count()
      val lines = df.queryExecution.executedPlan.toString.linesIterator.toVector
      def depth(l: String): Int = l.indexWhere(_.isLetter)
      val scans = lines.zipWithIndex.filter(_._1.contains(scanTag)).map(_._2)
      assert(scans.nonEmpty, s"no $scanTag scan in plan\n" + lines.take(40).mkString("\n"))
      scans.exists { si =>
        var cur = depth(lines(si)); var i = si - 1; var shuffled = false
        var done = false
        while (i >= 0 && !done) {
          val d = depth(lines(i))
          if (d >= 0 && d < cur) {
            cur = d
            if (lines(i).contains("Exchange hashpartitioning")) shuffled = true
            // walk THROUGH the LeftOuter cap-filter join; the probe join
            // (where a corpus shuffle would sit below) is the Inner one
            if (lines(i).contains("Join") && lines(i).contains("Inner")) done = true
          }
          i -= 1
        }
        shuffled
      }
    }
    // force the at-scale join strategy (a real shard is not broadcast-able)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      assert(!corpusShuffled(bucketed, "default.mh_idx_plan["),
        "bucketed index scan must stream into the probe join with no exchange")
      assert(corpusShuffled(plain, "graft-test-mh-plain"),
        "plain layout should need a corpus-side shuffle under sort-merge — " +
          "if not, this guard is vacuous")
      // epoch compaction rewrites the table through a stage + catalog
      // rename: the bucket spec must survive the swap or every probe
      // after maintenance silently regains the corpus-side shuffle
      val extra = (2001L to 2020L).map(i =>
        (i, s"alpha${i - 2000} beta${i - 2000} epsilon zeta eta")).toDF("doc_id", "text")
      Dedup.appendToMinhashIndex(extra, "doc_id", "text", "mh_idx_plan", epoch = 1L)
      Dedup.compactMinhashIndex(spark, "mh_idx_plan")
      val compacted = Dedup.openMinhashIndex(spark, "mh_idx_plan")
      assert(!corpusShuffled(compacted, "default.mh_idx_plan["),
        "compaction lost the bucketed layout: corpus-side shuffle is back")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
    dropMinhashIndex("mh_idx_plan")
  }

  test("incremental minhash: epoch compaction folds history; probes, caps and replay guards unchanged") {
    import spark.implicits._
    val viral = "alpha beta gamma delta epsilon zeta eta theta iota"
    val clone = "november oscar papa quebec romeo sierra tango uniform victor"
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    // viral bucket split ACROSS epochs (8 in the build, 4 in the append):
    // the combined cap of 15 trips only if compaction sums count rows per
    // key correctly (8 + 4 corpus + 6 shard = 18 > 15)
    val a = base.filter(col("doc_id") % 3 === 1)
      .union((920001L to 920008L).map(i => (i, viral)).toDF("doc_id", "text"))
    val b = base.filter(col("doc_id") % 3 === 2)
      .union((920011L to 920014L).map(i => (i, viral)).toDF("doc_id", "text"))
      .union(Seq((910001L, clone)).toDF("doc_id", "text"))
    val shard = base.filter(col("doc_id") % 3 === 0)
      .union((920021L to 920026L).map(i => (i, viral)).toDF("doc_id", "text"))
      .union(Seq((910002L, clone)).toDF("doc_id", "text"))
    dropMinhashIndex("mh_idx_cpt")
    Dedup.writeMinhashIndex(a, "doc_id", "text", "mh_idx_cpt")
    Dedup.appendToMinhashIndex(b, "doc_id", "text", "mh_idx_cpt", epoch = 1L)
    def probe(acc: org.apache.spark.util.LongAccumulator) =
      Dedup.incrementalCandidates(shard, "doc_id", "text",
          Dedup.openMinhashIndex(spark, "mh_idx_cpt"),
          maxBucket = 15, droppedRows = Some(acc))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val acc0 = spark.sparkContext.longAccumulator("pre")
    val pairs0 = probe(acc0)
    assert(pairs0.contains((910001L, 910002L)))
    assert(!pairs0.exists(p => p._1 >= 920000L || p._2 >= 920000L),
      "viral cross-epoch bucket leaked through the combined cap")
    assert(acc0.value > 0)

    assert(Dedup.compactMinhashIndex(spark, "mh_idx_cpt") == 1L)
    // one epoch everywhere, one count row per key
    val idx = Dedup.openMinhashIndex(spark, "mh_idx_cpt")
    assert(idx.maxFoldedEpoch == 1L)
    assert(idx.buckets.select("epoch").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
    assert(idx.keyCounts.groupBy("band", "h").count()
      .filter(col("count") > 1).count() == 0, "counts not folded to one row per key")
    // probe is byte-identical, including the drop accounting
    val acc1 = spark.sparkContext.longAccumulator("post")
    assert(probe(acc1) == pairs0)
    assert(acc1.value == acc0.value)
    // folded epochs still count as present: a replayed append is a no-op
    assert(Dedup.epochInMinhashIndex(spark, "mh_idx_cpt", 0L))
    assert(Dedup.epochInMinhashIndex(spark, "mh_idx_cpt", 1L))
    val nRows = spark.table("mh_idx_cpt").count()
    Dedup.appendToMinhashIndex(b, "doc_id", "text", "mh_idx_cpt", epoch = 1L)
    assert(spark.table("mh_idx_cpt").count() == nRows, "replayed folded epoch re-appended")
    // auto epoch numbering continues past the folded history
    Dedup.appendToMinhashIndex(
      Seq((930001L, "golf hotel india")).toDF("doc_id", "text"), "doc_id", "text", "mh_idx_cpt")
    assert(spark.table("mh_idx_cpt_counts").agg(max("epoch")).head().getLong(0) == 2L)
    // replay of a FOLDED epoch can't exclude its rows -> loud failure
    val ex = intercept[IllegalArgumentException] {
      Dedup.incrementalCandidates(shard, "doc_id", "text",
        Dedup.openMinhashIndex(spark, "mh_idx_cpt"), excludeEpoch = Some(1L))
    }
    assert(ex.getMessage.contains("folded by index compaction"))
    // the auto-appended epoch 2 re-opens history: compaction folds it in,
    // and only then is a further compact the cheap no-op
    assert(Dedup.compactMinhashIndex(spark, "mh_idx_cpt") == 2L)
    assert(Dedup.compactMinhashIndex(spark, "mh_idx_cpt") == 2L)
    dropMinhashIndex("mh_idx_cpt")
  }

  test("incremental minhash: a crash inside the compaction swap is finished on next open") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val a = base.filter(col("doc_id") % 3 === 1)
    val b = base.filter(col("doc_id") % 3 === 2)
    val shard = base.filter(col("doc_id") % 3 === 0)
    dropMinhashIndex("mh_idx_crash")
    Dedup.writeMinhashIndex(a, "doc_id", "text", "mh_idx_crash")
    Dedup.appendToMinhashIndex(b, "doc_id", "text", "mh_idx_crash", epoch = 1L)
    def probe() = Dedup.incrementalCandidates(shard, "doc_id", "text",
        Dedup.openMinhashIndex(spark, "mh_idx_crash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs0 = probe()
    intercept[IllegalStateException] {
      Dedup.minhashStore(spark, "mh_idx_crash").compact(crashBeforeSwap = true)
    }
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get("spark-warehouse", "_compact_pending_mh_idx_crash")))
    // the next open finishes the swap and the probe is unchanged
    assert(probe() == pairs0)
    val idx = Dedup.openMinhashIndex(spark, "mh_idx_crash")
    assert(idx.maxFoldedEpoch == 1L)
    assert(!spark.catalog.tableExists("mh_idx_crash_cstage"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get("spark-warehouse", "_compact_pending_mh_idx_crash")))
    dropMinhashIndex("mh_idx_crash")
  }

  test("x32 incremental dedup equals the x05 full-corpus pairs touching the shard") {
    val full = SparkEntry.queries("x05_minhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shardTouching = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    val inc = SparkEntry.queries("x32_incremental_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == shardTouching, s"inc=${inc.size} expected=${shardTouching.size}")
  }

  test("capByKey oversize key-list fallback: same rows, no broadcast, still sort-free") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    // many distinct over-cap keys: every key holds 3 rows, cap 2, so the
    // over-cap key list is 1/3 of the corpus — the skew shape the forced
    // broadcast must NOT be allowed to collect onto the driver
    val rows = (1L to 900L).map(i => (i, math.abs(mix(i / 3)) % 1000000))
    val df = rows.toDF("id", "k")
    val acc = spark.sparkContext.longAccumulator("fb_drops")
    val accB = spark.sparkContext.longAccumulator("fb_drops_bcast")
    val fb = ops.DropStats.capByKey(df, Seq("k"), 2, Some(acc), maxBroadcastKeys = 10)
    val bcast = ops.DropStats.capByKey(df, Seq("k"), 2, Some(accB))
    // value parity with the broadcast path, drops counted identically
    assert(fb.collect().map(_.getLong(0)).sorted.sameElements(
      bcast.collect().map(_.getLong(0)).sorted))
    assert(acc.value == accB.value)
    // the fallback plan hash-joins without a broadcast of the key list and
    // stays free of the sorts the cap operator exists to avoid
    val p = fb.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("bucket-cap drops are COUNTED, never silent (viral cluster)") {
    import spark.implicits._
    // 40 identical docs: one viral bucket per band, over the cap of 10 —
    // the guard must drop them AND report the drop (r2 'no silent caps')
    val viral = (1L to 40L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
    val rest = (101L to 105L).map(i =>
      (i, s"unique$i words$i only$i here$i now$i and$i more$i distinct$i"))
    val df = (viral ++ rest).toDF("doc_id", "text")
    val acc = spark.sparkContext.longAccumulator("minhash_dropped")
    val pairs = Dedup.minhashCandidates(df, "doc_id", "text",
      maxBucket = 10, droppedRows = Some(acc))
    assert(pairs.count() == 0) // correct behavior: the viral bucket is dropped
    // EXACT count (40 viral docs x 4 bands), not at-least-once: the old
    // per-row counting UDF saw each drop once per self-join side and once
    // per pass — up to 6x overcount in the reported coverage loss
    assert(acc.value == 160, s"dropped rows miscounted: ${acc.value}")
    pairs.count() // re-evaluating the plan must not inflate the counter
    assert(acc.value == 160, s"drop count not stable across evaluations: ${acc.value}")
    val acc2 = spark.sparkContext.longAccumulator("simhash_dropped")
    Dedup.simhashPairs(df, "doc_id", "text", maxDist = 3,
      maxBucket = 10, droppedRows = Some(acc2)).count()
    assert(acc2.value == 160, s"simhash dropped rows miscounted: ${acc2.value}")
    // the resolution layer threads the counter through to its generator:
    // a capped-away viral cluster must not read as a dup-free corpus
    val accR = spark.sparkContext.longAccumulator("resolve_dropped")
    val resolved = Dedup.resolveNearDups(df, "doc_id", "text", threshold = 0.5,
      maxBucket = 10, droppedRows = Some(accR))
    assert(resolved.filter("is_keeper = 0").count() == 0) // all singletons...
    assert(accR.value == 160, s"resolveNearDups drop not reported: ${accR.value}")
    val acc3 = spark.sparkContext.longAccumulator("neardup_dropped")
    val clone = Seq.tabulate(16)(i => i * 0.1f - 0.8f)
    val vecs = (1L to 40L).map(i => (i, clone)).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    ops.Ann.neardupPairs(vecs, "vec_id", "embedding", 0.9, 16,
      nBits = 4, maxBucket = 10, droppedRows = Some(acc3)).count()
    assert(acc3.value == 40, s"neardup dropped rows miscounted: ${acc3.value}")
    // the embedding RESOLUTION layer (x16's call) threads the counter too:
    // a viral embedding cluster capped away reads as all-singletons, so
    // the non-zero drop count is the ONLY signal coverage was lost
    val accE = spark.sparkContext.longAccumulator("embed_resolve_dropped")
    val resolvedE = ops.Ann.resolveNearDups(vecs, "vec_id", "embedding", 0.9,
      dim = 16, nBits = 4, maxBucket = 10, droppedRows = Some(accE))
    assert(resolvedE.filter("vec_id <> component").count() == 0) // all singletons...
    assert(accE.value == 40, s"Ann.resolveNearDups drop not reported: ${accE.value}")
    // the driver call-site pattern (x05/x06/x13/x21): the count is final
    // at plan-build time, so a constant dropped_rows column carries the
    // coverage-loss signal in the query output itself
    val acc4 = spark.sparkContext.longAccumulator("surfaced_dropped")
    val surfaced = Dedup.minhashCandidates(df, "doc_id", "text",
        maxBucket = 10, droppedRows = Some(acc4))
      .withColumn("dropped_rows", org.apache.spark.sql.functions.lit(acc4.value))
    assert(surfaced.columns.contains("dropped_rows"))
    // output is empty here (the whole cluster was capped) — the signal
    // must still be visible without any rows: the lit() is pinned from the
    // eager count, independent of the result set
    assert(acc4.value == 160, s"surfaced drop count wrong: ${acc4.value}")
    val withRows = Dedup.minhashCandidates(df, "doc_id", "text",
        maxBucket = 2000, droppedRows = Some(acc4))
      .withColumn("dropped_rows", org.apache.spark.sql.functions.lit(acc4.value))
    assert(withRows.select("dropped_rows").distinct().collect()
      .map(_.getLong(0)).toSeq == Seq(160L))
  }

  test("embedding near-dup resolution: clone clusters collapse to one keeper each") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 64
    def rand(seed: Long): Seq[Float] =
      Seq.tabulate(dim)(i => (mix(seed * 104729 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    // 3 planted clusters of 3 identical vectors + isolated noise
    val clusters = (1L to 3L).flatMap { c =>
      val v = rand(c)
      Seq((c, v), (c + 100L, v), (c + 200L, v))
    }
    val noise = (11L to 60L).map(i => (i, rand(i * 31 + 7)))
    val emb = (clusters ++ noise).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val resolved = ops.Ann.resolveNearDups(emb, "vec_id", "embedding",
      threshold = 0.99, dim, nBits = 8, nTables = 4).cache()
    assert(resolved.count() == clusters.size + noise.size) // one row per vector
    // each cluster: one keeper (the min id), members share its component
    for (c <- 1L to 3L) {
      val rows = resolved.filter($"vec_id".isin(c, c + 100L, c + 200L))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.map(_._2).toSet == Set(c), s"cluster $c components: ${rows.mkString(",")}")
      assert(rows.collect { case (id, _, 1) => id }.toSeq == Seq(c), s"cluster $c keepers")
    }
    // isolated vectors keep themselves
    assert(resolved.filter($"vec_id" >= 11L && $"vec_id" <= 60L)
      .filter($"is_keeper" === 0).count() == 0)
    resolved.unpersist()
  }

  test("IVF ANN: deterministic centroids, recall >= 0.9 on planted neighbors") {
    import spark.implicits._
    import graft.gen.Corpus.mix
    val dim = 16
    def rand(seed: Long): Array[Float] =
      Array.tabulate(dim)(i => (mix(seed * 7919 + i) >>> 40).toFloat / (1 << 24) - 0.5f)
    val qv = rand(777L)
    val planted = (1L to 10L).map { p =>
      (p, qv.zipWithIndex.map { case (x, i) =>
        x + (mix(p * 131 + i) % 100) / 4000.0f
      }.toSeq)
    }
    val randoms = (11L to 510L).map(p => (p, rand(p).toSeq))
    val emb = (planted ++ randoms).toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val got = ops.Ann.Ivf.topK(emb, "vec_id", "embedding", qv, 10,
      nlist = 8, nProbe = 2, sampleN = 510)
      .collect().map(_.getLong(0)).toSet
    val recall = got.intersect((1L to 10L).toSet).size / 10.0
    assert(recall >= 0.9, s"IVF recall $recall (got ${got.toSeq.sorted})")
    // determinism: same centroids -> same cells on a second run
    val again = ops.Ann.Ivf.topK(emb, "vec_id", "embedding", qv, 10,
      nlist = 8, nProbe = 2, sampleN = 510)
      .collect().map(_.getLong(0)).toSet
    assert(got == again)
    // index reuse: build once, serve many queries — same answers as the
    // one-shot form, training/assignment amortized
    val idx = ops.Ann.Ivf.buildIndex(emb, "vec_id", "embedding", nlist = 8, sampleN = 510)
    assert(ops.Ann.Ivf.topKIndexed(idx, qv, 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSet == got)
    val q2 = rand(999L)
    assert(ops.Ann.Ivf.topKIndexed(idx, q2, 5, nProbe = 2)
      .collect().map(_.getLong(0)).toSet ==
      ops.Ann.Ivf.topK(emb, "vec_id", "embedding", q2, 5,
        nlist = 8, nProbe = 2, sampleN = 510).collect().map(_.getLong(0)).toSet)
  }

  test("simhash: degenerate buckets capped, loose maxDist rejected") {
    import spark.implicits._
    // 60 identical docs -> one viral bucket; cap must drop it entirely
    val viral = (1L to 60L).map(i => (i, "same words everywhere always"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(viral, "doc_id", "text", maxDist = 3, maxBucket = 50)
    assert(capped.count() == 0)
    val uncapped = Dedup.simhashPairs(viral, "doc_id", "text", maxDist = 3, maxBucket = 100)
    assert(uncapped.count() == 60L * 59 / 2)
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(viral, "doc_id", "text", maxDist = 12)
    }
  }

  test("ImageIoCodec: REAL PNG bytes round-trip through decode/features/frames") {
    import Media.ImageIoCodec
    // the synthesized payload is a genuine PNG container (magic bytes),
    // and decode reads the real header back — not a hash of the ref
    val bytes = ImageIoCodec.fetchBytes("fig-000042.png")
    assert(bytes.take(8).map(_ & 0xFF).toSeq ==
      Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A), "not a PNG container")
    val (w, h, fmt) = ImageIoCodec.decode(bytes)
    assert(fmt == "png")
    assert(w >= 8 && w < 32 && h >= 8 && h < 32)
    // a DIFFERENT spatial payload decodes to its own dims (header is real)
    val (w2, h2, _) = ImageIoCodec.decode(ImageIoCodec.fetchBytes("fig-000001.png"))
    assert((w, h) != (w2, h2) || bytes.length != ImageIoCodec.fetchBytes("fig-000001.png").length)
    // features: real pixel means in [0, 1], deterministic
    val f = ImageIoCodec.features(bytes, 16)
    assert(f.length == 16 && f.forall(v => v >= 0f && v <= 1f))
    assert(f.exists(_ > 0f))
    assert(f.toSeq == ImageIoCodec.features(bytes, 16).toSeq)
    // a still PNG is a single-frame container under the REAL frame reader
    assert(ImageIoCodec.frameCount(bytes) == 1)
    // full pipeline stages under the real codec (the x08/x12 shape)
    val corpus = gen.Corpus.corpus(spark, sf).limit(20)
    val media = Media.mediaTable(corpus, ImageIoCodec)
    val rows = media.collect()
    assert(rows.nonEmpty && rows.forall(m =>
      (m.format == "png" || m.format == "gif") && m.width >= 8 && m.height >= 8))
    val feats = Media.withFeatures(media, dim = 8, codec = ImageIoCodec).collect()
    assert(feats.forall(_.getSeq[Float](2).forall(v => v >= 0f && v <= 1f)))
    val frames = Media.frameSample(media, 3, ImageIoCodec).collect()
    // every media item yields >= 1 and <= 3 sampled frames, and the counts
    // agree with the container's REAL frame count
    val perRef = frames.groupBy(r => (r.getString(0), r.getString(1))).view.mapValues(_.length)
    assert(perRef.size == rows.length)
    rows.foreach { m =>
      val expect = math.min(3, ImageIoCodec.frameCount(m.bytes))
      assert(perRef((m.doc_id, m.media_ref)) == expect)
    }
  }

  test("ImageIoCodec: video-kind refs are REAL multi-frame GIFs with distinct frame pixels") {
    import Media.ImageIoCodec
    // .gif refs always synthesize an animated container
    val bytes = ImageIoCodec.fetchBytes("clip-000007.gif")
    // genuine GIF container magic
    assert(new String(bytes.take(6), "US-ASCII").startsWith("GIF8"), "not a GIF container")
    val (w, h, fmt) = ImageIoCodec.decode(bytes)
    assert(fmt == "gif" && w >= 8 && h >= 8)
    val n = ImageIoCodec.frameCount(bytes)
    assert(n >= 2 && n <= 5, s"frameCount=$n")
    // per-frame decode yields real, DIFFERENT pixel content per frame
    val digests = (0 until n).map { i =>
      val f = ImageIoCodec.frameAt(bytes, i)
      assert(f.take(8).map(_ & 0xFF).toSeq ==
        Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A), "frame not re-encoded as PNG")
      val (fw, fh, _) = ImageIoCodec.decode(f)
      assert((fw, fh) == (w, h))
      java.util.Arrays.hashCode(f)
    }
    assert(digests.distinct.size == n, "frames decoded to identical pixels")
    // deterministic: same ref -> same container bytes and frame digests
    assert(ImageIoCodec.fetchBytes("clip-000007.gif").toSeq == bytes.toSeq)
    // a deterministic subset of corpus .jpg refs is video-kind; both
    // container kinds appear across a prefix of refs
    val kinds = (0 until 40)
      .map(i => ImageIoCodec.decode(ImageIoCodec.fetchBytes(s"corpus://img/$i-0.jpg"))._3)
    assert(kinds.contains("gif") && kinds.contains("png"), s"kinds=$kinds")
  }

  test("media resize: real bilinear rescale, target dims decode back, soft-fail on junk") {
    import spark.implicits._
    import Media.ImageIoCodec
    val corpus = gen.Corpus.corpus(spark, sf).limit(10)
    val media = Media.mediaTable(corpus, ImageIoCodec)
    val resized = Media.withResized(media, 16, 12).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("resized")
      assert(bytes != null, s"resize failed for ${r.getString(1)}")
      val (w, h, fmt) = ImageIoCodec.decode(bytes)
      assert((w, h, fmt) == (16, 12, "png"), s"got ${(w, h, fmt)}")
    }
    // determinism: same payload -> same re-encoded bytes
    val again = Media.withResized(media, 16, 12).collect()
    assert(resized.map(_.getAs[Array[Byte]]("resized").toSeq).toSeq ==
      again.map(_.getAs[Array[Byte]]("resized").toSeq).toSeq)
    // soft-fail: an undecodable payload yields resized = null, not a crash
    val junk = Seq(Media.MediaRow("d", "junk.bin", Array[Byte](1, 2, 3), 0, 0, "bin")).toDS()
    val out = Media.withResized(junk, 8, 8).collect()
    assert(out.length == 1 && out(0).getAs[Array[Byte]]("resized") == null)
  }

  test("WavCodec: REAL WAV containers round-trip through header decode, PCM, and features") {
    import Media.WavCodec
    val bytes = WavCodec.fetchBytes("corpus://audio/clip-42-0.wav")
    // genuine RIFF/WAVE container magic
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF", "not a RIFF container")
    assert(new String(bytes.slice(8, 12), "US-ASCII") == "WAVE", "not a WAVE container")
    val (sr, ch, nf) = WavCodec.decode(bytes)
    assert(sr == 8000 && ch == 1)
    assert(nf >= 800 && nf < 2400, s"frames=$nf")
    // real PCM decode: frame count matches the header, non-silent signal
    val samples = WavCodec.pcm(bytes)
    assert(samples.length.toLong == nf)
    assert(samples.exists(_ != 0))
    // windowed features: real RMS (a 0.6-amplitude sine+noise mix lands
    // well inside (0, 1)), zero-cross rate proportional to the seeded
    // frequency, deterministic across calls
    val f = WavCodec.features(bytes, 4)
    assert(f.length == 4)
    f.foreach { case (rms, zcr) =>
      assert(rms > 0.1 && rms < 0.9, s"rms=$rms")
      assert(zcr > 0.0 && zcr < 1.0, s"zcr=$zcr")
    }
    assert(f == WavCodec.features(bytes, 4))
    assert(WavCodec.fetchBytes("corpus://audio/clip-42-0.wav").toSeq == bytes.toSeq)
    // different refs -> different clips (duration or content)
    val other = WavCodec.fetchBytes("corpus://audio/clip-43-0.wav")
    assert(other.length != bytes.length || other.toSeq != bytes.toSeq)
    // the distributed stage: one clip per doc, `windows` rows per clip
    val corpus = gen.Corpus.corpus(spark, sf).limit(10)
    val audio = Media.audioTable(corpus)
    val rows = audio.collect()
    assert(rows.length == 10 && rows.forall(a => a.sample_rate == 8000 && a.n_frames > 0))
    val feats = Media.audioFeatures(audio, windows = 3).collect()
    assert(feats.length == 30)
    assert(feats.forall(r => r.getDouble(5) > 0.0 && r.getDouble(6) > 0.0))
  }

  test("media codec seam: a swapped codec flows through every stage unchanged plan") {
    // a "real" decoder stand-in: parses a tiny header we control, proving
    // the stages consult the injected codec, not the stub
    object HeaderCodec extends Media.Codec {
      def fetchBytes(ref: String): Array[Byte] =
        (s"W${ref.length % 9 + 1}H${ref.length % 7 + 1}").getBytes("UTF-8")
      def decode(bytes: Array[Byte]): (Int, Int, String) = {
        val s = new String(bytes, "UTF-8")
        (s.charAt(1).asDigit * 100, s.charAt(3).asDigit * 100, "hdr")
      }
      def features(bytes: Array[Byte], dim: Int): Array[Float] =
        Array.fill(dim)(bytes.length.toFloat)
      def frameCount(bytes: Array[Byte]): Int = 3
      def frameAt(bytes: Array[Byte], i: Int): Array[Byte] = bytes :+ i.toByte
    }
    val corpus = gen.Corpus.corpus(spark, sf).limit(20)
    val media = Media.mediaTable(corpus, HeaderCodec)
    val rows = media.collect()
    assert(rows.nonEmpty && rows.forall(m =>
      m.format == "hdr" && m.width % 100 == 0 && m.height % 100 == 0))
    val f = Media.withFeatures(media, dim = 4, codec = HeaderCodec).head()
    assert(f.getSeq[Float](2).forall(_ == 4.0f)) // |"WxHy"| = 4 bytes
    // the frame stage consults the injected codec: 3 frames per item,
    // src_frame walks the codec's sequence
    val fr = Media.frameSample(media, 3, HeaderCodec)
      .select("src_frame").distinct().collect().map(_.getInt(0)).sorted
    assert(fr.toSeq == Seq(0, 1, 2))
  }

  test("media plumbing: binary payloads, decode metadata, features, frames") {
    val corpus = gen.Corpus.corpus(spark, sf)
    val media = Media.mediaTable(corpus).cache()
    val n = media.count()
    assert(n > 400) // every doc has >= 1 media span
    val row = media.head()
    assert(row.bytes.nonEmpty && row.width >= 64 && row.format.nonEmpty)
    val feats = Media.withFeatures(media)
    assert(feats.head().getSeq[Float](2).size == 16)
    val frames = Media.frameSample(media, 4)
    // FakeCodec reports 1-4 frames per payload; each media row samples
    // min(4, frameCount) of them
    val fc = frames.count()
    assert(fc >= n && fc <= n * 4)
    // determinism
    val f1 = feats.orderBy("doc_id", "media_ref").head().getSeq[Float](2)
    val f2 = Media.withFeatures(Media.mediaTable(corpus))
      .orderBy("doc_id", "media_ref").head().getSeq[Float](2)
    assert(f1 == f2)
  }
}
