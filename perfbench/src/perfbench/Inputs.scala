package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.Corpus
import graft.model.Doc

/** Seeded workload inputs. Every input is a pure function of the sf0.1
  * seed table (`data/documents.parquet`, a byte copy of the sf0.1
  * `documents.parquet` test table) and `--seed`: no wall clock, no RNG state.
  * The program under test only ever sees the generated tables. */
object Inputs {

  /** One row of the seed table: (doc_id, text, source, lang). */
  final case class SeedRow(doc_id: Long, text: String, source: String, lang: String)

  def seedRows(spark: SparkSession, dataDir: String): Vector[SeedRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dataDir/documents.parquet")
      .select(col("doc_id").cast("long"), col("text"), col("source"), col("lang"))
      .as[SeedRow].collect().toVector.sortBy(_.doc_id)
  }

  private def salt(seed: Long, stream: Long): Long = Corpus.mix(Corpus.mix(seed) ^ stream)

  // ---- extract_batch -------------------------------------------------

  /** The seed offsets the doc_id space, which `Corpus.synth` keys every
    * document's content on. The offset is a multiple of 101 * 10^4: the
    * `id % 101 == 0` mega-doc tail (1% of docs) sits at the same rows
    * under every seed, so the seed changes the documents but not where
    * the stragglers land; replicas `r * 10^4 + id` never collide. */
  def extractId(seed: Long, replica: Int, seedId: Long): Long =
    1010000L * (1L + Math.floorMod(seed, 100000L)) + replica * 10000L + seedId

  def extractDocs(spark: SparkSession, rows: Vector[SeedRow], seed: Long,
                  replicate: Int): Dataset[Doc] = {
    import spark.implicits._
    val slots = spark.sparkContext.defaultParallelism
    rows.map(r => (r.doc_id, r.text)).toDS().repartition(slots * 2)
      .flatMap { case (id, text) =>
        (0 until replicate).iterator.map(r => Corpus.synth(extractId(seed, r, id), text))
      }
  }

  // ---- curate_stream -------------------------------------------------

  /** Seeded hash rank: the seed table re-keyed 1..N in the order of a
    * seeded hash of its doc_id. The lower `nBoot` ids bootstrap the
    * serving state; the rest arrive as equal shards in id order, so every
    * shard id is above every bootstrap id (the index contract of
    * `Curation.curateShard`). */
  final case class Stream(boot: Vector[SeedRow], shards: Vector[Vector[SeedRow]],
                          bench: Vector[String])

  def stream(rows: Vector[SeedRow], seed: Long, nBoot: Int, shardSize: Int,
             benchEvery: Int): Stream = {
    val s = salt(seed, 0x5eedL)
    val ranked = rows.sortBy(r => (Corpus.mix(r.doc_id ^ s), r.doc_id)).zipWithIndex
      .map { case (r, i) => r.copy(doc_id = i + 1L) }
    val (boot, rest) = ranked.splitAt(nBoot)
    val shards = rest.grouped(shardSize).filter(_.size == shardSize).toVector
    // the contamination benchmark set: a seeded sample of shard texts,
    // so the `contaminated` decision fires when their batch arrives
    val bench = rest.filter(r => Math.floorMod(Corpus.mix(r.doc_id ^ s), benchEvery.toLong) == 0)
      .map(_.text)
    Stream(boot, shards, bench)
  }

  def frame(spark: SparkSession, rows: Seq[SeedRow]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  // ---- corpus_dedup --------------------------------------------------

  private val abc = "abcdefghijklmnopqrstuvwxyz"

  /** Affine alphabet permutation i -> a*i + b (mod 26), a coprime to 26:
    * the same replica construction as `graft.ScaleBench`, so distinct
    * replicas share no word of >= 3 distinct letters. */
  def affinePerm(r: Int): String = {
    val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val a = coprimes(r % coprimes.length)
    val b = (r / coprimes.length) % 26
    (0 until 26).map(i => ('a' + (a * i + b) % 26).toChar).mkString
  }

  /** `k` distinct permutation indices out of the 312, chosen by the seed. */
  def replicaPerms(seed: Long, k: Int): Vector[Int] = {
    val s = salt(seed, 0xdedL)
    (0 until 312).sortBy(i => (Corpus.mix(i.toLong ^ s), i)).take(k).toVector
  }

  def dedupDocs(spark: SparkSession, rows: Vector[SeedRow], seed: Long, k: Int): DataFrame = {
    val base = frame(spark, rows).select("doc_id", "text", "lang")
    replicaPerms(seed, k).zipWithIndex.map { case (p, r) =>
      val sh = affinePerm(p)
      base.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        translate(col("text"), abc + abc.toUpperCase, sh + sh.toUpperCase).as("text"),
        col("lang"))
    }.reduce(_ unionByName _)
  }

  /** Order-independent digest of collected rows (rendered, sorted, hashed). */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.mkString("\u0001")).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
