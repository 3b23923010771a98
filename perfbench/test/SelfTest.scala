package perfbench

import graft.gen.Corpus

/** The benchmark's self-test (`python3 perfbench/run.py --selftest`):
  * inputs are a function of the seed, the streaming split honours the
  * index contract, the layer markers still match the program's sources,
  * and the quartiles match Python's `statistics.quantiles`. */
object SelfTest {
  private var failures = 0

  private def check(what: String, cond: Boolean): Unit = {
    println(s"${if (cond) "ok  " else "FAIL"} $what")
    if (!cond) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = a.getOrElse("root", ".")
    val spark = Main.session(a("work"), 1)
    val rows = try Inputs.seedRows(spark, s"$root/perfbench/data") finally spark.stop()
    check("seed table has 5000 rows", rows.size == 5000)

    // extract_batch: same seed -> same docs, other seed -> other docs
    def docs(seed: Long) = rows.map(r => Corpus.synth(Inputs.extractId(seed, 0, r.doc_id), r.text))
    check("extract_batch: same seed, identical docs", docs(3) == docs(3))
    check("extract_batch: other seed, other docs", docs(3) != docs(4))
    def megaRows(seed: Long) = (0 until 3).flatMap(r => rows.map(x => Inputs.extractId(seed, r, x.doc_id)))
      .zipWithIndex.collect { case (id, i) if id % Corpus.MegaModulus == 0 => i }
    val mega = megaRows(7).size.toDouble / (3 * rows.size)
    check(f"extract_batch: mega-doc tail kept ($mega%.4f of docs)", mega > 0.005 && mega < 0.015)
    check("extract_batch: mega docs sit at the same rows under every seed", megaRows(7) == megaRows(8))

    // curate_stream: the split and every shard id above every bootstrap id
    def stream(seed: Long) = Inputs.stream(rows, seed, 3000, 40, 25)
    val s1 = stream(11)
    check("curate_stream: same seed, identical stream", s1 == stream(11))
    check("curate_stream: other seed, other stream", s1.shards != stream(12).shards)
    val bootMax = s1.boot.map(_.doc_id).max
    check("curate_stream: every shard id above every bootstrap id",
      s1.shards.flatten.forall(_.doc_id > bootMax))
    check("curate_stream: shards ascend and are disjoint",
      s1.shards.flatten.map(_.doc_id) == s1.shards.flatten.map(_.doc_id).sorted.distinct)
    val all = s1.boot ++ s1.shards.flatten
    check("curate_stream: bootstrap and shards are disjoint rows of the seed table",
      all.map(_.doc_id).distinct.size == all.size &&
        all.map(_.text).toSet.subsetOf(rows.map(_.text).toSet))
    check("curate_stream: contamination set is non-empty and from the shards",
      s1.bench.nonEmpty && s1.bench.toSet.subsetOf(s1.shards.flatten.map(_.text).toSet))

    // corpus_dedup: seeded distinct permutations
    check("corpus_dedup: same seed, identical replicas",
      Inputs.replicaPerms(5, 4) == Inputs.replicaPerms(5, 4))
    check("corpus_dedup: other seed, other replicas",
      Inputs.replicaPerms(5, 4) != Inputs.replicaPerms(6, 4))
    check("corpus_dedup: replicas are distinct permutations",
      Inputs.replicaPerms(5, 8).map(Inputs.affinePerm).distinct.size == 8)

    // the traced run's layer map still finds every marker
    check("layer markers all found in src/main", LayerMap.program(root).missing.isEmpty)

    // statistics.quantiles([1..10], n=4) == [2.75, 5.5, 8.25]
    check("quartiles match Python", Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 8.25)))

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures != 0) sys.exit(1)
  }
}
