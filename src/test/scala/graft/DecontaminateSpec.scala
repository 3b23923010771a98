package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Decontaminate

/** Benchmark decontamination (ops/Decontaminate.scala): planted
  * contamination, short-text edge, brute-force gram-intersect parity on
  * the real planted corpus, and plan shape. */
class DecontaminateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def norm(t: String): Seq[String] =
    t.toLowerCase.split("[^a-zA-Z0-9]+").filter(_.nonEmpty).toSeq

  private def grams(t: String, n: Int): Set[String] = {
    val w = norm(t)
    if (w.size < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
  }

  /** HALF_UP like Spark's round() and DuckDB's (ties away from zero) —
    * math.rint is banker's rounding and diverges on exact decimal ties
    * (e.g. 113/128 = 0.8828125). */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("planted 13-gram contamination is flagged, clean docs are not") {
    import spark.implicits._
    val benchText = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa"
    val contaminated = "intro words then " +
      "bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november" +
      " trailing words"
    val clean = "completely different content with no overlap at all " +
      "one two three four five six seven eight nine ten eleven twelve thirteen"
    val corpus = Seq((1L, contaminated), (2L, clean)).toDF("doc_id", "text")
    val bench = Seq(benchText).toDF("btext")
    val out = Decontaminate.contaminated(corpus, "doc_id", "text", bench, "btext")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.keySet === Set(1L))
    assert(out(1L) === 1) // exactly one shared 13-gram
  }

  test("texts shorter than n words produce no grams and no rows") {
    import spark.implicits._
    val corpus = Seq((1L, "too short"), (2L, "")).toDF("doc_id", "text")
    val bench = Seq("also short").toDF("btext")
    assert(Decontaminate.contaminated(corpus, "doc_id", "text", bench, "btext")
      .count() === 0)
  }

  test("operator == brute-force gram intersect on the planted corpus (n=13)") {
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    spark.read.parquet(s"$sf/documents.parquet").createOrReplaceTempView("documents")
    val docs = spark.sql(
      s"SELECT doc_id, ${graft.queries.Dialect.Ctext} AS ctext FROM documents")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val (bench, corpus) = docs.partition(_._1 % 10 == 7)
    val benchGrams = bench.iterator.flatMap(d => grams(d._2, 13)).toSet
    val expected = corpus.flatMap { case (id, t) =>
      val hits = grams(t, 13).count(benchGrams)
      if (hits > 0) Some(id -> hits) else None
    }.toMap

    val corpusDf = spark.sql(
      s"SELECT doc_id, ${graft.queries.Dialect.Ctext} AS ctext FROM documents WHERE doc_id % 10 <> 7")
    val benchDf = spark.sql(
      s"SELECT ${graft.queries.Dialect.Ctext} AS ctext FROM documents WHERE doc_id % 10 = 7")
    val got = Decontaminate.contaminated(corpusDf, "doc_id", "ctext", benchDf, "ctext")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === expected)
    assert(got.nonEmpty, "planted corpus should produce contamination hits")
  }

  test("bloom-prefiltered form is row-identical to the exact join, and prunes pre-exchange") {
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    spark.read.parquet(s"$sf/documents.parquet").createOrReplaceTempView("documents")
    val corpusDf = spark.sql(
      s"SELECT doc_id, ${graft.queries.Dialect.Ctext} AS ctext FROM documents WHERE doc_id % 10 <> 7")
    val benchDf = spark.sql(
      s"SELECT ${graft.queries.Dialect.Ctext} AS ctext FROM documents WHERE doc_id % 10 = 7")
    val exact = Decontaminate.contaminated(corpusDf, "doc_id", "ctext", benchDf, "ctext")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // bloom false positives must die in the exact join — at ANY fpp,
    // including an absurdly sloppy filter
    for (fpp <- Seq(0.01, 0.3)) {
      val got = Decontaminate.contaminatedPrefiltered(
          corpusDf, "doc_id", "ctext", benchDf, "ctext", fpp = fpp)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got === exact, s"fpp=$fpp")
    }
    // the size hint must not change results (same pattern as hashSample)
    val hinted = Decontaminate.contaminatedPrefiltered(
        corpusDf, "doc_id", "ctext", benchDf, "ctext", expectedBenchGrams = 100000L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(hinted === exact)
    // plan: the bloom probe filter sits BELOW the first exchange of the
    // corpus gram derivation (pruning before any shuffle is the point)
    val df = Decontaminate.contaminatedPrefiltered(
      corpusDf, "doc_id", "ctext", benchDf, "ctext")
    df.count()
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toVector
    def depth(l: String): Int = l.indexWhere(_.isLetter)
    val udfFilters = lines.zipWithIndex
      .filter(p => p._1.contains("Filter") && p._1.contains("UDF")).map(_._2)
    assert(udfFilters.nonEmpty, lines.take(40).mkString("\n"))
    // no Exchange may appear BELOW the probe filter in its subtree
    assert(udfFilters.exists { fi =>
      val d0 = depth(lines(fi))
      var i = fi + 1; var clean = true
      while (i < lines.length && depth(lines(i)) > d0) {
        if (lines(i).contains("Exchange")) clean = false
        i += 1
      }
      clean
    }, "bloom probe filter is not pre-exchange:\n" + lines.mkString("\n").take(3000))
  }

  test("overlapScore == brute-force ratios; gram-free and clean docs score 0") {
    import spark.implicits._
    val benchText = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliett kilo lima mike november oscar papa"
    val contaminated = "intro words then " +
      "bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike november" +
      " trailing words"
    val clean = "completely different content with no overlap at all " +
      "one two three four five six seven eight nine ten eleven twelve thirteen"
    val tiny = "too short for grams"
    val corpus = Seq((1L, contaminated), (2L, clean), (3L, tiny)).toDF("doc_id", "text")
    val bench = Seq(benchText).toDF("btext")
    val out = Decontaminate.overlapScore(corpus, "doc_id", "text", bench, "btext")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    // brute expectations
    val g1 = grams(contaminated, 13); val g2 = grams(clean, 13)
    val bg = grams(benchText, 13)
    assert(out(1L) == ((g1.size, g1.count(bg), round6(g1.count(bg).toDouble / g1.size))))
    assert(out(2L) == ((g2.size, 0, 0.0)))
    assert(out(3L) == ((0, 0, 0.0))) // gram-free doc still present, score 0
    assert(out(1L)._3 > 0.0)
  }

  test("selfDupScore == brute-force cross-document gram duplication on the real corpus") {
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    spark.read.parquet(s"$sf/documents.parquet").createOrReplaceTempView("documents")
    val docs = spark.sql(
      s"SELECT doc_id, ${graft.queries.Dialect.Ctext} AS ctext FROM documents")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val perDoc = docs.map { case (id, t) => id -> grams(t, 13) }
    val gramDocs = perDoc.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet.size)
    val expected = perDoc.map { case (id, gs) =>
      val dup = gs.count(g => gramDocs(g) >= 2)
      id -> ((gs.size, dup, round6(dup.toDouble / math.max(gs.size, 1))))
    }.toMap
    val docsDf = spark.sql(
      s"SELECT doc_id, ${graft.queries.Dialect.Ctext} AS ctext FROM documents")
    val got = Decontaminate.selfDupScore(docsDf, "doc_id", "ctext")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap
    assert(got === expected)
    // the synthesized corpus shares boilerplate grams across docs
    assert(got.values.exists(_._2 > 0), "expected cross-document duplicated grams")
    // and not everything is duplicated
    assert(got.values.exists(v => v._2 < v._1))
  }

  /** Driver-side reference for removeDupSpans: mark every word covered by
    * a cross-doc-shared n-gram whose keeper (min id) is another doc, then
    * rebuild from the survivors. */
  private def removeRef(docs: Seq[(Long, String)], n: Int): Map[Long, (Int, Int, String)] = {
    val words = docs.map { case (id, t) => id -> norm(t) }
    val owners = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    for ((id, w) <- words; if w.size >= n; g <- w.sliding(n))
      owners.getOrElseUpdate(g.mkString(" "), scala.collection.mutable.Set.empty) += id
    val keeper = owners.collect { case (g, ids) if ids.size >= 2 => g -> ids.min }
    words.map { case (id, w) =>
      val starts = (0 to w.size - n).filter { i =>
        keeper.get(w.slice(i, i + n).mkString(" ")).exists(_ != id)
      }
      val covered = coveredMask(w.size, starts, n)
      val kept = w.zipWithIndex.collect { case (word, i) if !covered(i) => word }
      id -> ((w.size, w.size - kept.size, kept.mkString(" ")))
    }.toMap
  }

  /** Brute-force coverage: start `p` covers words `p until p + n`. */
  private def coveredMask(nWords: Int, starts: Seq[Int], n: Int): Array[Boolean] = {
    val covered = Array.fill(nWords)(false)
    for (p <- starts; i <- p until p + n) covered(i) = true
    covered
  }

  test("tokenizer: one-pass wordsOf == the regex form on adversarial text") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = Seq[String](
      "İstanbul and aİb",                           // dotted capital I
      "\u212A-value 5\u212A",                        // Kelvin sign
      "\uFF21\uFF11 fullwidth \uFF41b2",              // fullwidth Ａ１ ａ
      "alpha\uD83D\uDE00beta gamma",                 // surrogate-pair emoji
      "\tTabs\nand\r\nnew-lines\t",
      "--Leading, and trailing (punctuation)!!",
      "café MiXeD123abc 0x1F",
      "", null, "x", "!")
    val df = texts.toDF("t")
    // the reference: the same normalization as a regex, the way the
    // DuckDB oracle SQL writes it
    val ref = filter(split(lower(regexp_replace(col("t"), "[^a-zA-Z0-9]+", " ")), " "),
      w => length(w) > 0)
    // lower BEFORE extracting turns İ and the Kelvin sign into ASCII
    // letters: the texts above must tell the two forms apart
    val lowerFirst = regexp_extract_all(lower(col("t")), lit("[a-z0-9]+"), lit(0))
    val got = df.select(Decontaminate.wordsOf(col("t")), ref, lowerFirst).collect()
      .map(r => (Option(r.getSeq[String](0)), Option(r.getSeq[String](1)),
        Option(r.getSeq[String](2))))
    got.zip(texts).foreach { case ((w, r, _), t) => assert(w == r, s"text: $t") }
    assert(got.take(2).forall { case (w, _, lf) => w != lf },
      "the İ / Kelvin cases no longer separate the lower-first form")
    assert(got.map(_._1).toSeq == Seq(
      Some(Seq("stanbul", "and", "a", "b")), Some(Seq("value", "5")),
      Some(Seq("fullwidth", "b2")), Some(Seq("alpha", "beta", "gamma")),
      Some(Seq("tabs", "and", "new", "lines")),
      Some(Seq("leading", "and", "trailing", "punctuation")),
      Some(Seq("caf", "mixed123abc", "0x1f")),
      Some(Seq()), None, Some(Seq("x")), Some(Seq())))
  }

  test("marks rule: sorted runs == brute-force min-id keeper, full and served in-shard tier") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 3
    val cases = Seq(
      // a gram repeated inside one doc only: never marked
      "within-doc repeat" -> Seq((1L, "r1 r2 r3 r1 r2 r3 r1")),
      // a gram in three docs: the min id keeps, the other two are marked
      "three docs" -> Seq((5L, "t1 t2 t3 five"), (3L, "three t1 t2 t3"),
        (9L, "nine t1 t2 t3")),
      // ids out of order and negative: -10 keeps one gram, 2 the other
      "negative ids" -> Seq((7L, "n1 n2 n3 n4"), (-4L, "n1 n2 n3 x"),
        (-10L, "y n1 n2 n3"), (2L, "n2 n3 n4 z")),
      "empty input" -> Seq.empty[(Long, String)])
    val expectedIds = Map("within-doc repeat" -> Set.empty[Long],
      "three docs" -> Set(5L, 9L), "negative ids" -> Set(7L, -4L),
      "empty input" -> Set.empty[Long])
    val table = s"gi_marks_${System.nanoTime()}"
    Decontaminate.writeGramIndex(Seq((0L, "zz1 zz2 zz3 zz4")).toDF("doc_id", "text"),
      "text", table, n = n)
    val idx = Decontaminate.openGramIndex(spark, table)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id", "gh").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    cases.foreach { case (name, rows) =>
      val docs = rows.toDF("doc_id", "text")
      // brute force over each doc's gram hashes: nd >= 2, id != keeper
      val grams = docs.select(col("doc_id"), Decontaminate.gramHashes(col("text"), n))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      val owners = grams.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val expected = (for ((gh, ids) <- owners.toSeq; if ids.size >= 2;
                           id <- ids; if id != ids.min) yield id -> gh).toSet
      assert(expected.map(_._1) == expectedIds(name), name)
      val full = Decontaminate.runMarks(docs.select(col("doc_id").as("id"),
        explode(array_distinct(Decontaminate.gramHashes(col("text"), n))).as("gh")))
      assert(pairs(full) == expected, name)
      // no doc shares a gram with the index: every mark is in-shard
      val w = docs.select(col("doc_id").as("id"), Decontaminate.wordsOf(col("text")).as("w"))
      assert(pairs(Decontaminate.servedMarked(w, idx)) == expected, s"$name (served)")
    }
    Seq(table, s"${table}_params", s"${table}_epochs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("removeDupSpans: keeper keeps the run, the copy loses exactly it, a clone empties") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb x y z w v cc dd ee ff gg hh"), // min id owning the shared run
      (2L, "pp qq x y z w v rr ss tt uu"),       // loses the 5-word run only
      (3L, "one two three four five six"),        // unique — untouched
      (4L, "dup1 dup2 dup3 dup4 dup5"),           // keeper of the clone pair
      (5L, "dup1 dup2 dup3 dup4 dup5"),           // full clone — empties
      (6L, "hi"))                                 // shorter than n — untouched
    val out = Decontaminate.removeDupSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((13, 0, "aa bb x y z w v cc dd ee ff gg hh")))
    assert(out(2L) == ((11, 5, "pp qq rr ss tt uu")))
    assert(out(3L) == ((6, 0, "one two three four five six")))
    assert(out(4L) == ((5, 0, "dup1 dup2 dup3 dup4 dup5")))
    assert(out(5L) == ((5, 5, "")))
    assert(out(6L) == ((1, 0, "hi")))
    assert(out === removeRef(docs, 3))
  }

  test("removeDupSpans == brute-force reference on the real corpus (n=13)") {
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    spark.read.parquet(s"$sf/documents.parquet").createOrReplaceTempView("documents")
    val docsDf = spark.sql(
      s"SELECT doc_id, ${graft.queries.Dialect.Ctext} AS ctext FROM documents")
    val docs = docsDf.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val expected = removeRef(docs, 13)
    val got = Decontaminate.removeDupSpans(docsDf, "doc_id", "ctext")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got === expected)
    // the planted boilerplate must actually trigger removals...
    assert(got.values.exists(_._2 > 0), "expected duplicated spans removed")
    // ...while unique prose survives (nothing removed from SOME docs)
    assert(got.values.exists(v => v._2 == 0 && v._1 > 0))
    // and the result is repartition-invariant
    val got17 = Decontaminate.removeDupSpans(docsDf.repartition(17), "doc_id", "ctext")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(got17 === got)
  }

  /** (id, n_words, n_removed, text_clean) rows of a span-removal output. */
  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Int, Int, String)] =
    df.collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap

  /** Hand cases for the coverage kernel: (n words, marked starts, n). */
  private val kernelCases = Seq(
    (10, Seq(2, 3), 3),          // overlapping starts p, p+1
    (12, Seq(0, 1, 2, 6), 5),    // starts nested inside an earlier cover
    (12, Seq(7, 1, 4), 3),       // out of order
    (9, Seq(6), 3),              // a start at nWords - n
    (9, Seq(3, 3, 0, 3), 3),     // duplicates
    (9, Seq(0, 3), 3),           // adjacent covers, nothing kept between
    (9, Seq(0, 6), 3),           // separated covers
    (9, Seq.empty[Int], 3),      // nothing marked
    (3, Seq(0), 3))              // a full cover empties the doc

  test("coverage kernel == brute-force mask on hand cases") {
    kernelCases.foreach { case (nWords, starts, n) =>
      val covered = coveredMask(nWords, starts, n)
      val expected = (0 until nWords).filterNot(covered(_))
      assert(Decontaminate.keptPositions(nWords, starts, n).toSeq == expected,
        s"nWords=$nWords starts=$starts n=$n")
    }
  }

  test("coverage kernel cases served: both rebuilds keep the brute-force survivors, preserving projects to normalized") {
    import spark.implicits._
    val n = 3
    // one corpus doc per marked start, holding exactly that gram, so the
    // served marks of shard doc c are exactly case c's (distinct) starts,
    // each covering n = 3 words
    val shardRows = kernelCases.zipWithIndex.map { case ((nWords, _, _), c) =>
      val words = (0 until nWords).map(i => s"c${c}w$i")
      val text = words.zipWithIndex.map { case (w, i) =>
        if (i % 3 == 0) w.toUpperCase + "," else w }.mkString(" ") + "!"
      (100L + c, text)
    }
    val corpusRows = kernelCases.zipWithIndex.flatMap { case ((_, starts, _), c) =>
      starts.distinct.map(p => (p until p + n).map(i => s"c${c}w$i").mkString(" "))
    }.zipWithIndex.map { case (t, i) => (1L + i, t) }
    val table = s"gi_kernel_${System.nanoTime()}"
    Decontaminate.writeGramIndex(corpusRows.toDF("doc_id", "text"), "text", table, n = n)
    val idx = Decontaminate.openGramIndex(spark, table)
    val shard = shardRows.toDF("doc_id", "text")
    val normd = rows(Decontaminate.removeDupSpansServed(shard, "doc_id", "text", idx))
    val presv = rows(
      Decontaminate.removeDupSpansServedPreserving(shard, "doc_id", "text", idx))
    kernelCases.zipWithIndex.foreach { case ((nWords, starts, _), c) =>
      val covered = coveredMask(nWords, starts, n)
      val kept = (0 until nWords).filterNot(covered(_)).map(i => s"c${c}w$i")
      val expected = ((nWords, nWords - kept.size, kept.mkString(" ")))
      assert(normd(100L + c) == expected, s"case $c")
      val (nwP, nrP, txtP) = presv(100L + c)
      assert((nwP, nrP, norm(txtP).mkString(" ")) == expected, s"case $c: $txtP")
      if (starts.isEmpty) assert(txtP == shardRows(c)._2, "untouched doc not verbatim")
    }
    Seq(table, s"${table}_params", s"${table}_epochs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("span removal: null, empty and alnum-free texts, a doc shorter than n, and an untouched doc in all three forms") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val table = s"gi_edge_${System.nanoTime()}"
    Decontaminate.writeGramIndex(corpus, "text", table, n = 3)
    val idx = Decontaminate.openGramIndex(spark, table)
    val shard = Seq[(Long, String)](
      (10L, null),
      (11L, ""),
      (12L, "?! -- ..."),                       // no alnum run
      (13L, "Too Short"),                       // fewer than n words
      (14L, "Nothing here is Shared, at all."), // nothing removed
      (15L, "x Alpha beta Gamma y")             // the indexed run is cut
    ).toDF("doc_id", "text")
    val normalized = Map(
      10L -> ((0, 0, "")), 11L -> ((0, 0, "")), 12L -> ((0, 0, "")),
      13L -> ((2, 0, "too short")),
      14L -> ((6, 0, "nothing here is shared at all")),
      15L -> ((5, 3, "x y")))
    assert(rows(Decontaminate.removeDupSpansServed(shard, "doc_id", "text", idx))
      === normalized)
    assert(rows(Decontaminate.removeDupSpans(corpus.union(shard), "doc_id", "text", n = 3))
      === normalized + (1L -> ((4, 0, "alpha beta gamma delta"))))
    // untouched docs pass through verbatim; a null text comes back empty
    assert(rows(Decontaminate.removeDupSpansServedPreserving(shard, "doc_id", "text", idx))
      === Map(
        10L -> ((0, 0, "")), 11L -> ((0, 0, "")), 12L -> ((0, 0, "?! -- ...")),
        13L -> ((2, 0, "Too Short")),
        14L -> ((6, 0, "Nothing here is Shared, at all.")),
        15L -> ((5, 3, "x y"))))
    Seq(table, s"${table}_params", s"${table}_epochs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("served gram index: shard scrub == full corpus∪shard run restricted to the shard") {
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    spark.read.parquet(s"$sf/documents.parquet").createOrReplaceTempView("documents")
    val docsDf = spark.sql(
      s"SELECT doc_id, ${graft.queries.Dialect.Ctext} AS ctext FROM documents")
    val t = spark.sql(
      "SELECT CAST(floor((max(doc_id) + 1) * 3 / 4) AS BIGINT) FROM documents")
      .head().getLong(0)
    val table = s"gi_spec_${System.nanoTime()}"
    val corpus = docsDf.filter(org.apache.spark.sql.functions.col("doc_id") < t)
    val shard = docsDf.filter(org.apache.spark.sql.functions.col("doc_id") >= t)
    Decontaminate.writeGramIndex(corpus, "ctext", table)
    val served = Decontaminate.removeDupSpansServed(shard, "doc_id", "ctext",
        Decontaminate.openGramIndex(spark, table))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    val full = Decontaminate.removeDupSpans(docsDf, "doc_id", "ctext")
      .filter(org.apache.spark.sql.functions.col("doc_id") >= t)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(served === full)
    assert(served.values.exists(_._2 > 0), "corpus boilerplate should be cut")
    Seq(table, s"${table}_params", s"${table}_epochs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("served gram index: corpus seniority, in-shard keeper tier, accept-fold + replay") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "corp boiler plate one two " + ("alpha beta gamma " * 3)),
      (2L, "unrelated corpus prose with distinct tokens entirely")
    ).toDF("doc_id", "text")
    val table = s"gi_spec2_${System.nanoTime()}"
    Decontaminate.writeGramIndex(corpus, "text", table, n = 3)
    val shard = Seq(
      (10L, "intro corp boiler plate one two outro"),      // corpus hit: run cut
      (11L, "novel shard run xx yy zz ww tail one"),       // in-shard keeper (min id)
      (12L, "other prefix xx yy zz ww different suffix"),  // in-shard loser
      (13L, "fully unique shard content nothing shared")
    ).toDF("doc_id", "text")
    def scrub(s: org.apache.spark.sql.DataFrame) =
      Decontaminate.removeDupSpansServed(s, "doc_id", "text",
          Decontaminate.openGramIndex(spark, table))
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    val out = scrub(shard)
    // corpus seniority: the indexed run is cut even though NO corpus text
    // was read — only the gram index
    assert(out(10L)._2 == 5 && out(10L)._3 == "intro outro", out(10L).toString)
    // in-shard tier: min shard id keeps, the larger id loses the run
    assert(out(11L)._2 == 0)
    assert(out(12L)._2 == 4 && !out(12L)._3.contains("xx"), out(12L).toString)
    assert(out(13L)._2 == 0)
    // accept-fold: keeper 11's grams enter as epoch 1; a later clone of it
    // now loses to the index (corpus seniority), and a replayed append is
    // a no-op
    Decontaminate.appendToGramIndex(
      shard.filter($"doc_id" === 11L), "text", table, epoch = 1L)
    val rowsAfter = spark.table(table).count()
    Decontaminate.appendToGramIndex(
      shard.filter($"doc_id" === 11L), "text", table, epoch = 1L)
    assert(spark.table(table).count() == rowsAfter, "replay double-appended")
    val out2 = scrub(Seq((20L, "novel shard run xx yy zz ww tail one"))
      .toDF("doc_id", "text"))
    assert(out2(20L)._2 == out2(20L)._1 && out2(20L)._3 == "", out2(20L).toString)
    Seq(table, s"${table}_params", s"${table}_epochs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("preserving scrub: verbatim pass-through, case/punct survive removals, normalized projection invariant") {
    import spark.implicits._
    val corpusBoiler = "corp boiler plate one two " + ("alpha beta gamma " * 3)
    val corpus = Seq((1L, corpusBoiler)).toDF("doc_id", "text")
    val table = s"gi_presv_${System.nanoTime()}"
    Decontaminate.writeGramIndex(corpus, "text", table, n = 3)
    val idx = Decontaminate.openGramIndex(spark, table)
    val untouched = "Fully unique; SHARD content — nothing élsé shared?!"
    val shard = Seq(
      (10L, "Intro: Corp BOILER plate, one two — Outro stays!"),
      (13L, untouched),
      (14L, corpusBoiler.trim),                         // full clone of indexed text
      // non-ASCII before the cut: é and İ split words, the emoji is a
      // surrogate pair (one codepoint, two UTF-16 units)
      (15L, "Héllo \uD83D\uDE00 İzmir: alpha BETA gamma, tail \uD83D\uDE00 end.")
    ).toDF("doc_id", "text")
    val out = Decontaminate
      .removeDupSpansServedPreserving(shard, "doc_id", "text", idx)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    // the indexed run is cut; surviving words keep case AND the original
    // punctuation attached through the next word boundary
    assert(out(10L)._2 == 5 && out(10L)._3 == "Intro: Outro stays!",
      out(10L).toString)
    // nothing removed -> byte-identical pass-through (no normalization)
    assert(out(13L)._2 == 0 && out(13L)._3 == untouched, out(13L).toString)
    // a full clone of indexed content still empties (degenerate case)
    assert(out(14L)._2 == out(14L)._1 && out(14L)._3 == "", out(14L).toString)
    // codepoint slices: the kept words h, llo, zmir, tail, end keep the
    // original text around them, emoji and dotted capital I included
    assert(out(15L) == ((8, 3, "Héllo \uD83D\uDE00 İzmir: tail \uD83D\uDE00 end.")),
      out(15L).toString)

    // invariant on a real corpus split: per-doc n_words/n_removed equal
    // the normalized form's, and normalizing the preserved text yields
    // exactly the normalized rebuild — downstream gram/minhash consumers
    // see identical keys either way
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    spark.read.parquet(s"$sf/documents.parquet")
      .createOrReplaceTempView("documents")
    val docsDf = spark.sql(
      s"SELECT doc_id, ${graft.queries.Dialect.Ctext} AS ctext FROM documents")
    val t = spark.sql(
      "SELECT CAST(floor((max(doc_id) + 1) * 3 / 4) AS BIGINT) FROM documents")
      .head().getLong(0)
    val table2 = s"gi_presv2_${System.nanoTime()}"
    val c2 = docsDf.filter(org.apache.spark.sql.functions.col("doc_id") < t)
    val s2 = docsDf.filter(org.apache.spark.sql.functions.col("doc_id") >= t)
    Decontaminate.writeGramIndex(c2, "ctext", table2)
    val idx2 = Decontaminate.openGramIndex(spark, table2)
    def norm(s: String): String =
      s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).mkString(" ")
    val presv = Decontaminate
      .removeDupSpansServedPreserving(s2, "doc_id", "ctext", idx2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    val normd = Decontaminate
      .removeDupSpansServed(s2, "doc_id", "ctext", idx2)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(presv.keySet == normd.keySet)
    presv.foreach { case (id, (nwP, nrP, txtP)) =>
      val (nwN, nrN, txtN) = normd(id)
      assert(nwP == nwN && nrP == nrN, s"doc $id counts differ")
      assert(norm(txtP) == txtN, s"doc $id normalized projection differs")
    }
    assert(presv.values.exists(_._2 > 0), "expected some removal on the split")
    assert(presv.values.exists(v => v._2 == 0 && v._3.exists(_.isUpper)),
      "expected untouched docs passing through with original case")
    Seq(table, s"${table}_params", s"${table}_epochs",
        table2, s"${table2}_params", s"${table2}_epochs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("gram-index compaction: epochs and duplicate rows fold to one baseline; probes identical; interlocks fire; crash recovered") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "corp boiler plate one two " + ("alpha beta gamma " * 3)),
      (2L, "unrelated corpus prose with distinct tokens entirely")
    ).toDF("doc_id", "text")
    val table = s"gi_cpt_${System.nanoTime()}"
    Decontaminate.writeGramIndex(corpus, "text", table, n = 3)
    // epoch 1 REPEATS a corpus run (duplicate gh rows across epochs);
    // epoch 2 brings fresh grams
    Decontaminate.appendToGramIndex(
      Seq((10L, "corp boiler plate one two extra suffix here"))
        .toDF("doc_id", "text"), "text", table, epoch = 1L)
    Decontaminate.appendToGramIndex(
      Seq((11L, "totally fresh second epoch content words"))
        .toDF("doc_id", "text"), "text", table, epoch = 2L)
    val probeShard = Seq(
      (30L, "intro corp boiler plate one two outro"),
      (31L, "totally fresh second epoch content words clone"),
      (32L, "fully unique shard content nothing shared")
    ).toDF("doc_id", "text")
    def scrub() = Decontaminate.removeDupSpansServed(probeShard, "doc_id",
        "text", Decontaminate.openGramIndex(spark, table))
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getString(3))))
      .toMap
    val before = scrub()
    assert(before(30L)._1 > 0 && before(31L)._1 > 0 && before(32L)._1 == 0)
    val distinctGh = spark.table(table).select("gh").distinct().count()
    assert(spark.table(table).count() > distinctGh,
      "epoch 1 should have planted duplicate gh rows")
    // fold; idempotent second call; one distinct-gh baseline row set
    assert(Decontaminate.compactGramIndex(spark, table) == 2L)
    assert(Decontaminate.compactGramIndex(spark, table) == 2L)
    assert(spark.table(table).count() == distinctGh)
    val ep = spark.table(table).agg(org.apache.spark.sql.functions.min("epoch"), org.apache.spark.sql.functions.max("epoch")).head()
    assert(ep.getLong(0) == 2L && ep.getLong(1) == 2L, ep.toString)
    assert(scrub() == before, "probe answers changed by compaction")
    // folded-epoch interlocks: a replayed append of epoch 1 stays a
    // no-op (its grams live in the baseline); excluding a folded epoch
    // is refused loudly
    val n0 = spark.table(table).count()
    Decontaminate.appendToGramIndex(
      Seq((10L, "corp boiler plate one two extra suffix here"))
        .toDF("doc_id", "text"), "text", table, epoch = 1L)
    assert(spark.table(table).count() == n0, "folded replay appended rows")
    assertThrows[IllegalArgumentException] {
      Decontaminate.openGramIndex(spark, table, excludeEpoch = Some(2L))
    }
    // ingestion continues after compaction; fresh epochs stay excludable
    Decontaminate.appendToGramIndex(
      Seq((12L, "entirely new third epoch material lands"))
        .toDF("doc_id", "text"), "text", table, epoch = 3L)
    Decontaminate.openGramIndex(spark, table, excludeEpoch = Some(3L))
    // crash at the worst point (marker published, swap pending): the
    // next open finishes the swap and the baseline is the new fold point
    Decontaminate.appendToGramIndex(
      Seq((13L, "more words for the next epoch here"))
        .toDF("doc_id", "text"), "text", table, epoch = 4L)
    assertThrows[IllegalStateException] {
      Decontaminate.gramStore(spark, table).compact(crashBeforeSwap = true)
    }
    Decontaminate.openGramIndex(spark, table)
    val ep2 = spark.table(table).agg(org.apache.spark.sql.functions.min("epoch"), org.apache.spark.sql.functions.max("epoch")).head()
    assert(ep2.getLong(0) == 4L && ep2.getLong(1) == 4L, ep2.toString)
    Seq("", "_params", "_epochs").flatMap(x =>
        Seq(s"$table$x", s"$table${x}_cstage"))
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("served gram index plan: the bucketed index streams into both probes with no exchange") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val table = s"gi_spec3_${System.nanoTime()}"
    Decontaminate.writeGramIndex(corpus, "text", table, n = 3)
    val shard = Seq((10L, "a b c d x y z w")).toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Decontaminate.removeDupSpansServed(shard, "doc_id", "text",
        Decontaminate.openGramIndex(spark, table))
      df.count()
      val lines = df.queryExecution.executedPlan.toString.linesIterator.toVector
      def depth(l: String): Int = l.indexWhere(_.isLetter)
      val scans = lines.zipWithIndex
        .filter(_._1.contains(s"default.$table[")).map(_._2)
      assert(scans.size >= 2, "expected the index scanned by both probes\n" +
        lines.take(40).mkString("\n"))
      scans.foreach { si =>
        var cur = depth(lines(si)); var i = si - 1; var done = false
        while (i >= 0 && !done) {
          val d = depth(lines(i))
          if (d >= 0 && d < cur) {
            cur = d
            assert(!lines(i).contains("Exchange hashpartitioning"),
              "index side shuffled before its probe join:\n" +
                lines.slice(i, si + 1).mkString("\n"))
            if (lines(i).contains("Join")) done = true
          }
          i -= 1
        }
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prev)
      Seq(table, s"${table}_params", s"${table}_epochs")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }

  test("removeDupSpans plan: equi-joins only, no cartesian") {
    import spark.implicits._
    // all three span-removal forms; the rebuild must stay a per-row pass
    // over the word array: no per-word token rows, no per-doc window
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val table = s"gi_plan_${System.nanoTime()}"
    Decontaminate.writeGramIndex(docs.filter($"doc_id" === 1L), "text", table, n = 3)
    val idx = Decontaminate.openGramIndex(spark, table)
    val shard = docs.filter($"doc_id" === 2L)
    Seq(
      "removeDupSpans" -> Decontaminate.removeDupSpans(docs, "doc_id", "text", n = 3),
      "removeDupSpansServed" ->
        Decontaminate.removeDupSpansServed(shard, "doc_id", "text", idx),
      "removeDupSpansServedPreserving" ->
        Decontaminate.removeDupSpansServedPreserving(shard, "doc_id", "text", idx)
    ).foreach { case (form, df) =>
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$form\n" + p.take(2000))
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$form\n" + p.take(2000))
      val nodes = p.linesIterator.map(_.dropWhile(c => " :+-".contains(c)))
      assert(!nodes.exists(_.startsWith("Window ")), s"$form\n" + p.take(4000))
      assert("""posexplode\(w#\d+\)""".r.findFirstIn(p).isEmpty,
        s"$form explodes the word array\n" + p.take(4000))
      if (form == "removeDupSpans") {
        // the gram side marks (id, gh) pairs: no positional gram rows, and
        // one gh shuffle (the sorted runs), not an aggregate plus a join
        assert(!p.contains("posexplode"), s"$form\n" + p.take(4000))
        val finalPlan = p.split("== Initial Plan ==")(0)
        assert("""Exchange hashpartitioning\(gh#""".r.findAllIn(finalPlan).size <= 1,
          s"$form shuffles by gh more than once\n" + p.take(4000))
      }
    }
    Seq(table, s"${table}_params", s"${table}_epochs")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("plan: gram-hash equi-join, no cartesian") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e f g h i j k l m n o")).toDF("doc_id", "text")
    val bench = Seq("a b c d e f g h i j k l m").toDF("btext")
    val p = Decontaminate.contaminated(corpus, "doc_id", "text", bench, "btext")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }
}
