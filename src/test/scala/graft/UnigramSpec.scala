package graft

import org.apache.spark.sql.functions._

/** The unigram-LM tokenizer family (operators/Unigram.scala):
  * segmentation VALIDITY over the real corpus (every winning path
  * spells the word, pieces all in vocab), a hand-computable win-order
  * case through the production path enumerator, and the cap-slack
  * pin the exhaustive enumeration's cost bound rests on. */
class UnigramSpec extends SparkTestBase {

  private val d = "/root/testdata/sf0.001"
  import spark.implicits._

  test("every distinct corpus word segments back to itself from vocab pieces") {
    val out = SparkEntry.queries("llm_unigram_encode")(spark, d).collect()
    assert(out.nonEmpty)
    // n_pieces >= n_words (a piece never spans words) and every doc
    // got a first-word segmentation
    out.foreach { r =>
      assert(r.getAs[Long]("n_pieces") >= r.getAs[Long]("n_words"), r.toString)
      assert(r.getAs[String]("seg_first") != null, r.toString)
    }
    // validity at the word grain, via the shared kernel
    val vocab = spark.read.parquet(operators.Unigram.unigramVocabPath(spark, d))
    val words = Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
    val seg = operators.Unigram.segmentWords(words, vocab).collect()
    assert(seg.length == words.count(),
      "a corpus word found no segmentation — single-char coverage broken")
    val pieces = vocab.select("piece").collect().map(_.getString(0)).toSet
    seg.foreach { r =>
      val w = r.getAs[String]("w"); val segs = r.getAs[String]("segs")
      assert(segs.replace(" ", "") == w, s"'$segs' does not spell '$w'")
      assert(segs.split(" ").length == r.getAs[Int]("np"))
      segs.split(" ").foreach(p => assert(pieces.contains(p), s"'$p' not in vocab"))
    }
  }

  test("win order: score DESC, then fewer pieces, then lexicographic") {
    // hand-built vocab: 'ab' (score -1) beats singles (-2 each), so
    // 'abab' -> 'ab ab' (score -2) over 'a b a b' (-8) and the mixed
    // forms (-5); 'aa' has no multi piece -> 'a a'
    val words = Seq("abab", "aa").toDF("w")
    val vocab = Seq(("a", -2L), ("b", -2L), ("ab", -1L))
      .toDF("piece", "score")
    val got = operators.Unigram.segmentWords(words, vocab)
      .collect().map(r => r.getAs[String]("w") -> (r.getAs[String]("segs"),
        r.getAs[Long]("seg_score"))).toMap
    assert(got("abab") == ("ab ab", -2L), got.toString)
    assert(got("aa") == ("a a", -4L), got.toString)
  }

  test("tie-break: equal score prefers fewer pieces, then segs order") {
    // 'ab' and singles all score -1: 'ab' (np 1) must beat 'a b'
    // (np 2) at the same total only when totals tie — here 'ab' wins
    // on score alone (-1 vs -2); force a pure tie with xy/x/y at 0
    val words = Seq("xy").toDF("w")
    val vocab = Seq(("x", 0L), ("y", 0L), ("xy", 0L)).toDF("piece", "score")
    val got = operators.Unigram.segmentWords(words, vocab).collect()(0)
    assert(got.getAs[String]("segs") == "xy" && got.getAs[Int]("np") == 1,
      s"tie must resolve to fewer pieces: $got")
  }

  test("over-cap words segment by per-char fallback, not silently vanish") {
    // 16 chars > WordLenCap=12: must come back as its char split with
    // the summed single-char scores; the in-cap word still enumerates
    val big = "aaaaaaaaaaaaaaab"
    assert(big.length > operators.Unigram.WordLenCap)
    val words = Seq("abab", big).toDF("w")
    val vocab = Seq(("a", -2L), ("b", -2L), ("ab", -1L))
      .toDF("piece", "score")
    val got = operators.Unigram.segmentWords(words, vocab)
      .collect().map(r => r.getAs[String]("w") ->
        ((r.getAs[Int]("np"), r.getAs[String]("segs"),
          r.getAs[Long]("seg_score")))).toMap
    assert(got("abab") == ((2, "ab ab", -2L)), got.toString)
    assert(got(big) == ((16, big.toSeq.mkString(" "), -32L)), got.toString)
    // a char with no vocab entry makes the word unsegmentable in the
    // fallback too — dropped, same contract as the enumeration branch
    val alien = Seq("a" * 13 + "z").toDF("w")
    assert(operators.Unigram.segmentWords(alien, vocab).count() == 0)
  }

  test("local path enumerator == relational enumeration (the oracle's shape)") {
    // the default single-job enumerator must be OUTPUT-IDENTICAL to
    // the relational form the DuckDB oracle replays — over every real
    // corpus word, a planted over-cap word, and a word with an
    // un-vocabed char (both must drop it)
    import spark.implicits._
    val vocab = spark.read.parquet(operators.Unigram.unigramVocabPath(spark, d))
    val words = Tables.documents(spark, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .union(Seq("a" * 15 + "b", "ÿ" * 13).toDF("w"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1),
        r.getString(2), r.getLong(3))).sortBy(_._1).toSeq
    val rel = canon(operators.Unigram.segmentWords(words, vocab))
    val loc = canon(operators.Unigram.segmentWordsLocal(words, vocab))
    assert(rel.nonEmpty && rel == loc,
      "local enumerator diverged from the relational (oracle) form")
  }

  test("local enumerator counts code points, not UTF-16 units (emoji)") {
    // an emoji is ONE code point but TWO UTF-16 units: Spark/DuckDB
    // length/substr count points, so the local enumerator must too —
    // both the piece formation (in-cap) and the cap test (over-cap)
    import spark.implicits._
    val e = "😀" // 😀 U+1F600
    val words = Seq(s"${e}a${e}a", e * 13).toDF("w")
    val vocab = Seq((s"${e}a", -1L), (e, -2L), ("a", -2L))
      .toDF("piece", "score")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getInt(1),
        r.getString(2), r.getLong(3))).sortBy(_._1).toSeq
    val rel = canon(operators.Unigram.segmentWords(words, vocab))
    val loc = canon(operators.Unigram.segmentWordsLocal(words, vocab))
    assert(rel == loc, s"emoji divergence: rel=$rel loc=$loc")
    val got = loc.map(r => r._1 -> r).toMap
    // 4 code points: "😀a 😀a" wins (-2) over per-char (-8)
    assert(got(s"${e}a${e}a")._3 == s"${e}a ${e}a", got.toString)
    // 13 code points > cap=12 → per-char fallback with np 13, NOT 26
    assert(got(e * 13)._2 == 13 && got(e * 13)._4 == 13 * -2L, got.toString)
  }

  test("a planted >cap word contributes to the per-doc aggregates end-to-end") {
    // production key over a synthetic documents table: doc 0 is the
    // 10% training sample ("aa bb ab" → vocab a:-2 b:-2 aa/bb/ab:-3,
    // T=9); doc 1 carries a 16-char over-cap word. Hand-checked:
    //   "aaaaaaaaaaaaaaab" → 16 pieces, 16·(-2) = -32 (fallback)
    //   "ab"               → 1 piece, -3 (enumerated)
    val dir = scratchDir("unigram_e2e")
    val big = "aaaaaaaaaaaaaaab"
    Seq((0L, "aa bb ab", "en", "src0", 8L),
        (1L, s"$big ab", "en", "src1", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("llm_unigram_encode")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_words") == 2L, d1.toString)
    assert(d1.getAs[Long]("n_pieces") == 17L, d1.toString)   // 16 + 1
    assert(d1.getAs[Long]("lm_score") == -35L, d1.toString)  // -32 + -3
    assert(d1.getAs[String]("seg_first") == big.toSeq.mkString(" "),
      d1.toString)
    val d0 = out(0L)
    assert(d0.getAs[Long]("n_pieces") == 3L && d0.getAs[Long]("lm_score") == -9L
      && d0.getAs[String]("seg_first") == "aa", d0.toString)
  }
}
