package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Algebraic-law property tests over generated data (SURVEY.md §5.3).
  * Small generated DataFrames, laws that must hold for ANY input —
  * the oracle tests pin exact values; these pin the algebra.
  * (scalatestplus is not in the offline cache, so forAll is a small
  * deterministic driver over raw scalacheck Gens.) */
class PropertySpec extends SparkTestBase {

  /** Deterministic forAll: n samples from a fixed seed. */
  private def forAll[A](gen: Gen[A], n: Int = 10)(body: A => Unit): Unit = {
    var s = Seed(42L)
    (0 until n).foreach { _ =>
      body(gen.pureApply(Gen.Parameters.default, s))
      s = s.next
    }
  }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(body.tupled)

  private val rows = Gen.listOfN(40,
    Gen.zip(Gen.choose(0L, 20L), Gen.choose(-100, 100)))

  test("filter fusion: filter(p).filter(q) == filter(p && q)") {
    forAll(rows) { xs =>
      import spark.implicits._
      val df = xs.toDF("k", "v")
      val p = col("v") > 0; val q = col("k") % 2 === 0
      assert(df.filter(p).filter(q).count() == df.filter(p && q).count())
    }
  }

  test("set algebra: |A ∩ B| + |A except B| == |A distinct|") {
    forAll(rows, rows) { (as, bs) =>
      import spark.implicits._
      val a = as.toDF("k", "v"); val b = bs.toDF("k", "v")
      val lhs = a.intersect(b).count() + a.except(b).count()
      assert(lhs == a.distinct().count())
    }
  }

  test("union-all preserves cardinality; union-distinct bounded") {
    forAll(rows, rows) { (as, bs) =>
      import spark.implicits._
      val a = as.toDF("k", "v"); val b = bs.toDF("k", "v")
      assert(a.union(b).count() == a.count() + b.count())
      val ud = a.union(b).distinct().count()
      assert(ud <= a.distinct().count() + b.distinct().count())
      assert(ud >= math.max(a.distinct().count(), b.distinct().count()))
    }
  }

  test("semi/anti partition: semi(A,B) + anti(A,B) == A") {
    forAll(rows, rows) { (as, bs) =>
      import spark.implicits._
      val a = as.toDF("k", "v"); val b = bs.toDF("k", "v").withColumnRenamed("k", "bk")
      val semi = a.join(b, col("k") === col("bk"), "left_semi").count()
      val anti = a.join(b, col("k") === col("bk"), "left_anti").count()
      assert(semi + anti == a.count())
    }
  }

  test("group-by sum equals total sum regardless of grouping") {
    forAll(rows) { xs =>
      import spark.implicits._
      val df = xs.toDF("k", "v")
      val total = df.agg(sum(col("v").cast("long"))).collect()(0)
      val grouped = df.groupBy("k").agg(sum(col("v").cast("long")).as("s"))
        .agg(sum("s")).collect()(0)
      assert((total.isNullAt(0) && grouped.isNullAt(0)) ||
        total.getLong(0) == grouped.getLong(0))
    }
  }

  test("hashed_bigrams equals the composed pipeline on arbitrary strings") {
    // randomized parity for the native expression: words with empty
    // tokens, repeated grams, unicode, single tokens, empty strings —
    // the composed HOF chain is the semantics oracle
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const(""),
      Gen.oneOf("naïve", "東京", "a_b", "x"))
    val text = Gen.listOf(word).map(_.mkString(" "))
    forAll(Gen.listOfN(25, text), n = 6) { texts =>
      import spark.implicits._
      val both = texts.toDF("text").select(
        graft.functions.HashedBigrams(col("text")).as("native"),
        expr("""CASE WHEN size(split(text, ' ')) >= 2 THEN transform(
            array_distinct(transform(sequence(1, size(split(text,' '))-1),
              i -> concat(element_at(split(text,' '),i), '_', element_at(split(text,' '),i+1)))),
            x -> xxhash64(x))
          ELSE array() END""").as("composed"))
      val bad = both.filter(col("native") =!= col("composed")).collect()
      assert(bad.isEmpty, s"native/composed diverged: ${bad.take(3).mkString(";")}")
    }
  }

  test("md5_bigrams equals the composed portable-hash pipeline on arbitrary strings") {
    // same parity shape as hashed_bigrams above, for the PORTABLE
    // (md5 mod 2^31-1) gram hash the oracle-checkable minhash key uses
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const(""),
      Gen.oneOf("naïve", "東京", "a_b", "x"))
    val text = Gen.listOf(word).map(_.mkString(" "))
    forAll(Gen.listOfN(25, text), n = 6) { texts =>
      import spark.implicits._
      val both = texts.toDF("text").select(
        graft.functions.HashedBigrams.md5(col("text"), 2147483647L).as("native"),
        expr("""CASE WHEN size(split(text, ' ')) >= 2 THEN array_distinct(transform(
            array_distinct(transform(sequence(1, size(split(text,' '))-1),
              i -> concat(element_at(split(text,' '),i), '_', element_at(split(text,' '),i+1)))),
            x -> CAST(conv(substring(md5(x), 25, 8), 16, 10) AS BIGINT) % 2147483647L))
          ELSE array() END""").as("composed"))
      val bad = both.filter(col("native") =!= col("composed")).collect()
      assert(bad.isEmpty, s"native/composed diverged: ${bad.take(3).mkString(";")}")
    }
  }

  test("as-of native operator agrees with the composition on generated streams") {
    val evGen = Gen.listOfN(40, Gen.zip(
      Gen.choose(1L, 4L), Gen.choose(0L, 500L), Gen.oneOf("click", "purchase")))
    forAll(evGen, n = 6) { evs =>
      import spark.implicits._
      val df = evs.zipWithIndex.map { case ((u, t, ty), i) =>
        (i.toLong, new java.sql.Timestamp(t * 1000), u, ty)
      }.toDF("event_id", "ts", "user_id", "event_type")
      val purchases = df.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = df.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
      val native = plans.AsOfJoinPlans.asofJoin(purchases, clicks,
        "user_id", "c_uid", "ts", "c_ts", "c_ts", "last_click_ts")
        .orderBy("event_id").collect().map(_.toString).toSeq
      // driver-side oracle: max click ts at-or-before, per purchase
      val expected = purchases.orderBy("event_id").collect().map { r =>
        val (id, uid, ts) = (r.getLong(0), r.getLong(1), r.getTimestamp(2))
        val m = evs.filter { case (u, t, ty) =>
          ty == "click" && u == uid && t * 1000 <= ts.getTime }
        val best = if (m.isEmpty) null
          else new java.sql.Timestamp(m.map(_._2).max * 1000)
        org.apache.spark.sql.Row(id, uid, ts, best).toString
      }.toSeq
      assert(native == expected)
    }
  }

  test("as-of invariant on generated event streams") {
    // ts in 0..50 s: equal-ts click/purchase ties are common, and the
    // tag order on a tie is what the carry must get right
    val evGen = Gen.listOfN(30, Gen.zip(
      Gen.choose(1L, 5L), Gen.choose(0L, 50L), Gen.oneOf("click", "purchase")))
    forAll(evGen) { evs =>
      import spark.implicits._
      val df = evs.zipWithIndex.map { case ((u, t, ty), i) =>
        (i.toLong, new java.sql.Timestamp(t * 1000), u, ty)
      }.toDF("event_id", "ts", "user_id", "event_type")
      // the production as-of carry on this tiny frame
      val res = operators.Relational.asofCarry(df, backward = true, forward = false)
      // invariant: matched click is at-or-before the purchase
      assert(res.filter(col("prev_ts") > col("ts")).count() == 0)
      // completeness: a purchase with ANY prior click must match one
      val bad = res.filter(col("prev_ts").isNull).collect().filter { r =>
        val uid = r.getLong(0); val ts = r.getTimestamp(1)
        evs.exists { case (u, t, ty) =>
          ty == "click" && u == uid && t * 1000 <= ts.getTime }
      }
      assert(bad.isEmpty, s"unmatched purchases with prior clicks: ${bad.length}")
      // every direction equals the native merge operator's answer
      val purchases = df.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = df.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts").as("c_ts"))
      def matches(m: org.apache.spark.sql.DataFrame, c: String) =
        m.select(col("event_id"), col(c)).collect()
          .map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
      def native(mode: plans.AsOfMode.Value) = matches(plans.AsOfJoinPlans
        .asofJoin(purchases, clicks, "user_id", "c_uid", "ts", "c_ts", "c_ts", "m", mode), "m")
      assert(matches(res, "prev_ts") == native(plans.AsOfMode.Backward))
      assert(matches(operators.Relational.asofCarry(df, backward = false, forward = true),
        "next_ts") == native(plans.AsOfMode.Forward))
      assert(matches(operators.Relational.asofNearest(df), "near_click_ts") ==
        native(plans.AsOfMode.Nearest))
    }
  }

  test("prefix-filter lemma: filtered jaccard == all-pairs, any corpus, any tau") {
    // random word-soup corpora over a tiny vocabulary (gram collisions
    // guaranteed) at random thresholds: the prefix-filtered join must
    // emit EXACTLY the all-pairs result — the lemma, not the fixture
    val vocab = Vector("a", "b", "c", "d", "e")
    val doc = Gen.choose(2, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpus = Gen.choose(8, 25).flatMap(n => Gen.listOfN(n, doc))
    val tauGen = Gen.oneOf(0.2, 0.3, 0.5, 0.7)
    forAll(Gen.zip(corpus, tauGen), n = 5) { case (docs, tau) =>
      import spark.implicits._
      val g = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, "s" + (i % 2), t) }
        .toDF("doc_id", "source", "text")
        .select(col("doc_id"), col("source"),
          graft.functions.HashedBigrams(col("text")).as("hg"))
      val got = operators.LlmSimilarity.ngramJaccardOn(g, tau)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = g.as("x").join(g.as("y"),
          col("x.source") === col("y.source") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          size(array_intersect(col("x.hg"), col("y.hg"))).as("i"),
          (size(col("x.hg")) + size(col("y.hg"))).as("s"))
        .filter(col("i") / (col("s") - col("i")) >= tau)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == truth,
        s"tau=$tau missed=${truth -- got} extra=${got -- truth} docs=$docs")
    }
  }

  test("prefix-filter lemma: filtered containment == all-pairs in both orders, any tau") {
    // the ONE-SIDED bound through the same prefix helper: only the
    // contained side's postings are pruned, so every (a, b) with
    // |A∩B| / |A| >= tau must still collide — in either id order
    val vocab = Vector("a", "b", "c", "d", "e")
    val doc = Gen.choose(2, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpus = Gen.choose(8, 25).flatMap(n => Gen.listOfN(n, doc))
    val tauGen = Gen.oneOf(0.2, 0.3, 0.5, 0.7, 0.9)
    forAll(Gen.zip(corpus, tauGen), n = 5) { case (docs, tau) =>
      import spark.implicits._
      val g = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, "s" + (i % 2), t) }
        .toDF("doc_id", "source", "text")
        .select(col("doc_id"), col("source"),
          graft.functions.HashedBigrams(col("text")).as("hg"))
      val got = operators.LlmSimilarity.containmentOn(g, tau)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = g.as("x").join(g.as("y"),
          col("x.source") === col("y.source") && col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          size(array_intersect(col("x.hg"), col("y.hg"))).as("i"),
          size(col("x.hg")).as("s"))
        .filter(col("i") / col("s") >= tau)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == truth,
        s"tau=$tau missed=${truth -- got} extra=${got -- truth} docs=$docs")
    }
  }

  test("connected components: distributed labels == driver union-find on random graphs") {
    // the log-round shortcut kernel must agree with a driver-side
    // union-find on ANY graph shape, not just the path/triangle
    // fixtures DedupClusterDiameterSpec pins
    val graphGen = Gen.zip(Gen.choose(8, 24),
      Gen.listOfN(20, Gen.zip(Gen.choose(0L, 23L), Gen.choose(0L, 23L))))
    forAll(graphGen, n = 5) { case (n, rawEdges) =>
      import spark.implicits._
      val nodes = (0L until n.toLong).toDF("doc_id")
      val edges = rawEdges.map { case (a, b) => (a % n, b % n) }
        .filter { case (a, b) => a != b }
      // driver union-find truth (min-id representative)
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      val truth = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val edgeDf =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
        else edges.toDF("a", "b")
      val (labels, _) =
        operators.LlmSimilarity.connectedComponents(spark, nodes, edgeDf)
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == truth, s"n=$n edges=$edges\ngot=$got\ntruth=$truth")
    }
  }

  test("IntersectCount equals size(array_intersect) on arbitrary long arrays") {
    // generator stresses the helper's edge cases: duplicates on both
    // sides (distinct counting), literal 0 values (the empty-slot
    // sentinel), empty arrays, and asymmetric sizes (small-side swap)
    val arr = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.choose(-5L, 5L), Gen.choose(Long.MinValue, Long.MaxValue))))
    forAll(Gen.zip(arr, arr), n = 40) { case (as, bs) =>
      import spark.implicits._
      val df = Seq((as, bs)).toDF("a", "b")
        .select(graft.functions.IntersectCount(col("a"), col("b")).as("got"),
          size(array_intersect(col("a"), col("b"))).as("want"))
      val r = df.collect()(0)
      assert(r.getInt(0) == r.getInt(1), s"a=$as b=$bs")
    }
  }

  test("quantized mean: micro-unit sum sq over n points rounds half away from zero") {
    // k-means, the PQ codebooks and both Lloyd SQL twins update every
    // centroid coordinate through this one rule
    val anySum = Gen.zip(Gen.choose(-1000000000000L, 1000000000000L), Gen.choose(1L, 100000L))
    // sq / n lands exactly on q + 0.5 (n even), negative q included
    val tie = for {
      q <- Gen.choose(-10000000L, 10000000L)
      n <- Gen.choose(1L, 50000L).map(_ * 2)
    } yield (q * n + n / 2, n)
    forAll(Gen.listOfN(200, Gen.oneOf(anySum, tie))) { cases =>
      cases.foreach { case (sq, n) =>
        val want = (BigDecimal(sq) / BigDecimal(n))
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact.toDouble / 1000000.0
        assert(operators.Clustering.quantizedMean(sq, n) == want, s"sq=$sq n=$n")
      }
    }
  }

  test("Det.fq: floor-quantization laws (idempotent, monotone, grid-bounded, sign-correct)") {
    import spark.implicits._
    val vals = Gen.listOfN(50, Gen.chooseNum(-1e6, 1e6))
    forAll(vals) { xs =>
      val df = xs.toDF("x").select(col("x"),
        Det.fq(col("x"), 6).as("q"), Det.fq(Det.fq(col("x"), 6), 6).as("qq"))
      df.collect().foreach { r =>
        val x = r.getDouble(0); val q = r.getDouble(1); val qq = r.getDouble(2)
        assert(q <= x, s"fq must never exceed its input: $q > $x")
        assert(x - q < 1e-6 + 1e-9, s"fq must stay within one grid step: $x -> $q")
        assert(qq == q, s"fq must be idempotent: $q -> $qq")
        assert(math.signum(q) * math.signum(x) >= 0 || math.abs(x) < 1e-6,
          s"fq must not flip sign: $x -> $q")
      }
    }
    // the r8 boundary class, explicitly: values whose 6-dp decimal sits
    // on a half-up tie (where round() was engine-specific) quantize to
    // ONE deterministic double
    val boundary = Seq(0.0000005, 1.0000015, -2.0000005, 0.015, -0.015)
    val out = boundary.toDF("x").select(Det.fq(col("x"), 6).as("q"))
      .collect().map(_.getDouble(0))
    // the exact expected floors of the BINARY doubles (computed the
    // same way any IEEE-754 engine would)
    val want = boundary.map(x => math.floor(x * 1e6) / 1e6)
    assert(out.toSeq == want, s"fq boundary rows: ${out.toSeq} vs $want")
  }

  /** Textbook Levenshtein DP — the independent reference for the
    * fuzzy-join law below. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("fuzzyPairs == brute-force levenshtein ≤ 1 on random short strings") {
    // the SymSpell deletion-neighborhood construction claims EXACT
    // recall at threshold 1; stress it over a tight alphabet with
    // short strings (dense near-collisions, repeated chars, empty
    // strings, exact duplicates — every edge the hand cases can't
    // enumerate) and compare against the quadratic reference
    import spark.implicits._
    val names = Gen.listOfN(30,
      Gen.chooseNum(0, 5).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c'))))
    forAll(names, n = 6) { xs =>
      val df = xs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "name")
      val got = operators.FuzzyJoin.fuzzyPairs(df).collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Int]("dist"))).toSet
      val want = (for {
        (a, i) <- xs.zipWithIndex; (b, j) <- xs.zipWithIndex
        if i < j && lev(a, b) <= 1
      } yield (i.toLong, j.toLong, lev(a, b))).toSet
      assert(got == want,
        s"missing: ${want -- got}; extra: ${got -- want}; input: $xs")
    }
  }

  test("bfsHistogram == driver multi-source BFS on random graphs") {
    // the CC-kernel precedent (distributed labels vs driver
    // union-find), for the path kernel: random dense little graphs
    // with self-loops, parallel edges, unreachable islands, and
    // sometimes NO seed at all
    import spark.implicits._
    val edges = Gen.listOfN(25,
      Gen.zip(Gen.choose(0L, 14L), Gen.choose(0L, 14L)))
    forAll(edges, n = 6) { es =>
      val und = (es ++ es.map(_.swap)).distinct
      val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct
      val seeds = nodes.filter(_ % 3 == 0)
      val got = operators.Graph
        .bfsHistogram(und.toDF("u", "v"), seeds.toDF("node"), maxHop = 4)
        .collect()
        .map(r => r.getAs[Int]("hop") ->
          (r.getAs[Long]("n_nodes"), r.getAs[Long]("mn"))).toMap
      // reference: plain BFS over an adjacency map
      val adj = und.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      val dist = scala.collection.mutable.Map(seeds.map(_ -> 0): _*)
      var frontier = seeds
      for (k <- 1 to 4) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
          .distinct.filterNot(dist.contains)
        frontier.foreach(n => dist(n) = k)
      }
      val want = dist.groupBy(_._2).map { case (hop, m) =>
        hop -> (m.size.toLong, m.keys.min) }
      assert(got == want, s"got $got want $want edges $und seeds $seeds")
    }
  }

  test("cepVReversal == plain-Scala replay on random tick sequences") {
    // duplicate timestamps forced on purpose (10-minute offset space,
    // 40 ticks over 4 users): the event_id tiebreak is load-bearing
    import spark.implicits._
    val ticks = Gen.listOfN(40, Gen.zip(
      Gen.choose(0L, 3L), Gen.choose(0, 10), Gen.choose(0, 500)))
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    forAll(ticks, n = 6) { ts0 =>
      val rows = ts0.zipWithIndex.map { case ((u, off, cents), i) =>
        (u, new java.sql.Timestamp(base + off * 60000L), i.toLong,
          cents / 100.0)
      }
      val got = operators.TimeSeries
        .cepVReversal(rows.toDF("user_id", "ts", "event_id", "value"))
        .collect()
        .map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("n_matches"), r.getAs[Long]("rebound_cents"),
            r.getAs[Long]("max_depth_cents"))).toMap
      // reference: per-user (ts, event_id)-sorted scan over the exact
      // cent values (cents/100.0 is a ≤2-decimal double, so the
      // engine's DECIMAL(30,2)·100 recast recovers cents exactly)
      val want = rows.groupBy(_._1).flatMap { case (u, rs) =>
        val vs = rs.sortBy(r => (r._2.getTime, r._3))
        val matches = vs.zipWithIndex.drop(3).collect {
          case ((_, _, _, v), i)
            if {
              val Seq(v3, v2, v1) = (i - 3 to i - 1).map(j => vs(j)._4)
              v3 > v2 && v2 > v1 && v > v1
            } =>
            val cents = (x: Double) => math.round(x * 100)
            (cents(v) - cents(vs(i - 1)._4), cents(vs(i - 3)._4) - cents(vs(i - 1)._4))
        }
        if (matches.isEmpty) None
        else Some(u -> (matches.size.toLong, matches.map(_._1).sum,
          matches.map(_._2).max))
      }
      assert(got == want, s"got $got want $want input $rows")
    }
  }
}
