package graft

/** Constructed-input proofs for the exact-substring dedup family and the
  * tf-idf term ranking — the fixture corpus exercises them at scale, but
  * only a hand-built corpus pins the SEMANTICS (which positions flag,
  * how islands merge, how df normalizes) to exact expected rows. Uses the
  * [[Tables.seed]] test seam with a synthetic "dir" key so the shared
  * session's real fixture memos are untouched.
  */
class DedupSubstrSpec extends SparkSpecBase {

  /** Seed a fake sf-dir whose `documents` is the given (id, text) rows and
    * whose other tables alias the real sf0.001 fixtures (register() loads
    * every name, so each key must resolve).
    */
  private def seedDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    Tables.names.filter(_ != "documents").foreach { n =>
      Tables.seed(spark, dir, n, Tables.load(spark, sf, n))
    }
    Tables.seed(spark, dir, "documents",
      docs.toDF("doc_id", "text").selectExpr(
        "doc_id", "text", "'en' AS lang", "'synth' AS source",
        "length(text) AS n_chars"))
  }

  test("q_dedup_substr flags exactly the cross-doc duplicated 8-gram positions") {
    val dir = "synth://substr"
    val a = (1 to 20).map(i => s"a$i").mkString(" ")        // 20 unique words
    val mid = (5 to 12).map(i => s"a$i").mkString(" ")      // 8 words copied from d1
    val d2 = ((1 to 5).map(i => s"b$i") ++ (5 to 12).map(i => s"a$i") ++
      (1 to 5).map(i => s"c$i")).mkString(" ")              // 18 words, dup window at pos 6
    seedDocs(dir, Seq((1L, a), (2L, d2), (3L, a)))
    assert(d2.contains(mid))

    val rows = SparkEntry.queries("q_dedup_substr")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // d1/d3 are exact copies: all 13 grams duplicated. d2 shares exactly
    // one 8-word window with them: 1 of its 11 grams.
    assert(rows == Set((1L, 13L, 13L), (2L, 11L, 1L), (3L, 13L, 13L)))
  }

  test("q_dedup_substr_spans merges flagged positions into maximal spans >= 16 words") {
    val dir = "synth://substr-spans"
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val d2 = ((1 to 5).map(i => s"b$i") ++ (5 to 12).map(i => s"a$i") ++
      (1 to 5).map(i => s"c$i")).mkString(" ")
    seedDocs(dir, Seq((1L, a), (2L, d2), (3L, a)))
    val rows = SparkEntry.queries("q_dedup_substr_spans")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // d1/d3: positions 1..13 are one island -> span of 13+7=20 words from
    // position 1. d2's single 8-word span is below the 2K=16 threshold.
    assert(rows == Set((1L, 1L, 20L), (3L, 1L, 20L)))
  }

  test("q_dedup_cutspans removes exactly the covered words and rebuilds the rest") {
    val dir = "synth://cutspans"
    val a = (1 to 20).map(i => s"a$i").mkString(" ")
    val d2words = (1 to 5).map(i => s"b$i") ++ (5 to 12).map(i => s"a$i") ++
      (1 to 5).map(i => s"c$i")
    seedDocs(dir, Seq((1L, a), (2L, d2words.mkString(" ")), (3L, a)))
    val rows = SparkEntry.queries("q_dedup_cutspans")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // d1/d3 are fully covered by their 20-word span -> everything cut;
    // d2's only span is below the threshold -> untouched
    assert(rows(1L) == ((0L, 20L, "")))
    assert(rows(3L) == ((0L, 20L, "")))
    assert(rows(2L) == ((18L, 0L, d2words.mkString(" "))))
  }

  test("q_text_tfidf ranks rare terms above common ones, df counts documents") {
    val dir = "synth://tfidf"
    seedDocs(dir, Seq((1L, "x x x common"), (2L, "y common"), (3L, "z z common")))
    val rows = SparkEntry.queries("q_text_tfidf")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSet
    assert(rows == Set(
      (1L, "x", 3L, 1L, 1), (1L, "common", 1L, 3L, 2),
      (2L, "y", 1L, 1L, 1), (2L, "common", 1L, 3L, 2),
      (3L, "z", 2L, 1L, 1), (3L, "common", 1L, 3L, 2)))
  }

  // ---- ScalaCheck properties: brute-force reference on generated corpora

  private val K = 8

  /** Brute-force reference: per-doc (n_grams, dup_grams) using a global
    * gram multiset — the executable spec of Lee-et-al. positional dedup.
    */
  private def bruteSubstr(docs: Seq[(Long, Seq[String])]): Map[Long, (Long, Long)] = {
    val grams = docs.flatMap { case (id, ws) =>
      if (ws.size < K) Nil
      else ws.sliding(K).zipWithIndex.map { case (g, i) => (id, i + 1, g.mkString(" ")) }.toSeq
    }
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    docs.collect { case (id, ws) if ws.size >= K =>
      val mine = grams.filter(_._1 == id)
      id -> ((ws.size - K + 1).toLong, mine.count(g => counts(g._3) >= 2).toLong)
    }.toMap
  }

  private def bruteSpans(docs: Seq[(Long, Seq[String])]): Set[(Long, Long, Long)] = {
    val grams = docs.flatMap { case (id, ws) =>
      if (ws.size < K) Nil
      else ws.sliding(K).zipWithIndex.map { case (g, i) => (id, i + 1, g.mkString(" ")) }.toSeq
    }
    val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
    docs.flatMap { case (id, _) =>
      val flagged = grams.filter(g => g._1 == id && counts(g._3) >= 2).map(_._2).sorted
      // islands: consecutive positions merge
      val islands = flagged.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
        case (acc, p) => (p, p) :: acc
      }
      islands.collect { case (s, e) if (e - s + 1) + K - 1 >= 2 * K =>
        (id, s.toLong, ((e - s + 1) + K - 1).toLong)
      }
    }.toSet
  }

  /** Brute-force cut-and-rebuild: every word under a qualifying span
    * removed, rest rejoined in order — the executable spec of cutspans.
    */
  private def bruteCut(docs: Seq[(Long, Seq[String])]): Map[Long, (Long, Long, String)] = {
    val spans = bruteSpans(docs)
    docs.map { case (id, ws) =>
      val covered = spans.collect {
        case (d, s, w) if d == id => (s to (s + w - 1)).map(_.toInt)
      }.flatten
      val kept = ws.zipWithIndex.collect {
        case (w, i) if !covered.contains(i + 1) => w
      }
      id -> ((kept.size.toLong, (ws.size - kept.size).toLong, kept.mkString(" ")))
    }.toMap
  }

  test("property: substr/spans/cutspans equal the brute-force positional reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf((0 until 12).map(i => s"w$i"))
    val phraseGen = Gen.choose(K, K + 4).flatMap(n => Gen.listOfN(n, word))
    val corpusGen = for {
      phrases <- Gen.listOfN(3, phraseGen)
      nDocs <- Gen.choose(2, 5)
      docs <- Gen.listOfN(nDocs, for {
        refs <- Gen.listOf(Gen.oneOf(phrases)).map(_.take(3))
        noise <- Gen.listOf(word).map(_.take(6))
      } yield refs.flatten ++ noise)
    } yield docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws) }
    var n = 0
    val prop = Prop.forAll(corpusGen) { docs =>
      n += 1
      val dir = s"synth://prop-substr-$n"
      seedDocs(dir, docs.map { case (id, ws) => (id, ws.mkString(" ")) })
      val got = SparkEntry.queries("q_dedup_substr")(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val spansGot = SparkEntry.queries("q_dedup_substr_spans")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // cutspans emits one row per doc; split('', ' ') yields [""] so an
      // empty generated doc surfaces as one empty-string word — mirror it
      val cutDocs = docs.map { case (id, ws) =>
        (id, if (ws.isEmpty) Seq("") else ws)
      }
      val cutGot = SparkEntry.queries("q_dedup_cutspans")(spark, dir)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      got == bruteSubstr(docs) && spansGot == bruteSpans(docs) &&
        cutGot == bruteCut(cutDocs)
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(Seed(42L)).withWorkers(1), prop)
    assert(res.passed, s"substr property: ${res.status}")
  }

  test("property: q_text_tfidf equals the brute-force df-normalized ranking") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf((0 until 6).map(i => s"t$i")) // small vocab -> df > 1
    val corpusGen = for {
      nDocs <- Gen.choose(2, 5)
      docs <- Gen.listOfN(nDocs, Gen.nonEmptyListOf(word).map(_.take(12)))
    } yield docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws) }
    var n = 0
    val prop = Prop.forAll(corpusGen) { docs =>
      n += 1
      val dir = s"synth://prop-tfidf-$n"
      seedDocs(dir, docs.map { case (id, ws) => (id, ws.mkString(" ")) })
      val tf = docs.flatMap { case (id, ws) => ws.map(w => (id, w)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val df = tf.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val want = docs.flatMap { case (id, ws) =>
        ws.distinct
          .map(w => (w, tf((id, w)), df(w)))
          .sortBy { case (w, t, d) => (-(t.toDouble / d), w) } // ties -> term asc
          .take(3).zipWithIndex
          .map { case ((w, t, d), i) => (id, w, t, d, i + 1) }
      }.toSet
      val got = SparkEntry.queries("q_text_tfidf")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .toSet
      got == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(Seed(42L)).withWorkers(1), prop)
    assert(res.passed, s"tfidf property: ${res.status}")
  }

  test("cutspans plan: the cover probe is a hash existence join, never a nested loop") {
    val plan = SparkEntry.queries("q_dedup_cutspans")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ExistenceJoin") || plan.contains("LeftAnti"),
      s"NOT EXISTS did not decorrelate:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"cover probe degraded to a nested loop:\n$plan")
  }

  test("substr dedup plan is the shuffle-once window form: one explode, window on gh, no nested loop") {
    // The ×100 re-plan contract (Dedup.flaggedCtes, spark dialect): the
    // corpus position stream is exploded exactly ONCE and flows through a
    // single gh-keyed exchange into COUNT(*) OVER (PARTITION BY gh) — the
    // replaced aggregate+IN-semi-join form exploded the corpus twice and
    // fell off the broadcast threshold at scale (33 GB spill at ×100).
    val plan = SparkEntry.queries("q_dedup_substr")(spark, sf)
      .queryExecution.executedPlan.toString
    val explodes = plan.linesIterator.count(_.contains("Generate explode"))
    assert(explodes == 1,
      s"corpus must be exploded exactly once, found $explodes:\n$plan")
    assert(plan.linesIterator.exists(l =>
        l.contains("Window") && l.contains("windowspecdefinition(gh")),
      s"duplicate flagging is not a gh-partitioned window count:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"substr dedup degraded to a non-equi join:\n$plan")
  }
}
