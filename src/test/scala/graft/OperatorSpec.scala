package graft

import java.sql.Timestamp

import graft.functions.WeightedAvg
import graft.multimodal.Multimodal
import graft.operators.AsOf
import org.apache.spark.sql.functions._

/** Unit specs for the custom operator/function layer on small in-memory
  * fixtures (reference-style, SURVEY.md §5 SQLTestData pattern).
  */
class OperatorSpec extends SparkSpecBase {
  import org.apache.spark.sql.Row

  private def ts(s: String) = Timestamp.valueOf(s)

  test("AsOf.joinLast picks latest right row at or before left time") {
    import spark.implicits._
    val left = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")),
      (2L, 100L, ts("2024-01-01 11:00:00")),
      (3L, 200L, ts("2024-01-01 09:00:00"))
    ).toDF("id", "user_id", "t")
    val right = Seq(
      (100L, ts("2024-01-01 09:30:00"), "a"),
      (100L, ts("2024-01-01 10:00:00"), "b"), // equal ts: inclusive
      (100L, ts("2024-01-01 10:30:00"), "c"),
      (200L, ts("2024-01-01 09:30:00"), "late") // after left -> null
    ).toDF("user_id", "t", "v")
    val out = AsOf.joinLast(left, right, "user_id", "t", "t", "v", "last_v")
      .select("id", "last_v").as[(Long, Option[String])].collect().toMap
    assert(out(1L).contains("b"))
    assert(out(2L).contains("c"))
    assert(out(3L).isEmpty)
  }

  test("Components.labelPropagate fails loudly when maxIter is below the diameter") {
    import spark.implicits._
    // a 10-node chain has diameter 9: min-label needs ~9 rounds to reach
    // the far end, so maxIter=3 must throw, not return partial labels
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      operators.Components.labelPropagate(chain, "a", "b", maxIter = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and with enough rounds the same chain resolves to one component
    val ok = operators.Components.labelPropagate(chain, "a", "b", maxIter = 15)
      .collect().map(_.getLong(1)).distinct
    assert(ok.toSeq == Seq(0L))
  }

  test("Components star contraction resolves a 100-node chain at default maxIter") {
    import spark.implicits._
    // diameter 99: min-label would need ~100 rounds (maxIter=20 throws —
    // that contract is pinned above); star contraction halves chain
    // lengths per round, so the DEFAULT budget suffices (VERDICT r5 #6)
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = operators.Components
      .labelPropagate(chain, "a", "b", star = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 100)
    assert(labels.forall(_._2 == 0L), "every chain node must label to the min id 0")
  }

  test("Components round runs ONE job (convergence probe is an observed metric)") {
    import spark.implicits._
    // Assert the per-round MARGINAL job cost, not an absolute budget
    // (ADVICE r5): absolute counts encode the current AQE/broadcast/
    // checkpoint setup mix and flake on a Spark bump. Running two graphs
    // whose only difference is round count cancels every fixed cost —
    // what remains is jobs-per-round, which is what a regressed
    // convergence probe (the pre-r5 join+isEmpty, ≥1 extra job/round)
    // would inflate.
    def jobsFor(group: String, edges: org.apache.spark.sql.DataFrame): Int = {
      spark.sparkContext.setJobGroup(group, "labelPropagate job audit")
      try operators.Components.labelPropagate(edges, "a", "b")
      finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    // two triangles: converge in round 1 + confirming round = 2 rounds
    val triangles = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("a", "b")
    // 5-node chain 0-1-2-3-4: diameter 4 → 4 propagation + 1 confirming = 5
    val chain = (0L until 4L).map(i => (i, i + 1)).toDF("a", "b")
    val jShort = jobsFor("cc-jobcount-2r", triangles)
    val jLong = jobsFor("cc-jobcount-5r", chain)
    // marginal budget: 4 jobs/round (AQE shuffle-stage job, broadcast
    // job, eager-checkpoint job, one slack) × 3 extra rounds; a separate
    // probe job per round would add ≥3 and trip the bound
    assert(jLong - jShort <= 3 * 4,
      s"labelPropagate marginal cost ${jLong - jShort} jobs over 3 extra " +
        "rounds — convergence probe is running as a separate job again?")
  }

  test("Exact.dsum is partition-order independent and exact") {
    import spark.implicits._
    val vals = Seq.tabulate(1000)(i => (i % 7, (i % 100) + 0.25))
    val a = vals.toDF("k", "v").repartition(1)
      .groupBy("k").agg(Exact.dsum(col("v")).as("s"))
    val b = vals.toDF("k", "v").repartition(13, col("v"))
      .groupBy("k").agg(Exact.dsum(col("v")).as("s"))
    assert(a.collect().map(r => (r.getInt(0), r.getDouble(1))).toMap ==
      b.collect().map(r => (r.getInt(0), r.getDouble(1))).toMap)
  }

  test("WeightedAvg matches exact rational computation") {
    import spark.implicits._
    val ds = Seq(("A", 10.00, 2.00), ("A", 20.00, 1.00), ("B", 5.50, 4.00))
      .toDF("k", "p", "q").as[(String, Double, Double)]
    val out = ds.groupByKey(_._1).agg(WeightedAvg.toColumn).collect().toMap
    assert(math.abs(out("A") - (10.0 * 2 + 20.0 * 1) / 3.0) < 1e-12)
    assert(math.abs(out("B") - 5.5) < 1e-12)
  }

  test("Exact pattern and WeightedAvg fail loudly on overflow, never wrap") {
    import spark.implicits._
    // A value beyond BIGINT's unit headroom routes to a loud string->BIGINT
    // cast error (Spark's floor(double) would otherwise clamp silently)
    val e = intercept[Exception] {
      Seq(1e25).toDF("v").agg(Exact.dsum(col("v"))).collect()
    }
    assert(e.getMessage.contains("dsum overflow")
      || e.getMessage.toUpperCase.contains("CAST_INVALID_INPUT"),
      s"expected loud overflow error, got: ${e.getMessage}")
    // WeightedAvg buffers use add/multiplyExact — overflow throws
    intercept[ArithmeticException] {
      WeightedAvg.reduce((Long.MaxValue, 0L), ("x", 1.0e16, 1.0e16))
    }
  }

  test("FakeDecoder is deterministic and within range") {
    val (w, h) = Multimodal.FakeDecoder.decode("hello".getBytes("UTF-8"))
    val (w2, h2) = Multimodal.FakeDecoder.decode("hello".getBytes("UTF-8"))
    assert((w, h) == (w2, h2))
    assert(w >= 64 && w < 128 && h >= 64 && h < 128)
  }

  test("rolling hash is stable (pinned value)") {
    import spark.implicits._
    val df = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    df.createOrReplaceTempView("documents_rh")
    val rh = spark.sql(
      """SELECT aggregate(split(text, ' '), 0L, (acc, x) ->
        |(acc * 31 + length(x) * 7 + ascii(substring(x, 1, 1))) % 1000000007) AS rh
        |FROM documents_rh""".stripMargin).head().getLong(0)
    // fold: ((0*31+14+97)*31+14+99)*31+14+101 = expected
    val exp = ((0L * 31 + 14 + 'a') * 31 + 14 + 'c') * 31 + 14 + 'e'
    assert(rh == exp % 1000000007)
  }

  test("minhash candidates superset of exact duplicate pairs") {
    // Identical texts share ALL minhash bands, so every exact-duplicate
    // pair MUST appear among the LSH candidate pairs — assert the actual
    // superset, built from the duplicate text groups.
    val cand = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactPairs = Tables.load(spark, sf, "documents")
      .groupBy("text").agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) > 1)
      .selectExpr("explode(flatten(transform(ids, a -> " +
        "transform(filter(ids, b -> b > a), b -> struct(a AS a_id, b AS b_id))))) AS p")
      .select("p.a_id", "p.b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((exactPairs -- cand).isEmpty,
      s"exact dup pairs missed by minhash: ${(exactPairs -- cand).take(5)}")
    // guard against vacuity: this fixture is known to contain exact dups
    if (sf.endsWith("sf0.001")) assert(cand.nonEmpty || exactPairs.isEmpty)
  }

  test("LSH-bucketed ANN reaches reasonable recall vs brute force") {
    val brute = SparkEntry.queries("q_sim_topk")(spark, sf)
      .filter(col("rnk") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q_sim_lsh_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "LSH produced no candidates")
    val recall = (brute & lsh).size.toDouble / brute.size
    // 4 random hyperplanes on random 64-d embeddings: modest recall is
    // expected; the spec guards the pipeline produces overlapping
    // neighbors at all, not a tuned recall target
    assert(recall > 0.1, s"recall $recall suspiciously low")
  }

  test("IVF multi-probe ANN reaches higher recall than its candidate bound suggests") {
    val brute = SparkEntry.queries("q_sim_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SparkEntry.queries("q_sim_ivf_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty, "IVF search produced no candidates")
    val recall = (brute & ivf).size.toDouble / brute.size
    // data-adaptive cells + nprobe=2 should beat random hyperplanes:
    // label-trained centroids align cells with the embedding clusters,
    // so most true neighbors share one of the two probed cells
    assert(recall > 0.3, s"IVF recall $recall suspiciously low")
  }

  test("fine grid index: cell size bounded, probe stays adjacent, corpus k-NN overlaps brute force") {
    import graft.queries.Sim
    // (1) the whole point of the fine index is the BOUND: no cell may
    // exceed FineTarget, at any corpus size — this is what keeps the
    // corpus-wide pair joins linear in n (the ×100 lesson)
    val lists = Sim.fineIndex(spark, sf)
    val maxCell = lists.groupBy("cell").count()
      .agg(max("count")).head().getLong(0)
    assert(maxCell <= Sim.FineTarget,
      s"fine cell exceeded target: $maxCell > ${Sim.FineTarget}")
    // (2) structural probe: every returned neighbor must come from the
    // query's own or an adjacent bucket of the SAME label
    val meta = lists.select("vec_id", "label", "bucket").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val knn = SparkEntry.queries("q_sim_knn_join")(spark, sf)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(knn.nonEmpty, "k-NN join returned nothing")
    knn.foreach { case (q, n) =>
      val (ql, qb) = meta(q); val (nl, nb) = meta(n)
      assert(ql == nl && math.abs(qb - nb) <= 1,
        s"neighbor $n of $q from non-adjacent cell: ($ql,$qb) vs ($nl,$nb)")
    }
    // (3) recall against the index's actual CONTRACT: like SemDeDup, the
    // grid blocks by label (the cluster prior) — cross-label neighbors
    // are out of scope by design, so the reference is the exact top-3
    // WITHIN the query's label (computable all-pairs at spec SF). The ±1
    // bucket probe is the approximation under test.
    Tables.ensureFunctions(spark)
    val e = Tables.load(spark, sf, "embeddings")
      .selectExpr("vec_id", "label", "embedding",
        "sqrt(dot_f(embedding, embedding)) AS nrm")
    val a = e.select(col("vec_id").as("q_id"), col("label").as("ql"),
      col("embedding").as("qe"), col("nrm").as("qn"))
    val b = e.select(col("vec_id").as("n_id"), col("label").as("nl"),
      col("embedding").as("ne"), col("nrm").as("nn"))
    val brute = a.join(b, col("ql") === col("nl") && col("q_id") =!= col("n_id"))
      .withColumn("cos_sim", expr("dot_f(qe, ne)") / (col("qn") * col("nn")))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("cos_sim").desc, col("n_id"))))
      .where(col("rnk") <= 3)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & knn.toSet).size.toDouble / brute.size
    assert(recall > 0.6, s"within-label corpus k-NN recall $recall suspiciously low")
  }

  test("dot_l exact integer fold: value, int/long mix, null semantics") {
    Tables.ensureFunctions(spark)
    val r = spark.sql(
      """SELECT
        |  dot_l(array(1L, -2L, 3L), array(4L, 5L, 6L)) AS ok,
        |  dot_l(array(1, 2), array(3L, 4L)) AS mixed,
        |  dot_l(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS null_arr,
        |  dot_l(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)) AS null_elem,
        |  dot_l(array(1L, 2L), array(3L)) AS ragged""".stripMargin).head()
    assert(r.getLong(0) == 12L)
    assert(r.getLong(1) == 11L)
    assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
  }

  test("SQ8-quantized ANN ranks nearly like the float kernel (recall@5)") {
    val brute = SparkEntry.queries("q_sim_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = SparkEntry.queries("q_sim_quant_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(quant.nonEmpty, "quantized search produced no neighbors")
    val recall = (brute & quant).size.toDouble / brute.size
    // per-vector max-abs int8 over 64 dims perturbs each cosine by ~1e-2,
    // so the top-5 neighbor sets should survive nearly unchanged — a low
    // number here means the quantizer (not the fixture) broke
    assert(recall > 0.6, s"SQ8 recall $recall suspiciously low")
  }

  test("PQ-ADC ANN recall reflects a trained codebook, not a broken one") {
    val brute = SparkEntry.queries("q_sim_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SparkEntry.queries("q_sim_pq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.nonEmpty, "PQ search produced no neighbors")
    val recall = (brute & pq).size.toDouble / brute.size
    // 26x compression on near-random 64-d embeddings: measured 0.46 with
    // the k-means-trained codebooks vs 0.08 with label-mean codebooks —
    // the floor guards the training step keeps working, not a tuned
    // recall target (random data is fundamentally incompressible)
    assert(recall > 0.25, s"PQ recall $recall — codebook training degraded")
  }

  test("IVF+PQ composed ANN: results come from probed cells, recall composes") {
    val brute = SparkEntry.queries("q_sim_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SparkEntry.queries("q_sim_pq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = SparkEntry.queries("q_sim_ivfpq_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq.nonEmpty, "IVF+PQ search produced no neighbors")
    // the composition can only REMOVE candidates vs whole-corpus PQ-ADC
    // (same scoring, restricted to probed cells), so each query's result
    // set must be a subset of its PQ result padded by re-ranking — assert
    // the weaker, exact invariant: every (q, n) the composition returns
    // with a PQ-ADC score must also score identically under full PQ when
    // both rank it top-5; and recall vs brute stays above the composed
    // floor (IVF ~0.3+ and PQ ~0.25+ multiply on near-random data)
    val recall = (brute & ivfpq).size.toDouble / brute.size
    assert(recall > 0.1, s"IVF+PQ recall $recall — composition degraded")
    val agree = (pq & ivfpq).size.toDouble / ivfpq.size
    assert(agree > 0.3, s"IVF+PQ/PQ overlap $agree — ADC scoring diverged")
  }

  test("Matryoshka truncate-then-rerank: prefix candidates recover most exact neighbors") {
    val brute = SparkEntry.queries("q_sim_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mrl = SparkEntry.queries("q_sim_mrl_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mrl.nonEmpty, "MRL search produced no neighbors")
    val recall = (brute & mrl).size.toDouble / brute.size
    // half the dims of a near-random 64-d vector keep ~sqrt(1/2) of the
    // cosine signal and the 20-candidate stage-1 buffer absorbs most
    // rank noise before the exact re-rank — a low number means the
    // two-stage pipeline broke, not the fixture
    assert(recall > 0.4, s"MRL recall $recall suspiciously low")
  }

  test("IVF probe plan reads the materialized index, not the parquet fact (r6 perf defect)") {
    // The r6 one-shot SQL silently retrained the quantizer per execution
    // (inlined CTEs, ~10x the oracle). Lock the fix structurally: after
    // the index memo is warm, the probe's physical plan must contain
    // InMemoryTableScans and must NOT rescan the embeddings parquet —
    // explain("formatted") prints cached-plan subtrees too, so assert on
    // the simple-mode plan, which only prints the executed operators.
    SparkEntry.queries("q_sim_ivf_topk")(spark, sf).write
      .format("noop").mode("overwrite").save()
    // Assert on the OPTIMIZED LOGICAL plan's leaves — cache substitution
    // happens there, a cached read is an InMemoryRelation leaf (whose
    // build plan lives inside the relation object, not the tree), and a
    // rescan would surface as a parquet LogicalRelation leaf. (The
    // physical side is an unexecuted AdaptiveSparkPlan wrapper, which
    // hides its tree until execution.)
    val leaves = SparkEntry.queries("q_sim_ivf_topk")(spark, sf)
      .queryExecution.optimizedPlan.collectLeaves()
    val names = leaves.map(_.nodeName).distinct.sorted
    assert(names.contains("InMemoryRelation"),
      s"probe should read the cached IVF index; leaves = $names")
    assert(names == Seq("InMemoryRelation"),
      s"probe should ONLY read the cached index (no fact rescan); leaves = $names")
  }

  test("broadcast hint reaches the plan in q_join_multi") {
    val plan = SparkEntry.queries("q_join_multi")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("TopKAgg keeps k best with total-order tiebreak") {
    val agg = graft.functions.TopKAgg(2)
    val all = Seq((5.0, 2L), (5.0, 1L), (3.0, 9L), (7.0, 4L))
    val out = all.foldLeft(agg.zero)(agg.reduce)
    assert(out == Seq((7.0, 4L), (5.0, 1L)))
    // merge of disjoint partials = reduce over the union
    val (a, b) = all.splitAt(2)
    assert(agg.merge(a.foldLeft(agg.zero)(agg.reduce), b.foldLeft(agg.zero)(agg.reduce)) == out)
  }

  test("salted aggregation equals plain aggregation") {
    val plain = Tables.load(spark, sf, "lineitem")
      .groupBy("l_suppkey").agg(Exact.dsum(col("l_quantity")).as("sum_v"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = graft.operators.Salt
      .saltedSumCount(Tables.load(spark, sf, "lineitem"), "l_suppkey", "l_quantity")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(plain == salted)
  }

  test("salted join equals plain join at any bucket count (incl. degenerate 1)") {
    val li = Tables.load(spark, sf, "lineitem")
    val sup = Tables.load(spark, sf, "supplier")
    val plain = li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    for (buckets <- Seq(1, 5)) {
      val salted = graft.operators.Salt.saltedJoin(li, sup, "l_suppkey", "s_suppkey", buckets)
        .groupBy("s_nationkey").agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(salted == plain, s"buckets=$buckets diverged")
    }
  }

  test("AQE is active and finalizes plans") {
    val df = SparkEntry.queries("q_join_left")(spark, sf)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AdaptiveSparkPlan"), s"AQE missing:\n$plan")
  }

  test("dot_f matches interpreted fold bit-for-bit") {
    Tables.register(spark, sf)
    // merge written as acc + v + 0D so FoldDotProduct does NOT rewrite it:
    // column b really runs the interpreted HOF path
    val rows = spark.sql(
      """SELECT dot_f(embedding, embedding) AS a,
        |aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |          CAST(0 AS DOUBLE), (acc, v) -> acc + v + 0D) AS b
        |FROM embeddings""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("FoldDotProduct rewrites the HOF idiom to dot_f") {
    Tables.register(spark, sf)
    val df = spark.sql(
      """SELECT aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |          CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS d
        |FROM embeddings""".stripMargin)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("dot_f"), s"rewrite did not fire:\n$opt")
    assert(df.count() > 0)
  }

  test("dot_f null semantics mirror the HOF idiom (null array, null element, ragged lengths)") {
    Tables.ensureFunctions(spark)
    // every case where zip_with padding / acc+null poisons the fold must
    // be null through dot_f too — the precondition of FoldDotProduct
    val r = spark.sql(
      """SELECT
        |  dot_f(CAST(NULL AS ARRAY<DOUBLE>), array(1D)) AS null_arr,
        |  dot_f(array(1D, CAST(NULL AS DOUBLE)), array(1D, 2D)) AS null_elem,
        |  dot_f(array(1D, 2D), array(3D)) AS ragged,
        |  aggregate(zip_with(array(1D, 2D), array(3D), (x, y) -> x * y),
        |            CAST(0 AS DOUBLE), (acc, v) -> acc + v + 0D) AS ragged_hof,
        |  dot_f(array(1D, 2D), array(3D, 4D)) AS ok""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.isNullAt(3), "HOF idiom itself must be null on ragged input")
    assert(r.getDouble(4) == 11.0)
  }

  test("md5_long and count_in equal their portable idioms") {
    Tables.register(spark, sf)
    val rows = spark.sql(
      """SELECT md5_long(text) AS fast,
        |       CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT) AS portable,
        |       count_in(split(text, ' '), 'the', 'a', 'of', 'and') AS cfast,
        |       size(filter(split(text, ' '),
        |                   x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and')) AS cportable
        |FROM documents""".stripMargin).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "md5_long mismatch")
      assert(r.getInt(2) == r.getInt(3), "count_in mismatch")
    }
    assert(spark.sql("SELECT count_in(CAST(NULL AS ARRAY<STRING>), 'x') AS n").head().isNullAt(0))
  }

  test("q_topk_perkey plans a WindowGroupLimit (partial top-k before the shuffle)") {
    val plan = SparkEntry.queries("q_topk_perkey")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$plan")
    // Same pushdown for the per-source quota sampler (rank <= K filter).
    val quota = SparkEntry.queries("q_stat_quota")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(quota.contains("WindowGroupLimit"), s"quota lost the group-limit pushdown:\n$quota")
  }

  test("SessionCache memoizes one persisted DF per key and clear() releases it") {
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    def build = {
      built.incrementAndGet()
      Tables.load(spark, sf, "nation").groupBy("n_regionkey").count().persist()
    }
    val a = SessionCache.memo(spark, "spec-key")(build)
    val b = SessionCache.memo(spark, "spec-key")(build)
    assert(built.get() == 1, "memo must build once per (session, key)")
    assert(a eq b)
    a.count()
    assert(a.storageLevel.useMemory, "memoized DF should be persisted")
    SessionCache.clear(spark)
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "clear() must unpersist")
    // strong-keyed registry (ADVICE r3): clear() drops the session entry
    // outright — a cloned session left behind costs one explicit clear,
    // never a pinned-forever WeakHashMap entry
    val clone = spark.newSession()
    SessionCache.memo(clone, "clone-key")(
      Tables.load(clone, sf, "region").persist())
    assert(SessionCache.holds(clone))
    SessionCache.clear(clone)
    assert(!SessionCache.holds(clone),
      "clear() must remove the session's registry entry")
  }

  test("q_sim_lsh and q_sim_lsh_topk read one shared persisted plane-dots table") {
    SessionCache.clear(spark) // start from a cold memo
    val lsh = SparkEntry.queries("q_sim_lsh")(spark, sf)
    lsh.collect()
    val topk = SparkEntry.queries("q_sim_lsh_topk")(spark, sf)
    topk.collect()
    val (s1, s2) = (lsh.queryExecution.executedPlan.toString,
      topk.queryExecution.executedPlan.toString)
    assert(s1.contains("InMemoryTableScan") && s2.contains("InMemoryTableScan"),
      "both LSH queries must read the memoized dots table, not re-scan parquet")
    SessionCache.clear(spark)
  }

  test("builtin global ntile/percent_rank/cume_dist demo equals the canonical distributed form") {
    // q_win_ntile (global single-task window) is spec-only; the declared
    // q_win_ntile_dist must produce the identical answer.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("c_custkey", "quartile", "pr", "cd")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3))).toSet
    val builtin = rows(graft.queries.Windows.qWinNtile.fn(spark, sf))
    val dist = rows(SparkEntry.queries("q_win_ntile_dist")(spark, sf))
    assert(builtin == dist)
  }

  test("TPC-DS-shape composites plan broadcast dims, Expand rollup, and reuse exchanges") {
    // Q64 shape: every dim joins as broadcast (no sort-merge in the chain)
    // and the twice-joined nation table reuses ONE broadcast exchange.
    val p64 = SparkEntry.queries("q_tpcds_q64")(spark, sf)
    p64.collect()
    val s64 = p64.queryExecution.executedPlan.toString
    assert(!s64.contains("SortMergeJoin"), s"dim join degraded to SMJ:\n$s64")
    assert(s64.contains("ReusedExchange"), s"nation broadcast not reused:\n$s64")
    assert(s64.contains("TakeOrderedAndProject"), "top-k not pushed into TakeOrdered")
    // Q27 shape: rollup plans ONE Expand feeding partial->final aggregation
    val p27 = SparkEntry.queries("q_tpcds_q27")(spark, sf)
    p27.collect()
    val s27 = p27.queryExecution.executedPlan.toString
    assert(s27.contains("Expand"), "rollup lost its Expand")
    assert(s27.linesIterator.count(_.contains("partial_count")) >= 1, "no partial aggregation")
    // Q1 shape: the window runs over per-customer AGGREGATE rows, so its
    // exchange partitions by nation, and the top-k is a TakeOrdered
    val p1 = SparkEntry.queries("q_tpcds_q1")(spark, sf)
    p1.collect()
    val s1 = p1.queryExecution.executedPlan.toString
    assert(s1.contains("Window") && s1.contains("hashpartitioning(c_nationkey"),
      s"window not partitioned by nation:\n$s1")
    assert(s1.contains("TakeOrderedAndProject"))
  }

  test("DESCRIBE FUNCTION attributes each native function to its own class") {
    for ((name, cls) <- Seq(
        "dot_f" -> classOf[graft.functions.DotF],
        "md5_long" -> classOf[graft.functions.Md5Long],
        "count_in" -> classOf[graft.functions.CountIn])) {
      val desc = spark.sql(s"DESCRIBE FUNCTION $name")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains(cls.getName), s"$name attributed wrongly:\n$desc")
    }
  }

  test("seed-based sample and sampleBy are reproducible for a fixed seed and partitioning") {
    val df = Tables.load(spark, sf, "orders")
    val a = df.sample(0.3, seed = 42).select("o_orderkey").collect().map(_.getLong(0)).toSet
    val b = df.sample(0.3, seed = 42).select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty && a.size < df.count())
    val fr = Map("F" -> 0.5, "O" -> 0.1)
    val s1 = df.stat.sampleBy("o_orderstatus", fr, 7L).count()
    val s2 = df.stat.sampleBy("o_orderstatus", fr, 7L).count()
    assert(s1 == s2 && s1 > 0)
    // The SQL TABLESAMPLE surface parses to the same Sample operator and
    // is seed-reproducible too (both percent and row-count forms).
    Tables.register(spark, sf)
    val t1 = spark.sql(
      "SELECT o_orderkey FROM orders TABLESAMPLE (30 PERCENT) REPEATABLE (42)")
    assert(t1.queryExecution.optimizedPlan.toString.contains("Sample"),
      "TABLESAMPLE must plan a Sample operator")
    val t2 = spark.sql(
      "SELECT o_orderkey FROM orders TABLESAMPLE (30 PERCENT) REPEATABLE (42)")
    assert(t1.collect().map(_.getLong(0)).toSet ==
      t2.collect().map(_.getLong(0)).toSet)
    assert(spark.sql("SELECT * FROM orders TABLESAMPLE (50 ROWS)").count() == 50)
  }

  test("all three aggregate exec variants plan as expected") {
    val num = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
      .queryExecution.executedPlan.toString
    assert(num.contains("HashAggregate"), s"numeric agg should hash:\n$num")
    // min(string) buffers are var-width -> falls back to SortAggregate
    val str = Tables.load(spark, sf, "customer")
      .groupBy("c_nationkey").agg(min("c_name"))
      .queryExecution.executedPlan.toString
    assert(str.contains("SortAggregate"), s"string min should sort-agg:\n$str")
    // collect_list buffers are objects -> ObjectHashAggregate
    val obj = Tables.load(spark, sf, "nation")
      .groupBy("n_regionkey").agg(collect_list("n_name"))
      .queryExecution.executedPlan.toString
    assert(obj.contains("ObjectHashAggregate"), s"collect_list should object-hash:\n$obj")
  }

  test("filter/column pruning reach the parquet scan") {
    val df = Tables.load(spark, sf, "lineitem")
      .filter(col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"pushdown missing:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"pruning missing:\n$scan")
  }

  test("TPC-H-shape composites keep the scale-critical plan shapes") {
    // Q6: the entire WHERE reaches the parquet reader; no join, one
    // partial->final agg over a pruned 2-column read.
    val p6 = SparkEntry.queries("q_tpch_q6")(spark, sf)
    // toString elides long PushedFilters lists; the formatted mode keeps them
    val s6 = p6.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(s6.contains("GreaterThanOrEqual(l_shipdate") && s6.contains("LessThan(l_quantity,24.0)"),
      s"Q6 filters not pushed:\n$s6")
    assert(!s6.contains("Join"), "Q6 should be join-free")
    assert(s6.contains("partial_sum"), "Q6 lost map-side partial aggregation")
    // Q4/Q22: EXISTS and NOT EXISTS plan as semi/anti joins, never
    // per-row subquery execution.
    val s4 = SparkEntry.queries("q_tpch_q4")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(s4.contains("LeftSemi"), s"Q4 EXISTS not a semi join:\n$s4")
    val s22 = SparkEntry.queries("q_tpch_q22")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(s22.contains("LeftAnti"), s"Q22 NOT EXISTS not an anti join:\n$s22")
    // Q19: disjunctive predicates keep the p_partkey equi join hashable
    // (no nested loop / cartesian fallback).
    val s19 = SparkEntry.queries("q_tpch_q19")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(s19.contains("BroadcastHashJoin") || s19.contains("SortMergeJoin"),
      s"Q19 lost its equi join:\n$s19")
    assert(!s19.contains("NestedLoop") && !s19.contains("CartesianProduct"),
      s"Q19 degraded to a non-equi join:\n$s19")
    // Projected IN plans the true ExistenceJoin variant (flag-emitting,
    // non-filtering) — distinct from the WHERE-position semi/anti rewrites.
    val sf1 = SparkEntry.queries("q_subq_flag")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(sf1.contains("ExistenceJoin"), s"projected IN lost ExistenceJoin:\n$sf1")
    // LATERAL + LIMIT decorrelates to a window rank, not per-outer-row
    // subquery execution (the q_topk_perkey plan, proven scale-safe).
    val sl = SparkEntry.queries("q_sql_lateral")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(sl.contains("Window"), s"LATERAL not decorrelated to a window:\n$sl")
    assert(!sl.contains("NestedLoop") && !sl.contains("CartesianProduct"),
      s"LATERAL executes per-row:\n$sl")
  }

  test("remaining TPC-H shapes decorrelate to semi/anti/outer joins, never per-row subqueries") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q21: EXISTS -> left-semi, NOT EXISTS -> left-anti, both equi on
    // l_orderkey; the fact table never re-executes per outer row.
    val s21 = plan("q_tpch_q21")
    assert(s21.contains("LeftSemi"), s"Q21 EXISTS not a semi join:\n$s21")
    assert(s21.contains("LeftAnti"), s"Q21 NOT EXISTS not an anti join:\n$s21")
    assert(!s21.contains("CartesianProduct"), s"Q21 degraded:\n$s21")
    // Q2: the correlated scalar MIN decorrelates to an aggregate joined on
    // p_partkey (no per-row subquery), and ORDER+LIMIT is one TakeOrdered.
    val s2 = plan("q_tpch_q2")
    assert(s2.contains("TakeOrderedAndProject"), s"Q2 top-k not TakeOrdered:\n$s2")
    assert(!s2.contains("CartesianProduct") && !s2.contains("NestedLoop"),
      s"Q2 correlated MIN executes per-row:\n$s2")
    // Q20: both IN subqueries (nested) plan as left-semi joins.
    val s20 = plan("q_tpch_q20")
    assert(s20.linesIterator.count(_.contains("LeftSemi")) >= 2,
      s"Q20 nested INs not two semi joins:\n$s20")
    // Q16: null-aware NOT IN plans as an anti join, not a filter-per-row.
    val s16 = plan("q_tpch_q16")
    assert(s16.contains("LeftAnti"), s"Q16 NOT IN not an anti join:\n$s16")
    // Q13: the ON-clause filter must stay in the LEFT OUTER join (zero-
    // order customers survive into the distribution's zero bucket).
    val s13 = plan("q_tpch_q13")
    assert(s13.contains("LeftOuter"), s"Q13 outer join collapsed:\n$s13")
    // Q7/Q8: deep join trees stay equi (broadcast/shuffled hash or SMJ).
    for ((n, s) <- Seq("q_tpch_q7" -> plan("q_tpch_q7"), "q_tpch_q8" -> plan("q_tpch_q8")))
      assert(!s.contains("CartesianProduct") && !s.contains("NestedLoop"),
        s"$n degraded to a non-equi join:\n$s")
  }

  test("na.drop on the outer join's null column equals the inner join") {
    val c = Tables.load(spark, sf, "customer")
    val o = Tables.load(spark, sf, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
    val outer = c.join(o, c("c_custkey") === o("o_custkey"), "left")
    val dropped = outer.na.drop("any", Seq("o_totalprice")).count()
    val inner = c.join(o, c("c_custkey") === o("o_custkey")).count()
    assert(dropped == inner, s"na.drop kept $dropped vs inner join $inner")
    assert(outer.count() > inner, "the outer join must actually produce null rows")
  }

  test("ANSI posture: errors raise loudly, try_* and the Exact guard behave as documented") {
    import spark.implicits._
    // integral division by zero is an ERROR, not a silent null
    intercept[Exception] {
      spark.sql("SELECT 1 div 0").collect()
    }
    // invalid cast is an ERROR under ANSI...
    intercept[Exception] {
      spark.sql("SELECT CAST('not-a-number' AS INT)").collect()
    }
    // ...and try_cast is the sanctioned NULL-on-error escape hatch
    assert(spark.sql("SELECT try_cast('not-a-number' AS INT)").head.isNullAt(0))
    // Exact.dsum refuses to overflow silently: units beyond the BIGINT
    // guard route through a loud string->long cast error
    intercept[Exception] {
      Seq(9.0e15, 1.0).toDF("v").agg(Exact.dsum(col("v"), 4)).collect()
    }
    // in range, the same expression is exact
    assert(Seq(1.07, 2.03).toDF("v").agg(Exact.dsum(col("v"), 2))
      .head.getDouble(0) == 3.10)
  }

  test("Engine session carries the production posture (ANSI, AQE, RocksDB, UTC)") {
    val c = spark.conf
    assert(c.get("spark.sql.ansi.enabled") == "true")
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c.get("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
    assert(c.get("spark.sql.session.timeZone") == "UTC")
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // The 100-TB hot-key story: one key owning most rows would pin a
    // single reducer; AQE's skewJoin splits that partition after the map
    // stage. Thresholds are tuned down to fire at fixture scale.
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // keep it a shuffled join
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 50k rows on ONE key vs 100 spread keys; right side small but not broadcast
      val skewed = spark.range(0, 51000)
        .select(when($"id" < 50000, lit(7L)).otherwise($"id" % 100).as("k"),
          concat(lit("payload-padding-to-make-rows-wide-"), $"id").as("pad"))
      val dim = spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("dv"))
      val joined = skewed.join(dim, "k")
      assert(joined.collect().length == 51000) // executes THIS plan instance
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"), s"AQE did not split the skewed partition:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("AQE converts a planned sort-merge join to broadcast at runtime") {
    // Runtime re-planning (the engine's answer to Sol's adaptive
    // scheduling): the STATIC planner sees no size estimate under the
    // broadcast threshold, plans SMJ; after the map stage AQE reads the
    // actual shuffle size and converts to a broadcast join.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.localShuffleReader.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")   // static: never broadcast
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB") // runtime: allowed
      conf.set("spark.sql.adaptive.localShuffleReader.enabled", "true")
      val li = Tables.load(spark, sf, "lineitem").select("l_suppkey", "l_quantity")
      val sup = Tables.load(spark, sf, "supplier").select("s_suppkey", "s_name")
      val joined = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      // static plan: SMJ (broadcast disabled at planning time)
      val staticPlan = joined.queryExecution.executedPlan.toString
      assert(staticPlan.contains("SortMergeJoin"), s"expected initial SMJ:\n$staticPlan")
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("BroadcastHashJoin"),
        s"AQE did not convert to broadcast:\n$finalPlan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("join strategy hints are honored (BROADCAST / MERGE / SHUFFLE_HASH)") {
    Tables.register(spark, sf)
    def planOf(hint: String) = spark.sql(
      s"SELECT /*+ $hint(o) */ c_name, o_totalprice FROM customer c JOIN orders o ON c_custkey = o_custkey")
      .queryExecution.executedPlan.toString
    assert(planOf("BROADCAST").contains("BroadcastHashJoin"), "BROADCAST hint ignored")
    assert(planOf("MERGE").contains("SortMergeJoin"), "MERGE hint ignored")
    assert(planOf("SHUFFLE_HASH").contains("ShuffledHashJoin"), "SHUFFLE_HASH hint ignored")
  }

  test("TPC-DS batch-2 shapes: scalar bands push filters, INTERSECT dedups before joining") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q88: every band filter reaches the scan (8 pushed ranges), and the
    // 1x1-row scalar combines never shuffle the fact.
    val s88 = SparkEntry.queries("q_tpcds_q88")(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(s88.contains("GreaterThanOrEqual(l_quantity,1.0)")
      && s88.contains("LessThanOrEqual(l_quantity,50.0)"),
      s"Q88 band filters not pushed to the scans:\n$s88")
    // Q38: INTERSECT plans as aggregated semi joins on the key — the fact
    // payload (o_totalprice etc.) never crosses an exchange.
    val s38 = plan("q_tpcds_q38")
    assert(s38.contains("LeftSemi"), s"Q38 INTERSECT lost its semi join:\n$s38")
    // Q51/Q97: FULL OUTER over pre-aggregated streams stays an equi join.
    for (n <- Seq("q_tpcds_q51", "q_tpcds_q97")) {
      val s = plan(n)
      assert(s.contains("FullOuter"), s"$n lost the full outer join:\n$s")
      assert(!s.contains("CartesianProduct"), s"$n degraded:\n$s")
    }
    // Q47: the three window frames (lag, lead, per-key aggregate) share
    // ONE hash exchange on sk — windows re-sort, they don't re-shuffle.
    val s47 = plan("q_tpcds_q47")
    val skExchanges = s47.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(sk"))
    assert(skExchanges == 1, s"Q47 windows re-shuffled ($skExchanges sk exchanges):\n$s47")
  }

  test("TPC-DS batch-3 shapes: rollup windows rank bounded grains, conditional splits scan once") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q67/Q36: the ROLLUP Expand feeds a rank window over the rolled-up
    // grain (brands x years / regions x nations — bounded at any SF)
    for (n <- Seq("q_tpcds_q67", "q_tpcds_q36")) {
      val s = plan(n)
      assert(s.contains("Expand"), s"$n lost the ROLLUP Expand:\n$s")
      assert(s.contains("Window"), s"$n lost the rank window:\n$s")
      assert(!s.contains("CartesianProduct"), s"$n degraded:\n$s")
    }
    // Q36's dim chain broadcasts — the fact is never shuffled per dim
    val s36 = plan("q_tpcds_q36")
    assert(s36.contains("BroadcastHashJoin"), s"Q36 dims not broadcast:\n$s36")
    // Q21/Q66: before/after and monthly pivots are ONE conditional-agg
    // scan of the fact, not per-band self-joins or re-scans
    for (n <- Seq("q_tpcds_q21", "q_tpcds_q66")) {
      val s = plan(n)
      val scans = s.linesIterator.count(_.contains("FileScan"))
      assert(scans == 1, s"$n re-scans the fact ($scans scans):\n$s")
    }
  }

  test("TPC-DS batch-4 shapes: INTERSECT legs push flag filters, EXISTS decorrelates, grains pre-aggregate") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q14: each INTERSECT leg is a pushed-filter scan feeding semi joins
    // on the part key — the fact is never cartesian'd or re-shuffled whole
    val s14 = plan("q_tpcds_q14")
    assert(s14.contains("LeftSemi"), s"Q14 INTERSECT lost the semi joins:\n$s14")
    assert(s14.linesIterator.count(_.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag")) >= 3,
      s"Q14 legs did not push the flag filters to the scans:\n$s14")
    assert(!s14.contains("CartesianProduct"), s"Q14 degraded:\n$s14")
    // Q95: both EXISTS decorrelate to semi joins on l_orderkey
    val s95 = plan("q_tpcds_q95")
    assert(s95.linesIterator.count(_.contains("LeftSemi")) >= 2,
      s"Q95 EXISTS pair did not both decorrelate:\n$s95")
    // Q78: both channels aggregate to the (customer, year) grain BEFORE
    // the left join — the join never sees fact-grain rows
    val s78 = plan("q_tpcds_q78")
    val joinAt = s78.linesIterator.indexWhere(l =>
      l.contains("SortMergeJoin") && l.contains("LeftOuter"))
    val aggsBefore = s78.linesIterator.drop(joinAt).count(_.contains("HashAggregate"))
    assert(joinAt >= 0 && aggsBefore >= 2,
      s"Q78 joined before aggregating to the grain:\n$s78")
    // salted join: the replicated supplier side broadcasts (no shuffle
    // added by the salt) and the plain-join identity holds by oracle
    val sj = plan("q_join_salted")
    assert(sj.contains("BroadcastHashJoin"), s"salted join lost the broadcast:\n$sj")
  }

  test("TPC-DS batch-5 shapes: correlated scalars decorrelate, chain joins stay equi, self-joins run on aggregated grain") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q1corr: the two correlated scalar aggregates in the WHERE clause
    // decorrelate to aggregate+join — the executed plan has real joins
    // and NO per-row subquery machinery or nested-loop fallback
    val s1 = plan("q_tpcds_q1corr")
    assert(!s1.contains("CartesianProduct") && !s1.contains("BroadcastNestedLoop"),
      s"Q1corr subqueries did not decorrelate to equi joins:\n$s1")
    assert(s1.contains("HashAggregate"), s"Q1corr lost the per-nation aggregate:\n$s1")
    // Q17: both chain joins are EQUI joins on (cust, brand) with the date
    // predicates as residual conditions — never planned as a non-equi
    // nested loop, which would be quadratic at scale
    val s17 = plan("q_tpcds_q17")
    assert(!s17.contains("BroadcastNestedLoop") && !s17.contains("CartesianProduct"),
      s"Q17 chain degraded to a non-equi join:\n$s17")
    assert(s17.linesIterator.count(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) && l.contains(">=")) >= 2,
      s"Q17 date residuals not attached to the equi joins:\n$s17")
    // Q39: the consecutive-month self-join consumes HashAggregate output
    // (supplier × month grain), not fact rows
    val s39 = plan("q_tpcds_q39")
    val j39 = s39.linesIterator.indexWhere(_.contains("SortMergeJoin"))
    assert(j39 >= 0 && s39.linesIterator.drop(j39).count(_.contains("HashAggregate")) >= 2,
      s"Q39 self-joined before aggregating to the grain:\n$s39")
  }

  test("TPC-DS batch-7 shapes: semi+anti coexist with distinct-count, scalar subqueries stay independent, calendar self-join runs on aggregated grain") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q94: the EXISTS and NOT EXISTS both decorrelate to l_orderkey equi
    // joins (semi + anti) under the global COUNT(DISTINCT) — no nested
    // loop anywhere
    val s94 = plan("q_tpcds_q94")
    assert(s94.contains("LeftSemi"), s"Q94 EXISTS did not become a semi join:\n$s94")
    assert(s94.contains("LeftAnti"), s"Q94 NOT EXISTS did not become an anti join:\n$s94")
    assert(!s94.contains("CartesianProduct") && !s94.contains("BroadcastNestedLoop"),
      s"Q94 degraded to a non-equi join:\n$s94")
    // Q9: all 15 scalar subqueries plan as independent single-row
    // aggregates with the band predicate PUSHED to each scan
    val s9 = plan("q_tpcds_q9")
    assert(s9.linesIterator.count(_.contains("Subquery")) >= 15,
      s"Q9 lost scalar subqueries:\n$s9")
    assert(s9.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("GreaterThanOrEqual(l_quantity")),
      s"Q9 band predicates not pushed to the scans:\n$s9")
    // Q2: the week self-join consumes aggregate output (year×week grain),
    // never order-grain rows
    val s2 = plan("q_tpcds_q2")
    val j2 = s2.linesIterator.indexWhere(_.contains("Join"))
    assert(j2 >= 0 && s2.linesIterator.drop(j2).count(_.contains("HashAggregate")) >= 2,
      s"Q2 self-joined before aggregating to the weekly grain:\n$s2")
    // Q62: one fact-fact equi join, ONE aggregate — the CASE buckets fuse
    // into a single pass (no per-bucket re-scan)
    val s62 = plan("q_tpcds_q62")
    val scans62 = s62.linesIterator.count(_.contains("FileScan parquet") )
    assert(scans62 <= 2, s"Q62 re-scans per bucket ($scans62 scans):\n$s62")
    assert(!s62.contains("CartesianProduct"), s"Q62 degraded:\n$s62")
  }

  test("TPC-DS batch-8 shapes: cross-table OR rides the equi join, date-window chain stays keyed") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q13: the three-way OR references both join sides, so it must stay a
    // residual on a plain custkey equi-join — never a nested loop, and
    // the join itself never degrades
    val s13 = plan("q_tpcds_q13")
    assert(!s13.contains("CartesianProduct") && !s13.contains("BroadcastNestedLoop"),
      s"Q13 OR-bands degraded the join:\n$s13")
    assert(s13.contains("BETWEEN") || s13.contains("&&") || s13.contains("||") ||
      s13.linesIterator.exists(l => l.contains("Filter") && l.contains("BUILDING")),
      s"Q13 lost the band disjunction:\n$s13")
    // Q72: the shipment-overlap join is an EQUI join on l_partkey with the
    // 5-day window as a residual condition — bounded fan-out, no cartesian
    val s72 = plan("q_tpcds_q72")
    assert(!s72.contains("CartesianProduct") && !s72.contains("BroadcastNestedLoop"),
      s"Q72 window join degraded:\n$s72")
    assert(s72.linesIterator.exists(l =>
        (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
          l.contains("BroadcastHashJoin")) && l.contains("l_partkey")),
      s"Q72 lost the partkey equi-join:\n$s72")
    // the anchor-week filter pushes to l1's scan
    assert(s72.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("l_shipdate")),
      s"Q72 anchor-week filter not pushed:\n$s72")
  }

  test("TPC-DS batch-9 shapes: channel legs pre-aggregate, threshold joins run on aggregated grain") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q5: both channel legs aggregate to nation grain BEFORE the union —
    // the Union's inputs are aggregate outputs, and the rollup Expand
    // sits above it, never below
    val s5 = plan("q_tpcds_q5")
    val u5 = s5.linesIterator.indexWhere(_.contains("Union"))
    assert(u5 >= 0, s"Q5 lost the channel union:\n$s5")
    assert(s5.linesIterator.drop(u5).count(_.contains("HashAggregate")) >= 4,
      s"Q5 unioned detail rows instead of aggregated legs:\n$s5")
    assert(s5.linesIterator.take(u5).exists(_.contains("Expand")),
      s"Q5 rollup not above the union:\n$s5")
    // Q54: one orders scan feeds both aggregation levels (spend grain,
    // then bucket histogram) — no re-scan per level
    val s54 = plan("q_tpcds_q54")
    assert(s54.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"Q54 re-scans orders:\n$s54")
    // Q58: the three year instances join on the aggregated part grain —
    // equi joins only, aggregates below the joins
    val s58 = plan("q_tpcds_q58")
    assert(!s58.contains("CartesianProduct") && !s58.contains("BroadcastNestedLoop"),
      s"Q58 band compare degraded a join:\n$s58")
    val j58 = s58.linesIterator.indexWhere(_.contains("Join"))
    assert(j58 >= 0 && s58.linesIterator.drop(j58).count(_.contains("HashAggregate")) >= 6,
      s"Q58 joined detail rows instead of per-year aggregates:\n$s58")
    // Q65: the engine's window rewrite computes the store totals in the
    // SAME pass as the item rows — exactly one fact scan (the CTE join
    // form would scan+aggregate twice), a store-partitioned Window, and
    // only broadcast dim joins
    val s65 = plan("q_tpcds_q65")
    assert(!s65.contains("CartesianProduct") && !s65.contains("BroadcastNestedLoop"),
      s"Q65 threshold compare degraded a join:\n$s65")
    val scans65 = s65.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(scans65 == 1, s"Q65 re-aggregates the fact ($scans65 lineitem scans):\n$s65")
    assert(s65.contains("Window"), s"Q65 lost the store-total window:\n$s65")
  }

  test("TPC-DS batch-11 shapes: EXCEPT chain becomes stacked anti joins, dim-correlated scalars decorrelate") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q87: each EXCEPT DISTINCT rewrites to aggregate -> left-anti join;
    // two stacked anti joins, no cartesian anywhere
    val s87 = plan("q_tpcds_q87")
    assert(s87.linesIterator.count(_.contains("LeftAnti")) >= 2,
      s"Q87 EXCEPT chain did not become stacked anti joins:\n$s87")
    assert(!s87.contains("CartesianProduct") && !s87.contains("BroadcastNestedLoop"),
      s"Q87 degraded:\n$s87")
    // Q6: both correlated scalars decorrelate to nation-grain aggregates
    // joined back on c_nationkey — never a per-row subquery
    val s6 = plan("q_tpcds_q6")
    assert(!s6.contains("CartesianProduct") && !s6.contains("BroadcastNestedLoop"),
      s"Q6 correlated scalars did not decorrelate:\n$s6")
    assert(s6.linesIterator.exists(l => l.contains("Join") && l.contains("c_nationkey")),
      s"Q6 lost the nation-key decorrelation join:\n$s6")
  }

  test("TPC-DS batch-12 shapes: one fact aggregate feeds both rank directions, six distinct legs, OR'd existence join") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q44 (r12 window-free form): the fact aggregates ONCE into a
    // localCheckpoint at construction — the final plan must scan the
    // checkpointed RDD, never re-scan lineitem, and the global ranks
    // must plan as distributed top-k (TakeOrderedAndProject), with NO
    // window at all (the old global ROW_NUMBER/OVER() funneled every
    // part through one task — VERDICT r11 #3)
    val s44 = plan("q_tpcds_q44")
    val factScans44 = s44.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans44 == 0,
      s"Q44 re-scans the fact past the checkpoint ($factScans44 lineitem scans):\n$s44")
    assert(!s44.contains("Window"),
      s"Q44 regressed to a window plan:\n$s44")
    assert(s44.linesIterator.count(_.contains("TakeOrderedAndProject")) >= 2,
      s"Q44 ranks did not plan as distributed top-k:\n$s44")
    // Q28: six independent band legs, each a two-phase distinct aggregate
    // (single-distinct rewrite: partial group-by the distinct column,
    // then partial_count(distinct ...) merge), collapsing to single-row
    // broadcast cross joins — six distinct pipelines, never a blowup
    val s28 = plan("q_tpcds_q28")
    assert(s28.linesIterator.count(_.contains("partial_count(distinct")) == 6,
      s"Q28 lost a distinct-aggregate leg:\n$s28")
    // Q45: the OR'd IN-subquery must plan as an ExistenceJoin (flag
    // column), not a per-row subquery and not a semi join that would
    // wrongly drop the local-predicate disjunct
    val s45 = plan("q_tpcds_q45")
    assert(s45.contains("ExistenceJoin"),
      s"Q45 OR'd IN-subquery did not plan as ExistenceJoin:\n$s45")
    assert(!s45.contains("CartesianProduct") && !s45.contains("BroadcastNestedLoop"),
      s"Q45 degraded:\n$s45")
  }

  test("TPC-DS batch-13 shapes: dim-attribute inequality rides equi joins, promo ratio joins single rows") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    // Q68: s_nationkey <> c_nationkey must be a residual over hash joins
    // (never a nested-loop theta join), and the top-20 plans TakeOrdered
    val s68 = plan("q_tpcds_q68")
    assert(!s68.contains("CartesianProduct") && !s68.contains("BroadcastNestedLoop"),
      s"Q68 inequality residual degraded a join:\n$s68")
    // The residual must survive as an actual negated equality between the
    // two nationkey attributes — matching the predicate FORM, because any
    // plan that merely scans supplier prints `s_nationkey#N` in its output
    // attributes and a name-only check would pass vacuously.
    val crossNationResidual =
      """NOT \(\s*[sc]_nationkey#\d+L? = [sc]_nationkey#\d+L?\)""".r
    assert(crossNationResidual.findFirstIn(s68).isDefined,
      s"Q68 lost the cross-nation residual predicate:\n$s68")
    assert(s68.contains("TakeOrderedAndProject"),
      s"Q68 top-20 did not plan as TakeOrdered:\n$s68")
    // Q61: two single-row aggregate branches — the cross join must be a
    // single-row broadcast nested loop (that's the legal, free shape
    // here), with TWO lineitem aggregate pipelines
    val s61 = plan("q_tpcds_q61")
    val factScans61 = s61.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("lineitem"))
    assert(factScans61 == 2, s"Q61 expected two branch scans, got $factScans61:\n$s61")
  }

  test("q_graph_triangles probes broadcast hash legs under the gate, never a cartesian") {
    // The wedge pipeline contract: below the 16 M-edge gate both probe
    // legs are broadcast hash joins (wedges stream through ONE codegen
    // pipeline, never materialized or shuffled), and no leg may ever
    // degrade to a cartesian/nested-loop — the two shapes that kill a
    // 100x scale-up. Above the gate the same joins run shuffled (the
    // x30 growth fixture exercises that path, BASELINE.md).
    val df = SparkEntry.queries("q_graph_triangles")(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"triangle probe degraded to a non-equi join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"under-gate probe lost its broadcast hash legs:\n$p")
  }

  test("q_graph_cycle equals an independent pointer-walking reference") {
    // The doubling pipeline (image-of-ptr = cycle set; mn-carry = cycle
    // min) vs a plain-Scala walker that literally follows successor
    // pointers — on the declared fixture graph AND on an adversarial
    // synthetic ρ: a 97-vertex tail feeding a 5-cycle plus a 2-cycle
    // with deep trees, where tree depth ≈ n stresses the K ≥ log2(n)
    // threshold the image/min arguments rest on.
    import spark.implicits._
    def reference(succ: Map[Long, Long]): Map[Long, (Long, Boolean)] = {
      val onCyc = scala.collection.mutable.Set.empty[Long]
      val state = scala.collection.mutable.Map.empty[Long, Int] // 1 in-path, 2 done
      for (v0 <- succ.keys if !state.contains(v0)) {
        val path = scala.collection.mutable.ArrayBuffer.empty[Long]
        var v = v0
        while (!state.contains(v)) { state(v) = 1; path += v; v = succ(v) }
        if (state(v) == 1) onCyc ++= path.drop(path.indexOf(v))
        path.foreach(state(_) = 2)
      }
      def core(v0: Long): Long = {
        var v = v0
        while (!onCyc(v)) v = succ(v)
        var (m, u) = (v, succ(v))
        while (u != v) { m = math.min(m, u); u = succ(u) }
        m
      }
      succ.keys.map(v => v -> ((core(v), onCyc(v)))).toMap
    }

    // declared fixture graph
    Tables.register(spark, sf)
    val succFx = spark.sql(graft.queries.Graph.cycleGraphSql)
      .as[(Long, Long)].collect().toMap
    val gotFx = SparkEntry.queries("q_graph_cycle")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(gotFx === reference(succFx), "fixture graph diverged from the walker")
    assert(gotFx.values.exists(_._2) && gotFx.values.exists(!_._2),
      "fixture graph must exercise both cycle and tree vertices")

    // adversarial ρ: tail 100..3 -> 2, cycle 2->1->0->5->6->2, plus
    // component {200,201} (2-cycle) with tree 210->205->200.
    val succAdv: Map[Long, Long] =
      (3L to 100L).map(i => i -> (i - 1)).toMap ++
        Map(2L -> 1L, 1L -> 0L, 0L -> 5L, 5L -> 6L, 6L -> 2L,
          200L -> 201L, 201L -> 200L, 210L -> 205L, 205L -> 200L)
    // run the SAME doubling pipeline on the synthetic succ table by
    // substituting it for the fixture derivation via a temp view swap
    val f = succAdv.toSeq.toDF("v", "succ")
    var cur = f.select(col("v"), col("succ").as("p"),
      least(col("v"), col("succ")).as("mn"))
    val k = 64 - java.lang.Long.numberOfLeadingZeros(succAdv.size - 1L) + 1
    for (_ <- 1 to k.toInt) {
      val b = cur.select(col("v").as("v2"), col("p").as("p2"), col("mn").as("mn2"))
      cur = graft.operators.Iterate.snap(
        cur.join(b, col("p") === col("v2"))
          .select(col("v"), col("p2").as("p"), least(col("mn"), col("mn2")).as("mn")),
        reliable = false)
    }
    val cyc = cur.select(col("p").as("cv")).distinct()
    val gotAdv = cur
      .join(cur.select(col("v").as("v2"), col("mn").as("mn2")), col("p") === col("v2"))
      .join(cyc, col("v") === col("cv"), "left")
      .select(col("v"), col("mn2"), col("cv").isNotNull)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(gotAdv === reference(succAdv), "adversarial ρ diverged from the walker")
  }

  test("triangle packed key is guarded: composite fallback agrees and survives 2^31 ids") {
    // The packed closing key shiftleft(u,32)|v is only injective for ids
    // < 2^31; q_graph_triangles now checks the memoized max id and falls
    // back to the composite (x, z) key. Pin (a) packed == composite on a
    // normal graph and (b) the composite path counts correctly on ids the
    // packed key would corrupt (sign-extended shift).
    import spark.implicits._
    import graft.queries.Graph
    // K4 on {0,1,2,3} oriented by u < v: 4 triangles, each vertex in 3.
    val k4 = (for (u <- 0L to 3L; v <- (u + 1) to 3L) yield (u, v)).toDF("u", "v")
    def counts(or: org.apache.spark.sql.DataFrame, packed: Boolean) =
      Graph.triangleProbe(or, identity, packed)
        .as[(Long, Long)].collect().toMap
    val packed = counts(k4, packed = true)
    val composite = counts(k4, packed = false)
    assert(packed === composite, "packed and composite keys disagree")
    assert(packed === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // Same K4 shifted past 2^31: the composite path must still see 4
    // triangles per-vertex — the range that forces the fallback.
    val big = (1L << 31) + 7L
    val shifted = k4.select((col("u") + big).as("u"), (col("v") + big).as("v"))
    val compositeBig = counts(shifted, packed = false)
    assert(compositeBig === packed.map { case (k, n) => (k + big, n) },
      "composite fallback miscounts out-of-range ids")
  }

  test("q_dedup_incremental probes the cached band index and bounds the verify to candidates") {
    // The incremental-ingestion scale contract: candidate generation reads
    // the ACCUMULATED signature index from cache (never re-shingles the
    // corpus per increment), and the Jaccard verify explodes shingles only
    // for candidate doc_ids (a semi-join below the Generate). The only
    // legal nested-loop shapes are the 1-row threshold broadcasts.
    val df = SparkEntry.queries("q_dedup_incremental")(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"incremental dedup degraded to a cartesian:\n$p")
    // r11: the candidate-pair and candidate-shingle intermediates are
    // localCheckpointed (their lineage was replayed once per reference),
    // so the contracts live on the PRE-checkpoint subtrees recorded in
    // Dedup.lastParts — the subtrees that actually executed.
    val cand = queries.Dedup.lastParts(spark)("inc-cand")
    cand.collect()
    val pc = cand.queryExecution.executedPlan.toString
    assert(!pc.contains("CartesianProduct"),
      s"candidate generation degraded to a cartesian:\n$pc")
    assert(pc.contains("InMemoryTableScan"),
      s"band index not served from the session-memoized cache:\n$pc")
    val sdist = queries.Dedup.lastParts(spark)("inc-sdist")
    sdist.collect()
    val ps = sdist.queryExecution.executedPlan.toString
    assert(ps.contains("LeftSemi"),
      s"verify-side shingle explode not candidate-bounded:\n$ps")
  }

  test("q_dedup_jaccard verifies pairs in one pass over the per-doc shingle-set store") {
    // r12 (VERDICT r11 #6): the verify step is array_intersect over the
    // one-row-per-doc shingle sets — two plain joins against the
    // checkpointed set store, no exploded shingle-equality join and no
    // per-pair count aggregate. The set store itself must stay
    // candidate-bounded (semi-join below the explode) and aggregate ONCE.
    val df = SparkEntry.queries("q_dedup_jaccard")(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("array_intersect"),
      s"verify lost the single-pass set-intersection form:\n$p")
    assert(!p.contains("HashAggregate"),
      s"a per-pair aggregate reappeared after the set-store checkpoint:\n$p")
    val sets = queries.Dedup.lastParts(spark).getOrElse("jac-sdist",
      fail("q_dedup_jaccard stopped recording the jac-sdist seam"))
    sets.collect()
    val ps = sets.queryExecution.executedPlan.toString
    assert(ps.contains("LeftSemi"),
      s"set-store shingle explode not candidate-bounded:\n$ps")
    assert(ps.contains("collect_list"),
      s"set store lost the one-row-per-doc collect:\n$ps")
  }

  test("SessionCache.clear releases every record, child session and entry of a session") {
    // SessionCache is the one owner of per-session state: memoized frames,
    // child sessions (the BitmapDistinct gate, Pregel's AQE-off loop
    // sessions) and recorded runs (Pregel's rounds and round-2 plans,
    // Dedup's pre-checkpoint frames — ADVICE r11 #1: these pin their
    // session and its lineage). One clear must release all of it, for the
    // session and for each child it held.
    import graft.operators.Pregel
    val ns = spark.newSession()
    for (q <- Seq("q_graph_rank", "q_agg_distinct_auto", "q_dedup_jaccard"))
      SparkEntry.queries(q)(ns, sf).write.format("noop").mode("overwrite").save()
    val kids = SessionCache.children(ns)
    assert(Pregel.lastRuns(ns).contains("rank") && Pregel.lastPlans(ns).contains("rank"),
      "q_graph_rank did not record its rounds and superstep plan")
    assert(queries.Dedup.lastParts(ns).contains("jac-sdist"),
      "q_dedup_jaccard did not record its seam frames")
    assert(kids.contains("bitmap-distinct-gated"), s"no gated child session: ${kids.keys}")
    assert(kids.keys.exists(_.startsWith("pregel-loop:")), s"no Pregel loop session: ${kids.keys}")
    assert(Tables.holds(kids("bitmap-distinct-gated")), "the gated child loaded no tables")
    SessionCache.clear(ns)
    assert(Pregel.lastRuns(ns).isEmpty && Pregel.lastPlans(ns).isEmpty,
      "clear left Pregel records pinning the cleared session")
    assert(queries.Dedup.lastParts(ns).isEmpty, "clear left Dedup seam frames")
    assert(SessionCache.children(ns).isEmpty && !SessionCache.holds(ns),
      "clear left the session's registry entry")
    kids.foreach { case (k, c) =>
      assert(!SessionCache.holds(c) && !Tables.holds(c), s"child session $k outlived clear")
    }
    Tables.clear(ns)
  }

  test("q_dedup_incremental admits nothing from an empty corpus instead of NPE-ing") {
    // The construction-time threshold probe (1-row head(), r11) read
    // getLong on max(doc_id) — null on an EMPTY documents table (VERDICT
    // r11 #7). The empty corpus must yield an empty admission batch.
    val dir = "synth://empty-docs"
    Tables.names.filter(_ != "documents").foreach { n =>
      Tables.seed(spark, dir, n, Tables.load(spark, sf, n))
    }
    Tables.seed(spark, dir, "documents",
      Tables.load(spark, sf, "documents").where(lit(false)))
    val out = SparkEntry.queries("q_dedup_incremental")(spark, dir).collect()
    assert(out.isEmpty, s"empty corpus admitted ${out.length} rows")
  }

  test("GlobalOrder rejects a caller column named like one of its working columns") {
    // The working columns are overwritten and then dropped, so a caller
    // column of the same name would silently lose its values (ADVICE r12 #2).
    import graft.operators.GlobalOrder
    val df = spark.range(10).toDF("k")
    assert(GlobalOrder.rowNumber(df, Seq(col("k")), "rn").count() == 10)
    for (name <- Seq("_go_pid", "_go_v", "_go_loc", "_go_off", "_go_rn0", "_GO_V")) {
      val clash = df.withColumn(name, col("k"))
      val e1 = intercept[IllegalArgumentException](
        GlobalOrder.prefixSum(clash, Seq(col("k")), col("k"), "ps"))
      assert(e1.getMessage.contains(name), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](
        GlobalOrder.rowNumber(clash, Seq(col("k")), "rn"))
      assert(e2.getMessage.contains(name), e2.getMessage)
    }
  }

  test("TimeSql conf parsing: key=value entries, a malformed entry named in the error") {
    assert(tools.TimeSql.parseConf(" a.b = 1 ;c=x=y;;") == Seq("a.b" -> "1", "c" -> "x=y"))
    val e = intercept[IllegalArgumentException](tools.TimeSql.parseConf("a=1;oops"))
    assert(e.getMessage.contains("'oops'"), e.getMessage)
  }
}
