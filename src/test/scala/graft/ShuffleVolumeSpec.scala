package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** MEASURED shuffle-volume guards. SCALE.md's per-operator arguments say
  * "the shuffle carries the aggregated grain / carries hashes, never
  * text" — plan-string asserts show the operators, these tests read the
  * actual `shuffleRecordsWritten` / `dataSize` SQL metrics after
  * execution, so a regression that silently fattens a shuffle (a lost
  * partial aggregate, a projection that starts carrying the payload)
  * fails with numbers, not with a slower bench three rounds later.
  *
  * AQE is disabled in the measuring session so exchanges are direct plan
  * nodes (same pattern as SpillSpec); the production posture keeps AQE on
  * — coalescing only merges partitions, it never changes record counts.
  */
class ShuffleVolumeSpec extends SparkSpecBase {

  private lazy val noAqe = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect() // populate metrics
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
  }

  test("simhash shuffles document-grain signature rows, not the word stream") {
    val words = Tables.load(noAqe, sf, "documents")
      .selectExpr("explode(split(text, ' '))").count()
    val ex = exchanges(SparkEntry.queries("q_dedup_simhash")(noAqe, sf))
    assert(ex.nonEmpty, "no exchange found — did the aggregation disappear?")
    val records = ex.map(_.metrics("shuffleRecordsWritten").value).sum
    // partial aggregation combines map-side: the exchange carries at most
    // (#map partitions × #docs) rows, a small multiple of the 500 docs —
    // never the ~28k exploded words
    assert(records > 0 && records < words / 3,
      s"simhash shuffled $records records vs $words words — partial agg lost?")
  }

  test("scan-grain aggregate shuffles only partial group rows") {
    val input = Tables.load(noAqe, sf, "lineitem").count()
    val ex = exchanges(SparkEntry.queries("q_agg_basic")(noAqe, sf))
    assert(ex.nonEmpty)
    val records = ex.map(_.metrics("shuffleRecordsWritten").value).sum
    assert(records > 0 && records < input / 10,
      s"q_agg_basic shuffled $records of $input input rows — map-side combine lost?")
  }

  test("substring dedup shuffles hash-width rows, never gram text") {
    val ex = exchanges(SparkEntry.queries("q_dedup_substr")(noAqe, sf))
    assert(ex.nonEmpty)
    val records = ex.map(_.metrics("shuffleRecordsWritten").value).sum
    val bytes = ex.map(_.metrics("dataSize").value).sum
    // (gh, count) / (doc_id, count) rows are ≤ 3 longs + UnsafeRow header
    // ≈ 32 bytes; an 8-word gram string would push past 80. The bound is
    // the CLAIM in Dedup.scala's scaladoc ("shuffle carries (hash, doc,
    // pos) — never gram text") turned into a number.
    assert(records > 0, "no records shuffled — did the heavy-set agg vanish?")
    val avg = bytes.toDouble / records
    assert(avg < 64.0,
      f"substr dedup shuffle rows average $avg%.1f bytes — gram text is riding the shuffle")
  }
}
