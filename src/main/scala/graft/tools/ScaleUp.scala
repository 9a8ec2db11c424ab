package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

/** Dev tool: build a SYNTHETIC scaled-up copy of a driver fixture dir for
  * scaling measurements — `runMain graft.tools.ScaleUp <srcDir> <outDir>
  * <factor>`.
  *
  * The relational facts (`lineitem`, `orders`) are replicated `factor`×
  * with the order key shifted by `i · (max_key + 1)` per replica, so the
  * orders↔lineitem join degree is preserved exactly while both tables
  * grow linearly; every replicated order keeps its original customer /
  * part / supplier / date attributes, so dimension join fan-in grows
  * `factor`× (the TPC-H-at-larger-SF shape for fixed dims). All other
  * tables are byte-copied unchanged. The output is clearly NOT driver
  * data — it exists so BASELINE.md's marginal-cost-per-added-row claim
  * can be a measurement instead of an extrapolation while the driver
  * ships no sf1 fixture.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = args(2).toInt
    // Optional 4th arg "shiftParts": also shift l_partkey per replica, so
    // the co-purchase GRAPH (distinct part pairs sharing an order) grows
    // k× instead of collapsing to the original edge set under distinct —
    // the fixture the graph-growth probes need. Default replication keeps
    // parts fixed on purpose (dimension fan-in grows like TPC-H at larger
    // SF), so this is a separate, clearly-labeled output; queries joining
    // the part DIMENSION are out of contract on a shifted fixture.
    val shiftParts = args.length > 3 && args(3) == "shiftParts"
    val spark = graft.Engine.session("graft-scaleup")
    try {
      Files.createDirectories(Paths.get(out))
      val maxKey = spark.read.parquet(s"$src/orders.parquet")
        .agg(max("o_orderkey")).head.getLong(0) + 1
      val maxPart = spark.read.parquet(s"$src/lineitem.parquet")
        .agg(max("l_partkey")).head.getLong(0) + 1
      val reps = explode(sequence(lit(0), lit(k - 1))).as("__rep")

      spark.read.parquet(s"$src/orders.parquet")
        .withColumn("__rep", reps)
        .withColumn("o_orderkey", col("o_orderkey") + col("__rep") * maxKey)
        .drop("__rep")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")

      val liRep = spark.read.parquet(s"$src/lineitem.parquet")
        .withColumn("__rep", reps)
        .withColumn("l_orderkey", col("l_orderkey") + col("__rep") * maxKey)
      (if (shiftParts)
         liRep.withColumn("l_partkey", col("l_partkey") + col("__rep") * maxPart)
       else liRep)
        .drop("__rep")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

      // events: shift event_id per replica and nudge ts by `rep`
      // MICROseconds — every event-time window assignment is unchanged
      // (bucket boundaries are hours/minutes), while (user, ts) pairs
      // stay near-unique so as-of matches don't collapse to ties. Read
      // through Tables.load (NOT raw parquet): the source may be any of
      // the three physical ts flavors; the seam normalizes to µs LTZ,
      // which is what gets written (ts_ns re-derives on load).
      graft.Tables.load(spark, src, "events")
        .drop("ts_ns")
        .withColumn("__rep", reps)
        .withColumn("event_id", col("event_id") * k + col("__rep"))
        .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + col("__rep")))
        .drop("__rep")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/events.parquet")

      // documents: replica-TAG every word ("w" -> "w_r<rep>") instead of
      // byte-copying. A byte-replicated corpus would make every k-gram a
      // cross-replica duplicate (the heavy set degenerates to ALL grams
      // and every doc to one dup cluster); tagging keeps each replica's
      // internal duplicate structure exactly equal to the original corpus
      // while replicas never collide — so dedup/text measurements at ×k
      // see k× the data at the ORIGINAL duplicate rate. n_chars is
      // re-derived so stored metadata stays consistent with the text.
      spark.read.parquet(s"$src/documents.parquet")
        .withColumn("__rep", reps)
        .withColumn("doc_id", col("doc_id") * k + col("__rep"))
        .withColumn("text", expr(
          "array_join(transform(split(text, ' '), w -> concat(w, '_r', __rep)), ' ')"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .drop("__rep")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")

      // embeddings: shift vec_id per replica and nudge ONE coordinate by
      // rep/1024 (exactly representable in float), so replicated vectors
      // are near- but not exact-duplicates — ANN top-k/near-dup stays
      // non-degenerate (no k-way cosine ties) and similarity structure is
      // preserved within each replica.
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("__rep", reps)
        .withColumn("vec_id", col("vec_id") * k + col("__rep"))
        .withColumn("embedding", expr(
          "transform(embedding, (x, i) -> IF(i = 0, CAST(x + __rep / 1024.0 AS FLOAT), x))"))
        .drop("__rep")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

      for (n <- graft.Tables.names
           if n != "orders" && n != "lineitem" && n != "events" &&
             n != "documents" && n != "embeddings") {
        Files.copy(Paths.get(s"$src/$n.parquet"), Paths.get(s"$out/$n.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      val rows = spark.read.parquet(s"$out/lineitem.parquet").count()
      println(s"[scaleup] wrote $out at ${k}x: lineitem rows = $rows")
    } finally spark.stop()
  }
}
