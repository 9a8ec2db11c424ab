package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalSnap

import graft.queries.Dedup

/** Continuous near-dup ADMISSION over a document stream — the streaming
  * twin of the declared `q_dedup_incremental` query: each arriving
  * micro-batch is admitted doc-by-doc against everything that arrived
  * before it (and against earlier docs of the same batch), using the same
  * shingle → MinHash → LSH-band → Jaccard-verify chain as the batch
  * operators, driven from `foreachBatch` (the CDC-upsert precedent in
  * `StreamingDmlSpec`).
  *
  * Why foreachBatch and not a pure streaming plan: the verify stage is a
  * multi-join aggregate against an index that must GROW with the stream —
  * exactly the "arbitrary batch logic per micro-batch" seam foreachBatch
  * exists for.
  *
  * Store design — APPEND-ONLY deltas, never a rebuild: each micro-batch
  * persists ONLY its own band/shingle frames (O(batch) work and memory
  * per step) and the accumulated index/store are LAZY unions of those
  * immutable deltas — the lakehouse append discipline, in block-manager
  * form. Nothing corpus-sized is re-materialized per batch (the round-9
  * version re-persisted the full accumulated store every step — an
  * O(corpus)/batch term this design removes). The union view's logical
  * plan grows one leaf per batch, so every `compactEvery` batches the
  * deltas are compacted into a single lineage-free base via eager
  * `localCheckpoint` — plan size and cache-recompute depth stay bounded
  * by `compactEvery` regardless of stream lifetime, and the compaction's
  * O(corpus) cost amortizes to O(corpus/compactEvery) per batch. The
  * production substitution is SHIPPED as [[Admission.tableStore]]: both
  * stores become file-backed DmlCatalog APPEND tables (parquet written
  * executor-side through the engine's DSv2 write path), replacing
  * localCheckpoint compaction with the table format's file sets and
  * surviving operator restart — the probe/verify plans are unchanged
  * either way (`AdmissionSpec` pins table-backed decisions, including
  * across a restart).
  *
  * Scale posture (the q_dedup_incremental audit, tightened by the ×100
  * probe): candidate generation is accumulated-index ⋈ BROADCAST
  * batch-bands on (band, bucket) — O(batch · bands) candidates and NO
  * shuffle of the corpus-sized index, ever. The shingle store holds ONE
  * row per document `(doc_id, sh array, nsh)`, and the Jaccard verify is
  * two broadcast probes of that store (candidates are batch-sized) plus
  * `array_intersect` per candidate pair — so a micro-batch's plan moves
  * only batch-sized data; the corpus-sized frames are only ever SCANNED
  * (cached, columnar-compact), never shuffled, sorted, or re-aggregated.
  * The first cut of this operator recomputed per-doc shingle counts and
  * sort-merge-joined the full exploded store every batch — measured
  * LINEAR (2.6 s at 5 k docs → 15 s at 185 k); this shape replaces it.
  * State never holds text: the stores carry 16 B band rows and the
  * one-pass shingle arrays. ALL batch docs enter the index (admitted or
  * not) — a rejected copy still blocks the next copy, matching the batch
  * operator's "any OLDER doc" partner rule.
  *
  * @param sink         receives this batch's verdicts `(doc_id, n_dups,
  *                     keep)`; must consume the frame synchronously (a
  *                     table append in production; the specs collect)
  * @param compactEvery delta frames tolerated before a lineage-truncating
  *                     compaction (bounds the union plan's width; only
  *                     meaningful for the default block-manager store)
  * @param store        storage strategy for the two accumulated stores —
  *                     default is the block-manager delta store;
  *                     [[Admission.tableStore]] substitutes DmlCatalog
  *                     APPEND tables (file-backed parquet, survives
  *                     operator restart, no localCheckpoint compaction)
  */
class Admission(spark: SparkSession,
    sink: DataFrame => Unit,
    compactEvery: Int = 48,
    store: Admission.Store = null) {

  private val st: Admission.Store =
    Option(store).getOrElse(new Admission.BlockStore(spark, compactEvery))

  /** Process one micro-batch of (doc_id, text). Call from foreachBatch. */
  def step(batch: DataFrame): Unit = this.synchronized {
    val docs = batch.select("doc_id", "text").persist()
    // One array-row per doc: the distinct shingle set + its size — the
    // store shape that lets the verify probe by doc instead of exploding
    // the corpus (50-150× fewer store rows than one-row-per-shingle).
    // Deltas are long-lived scan members, so they land in FEW partitions
    // (a batch is small): without this, every accumulated scan carries
    // ~shufflePartitions tasks PER DELTA and per-batch cost creeps with
    // delta count — task-count overhead, not data (measured at ×100).
    val sh = Dedup.shinglesOf(docs).distinct()
      .groupBy("doc_id")
      .agg(collect_list(col("s")).as("sh"), count(lit(1)).as("nsh"))
      .repartition(2)
    // Signatures from RAW (non-distinct) shingles — MinHash is min-based so
    // distinctness doesn't change it, but the batch operators hash the raw
    // stream and the two must stay bit-identical.
    val bands = Dedup.bandsOf(Dedup.minhashOf(spark, Dedup.shinglesOf(docs)))
      .repartition(2)
    // Materialize the deltas NOW, while the foreachBatch frame is still
    // valid (a streaming batch DataFrame cannot be re-read later) — this
    // is the step's only store write and it is O(batch). The store
    // persists the frames for in-step reuse (broadcast sides below) and
    // includes them in the accumulated views.
    st.append(bands, sh)

    // Candidates: this batch probes the accumulated index PLUS itself
    // (earlier-in-batch partners = lower doc_id, the batch operator's
    // uniform ordering rule; the append above already included this
    // batch in the views). The batch side is BROADCAST so the
    // corpus-sized index is scanned in place — never shuffled.
    val idxAll = st.idxView
    val cand = idxAll
      .select(col("doc_id").as("old_id"), col("band"), col("bucket"))
      .join(broadcast(bands.select(col("doc_id").as("new_id"),
          col("band").as("b2"), col("bucket").as("k2"))),
        col("band") === col("b2") && col("bucket") === col("k2") &&
          col("old_id") < col("new_id"))
      .select("old_id", "new_id").distinct()

    // Jaccard ≥ 0.5 verify bounded to candidates: two broadcast probes of
    // the array store (candidates are O(batch·bands) — always the small
    // side) fetch both shingle sets, then the intersection is a per-pair
    // array op. No corpus-sized shuffle, sort, or aggregation.
    val shAll = st.shView
    val withOld = shAll
      .select(col("doc_id").as("old_id"), col("sh").as("sha"),
        col("nsh").as("na"))
      .join(broadcast(cand), "old_id")
    val verified = shAll
      .select(col("doc_id").as("new_id"), col("sh").as("shb"),
        col("nsh").as("nb"))
      .join(broadcast(withOld), "new_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .where(col("inter") / (col("na") + col("nb") - col("inter")) >= 0.5)
      .groupBy("new_id").agg(count(lit(1)).as("vd"))

    // The admission verdicts for this batch go to the caller-provided
    // sink (a table append in production; the specs collect) — the
    // operator itself never pulls rows to the driver.
    sink(docs
      .join(verified, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"), coalesce(col("vd"), lit(0L)).as("n_dups"),
        col("vd").isNull.as("keep")))

    docs.unpersist()
    // Store maintenance (block store: bounded-lineage compaction every
    // `compactEvery` batches and release of the step's broadcast frames;
    // table store: the format owns compaction — nothing to do).
    st.endStep(bands, sh)
  }

  def close(): Unit = this.synchronized { st.close() }
}

object Admission {

  /** Storage strategy for the two accumulated stores (band index and
    * one-row-per-doc shingle arrays). `append` must MATERIALIZE both
    * O(batch) frames durably AND leave them usable as the step's
    * broadcast sides; the views must include everything appended so far
    * (this batch included).
    */
  trait Store {
    def append(bands: DataFrame, sh: DataFrame): Unit
    def idxView: DataFrame
    def shView: DataFrame
    def endStep(bands: DataFrame, sh: DataFrame): Unit = ()
    def close(): Unit = ()
  }

  /** Block-manager delta store: per-batch persisted frames, lazy-union
    * views, `localCheckpoint` compaction every `compactEvery` batches —
    * the single-process default (state dies with the operator).
    */
  final class BlockStore(spark: SparkSession, compactEvery: Int) extends Store {
    import spark.implicits._
    private def emptyIdx: DataFrame =
      Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "bucket")
    private def emptyStore: DataFrame =
      Seq.empty[(Long, Seq[String], Long)].toDF("doc_id", "sh", "nsh")

    /** Compacted lineage-free base + per-batch persisted deltas. The
      * accumulated view is base ∪ deltas, assembled lazily per step.
      */
    private var baseIdx: DataFrame = emptyIdx
    private var baseStore: DataFrame = emptyStore
    private var deltaIdx: Vector[DataFrame] = Vector.empty
    private var deltaStore: Vector[DataFrame] = Vector.empty

    private def view(base: DataFrame, deltas: Vector[DataFrame]): DataFrame =
      deltas.foldLeft(base)(_ union _)

    override def append(bands: DataFrame, sh: DataFrame): Unit = {
      bands.persist().count(); sh.persist().count()
      deltaIdx :+= bands
      deltaStore :+= sh
    }
    override def idxView: DataFrame = view(baseIdx, deltaIdx)
    override def shView: DataFrame = view(baseStore, deltaStore)

    override def endStep(bands: DataFrame, sh: DataFrame): Unit =
      // Bounded-lineage compaction: fold the deltas into one checkpointed,
      // plan-free base. Runs every `compactEvery` batches — the only
      // corpus-sized write in the operator's lifetime, amortized.
      if (deltaIdx.size >= compactEvery) {
        val (oldBI, oldBS, oldDI, oldDS) = (baseIdx, baseStore, deltaIdx, deltaStore)
        val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
        baseIdx = InternalSnap.snap(view(baseIdx, deltaIdx).coalesce(p))
        baseStore = InternalSnap.snap(view(baseStore, deltaStore).coalesce(p))
        deltaIdx = Vector.empty
        deltaStore = Vector.empty
        InternalSnap.free(oldBI); InternalSnap.free(oldBS)
        oldDI.foreach(_.unpersist()); oldDS.foreach(_.unpersist())
      }

    override def close(): Unit = {
      InternalSnap.free(baseIdx); InternalSnap.free(baseStore)
      deltaIdx.foreach(_.unpersist()); deltaStore.foreach(_.unpersist())
      deltaIdx = Vector.empty; deltaStore = Vector.empty
      baseIdx = emptyIdx; baseStore = emptyStore
    }
  }

  /** DmlCatalog-backed store — the production substitution: both stores
    * are file-backed APPEND tables (parquet written executor-side through
    * the engine's DSv2 write path), so the accumulated state survives
    * operator/process restart, never rides the block manager, and needs
    * no `localCheckpoint` compaction (the table's file sets ARE the
    * lineage-free base; small-file pressure is the format's compaction
    * concern, amortized like any lakehouse ingest). The views are plain
    * table scans re-planned per step, so each batch sees everything
    * appended before it — including by a PREVIOUS incarnation of the
    * operator ([[AdmissionSpec]] pins restart-exactness).
    *
    * The step's broadcast frames are persisted for the duration of the
    * step only (endStep releases them) — the durable copy is the table.
    */
  final class TableStore(spark: SparkSession, catalog: String, prefix: String)
      extends Store {
    private val idxT = s"$catalog.${prefix}_idx"
    private val shT = s"$catalog.${prefix}_sh"

    override def append(bands: DataFrame, sh: DataFrame): Unit = {
      bands.persist().count(); sh.persist().count()
      ensure(idxT, bands); ensure(shT, sh)
      bands.writeTo(idxT).append()
      sh.writeTo(shT).append()
    }
    private def ensure(t: String, shaped: DataFrame): Unit =
      if (!spark.catalog.tableExists(t))
        shaped.limit(0).writeTo(t).create()
    override def idxView: DataFrame = spark.table(idxT)
    override def shView: DataFrame = spark.table(shT)
    override def endStep(bands: DataFrame, sh: DataFrame): Unit = {
      bands.unpersist(); sh.unpersist()
    }
  }

  /** Convenience: register the [[graft.sources.DmlCatalog]] under
    * `catalog` (idempotent) and return a table-backed store with fresh or
    * resumable tables `prefix`_idx / `prefix`_sh.
    */
  def tableStore(spark: SparkSession, catalog: String, prefix: String): Store = {
    spark.conf.set(s"spark.sql.catalog.$catalog",
      classOf[graft.sources.DmlCatalog].getName)
    new TableStore(spark, catalog, prefix)
  }
}
