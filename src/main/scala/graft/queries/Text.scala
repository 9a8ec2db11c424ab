package graft.queries

import graft.{QDef, QModule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalSnap

/** Text-analysis operators for the training-data pipeline (builder brief /
  * SURVEY.md §7.5): quality scoring, language-ID heuristic, token
  * counting, document fingerprinting. All pure per-row projections +
  * one aggregation — embarrassingly parallel, no shuffle except final
  * groupBys; ratios are int/int double divisions so results are exact and
  * engine-independent.
  */
object Text extends QModule {

  private val stopCondSpark = "x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'"
  private val stopCondDuck = "x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and'"

  val qTextQuality = QDef(
    "q_text_quality",
    (s, d) => t(s, d, "documents")
      .withColumn("w", split(col("text"), " "))
      .selectExpr(
        "doc_id",
        "size(w) AS n_words",
        "length(text) AS len",
        "(length(text) - (size(w) - 1)) / size(w) AS avg_wlen",
        s"size(filter(w, $stopCondSpark)) / size(w) AS stop_ratio",
        "size(array_distinct(w)) / size(w) AS ttr",
        s"2.0 * (size(filter(w, $stopCondSpark)) / size(w)) " +
          "+ 0.1 * ((length(text) - (size(w) - 1)) / size(w)) " +
          "+ (size(array_distinct(w)) / size(w)) AS quality"),
    Some(s"""
      SELECT doc_id,
        CAST(len(w) AS INTEGER) AS n_words,
        CAST(length(text) AS INTEGER) AS len,
        (length(text) - (len(w) - 1)) / len(w) AS avg_wlen,
        len(list_filter(w, $stopCondDuck)) / len(w) AS stop_ratio,
        len(list_distinct(w)) / len(w) AS ttr,
        2.0 * (len(list_filter(w, $stopCondDuck)) / len(w))
          + 0.1 * ((length(text) - (len(w) - 1)) / len(w))
          + (len(list_distinct(w)) / len(w)) AS quality
      FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)"""),
    bench = true)

  /** N-gram-marker language ID: hit counts against per-language marker
    * sets, argmax with a fixed precedence. (The fixture vocabulary is
    * English-ish for every labeled lang, so the interesting part is the
    * deterministic scoring, not the labels.)
    */
  val qTextLangid = QDef(
    "q_text_langid",
    (s, d) => t(s, d, "documents")
      .withColumn("w", split(col("text"), " "))
      .selectExpr(
        "doc_id",
        s"size(filter(w, $stopCondSpark)) AS en_hits",
        s"CASE WHEN size(filter(w, $stopCondSpark)) > 0 THEN 'en' ELSE 'und' END AS guess",
        s"(CASE WHEN size(filter(w, $stopCondSpark)) > 0 THEN 'en' ELSE 'und' END) = lang AS agree"),
    Some(s"""
      SELECT doc_id,
        CAST(len(list_filter(w, $stopCondDuck)) AS INTEGER) AS en_hits,
        CASE WHEN len(list_filter(w, $stopCondDuck)) > 0 THEN 'en' ELSE 'und' END AS guess,
        (CASE WHEN len(list_filter(w, $stopCondDuck)) > 0 THEN 'en' ELSE 'und' END) = lang AS agree
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)"""))

  val qTextTokens = QDef(
    "q_text_tokens",
    (s, d) => t(s, d, "documents").selectExpr(
      "doc_id",
      "size(split(text, ' ')) AS n_ws",
      "size(regexp_extract_all(text, '[a-z0-9]+', 0)) AS n_re",
      "CAST(ceil(length(text) / CAST(4 AS DOUBLE)) AS BIGINT) AS bpe_est"),
    Some("""
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
        CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INTEGER) AS n_re,
        CAST(ceil(length(text) / CAST(4 AS DOUBLE)) AS BIGINT) AS bpe_est
      FROM documents"""))

  /** Normalized-content fingerprint (the canonical pre-dedup step). */
  val qTextFprint = QDef(
    "q_text_fprint",
    (s, d) => t(s, d, "documents").selectExpr(
      "doc_id",
      "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' +', ' '))) AS fp"),
    Some("""
      SELECT doc_id,
        md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
      FROM documents"""))

  /** Rolling polynomial hash over the token stream — an ordered fold
    * (Spark `aggregate`), which DuckDB SQL can't express positionally, so
    * it's rows-only for the driver; the ScalaTest spec pins exact values.
    */
  /** Ordered polynomial rolling hash over the word sequence. DuckDB 1.0's
    * list_reduce folds left using the FIRST element as the accumulator, so
    * the oracle prepends the 0 seed and pre-maps each word to its
    * contribution — the recurrence (acc*31 + c) % M is then identical.
    * (rows-only until round 4; upgraded once the fold proved expressible.)
    */
  val qTextRollhash = QDef(
    "q_text_rollhash",
    (s, d) => t(s, d, "documents").selectExpr(
      "doc_id",
      "aggregate(split(text, ' '), 0L, (acc, x) -> " +
        "(acc * 31 + length(x) * 7 + ascii(substring(x, 1, 1))) % 1000000007) AS rh"),
    Some("""
      SELECT doc_id,
        CAST(list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split(text, ' '),
              x -> CAST(length(x) * 7 + ascii(substring(x, 1, 1)) AS BIGINT))),
          (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS rh
      FROM documents"""))

  /** Duplicate-trigram repetition ratio — the Gopher/C4-style quality
    * filter ("fraction of repeated n-grams") as a pure per-row projection:
    * positional trigrams via a codegen'd transform over an index sequence,
    * then distinct/total. No shuffle at all; at 100 TB this runs at scan
    * speed. Spark indexes arrays 0-based, DuckDB 1-based — split texts.
    */
  private val triSpark =
    "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
  private val triDuck =
    "list_transform(range(1, len(w) - 1), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"

  val qTextRepetition = QDef(
    "q_text_repetition",
    (s, d) => {
      graft.Tables.register(s, d)
      s.sql(s"""
        SELECT doc_id,
          CASE WHEN size(w) >= 3 THEN size(w) - 2 ELSE 0 END AS n_grams,
          CASE WHEN size(w) >= 3 THEN size(array_distinct($triSpark)) ELSE 0 END AS distinct_grams,
          CASE WHEN size(w) >= 3
               THEN 1.0 - size(array_distinct($triSpark)) / (size(w) - 2)
               ELSE 0.0 END AS dup_ratio
        FROM (SELECT doc_id, split(text, ' ') AS w FROM documents)""")
    },
    Some(s"""
      SELECT doc_id,
        CAST(CASE WHEN len(w) >= 3 THEN len(w) - 2 ELSE 0 END AS INTEGER) AS n_grams,
        CAST(CASE WHEN len(w) >= 3 THEN len(list_distinct($triDuck)) ELSE 0 END AS INTEGER) AS distinct_grams,
        CASE WHEN len(w) >= 3
             THEN 1.0 - len(list_distinct($triDuck)) / (len(w) - 2)
             ELSE 0.0 END AS dup_ratio
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)"""))

  /** Corpus-level n-gram frequencies — the decontamination/overlap-check
    * primitive (count every trigram across the corpus, rank the heaviest).
    * Explode multiplies rows ~×n_words, but partial aggregation combines
    * map-side so the shuffle carries one row per DISTINCT gram per
    * partition, and the final top-k is a TakeOrderedAndProject. Ties break
    * on the gram text — deterministic at any parallelism.
    */
  private val ngramFreqSpark = s"""
      SELECT gram, COUNT(*) AS n FROM (
        SELECT explode($triSpark) AS gram
        FROM (SELECT split(text, ' ') AS w FROM documents)
        WHERE size(w) >= 3)
      GROUP BY gram ORDER BY n DESC, gram LIMIT 20"""
  val qTextNgramFreq = QDef(
    "q_text_ngramfreq",
    sqlQ(ngramFreqSpark),
    Some(s"""
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT unnest($triDuck) AS gram
        FROM (SELECT string_split(text, ' ') AS w FROM documents)
        WHERE len(w) >= 3)
      GROUP BY gram ORDER BY n DESC, gram LIMIT 20"""))

  /** Context-window chunking: split each document into fixed 200-char
    * windows with stride 150 (50-char overlap) — the training-data
    * pre-tokenization chunker. One generator per doc (`sequence` →
    * `explode`), no shuffle at all: chunk count is derived from the
    * stored n_chars, and the substring runs where the row already lives.
    * At 100 TB this is a pure map stage — output partitioning follows
    * input file splits. DuckDB mirrors with half-open `range` + UNNEST.
    */
  val qTextChunks = QDef(
    "q_text_chunks",
    (s, d) => {
      graft.Tables.register(s, d)
      s.sql("""
        SELECT doc_id, chunk_id,
               substring(text, chunk_id * 150 + 1, 200) AS chunk,
               CAST(length(substring(text, chunk_id * 150 + 1, 200)) AS INT) AS chunk_len
        FROM (SELECT doc_id, text,
                     explode(sequence(0, CAST(CEIL(n_chars / 150.0) AS INT) - 1)) AS chunk_id
              FROM documents
              WHERE n_chars > 0) x""")
        // WHERE n_chars > 0: an empty doc would make the sequence bound -1
        // and Spark's sequence(0, -1) DESCENDS; the oracle's half-open
        // range(0, 0) is empty, so both sides must skip empty docs.
    },
    Some("""
      SELECT doc_id, CAST(g AS INT) AS chunk_id,
             substring(text, CAST(g AS INT) * 150 + 1, 200) AS chunk,
             CAST(length(substring(text, CAST(g AS INT) * 150 + 1, 200)) AS INT) AS chunk_len
      FROM documents, UNNEST(range(0, CAST(CEIL(n_chars / 150.0) AS BIGINT))) AS t(g)"""))

  /** Sequence packing (concat-then-chunk): assign each document its bin
    * span in fixed 512-token training sequences, packing per language in
    * a deterministic md5 order — the standard pretraining batch-packing
    * layout (documents may straddle bin boundaries; first_bin/last_bin/
    * bin_offset describe the placement). The running total is an exact
    * BIGINT window sum partitioned BY LANG, so packing parallelizes
    * across languages; a single dominant stratum falls back to the
    * two-pass per-partition-offset idiom (see q_win_ntile_dist).
    * Shared Spark∩DuckDB dialect.
    */
  private val packSql = """
      WITH toks AS (
        SELECT doc_id, lang,
               CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok
        FROM documents),
      cum AS (
        SELECT doc_id, lang, n_tok,
               COALESCE(SUM(n_tok) OVER (PARTITION BY lang
                                         ORDER BY md5(CAST(doc_id AS STRING)), doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM toks)
      SELECT doc_id, lang, n_tok,
             CAST(FLOOR(CAST(cum_before AS DOUBLE) / 512.0) AS BIGINT) AS first_bin,
             CAST(FLOOR(CAST(cum_before + n_tok - 1 AS DOUBLE) / 512.0) AS BIGINT) AS last_bin,
             CAST(cum_before % 512 AS BIGINT) AS bin_offset
      FROM cum"""
  val qTextPack = QDef("q_text_pack", sqlQ(packSql), Some(packSql))

  /** Benchmark decontamination: which corpus documents share any 5-gram
    * with the "benchmark" set (docs 0–19 stand in for a held-out eval
    * suite) — the GPT-3-style n-gram overlap check. The benchmark gram
    * set is small (broadcast side of a semi-ish join); the corpus grams
    * partial-aggregate per doc before the count, so the shuffle carries
    * (doc, matched-gram) pairs only for actual overlaps. At 100 TB the
    * bench-gram table stays broadcastable (eval suites are tiny) — the
    * corpus is never self-joined.
    */
  private val fiveSpark =
    "transform(sequence(0, size(w) - 5), i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))"
  private val fiveDuck =
    "list_transform(range(1, len(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))"
  val qTextDecontam = QDef(
    "q_text_decontam",
    (s, d) => {
      graft.Tables.register(s, d)
      s.sql(s"""
        WITH grams AS (
          SELECT doc_id, explode($fiveSpark) AS g
          FROM (SELECT doc_id, split(text, ' ') AS w FROM documents)
          WHERE size(w) >= 5),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
        corpus AS (SELECT doc_id, g FROM grams WHERE doc_id >= 20)
        SELECT doc_id, COUNT(DISTINCT c.g) AS n_shared
        FROM corpus c JOIN bench b ON c.g = b.g
        GROUP BY doc_id ORDER BY doc_id""")
    },
    Some(s"""
      WITH grams AS (
        SELECT doc_id, unnest($fiveDuck) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        WHERE len(w) >= 5),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
      corpus AS (SELECT doc_id, g FROM grams WHERE doc_id >= 20)
      SELECT doc_id, CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_shared
      FROM corpus c JOIN bench b ON c.g = b.g
      GROUP BY doc_id ORDER BY doc_id"""))

  /** PII redaction: email → <EMAIL>, US-phone (3-3-4) → <PHONE>,
    * SSN (3-2-4) → <SSN>, chained regexp_replace — a pure projection, so
    * scrubbing 100 TB costs one scan with no shuffle at all. The fixture
    * corpus is synthetic word salad with no PII by construction
    * (FIXTURES.md), so the patterns are exercised on literal rows where
    * every match/non-match case is visible: hit, multi-hit, near-miss
    * (3-2-4 vs 3-3-4), an EMBEDDED match ('1234-567-8901' redacts its
    * tail — the patterns carry no word boundaries, erring toward
    * over-redaction, the right default for PII), and clean text.
    * Patterns use bracket classes only — no backslash escapes, which
    * Spark and DuckDB string literals treat differently; DuckDB needs
    * the 'g' flag Spark implies.
    */
  private def redactSql(dialect: String): String = {
    val g = dialect match { case "spark" => ""; case _ => ", 'g'" }
    s"""
      SELECT id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(s,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}', '<EMAIL>'$g),
                 '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>'$g),
               '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>'$g) AS clean
      FROM (VALUES (1, 'contact bob@mail.example or 555-123-4567 anytime'),
                   (2, 'ssn 123-45-6789 stays private; alt 999-88-7777 too'),
                   (3, 'order 12-345-678 is not a phone, 1234-567-8901 almost'),
                   (4, 'no pii here at all')) t(id, s)
      ORDER BY id"""
  }
  val qTextRedact = QDef(
    "q_text_redact",
    sqlQ(redactSql("spark")),
    Some(redactSql("duck")))

  /** Corpus n-gram LM quality score — each document's mean trigram
    * log-frequency under the corpus's own trigram counts (the KenLM-style
    * fluency filter, self-trained). Each gram contributes its INTEGER
    * log2 bucket `FLOOR(LOG2(c))`: for integer c, log2 is either exact (a
    * power of two) or at least 1/(c·ln2) away from the nearest integer —
    * orders of magnitude beyond double rounding for any c < 2^53 — so the
    * bucket can NEVER flip between engines, unlike a fixed-point
    * quantization of ln(c/n), where a 1-ulp transcendental difference
    * near a quantization boundary could. The per-doc sum of BIGINT
    * buckets is exact and merge-order independent; `score_mb` is the mean
    * bucket in millibits relative to the corpus-size bucket (all-integer
    * arithmetic on positive operands, so DIV and // agree).
    * Scale: grams partial-aggregate into the freq table; the score join
    * shuffles on the gram key (a production deployment would broadcast a
    * top-K-pruned LM instead — same plan shape, smaller build side); the
    * 1-row total broadcasts. The corpus is never self-joined row-wise.
    */
  private def lmScoreSql(dialect: String): String = {
    val (grams, cnt, idiv) = dialect match {
      case "spark" => (s"explode($triSpark)", "COUNT(*)", "DIV")
      case _       => (s"unnest($triDuck)", "CAST(COUNT(*) AS BIGINT)", "//")
    }
    s"""
      WITH grams AS (
        SELECT doc_id, $grams AS g
        FROM (SELECT doc_id, ${if (dialect == "spark") "split" else "string_split"}(text, ' ') AS w FROM documents)
        WHERE ${if (dialect == "spark") "size" else "len"}(w) >= 3),
      freq AS (
        SELECT g, $cnt AS c FROM grams GROUP BY g),
      tot AS (
        -- corpus gram total from the ALREADY-AGGREGATED freq table
        -- (SUM of per-gram counts), not a third scan+explode of the corpus
        SELECT CAST(FLOOR(LOG2(CAST(SUM(c) AS DOUBLE))) AS BIGINT) AS corpus_lb
        FROM freq)
      SELECT doc_id, $cnt AS n_grams,
             CAST(SUM(CAST(FLOOR(LOG2(CAST(c AS DOUBLE))) AS BIGINT)) AS BIGINT) AS lb_sum,
             CAST((CAST(SUM(CAST(FLOOR(LOG2(CAST(c AS DOUBLE))) AS BIGINT)) AS BIGINT) * 1000)
                    $idiv ($cnt) - 1000 * corpus_lb AS BIGINT) AS score_mb
      FROM grams JOIN freq USING (g) CROSS JOIN tot
      GROUP BY doc_id, corpus_lb"""
  }
  val qTextLmScore = QDef(
    "q_text_lmscore",
    sqlQ(lmScoreSql("spark")),
    Some(lmScoreSql("duck")))

  /** Deterministic epoch shuffle + sharding — the training-data ordering
    * primitive: a pure md5 key of (epoch, doc_id) gives every engine,
    * retry, and cluster size the same pseudorandom order; the first hex
    * digit shards into 16 output buckets, and the position within each
    * shard is a per-shard window (shards scale with the cluster; same
    * two-pass fallback note as q_text_pack if one shard dominated).
    */
  private def shuffleSql(dialect: String): String = {
    val (pos, str) = dialect match {
      case "spark" => ("instr", "STRING")
      case _       => ("strpos", "VARCHAR")
    }
    s"""
      WITH keyed AS (
        SELECT doc_id, md5(CONCAT('epoch7:', CAST(doc_id AS $str))) AS k
        FROM documents)
      SELECT doc_id, k,
             CAST($pos('0123456789abcdef', substring(k, 1, 1)) - 1 AS INT) AS shard,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY substring(k, 1, 1) ORDER BY k, doc_id) AS BIGINT) AS pos_in_shard
      FROM keyed"""
  }
  val qTextShuffle = QDef(
    "q_text_shuffle",
    sqlQ(shuffleSql("spark")),
    Some(shuffleSql("duck")))

  /** Intra-document repetition removal — keep each word's FIRST
    * occurrence and rebuild the text in original order (the line/
    * boilerplate dedup step of a C4-style cleaner, at word grain since
    * the fixture has no newlines). Grouping is per-document, so the
    * shuffle key is doc_id and state is bounded by document length;
    * the ordered rebuild is listagg WITHIN GROUP on the first-position
    * key. Spark posexplode is 0-based, DuckDB indexes 1-based — the
    * +1 alignment keeps the order keys identical.
    */
  private val dedupLinesSpark = """
      WITH w AS (
        SELECT doc_id, pos + 1 AS pos, word
        FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents)
        LATERAL VIEW posexplode(ws) t AS pos, word),
      firsts AS (
        SELECT doc_id, word, MIN(pos) AS p FROM w GROUP BY doc_id, word)
      SELECT doc_id, COUNT(*) AS n_kept,
             LISTAGG(word, ' ') WITHIN GROUP (ORDER BY p) AS dedup_text
      FROM firsts GROUP BY doc_id"""
  private val dedupLinesDuck = """
      WITH w AS (
        SELECT doc_id, CAST(g AS INT) AS pos, ws[CAST(g AS INT)] AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             UNNEST(range(1, len(ws) + 1)) AS t(g)),
      firsts AS (
        SELECT doc_id, word, MIN(pos) AS p FROM w GROUP BY doc_id, word)
      SELECT doc_id, COUNT(*) AS n_kept,
             STRING_AGG(word, ' ' ORDER BY p) AS dedup_text
      FROM firsts GROUP BY doc_id"""
  val qTextDedupLines = QDef(
    "q_text_deduplines",
    sqlQ(dedupLinesSpark),
    Some(dedupLinesDuck))

  /** Per-document top terms by df-normalized term frequency (tf/df — the
    * tf-idf ranking with a 1/df weight, monotone in rarity like idf but
    * free of engine-specific `ln` rounding, so the oracle compare is
    * exact: tf and df are ints and one IEEE division is correctly rounded
    * identically in both engines). Ties break on the term text.
    *
    * Scale (100 TB): the corpus is exploded ONCE — tf is one map-side-
    * combinable shuffle of (doc_id, term), and df comes from a
    * term-partitioned COUNT window over that SAME aggregate (one row per
    * (doc, term) per term-partition = document frequency), not from a
    * second aggregate whose CTE consumer re-explodes the corpus. At ×10
    * the wall-clock gain is modest (3.8 s vs 4.05 s — the (doc, term)
    * aggregate and the two differently-keyed exchanges dominate at this
    * size, in any engine), but the scan count halves: at 100 TB the
    * second corpus pass is the cost that matters, not the vocab shuffle.
    * The final top-3 window partitions per doc with WindowGroupLimit
    * pushing the rank cut below the exchange.
    * No text is shuffled after the explode — terms ride as keys.
    */
  private def tfidfSql(dialect: String): String = {
    val wordsRel = dialect match {
      case "spark" => "SELECT doc_id, explode(split(lower(text), ' ')) AS term FROM documents"
      case _       => "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents"
    }
    s"""
      WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
                  FROM ($wordsRel) WHERE term <> '' GROUP BY doc_id, term),
      wdf AS (SELECT doc_id, term, tf,
                COUNT(*) OVER (PARTITION BY term) AS df
              FROM tf),
      ranked AS (SELECT doc_id, term, tf, df,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY CAST(tf AS DOUBLE) / df DESC, term) AS rn
                 FROM wdf)
      SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
             CAST(rn AS INT) AS rn
      FROM ranked WHERE rn <= 3"""
  }

  val qTextTfidf = QDef(
    "q_text_tfidf",
    sqlQ(tfidfSql("spark")),
    Some(tfidfSql("duck")))

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", public): score every
    * document by how much more likely its unigrams are under a TARGET
    * domain (here: the `lang = 'en'` slice) than under the whole-corpus
    * background, and keep the top quarter. The per-token weight is
    * `log p_tgt(w) − log p_bg(w)`; each log runs through the same
    * flip-proof INTEGER log2 bucket as [[qTextLmScore]] (add-one
    * smoothed), so the per-doc sum is exact BIGINT arithmetic and the
    * only doubles are two correctly-rounded single divisions mirrored on
    * both engines. `llr_bits` is the mean per-token bucket difference
    * normalized by the corpus-size buckets; `keep` marks the top-25%
    * ranked by (llr_bits, doc_id).
    *
    * Scale (100 TB): ONE corpus explode → one map-side-combinable
    * (doc, term) aggregate; the target/background frequencies come from
    * a term-partitioned window over that SAME relation (the tfidf
    * lesson — no second freq aggregate whose CTE consumer re-explodes
    * the corpus), so the whole plan is a single linear chain with one
    * fact scan. The global totals and the rank run at DOC grain (tiny).
    * Production DSIR hashes n-grams into a fixed-width bucket space to
    * bound the "vocab" — same plan, the term key becomes a hash bucket;
    * and the top-k cut would use an approx-quantile threshold instead
    * of a global rank when doc count outgrows one partition's sort.
    */
  /** The DSIR scoring chain as a reusable WITH-body (tf → wf → scored →
    * totals → llr → ranked, `lang` carried through) — shared by
    * [[qTextDsir]] and the training-mix flagship
    * ([[Pipeline.qPipelineMix]]) so the selection semantics are pinned
    * in exactly one place.
    */
  private val lb = (e: String) => s"CAST(FLOOR(LOG2(CAST($e AS DOUBLE))) AS BIGINT)"

  /** tf → wf → scored: the single-corpus-pass part of the DSIR chain,
    * shared by the Spark builder ([[dsirRanked]]) and the DuckDB oracle
    * text ([[dsirCtes]]).
    */
  private[queries] def dsirScoredCtes(dialect: String): String = {
    val wordsRel = dialect match {
      case "spark" => "SELECT doc_id, lang, explode(split(lower(text), ' ')) AS w FROM documents"
      case _       => "SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w FROM documents"
    }
    s"""tf AS (SELECT doc_id, lang, w, COUNT(*) AS c
                  FROM ($wordsRel) g WHERE w <> '' GROUP BY doc_id, lang, w),
      wf AS (SELECT doc_id, lang, c,
                    SUM(c) OVER (PARTITION BY w) AS cb,
                    SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) OVER (PARTITION BY w) AS ct
             FROM tf),
      scored AS (SELECT doc_id, lang,
                        CAST(SUM(c) AS BIGINT) AS n_grams,
                        CAST(SUM(c * (${lb("ct + 1")} - ${lb("cb + 1")})) AS BIGINT) AS lb_diff
                 FROM wf GROUP BY doc_id, lang)"""
  }

  private[queries] def dsirCtes(dialect: String): String = {
    s"""${dsirScoredCtes(dialect)},
      totals AS (SELECT doc_id, lang, n_grams, lb_diff,
                        CAST(SUM(n_grams) OVER () AS BIGINT) AS nb,
                        CAST(SUM(CASE WHEN lang = 'en' THEN n_grams ELSE 0 END) OVER () AS BIGINT) AS nt
                 FROM scored),
      llr AS (SELECT doc_id, lang, n_grams,
                     CAST(lb_diff AS DOUBLE) / n_grams - (${lb("nt")} - ${lb("nb")}) AS llr_bits
              FROM totals),
      ranked AS (SELECT doc_id, lang, n_grams, llr_bits,
                        ROW_NUMBER() OVER (ORDER BY llr_bits DESC, doc_id) AS rn,
                        COUNT(*) OVER () AS n_docs
                 FROM llr)"""
  }

  /** The DSIR `ranked` relation — (doc_id, lang, n_grams, llr_bits, rn,
    * n_docs) — built WITHOUT global single-partition windows (r12;
    * VERDICT r11 #3). The oracle keeps the `OVER ()` / global-ROW_NUMBER
    * text ([[dsirCtes]], semantically identical); the Spark side:
    *
    *   - `scored` (doc grain — the §8 "lightweight proxy" of the corpus)
    *     localCheckpoints once: it feeds the corpus totals AND the main
    *     chain, which otherwise re-runs the corpus explode per consumer;
    *   - corpus totals (nb, nt, n_docs) are a 1-row aggregate broadcast
    *     back (was `SUM(…) OVER ()` — every doc row through ONE task);
    *   - the global rank is [[graft.operators.GlobalOrder.rowNumber]]
    *     (range-partitioned two-pass) instead of an unpartitioned
    *     ROW_NUMBER window.
    *
    * Consumed by q_text_dsir and q_pipeline_mix — selection semantics
    * stay pinned in exactly one place.
    */
  private[queries] def dsirRanked(s: SparkSession, d: String): DataFrame = {
    graft.Tables.register(s, d)
    val scored = InternalSnap.snap(s.sql(
      s"WITH ${dsirScoredCtes("spark")} SELECT * FROM scored"))
    val totals = scored.agg(
      sum("n_grams").cast("long").as("nb"),
      sum(when(col("lang") === "en", col("n_grams")).otherwise(0L))
        .cast("long").as("nt"),
      count(lit(1)).as("n_docs"))
    val llr = scored.crossJoin(broadcast(totals))
      .selectExpr("doc_id", "lang", "n_grams",
        s"CAST(lb_diff AS DOUBLE) / n_grams - (${lb("nt")} - ${lb("nb")}) AS llr_bits",
        "n_docs")
    graft.operators.GlobalOrder.rowNumber(
      llr, Seq(col("llr_bits").desc, col("doc_id")), "rn")
  }

  private def dsirDuckSql: String = s"""
      WITH ${dsirCtes("duck")}
      SELECT doc_id, n_grams, llr_bits, CAST(rn AS BIGINT) AS rn,
             CAST(CASE WHEN rn * 4 <= n_docs THEN 1 ELSE 0 END AS INT) AS keep
      FROM ranked"""
  val qTextDsir = QDef(
    "q_text_dsir",
    (s, d) => dsirRanked(s, d).selectExpr(
      "doc_id", "n_grams", "llr_bits", "CAST(rn AS BIGINT) AS rn",
      "CAST(CASE WHEN rn * 4 <= n_docs THEN 1 ELSE 0 END AS INT) AS keep"),
    Some(dsirDuckSql),
    bench = true)

  /** BM25 relevance scoring against a fixed 3-term query (Robertson-style
    * with the Lucene-variant IDF ln(1 + (N−df+0.5)/(df+0.5)); k1 = 1.2,
    * b = 0.75) — retrieval-based topic/quality filtering, the standard
    * "keep documents relevant to a target domain" curation op.
    *
    * Scale shape: ONE corpus pass computes per-doc term frequencies with
    * array primitives (`filter(w, …)` — no explode, no UDF, stays in
    * whole-stage codegen); corpus statistics (N, Σdl, per-term df) are a
    * broadcast 1-row aggregate; the score is a FIXED-ORDER arithmetic
    * expression over exact integers (per-term components added left to
    * right, every constant cast to DOUBLE in both dialects). IEEE-754
    * pins every +,·,/ bit-exactly, but `ln` is only faithfully rounded
    * and java.lang.Math.log and libm disagree in the last ulp — so the
    * emitted (and ordered-by) score is rounded to 6 decimals, which both
    * engines compute identically away from rounding-boundary values.
    */
  private def bm25Sql(dialect: String): String = {
    val (len_, filter_, split_) = dialect match {
      case "spark" => ("size", "filter", "split")
      case _       => ("len", "list_filter", "string_split")
    }
    val terms = Seq("spark", "query", "join")
    def dbl(x: String) = s"CAST($x AS DOUBLE)"
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"CAST($len_($filter_(w, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(", ")
    val dfCols = terms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(", ")
    val comps = terms.indices.map { i =>
      s"(ln(${dbl("1")} + (n - df$i + ${dbl("0.5")}) / (df$i + ${dbl("0.5")})) " +
        s"* (tf$i * ${dbl("2.2")}) " +
        s"/ (tf$i + ${dbl("1.2")} * (${dbl("0.25")} + ${dbl("0.75")} " +
        s"* (${dbl("dl * n")} / sumdl))))"
    }.mkString(" + ")
    s"""
      WITH docs AS (SELECT doc_id, $split_(text, ' ') AS w FROM documents),
      tf AS (SELECT doc_id, CAST($len_(w) AS BIGINT) AS dl, $tfCols FROM docs),
      stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(dl) AS BIGINT) AS sumdl, $dfCols
                FROM tf)
      SELECT doc_id, dl, ROUND($comps, 6) AS bm25
      FROM tf CROSS JOIN stats
      ORDER BY bm25 DESC, doc_id
      LIMIT 20"""
  }
  val qTextBm25 = QDef(
    "q_text_bm25",
    sqlQ(bm25Sql("spark")),
    Some(bm25Sql("duck")))

  /** Out-of-fold Naive-Bayes classification — the seed-classifier shape
    * of model-based curation (train a cheap classifier on labeled seed
    * docs, score the corpus with it): multinomial NB with add-one
    * smoothing is TRAINED on the md5-split train docs (the exact split
    * of q_stat_split, so train/score never overlap) and SCORES the test
    * docs, predicting `lang` per doc by argmax.
    *
    * Every quantity is an exact integer: per-(class, term) counts,
    * per-class token totals, doc-count priors, and the vocabulary size
    * are COUNTs; each log factor enters as its flip-proof FLOOR(LOG2)
    * bucket (the q_text_lmscore argument: for integer x, log2 is exact
    * or >= 1/(x*ln2) from the nearest integer, so the bucket can never
    * flip between engines), and the doc score is
    *   bucket(D_c) + sum_w cnt_w * bucket(C_cw + 1) - n_d * bucket(T_c + V)
    * — a BIGINT. Argmax ties break on the class name, so the prediction
    * is fully deterministic. Scale (100 TB): training is one corpus
    * pass (map-side-combinable (class, term) counts); scoring joins
    * test tokens to the model on the term key and meets each of the L
    * classes once per distinct doc term — a production deployment
    * prunes the model to top-K terms and broadcasts it, same plan
    * shape. The whole train+score pipeline is ONE declarative plan.
    *
    * The fixture's `lang` labels are text-INDEPENDENT (every lang draws
    * from the same synthetic vocabulary — measured: full-precision NB
    * lands at chance level too), so fixture accuracy is meaningless by
    * construction; the oracle gate pins the exact train/score
    * arithmetic, and `CurationSpec` proves the classifier LEARNS —
    * planted per-class vocabularies are recovered at 100% out-of-fold
    * accuracy.
    */
  private def nbayesSql(dialect: String): String = {
    val (pos, ex) = dialect match {
      case "spark" => ("instr", "explode")
      case _       => ("strpos", "unnest")
    }
    val split_ = dialect match { case "spark" => "split"; case _ => "string_split" }
    val hexDig = (i: Int) =>
      s"($pos('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), $i, 1)) - 1)"
    def bkt(x: String) = s"CAST(FLOOR(LOG2(CAST($x AS DOUBLE))) AS BIGINT)"
    s"""
      WITH tagged AS (
        SELECT doc_id, lang, text, 16 * ${hexDig(1)} + ${hexDig(2)} AS h
        FROM documents),
      ttok AS (
        SELECT lang, $ex($split_(lower(text), ' ')) AS w FROM tagged WHERE h < 205),
      cw AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM ttok GROUP BY lang, w),
      tc AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM cw GROUP BY lang),
      dc AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS dn FROM tagged WHERE h < 205 GROUP BY lang),
      vb AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM ttok),
      qt AS (
        SELECT doc_id, true_lang, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
          SELECT doc_id, lang AS true_lang, $ex($split_(lower(text), ' ')) AS w
          FROM tagged WHERE h >= 230)
        GROUP BY doc_id, true_lang, w),
      sc AS (
        SELECT qt.doc_id, qt.true_lang, tc.lang AS cand,
               CAST(MIN(${bkt("dc.dn")})
                 + SUM(qt.cnt * ${bkt("COALESCE(cw.c, 0) + 1")})
                 - SUM(qt.cnt) * MIN(${bkt("tc.t + vb.v")}) AS BIGINT) AS score_bits
        FROM qt CROSS JOIN tc CROSS JOIN vb
        JOIN dc ON dc.lang = tc.lang
        LEFT JOIN cw ON cw.lang = tc.lang AND cw.w = qt.w
        GROUP BY qt.doc_id, qt.true_lang, tc.lang)
      SELECT doc_id, true_lang, cand AS pred_lang, score_bits,
             CAST(CASE WHEN cand = true_lang THEN 1 ELSE 0 END AS INT) AS hit
      FROM (SELECT sc.*, ROW_NUMBER() OVER (
              PARTITION BY doc_id ORDER BY score_bits DESC, cand) AS rk FROM sc)
      WHERE rk = 1"""
  }
  val qTextNbayes = QDef(
    "q_text_nbayes",
    sqlQ(nbayesSql("spark")),
    Some(nbayesSql("duck")))

  val defs: Seq[QDef] = Seq(
    qTextQuality, qTextLangid, qTextTokens, qTextFprint, qTextRollhash,
    qTextRepetition, qTextNgramFreq, qTextChunks, qTextPack, qTextDecontam,
    qTextRedact, qTextLmScore, qTextShuffle, qTextDedupLines, qTextTfidf,
    qTextDsir, qTextBm25, qTextNbayes)
}

