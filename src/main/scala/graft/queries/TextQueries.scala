package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables._
import graft.ops.{Dedup, Graph, Text}
import graft.functions.RollingHash.rolling_hash
import graft.functions.SimHash64.simhash64

/** Text-analysis + deduplication surface (SURVEY §2b E1/E2/E4 and the
  * training-data-pipeline operators). All oracle queries stick to
  * engine-portable arithmetic: integer counts, exact rationals, md5.
  */
object TextQueries {

  /** Documents with distinct 3-word shingles, fanned out and CACHED.
    *
    * The cache is load-bearing twice over, not an optimization garnish:
    * (1) the posting lists of every jaccardPairs call (and the LSH
    * signature pass) read it — without the barrier each consumer
    * recomputes the shingling;
    * (2) Catalyst's InferFiltersFromGenerate pushes a `size(sh)>0` filter
    * through the repartition to the scan with the WHOLE interpreted
    * higher-order shingle expression inlined (~4× per row, single input
    * split — measured 11 s at sf0.1). Caching materializes `sh` once,
    * post-fan-out, and downstream filters hit the column, not the
    * expression. At 100 TB the same shape persists to disk instead
    * (StorageLevel.DISK_ONLY) — the principle (materialize once, join
    * many) is unchanged. */
  private[queries] def shingledDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    fanOut(s, documents(s, d))
      .withColumn("sh", array_distinct(Text.shingles(Text.tokens(col("text")), 3)))
      .select("doc_id", "lang", "sh")
      .cache()


  /** Lang-blocked exact Jaccard pairs over [[shingledDocs]], CACHED: four
    * queries consume this pair list (near top-k, minhash + simhash
    * verdict ground truth, cluster edges) — identical plans share one
    * CacheManager entry, so the Σ df² pair generation runs once per
    * session instead of once per query. Same 100 TB shape as the shingle
    * cache: persist the pair list once, fan consumers out from it. */
  private def jacPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    Dedup.jaccardPairs(shingledDocs(s, d), "doc_id", "sh", Seq("lang"))
      .cache()

  /** E1: exact dedup by normalized-content hash, first doc_id wins. */
  val dedupExact = QuerySpec(
    "q_dedup_exact",
    (s, d) =>
      Dedup.exact(documents(s, d), col("text"), col("doc_id"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
    Some("""
      -- the coalesce arm mirrors Dedup.exact's NULL contract: NULL
      -- content is MISSING, not duplicate — every NULL-text doc keeps
      -- its own partition key instead of collapsing to one survivor
      -- (hollow DegenGate; see ops/Dedup.scala:26)
      SELECT doc_id, lang, source, n_chars
      FROM (
        SELECT *, row_number() OVER (
                    PARTITION BY coalesce(md5(lower(trim(text))),
                                          '__null__' || CAST(doc_id AS VARCHAR))
                    ORDER BY doc_id) AS rn
        FROM documents
      )
      WHERE rn = 1
      ORDER BY doc_id
    """))

  /** E2 exact path: top-25 most-similar document pairs by 3-word-shingle
    * Jaccard, blocked by lang (the blocking key both bounds the O(n²) pair
    * space and mirrors a real dedup pipeline's partitioning), with the
    * HOT-SHINGLE DF CAP live (maxDf 8): a shingle that appears in more
    * than 8 docs of a block contributes no pairs (its posting list is
    * never materialized past 9 entries) — the skew guard that keeps
    * Σ df² bounded when one Zipf-head shingle shows up in millions of
    * docs. The cap binds at sf0.1 (max df 14), and the oracle replays
    * the same cap as a df-filtered posting self-join, so the jac values
    * agree even where the cap bites. Pairs sharing only capped shingles
    * never materialize on either side. */
  val dedupNear = QuerySpec(
    "q_dedup_near",
    (s, d) => {
      Dedup.jaccardPairs(shingledDocs(s, d), "doc_id", "sh", Seq("lang"),
          maxDf = Some(8))
        .select(col("lang"), col("id_a"), col("id_b"), col("jac"))
        .orderBy(col("jac").desc, col("id_a").asc, col("id_b").asc)
        .limit(25)
    },
    Some("""
      WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS sh
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      ),
      posts AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS s FROM sh),
      keep AS (SELECT lang, s FROM
                 (SELECT lang, s, count(*) AS df FROM posts GROUP BY 1, 2)
               WHERE df <= 8),
      fp AS (SELECT p.doc_id, p.lang, p.sz, p.s
             FROM posts p JOIN keep k ON k.lang = p.lang AND k.s = p.s),
      pr AS (SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
                    a.sz AS sz_a, b.sz AS sz_b, count(*) AS common
             FROM fp a JOIN fp b
               ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2, 3, 4, 5)
      SELECT lang, id_a, id_b,
             CAST(common AS DOUBLE) / CAST(sz_a + sz_b - common AS DOUBLE)
               AS jac
      FROM pr
      ORDER BY jac DESC, id_a ASC, id_b ASC
      LIMIT 25
    """))

  /** E2 prefix-filter path: ALL pairs with Jaccard ≥ 1/2, exact, via
    * AllPairs/PPJoin prefix filtering ([[graft.ops.Dedup.prefixJaccardPairs]])
    * — the exactness-preserving hot-shingle mitigation: only each doc's
    * |x| − ⌈|x|/2⌉ + 1 RAREST shingles (global df-ascending order) are
    * indexed, so the Zipf-head shingles that blow up the unfiltered
    * posting join never enter it, yet the threshold answer is provably
    * identical (no false negatives — the prefix lemma in the operator's
    * scaladoc; DedupSpec proves pair-set equality with the unfiltered
    * join on random corpora). The oracle runs the UNFILTERED posting
    * join + integer-exact threshold: same answer certifies the pruning
    * sound end-to-end. */
  val prefixJoin = QuerySpec(
    "q_prefix_join",
    (s, d) =>
      Dedup.prefixJaccardPairs(shingledDocs(s, d), "doc_id", "sh",
          Seq("lang"), tNum = 1, tDen = 2)
        .orderBy("lang", "id_a", "id_b"),
    Some("""
      WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS sh
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      ),
      posts AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS s FROM sh),
      pr AS (SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
                    a.sz AS sz_a, b.sz AS sz_b, count(*) AS common
             FROM posts a JOIN posts b
               ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2, 3, 4, 5)
      SELECT lang, id_a, id_b,
             CAST(common AS BIGINT) AS common,
             CAST(sz_a AS BIGINT) AS sz_a, CAST(sz_b AS BIGINT) AS sz_b,
             CAST(common AS DOUBLE) / CAST(sz_a + sz_b - common AS DOUBLE)
               AS jac
      FROM pr
      WHERE common * 2 >= sz_a + sz_b - common
      ORDER BY lang, id_a, id_b
    """))

  /** Shared oracle CTE: exact lang-blocked shingle-Jaccard pairs at a
    * threshold — the DuckDB-recomputable ground truth both LSH queries
    * verify against. Kept as one Scala val so the Spark plan and the SQL
    * can never drift apart on the pair definition. */
  private def exactPairSql(minJac: Double, flagName: String) = s"""
      WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS sh
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      )
      SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jac,
             1 AS $flagName
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
        AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= $minJac
      ORDER BY jac DESC, id_a ASC, id_b ASC
    """

  /** Exact lang-blocked pairs at `minJac` — the Spark twin of
    * [[exactPairSql]]. */
  private def exactPairs(s: org.apache.spark.sql.SparkSession, d: String,
      minJac: Double) =
    jacPairs(s, d).filter(col("jac") >= minJac)

  /** E2 scale path: MinHash-LSH banded near-dup candidates, verified with
    * exact Jaccard. The CANDIDATE set is hash-family-specific (xxhash64),
    * so the compared output is the exact ground-truth pairs (jac ≥ 0.5,
    * DuckDB-recomputable) each carrying a found_by_lsh verdict the oracle
    * pins constant-true: with 16 bands of 2 rows the S-curve gives
    * P(candidate) = 1−(1−j²)^16 ≥ 0.99 at j = 0.5, and the seeded hashes
    * make the flag deterministic — a broken banding or signature kernel
    * flips a flag and hash-mismatches loudly. DedupSpec keeps the
    * subset/planted-dup invariants on the ops. */
  val dedupMinhash = QuerySpec(
    "q_dedup_minhash",
    (s, d) => {
      val found = Dedup.minhashNearDups(shingledDocs(s, d), "doc_id", "sh",
          k = 32, bandRows = 2, threshold = 0.2)
        .select(col("id_a"), col("id_b"), lit(1).as("__found"))
      exactPairs(s, d, 0.5)
        .join(found, Seq("id_a", "id_b"), "left")
        .select(col("lang"), col("id_a"), col("id_b"), col("jac"),
          coalesce(col("__found"), lit(0)).as("found_by_lsh"))
        .orderBy(col("jac").desc, col("id_a").asc, col("id_b").asc)
    },
    Some(exactPairSql(0.5, "found_by_lsh")))

  /** Near-dup fingerprint via 64-bit SimHash (custom codegen'd Expression).
    * The FINGERPRINT values are engine-specific, so the compared output is
    * the exact ground-truth pairs (jac ≥ 0.5) each carrying a hamming_ok
    * verdict — similar docs must land within 16/64 bits (the SimHash
    * locality contract) — pinned constant-true by the oracle. The per-doc
    * fingerprint+banding computation runs in-plan over the full corpus. */
  val dedupSimhash = QuerySpec(
    "q_dedup_simhash",
    (s, d) => {
      val h = documents(s, d)
        .select(col("doc_id"), simhash64(Text.tokens(col("text"))).as("__h"))
      exactPairs(s, d, 0.5)
        .join(h.select(col("doc_id").as("id_a"), col("__h").as("__ha")), "id_a")
        .join(h.select(col("doc_id").as("id_b"), col("__h").as("__hb")), "id_b")
        .select(col("lang"), col("id_a"), col("id_b"), col("jac"),
          (expr("bit_count(__ha ^ __hb)") <= 16).cast("int").as("hamming_ok"))
        .orderBy(col("jac").desc, col("id_a").asc, col("id_b").asc)
    },
    Some(exactPairSql(0.5, "hamming_ok")))

  /** E4: per-language corpus stats — doc counts, token totals, char stats.
    * Sum of BIGINT must be cast on the DuckDB side (its integer sums widen
    * to HUGEINT, which parquet can't carry). */
  val textStats = QuerySpec(
    "q_text_stats",
    (s, d) =>
      documents(s, d)
        .withColumn("n_tok", size(Text.tokens(col("text"))).cast("long"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
    Some("""
      SELECT lang,
             count(*) AS n_docs,
             CAST(sum(len(list_filter(string_split_regex(lower(text), '\W+'),
                                      t -> t <> ''))) AS BIGINT) AS total_tokens,
             CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
             count(DISTINCT source) AS n_sources
      FROM documents
      GROUP BY lang
      ORDER BY lang
    """))

  /** Language-ID by stopword-marker voting (n-gram heuristic, E4/training
    * surface). Winner-take-all with deterministic tie order. */
  val langId = QuerySpec(
    "q_lang_id",
    (s, d) => {
      val toks = Text.tokens(col("text"))
      val hits = Text.LangMarkers.map { case (l, ms) =>
        l -> Text.markerHits(toks, ms).as(s"hits_$l")
      }
      val df = documents(s, d).select(
        (col("doc_id") +: col("lang") +: hits.map(_._2)): _*)
      val hitCols = Text.LangMarkers.map { case (l, _) => l -> col(s"hits_$l") }
      df.withColumn("lang_guess", Text.langGuess(hitCols))
        .orderBy("doc_id")
    },
    Some {
      val hitExprs = Text.LangMarkers.map { case (l, ms) =>
        val inList = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(list_filter(string_split_regex(lower(text), '\\W+'), t -> t <> ''), t -> t IN ($inList))) AS hits_$l"
      }.mkString(",\n             ")
      val langs = Text.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map("hits_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN hits_$l = $best THEN '$l'").mkString(" ")
      s"""
      SELECT doc_id, lang, ${langs.map(l => s"CAST(hits_$l AS INTEGER) AS hits_$l").mkString(", ")},
             CASE WHEN $best = 0 THEN 'und' $cases ELSE 'und' END AS lang_guess
      FROM (
        SELECT doc_id, lang,
             $hitExprs
        FROM documents
      )
      ORDER BY doc_id
      """
    })

  /** Quality scoring: length/punctuation/stopword/uppercase ratios + a
    * rule-based keep/flag verdict — the standard pre-training text filters,
    * all as exact integer-ratio arithmetic. */
  val qualityScore = QuerySpec(
    "q_quality_score",
    (s, d) => {
      val toks = Text.tokens(col("text"))
      val nTok = size(toks)
      val nChar = length(col("text"))
      val nPunct = length(regexp_replace(col("text"), "[^.!?,;:]", ""))
      val nStop = Text.markerHits(toks, Text.LangMarkers.head._2)
      documents(s, d)
        .select(
          col("doc_id"),
          nTok.as("n_tok"),
          nChar.as("n_char"),
          Text.ratio(nPunct, nChar).as("punct_ratio"),
          Text.ratio(nStop, nTok).as("stop_ratio"),
          // ratio() guard: Spark double-divide by 0 yields NULL, DuckDB
          // yields inf — both sides must take the same zero branch
          Text.ratio(nChar, nTok).as("chars_per_tok"))
        .withColumn("keep",
          (col("n_tok") >= 20) && (col("punct_ratio") < 0.1) &&
            (col("chars_per_tok") < 12.0))
        .orderBy("doc_id")
    },
    Some {
      val stop = Text.LangMarkers.head._2.map(m => s"'$m'").mkString(", ")
      s"""
      SELECT doc_id, n_tok, n_char, punct_ratio, stop_ratio, chars_per_tok,
             (n_tok >= 20 AND punct_ratio < 0.1 AND chars_per_tok < 12.0) AS keep
      FROM (
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tok,
               CAST(length(text) AS INTEGER) AS n_char,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                         / CAST(length(text) AS DOUBLE) END AS punct_ratio,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(toks, t -> t IN ($stop))) AS DOUBLE)
                         / CAST(len(toks) AS DOUBLE) END AS stop_ratio,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST(length(text) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
               END AS chars_per_tok
        FROM (SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '\\W+'), t -> t <> '') AS toks
              FROM documents)
      )
      ORDER BY doc_id
      """
    })

  /** Token counting two ways: whitespace words and BPE-ish subword regex —
    * the per-document token-budget accounting a training pipeline runs. */
  val tokenCount = QuerySpec(
    "q_token_count",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          size(Text.tokens(col("text"))).as("n_words"),
          size(Text.bpeTokens(col("text"))).as("n_bpe"),
          length(col("text")).as("n_char"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '\W+'),
                                  t -> t <> '')) AS INTEGER) AS n_words,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpe,
             CAST(length(text) AS INTEGER) AS n_char
      FROM documents
      ORDER BY doc_id
    """))

  /** Document fingerprinting both ways: order-insensitive md5 bag hash and
    * the custom codegen'd Rabin–Karp RollingHash Expression — the latter
    * recomputed by DuckDB as a list_reduce over ascii codes (identical for
    * this ASCII corpus; the Expression hashes UTF-8 bytes). */
  val fingerprint = QuerySpec(
    "q_fingerprint",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          Text.bagFingerprint(Text.tokens(col("text"))).as("bag_fp"),
          rolling_hash(col("text")).as("roll_fp"))
        .orderBy("doc_id"),
    Some("""
      -- NULL contract (hollow DegenGate): a NULL doc has NULL prints on
      -- both engines; an EMPTY bag hashes as md5('') like Spark's
      -- array_join (DuckDB's array_to_string([]) is NULL, hence the
      -- coalesce), and list_prepend(0, NULL) = [0] would fabricate a 0
      -- rolling hash for a NULL doc, hence the CASE guard.
      SELECT doc_id,
             md5(CASE WHEN text IS NULL THEN NULL
                 ELSE coalesce(array_to_string(list_sort(list_distinct(
                   list_filter(string_split_regex(lower(text), '\W+'), t -> t <> ''))), ' '), '')
                 END) AS bag_fp,
             CASE WHEN text IS NULL THEN NULL
             ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
                                      list_transform(string_split(text, ''),
                                                     c -> CAST(ascii(c) AS BIGINT))),
                         (a, b) -> (a * 31 + b) % 1000000007)
             END AS roll_fp
      FROM documents
      ORDER BY doc_id
    """))

  /** The training-data prep pipeline END-TO-END as ONE lazy DAG — the
    * engine-completeness showpiece: quality filter → language re-ID →
    * drop unidentifiable docs → exact dedup (hash-partitioned over the
    * SURVIVORS only — stage order is a real cost decision at 100 TB) →
    * per-language corpus manifest. Every stage is the same logic the
    * standalone queries use, and the whole composition stays
    * DuckDB-expressible, so the oracle checks the PIPELINE, not just its
    * pieces. */
  val prepPipeline = QuerySpec(
    "q_prep_pipeline",
    (s, d) => {
      val toks = Text.tokens(col("text"))
      val nTok = size(toks)
      val nChar = length(col("text"))
      val nPunct = length(regexp_replace(col("text"), "[^.!?,;:]", ""))
      // fanOut before the tokenize/marker-scan stage: the test parquet is a
      // single row-group, so without it the whole per-row pipeline runs as
      // ONE task — the suite's most noise-sensitive serial stage (recorded
      // 1.4 s quiet, 7.2 s under co-tenant load). The aggregate output is
      // exact integers, so the layout change can't move the answer.
      val filtered = fanOut(s, documents(s, d))
        .withColumn("n_tok", nTok)
        .withColumn("punct_ratio", Text.ratio(nPunct, nChar))
        .withColumn("chars_per_tok", Text.ratio(nChar, col("n_tok")))
        .filter(col("n_tok") >= 20 && col("punct_ratio") < 0.1 &&
          col("chars_per_tok") < 12.0)
      val hitCols = Text.LangMarkers.map { case (l, ms) =>
        l -> Text.markerHits(Text.tokens(col("text")), ms)
      }
      val identified = filtered
        .withColumn("lang_guess", Text.langGuess(hitCols))
        .filter(col("lang_guess") =!= "und")
      Dedup.exact(identified, col("text"), col("doc_id"))
        .groupBy("lang_guess")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_toks"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("lang_guess")
    },
    Some {
      val hitExprs = Text.LangMarkers.map { case (l, ms) =>
        val inList = ms.map(m => s"'$m'").mkString(", ")
        s"len(list_filter(toks, t -> t IN ($inList))) AS hits_$l"
      }.mkString(",\n               ")
      val langs = Text.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map("hits_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN hits_$l = $best THEN '$l'").mkString(" ")
      s"""
      WITH toked AS (
        SELECT *, list_filter(string_split_regex(lower(text), '\\W+'), t -> t <> '') AS toks
        FROM documents
      ),
      filtered AS (
        SELECT *, CAST(len(toks) AS INTEGER) AS n_tok
        FROM toked
        WHERE len(toks) >= 20
          AND (CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
                         / CAST(length(text) AS DOUBLE) END) < 0.1
          AND (CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST(length(text) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END) < 12.0
      ),
      identified AS (
        SELECT * FROM (
          SELECT *,
                 CASE WHEN $best = 0 THEN 'und' $cases ELSE 'und' END AS lang_guess
          FROM (
            SELECT *,
               $hitExprs
            FROM filtered
          )
        )
        WHERE lang_guess <> 'und'
      ),
      deduped AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY md5(lower(trim(text)))
                                       ORDER BY doc_id) AS rn
          FROM identified
        ) WHERE rn = 1
      )
      SELECT lang_guess, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_toks,
             count(DISTINCT source) AS n_sources,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM deduped
      GROUP BY lang_guess
      ORDER BY lang_guess
      """
    })

  /** Repetition-based quality signals (the Gopher/C4 filters a pre-training
    * pipeline runs beyond simple ratios): per doc, the most-frequent-token
    * share and the duplicate-trigram share, plus a threshold verdict.
    * Exact integer counts and ratios — fully DuckDB-oracled.
    *
    * Scale shape: explode → two-level aggregate is map-side combinable
    * (partial counts per (doc, term) before the shuffle); both metric
    * branches end hash-partitioned on doc_id, so the final joins reuse
    * the exchange. No per-row HOF lambdas — token/shingle arrays come
    * from the codegen'd Tokenize/WordShingles Expressions. The tokenized
    * corpus is cached (same materialize-once convention as shingledDocs):
    * both metric branches read it, so without the barrier tokenization
    * runs twice. */
  val repetition = QuerySpec(
    "q_repetition",
    (s, d) => {
      val base = fanOut(s, documents(s, d))
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .cache()
      val tok = base.select(col("doc_id"), explode(col("toks")).as("t"))
        .groupBy("doc_id", "t").count()
        .groupBy("doc_id")
        .agg(sum("count").as("n_tokens"), max("count").as("top_cnt"))
      val tri = base
        .select(col("doc_id"), explode(Text.shingles(col("toks"), 3)).as("g"))
        .groupBy("doc_id", "g").count()
        .groupBy("doc_id")
        .agg(sum("count").as("n_tri"), count(lit(1)).as("n_dist_tri"))
      documents(s, d).select("doc_id")
        .join(tok, Seq("doc_id"), "left")
        .join(tri, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          when(coalesce(col("n_tokens"), lit(0L)) === 0, lit(0.0))
            .otherwise(col("top_cnt").cast("double") /
              col("n_tokens").cast("double")).as("top_token_frac"),
          when(coalesce(col("n_tri"), lit(0L)) === 0, lit(0.0))
            .otherwise(lit(1.0) - col("n_dist_tri").cast("double") /
              col("n_tri").cast("double")).as("dup_trigram_frac"))
        .withColumn("quality_ok",
          ((col("top_token_frac") <= 0.2) &&
            (col("dup_trigram_frac") <= 0.3)).cast("int"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toked AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '') AS toks
        FROM documents
      ),
      tok_stats AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(max(c) AS BIGINT) AS top_cnt
        FROM (SELECT doc_id, t, count(*) AS c
              FROM (SELECT doc_id, unnest(toks) AS t FROM toked)
              GROUP BY doc_id, t)
        GROUP BY doc_id
      ),
      tri_stats AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tri,
               CAST(count(*) AS BIGINT) AS n_dist_tri
        FROM (SELECT doc_id, g, count(*) AS c
              FROM (SELECT doc_id,
                           unnest(CASE WHEN len(toks) >= 3
                             THEN list_transform(range(1, len(toks) - 1),
                                                 i -> array_to_string(toks[i:i+2], ' '))
                             ELSE [] END) AS g
                    FROM toked)
              GROUP BY doc_id, g)
        GROUP BY doc_id
      )
      SELECT doc_id,
             coalesce(n_tokens, 0) AS n_tokens,
             CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0
                  ELSE CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             END AS top_token_frac,
             CASE WHEN coalesce(n_tri, 0) = 0 THEN 0.0
                  ELSE 1.0 - CAST(n_dist_tri AS DOUBLE) / CAST(n_tri AS DOUBLE)
             END AS dup_trigram_frac,
             CAST(CASE WHEN
               (CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0.0
                     ELSE CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) END) <= 0.2
               AND
               (CASE WHEN coalesce(n_tri, 0) = 0 THEN 0.0
                     ELSE 1.0 - CAST(n_dist_tri AS DOUBLE) / CAST(n_tri AS DOUBLE) END) <= 0.3
               THEN 1 ELSE 0 END AS INTEGER) AS quality_ok
      FROM documents
      LEFT JOIN tok_stats USING (doc_id)
      LEFT JOIN tri_stats USING (doc_id)
      ORDER BY doc_id
    """))

  /** Shared by the Spark query and the DuckDB oracle so both engines scrub
    * with THE SAME pattern strings (RE2- and java.util.regex-compatible:
    * no lookarounds, no backrefs). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b555-[0-9]{4}\\b"

  /** PII scrubbing — the C4-style redaction pass a pre-training pipeline
    * runs over raw text. The driver tables deliberately contain no
    * PII-shaped values, so the query derives a deterministic contact
    * string IN-PLAN from customer keys (both engines derive it
    * identically); the operator under test is the regex scrub itself —
    * codegen'd regexp_replace/regexp_extract_all, no UDFs, trivially
    * parallel at 100 TB (pure per-row projection, no shuffle until the
    * ordered sink). */
  val piiRedact = QuerySpec(
    "q_pii_redact",
    (s, d) =>
      customer(s, d)
        .withColumn("contact",
          concat(
            col("c_name"), lit(" <user"), col("c_custkey").cast("string"),
            lit("@example.com> call 555-"),
            lpad(pmod(col("c_custkey"), lit(10000)).cast("string"), 4, "0")))
        .select(
          col("c_custkey"),
          size(regexp_extract_all(col("contact"), lit(EmailRe), lit(0)))
            .as("n_emails"),
          size(regexp_extract_all(col("contact"), lit(PhoneRe), lit(0)))
            .as("n_phones"),
          regexp_replace(
            regexp_replace(col("contact"), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]").as("redacted"))
        .orderBy("c_custkey"),
    Some(s"""
      SELECT c_custkey,
             CAST(len(regexp_extract_all(contact, '$EmailRe')) AS INTEGER) AS n_emails,
             CAST(len(regexp_extract_all(contact, '$PhoneRe')) AS INTEGER) AS n_phones,
             regexp_replace(regexp_replace(contact, '$EmailRe', '[EMAIL]', 'g'),
                            '$PhoneRe', '[PHONE]', 'g') AS redacted
      FROM (
        SELECT c_custkey,
               c_name || ' <user' || CAST(c_custkey AS VARCHAR)
                      || '@example.com> call 555-'
                      || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact
        FROM customer
      )
      ORDER BY c_custkey
    """))

  /** Benchmark decontamination — the eval-overlap scrub a pre-training
    * pipeline runs before export: any training doc sharing a 5-word-gram
    * with the held-out set is flagged. The held-out set is a stand-in
    * derived in-plan (doc_id < 10); in production it's the benchmark
    * suite.
    *
    * Scale shape: the eval side's distinct grams are SMALL by definition
    * (benchmarks are tiny next to a 100 TB corpus), so the overlap test
    * is a broadcast join against the exploded train grams — the train
    * side never shuffles for the probe; the only wide ops are the
    * per-doc aggregate and the ordered sink. */
  val decontaminate = QuerySpec(
    "q_decontaminate",
    (s, d) => {
      val base = fanOut(s, documents(s, d))
        .select(col("doc_id"), col("lang"),
          array_distinct(Text.shingles(Text.tokens(col("text")), 5)).as("g5"))
      val evalGrams = base.filter(col("doc_id") < 10)
        .select(explode(col("g5")).as("g")).distinct()
      val shared = base.filter(col("doc_id") >= 10)
        .select(col("doc_id"), explode(col("g5")).as("g"))
        .join(broadcast(evalGrams), Seq("g"))
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_shared"))
      documents(s, d).select("doc_id", "lang")
        .filter(col("doc_id") >= 10)
        .join(shared, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("lang"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) === 0).cast("int").as("is_clean"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toked AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'), t -> t <> '') AS toks
        FROM documents
      ),
      g AS (
        SELECT doc_id,
               unnest(list_distinct(CASE WHEN len(toks) >= 5
                 THEN list_transform(range(1, len(toks) - 3),
                                     i -> array_to_string(toks[i:i+4], ' '))
                 ELSE [] END)) AS gr
        FROM toked
      ),
      ev AS (SELECT DISTINCT gr FROM g WHERE doc_id < 10),
      sh AS (
        SELECT g.doc_id, CAST(count(DISTINCT gr) AS BIGINT) AS n_shared
        FROM g JOIN ev USING (gr)
        WHERE g.doc_id >= 10
        GROUP BY g.doc_id
      )
      SELECT d.doc_id, d.lang,
             coalesce(n_shared, 0) AS n_shared,
             CAST(CASE WHEN coalesce(n_shared, 0) = 0 THEN 1 ELSE 0 END AS INTEGER) AS is_clean
      FROM documents d
      LEFT JOIN sh USING (doc_id)
      WHERE d.doc_id >= 10
      ORDER BY d.doc_id
    """))

  /** Near-dup CLUSTERING: the pairwise near-dup output (jac ≥ 0.5, same
    * inverted-index pair generation as q_dedup_near) resolved into
    * connected components with a deterministic min-id representative —
    * the step that turns "these pairs look alike" into "keep THIS one,
    * drop those". Survivors are the rows where doc_id = rep_id. Oracled
    * end-to-end: DuckDB recomputes the pairs and closes them with a
    * recursive CTE. */
  val dedupClusters = QuerySpec(
    "q_dedup_clusters",
    (s, d) => {
      val pairs = jacPairs(s, d).filter(col("jac") >= 0.5)
      val cc = Dedup.components(pairs, "id_a", "id_b")
      // no orderBy on the window: an ordered window would default to a
      // running RANGE frame; unordered counts the whole partition
      val w = org.apache.spark.sql.expressions.Window.partitionBy("rep_id")
      cc.select(
          col("id").as("doc_id"),
          col("rep").as("rep_id"))
        .withColumn("n_members", count(lit(1)).over(w))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS sh
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      ),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) > 0
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.5
      ),
      nodes AS (
        SELECT DISTINCT id FROM (
          SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
      ),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
      ),
      reach(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
      ),
      cc AS (SELECT a AS doc_id, min(b) AS rep_id FROM reach GROUP BY a)
      SELECT doc_id, rep_id,
             CAST(count(*) OVER (PARTITION BY rep_id) AS BIGINT) AS n_members
      FROM cc
      ORDER BY doc_id
    """))

  /** Full-corpus cluster LABELING via the O(log n)-round two-star CC
    * ([[graft.ops.Graph.twoStarComponents]], Kiveris 2014) — what a
    * production dedup actually materializes: EVERY document carries its
    * component's min-id as cluster_id (singletons label themselves), a
    * canonical-survivor flag, and the cluster size. q_dedup_clusters
    * gates the min-label sibling on pair-incident nodes only; this query
    * gates the star-contraction algorithm end-to-end against the same
    * recursive-CTE transitive closure — two independent algorithms, one
    * oracle, and the two-star form is the one that survives a 10⁹-node
    * near-dup chain (O(component diameter) rounds vs O(log n)).
    *
    * Scale shape: component rounds touch only the pair graph (≪ corpus);
    * the corpus sees exactly two equi-joins — label attach and size
    * attach, both against graph-sized frames (AQE broadcasts them when
    * they fit; NO corpus-wide window/shuffle for sizes: cluster_size
    * comes from a groupBy over the LABELS frame, singletons coalesce
    * to 1). */
  val ccLabels = QuerySpec(
    "q_cc_labels",
    (s, d) => {
      val pairs = jacPairs(s, d).filter(col("jac") >= 0.5)
      val (labels, _) = Graph.twoStarComponents(pairs, "id_a", "id_b")
      val lab = labels.select(col("id").as("doc_id"),
        col("rep").as("cluster_id"))
      val sizes = lab.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      documents(s, d).select("doc_id")
        .join(lab, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .join(sizes, Seq("cluster_id"), "left")
        .select(
          col("doc_id"),
          col("cluster_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
          (col("doc_id") === col("cluster_id")).cast("int").as("is_canonical"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS sh
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      ),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.sh, b.sh)) > 0
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.5
      ),
      nodes AS (
        SELECT DISTINCT id FROM (
          SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
      ),
      edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
      ),
      reach(a, b) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
      ),
      cc AS (SELECT a AS doc_id, min(b) AS rep_id FROM reach GROUP BY a),
      lab AS (
        SELECT d.doc_id, coalesce(cc.rep_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN cc USING (doc_id)
      ),
      sizes AS (
        SELECT rep_id AS cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM cc GROUP BY rep_id
      )
      SELECT lab.doc_id, lab.cluster_id,
             coalesce(sizes.cluster_size, 1) AS cluster_size,
             CAST(CASE WHEN lab.doc_id = lab.cluster_id THEN 1 ELSE 0 END
                  AS INTEGER) AS is_canonical
      FROM lab LEFT JOIN sizes USING (cluster_id)
      ORDER BY lab.doc_id
    """))

  /** Vocabulary build with an exact coverage curve: top-200 tokens by
    * corpus frequency, each with its id (frequency rank), count, running
    * covered-occurrence total, and the corpus total — cum_cnt/total_cnt
    * IS the tokenizer-coverage curve ("the top-k vocab covers X% of
    * occurrences"), in exact integers so both engines agree. The heavy
    * stage (explode + count per token) is map-side-combinable; rank and
    * running sum over the COUNTS table come from
    * [[graft.ops.Ranks.globalCumsum]]'s cutpoint buckets (r12 — the
    * vocabulary grows with the corpus, so the former single-partition
    * window was a scale funnel; identical values, ranks are order-only
    * and the cumsum is exact integers). */
  val vocabBuild = QuerySpec(
    "q_vocab_build",
    (s, d) => {
      val counts = graft.ops.Checkpoints.materialize(
        fanOut(s, documents(s, d))
          .select(explode(Text.tokens(col("text"))).as("t"))
          .groupBy("t").agg(count(lit(1)).as("cnt")))
      val keyed = counts.withColumn("__vk",
        graft.ops.Ranks.descCountKey(col("cnt"), col("t")))
      val nParts = s.sessionState.conf.numShufflePartitions
      val total = counts.agg(sum("cnt").as("total_cnt"))
      graft.ops.Ranks
        .globalCumsum(keyed, Seq(col("__vk")), nParts,
          Seq("cum_cnt" -> "cnt"),
          rankCol = Some("tok_id")) // already BIGINT like the oracle
        .drop("__vk")
        .filter(col("tok_id") <= 200)
        .crossJoin(total)
        .select("tok_id", "t", "cnt", "cum_cnt", "total_cnt")
        .orderBy("tok_id")
    },
    Some("""
      WITH counts AS (
        SELECT t, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                        x -> x <> '')) AS t
              FROM documents)
        GROUP BY t
      )
      SELECT tok_id, t, cnt, cum_cnt, total_cnt
      FROM (
        SELECT t, cnt,
               row_number() OVER (ORDER BY cnt DESC, t ASC) AS tok_id,
               CAST(sum(cnt) OVER (ORDER BY cnt DESC, t ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cnt
        FROM counts
      ), (SELECT CAST(sum(cnt) AS BIGINT) AS total_cnt FROM counts)
      WHERE tok_id <= 200
      ORDER BY tok_id
    """))

  /** Exact SUBSTRING-level duplication (the character-gram sibling of
    * shingle dedup, after Lee et al.'s "Deduplicating Training Data Makes
    * Language Models Better"): 64-char grams at stride 32, identified by
    * digest; a gram appearing in ≥ 2 DISTINCT docs marks a duplicated
    * span. Per doc: gram count, duplicated-gram count, duplicated
    * fraction — the signal substring-dedup pipelines threshold on.
    *
    * Scale shape: gram generation is a bounded explode (len/stride rows
    * per doc — never quadratic); the duplicate-digest set comes from one
    * map-side-combinable aggregate over the digests, and the flag-back
    * join is an equi-join on the digest — every stage an ordinary
    * shuffle, nothing pairwise. At 100 TB the digest table is the only
    * wide state and it hash-partitions cleanly. */
  val substringDedup = QuerySpec(
    "q_substring_dedup",
    (s, d) => {
      val grams = fanOut(s, documents(s, d))
        .filter(length(col("text")) >= 64)
        .select(col("doc_id"),
          explode(sequence(lit(1), length(col("text")) - 63, lit(32))).as("st"),
          col("text"))
        .select(col("doc_id"), md5(col("text").substr(col("st"), lit(64))).as("dg"))
        // materialize-once barrier: the dup aggregate (keyed on dg) and
        // the per-doc join (keyed on doc_id) share no exchange, so an
        // uncached grams recomputes the explode + per-gram md5 twice
        .cache()
      val dup = grams.groupBy("dg")
        .agg(countDistinct(col("doc_id")).as("__nd"))
        .filter(col("__nd") >= 2)
        .select(col("dg"), lit(1L).as("__dup"))
      val per = grams.join(dup, Seq("dg"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("__dup"), lit(0L))).as("n_dup"))
      documents(s, d).select("doc_id")
        .join(per, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          Text.ratio(coalesce(col("n_dup"), lit(0L)),
            coalesce(col("n_grams"), lit(0L))).as("dup_frac"))
        .orderBy("doc_id")
    },
    Some("""
      WITH grams AS (
        SELECT doc_id, md5(substr(text, CAST(st AS INTEGER), 64)) AS dg
        FROM (SELECT doc_id, text,
                     unnest(generate_series(1, len(text) - 63, 32)) AS st
              FROM documents WHERE len(text) >= 64)
      ),
      dup AS (SELECT dg FROM grams GROUP BY dg HAVING count(DISTINCT doc_id) >= 2),
      per AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN dup.dg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        FROM grams LEFT JOIN dup USING (dg)
        GROUP BY doc_id
      )
      SELECT d.doc_id,
             coalesce(n_grams, 0) AS n_grams,
             coalesce(n_dup, 0) AS n_dup,
             CASE WHEN coalesce(n_grams, 0) = 0 THEN 0.0
                  ELSE CAST(coalesce(n_dup, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE)
             END AS dup_frac
      FROM documents d LEFT JOIN per USING (doc_id)
      ORDER BY d.doc_id
    """))

  /** Asymmetric CONTAINMENT (overlap coefficient |A∩B| / min(|A|,|B|)) —
    * the quote/subset detector Jaccard misses: a short doc fully quoted
    * inside a long one scores containment 1.0 but a low Jaccard (union is
    * dominated by the long doc). Same posting pairs as q_dedup_near — the
    * sizes ride along with the intersection count, so the second metric
    * is free. Top-25 by containment. */
  val containment = QuerySpec(
    "q_containment",
    (s, d) =>
      jacPairs(s, d)
        .withColumn("containment",
          col("common").cast("double") /
            least(col("sz_a"), col("sz_b")).cast("double"))
        .select(col("lang"), col("id_a"), col("id_b"), col("jac"),
          col("containment"))
        .orderBy(col("containment").desc, col("id_a").asc, col("id_b").asc)
        .limit(25),
    Some("""
      WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS sh
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      )
      SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jac,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(least(len(a.sh), len(b.sh)) AS DOUBLE) AS containment
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.sh, b.sh)) > 0
      ORDER BY containment DESC, id_a ASC, id_b ASC
      LIMIT 25
    """))

  /** Bigram language-model estimation: corpus bigram counts with the
    * conditional probability P(w2 | w1) = c(w1 w2) / c(w1 ·) as an exact
    * integer ratio (c(w1 ·) sums bigram starts, so the distribution per
    * w1 sums to exactly 1). Top-30 bigrams — the count-based n-gram LM
    * build every data-quality perplexity filter starts from.
    *
    * Scale shape: one explode over the codegen'd shingle Expression into
    * a map-side-combinable count, then a self-aggregate on the FIRST
    * token — both plain hash shuffles on keys orders of magnitude
    * smaller than the corpus. */
  val bigramLm = QuerySpec(
    "q_bigram_lm",
    (s, d) => {
      val big = fanOut(s, documents(s, d))
        .select(explode(Text.shingles(Text.tokens(col("text")), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cnt"))
        .select(
          substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"),
          col("cnt"))
      val starts = big.groupBy("w1").agg(sum(col("cnt")).as("c1"))
      big.join(starts, "w1")
        .select(col("w1"), col("w2"), col("cnt"), col("c1"),
          (col("cnt").cast("double") / col("c1").cast("double")).as("p_cond"))
        .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
        .limit(30)
    },
    Some("""
      WITH bg AS (
        SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
               CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_transform(range(1, len(toks)),
                              i -> array_to_string(toks[i:i+1], ' '))) AS bg
              FROM (SELECT list_filter(string_split_regex(lower(text), '\W+'),
                                       t -> t <> '') AS toks
                    FROM documents))
        GROUP BY bg
      ),
      starts AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1 FROM bg GROUP BY w1)
      SELECT w1, w2, cnt, c1, CAST(cnt AS DOUBLE) / CAST(c1 AS DOUBLE) AS p_cond
      FROM bg JOIN starts USING (w1)
      ORDER BY cnt DESC, w1 ASC, w2 ASC
      LIMIT 30
    """))

  /** Per-document LM fluency score — the perplexity-filter shape (CCNet
    * trains a corpus LM and keeps the docs the model finds predictable)
    * re-expressed LOG-FREE so the score survives the cross-engine hash
    * gate: every per-bigram conditional probability P(w2|w1) = c(bg)/c(w1·)
    * is ONE IEEE division of exact integers (bit-identical in any engine),
    * the per-doc mean goes through the decimal-sum trick (each double cast
    * to DECIMAL(38,18) — tie-free — summed exactly, order-free), and the
    * doc's weakest link min P is an order-free min over exact doubles.
    * ln() never appears: libm last-ulp drift is what keeps real perplexity
    * out of a bit-exact gate, and the mean/min conditional probability
    * ranks docs for filtering just as monotonically.
    *
    * Scale shape: the LM is a map-side-combinable bigram count (vocab²
    * upper bound, corpus-frequency distributed), doc occurrences join it
    * on the bigram key — plain hash joins on aggregated keys, no global
    * state, no windows. Self-scoring keeps every doc bigram present in
    * the LM, so the join is inner and lossless; docs under 2 tokens
    * surface with n_bigrams = 0 via the left join at the end. */
  val lmScore = QuerySpec(
    "q_lm_score",
    (s, d) => {
      val occ = fanOut(s, documents(s, d))
        .select(col("doc_id"),
          explode(Text.shingles(Text.tokens(col("text")), 2)).as("bg"))
        .cache()
      val lm = occ.groupBy("bg").agg(count(lit(1)).as("cnt"))
        .withColumn("w1", substring_index(col("bg"), " ", 1))
      val starts = lm.groupBy("w1").agg(sum("cnt").as("c1"))
      val p = col("cnt").cast("double") / col("c1").cast("double")
      val per = occ.join(lm, "bg").join(starts, "w1")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_bigrams"),
          sum(p.cast("decimal(38,18)")).as("psum"),
          min(p).as("min_p"))
      documents(s, d).select("doc_id")
        .join(per, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          // the DECIMAL(38,18)→DOUBLE cast is correctly rounded on the
          // JVM but double-rounds through int128 in DuckDB — round(9)
          // absorbs the last-ulp drift (house rule: round a fixed IEEE
          // sequence, never a partition-order-dependent one)
          when(col("n_bigrams").isNull, lit(0.0))
            .otherwise(round(col("psum").cast("double")
              / col("n_bigrams").cast("double"), 9)).as("mean_p"),
          coalesce(col("min_p"), lit(0.0)).as("min_p"))
        .orderBy("doc_id")
    },
    Some("""
      WITH occ AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                        i -> array_to_string(toks[i:i+1], ' '))) AS bg
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      ),
      lm AS (SELECT bg, split_part(bg, ' ', 1) AS w1,
                    CAST(count(*) AS BIGINT) AS cnt
             FROM occ GROUP BY bg),
      starts AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1
                 FROM lm GROUP BY w1),
      per AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               sum(CAST(CAST(cnt AS DOUBLE) / CAST(c1 AS DOUBLE)
                        AS DECIMAL(38,18))) AS psum,
               min(CAST(cnt AS DOUBLE) / CAST(c1 AS DOUBLE)) AS min_p
        FROM occ JOIN lm USING (bg) JOIN starts USING (w1)
        GROUP BY doc_id
      )
      SELECT d.doc_id,
             coalesce(n_bigrams, 0) AS n_bigrams,
             CASE WHEN n_bigrams IS NULL THEN 0.0
                  ELSE round(CAST(psum AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 9)
             END AS mean_p,
             coalesce(min_p, 0.0) AS min_p
      FROM documents d LEFT JOIN per USING (doc_id)
      ORDER BY d.doc_id
    """))

  /** Token-distribution Gini impurity per doc — 1 − Σ pᵢ² , the
    * log-free diversity signal (entropy's exactly-computable sibling:
    * ln() is banned from compared floats because libm last-ulp differs
    * across engines, but Σ cnt² is an exact integer and the final
    * (n² − Σcnt²)/n² is ONE IEEE division of exact ints — bit-identical
    * everywhere). Low gini ⇒ one token dominates ⇒ boilerplate/spam.
    *
    * Scale shape: explode → (doc, token) count → per-doc aggregate, all
    * map-side combinable; nothing holds a vocabulary in memory. */
  val giniDiversity = QuerySpec(
    "q_gini_diversity",
    (s, d) => {
      val per = fanOut(s, documents(s, d))
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
        .groupBy("doc_id", "t").count()
        .groupBy("doc_id")
        .agg(sum("count").as("n_tok"), count(lit(1)).as("n_types"),
          sum(col("count") * col("count")).as("ss"))
      documents(s, d).select("doc_id")
        .join(per, Seq("doc_id"), "left")
        .select(
          col("doc_id"),
          coalesce(col("n_tok"), lit(0L)).as("n_tok"),
          coalesce(col("n_types"), lit(0L)).as("n_types"),
          when(coalesce(col("n_tok"), lit(0L)) === 0, lit(0.0))
            .otherwise(
              (col("n_tok") * col("n_tok") - col("ss")).cast("double") /
                (col("n_tok") * col("n_tok")).cast("double"))
            .as("gini"))
        .orderBy("doc_id")
    },
    Some("""
      WITH cnt AS (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                        t -> t <> '')) AS t
              FROM documents)
        GROUP BY doc_id, t
      ),
      per AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(c * c) AS BIGINT) AS ss
        FROM cnt GROUP BY doc_id
      )
      SELECT d.doc_id,
             coalesce(n_tok, 0) AS n_tok,
             coalesce(n_types, 0) AS n_types,
             CASE WHEN coalesce(n_tok, 0) = 0 THEN 0.0
                  ELSE CAST(n_tok * n_tok - ss AS DOUBLE)
                       / CAST(n_tok * n_tok AS DOUBLE)
             END AS gini
      FROM documents d LEFT JOIN per USING (doc_id)
      ORDER BY d.doc_id
    """))

  /** Feature hashing (the Weinberger et al. hashing trick): every token
    * maps to one of 16 buckets by hash, with a second hash bit choosing
    * the sign, and the doc's feature value per bucket is the SIGNED count
    * sum — the fixed-width featurizer that needs no vocabulary pass at
    * all (the 100 TB advantage over q_vocab_build: zero global state,
    * pure per-row expressions + one map-side-combinable aggregate).
    *
    * Both hash decisions derive from md5 hex digits (bucket = first
    * digit, sign = parity of the second) so any engine recomputes them
    * identically; counts are exact integers. Buckets a doc never hits
    * are absent on both sides by the same rule. */
  val featureHash = QuerySpec(
    "q_feature_hash",
    (s, d) =>
      fanOut(s, documents(s, d))
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("t"))
        .withColumn("h", md5(col("t")))
        .select(
          col("doc_id"),
          (expr("instr('0123456789abcdef', substr(h, 1, 1))") - 1)
            .cast("int").as("bucket"),
          when(expr("instr('02468ace', substr(h, 2, 1))") > 0, lit(1L))
            .otherwise(lit(-1L)).as("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(sum(col("sgn")).as("feat"), count(lit(1)).as("n_tok"))
        .orderBy("doc_id", "bucket"),
    Some("""
      SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS feat,
             count(*) AS n_tok
      FROM (
        SELECT doc_id,
               CAST(strpos('0123456789abcdef', substr(h, 1, 1)) - 1
                    AS INTEGER) AS bucket,
               CASE WHEN strpos('02468ace', substr(h, 2, 1)) > 0
                    THEN 1 ELSE -1 END AS sgn
        FROM (
          SELECT doc_id, md5(t) AS h
          FROM (SELECT doc_id,
                       unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                          x -> x <> '')) AS t
                FROM documents)
        )
      )
      GROUP BY doc_id, bucket
      ORDER BY doc_id, bucket
    """))

  /** Sorted-neighborhood near-dup candidates (window w=4 over the
    * shingle-bag sort order) — the join-free third blocking scheme next
    * to the exact posting-list pairs and MinHash-LSH; rides the SAME
    * shingledDocs cache. Top-25 by the shared inclusion–exclusion
    * Jaccard; finds the corpus's ≈0.99-jac pairs the exact pairs pin
    * (near-identical docs sort adjacently by construction). */
  val snmDedup = QuerySpec(
    "q_snm_dedup",
    (s, d) =>
      // blockSize 256 forces multi-block + boundary replication even at
      // sf0.001 — the registered query runs the actual scale path, not a
      // degenerate single block
      Dedup.sortedNeighborhood(
          shingledDocs(s, d).select("doc_id", "sh"), "doc_id", "sh", w = 4,
          blockSize = 256)
        .select("id_a", "id_b", "jac")
        .orderBy(col("jac").desc, col("id_a").asc, col("id_b").asc)
        .limit(25),
    Some("""
      WITH sh AS (
        SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
          THEN list_transform(range(1, len(toks) - 1),
                              i -> array_to_string(toks[i:i+2], ' '))
          ELSE [] END) AS sh
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      ),
      ord AS (
        SELECT doc_id, sh,
               row_number() OVER (ORDER BY array_to_string(list_sort(sh), ' '),
                                  doc_id) AS rn
        FROM sh
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                      AS DOUBLE) AS jac
      FROM ord a JOIN ord b ON b.rn > a.rn AND b.rn <= a.rn + 3
      WHERE len(list_intersect(a.sh, b.sh)) > 0
      ORDER BY jac DESC, id_a ASC, id_b ASC
      LIMIT 25
    """))

  /** The CUSTOM expression family driven through `spark.sql` TEXT — the
    * library's SQL surface under the same differential gate as the
    * Column API: GraftFunctions.registerAll + a SQL query calling
    * tokenize / rolling_hash / jaro_winkler by name, each
    * DuckDB-reproducible (split+filter, list_reduce ascii fold, native
    * jaro_winkler_similarity). A user who only speaks SQL gets the same
    * verified behavior as the Scala API. */
  val sqlCustomFuncs = QuerySpec(
    "q_sql_custom_funcs",
    (s, d) => {
      graft.functions.GraftFunctions.registerAll(s)
      documents(s, d).createOrReplaceTempView("documents_sqlfn")
      s.sql("""
        SELECT doc_id,
               size(tokenize(text)) AS n_tokens,
               rolling_hash(text) AS roll_fp,
               round(jaro_winkler(substr(text, 1, 20), 'the fast key order'), 6)
                 AS jw
        FROM documents_sqlfn
        ORDER BY doc_id
      """)
    },
    Some("""
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(lower(text), '\W+'),
                                  t -> t <> '')) AS INTEGER) AS n_tokens,
             -- list_prepend(0, NULL) = [0] would fabricate a 0 hash for a
             -- NULL doc (hollow DegenGate contract: NULL in, NULL out)
             CASE WHEN text IS NULL THEN NULL
             ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
                                      list_transform(string_split(text, ''),
                                                     c -> CAST(ascii(c) AS BIGINT))),
                         (a, b) -> (a * 31 + b) % 1000000007)
             END AS roll_fp,
             round(jaro_winkler_similarity(substr(text, 1, 20),
                                           'the fast key order'), 6) AS jw
      FROM documents
      ORDER BY doc_id
    """))

  /** Incremental near-dup: the 5% of docs with doc_id ≡ 0 (mod 20) play
    * the incoming daily batch, the rest the existing corpus; top-25
    * (batch, corpus) pairs by 3-shingle Jaccard, lang-blocked. The plan
    * shape is the point (and PlanSpec asserts it): the batch's postings
    * BROADCAST, the corpus postings stream through the join with no
    * shuffle, and the only exchange feeds the candidate-pair aggregate —
    * the "day of data vs 100 TB corpus" dedup a production pipeline runs
    * instead of re-self-joining the world. Within-batch dups are the
    * self-join operators' job (q_dedup_near et al.), not this one's. */
  val incrementalDedup = QuerySpec(
    "q_incremental_dedup",
    (s, d) => {
      val sh = shingledDocs(s, d)
      val incoming = sh.filter(col("doc_id") % 20 === 0)
      val corpus = sh.filter(col("doc_id") % 20 =!= 0)
      Dedup.incrementalJaccardPairs(corpus, incoming, "doc_id", "sh", Seq("lang"))
        .select(col("lang"), col("id_new"), col("id_old"), col("jac"))
        .orderBy(col("jac").desc, col("id_new").asc, col("id_old").asc)
        .limit(25)
    },
    Some("""
      WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS sh
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      ),
      posts AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS s FROM sh),
      pr AS (SELECT n.lang AS lang, n.doc_id AS id_new, o.doc_id AS id_old,
                    n.sz AS sz_new, o.sz AS sz_old, count(*) AS common
             FROM posts n JOIN posts o
               ON n.lang = o.lang AND n.s = o.s
             WHERE n.doc_id % 20 = 0 AND o.doc_id % 20 <> 0
             GROUP BY 1, 2, 3, 4, 5)
      SELECT lang, id_new, id_old,
             CAST(common AS DOUBLE) / CAST(sz_new + sz_old - common AS DOUBLE)
               AS jac
      FROM pr
      ORDER BY jac DESC, id_new ASC, id_old ASC
      LIMIT 25
    """))

  /** Substring dedup as a TRANSFORM (Dedup.chunkRewrite scaladoc has the
    * 100 TB shape): 5-word chunks, global first occurrence survives,
    * docs stitched back in position order. Width 5 because the synthetic
    * corpus draws from a ~30-word vocabulary — wide enough that repeats
    * are real phrases, narrow enough that every SF exercises removals
    * (320 duplicated chunks at sf0.01). The oracle replays the identical
    * first-wins rule with a window rank; its PARTITION key is the chunk
    * text while the engine keys on the chunk's md5 — same equivalence
    * classes, bounded shuffle width. */
  val chunkRewrite = QuerySpec(
    "q_chunk_rewrite",
    (s, d) =>
      Dedup.chunkRewrite(fanOut(s, documents(s, d)), "doc_id", "text",
          width = 5)
        .orderBy("doc_id"),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      ch AS (
        SELECT doc_id, cpos,
               array_to_string(ws[cpos*5+1 : cpos*5+5], ' ') AS chunk
        FROM (SELECT doc_id, ws,
                     unnest(generate_series(0, (len(ws)+4)//5 - 1)) AS cpos
              FROM w)
      ),
      r AS (SELECT doc_id, cpos, chunk,
                   row_number() OVER (PARTITION BY chunk
                                      ORDER BY doc_id, cpos) AS rn
            FROM ch)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
             coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                                 ORDER BY cpos), '') AS new_text
      FROM r
      GROUP BY doc_id
      ORDER BY doc_id
    """))

  /** One unrolled BPE round in the oracle's dialect, step `i`: pair
    * counts → argmax (freq DESC, then lexicographically greatest pair)
    * → greedy non-overlapping merge. The merge's sequential "skip the
    * position a previous match consumed" rule is relational here: a run
    * of CONSECUTIVE matching positions only exists when lhs = rhs (a
    * same-symbol run), and greedy left-to-right then merges exactly the
    * odd offsets within each run — gaps-and-islands (grp = pos − rank)
    * plus a parity test replays the kernel bit-for-bit. */
  private def bpeStepSql(i: Int): String = s"""
      x$i AS MATERIALIZED (SELECT w, cnt, string_split(w, ' ') AS ls FROM s$i),
      p$i AS MATERIALIZED (SELECT l, r, CAST(sum(cnt) AS BIGINT) AS freq FROM (
                SELECT ls[pos] AS l, ls[pos+1] AS r, cnt
                FROM (SELECT cnt, ls,
                             unnest(generate_series(1, len(ls)-1)) AS pos
                      FROM x$i WHERE len(ls) >= 2) AS e$i) AS pe$i
              GROUP BY l, r),
      m$i AS MATERIALIZED (SELECT l, r, freq FROM p$i
              ORDER BY freq DESC, l DESC, r DESC LIMIT 1),
      q$i AS MATERIALIZED (SELECT w, cnt, pos, ls[pos] AS sym,
                     CASE WHEN pos < len(ls) AND ls[pos] = m.l
                               AND ls[pos+1] = m.r
                          THEN 1 ELSE 0 END AS mt
              -- LEFT JOIN ON TRUE, not a cross join: when merges exhaust
              -- before the unrolled rounds do, m$i is EMPTY and a cross
              -- join would wipe the word table (s${i + 1} empty, the
              -- encode dictionary with it); the left join keeps every
              -- word with NULL m.l/m.r -> mt = 0 -> the round is an
              -- identity rewrite, matching the trainer's early stop
              FROM (SELECT w, cnt, ls,
                           unnest(generate_series(1, len(ls))) AS pos
                    FROM x$i) AS t$i LEFT JOIN m$i AS m ON TRUE),
      g$i AS MATERIALIZED (SELECT w, cnt, pos, sym, mt,
                     CASE WHEN mt = 1
                          THEN pos - row_number() OVER (PARTITION BY w, mt
                                                        ORDER BY pos)
                          ELSE -1 END AS grp
              FROM q$i),
      h$i AS MATERIALIZED (SELECT w, cnt, pos, sym, mt,
                     CASE WHEN mt = 1
                          THEN row_number() OVER (PARTITION BY w, grp
                                                  ORDER BY pos)
                          ELSE 0 END AS rin
              FROM g$i),
      o$i AS MATERIALIZED (SELECT ow, cnt, pos,
                     CASE WHEN mg = 1 THEN sym || nxt
                          WHEN lag(mg) OVER (PARTITION BY ow ORDER BY pos) = 1
                          THEN NULL
                          ELSE sym END AS outsym
              FROM (SELECT w AS ow, cnt, pos, sym,
                           CASE WHEN mt = 1 AND rin % 2 = 1
                                THEN 1 ELSE 0 END AS mg,
                           lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
                    FROM h$i) AS i$i),
      s${i + 1} AS MATERIALIZED (SELECT string_agg(outsym, ' ' ORDER BY pos) AS w,
                           any_value(cnt) AS cnt
                    FROM o$i GROUP BY ow)"""

  /** The BPE oracle's CTE chain, shared by q_bpe_learn, q_bpe_encode
    * and q_fertility: the word-frequency table `w0`, its character-split
    * form `s1`, the 8 unrolled rounds ([[bpeStepSql]], ending in `s9`)
    * and, with `dict`, the final word table as a (word, nt) dictionary.
    * Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    * round reads its predecessor several times, so an inlined chain
    * re-derives every earlier round per reference (the q_kcore lesson;
    * minutes per query at sf0.001, against well under a second
    * materialized). */
  private def bpeChainSql(dict: Boolean): String = s"""
      w0 AS MATERIALIZED (
        SELECT raw, CAST(count(*) AS BIGINT) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS raw FROM documents) AS u0
        WHERE raw <> '' GROUP BY raw),
      s1 AS MATERIALIZED (
             SELECT rtrim(regexp_replace(raw, '(.)', '\\1 ', 'g')) AS w, cnt
             FROM w0),
      ${(1 to 8).map(bpeStepSql).mkString(",")}""" + (if (dict) """,
      dict AS MATERIALIZED (SELECT replace(w, ' ', '') AS word,
                      CAST(len(string_split(w, ' ')) AS BIGINT) AS nt
               FROM s9)""" else "")

  /** Distributed BPE merge training over the corpus vocabulary
    * (Bpe.train scaladoc carries the 100 TB shape: after one corpus
    * reduce to the word-frequency table, every round is bounded by
    * VOCABULARY size, with one pair crossing to the driver per round).
    * The oracle replays all 8 rounds exactly — [[bpeChainSql]] unrolls
    * the loop as chained CTEs, so even this iterative trainer is
    * hash-gated end-to-end rather than verdict-pinned. */
  val bpeLearn = QuerySpec(
    "q_bpe_learn",
    (s, d) => graft.ops.Bpe.train(documents(s, d), "text", nMerges = 8),
    Some(s"""
      WITH ${bpeChainSql(dict = false)}
      SELECT * FROM (
        ${(1 to 8)
          .map(i => s"SELECT $i AS step, l AS lhs, r AS rhs, freq FROM m$i")
          .mkString(" UNION ALL ")}
      ) AS res ORDER BY step
    """))

  /** BPE encode — per-doc subword stats under the 8 trained merges
    * (Bpe.encode scaladoc: encoding is a bounded-dictionary join, the
    * corpus streams once). The oracle extends the same unrolled s-chain
    * one step further: the final word table IS the dictionary, the
    * original word recovered by stripping the symbol separators. */
  val bpeEncode = QuerySpec(
    "q_bpe_encode",
    (s, d) =>
      graft.ops.Bpe.encode(documents(s, d), "doc_id", "text", nMerges = 8)
        .orderBy("doc_id"),
    Some(s"""
      WITH ${bpeChainSql(dict = true)},
      dw AS (SELECT doc_id, raw AS word FROM (
               SELECT doc_id, unnest(string_split(text, ' ')) AS raw
               FROM documents) AS x WHERE raw <> '')
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(nt) AS BIGINT) AS n_tokens,
             CAST(sum(len(word)) AS BIGINT) AS n_chars,
             CAST(sum(len(word)) AS DOUBLE) / CAST(sum(nt) AS DOUBLE)
               AS compression
      FROM dw JOIN dict USING (word)
      GROUP BY doc_id
      ORDER BY doc_id
    """))

  /** BM25 retrieval (Robertson–Spärck Jones; Lucene's ln(1+·) idf so
    * common terms never go negative) — top-15 docs for a fixed 3-term
    * query, k1 = 1.2, b = 0.75. The sparse-retrieval sibling of
    * q_sparse_cosine: tf comes from a term-filtered token explode (the
    * IN-list prunes at the scan), df/N/avgdl are three tiny aggregates
    * broadcast back, and the top-k is a TakeOrdered — at 100 TB this is
    * one filtered pass over the posting-shaped data, no global state.
    *
    * Score portability: mul/div are correctly rounded IEEE everywhere,
    * so the ONLY cross-engine drift is ln's last ulp (≈1e-15 relative);
    * the compared output is therefore integer-only (ids + exact tf/dl
    * stats) with the score used for SELECTION, where the measured
    * rank-15/16 margin is ≥ 7.6e-5 on every SF — ten orders above the
    * noise (the aresKey discipline; the house rule keeps ln out of
    * compared floats). Both engines spell the score with IDENTICAL
    * expression text/associativity, so even the ulp drift is confined
    * to ln itself. */
  val bm25 = QuerySpec(
    "q_bm25",
    (s, d) => {
      val terms = Seq("vector", "stream", "hash")
      val toks = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val stats = documents(s, d).agg(count(lit(1)).as("n"))
        .crossJoin(dl.agg(
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")))
      val tf = toks.filter(col("t").isin(terms: _*))
        .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
      val idf = log(lit(1.0) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      val score = idf * col("tf") * lit(2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
      tf.join(broadcast(df), "t")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("__s", score)
        .groupBy("doc_id")
        .agg(sum(col("__s")).as("__score"),
          count(lit(1)).as("n_terms"),
          sum(col("tf")).as("tf_sum"),
          first(col("dl")).as("dl"))
        .orderBy(col("__score").desc, col("doc_id"))
        .limit(15)
        .select("doc_id", "n_terms", "tf_sum", "dl")
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                    FROM documents),
      dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks
             GROUP BY doc_id),
      stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       (SELECT CAST(sum(dl) AS DOUBLE) / count(*) FROM dl)
                         AS avgdl
                FROM documents),
      tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf FROM toks
             WHERE t IN ('vector', 'stream', 'hash') GROUP BY doc_id, t),
      df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
      sc AS (SELECT tf.doc_id,
                    sum( ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
                         * tf.tf * 2.2
                         / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) )
                      AS score,
                    CAST(count(*) AS BIGINT) AS n_terms,
                    CAST(sum(tf.tf) AS BIGINT) AS tf_sum,
                    any_value(dl.dl) AS dl
             FROM tf JOIN df USING (t) JOIN dl USING (doc_id)
                  CROSS JOIN stats s
             GROUP BY tf.doc_id)
      SELECT doc_id, n_terms, tf_sum, dl FROM (
        SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 15) AS top
      ORDER BY doc_id
    """))

  /** Character-level Shannon entropy (E4 quality signal — randomness/
    * repetitiveness: templated text scores low, dense IDs and encoded
    * blobs high). Exact-oracle form: the fixed-alphabet histogram is 37
    * length-difference counts (pure codegen'd column expression — no
    * explode, no shuffle, one pass), the entropy sum is term-for-term
    * mirrored in DuckDB by [[graft.ops.Text.charEntropySql]], and both
    * sides round to 6 decimals to absorb the engines' log2 ulp. */
  val charEntropy = QuerySpec(
    "q_char_entropy",
    (s, d) =>
      documents(s, d)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          round(Text.charEntropy(col("text")), 6).as("entropy_bits"))
        .orderBy("doc_id"),
    Some(s"""
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             round(${Text.charEntropySql("text")}, 6) AS entropy_bits
      FROM documents
      ORDER BY doc_id
    """))

  /** Unicode canonicalization through the gate: every doc gets a suffix
    * exercising a distinct NFC arm — combining acute/diaeresis/ring that
    * must compose, a precomposed form that must pass through untouched,
    * plain ASCII (the zero-allocation fast path), a double-accent where
    * only the FIRST mark composes, and an embedded control char that the
    * post-normalize control strip must remove. The oracle replays the
    * exact construction with chr() codepoints and DuckDB's utf8proc
    * nfc_normalize — byte-identical or the hash gate fails. Lengths are
    * codepoint counts in both engines, so raw vs normalized length pins
    * WHERE composition happened, not just that bytes changed. */
  val unicodeNorm = QuerySpec(
    "q_unicode_norm",
    (s, d) => {
      val variants = array(
        lit("cafe\u0301"), // e + combining acute -> caf\u00e9 (5 -> 4 cp)
        lit("caf\u00e9"), // already NFC: must pass through untouched
        lit("u\u0308ber"), // u + combining diaeresis -> \u00fcber
        lit("A\u030angstro\u0308m"), // two marks, both compose (10 -> 9)
        lit("plain"), // ASCII fast path (no allocation)
        lit("be\u0007ll e\u0301\u0301")) // BEL + only first mark composes
      val raw = element_at(variants, (col("doc_id") % 6 + 1).cast("int"))
      val nfc = graft.functions.NfcNormalize.nfc_normalize(raw)
      documents(s, d)
        .select(
          col("doc_id"),
          length(raw).cast("long").as("raw_cp"),
          length(nfc).cast("long").as("nfc_cp"),
          nfc.as("nfc_text"),
          regexp_replace(nfc, "[\\x01-\\x1f]", "").as("clean_text"))
        .orderBy("doc_id")
    },
    Some("""
      WITH raw AS (
        SELECT doc_id,
               CASE CAST(doc_id % 6 AS INTEGER)
                 WHEN 0 THEN 'cafe' || chr(769)
                 WHEN 1 THEN 'caf' || chr(233)
                 WHEN 2 THEN 'u' || chr(776) || 'ber'
                 WHEN 3 THEN 'A' || chr(778) || 'ngstro' || chr(776) || 'm'
                 WHEN 4 THEN 'plain'
                 ELSE 'be' || chr(7) || 'll e' || chr(769) || chr(769)
               END AS s
        FROM documents
      )
      SELECT doc_id,
             CAST(length(s) AS BIGINT) AS raw_cp,
             CAST(length(nfc_normalize(s)) AS BIGINT) AS nfc_cp,
             nfc_normalize(s) AS nfc_text,
             regexp_replace(nfc_normalize(s), '[\x01-\x1f]', '', 'g')
               AS clean_text
      FROM raw
      ORDER BY doc_id
    """))

  /** Shingle-novelty curve — per doc, the fraction of its 3-shingles the
    * corpus has NOT seen in any earlier doc (arrival order = doc_id):
    * the freshness signal that separates new content from remixes of
    * what's already collected, and the complement of boilerplate df.
    * Rides the [[shingledDocs]] cache; one first-occurrence aggregate
    * (min doc_id per shingle) + a posting join back. At 100 TB the
    * first-seen table IS the incremental dedup index the pipeline
    * already maintains. Docs with zero shingles are absent, not
    * zero-padded (nothing to score). The ratio is one IEEE division of
    * exact ints — portable unrounded. */
  val novelty = QuerySpec(
    "q_novelty",
    (s, d) => {
      val posts = shingledDocs(s, d)
        .select(col("doc_id"), explode(col("sh")).as("s"))
      val first = posts.groupBy("s").agg(min("doc_id").as("first_doc"))
      posts.join(first, "s")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast("double") / col("n_shingles").cast("double"))
        .orderBy("doc_id")
    },
    Some("""
      WITH sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS sh
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      ),
      posts AS (SELECT doc_id, unnest(sh) AS s FROM sh),
      fst AS (SELECT s, min(doc_id) AS first_doc FROM posts GROUP BY 1)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
             CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
      FROM posts JOIN fst USING (s)
      GROUP BY doc_id
      ORDER BY doc_id
    """))

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval
    * rankings — THE standard hybrid-search combiner (lexical + prior
    * here; lexical + vector in a RAG stack): rrf(d) = Σ_r 1/(60 +
    * rank_r(d)) over the rankings that retrieved d in their top-20.
    * Both input rankings order by EXACT integers (query-term tf;
    * document length) with doc_id tie-breaks, so every rank — and
    * therefore every fused score, a fixed two-term IEEE sum of exact
    * reciprocals — replays bit-for-bit in the oracle; no ln-ordered
    * scores feed a compared ordering. Scale: each leg is a bounded
    * top-k (posting-list-bounded matched set / TakeOrdered), the rank
    * window runs over ≤ 20 rows, and the fuse is a 20∪20-row outer
    * join. Absent-in-ranking is rank 0 (sentinel), contributing 0. */
  val rrfFusion = QuerySpec(
    "q_rrf_fusion",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val terms = Seq("data", "model")
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
        .filter(col("t").isin(terms: _*))
        .groupBy("doc_id").agg(count(lit(1)).as("tf"))
      val topA = tf.orderBy(col("tf").desc, col("doc_id")).limit(20)
        .withColumn("ra", row_number().over(
          Window.orderBy(col("tf").desc, col("doc_id"))))
        .select("doc_id", "ra")
      val topB = documents(s, d).select("doc_id", "n_chars")
        .orderBy(col("n_chars").desc, col("doc_id")).limit(20)
        .withColumn("rb", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id"))))
        .select("doc_id", "rb")
      topA.join(topB, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("ra"), lit(0)).as("ra"),
          coalesce(col("rb"), lit(0)).as("rb"),
          (when(col("ra").isNotNull, lit(1.0) / (col("ra") + 60))
            .otherwise(lit(0.0)) +
            when(col("rb").isNotNull, lit(1.0) / (col("rb") + 60))
              .otherwise(lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },
    Some("""
      WITH tf AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t IN ('data', 'model')
        GROUP BY doc_id
      ),
      ta AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY tf DESC, doc_id)
                            AS INTEGER) AS ra
        FROM tf ORDER BY tf DESC, doc_id LIMIT 20
      ),
      tb AS (
        SELECT doc_id, CAST(row_number()
                 OVER (ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rb
        FROM documents ORDER BY n_chars DESC, doc_id LIMIT 20
      ),
      fused AS (
        SELECT coalesce(ta.doc_id, tb.doc_id) AS doc_id,
               coalesce(ta.ra, 0) AS ra, coalesce(tb.rb, 0) AS rb,
               (CASE WHEN ta.ra IS NOT NULL
                     THEN CAST(1.0 AS DOUBLE) / (ta.ra + 60)
                     ELSE CAST(0.0 AS DOUBLE) END
                + CASE WHEN tb.rb IS NOT NULL
                       THEN CAST(1.0 AS DOUBLE) / (tb.rb + 60)
                       ELSE CAST(0.0 AS DOUBLE) END) AS rrf
        FROM ta FULL OUTER JOIN tb ON ta.doc_id = tb.doc_id
      )
      SELECT doc_id, ra, rb, rrf FROM fused
      ORDER BY rrf DESC, doc_id
      LIMIT 10
    """))

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999 empirical study) — the smoothing that actually
    * ships in n-gram LMs, upgrading [[bigramLm]]'s raw MLE: the bigram
    * count is discounted by d = 0.75 and the freed mass backs off to
    * the CONTINUATION unigram — how many distinct contexts a word
    * completes, N1+(·w2)/|bigram types| — rather than raw frequency
    * (the "San Francisco" argument: "Francisco" is frequent but only
    * ever follows "San", so its continuation probability is tiny).
    *   P_KN(w2|w1) = (c −d)/c1 + d·N1+(w1·)/c1 · N1+(·w2)/T
    * Every factor is an exact integer aggregate (count, distinct-count
    * on already-distinct keys, type total); the probability is a fixed
    * 7-op IEEE sequence on their double casts, written identically in
    * the oracle. All frames are map-side-combinable aggregates of the
    * bigram-count frame — vocab²-bounded, corpus-frequency distributed;
    * nothing re-touches the corpus after the one bigram count. */
  val knBigram = QuerySpec(
    "q_kn_bigram",
    (s, d) => {
      val big = fanOut(s, documents(s, d))
        .select(explode(Text.shingles(Text.tokens(col("text")), 2)).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cnt"))
        .select(
          substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"),
          col("cnt"))
        .cache()
      val starts = big.groupBy("w1")
        .agg(sum("cnt").as("c1"), count(lit(1)).as("n_follow"))
      val cont = big.groupBy("w2").agg(count(lit(1)).as("n_prec"))
      val types = big.agg(count(lit(1)).as("bg_types"))
      big.join(starts, "w1").join(cont, "w2").crossJoin(broadcast(types))
        .select(col("w1"), col("w2"), col("cnt"), col("c1"),
          col("n_follow"), col("n_prec"),
          ((col("cnt").cast("double") - 0.75) / col("c1").cast("double")
            + lit(0.75) * col("n_follow").cast("double")
              / col("c1").cast("double")
              * (col("n_prec").cast("double") / col("bg_types").cast("double")))
            .as("p_kn"))
        .orderBy(col("cnt").desc, col("w1").asc, col("w2").asc)
        .limit(30)
    },
    Some("""
      WITH bg AS (
        SELECT split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
               CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(list_transform(range(1, len(toks)),
                              i -> array_to_string(toks[i:i+1], ' '))) AS bg
              FROM (SELECT list_filter(string_split_regex(lower(text), '\W+'),
                                       t -> t <> '') AS toks
                    FROM documents))
        GROUP BY bg
      ),
      starts AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS c1,
                        CAST(count(*) AS BIGINT) AS n_follow
                 FROM bg GROUP BY w1),
      cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec
               FROM bg GROUP BY w2),
      types AS (SELECT CAST(count(*) AS BIGINT) AS bg_types FROM bg)
      SELECT w1, w2, cnt, c1, n_follow, n_prec,
             (CAST(cnt AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
               + 0.75 * CAST(n_follow AS DOUBLE) / CAST(c1 AS DOUBLE)
                 * (CAST(n_prec AS DOUBLE) / CAST(bg_types AS DOUBLE))
               AS p_kn
      FROM bg JOIN starts USING (w1) JOIN cont USING (w2)
      CROSS JOIN types
      ORDER BY cnt DESC, w1 ASC, w2 ASC
      LIMIT 30
    """))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS algorithm): per document, hash every 3-gram, slide a window
    * of w = 4 consecutive hashes, keep each window's MINIMUM — the
    * guarantee the paper proves is that any shared run of ≥ w+k−1
    * tokens yields at least one SHARED fingerprint, so local overlap
    * detection needs only an equi-join on selected fingerprints, never
    * position alignment. The k-gram hash is md5 (hex string — the one
    * hash both engines spell identically), so "minimum" is
    * lexicographic min, deterministic everywhere. Pairs sharing ≥ 3
    * distinct fingerprints surface, scored by the shared count.
    * Scale shape: fingerprinting is pure per-row expression work
    * (array HOFs inside codegen — ~|tokens| hashes + |tokens| window
    * mins per doc); the pair join runs on the winnowed posting list
    * (w× smaller than the k-gram set, the paper's point) keyed by
    * fingerprint — the q_dedup_near posting-join shape with the
    * density cap inherent to selection. */
  val winnowFp = QuerySpec(
    "q_winnow_fp",
    (s, d) => {
      val k = 3; val w = 4
      val fps = fanOut(s, documents(s, d))
        .filter(col("text").isNotNull)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= k + w - 1)
        .select(col("doc_id"),
          expr(s"""transform(sequence(1, size(toks) - ${k - 1}),
                     i -> md5(concat_ws(' ', slice(toks, i, $k))))""")
            .as("kg"))
        .select(col("doc_id"),
          explode(array_distinct(
            expr(s"""transform(sequence(1, size(kg) - ${w - 1}),
                       i -> array_min(slice(kg, i, $w)))""")))
            .as("fp"))
        // corpus-proportional posting list feeding both join sides:
        // localCheckpoint (reclaimed on dereference), never a leaked cache
        .localCheckpoint()
      val pairs = fps.as("x").join(fps.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 3)
      pairs.orderBy(col("shared_fps").desc, col("doc_a"), col("doc_b"))
        .limit(30)
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'),
                           t -> t <> '') AS toks
        FROM documents WHERE text IS NOT NULL
      ),
      kg AS (
        SELECT doc_id,
               list_transform(range(1, len(toks) - 1),
                 i -> md5(array_to_string(toks[i:i+2], ' '))) AS kg
        FROM toks WHERE len(toks) >= 6
      ),
      fps AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(kg) - 2),
                 i -> list_min(kg[i:i+3])))) AS fp
        FROM kg
      ),
      pairs AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM fps x JOIN fps y
          ON x.fp = y.fp AND x.doc_id < y.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 3
      )
      SELECT doc_a, doc_b, shared_fps
      FROM pairs
      ORDER BY shared_fps DESC, doc_a, doc_b
      LIMIT 30
    """))



  /** Vocabulary coverage curve — the tokenizer-design read: what share
    * of all token OCCURRENCES does a top-k frequency vocabulary cover,
    * for k ∈ {10, 20, 50, 100, 200}? (The OOV-rate complement; Zipf
    * corpora typically cover >90% with a few hundred types — this
    * corpus's small synthetic vocabulary saturates early, which the
    * curve shows honestly.) Types rank by (count DESC, token) — a
    * total order, so the cumulative sum is deterministic; rank and
    * cumsum come from [[graft.ops.Ranks.globalCumsum]]'s literal-
    * cutpoint buckets over the descCountKey order-embedding (r12: the
    * vocabulary frame GROWS with the corpus — web-scale type counts are
    * billions — so the former unpartitioned rank/cumsum window was the
    * one single-task stage left in this query; the distributed form is
    * rank- and sum-identical because ranks are order-only and the
    * running sums are exact integers). Coverage is exact-integer
    * cumsum / total, one division per k. */
  val vocabCoverage = QuerySpec(
    "q_vocab_coverage",
    (s, d) => {
      // materialized ONCE: the vocab aggregate feeds the cutpoint
      // sample, the bucket pass, and the totals row (globalRank's
      // materialize-expensive-upstreams contract)
      val vocab = graft.ops.Checkpoints.materialize(
        fanOut(s, documents(s, d))
          .select(explode(Text.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt")))
      val keyed = vocab.withColumn("__vk",
        graft.ops.Ranks.descCountKey(col("cnt"), col("tok")))
      val nParts = s.sessionState.conf.numShufflePartitions
      val ranked = graft.ops.Ranks
        .globalCumsum(keyed, Seq(col("__vk")), nParts,
          Seq("cum" -> "cnt"), rankCol = Some("__rk"))
        .withColumn("rk", col("__rk").cast("int")) // row_number()'s INT
        .drop("__vk", "__rk")
      val tot = vocab.agg(sum("cnt").as("n_occ"),
        count(lit(1)).as("n_types"))
      import s.implicits._
      Seq(10, 20, 50, 100, 200).toDF("k")
        .join(ranked, col("rk") <= col("k"), "left")
        .groupBy("k")
        .agg(max("cum").as("covered"), max("rk").as("types_used"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n_types"), col("n_occ"),
          coalesce(col("types_used"), lit(0)).as("types_used"),
          coalesce(col("covered"), lit(0L)).as("covered"),
          (coalesce(col("covered"), lit(0L)).cast("double")
            / col("n_occ").cast("double")).as("coverage"))
        .orderBy("k")
    },
    Some("""
      WITH vocab AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                  t -> t <> '')) AS tok
        FROM documents
      ),
      cnts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
               FROM vocab GROUP BY 1),
      ranked AS (
        SELECT tok, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INTEGER)
                 AS rk,
               CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum
        FROM cnts
      ),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_occ,
                     CAST(count(*) AS BIGINT) AS n_types FROM cnts),
      ks AS (SELECT CAST(unnest([10, 20, 50, 100, 200]) AS INTEGER) AS k)
      SELECT k, tot.n_types, tot.n_occ,
             CAST(coalesce(max(rk), 0) AS INTEGER) AS types_used,
             CAST(coalesce(max(cum), 0) AS BIGINT) AS covered,
             CAST(coalesce(max(cum), 0) AS DOUBLE) / CAST(tot.n_occ AS DOUBLE)
               AS coverage
      FROM ks LEFT JOIN ranked ON ranked.rk <= ks.k
      CROSS JOIN tot
      GROUP BY k, tot.n_occ, tot.n_types
      ORDER BY k
    """))



  /** Weighted (multiset) Jaccard over 3-shingle term frequencies —
    * what set-Jaccard loses on repetitive documents: Σ min(tf_a, tf_b)
    * / Σ max(tf_a, tf_b), the histogram-intersection similarity. Two
    * stages, the PPJoin candidate/verify discipline: candidates come
    * from a DF-CAPPED posting join (shingles in ≤ 20 docs — Σdf²
    * bounded, the Zipf head never joins), then the score is computed
    * EXACTLY over the candidates' FULL tf vectors (the cap bounds the
    * join, never the answer on surviving pairs; a pair sharing only
    * head shingles is invisible — the q_dedup_near trade, documented
    * there). Σmax never materializes: Σmax = tot_a + tot_b − Σmin,
    * so the score is integer sums and ONE division; the ≥ 0.4
    * threshold applies as the cross-multiplied integer test
    * 5·Σmin ≥ 2·(tot_a + tot_b − Σmin).
    *
    * Σmin SPLITS BY DOCUMENT FREQUENCY instead of re-joining pairs
    * to (doc, shingle) rows: 3-word shingles are Zipf-tailed, so
    * almost every shingle is rare (df ≤ 20) and its min(tf_a, tf_b)
    * term is computable EXACTLY inside the posting join that
    * discovers the pair — the same shuffle that candidate
    * generation already pays, aggregated as `sum(least(tfa, tfb))`
    * instead of `distinct`. Only the handful of HEAD shingles
    * (df > 20) per doc ride along as a row-sized map for the
    * correction term, folded map-side by `map_zip_with`. Identical
    * answer (Σmin = Σ_rare min + Σ_head min over shared keys), but
    * the per-pair work drops from merging two full tf vectors to a
    * few head entries: 10.5 s → ~3 s at sf0.1 measured against the
    * pair-to-rows join this replaces. */
  val weightedJaccard = QuerySpec(
    "q_weighted_jaccard",
    (s, d) => {
      val tf = fanOut(s, documents(s, d))
        .select(col("doc_id"),
          explode(Text.shingles(Text.tokens(col("text")), 3)).as("sh"))
        .groupBy("doc_id", "sh").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("sh").agg(count(lit(1)).as("df"))
      val flagged = tf.join(df, "sh")
        .withColumn("rare", col("df") <= 20)
        .localCheckpoint()
      val rare = flagged.filter(col("rare"))
      val pairRare = rare
        .select(col("sh"), col("doc_id").as("a"), col("tf").as("tfa"))
        .join(rare.select(col("sh"), col("doc_id").as("b"),
          col("tf").as("tfb")), "sh")
        .filter(col("a") < col("b"))
        .groupBy("a", "b")
        .agg(sum(least(col("tfa"), col("tfb"))).as("rmin"))
      // Per-doc stats: total tf mass + the head-shingle (df > 20) tf map.
      // collect_list drops the nulls the `when` leaves on rare rows.
      val docStats = flagged.groupBy("doc_id")
        .agg(sum("tf").as("tot"),
          map_from_entries(collect_list(
            when(!col("rare"), struct(col("sh"), col("tf"))))).as("hm"))
        .localCheckpoint()
      pairRare
        .join(docStats.select(col("doc_id").as("a"), col("hm").as("ha"),
          col("tot").as("tot_a")), "a")
        .join(docStats.select(col("doc_id").as("b"), col("hm").as("hb"),
          col("tot").as("tot_b")), "b")
        // NOT coalesce(least(x,y),0): Spark's `least` SKIPS nulls (returns
        // the smallest NON-null arg), so a key present on one side only
        // would contribute its full tf instead of 0.
        .withColumn("smin", col("rmin") + aggregate(
          map_values(map_zip_with(col("ha"), col("hb"),
            (_, x, y) => when(x.isNull.or(y.isNull), lit(0L))
              .otherwise(least(x, y)))),
          lit(0L), (acc, v) => acc + v))
        .filter(col("smin") * 5 >= (col("tot_a") + col("tot_b")
          - col("smin")) * 2)
        .select(col("a"), col("b"), col("smin"),
          (col("tot_a") + col("tot_b") - col("smin")).as("smax"),
          (col("smin").cast("double") /
            (col("tot_a") + col("tot_b") - col("smin")).cast("double"))
            .as("wjac"))
        .orderBy(col("wjac").desc, col("a"), col("b"))
        .limit(30)
    },
    Some("""
      WITH tf AS (
        SELECT doc_id, sh, CAST(count(*) AS BIGINT) AS tf
        FROM (
          SELECT doc_id,
                 unnest(CASE WHEN len(toks) >= 3
                   THEN list_transform(range(1, len(toks) - 1),
                          i -> array_to_string(toks[i:i+2], ' '))
                   ELSE [] END) AS sh
          FROM (SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '\W+'),
                                   t -> t <> '') AS toks
                FROM documents)
        )
        GROUP BY 1, 2
      ),
      tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tot
              FROM tf GROUP BY 1),
      df AS (SELECT sh FROM tf GROUP BY sh HAVING count(*) <= 20),
      rare AS (SELECT tf.* FROM tf JOIN df USING (sh)),
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM rare x JOIN rare y ON x.sh = y.sh AND x.doc_id < y.doc_id
      ),
      inter AS (
        SELECT c.a, c.b,
               CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS smin
        FROM cand c
        JOIN tf ta ON ta.doc_id = c.a
        JOIN tf tb ON tb.doc_id = c.b AND tb.sh = ta.sh
        GROUP BY 1, 2
      )
      SELECT i.a, i.b, i.smin,
             x.tot + y.tot - i.smin AS smax,
             CAST(i.smin AS DOUBLE) / CAST(x.tot + y.tot - i.smin AS DOUBLE)
               AS wjac
      FROM inter i
      JOIN tot x ON x.doc_id = i.a
      JOIN tot y ON y.doc_id = i.b
      WHERE i.smin * 5 >= (x.tot + y.tot - i.smin) * 2
      ORDER BY wjac DESC, i.a, i.b
      LIMIT 30
    """))

  /** Flesch reading ease per document — the classic readability screen a
    * curation pipeline runs next to [[qualityScore]]: 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words), with syllables
    * approximated as VOWEL-GROUP runs ([aeiouy]+ on the lowercased text)
    * and sentences as terminal-punctuation runs (floored at 1). All
    * three counts are exact integers from `regexp_count` (one scan per
    * doc, embarrassingly parallel — the fanOut note on [[textStats]]
    * applies); the score is one double expression both engines evaluate
    * identically, rounded at 1e-6. */
  val flesch = QuerySpec(
    "q_flesch",
    (s, d) => {
      val lowered = lower(col("text"))
      val words = regexp_count(lowered, lit("[a-z]+"))
      val syll = regexp_count(lowered, lit("[aeiouy]+"))
      val sent = greatest(lit(1), regexp_count(col("text"), lit("[.!?]+")))
      documents(s, d)
        .select(col("doc_id"), words.cast("long").as("words"),
          sent.cast("long").as("sentences"),
          syll.cast("long").as("syllables"))
        .filter(col("words") > 0)
        .withColumn("flesch", round(
          lit(206.835) -
            lit(1.015) * (col("words").cast("double") /
              col("sentences").cast("double")) -
            lit(84.6) * (col("syllables").cast("double") /
              col("words").cast("double")), 6))
        .orderBy("doc_id")
    },
    Some("""
      WITH c AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+'))
                 AS BIGINT) AS words,
               CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                 AS BIGINT) AS sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                 AS BIGINT) AS syllables
        FROM documents
      )
      SELECT doc_id, words, sentences, syllables,
             round(206.835
                   - 1.015 * (CAST(words AS DOUBLE)
                              / CAST(sentences AS DOUBLE))
                   - 84.6 * (CAST(syllables AS DOUBLE)
                             / CAST(words AS DOUBLE)), 6) AS flesch
      FROM c
      WHERE words > 0
      ORDER BY doc_id
    """))

  /** Zipf slope of the corpus rank–frequency curve — how head-heavy is
    * the vocabulary? OLS on (ln rank, ln count) over the TOP-200 tokens:
    * the top-k is a TakeOrdered (never a global window over the
    * vocabulary), and the 200-row regression frame is bounded by the
    * constant, not the corpus. Each transcendental quantizes ONCE to
    * nano-units (round(ln·10⁹) — engines' ln agree far past the 1e-9
    * boundary), after which the five OLS sums are exact DECIMAL(38,0)
    * and the slope is one double division, rounded at 1e-6. A healthy
    * natural-language corpus sits near −1. */
  val zipfSlope = QuerySpec(
    "q_zipf_slope",
    (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val top = fanOut(s, documents(s, d))
        .select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(200)
      val ranked = top
        .withColumn("rk", row_number().over(
          W.orderBy(col("cnt").desc, col("tok"))))
        .select(
          expr("CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000000) AS BIGINT)")
            .as("x"),
          expr("CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000000) AS BIGINT)")
            .as("y"))
      val d38 = "decimal(38,0)"
      val st = ranked.agg(count(lit(1)).as("n"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"),
        sum(col("x").cast(d38) * col("y")).as("sxy"))
      st.select(col("n"),
        round((col("n").cast(d38) * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n").cast(d38) * col("sxx") - col("sx") * col("sx"))
          .cast("double"), 6).as("slope"))
    },
    Some("""
      WITH top AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        FROM (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'),
                                    t -> t <> '')) AS tok
          FROM documents
        )
        GROUP BY tok
        ORDER BY cnt DESC, tok
        LIMIT 200
      ),
      ranked AS (
        SELECT CAST(round(ln(CAST(row_number()
                 OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) * 1000000000)
                 AS BIGINT) AS x,
               CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000000) AS BIGINT)
                 AS y
        FROM top
      ),
      st AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
                 AS sxx,
               CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
                 AS sxy
        FROM ranked
      )
      SELECT n,
             round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
                   / CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
                     AS DOUBLE), 6) AS slope
      FROM st
    """))

  /** Tokenizer fertility by language — subword tokens per whitespace
    * word under [[bpeLearn]]'s 8 trained merges, split by the `lang`
    * column: the metric that tells you which languages your tokenizer
    * punishes (fertility ≫ 1 ⇒ more sequence length per word ⇒ more
    * compute per sentence). Rides [[bpeEncode]]'s bounded-dictionary
    * join (corpus streams once; the dictionary is vocabulary-sized),
    * aggregated per language instead of per doc — exact integer sums,
    * two single-division ratios. The oracle extends the same unrolled
    * merge chain. */
  val fertility = QuerySpec(
    "q_fertility",
    (s, d) => {
      val enc = graft.ops.Bpe.encode(documents(s, d), "doc_id", "text",
        nMerges = 8)
      enc.join(documents(s, d).select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("n_words"),
          sum("n_tokens").as("n_tokens"),
          sum("n_chars").as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_tokens"),
          round(col("n_tokens").cast("double") /
            col("n_words").cast("double"), 6).as("fertility"),
          round(col("n_chars").cast("double") /
            col("n_tokens").cast("double"), 6).as("chars_per_token"))
        .orderBy("lang")
    },
    Some(s"""
      WITH ${bpeChainSql(dict = true)},
      dw AS (SELECT doc_id, raw AS word FROM (
               SELECT doc_id, unnest(string_split(text, ' ')) AS raw
               FROM documents) AS x WHERE raw <> ''),
      perdoc AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               CAST(sum(len(word)) AS BIGINT) AS n_chars
        FROM dw JOIN dict USING (word)
        GROUP BY doc_id
      )
      SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(p.n_words) AS BIGINT) AS n_words,
             CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
             round(CAST(sum(p.n_tokens) AS DOUBLE)
                   / CAST(sum(p.n_words) AS DOUBLE), 6) AS fertility,
             round(CAST(sum(p.n_chars) AS DOUBLE)
                   / CAST(sum(p.n_tokens) AS DOUBLE), 6) AS chars_per_token
      FROM perdoc p JOIN documents d USING (doc_id)
      GROUP BY d.lang
      ORDER BY d.lang
    """))

  /** Heaps-law exponent of vocabulary growth — V(N) ≈ K·N^β, the
    * companion curve to [[zipfSlope]]'s rank–frequency read and the
    * planning number behind "how big does the vocab get at 10× data?".
    * The unit is 3-word SHINGLES, not unigrams — the synthetic corpus
    * has a ~31-word closed vocabulary that saturates instantly (β = 0,
    * a degenerate fit), while its shingle space keeps growing, so the
    * gate exercises a live curve; on real text the same query runs on
    * whichever unit the vocab plan needs. Eight doc-prefix checkpoints
    * k_j = ⌈n·j/8⌉ need only TWO bounded aggregates: V(k) = shingles
    * whose FIRST-occurrence doc_id < k (one min per shingle), N(k) =
    * Σ shingle counts of docs with doc_id < k — no per-prefix corpus
    * rescan. ln N and ln V quantize once to nano-units and the OLS
    * over the 8-point frame is exact DECIMAL(38,0) ([[zipfSlope]]'s
    * discipline). */
  val heapsLaw = QuerySpec(
    "q_heaps_law",
    (s, d) => {
      import s.implicits._
      // checkpoint the exploded shingles ONCE: both the first-occurrence
      // and per-doc aggregates read it, and the shingling pass is the
      // whole cost of this query
      val toks = fanOut(s, documents(s, d))
        .select(col("doc_id"),
          explode(Text.shingles(Text.tokens(col("text")), 3)).as("tok"))
        .localCheckpoint()
      val firstDoc = toks.groupBy("tok").agg(min("doc_id").as("fd"))
      val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("nt"))
      // max over an EMPTY corpus is NULL — 0 checkpoints then (the joins
      // below drop k=0 exactly as the oracle's NULL ks drop)
      val nRow = documents(s, d).agg(max(col("doc_id")) + 1).head()
      val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
      val ks = (1 to 8).map(j => math.ceil(n * j / 8.0).toLong)
      val kdf = ks.toDF("k")
      val vk = kdf.join(firstDoc, col("fd") < col("k"))
        .groupBy("k").agg(count(lit(1)).as("v"))
      val nk = kdf.join(perDoc, col("doc_id") < col("k"))
        .groupBy("k").agg(sum("nt").as("nt"))
      val pts = vk.join(nk, "k").select(
        expr("CAST(round(ln(CAST(nt AS DOUBLE)) * 1000000000) AS BIGINT)")
          .as("x"),
        expr("CAST(round(ln(CAST(v AS DOUBLE)) * 1000000000) AS BIGINT)")
          .as("y"),
        col("k"), col("v"), col("nt"))
      val d38 = "decimal(38,0)"
      val st = pts.agg(count(lit(1)).as("np"),
        sum(col("x").cast(d38)).as("sx"), sum(col("y").cast(d38)).as("sy"),
        sum(col("x").cast(d38) * col("x")).as("sxx"),
        sum(col("x").cast(d38) * col("y")).as("sxy"),
        min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        max(col("nt")).as("n_tokens"))
      st.select(col("np").cast("int").as("n_points"),
        col("v_min"), col("v_max"), col("n_tokens"),
        // try_divide: a 1-doc corpus collapses all 8 checkpoints onto one
        // x — zero OLS variance, NULL beta (DuckDB's x/0), no ANSI error
        round(try_divide(
          (col("np").cast(d38) * col("sxy") - col("sx") * col("sy"))
            .cast("double"),
          (col("np").cast(d38) * col("sxx") - col("sx") * col("sx"))
            .cast("double")), 6).as("beta"))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS tok
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      ),
      firstdoc AS (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY tok),
      perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
                 FROM toks GROUP BY doc_id),
      nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
      ks AS (SELECT CAST(ceil(n * j / 8.0) AS BIGINT) AS k
             FROM nn, (SELECT unnest([1,2,3,4,5,6,7,8]) AS j)),
      vk AS (
        SELECT k, CAST(count(*) AS BIGINT) AS v
        FROM ks JOIN firstdoc ON fd < k GROUP BY k
      ),
      nk AS (
        SELECT k, CAST(sum(nt) AS BIGINT) AS nt
        FROM ks JOIN perdoc ON doc_id < k GROUP BY k
      ),
      pts AS (
        SELECT CAST(round(ln(CAST(nk.nt AS DOUBLE)) * 1000000000) AS BIGINT)
                 AS x,
               CAST(round(ln(CAST(vk.v AS DOUBLE)) * 1000000000) AS BIGINT)
                 AS y,
               vk.v, nk.nt
        FROM vk JOIN nk USING (k)
      ),
      st AS (
        SELECT CAST(count(*) AS BIGINT) AS np,
               CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
               CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
               CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
                 AS sxx,
               CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
                 AS sxy,
               CAST(min(v) AS BIGINT) AS v_min,
               CAST(max(v) AS BIGINT) AS v_max,
               CAST(max(nt) AS BIGINT) AS n_tokens
        FROM pts
      )
      SELECT CAST(np AS INTEGER) AS n_points, v_min, v_max, n_tokens,
             round(CAST(CAST(np AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
                   / CAST(CAST(np AS DECIMAL(38,0)) * sxx - sx * sx
                     AS DOUBLE), 6) AS beta
      FROM st
    """))

  /** Meta-evaluation of the MinHash-LSH dedup against the PROVABLY
    * exact prefix-join truth at the same threshold (τ = 1/2, lang-
    * blocked — the q_prefix_join operating point, where prefix
    * filtering actually prunes; at τ = 0.2 it indexes ~80% of every
    * doc and the "truth" side degenerates to the full posting join):
    * a dedup pipeline's recall is a number you measure, not a hope.
    * Structure guarantees precision — minhashNearDups verifies exact
    * Jaccard on every candidate, so its same-lang pairs are a SUBSET
    * of the truth set and n_false_pos = 0 is a pinned invariant (any
    * nonzero means one of the two operators broke). Recall is
    * engine-side (banding rides MinHashSig), so it ships as a verdict:
    * ≥ 0.9 at 16 bands × 2 rows (candidate probability at j = 1/2 is
    * 1 − 0.75¹⁶ ≈ 0.99). Cost honesty: this query RUNS both audited
    * pipelines end-to-end (≈ the sum of q_prefix_join + q_dedup_minhash
    * in the bench) — a meta-evaluation that sampled either side would
    * certify nothing. */
  val dedupEval = QuerySpec(
    "q_dedup_eval",
    (s, d) => {
      val truth = Dedup.prefixJaccardPairs(shingledDocs(s, d), "doc_id",
          "sh", Seq("lang"), tNum = 1, tDen = 2)
        .select("id_a", "id_b")
      val langs = documents(s, d).select(col("doc_id"), col("lang"))
      val lsh = Dedup.minhashNearDups(shingledDocs(s, d), "doc_id", "sh",
          k = 32, bandRows = 2, threshold = 0.5)
        .join(langs.select(col("doc_id").as("id_a"), col("lang").as("la")),
          "id_a")
        .join(langs.select(col("doc_id").as("id_b"), col("lang").as("lb")),
          "id_b")
        .filter(col("la") === col("lb"))
        .select("id_a", "id_b")
      // one full-outer join yields all three counts in a single
      // aggregate, so each dedup pipeline executes exactly once (the
      // first cut re-ran both per count branch — measured 3× cost)
      val t = truth.withColumn("in_t", lit(1L))
      val l = lsh.withColumn("in_l", lit(1L))
      // coalesce at the AGGREGATE level: sum over zero rows is NULL in
      // Spark, but the oracle's count(*) over an empty truth set is 0 —
      // a degenerate (empty-corpus) divergence the count-based form
      // never had. 0 ≥ 0 makes the empty case recall_ok = 1 on both
      // sides.
      t.join(l, Seq("id_a", "id_b"), "full_outer")
        .agg(
          coalesce(sum(coalesce(col("in_t"), lit(0L))), lit(0L))
            .as("n_truth"),
          coalesce(sum(when(col("in_l") === 1 && col("in_t").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("n_false_pos"),
          coalesce(sum(when(col("in_l") === 1 && col("in_t") === 1, 1L)
            .otherwise(0L)), lit(0L)).as("__h"))
        .select(col("n_truth"), col("n_false_pos"),
          (col("__h") * 100L >= col("n_truth") * 90L).cast("int")
            .as("recall_ok"))
    },
    Some("""
      WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(CASE WHEN len(toks) >= 3
                 THEN list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))
                 ELSE [] END) AS sh
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\W+'),
                                 t -> t <> '') AS toks
              FROM documents)
      ),
      posts AS (SELECT doc_id, lang, len(sh) AS sz, unnest(sh) AS s FROM sh),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.sz AS sz_a, b.sz AS sz_b,
                    CAST(count(*) AS BIGINT) AS common
             FROM posts a JOIN posts b
               ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2, 3, 4),
      truth AS (
        SELECT id_a, id_b FROM pr
        WHERE common * 2 >= (sz_a + sz_b - common) * 1
      )
      SELECT CAST(count(*) AS BIGINT) AS n_truth,
             CAST(0 AS BIGINT) AS n_false_pos,
             1 AS recall_ok
      FROM truth
    """))

  /** The SCALABLE end-to-end dedup shape under the hash gate: band-capped
    * MinHash LSH candidates ([[graft.ops.Dedup.minhashNearDups]] with
    * maxBucket STAR-CHAINING) → exact-Jaccard verify → connected
    * components → one representative per cluster. Three clone clusters
    * are PLANTED (sizes 5, 17, 40 — the 17/40 exceed the deliberately
    * small maxBucket=16, so the star path runs inside this gate, not
    * just in specs; the 5-cluster takes the all-pairs path): the three
    * lowest-id docs each replicated with one unique trailing token
    * (near-dups, not exact; clone ids are NEGATIVE, collision-free with
    * the corpus). The verdict per cluster: every member (clones + seed)
    * appears in the component output AND they share exactly one
    * representative — co-clustering is the property the star trade
    * PRESERVES while cutting candidates from |bucket|²/2 to |bucket|−1.
    * Exact cluster SIZE is deliberately not asserted (a seed may have
    * organic near-dups that legitimately join its component).
    * Deterministic end to end (seeded xxhash signatures, exact Jaccard,
    * min-id components), so the constant-true oracle is a real gate. */
  val minhashClusters = QuerySpec(
    "q_minhash_clusters",
    (s, d) => {
      import s.implicits._
      val docs = documents(s, d).select("doc_id", "text")
      // a bounded 3-row collect: the planted-cluster SEEDS are a query
      // parameter (the fixture), not data through the driver
      val seeds = docs.orderBy("doc_id").limit(3)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val sizes = Seq(5, 17, 40)
      val planted = seeds.zipWithIndex.flatMap { case ((_, text), idx) =>
        val k = idx + 1
        (1 to sizes(idx)).map(i =>
          (-(k * 100000L + i), s"$text uqc${k}x$i"))
      }.toSeq.toDF("doc_id", "text")
      val corpus = docs.unionByName(planted)
      val sh = fanOut(s, corpus).select(col("doc_id"),
        array_distinct(graft.ops.Text.shingles(
          graft.ops.Text.tokens(col("text")), 3)).as("sh"))
      val pairs = graft.ops.Dedup.minhashNearDups(sh, "doc_id", "sh",
        k = 32, bandRows = 2, threshold = 0.5, maxBucket = 16)
      val cc = graft.ops.Dedup.components(pairs, "id_a", "id_b")
      val wanted = planted.select(col("doc_id"))
        // integer DIV, not `/` (which is double division in Spark)
        .withColumn("cluster_k", expr("(-doc_id) DIV 100000"))
        .unionByName(seeds.zipWithIndex
          .map { case ((id, _), idx) => (id, (idx + 1).toLong) }.toSeq
          .toDF("doc_id", "cluster_k"))
      wanted.join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .groupBy("cluster_k")
        .agg(count(lit(1)).as("n_expected"),
          count(col("rep")).as("__present"),
          countDistinct(col("rep")).as("__reps"))
        .select(col("cluster_k"), col("n_expected"),
          ((col("__present") === col("n_expected")) &&
            (col("__reps") === 1)).cast("int").as("coclustered_ok"))
        .orderBy("cluster_k")
    },
    Some("""
      SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(6 AS BIGINT), 1),
                            (CAST(2 AS BIGINT), CAST(18 AS BIGINT), 1),
                            (CAST(3 AS BIGINT), CAST(41 AS BIGINT), 1))
        AS t(cluster_k, n_expected, coclustered_ok)
    """))

  val all: Seq[QuerySpec] = Seq(dedupEval, minhashClusters,
    novelty,
    dedupExact, dedupNear, dedupMinhash, dedupSimhash, textStats,
    langId, qualityScore, tokenCount, fingerprint, prepPipeline,
    repetition, piiRedact, decontaminate, dedupClusters, vocabBuild,
    substringDedup, containment, bigramLm, lmScore, giniDiversity,
    featureHash, snmDedup, sqlCustomFuncs, incrementalDedup, chunkRewrite,
    bpeLearn, bpeEncode, bm25, ccLabels, prefixJoin, charEntropy,
    unicodeNorm, rrfFusion, knBigram, winnowFp, vocabCoverage,
    weightedJaccard, flesch, zipfSlope, fertility, heapsLaw)
}