package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline (SURVEY §2b
  * E1/E2): exact (hash groupBy), exact pairwise Jaccard (small-scale truth),
  * and MinHash-LSH banding (the 100 TB path — candidate generation via
  * equi-join on band keys instead of an O(n²) cross product).
  */
object Dedup {

  /** E1: keep the first row (lowest tiebreaker) per normalized-content hash.
    * One shuffle on the 256-bit content hash; survivors keep their input
    * columns. At scale this is the canonical "hash-partition by content
    * digest" dedup — no row ever compares against more than its bucket.
    *
    * NULL content is NOT treated as one shared bucket: md5(NULL) is NULL
    * for every such row, and a plain partition-by would silently collapse
    * ALL missing-text rows into one arbitrary survivor. Rows with NULL
    * content get a per-row key (their tiebreaker) instead — "unknown
    * content" never equals "unknown content", the same reasoning as SQL
    * NULL inequality. */
  def exact(df: DataFrame, text: Column, tiebreak: Column): DataFrame = {
    // Three-arm coalesce: content hash → per-row tiebreak key → last-resort
    // per-row physical id. The middle arm is itself NULL when the tiebreaker
    // is NULL, and without the third arm all NULL-content+NULL-tiebreak rows
    // would share the window's single NULL partition and collapse to one
    // arbitrary survivor — the exact silent collapse this key exists to
    // prevent.
    val key = coalesce(
      md5(lower(trim(text))),
      concat(lit("__null__"), tiebreak.cast("string")),
      concat(lit("__row__"), monotonically_increasing_id().cast("string")))
    val w = Window.partitionBy(key).orderBy(tiebreak)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact set-Jaccard of two string arrays — deterministic rational, safe
    * to hash-compare across engines. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** E2 exact path: similar pairs inside a blocking key (e.g. lang), scored
    * by shingle-set Jaccard — computed via an INVERTED INDEX, not a blocked
    * cross join: explode (block, shingle, doc) postings, group them into
    * one posting list per (block, shingle), emit every doc pair inside
    * each list ([[graft.functions.PostingPairs]]), count common shingles
    * per pair, then jac = common / (|A| + |B| − common).
    *
    * Why: a blocked self-join is O(n² per block) string-array intersects —
    * measured 156 s at sf0.1 and hopeless at 100 TB. The posting lists'
    * pair work is Σ_shingle df² (df = docs containing the shingle; 0.9 M
    * at sf0.1 → sub-second), and the posting stream is read once and
    * shuffled once (on its key, partial lists combined map-side). An
    * equi-self-join of the postings would pay for the stream twice, each
    * side re-exploding (and, capped, re-counting) its input: Spark with
    * AQE never reuses an exchange above a cached input, and the callers'
    * inputs are cached. Pairs sharing ZERO shingles never
    * materialize — identical top-k/threshold results, since those pairs
    * have jac = 0. Hot shingles (huge df) are the known skew risk; the
    * 100 TB mitigation is the df cap below, prefix filtering, or the
    * LSH path.
    *
    * `shingleCol` must hold DISTINCT shingles (callers array_distinct).
    * The result is row-for-row the self-join's: duplicate postings pair
    * as often as the join pairs them, and a NULL block key, shingle or id
    * pairs with nothing (NULL never equi-joins and fails `id_a < id_b`).
    *
    * Output keeps the raw set sizes alongside jac — `common` (|A∩B|),
    * `sz_a`, `sz_b` — so asymmetric scores (containment |A∩B|/min|·|,
    * overlap coefficients) derive from the SAME pair count instead of
    * paying a second pass.
    *
    * `maxDf` is the hot-shingle document-frequency cap — the standard
    * skew guard for posting lists: ONE Zipf-head shingle shared by m
    * docs contributes m²/2 pairs, so at real-corpus scale an uncapped
    * pass OOMs on exactly the shingles that carry the least similarity
    * signal. A (block, shingle) key with more than `maxDf` postings
    * contributes no pairs (work bounded by Σ_{df≤cap} df²). The lists are
    * built by [[graft.functions.CappedCollectList]], which buffers at most
    * `maxDf + 1` postings per key and returns NULL for a key over the
    * cap, so memory is bounded by the cap, not by the hot shingle's df.
    * `common` then undercounts pairs that shared a capped shingle, so
    * jac becomes a LOWER bound of the true Jaccard — capped pairs are a
    * subset of exact pairs, any pair whose capped jac clears a threshold
    * truly clears it, and pairs sharing no capped shingle score exactly
    * (DedupSpec proves all three). Set-size columns stay the FULL set
    * sizes. */
  def jaccardPairs(docs: DataFrame, id: String, shingleCol: String,
      blockCols: Seq[String], maxDf: Option[Int] = None): DataFrame = {
    val keyCols = blockCols :+ "__sh"
    val posting = struct(col(id), col("__sz"))
    val lists = docs
      .select((blockCols.map(col) :+ col(id) :+
        size(col(shingleCol)).as("__sz") :+
        explode(col(shingleCol)).as("__sh")): _*)
      .filter(keyCols.map(c => col(c).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*)
      .agg((maxDf match {
        case None => collect_list(posting)
        case Some(cap) =>
          require(cap >= 1, s"maxDf=$cap must be at least 1")
          graft.functions.CappedCollectList.capped_collect_list(posting, cap)
      }).as("__pl"))
    lists
      .select((blockCols.map(col) :+
        graft.functions.PostingPairs.posting_pairs(col("__pl"))): _*)
      .groupBy((blockCols :+ "id_a" :+ "id_b" :+ "sz_a" :+ "sz_b").map(col): _*)
      .agg(count(lit(1)).as("common"))
      .withColumn("jac",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
  }

  /** Candidate pairs under PREFIX FILTERING (Chaudhuri 2006 SSJoin /
    * Bayardo 2007 AllPairs): order every set's tokens by one global
    * canonical order (document frequency ascending, token ascending —
    * rarest first), index only each set's first |x| − ⌈t·|x|⌉ + 1 tokens,
    * and join postings on THOSE prefixes only. Two sets with
    * Jaccard ≥ t = tNum/tDen must share a prefix token under any common
    * order: if A∩B missed A's p-token prefix, the intersection fits in
    * A's last ⌈t|A|⌉ − 1 tokens, so |A∩B| ≤ ⌈t|A|⌉ − 1 < t·|A| ≤ t·|A∪B|
    * — below threshold. So the candidate set has NO false negatives, and
    * the join's work drops from Σ_token df² to Σ df_prefix², where
    * prefixes are by construction the RAREST tokens — the Zipf head that
    * makes the unfiltered posting lists explode is exactly what prefix
    * filtering never indexes. This is the exactness-preserving
    * alternative to [[jaccardPairs]]' maxDf cap (which turns jac into a
    * lower bound); the length filter t·|A| ≤ |B| ≤ |A|/t (exact integer
    * cross-multiplication, no division) prunes candidates further.
    *
    * The df table and the per-doc rank window are the price of the
    * global order: one map-side-combinable count per (block, token) and
    * one doc-partitioned window (buffer bounded by the doc's own tokens,
    * never the corpus). Returns distinct (blockCols…, id_a, id_b),
    * id_a < id_b. */
  private[graft] def prefixCandidates(docs: DataFrame, id: String,
      shingleCol: String, blockCols: Seq[String], tNum: Int,
      tDen: Int): DataFrame = {
    require(tNum >= 1 && tNum <= tDen,
      s"threshold $tNum/$tDen must lie in (0, 1]")
    val posts = docs
      .filter(size(col(shingleCol)) > 0)
      .select((blockCols.map(col) :+ col(id) :+
        size(col(shingleCol)).cast("long").as("__sz") :+
        explode(col(shingleCol)).as("__sh")): _*)
    val dfTab = posts
      .groupBy((blockCols :+ "__sh").map(col): _*)
      .agg(count(lit(1)).as("__df"))
    val w = Window
      .partitionBy((blockCols.map(col) :+ col(id)): _*)
      .orderBy(col("__df").asc, col("__sh").asc)
    // CACHED: both sides of the candidate self-join read this frame, and
    // the column renames make the subtrees plan-distinct — uncached, the
    // df aggregate + join + window would run TWICE (measured in the
    // sf0.1 explain). Same materialize-once discipline as the query
    // layer's shingle cache; at 100 TB this persists to disk instead.
    val prefix = posts.join(dfTab, blockCols :+ "__sh")
      .withColumn("__rn", row_number().over(w))
      // p = sz − ⌈t·sz⌉ + 1, with ⌈t·sz⌉ = (tNum·sz + tDen − 1) DIV tDen
      .filter(col("__rn") <=
        col("__sz") - expr(s"(__sz * $tNum + ${tDen - 1}) DIV $tDen") + 1)
      .select((blockCols.map(col) :+ col(id) :+ col("__sz") :+
        col("__sh")): _*)
      .cache()
    def sided(side: String) =
      prefix.toDF(prefix.columns.map {
        case `id` => s"id_$side"
        case "__sz" => s"sz_$side"
        case c => c
      }: _*)
    val candidates = sided("a").join(sided("b"), blockCols :+ "__sh")
      .filter(col("id_a") < col("id_b"))
      // Jaccard ≥ t forces t·|A| ≤ |B| and t·|B| ≤ |A|; integer
      // cross-multiplied so no float threshold can flip on a ulp
      .filter(col("sz_a") * tDen >= col("sz_b") * tNum &&
        col("sz_b") * tDen >= col("sz_a") * tNum)
      .select((blockCols :+ "id_a" :+ "id_b").map(col): _*)
      .distinct()
      // materialize while the posting cache is hot, then RELEASE it —
      // cache-manager entries outlive the call (a session-lifetime leak,
      // one per invocation). The checkpoint pins only the small distinct
      // pair set, and those blocks are ContextCleaner-reclaimed once the
      // result frame is dropped; cache-manager entries never are.
      .transform(graft.ops.Checkpoints.materialize)
    prefix.unpersist()
    candidates
  }

  /** Exact threshold similarity join via [[prefixCandidates]]: candidates
    * are verified with a full `array_intersect` (per-pair cost
    * |A| + |B|, and the candidate list is prefix-pruned — never the
    * quadratic pair space), thresholded by exact integer
    * cross-multiplication: jac ≥ tNum/tDen ⇔
    * common·tDen ≥ tNum·(sz_a + sz_b − common). Output equals
    * `jaccardPairs(...).filter(jac ≥ t)` pair-for-pair (DedupSpec proves
    * it on random corpora) — same answer, prefix-bounded work.
    *
    * `shingleCol` must hold DISTINCT shingles (callers array_distinct). */
  def prefixJaccardPairs(docs: DataFrame, id: String, shingleCol: String,
      blockCols: Seq[String], tNum: Int, tDen: Int): DataFrame = {
    val cand = prefixCandidates(docs, id, shingleCol, blockCols, tNum, tDen)
    val sets = docs.select(col(id), col(shingleCol))
    cand
      .join(sets.withColumnRenamed(id, "id_a")
        .withColumnRenamed(shingleCol, "__sh_a"), "id_a")
      .join(sets.withColumnRenamed(id, "id_b")
        .withColumnRenamed(shingleCol, "__sh_b"), "id_b")
      .withColumn("common",
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("long"))
      .withColumn("sz_a", size(col("__sh_a")).cast("long"))
      .withColumn("sz_b", size(col("__sh_b")).cast("long"))
      .filter(col("common") * tDen >=
        (col("sz_a") + col("sz_b") - col("common")) * tNum)
      .withColumn("jac",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .select((blockCols :+ "id_a" :+ "id_b" :+ "common" :+ "sz_a" :+
        "sz_b" :+ "jac").map(col): _*)
  }

  /** Exploded posting projection — (blockCols…, id_<side>, sz_<side>,
    * __sh) — of both sides of the incremental join. */
  private[graft] def postings(df: DataFrame, id: String, shingleCol: String,
      blockCols: Seq[String], side: String): DataFrame = df.select(
    (blockCols.map(col) :+ col(id).as(s"id_$side") :+
      size(col(shingleCol)).as(s"sz_$side") :+
      explode(col(shingleCol)).as("__sh")): _*)

  /** Incremental near-dup: score an INCOMING batch against an EXISTING
    * corpus — the daily-ingest shape a production dedup actually runs
    * (nobody re-self-joins 100 TB because a day of data arrived). Same
    * inverted-index inclusion–exclusion as [[jaccardPairs]], but the join
    * is asymmetric and that asymmetry is the scale design: the incoming
    * batch's postings are BROADCAST (a batch is small by construction —
    * its postings are bounded by batch_docs · shingles_per_doc), so the
    * corpus side streams through ONE scan with no shuffle at all; the
    * only exchange in the plan is the pair aggregation, whose input is
    * just the matched candidate rows (Σ over shared shingles of
    * df_corpus · df_batch), not the corpus. Pairs sharing zero shingles
    * never materialize, exactly as in [[jaccardPairs]].
    *
    * Output: (blockCols…, id_new, id_old, common, sz_new, sz_old, jac) —
    * one row per (incoming, corpus) pair sharing ≥ 1 shingle.
    *
    * Both shingle columns must hold DISTINCT shingles (callers
    * array_distinct). The broadcast is UNCONDITIONAL: a batch whose
    * postings exceed the broadcast/driver limits fails loudly rather
    * than silently shuffling the corpus — at that size it is not an
    * increment, it is a corpus, and the caller should run
    * [[jaccardPairs]] on the union instead. */
  def incrementalJaccardPairs(corpus: DataFrame, incoming: DataFrame,
      id: String, shingleCol: String, blockCols: Seq[String]): DataFrame = {
    def posts(df: DataFrame, side: String) =
      postings(df, id, shingleCol, blockCols, side)
    posts(corpus, "old")
      .join(broadcast(posts(incoming, "new")), blockCols :+ "__sh")
      .groupBy((blockCols :+ "id_new" :+ "id_old" :+ "sz_new" :+ "sz_old")
        .map(col): _*)
      .agg(count(lit(1)).as("common"))
      .withColumn("jac",
        col("common").cast("double") /
          (col("sz_new") + col("sz_old") - col("common")).cast("double"))
  }

  /** Sorted-neighborhood near-dup candidates (Hernández–Stolfo SNM): sort
    * the corpus by a canonical content key, compare each record only to
    * the next `w−1` in sorted order. The third classic blocking scheme
    * next to the posting lists (exact, Σ df² work) and LSH banding
    * (probabilistic) — `w−1` lead() taps and a bounded explode, with
    * near-identical records sorting adjacently by construction of the key.
    *
    * This is the boundary-overlap scale form: [[Ranks.globalRank]] gives
    * every row a dense rank in (key, id) order with NO global window
    * (literal-cutpoint buckets + partition-local row_number), rows are
    * grouped into fixed-size RANK BLOCKS, and the first `w−1` rows of
    * each block are replicated into the predecessor block so every
    * anchor sees its full neighborhood. Ranks are dense, so each block's
    * partition holds exactly the contiguous rank range
    * [bB+1, (b+1)B+w−1] once — `lead(k)` is precisely "the row with rank
    * rk+k" whether it is a base row or a boundary copy, and the pair set
    * equals the single-sort form's bit-for-bit (DedupSpec proves it on
    * random corpora, including blocks smaller than w−1's reach). Window
    * memory is bounded by `blockSize + w − 1` rows per task.
    *
    * Emitted pairs carry exact-integer Jaccard in jaccardPairs'
    * inclusion–exclusion form; id_a is the sort-order-earlier record
    * (NOT necessarily id_a < id_b).
    *
    * `shCol` must hold DISTINCT shingles (callers array_distinct). */
  def sortedNeighborhood(docs: DataFrame, idCol: String, shCol: String,
      w: Int, blockSize: Int = 1 << 16): DataFrame = {
    require(w >= 2, s"window w=$w must be at least 2")
    require(blockSize >= w,
      s"blockSize=$blockSize must be at least w=$w so a neighborhood " +
        "never spans more than two blocks")
    val nParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    // The canonical key is DOCUMENT-sized; bucketing globalRank on it
    // directly would collect document-sized cutpoint literals to the
    // driver and compare them per row. A 128-char prefix leads the sort
    // instead: prefix order is consistent with full byte order and equal
    // prefixes defer to the full key next in the sort spec, so the total
    // order — and therefore every rank and pair — is unchanged, while
    // cutpoint literals and per-row compares stay bounded.
    // base MATERIALIZED: the document-sized canonical key (array_sort +
    // array_join over every shingle set) is the expensive expression
    // here, and globalRank consumes its input several times (cutpoint
    // count + sample collect + bucket counts + the ranked window) — 13
    // upstream evaluations in the r11 before-plan. ranked is
    // materialized too: the boundary-replication union reads it twice
    // (home + copies), which re-ran the rank window per side. Values are
    // materialization-invariant (DedupSpec's pair-set equality holds).
    val base = Checkpoints.materialize(docs.select(
      array_join(array_sort(col(shCol)), " ").as("__k"),
      col(idCol).as("__id"), col(shCol).as("__sh"))
      .withColumn("__kp", substring(col("__k"), 1, 128)))
    val ranked = Checkpoints.materialize(Ranks
      .globalRank(base, Seq(col("__kp"), col("__k"), col("__id")), nParts,
        "__rk")
      .drop("__k", "__kp"))
    val posInBlk = (col("__rk") - 1) % blockSize
    val blkOf = ((col("__rk") - 1 - posInBlk) / blockSize).cast("long")
    val home = ranked
      .withColumn("__blk", blkOf)
      .withColumn("__anchor", lit(true))
    // first w−1 rows of block b, replicated into block b−1 as lead-only
    // targets: dense ranks make the copy exact, with no dependence on
    // how many rows a physical partition happened to receive
    val copies = home
      .filter(col("__blk") > 0 && posInBlk < (w - 1))
      .withColumn("__blk", col("__blk") - 1)
      .withColumn("__anchor", lit(false))
    val win = Window.partitionBy("__blk").orderBy("__rk")
    home.unionByName(copies)
      .withColumn("__nbrs",
        array((1 until w).map(k =>
          lead(struct(col("__id").as("id"), col("__sh").as("sh")), k)
            .over(win)): _*))
      .filter(col("__anchor"))
      .select(col("__id").as("id_a"), col("__sh").as("sh_a"),
        explode(col("__nbrs")).as("nb"))
      .filter(col("nb").isNotNull)
      .select(col("id_a"), col("nb.id").as("id_b"),
        size(array_intersect(col("sh_a"), col("nb.sh"))).cast("long")
          .as("common"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("nb.sh")).cast("long").as("sz_b"))
      .filter(col("common") > 0)
      .withColumn("jac",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
  }

  /** The single-global-window SNM form — one task sorts the whole corpus,
    * so this is test-only: DedupSpec's ground truth for proving the
    * blocked form's pair set equal. */
  private[graft] def sortedNeighborhoodGlobal(docs: DataFrame, idCol: String,
      shCol: String, w: Int): DataFrame = {
    require(w >= 2, s"window w=$w must be at least 2")
    val key = array_join(array_sort(col(shCol)), " ")
    val win = Window.orderBy(key, col(idCol))
    docs
      .select(
        col(idCol).as("id_a"), col(shCol).as("sh_a"),
        array((1 until w).map(k =>
          lead(struct(col(idCol).as("id"), col(shCol).as("sh")), k)
            .over(win)): _*).as("__nbrs"))
      .select(col("id_a"), col("sh_a"), explode(col("__nbrs")).as("nb"))
      .filter(col("nb").isNotNull)
      .select(col("id_a"), col("nb.id").as("id_b"),
        size(array_intersect(col("sh_a"), col("nb.sh"))).cast("long")
          .as("common"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("nb.sh")).cast("long").as("sz_b"))
      .filter(col("common") > 0)
      .withColumn("jac",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
  }

  /** Connected components over a near-dup pair list — the step that turns
    * PAIRWISE dedup output into clusters with one representative each
    * (survivor = the member equal to its rep). Iterative min-label
    * propagation as DataFrame joins: every node starts labeled with its
    * own id; each round takes the min of its own and its neighbors'
    * labels; fixpoint in O(component diameter) rounds.
    *
    * Scale: this is the standard join-based CC used on dedup graphs —
    * each round is one equi-join + map-side-combinable min aggregate,
    * both on the (tiny relative to the corpus) PAIR graph, never the
    * corpus itself. Near-dup components are shallow (dup groups, not
    * social graphs), so rounds stay in the single digits; a graph that
    * fails to converge within `maxIter` fails LOUDLY rather than
    * returning wrong labels.
    *
    * Returns (id, rep) for every node that appears in a pair. */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    val fwd = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
    val edges = fwd
      .union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      // partitioned + sorted on the per-round join key before caching
      // (Graph.bfsHops' discipline, incl. the one-shuffle dedup): each
      // round exchanges only the label vector, never the cached edge frame
      .repartition(col("dst"))
      .dropDuplicates("src", "dst")
      .sortWithinPartitions("dst")
      .cache()
    var labels = edges.select(col("src")).distinct()
      .select(col("src").as("id"), col("src").as("lbl"))
    // Iterative-DataFrame discipline: each round's plan nests the previous
    // round's, so WITHOUT lineage truncation the logical tree doubles per
    // round and driver-side analysis cost grows exponentially with the
    // iteration count (the classic iterative-join trap). localCheckpoint
    // materializes the round executor-side and resets the plan to a scan,
    // keeping per-round cost constant. `next` carries the previous label
    // alongside the new one so the convergence check is one observed
    // changed-row metric riding the checkpoint job itself — ONE driver
    // action per round, no extra join and no second scheduler round-trip.
    var changed = 1L
    var iter = 0
    // `<=`: a graph whose last label change lands exactly on round
    // maxIter still needs one zero-change round to PROVE the fixpoint —
    // without the extra round, correctly-solved diameter-maxIter graphs
    // would be reported as unconverged.
    while (changed > 0 && iter <= maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("lbl").as("dlbl")), "dst")
        .groupBy("src")
        .agg(min(col("dlbl")).as("nlbl"))
        .select(col("src").as("id"), col("nlbl"))
      val obs = org.apache.spark.sql.Observation()
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .observe(obs, coalesce(sum(when(col("prev") =!= col("lbl"), 1L)
          .otherwise(0L)), lit(0L)).as("chg"))
        .transform(graft.ops.Checkpoints.materialize)
      changed = obs.get("chg").asInstanceOf[Long]
      labels = next.select("id", "lbl")
      iter += 1
    }
    edges.unpersist()
    require(changed == 0,
      s"connected components did not converge in $maxIter rounds — " +
        "component diameter exceeds the bound; raise maxIter")
    labels.select(col("id"), col("lbl").as("rep"))
  }

  /** MinHash signature: k independent min-hashes of the shingle set.
    * Hash family: XXH64(shingle, seed=i) — deterministic, no salt tables
    * to ship. Returns array<long> of length k.
    *
    * One codegen'd Expression, not k `transform` HOFs: Catalyst interprets
    * HOF lambdas per element, so the column-API version paid k interpreted
    * passes per row — it was the measured bottleneck of the LSH dedup
    * bench. See MinHashSig for the single-pass kernel. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.MinHashSig.minhash_sig(shingleCol, k)

  /** LSH banding: split the k-wide signature into bands of `rows` entries;
    * docs agreeing on ALL rows of any band become candidates. Returns
    * (band_idx, band_key) rows per doc — equi-joinable.
    *
    * Scale: candidate generation is groupBy/join on (band_idx, band_key) —
    * a plain shuffle, no pairwise scan. Threshold tuning: P(candidate) =
    * 1-(1-j^rows)^bands, the standard LSH S-curve. */
  def lshBands(df: DataFrame, id: String, sigCol: String, rows: Int): DataFrame =
    df.select(
        col(id),
        posexplode(
          transform(
            sequence(lit(0), (size(col(sigCol)) / rows).cast("int") - 1),
            b => xxhash64(lit("band"), b,
              array_join(
                transform(slice(col(sigCol), b * lit(rows) + 1, lit(rows)),
                  x => x.cast("string")),
                "_")))))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")

  /** E2 LSH path end-to-end: candidates from banding, verified with exact
    * Jaccard ≥ `threshold`. Output: (id_a, id_b, jac), id_a < id_b.
    *
    * `maxBucket` bounds the band-bucket blowup a CLONE CLUSTER causes
    * (the [[graft.ops.Similarity.hammingPairs]] discipline): m docs with
    * identical signatures put m rows in the same (band, key) bucket, and
    * the full pair join there is m²/2 — 10⁴ clones of one page (a real
    * web-corpus shape) would be 5·10⁷ candidate pairs per band. Buckets
    * over the cap switch from ALL-PAIRS to STAR pairs around the bucket's
    * min id: |bucket|−1 candidates instead of |bucket|²/2, still verified
    * by exact Jaccard. For DEDUP the star keeps exactly what matters —
    * every member of a same-signature cluster stays connected to the
    * cluster's representative, so a downstream connected-components pass
    * ([[components]]) still collapses the whole cluster — while the pair
    * LIST inside over-cap buckets is intentionally not exhaustive (the
    * df-cap recall trade, measured by q_dedup_eval; sub-cap buckets are
    * bit-identical to the uncapped form, which is why the gate corpora —
    * whose largest bucket is ≪ 1024 — hash-match either way). */
  def minhashNearDups(docs: DataFrame, id: String, shingleCol: String,
      k: Int, bandRows: Int, threshold: Double,
      maxBucket: Int = 1024): DataFrame = {
    require(k > 0 && bandRows > 0 && k % bandRows == 0,
      s"signature width k=$k must be a positive multiple of bandRows=$bandRows " +
        "(trailing signature entries would silently drop out of banding)")
    require(maxBucket >= 2, s"maxBucket=$maxBucket must be at least 2")
    // Empty shingle sets all produce the IDENTICAL signature
    // (MinHashSig's Long.MaxValue sentinels — there is nothing to hash),
    // so every empty doc would share every band key with every other
    // empty doc — an O(m²) candidate blowup at scale. An empty set also
    // has Jaccard 0 with everything, so dropping these rows up front is
    // semantics-preserving for threshold > 0. Do NOT remove this filter
    // because signatures are non-null now; non-null is exactly the
    // problem.
    val withSig = docs
      .filter(size(col(shingleCol)) > 0)
      .withColumn("__sig", minhashSignature(col(shingleCol), k))
    // Materialize the banded postings ONCE: the cap split consumes them
    // four times (bucket stats, both sides of the all-pairs self-join,
    // the star join), and when the caller's shingle frame is NOT cached
    // the 4× shingle→signature recompute dominates (measured: the
    // q_minhash_clusters gate, which shingles its own planted corpus,
    // runs 8.6 s lazy vs 5.0 s materialized at sf0.1; cached-input
    // consumers measure within noise either way). Bounded: `bands` is
    // exactly k/bandRows rows per doc. At 100 TB this is the postings
    // table a deployment persists to storage once (the saveCodes shape);
    // localCheckpoint blocks are reclaimed on dereference.
    val bands = Checkpoints.materialize(
      lshBands(withSig, id, "__sig", bandRows))
    // Bucket sizes + per-bucket min in ONE pass over the banded rows;
    // the tiny over-cap key set (≤ rows/cap buckets by pigeonhole)
    // broadcasts back, splitting candidate generation into the all-pairs
    // (sub-cap) and star (over-cap) branches.
    val stats = bands.groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("__bn"), min(col(id)).as("__hub"))
    val hotBuckets = stats.filter(col("__bn") > maxBucket)
      .select("band_idx", "band_key", "__hub")
    // Data-dependent plan choice via ONE bounded driver scalar (the
    // ivfAssign discipline): the common corpus has NO over-cap bucket,
    // and there the split's extra machinery (anti-join, star union,
    // wider distinct) is pure overhead — the uncapped self-join IS the
    // capped plan when the hot set is empty, so take it directly. The
    // count scans the materialized bands once (cheap by construction).
    val nHot = hotBuckets.count()
    val cand = if (nHot == 0) {
      bands.as("x")
        .join(bands.as("y"), Seq("band_idx", "band_key"))
        .filter(col(s"x.$id") < col(s"y.$id"))
        .select(col(s"x.$id").as("id_a"), col(s"y.$id").as("id_b"))
        .distinct()
    } else {
      val small = bands.join(
        broadcast(hotBuckets.select("band_idx", "band_key")),
        Seq("band_idx", "band_key"), "left_anti")
      val allPairs = small.as("x")
        .join(small.as("y"), Seq("band_idx", "band_key"))
        .filter(col(s"x.$id") < col(s"y.$id"))
        .select(col(s"x.$id").as("id_a"), col(s"y.$id").as("id_b"))
      val starPairs = bands.join(broadcast(hotBuckets),
          Seq("band_idx", "band_key"))
        .filter(col(id) =!= col("__hub"))
        .select(col("__hub").as("id_a"), col(id).as("id_b"))
      allPairs.unionByName(starPairs).distinct()
    }
    val sh = docs.select(col(id), col(shingleCol))
    cand
      .join(sh.withColumnRenamed(id, "id_a").withColumnRenamed(shingleCol, "sh_a"), "id_a")
      .join(sh.withColumnRenamed(id, "id_b").withColumnRenamed(shingleCol, "sh_b"), "id_b")
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
  }

  /** Exact-substring dedup with DOCUMENT RECONSTRUCTION (the transform
    * half of Lee et al.'s substring dedup — q_substring_dedup only
    * REPORTS duplication; this one rewrites the corpus): texts are cut
    * into fixed `width`-word chunks, every chunk occurrence except the
    * globally FIRST (lowest (doc, position)) is deleted, and each doc's
    * surviving chunks are stitched back in position order.
    *
    * Scale shape: chunking is a bounded explode (⌈words/width⌉ rows per
    * doc, never quadratic); the first-occurrence winner per chunk is ONE
    * map-side-combinable `min(struct(doc, pos))` aggregate keyed on the
    * chunk's md5 (bounded key width no matter how long the chunk is);
    * flag-back is an equi-join on that digest; reconstruction is a
    * per-doc aggregate whose buffer holds at most the doc's own chunks.
    * Nothing in the plan is pairwise and every shuffle key (digest,
    * doc id) hash-partitions evenly.
    *
    * Returns (idCol, n_chunks, n_removed, new_text) for every input doc;
    * a doc whose every chunk was seen earlier collapses to new_text = "".
    */
  def chunkRewrite(docs: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    require(width >= 1, s"chunk width=$width must be at least 1")
    val nChunks = floor(
      (size(col("__ws")) + lit(width - 1)).cast("double") / lit(width))
      .cast("long")
    val chunks = docs
      .select(col(idCol), split(col(textCol), " ").as("__ws"))
      .select(col(idCol), col("__ws"),
        explode(sequence(lit(0L), nChunks - 1)).as("cpos"))
      .select(col(idCol), col("cpos"),
        array_join(
          slice(col("__ws"), (col("cpos") * width + 1).cast("int"), lit(width)),
          " ").as("chunk"))
      .withColumn("__dg", md5(col("chunk")))
    val firsts = chunks
      .groupBy("__dg")
      .agg(min(struct(col(idCol), col("cpos"))).as("__f"))
    chunks.join(firsts, Seq("__dg"))
      .withColumn("__keep",
        col(idCol) === col(s"__f.$idCol") && col("cpos") === col("__f.cpos"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(!col("__keep"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("cpos"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").as("new_text"))
  }
}
