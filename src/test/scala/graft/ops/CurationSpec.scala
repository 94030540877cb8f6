package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  // --- boilerplateProfile ---------------------------------------------

  test("boilerplateProfile: df threshold splits lexicon; fractions exact") {
    // "x y" appears in 3 docs (boiler at dfMin=3), "a b" in 1, "p q" in 2.
    val sh = Seq(
      (1L, Seq("x y", "a b")),
      (2L, Seq("x y", "p q")),
      (3L, Seq("x y", "p q")),
      (4L, Seq.empty[String]))
      .toDF("doc_id", "sh")
    val r = Curation.boilerplateProfile(sh, "doc_id", "sh", dfMin = 3L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(r === Seq(
      (1L, 2L, 1L, 0.5), (2L, 2L, 1L, 0.5),
      (3L, 2L, 1L, 0.5), (4L, 0L, 0L, 0.0)))
  }

  // --- contextWindows ---------------------------------------------------

  test("contextWindows: full windows at stride; short doc yields one window") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens, win 4 stride 2 → starts 0,2,4,6
      (2L, "a b"),                 // shorter than one window → single short one
      (3L, ""))                    // no tokens → no rows
      .toDF("doc_id", "text")
    val r = Curation.contextWindows(docs, "doc_id", "text", win = 4, stride = 2)
      .orderBy("doc_id", "win_idx")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(r === Seq(
      (1L, 0L, 0L, 4L, "a b c d"),
      (1L, 1L, 2L, 4L, "c d e f"),
      (1L, 2L, 4L, 4L, "e f g h"),
      (1L, 3L, 6L, 4L, "g h i j"),
      (2L, 0L, 0L, 2L, "a b")))
  }

  test("contextWindows: tail shorter than a window is dropped, coverage holds") {
    // 11 tokens, win 4 stride 4 → full windows at 0 and 4; tokens 8-10 dropped
    val docs = Seq((1L, (1 to 11).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val r = Curation.contextWindows(docs, "doc_id", "text", win = 4, stride = 4)
      .orderBy("win_idx")
      .select("win_start", "win_len").as[(Long, Long)].collect().toSeq
    assert(r === Seq((0L, 4L), (4L, 4L)))
  }

  // --- gopherRules ------------------------------------------------------

  test("gopherRules: each rule flips independently; keep is the conjunction") {
    val stop = Seq("the", "a", "and", "of", "to", "is")
    val docs = Seq(
      // passes all four (5 words, two stopwords, alpha, mwl 3..10)
      (1L, "the cat sat and ran"),
      // fails wordcount (too short at minWords=4)
      (2L, "the and one"),
      // fails stopwords (only one distinct stopword)
      (3L, "the quick brown fox jumps"),
      // fails meanwordlen only (mostly 1-char tokens, mean 6/5 < 3)
      (4L, "a is b c d"),
      // fails alpha only (2 of 5 tokens are digit runs; mwl 16/5 in range)
      (5L, "the dog is 4299 9912"))
      .toDF("doc_id", "text")
    val r = Curation.gopherRules(docs, "doc_id", "text",
        minWords = 4, maxWords = 100, stopwords = stop)
      .orderBy("doc_id")
      .select("doc_id", "r_wordcount", "r_meanwordlen", "r_stopwords",
        "r_alpha", "keep")
      .as[(Long, Int, Int, Int, Int, Int)].collect().toSeq
    assert(r === Seq(
      (1L, 1, 1, 1, 1, 1),
      (2L, 0, 1, 1, 1, 0),
      (3L, 1, 1, 0, 1, 0),
      (4L, 1, 0, 1, 1, 0),
      (5L, 1, 1, 1, 0, 0)))
  }

  test("gopherRules: counts are exact integers") {
    val r = Curation.gopherRules(
        Seq((1L, "the cat is on the mat 42")).toDF("doc_id", "text"),
        "doc_id", "text", minWords = 1, maxWords = 100,
        stopwords = Seq("the", "is"))
      .select("wc", "n_chars", "n_alpha", "n_stop")
      .as[(Long, Long, Long, Long)].head()
    // tokens: the cat is on the mat 42 → wc 7, chars 3+3+2+2+3+3+2=18,
    // alpha 6 (42 is digits), distinct stop hits {the, is} = 2
    assert(r === ((7L, 18L, 6L, 2L)))
  }

  test("contextWindows matches brute force on seeded random docs") {
    val rnd = new scala.util.Random(42)
    val docs = (1L to 60L).map { id =>
      val n = rnd.nextInt(40) // 0..39 tokens, below and above the window
      (id, (1 to n).map(i => s"t${rnd.nextInt(9)}x$i").mkString(" "))
    }
    val (w, s) = (8, 3)
    val got = Curation.contextWindows(docs.toDF("doc_id", "text"),
        "doc_id", "text", w, s)
      .select("doc_id", "win_start", "win_len", "win_text")
      .as[(Long, Long, Long, String)].collect().toSet
    val expected = docs.flatMap { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) Seq.empty
      else {
        val starts =
          if (toks.length < w) Seq(0)
          else 0 to (toks.length - w) by s
        starts.map { st =>
          val win = toks.slice(st, st + w)
          (id, st.toLong, win.length.toLong, win.mkString(" "))
        }
      }
    }.toSet
    assert(got === expected)
  }

  test("boilerplateProfile counts match brute force on seeded random bags") {
    val rnd = new scala.util.Random(7)
    val bags = (1L to 40L).map { id =>
      (id, Seq.fill(rnd.nextInt(8))(s"g${rnd.nextInt(12)}").distinct)
    }
    val dfMin = 5L
    val df = bags.toDF("doc_id", "sh")
    val got = Curation.boilerplateProfile(df, "doc_id", "sh", dfMin)
      .select("doc_id", "n_shingles", "n_boiler")
      .as[(Long, Long, Long)].collect()
      .map { case (i, a, b) => i -> ((a, b)) }.toMap
    val dfreq = bags.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    val boiler = dfreq.filter(_._2 >= dfMin).keySet
    bags.foreach { case (id, sh) =>
      assert(got(id) === ((sh.size.toLong, sh.count(boiler).toLong)), s"doc $id")
    }
  }

  // --- kmeansAssign -----------------------------------------------------

  test("kmeansAssign: nearest centroid wins, ties to lowest cid, self d2=0") {
    val emb = Seq(
      (0L, Seq(0f, 0f)),   // centroid 0
      (1L, Seq(10f, 0f)),  // centroid 1
      (2L, Seq(1f, 0f)),   // nearest 0
      (3L, Seq(9f, 0f)),   // nearest 1
      (4L, Seq(5f, 0f)))   // equidistant → cid 0
      .toDF("vec_id", "embedding")
    val r = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 2)
      .orderBy("vec_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(r === Seq(
      (0L, 0L, 0.0), (1L, 1L, 0.0), (2L, 0L, 1.0),
      (3L, 1L, 1.0), (4L, 0L, 25.0)))
  }

  test("kmeansAssign: every corpus vector is assigned exactly once") {
    val emb = graft.Tables.embeddings(spark, Sf001)
    val n = emb.count()
    val assigned = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 8)
    assert(assigned.count() === n)
    assert(assigned.select("cid").distinct().count() === 8L)
    // d2 is non-negative and zero exactly for the 8 seed vectors
    assert(assigned.filter(col("d2") < 0).count() === 0L)
    assert(assigned.filter(col("d2") === 0.0 && col("vec_id") < 8).count() === 8L)
  }

  // --- curriculum -------------------------------------------------------

  test("curriculum: epoch order interleaves all five difficulty quintiles") {
    val r = graft.queries.CurationQueries.curriculum.run(spark, Sf001)
      .orderBy("epoch_pos")
      .select("quintile", "epoch_pos")
      .as[(Long, Long)].collect().toSeq
    // positions are distinct and the first full cycle hits 1..5 in order
    assert(r.map(_._2).distinct.size === r.size)
    assert(r.take(5).map(_._1) === Seq(1L, 2L, 3L, 4L, 5L))
    // every run of 5 consecutive positions covers ≥ 4 distinct quintiles
    // (tails of short tiles may drop one) — no difficulty clustering
    val clustered = r.map(_._1).sliding(5).count(w => w.distinct.size < 4)
    assert(clustered === 0, s"$clustered clustered windows")
  }

  // --- semDedup ---------------------------------------------------------

  test("semDedup: drops only smaller-id in-cluster neighbors over threshold") {
    // cluster 0 (seed id 0 at origin-ish): 0, 2, 3 near-identical → 0 kept,
    //   2 and 3 dropped (2 has 1 dup peer: 0; 3 has 2: 0 and 2)
    // cluster 1 (seed id 1): 4 is same-direction (cos 1.0) → dropped;
    //   5 is in cluster 1 but at cos ≈ 0.936 < 0.95 to both → kept
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(0f, 10f, 0f)),
      (2L, Seq(1f, 0.01f, 0f)),
      (3L, Seq(1f, -0.01f, 0f)),
      (4L, Seq(0f, 5f, 0f)),
      (5L, Seq(0f, 8f, 3f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.semDedup(emb, "vec_id", "embedding", k = 2,
        threshold = 0.95)
      .orderBy("vec_id")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(r === Seq(
      (0L, 0L, 0L, 1), (1L, 1L, 0L, 1), (2L, 0L, 1L, 0),
      (3L, 0L, 2L, 0), (4L, 1L, 1L, 0), (5L, 1L, 0L, 1)))
  }

  test("semDedup: cross-cluster near-dups are NOT dropped (blocking bound)") {
    // 0 and 1 are parallel (cos = 1) but seed different clusters — SemDeDup
    // only prunes within a cluster, so both survive
    val emb = Seq(
      (0L, Seq(1f, 0f)),
      (1L, Seq(2f, 0f)),
      (2L, Seq(1.5f, 0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.semDedup(emb, "vec_id", "embedding", k = 2,
        threshold = 0.99)
    assert(r.filter(col("vec_id") === 0 || col("vec_id") === 1)
      .filter(col("keep") === 1).count() === 2L)
  }

  test("semDedup: interleaved exact-duplicate groups count smaller-id neighbors exactly") {
    // group A = ids {1, 3, 5} (identical vectors), group B = ids {2, 4}
    // (identical to each other, cos ≈ 0.99 to A — a qualified neighbor
    // group). Interleaved ids force the cross-group smaller-id count to
    // be per-member, not per-group: n_dups(m) = rank-in-own-group +
    // |smaller ids in each qualified neighbor group|. This is the
    // duplicate-collapse path's exactness contract (the clone-cluster
    // hazard in miniature — the pair stage never enumerates the m²/2
    // in-group pairs).
    val a = Seq(1f, 0f); val b = Seq(0.99f, 0.141f)
    val emb = Seq(
      (1L, a), (3L, a), (5L, a), (2L, b), (4L, b))
      .toDF("vec_id", "embedding")
    val r = Similarity.semDedup(emb, "vec_id", "embedding", k = 1,
        threshold = 0.95)
      .orderBy("vec_id")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(r === Seq(
      (1L, 1L, 0L, 1),  // rank 0, no smaller neighbor ids
      (2L, 1L, 1L, 0),  // B rank 0 + A ids < 2 = {1}
      (3L, 1L, 2L, 0),  // A rank 1 + B ids < 3 = {2}
      (4L, 1L, 3L, 0),  // B rank 1 + A ids < 4 = {1, 3}
      (5L, 1L, 4L, 0))) // A rank 2 + B ids < 5 = {2, 4}
  }

  test("semDedup: zero-norm duplicate vectors are NOT dups (cosine undefined)") {
    // cos(0⃗, 0⃗) is NULL in CosineSim, so the pairwise form keeps every
    // zero-norm row; the duplicate-collapse's in-group shortcut must not
    // count their ranks (the __selfok gate). ids 2 and 4 are identical
    // zero vectors — both keep; ids 1 and 3 are identical NONZERO
    // vectors — id 3 is id 1's dup as usual.
    val z = Seq(0f, 0f); val a = Seq(1f, 0f)
    val emb = Seq((1L, a), (3L, a), (2L, z), (4L, z))
      .toDF("vec_id", "embedding")
    val r = Similarity.semDedup(emb, "vec_id", "embedding", k = 1,
        threshold = 0.9)
      .orderBy("vec_id")
      .as[(Long, Long, Long, Int)].collect().toSeq
    assert(r.map(t => (t._1, t._3, t._4)) === Seq(
      (1L, 0L, 1), (2L, 0L, 1), (3L, 1L, 0), (4L, 0L, 1)))
  }

  // --- semDedup vs the cross-join assignment it replaced ----------------

  /** The earlier semDedup, kept as the oracle: the assignment is a
    * broadcast cross join of the representatives with the k centroid rows,
    * the SQL rounded distance, and min(struct(d2, cid)) regrouped by
    * __gid; the pair stage tests round(cos, 6) ≥ t directly. */
  private def crossJoinSemDedup(emb: org.apache.spark.sql.DataFrame,
      idCol: String, vecCol: String, k: Int,
      threshold: Double): org.apache.spark.sql.DataFrame = {
    val v = emb.select(col(idCol),
      Similarity.requireVec(Similarity.asDouble(col(vecCol))).as("__v"))
    val groups = v.groupBy("__v")
      .agg(min(col(idCol)).as("__gid"),
        sort_array(collect_list(col(idCol))).as("__ids"))
    val cents = v.orderBy(col(idCol).asc).limit(k)
      .select(col(idCol).as("__cid"), col("__v").as("__cvec"))
    val repAssigned = groups
      .crossJoin(broadcast(cents))
      .withColumn("__d2", round(
        aggregate(
          zip_with(col("__v"), col("__cvec"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x), 6))
      .groupBy(col("__gid"))
      .agg(min(struct(col("__d2"), col("__cid"))).as("__m"),
        first(col("__v")).as("__v"), first(col("__ids")).as("__ids"))
      .select(col("__gid"), col("__m.__cid").as("cid"),
        col("__v"), col("__ids"))
    def rside(n: String) = repAssigned.select(col("cid"),
      col("__gid").as(s"gid_$n"), col("__v").as(s"v_$n"),
      col("__ids").as(s"ids_$n"))
    val nbr = rside("a").join(rside("b"), Seq("cid"))
      .filter(col("gid_a") =!= col("gid_b"))
      .withColumn("__cos", round(
        graft.functions.CosineSim.cosine_sim(col("v_a"), col("v_b")), 6))
      .filter(col("__cos") >= threshold)
      .select(col("gid_a").as("__gid"), col("ids_b"))
    val members = repAssigned.select(col("cid"), col("__gid"),
      (aggregate(col("__v"), lit(0.0), (acc, x) => acc + x * x) > 0)
        .as("__selfok"),
      posexplode(col("__ids")).as(Seq("__rank", "__id")))
    members.join(nbr, Seq("__gid"), "left")
      .withColumn("__c",
        when(col("ids_b").isNull, lit(0))
          .otherwise(size(filter(col("ids_b"), x => x < col("__id")))))
      .withColumn("__r",
        when(col("__selfok"), col("__rank")).otherwise(lit(0)))
      .groupBy(col("__id").as(idCol), col("cid"), col("__r"))
      .agg(sum(col("__c")).as("__cross"))
      .select(col(idCol), col("cid"),
        (col("__r").cast("long") + col("__cross")).as("n_dups"),
        ((col("__r") + col("__cross")) === 0).cast("int").as("keep"))
  }

  private def assertSemDedupMatches(emb: org.apache.spark.sql.DataFrame,
      k: Int, threshold: Double, clue: String): Unit = {
    val got = Similarity.semDedup(emb, "vec_id", "embedding", k, threshold)
    val want = crossJoinSemDedup(emb, "vec_id", "embedding", k, threshold)
    assert(got.schema === want.schema, clue)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().toSeq.map(_.toSeq)
    assert(rows(got) === rows(want), clue)
  }

  test("semDedup equals the cross-join assignment: rounded-distance ties go to the lowest cid") {
    // centroids are ids 0..2. Every other vector sits where two
    // centroids' distances differ by < 5e-7 and round equal — in both
    // raw orders — so only the lowest-cid tie-break separates them.
    val emb = Seq(
      (0L, Seq(1.0000001, 0.0)), (1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(0.0, 0.0)), (4L, Seq(0.5, 0.5)), (5L, Seq(0.5000001, 0.5)),
      (6L, Seq(-1.0, -1.0)), (7L, Seq(0.0, 0.0)), (8L, Seq(2.0, 2.0)))
      .toDF("vec_id", "embedding")
    for (t <- Seq(0.42, 0.9, 1.0)) assertSemDedupMatches(emb, 3, t, s"t=$t")
    assert(Similarity.semDedup(emb, "vec_id", "embedding", 3, 0.9)
      .filter(col("vec_id") === 3).select("cid").as[Long].head() === 0L)
  }

  test("semDedup equals the cross-join assignment: NaN components, zero vectors, duplicate groups, k >= n") {
    val rnd = new scala.util.Random(29)
    val palette = Seq(0.0, 1.0, -1.0, 0.5, 1.0000001)
    val base = (0L until 120L).map { i =>
      val vec = rnd.nextInt(12) match {
        case 0 => Seq(Double.NaN, 1.0, 0.0)
        case 1 => Seq(0.0, 0.0, 0.0)
        case 2 => Seq(1.0, 1.0, 1.0) // a large exact-duplicate group
        case _ => Seq.fill(3)(palette(rnd.nextInt(palette.length)))
      }
      (i, vec.map(_.toFloat))
    }
    val emb = rnd.shuffle(base).toDF("vec_id", "embedding").repartition(4)
    for ((k, t) <- Seq((1, 0.42), (4, 0.9), (8, 0.5), (120, 0.7), (500, 0.99)))
      assertSemDedupMatches(emb, k, t, s"k=$k t=$t")
    val tiny = Seq((5L, Seq(1f, 0f)), (2L, Seq(1f, 0f)), (9L, Seq(0f, 0f)))
      .toDF("vec_id", "embedding")
    for (k <- Seq(3, 10)) assertSemDedupMatches(tiny, k, 0.5, s"tiny k=$k")
  }

  test("semDedup rejects a NULL embedding and a vector of the wrong length") {
    def messages(e: Throwable) = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString(" | ")
    val withNull = Seq((0L, Some(Seq(1f, 0f))), (1L, None), (2L, Some(Seq(0f, 1f))))
      .toDF("vec_id", "embedding")
    val e1 = intercept[Exception](
      Similarity.semDedup(withNull, "vec_id", "embedding", 1, 0.5).collect())
    assert(messages(e1).contains("corpus contains NULL embeddings"), messages(e1))
    val ragged = Seq((0L, Seq(1f, 0f)), (1L, Seq(1f, 0f, 0f)), (2L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[Exception](
      Similarity.semDedup(ragged, "vec_id", "embedding", 1, 0.5).collect())
    assert(messages(e2).contains("length"), messages(e2))
  }
}
