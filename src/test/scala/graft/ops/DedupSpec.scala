package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup: normalization collapses case/whitespace variants, first id wins") {
    val docs = Seq(
      (1L, "Hello World"),
      (2L, "  hello world  "),   // same content after lower+trim
      (3L, "HELLO WORLD"),
      (4L, "something else")).toDF("doc_id", "text")
    val kept = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 4L))
  }

  test("exact dedup passes NULL-content rows through instead of collapsing them") {
    val docs = Seq(
      (1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Some("x")), (4L, Some("x"))).toDF("doc_id", "text")
    val kept = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    // unknown content is never equal to unknown content: both NULL rows
    // survive; the real duplicates still collapse
    assert(kept.toSeq === Seq(1L, 2L, 3L))
  }

  test("exact dedup is idempotent") {
    val docs = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "text")
    val once = Dedup.exact(docs, col("text"), col("doc_id"))
    val twice = Dedup.exact(once, col("text"), col("doc_id"))
    assert(once.count() === twice.count())
  }

  test("components: chains collapse to min-id reps, separate clusters stay apart") {
    // 1-2-3-4 is a chain (diameter 3 — takes several propagation rounds);
    // 10-11 is a separate pair; 20 appears in no pair and must be absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.components(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("components: refuses to return unconverged labels") {
    // a 5-node chain cannot converge in 1 round
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.components(pairs, "id_a", "id_b", maxIter = 1).collect()
    }
  }

  test("jaccard: exact rational on distinct arrays") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(Dedup.jaccard(col("x"), col("y")).as("j"))
    assert(df.head().getDouble(0) === 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("minhash LSH finds a planted near-duplicate and skips unrelated docs") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 57).map(i => s"w$i") ++ Seq("x1", "x2", "x3")).mkString(" ")
    val other = (100 to 160).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
      .withColumn("sh", array_distinct(Text.shingles(Text.tokens(col("text")), 3)))
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "sh",
      k = 16, bandRows = 2, threshold = 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("LSH verified pairs are a subset of exact jaccard pairs at the same threshold") {
    val docs = graft.Tables.documents(spark, Sf001)
      .withColumn("sh", array_distinct(Text.shingles(Text.tokens(col("text")), 3)))
    val lsh = Dedup.minhashNearDups(docs, "doc_id", "sh", 16, 2, 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = Dedup.jaccardPairs(docs.withColumn("all", lit(1)), "doc_id", "sh", Seq("all"))
      .filter(col("jac") >= 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
  }

  test("sortedNeighborhood: adjacent-in-sort pairs found, beyond-window pairs not") {
    // docs 1 and 2 share their shingle bag (sort adjacently, jac 1.0);
    // doc 9's bag sorts far away — with w=2 it never pairs with 1 or 2
    val docs = Seq(
      (1L, Seq("a b c", "b c d")),
      (2L, Seq("a b c", "b c d")),
      (9L, Seq("x y z")),
      (5L, Seq("a b c", "z z z"))) // shares one shingle with 1/2
      .toDF("doc_id", "sh")
    val got = Dedup.sortedNeighborhood(docs, "doc_id", "sh", w = 2)
      .select("id_a", "id_b", "jac")
      .as[(Long, Long, Double)].collect().toSet
    // sort keys: 1,2 → "a b c b c d"; 5 → "a b c z z z"; 9 → "x y z"
    // order: 1, 2, 5, 9 — w=2 compares only adjacent rows
    assert(got.contains((1L, 2L, 1.0)))
    assert(got.contains((2L, 5L, 1.0 / 3.0)))
    assert(!got.exists { case (a, b, _) => (a, b) == ((1L, 5L)) })
    assert(!got.exists { case (a, b, _) => b == 9L }) // no shared shingle
  }

  test("sortedNeighborhood pairs are a subset of exact jaccard pairs (jac agrees)") {
    val docs = graft.Tables.documents(spark, Sf001)
      .withColumn("sh", array_distinct(Text.shingles(Text.tokens(col("text")), 3)))
      .select("doc_id", "sh")
    val snm = Dedup.sortedNeighborhood(docs, "doc_id", "sh", w = 4)
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"), col("jac"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val exact = Dedup.jaccardPairs(docs.withColumn("all", lit(1)), "doc_id", "sh", Seq("all"))
      .select("id_a", "id_b", "jac")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(snm.nonEmpty)
    snm.foreach { case (k, j) => assert(exact.get(k).contains(j), s"$k") }
  }

  test("df-capped jaccardPairs: lower bound, subset, exact where the cap is idle") {
    // corpus with one Zipf-head shingle ("the") in every doc plus random
    // tails — the exact shape the cap exists for
    val rnd = new scala.util.Random(31)
    val docs = (1 to 60).map { i =>
      val tail = (0 until 2 + rnd.nextInt(4))
        .map(_ => s"w${rnd.nextInt(40)}").distinct
      (i.toLong, ("the" +: tail).distinct)
    }.toDF("doc_id", "sh").withColumn("all", lit(1))
    def pairs(maxDf: Option[Int]) =
      Dedup.jaccardPairs(docs, "doc_id", "sh", Seq("all"), maxDf)
        .select("id_a", "id_b", "common", "jac")
        .as[(Long, Long, Long, Double)].collect()
        .map { case (a, b, c, j) => (a, b) -> ((c, j)) }.toMap
    val exact = pairs(None)
    val capped = pairs(Some(10)) // "the" has df 60 → dropped; tails survive
    assert(capped.nonEmpty && capped.size < exact.size) // cap really bit
    capped.foreach { case (k, (cc, cj)) =>
      val (ec, ej) = exact(k) // subset: every capped pair is a real pair
      assert(cc <= ec && cj <= ej + 1e-15, s"$k")
    }
    // recall at a threshold: every pair the capped join scores ≥ t truly
    // scores ≥ t (the lower-bound property, stated as the user sees it)
    val t = 0.3
    capped.filter(_._2._2 >= t).keys.foreach { k =>
      assert(exact(k)._2 >= t, s"$k")
    }
    // pairs sharing NO capped shingle score bit-identically: rebuild the
    // corpus without the hot shingle — the cap must then be a no-op
    val cold = docs.withColumn("sh", array_remove(col("sh"), "the"))
    def coldPairs(maxDf: Option[Int]) =
      Dedup.jaccardPairs(cold, "doc_id", "sh", Seq("all"), maxDf)
        .select("id_a", "id_b", "common", "jac")
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(coldPairs(Some(10)) === coldPairs(None))
  }

  test("prefix-filtered pairs equal the unfiltered threshold join exactly") {
    // the AllPairs lemma end-to-end: at several thresholds and corpus
    // shapes (incl. a Zipf-head token in most docs — the case the prefix
    // skips), the prefix-filtered join's output must be IDENTICAL to
    // brute-force jaccardPairs + threshold, pair for pair and value for
    // value
    val rnd = new scala.util.Random(47)
    for ((n, vocab, tNum, tDen) <- Seq((80, 25, 1, 2), (60, 12, 2, 3),
        (120, 40, 1, 3), (50, 8, 9, 10))) {
      val docs = (1 to n).map { i =>
        val tail = (0 until 1 + rnd.nextInt(5))
          .map(_ => s"w${rnd.nextInt(vocab)}")
        val sh = (if (i % 3 != 0) "the" +: tail else tail).distinct
        (i.toLong, sh, if (i % 5 == 0) "a" else "b")
      }.toDF("doc_id", "sh", "lang")
      val got = Dedup
        .prefixJaccardPairs(docs, "doc_id", "sh", Seq("lang"), tNum, tDen)
        .select("lang", "id_a", "id_b", "common", "sz_a", "sz_b", "jac")
        .as[(String, Long, Long, Long, Long, Long, Double)].collect().toSet
      val want = Dedup.jaccardPairs(docs, "doc_id", "sh", Seq("lang"))
        .filter(col("common") * tDen >=
          (col("sz_a") + col("sz_b") - col("common")) * tNum)
        .select(col("lang"), col("id_a"), col("id_b"), col("common"),
          col("sz_a").cast("long"), col("sz_b").cast("long"), col("jac"))
        .as[(String, Long, Long, Long, Long, Long, Double)].collect().toSet
      assert(got === want, s"n=$n vocab=$vocab t=$tNum/$tDen")
    }
  }

  test("prefix filtering prunes candidates but never final pairs") {
    // the hot token sits in EVERY doc: the unfiltered posting join pays
    // n²/2 candidate rows for it, the prefix join must index none of it
    // (df-max tokens sort last, prefixes keep the rare head)
    val rnd = new scala.util.Random(53)
    val docs = (1 to 40).map { i =>
      val tail = (0 until 2 + rnd.nextInt(3)).map(_ => s"w${rnd.nextInt(30)}")
      (i.toLong, ("the" +: tail).distinct, "x")
    }.toDF("doc_id", "sh", "lang")
    val cand = Dedup
      .prefixCandidates(docs, "doc_id", "sh", Seq("lang"), 1, 2).count()
    val full = Dedup.jaccardPairs(docs, "doc_id", "sh", Seq("lang")).count()
    assert(cand < full, s"prefix candidates $cand did not prune vs $full")
    // and every surviving threshold pair is among the candidates
    val fin = Dedup
      .prefixJaccardPairs(docs, "doc_id", "sh", Seq("lang"), 1, 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val candSet = Dedup
      .prefixCandidates(docs, "doc_id", "sh", Seq("lang"), 1, 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(fin.subsetOf(candSet))
  }

  test("incremental pairs equal the batch×corpus slice of the self-join pairs") {
    val rnd = new scala.util.Random(23)
    val docs = (1 to 80).map { i =>
      val nSh = 1 + rnd.nextInt(5)
      (i.toLong, (0 until nSh).map(_ => s"s${rnd.nextInt(25)}").distinct,
        if (i % 7 == 0) "a" else "b")
    }.toDF("doc_id", "sh", "lang")
    val incoming = docs.filter(col("doc_id") % 4 === 0)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val got = Dedup
      .incrementalJaccardPairs(corpus, incoming, "doc_id", "sh", Seq("lang"))
      .select("lang", "id_new", "id_old", "common", "sz_new", "sz_old", "jac")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect().toSet
    // ground truth: the full self-join, restricted to (incoming, corpus)
    // pairs and re-oriented new-first (jaccardPairs emits id_a < id_b)
    val self = Dedup.jaccardPairs(docs, "doc_id", "sh", Seq("lang"))
      .select("lang", "id_a", "id_b", "common", "sz_a", "sz_b", "jac")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    val want = self.flatMap { case (l, a, b, c, sa, sb, j) =>
      val (aIn, bIn) = (a % 4 == 0, b % 4 == 0)
      if (aIn && !bIn) Some((l, a, b, c, sa, sb, j))
      else if (bIn && !aIn) Some((l, b, a, c, sb, sa, j))
      else None // both-in-batch and both-in-corpus pairs are out of scope
    }.toSet
    assert(got === want)
  }

  test("blocked SNM pair set equals the global-window form on random corpora") {
    // the boundary-overlap scale form must emit EXACTLY the single-sort
    // pairs — exercised across block sizes that force neighborhoods to
    // span block boundaries (blockSize barely above w) and duplicate-heavy
    // sort keys (4-symbol alphabet → many identical shingle bags)
    val rnd = new scala.util.Random(17)
    for ((n, w, blockSize) <- Seq((300, 4, 4), (300, 2, 2), (157, 5, 7),
        (64, 3, 64), (3, 4, 8))) {
      val docs = (1 to n).map { i =>
        val nSh = 1 + rnd.nextInt(4)
        (i.toLong, (0 until nSh).map(_ =>
          ('a' + rnd.nextInt(4)).toChar.toString).distinct)
      }.toDF("doc_id", "sh")
      def pairs(df: org.apache.spark.sql.DataFrame) = df
        .select("id_a", "id_b", "common", "sz_a", "sz_b", "jac")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      val blocked = pairs(
        Dedup.sortedNeighborhood(docs, "doc_id", "sh", w, blockSize))
      val global = pairs(
        Dedup.sortedNeighborhoodGlobal(docs, "doc_id", "sh", w))
      assert(blocked === global, s"n=$n w=$w blockSize=$blockSize")
    }
  }

  test("chunkRewrite: first occurrence survives, later copies deleted, " +
      "docs stitched in position order") {
    val docs = Seq(
      (1L, "a b c d e f"),      // chunks: "a b c" (first), "d e f" (first)
      (2L, "a b c x y z"),      // "a b c" dup of doc1 → removed; "x y z" kept
      (3L, "a b c"),            // whole doc is a dup → collapses to ""
      (4L, "x y"))              // short doc, one partial chunk, unique
      .toDF("doc_id", "text")
    val r = Dedup.chunkRewrite(docs, "doc_id", "text", width = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(r === Seq(
      (1L, 2L, 0L, "a b c d e f"),
      (2L, 2L, 1L, "x y z"),
      (3L, 1L, 1L, ""),
      (4L, 1L, 0L, "x y")))
  }

  test("chunkRewrite: total words conserved = kept + removed chunks") {
    val docs = Seq(
      (10L, "p q r p q r p q r"),  // self-repeating doc: chunk 0 kept,
                                   // chunks 1,2 are copies of chunk 0
      (11L, "p q r s"))
      .toDF("doc_id", "text")
    val r = Dedup.chunkRewrite(docs, "doc_id", "text", width = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(r === Seq(
      (10L, 3L, 2L, "p q r"),
      (11L, 2L, 1L, "s")))
  }

  test("minhashNearDups: over-cap band buckets star-chain around the min id") {
    // 12 clones (identical shingle sets → identical signatures → every
    // band bucket holds all 12) — the clone-cluster hazard in miniature
    val clones = (1L to 12L)
      .map(i => (i, Seq("a b c", "b c d", "c d e")))
      .toDF("doc_id", "sh")
    val capped = Dedup
      .minhashNearDups(clones, "doc_id", "sh", 32, 2, 0.5, maxBucket = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // star around hub 1: the cluster stays CONNECTED (components would
    // still collapse it to one representative) with 11 pairs, not 66
    assert(capped === (2L to 12L).map(i => (1L, i)).toSet)
    val uncapped = Dedup
      .minhashNearDups(clones, "doc_id", "sh", 32, 2, 0.5)
    assert(uncapped.count() === 66L) // 12·11/2 — the blowup the cap stops
    // sub-cap corpora are bit-identical with or without the cap
    val mixed = Seq(
      (1L, Seq("a b c", "b c d")), (2L, Seq("a b c", "b c d")),
      (3L, Seq("x y z", "y z w")), (4L, Seq("q r s", "r s t")))
      .toDF("doc_id", "sh")
    val a = Dedup.minhashNearDups(mixed, "doc_id", "sh", 32, 2, 0.5)
      .orderBy("id_a", "id_b").collect().toSeq
    val b = Dedup.minhashNearDups(mixed, "doc_id", "sh", 32, 2, 0.5,
        maxBucket = 2)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(a === b)
  }

  // --- jaccardPairs vs the posting self-join it replaced ----------------

  /** The earlier jaccardPairs, kept as the oracle: an equi-self-join of
    * the exploded postings on (block, shingle), the df cap applied by
    * broadcast anti-join against the over-cap keys. */
  private def selfJoinPairs(docs: org.apache.spark.sql.DataFrame, id: String,
      shingleCol: String, blockCols: Seq[String],
      maxDf: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val allPosts = docs
      .select((blockCols.map(col) :+ col(id) :+
        size(col(shingleCol)).as("__sz") :+
        explode(col(shingleCol)).as("__sh")): _*)
    val posts = maxDf match {
      case None => allPosts
      case Some(cap) =>
        val hot = allPosts
          .groupBy((blockCols :+ "__sh").map(col): _*)
          .agg(count(lit(1)).as("__df"))
          .filter(col("__df") > cap)
          .drop("__df")
        allPosts.join(broadcast(hot), blockCols :+ "__sh", "left_anti")
    }
    def sided(side: String) =
      posts.toDF(posts.columns.map {
        case `id` => s"id_$side"
        case "__sz" => s"sz_$side"
        case c => c
      }: _*)
    sided("a").join(sided("b"), blockCols :+ "__sh")
      .filter(col("id_a") < col("id_b"))
      .groupBy((blockCols :+ "id_a" :+ "id_b" :+ "sz_a" :+ "sz_b").map(col): _*)
      .agg(count(lit(1)).as("common"))
      .withColumn("jac",
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")).cast("double"))
  }

  /** Row-for-row (multiset) and schema equality of the grouped form with
    * the self-join oracle, uncapped and at each cap. */
  private def assertMatchesSelfJoin(docs: org.apache.spark.sql.DataFrame,
      blockCols: Seq[String], caps: Seq[Int], clue: String): Unit =
    for (cap <- None +: caps.map(Some(_))) {
      val got = Dedup.jaccardPairs(docs, "doc_id", "sh", blockCols, cap)
      val want = selfJoinPairs(docs, "doc_id", "sh", blockCols, cap)
      assert(got.schema === want.schema, s"$clue cap=$cap")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))
          .groupBy(identity).view.mapValues(_.size).toMap
      val (g, w) = (rows(got), rows(want))
      assert(g === w, s"$clue cap=$cap")
    }

  test("jaccardPairs equals the posting self-join on NULLs, duplicate ids, df at the cap and single-doc blocks") {
    val docs = Seq[(Option[Long], Option[String], Option[Seq[String]])](
      (Some(1L), Some("en"), Some(Seq("a", "b", "c", "hot"))),
      (Some(2L), Some("en"), Some(Seq("a", "b", "hot"))),
      (Some(3L), Some("en"), Some(Seq("b", "c", "hot", null))),
      (Some(4L), Some("en"), Some(Seq("c", "d", null))),
      (Some(2L), Some("en"), Some(Seq("a", "d", "hot"))),        // duplicate id
      (None, Some("en"), Some(Seq("a", "b", "hot"))),            // NULL id
      (Some(5L), None, Some(Seq("a", "b", "c"))),                // NULL block
      (Some(6L), None, Some(Seq("a", "b"))),
      (Some(7L), Some("de"), Some(Seq("a", "b", "c"))),          // single-doc block
      (Some(8L), Some("fr"), None),                              // NULL set
      (Some(9L), Some("fr"), Some(Seq.empty[String])),
      (Some(10L), Some("en"), Some(Seq("d", "hot"))))
      .toDF("doc_id", "lang", "sh")
    // "hot" in en has df 6 (ids 1, 2, 3, 2, NULL, 10): caps 5 and 6
    // put it at cap + 1 and at the cap; "a"/"b" sit at df 4 and 5
    assertMatchesSelfJoin(docs, Seq("lang"), Seq(1, 2, 3, 4, 5, 6, 7), "edges")
    assertMatchesSelfJoin(docs.withColumn("all", lit(1)), Seq("all"),
      Seq(3, 6, 9), "one block")
    // two block columns, one of them NULL on some rows
    assertMatchesSelfJoin(docs.withColumn("src",
        when(col("doc_id") % 3 === 0, lit(null).cast("string")).otherwise(lit("w"))),
      Seq("lang", "src"), Seq(2, 4), "two blocks")
  }

  test("jaccardPairs equals the posting self-join on seeded random corpora") {
    for ((seed, n, vocab) <- Seq((1, 60, 12), (2, 150, 30), (3, 40, 5), (4, 200, 80))) {
      val rnd = new scala.util.Random(seed)
      val docs = (1 to n).map { i =>
        val tail = (0 until rnd.nextInt(6)).map { _ =>
          if (rnd.nextInt(30) == 0) null else s"w${rnd.nextInt(vocab)}"
        }
        val sh = (if (rnd.nextInt(3) > 0) "the" +: tail else tail).distinct
        // a few duplicate ids and NULL ids / blocks
        val id = if (rnd.nextInt(25) == 0) None
          else Some((if (rnd.nextInt(10) == 0) rnd.nextInt(i) + 1 else i).toLong)
        val lang = rnd.nextInt(20) match {
          case 0 => None
          case 1 => Some("solo" + i) // single-document block
          case x => Some(if (x % 2 == 0) "a" else "b")
        }
        (id, lang, sh)
      }.toDF("doc_id", "lang", "sh").repartition(3)
      assertMatchesSelfJoin(docs, Seq("lang"), Seq(1, 3, 8, 20), s"seed=$seed")
    }
  }
}
