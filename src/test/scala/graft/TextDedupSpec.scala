package graft

import org.apache.spark.sql.functions._

import graft.dedup.FuzzyDedup
import graft.text.TextAnalysis

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en"),
    (2L, "the quick brown fox jumps over the lazy cat", "en"),
    (3L, "completely different words entirely here now", "en"),
    (4L, "the quick brown fox jumps over the lazy dog", "en") // exact dup of 1
  ).toDF("doc_id", "text", "lang")

  test("wordNGrams guards size < n (sequence would descend)") {
    val out = Seq("a b", "a b c d").toDF("t")
      .select(TextAnalysis.wordNGrams(TextAnalysis.tokens($"t"), 3).as("g"))
      .as[Seq[String]].collect()
    assert(out(0).isEmpty)
    assert(out(1) == Seq("a b c", "b c d"))
  }

  test("tokens: no empty tokens from tabs/newlines; empty text -> 0") {
    val r = Seq("\tword one", "", "  x  ", "a\nb").toDF("t")
      .select(TextAnalysis.tokenCount($"t").as("n")).as[Int].collect()
    assert(r.toSeq == Seq(2, 0, 1, 2))
  }

  test("tokenCount and bpeishTokenCount") {
    val r = Seq("  hello, world! 42 ").toDF("t").select(
      TextAnalysis.tokenCount($"t").as("ws"),
      TextAnalysis.bpeishTokenCount($"t").as("bpe")).collect()(0)
    assert(r.getInt(0) == 3)
    // hello , world ! 42 -> 5
    assert(r.getInt(1) == 5)
  }

  test("exactDupGroups collapses identical texts to min id") {
    val out = FuzzyDedup.exactDupGroups(docs, "doc_id", "text")
      .filter($"n_copies" > 1).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("keep_id") == 1L)
    assert(out(0).getAs[Long]("n_copies") == 2L)
  }

  test("jaccardPairs finds near dups inside block, exact pair at 1.0") {
    val pairs = FuzzyDedup.jaccardPairs(docs, "doc_id", "text", "lang",
      n = 3, minJaccard = 0.3, maxDf = None)
      .orderBy("id1", "id2").collect()
    val exact = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get
    assert(exact.getAs[Double]("jaccard") == 1.0)
    // doc 3 shares nothing
    assert(!pairs.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("minhash signatures: identical docs identical, near docs similar") {
    val sig = FuzzyDedup.minhashSignatures(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().toMap
    assert(sig(1L) == sig(4L)) // exact dup -> identical signature
    val agree12 = sig(1L).zip(sig(2L)).count { case (a, b) => a == b }
    val agree13 = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(agree12 > agree13) // near dup agrees more than unrelated
  }

  test("minhash signature agreement tracks true jaccard (family sanity)") {
    // regression for the degenerate (a*x+b) mod p family: agreement must be
    // a consistent estimator of jaccard, not argmin-of-smallest-hash
    val sh = FuzzyDedup.shingleHashes(docs, "doc_id", "text", 3)
      .as[(Long, Long)].collect()
    def set(i: Long) = sh.filter(_._1 == i).map(_._2).toSet
    val trueJ = (set(1L) & set(2L)).size.toDouble / (set(1L) | set(2L)).size
    val sig = FuzzyDedup.minhashSignatures(docs, "doc_id", "text", n = 3)
      .as[(Long, Seq[Long])].collect().toMap
    val est = sig(1L).zip(sig(2L)).count { case (a, b) => a == b } / 64.0
    assert(math.abs(est - trueJ) < 0.25,
      s"minhash estimate $est far from true jaccard $trueJ")
  }

  test("containment pairs catch the subset case a jaccard threshold misses") {
    // B's trigrams are a strict subset of A's: containment(B⊂A) = 1.0
    // while jaccard = |B|/|A| stays low
    val longText = (1 to 30).map(i => s"w$i").mkString(" ")
    val shortText = (1 to 8).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, longText), (2L, shortText), (3L, "x y z q r s"))
      .toDF("doc_id", "text")
    val sh = FuzzyDedup.shingleHashes(d, "doc_id", "text", 3)
      .select($"doc_id".as("id"), $"h64")
    val cont = FuzzyDedup.containmentPairsFromShingles(sh, None,
        minContainment = 0.9, maxDf = None)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(cont.map(r => (r._1, r._2)).toSet == Set((1L, 2L)))
    assert(cont.head._6 == 1.0) // full containment
    // the same pair is INVISIBLE at a 0.9 jaccard threshold
    val jac = FuzzyDedup.jaccardPairsFromShingles(sh, None,
      minJaccard = 0.9, maxDf = None)
    assert(jac.count() == 0)
  }

  test("pairScoreTable-derived scores equal the direct threshold paths") {
    // the shared unthresholded (id1,id2,n_common,n1,n2) table must yield
    // the SAME rows as the direct jaccard/containment computations when
    // the score arithmetic is applied as a plain filter over it — the
    // equivalence the session-level pair-score memo relies on
    val d = Seq(
      (1L, (1 to 30).map(i => s"w$i").mkString(" "), "en"),
      (2L, (1 to 8).map(i => s"w$i").mkString(" "), "en"),
      (3L, (5 to 25).map(i => s"w$i").mkString(" "), "en"),
      (4L, "x y z q r s t u v", "en"))
      .toDF("doc_id", "text", "lang")
    val sh = FuzzyDedup.shingleHashes(d, "doc_id", "text", 3)
      .select($"doc_id".as("id"), $"h64")
    val blocks = Some(d.select($"doc_id".as("id"), $"lang".as("block")))
    val core = FuzzyDedup.pairScoreTableFromShingles(sh, blocks,
      maxDf = Some(1000))
    val contDerived = core
      .withColumn("containment",
        col("n_common").cast("double") / least(col("n1"), col("n2")))
      .filter(col("containment") >= 0.6)
      .select("id1", "id2", "n_common", "n1", "n2", "containment")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val contDirect = FuzzyDedup.containmentPairsFromShingles(sh, blocks,
        minContainment = 0.6, maxDf = Some(1000))
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(contDerived == contDirect)
    assert(contDerived.nonEmpty)
    val jacDerived = core
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n1") + col("n2") - col("n_common")))
      .filter(col("jaccard") >= 0.1)
      .select("id1", "id2", "n_common", "n1", "n2", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val jacDirect = FuzzyDedup.jaccardPairsFromShingles(sh, blocks,
        minJaccard = 0.1, maxDf = Some(1000))
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(jacDerived == jacDirect)
    assert(jacDerived.nonEmpty)
  }

  test("minhashCandidates surfaces the exact-dup pair") {
    val cand = FuzzyDedup.minhashCandidates(docs, "doc_id", "text", n = 3)
      .as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 4L)))
  }

  test("minhashClusterEdges: star components == all-pairs components") {
    // the linear star edges must produce EXACTLY the components of the
    // quadratic pair listing — same buckets, spanning star vs clique
    val sh = FuzzyDedup.shingleHashes(docs, "doc_id", "text", 3)
      .select($"doc_id".as("id"), $"h64")
    def comps(pairs: org.apache.spark.sql.DataFrame) =
      FuzzyDedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
    val star = comps(FuzzyDedup.minhashClusterEdges(sh))
    val clique = comps(FuzzyDedup.minhashCandidatesFromShingles(sh))
    assert(star == clique)
    assert(star.nonEmpty) // the (1, 4) exact-dup family is in there
    assert(star(4L) == star.getOrElse(1L, 1L))
    // star edge count is bounded by Σ(bucket-1) — never exceeds pairs
    val nStar = FuzzyDedup.minhashClusterEdges(sh).count()
    val nPairs = FuzzyDedup.minhashCandidatesFromShingles(sh).count()
    assert(nStar <= nPairs)
  }

  test("minhashVerifiedPairs equals exact jaccard pairs at high threshold") {
    // recall contract: 32 bands of 2 rows miss a 0.7-jaccard pair with
    // probability (1-0.49)^32 < 1e-9 — output must BE the exact pair set
    val verified = FuzzyDedup.minhashVerifiedPairs(docs, "doc_id", "text",
        n = 3, minJaccard = 0.3, bands = 32, maxDf = None)
      .select("id1", "id2", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val exact = FuzzyDedup.jaccardPairs(
        docs.withColumn("one_block", lit(1)), "doc_id", "text", "one_block",
        n = 3, minJaccard = 0.3, maxDf = None)
      .select("id1", "id2", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(verified == exact)
    assert(verified.contains((1L, 4L, 1.0)))
  }

  test("jaccardPairs / dedupCorpus leave no cached frames behind") {
    // localCheckpoint RDDs are transient plan anchors, not cacheManager
    // entries; the leak VERDICT flagged was the two .persist frames in
    // jaccardPairs, which register with the SQL cache manager. The cache
    // manager is SHARED across the test session (graph ops legitimately
    // persist their edge lists, and suites run concurrently), so the
    // assertion is scoped: no surviving entry may reference this
    // operator's shingle plan, rather than demanding global emptiness.
    FuzzyDedup.dedupCorpus(docs, "doc_id", "text", "lang",
      n = 3, minJaccard = 0.5).count()
    val cm = spark.sharedState.cacheManager
    val acc = cm.getClass.getDeclaredMethod("cachedData")
    acc.setAccessible(true)
    val leaked = acc.invoke(cm)
      .asInstanceOf[scala.collection.immutable.IndexedSeq[
        org.apache.spark.sql.execution.CachedData]]
      .map(_.plan.toString)
      .filter(p => p.contains("shingle") || p.contains("h64"))
    assert(leaked.isEmpty,
      s"dedupCorpus left shingle frames in the SQL cache manager:\n" +
        leaked.mkString("\n"))
  }

  test("connectedComponents: string ids fall through to distributed path") {
    // the driver fast path decodes longs; string ids must not NPE — the
    // integral-id guard routes them to distributedComponents
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id1", "id2")
    val comp = FuzzyDedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    assert(Seq("a", "b", "c").forall(comp(_) == "a"))
    assert(comp("y") == "x")
  }

  test("simhash: identical docs have identical hashes; pairs hamming 0") {
    val sh = FuzzyDedup.simhash64(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(4L))
    val pairs = FuzzyDedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0))
  }

  test("simhash/minhash maxBucket drops a mega bucket, audit sees it") {
    // 30 identical docs -> every chunk/band bucket holds all 30; a cap of 5
    // must drop them all (bounded fan-out: 0 pairs instead of 435), and the
    // overflow audit must report exactly those buckets.
    val mega = (1L to 30L).map(i => (i, "same exact boilerplate text here"))
      .toDF("doc_id", "text")
    assert(FuzzyDedup.simhashPairs(mega, "doc_id", "text",
      maxBucket = Some(5)).isEmpty)
    val shOver = FuzzyDedup.simhashOverflowBuckets(mega, "doc_id", "text",
      maxBucket = 5).collect()
    assert(shOver.length == 4 && shOver.forall(_.getAs[Long]("bucket_size") == 30L))
    assert(FuzzyDedup.minhashCandidates(mega, "doc_id", "text", n = 3,
      maxBucket = Some(5)).isEmpty)
    val mhOver = FuzzyDedup.minhashOverflowBuckets(mega, "doc_id", "text",
      n = 3, maxBucket = 5).collect()
    assert(mhOver.nonEmpty && mhOver.forall(_.getAs[Long]("bucket_size") == 30L))
    // default cap (10k) leaves the small corpus untouched
    assert(FuzzyDedup.simhashPairs(mega, "doc_id", "text").count() == 435L)
  }

  test("connectedComponents: chain, triangle, and pass-through") {
    // chain 1-2-3-4-5 (diameter forces several propagation rounds),
    // triangle 10-11-12, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("id1", "id2")
    val comp = FuzzyDedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(comp(21L) == 20L)
    // applyDedup keeps exactly the min-id representative per cluster plus
    // all rows never mentioned in pairs
    val corpus = (1L to 25L).toDF("doc_id")
    val kept = FuzzyDedup.applyDedup(corpus, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(5L))
    assert(kept.contains(10L) && !kept.contains(12L))
    assert(kept.contains(20L) && !kept.contains(21L))
    assert(kept.contains(25L)) // untouched row survives
    // 10 nodes appear in pairs, 3 survive as representatives -> 7 dropped
    assert(kept.size == 25 - 7)
  }

  test("applyDedupBest: max-score representative, min-id tiebreak, pass-through") {
    // clusters {1..5} (chain), {10,11,12}, {20,21}; scores favor NON-min
    // ids in the first two clusters and tie in the third
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("id1", "id2")
    val corpus = (1L to 25L).map { i =>
      val score = i match {
        case 3L => 100 // best of {1..5}
        case 12L => 50 // best of {10,11,12}
        case 20L | 21L => 7 // tie -> min id 20 wins
        case _ => 1
      }
      (i, score)
    }.toDF("doc_id", "quality")
    val kept = FuzzyDedup.applyDedupBest(corpus, "doc_id", pairs, "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(3L) && !kept.contains(1L) && !kept.contains(5L))
    assert(kept.contains(12L) && !kept.contains(10L))
    assert(kept.contains(20L) && !kept.contains(21L))
    assert(kept.contains(25L)) // untouched row survives
    assert(kept.size == 25 - 7)
    // all-NULL-score component still elects exactly one representative
    // (min id), matching the oracle's NULLS-LAST election
    val nullScores = Seq[(Long, java.lang.Integer)](
      (20L, null), (21L, null), (22L, 9))
      .toDF("doc_id", "quality")
    val keptN = FuzzyDedup.applyDedupBest(nullScores, "doc_id",
        Seq((20L, 21L)).toDF("id1", "id2"), "quality")
      .select("doc_id").as[Long].collect().toSet
    assert(keptN == Set(20L, 22L), s"null-score cluster broke: $keptN")
  }

  test("connectedComponents: 60-hop chain converges (pointer jumping)") {
    // diameter 59 >> maxIter 20: plain one-hop propagation would hit the
    // iteration cap with split components; the jump makes it O(log d).
    // driverThreshold = 0 forces the DISTRIBUTED path.
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id1", "id2")
    val comp = FuzzyDedup.connectedComponents(chain, driverThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert((1L to 60L).forall(comp(_) == 1L))
    // the driver union-find fast path must agree exactly
    val compFast = FuzzyDedup.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(comp == compFast)
  }

  test("quality features and score are in sane ranges") {
    val out = TextAnalysis.qualityScore(
      TextAnalysis.withQualityFeatures(docs, "text",
        TextAnalysis.defaultStopwords))
      .select("punct_ratio", "space_ratio", "alpha_ratio", "stopword_ratio",
        "quality_score").collect()
    out.foreach { r =>
      (0 until 5).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= 0.0 && v <= 1.0, s"col $i out of range: $v")
      }
    }
  }

  test("language ID picks the marker-heavy language, und when none") {
    val df = Seq(
      (1L, "the cat and the dog of the house is big"),
      (2L, "el perro y la casa de que y el gato"),
      (3L, "zzz qqq xxx")).toDF("doc_id", "text")
    val out = TextAnalysis.withLanguageId(df, "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(2L) == "es" && out(3L) == "und")
  }

  test("fingerprints: whitespace/case-insensitive exact key") {
    val df = Seq((1L, "Hello   World Foo"), (2L, "hello world foo"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.withFingerprints(df, "text")
      .select("fp_md5").as[String].collect()
    assert(fp(0) == fp(1))
  }

  test("PII redaction scrubs all pattern types and counts them") {
    val df = Seq(
      (1L, "mail a.b+c@corp.example.org and x@y.io, call 555-123.4567, " +
        "ssn 123-45-6789, host 192.168.0.1 end"),
      (2L, "nothing sensitive here 12345"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.withPiiRedaction(df, "text").orderBy("doc_id")
      .select("n_email", "n_ssn", "n_phone", "n_ipv4", "text_redacted")
      .collect()
    assert(out(0).getInt(0) == 2 && out(0).getInt(1) == 1 &&
      out(0).getInt(2) == 1 && out(0).getInt(3) == 1)
    val red = out(0).getString(4)
    assert(red.contains("<EMAIL>") && red.contains("<SSN>") &&
      red.contains("<PHONE>") && red.contains("<IP>"))
    assert(!red.contains("@") && !red.contains("123-45-6789"))
    assert(out(1).getString(4) == "nothing sensitive here 12345")
    assert((0 to 3).forall(out(1).getInt(_) == 0))
  }

  test("editDistancePairs: threshold, length-band, blocking all honored") {
    val df = Seq(
      (1L, "the quick brown fox", "en"),
      (2L, "the quick brown fax", "en"),   // dist 1 from doc 1
      (3L, "a completely different sentence altogether", "en"),
      (4L, "the quick brown fox", "de"))   // identical text, other block
      .toDF("doc_id", "text", "lang")
    val out = FuzzyDedup.editDistancePairs(df, "doc_id", "text", "lang",
        maxDist = 3)
      .select("id1", "id2", "edit_dist").as[(Long, Long, Int)].collect().toSet
    assert(out == Set((1L, 2L, 1))) // 3 too far; 4 blocked away
  }

  test("TfIdf: rare terms outrank stopword-like terms; top-k per doc") {
    val docs = Seq(
      (1L, "common common zebra"),
      (2L, "common yak"),
      (3L, "common common common"))
      .toDF("doc_id", "text")
    val scores = graft.text.TfIdf.termScores(docs, "doc_id", "text")
      .select("doc_id", "term", "tf", "df", "tfidf")
      .as[(Long, String, Long, Long, Double)].collect()
    // "common" appears in all 3 docs -> idf = ln(1) = 0 everywhere
    assert(scores.filter(_._2 == "common").forall(_._5 == 0.0))
    val zebra = scores.find(s => s._1 == 1L && s._2 == "zebra").get
    assert(zebra._3 == 1L && zebra._4 == 1L &&
      math.abs(zebra._5 - math.log(3.0)) < 1e-12)
    val top = graft.text.TfIdf.topTerms(docs, "doc_id", "text", k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    assert(top(1L) == "zebra" && top(2L) == "yak")
  }

  test("bm25Retrieve: tf saturation, length normalization, match count") {
    val docs = Seq(
      (1L, "spark spark spark filler filler"),       // tf=3, dl=5
      (2L, "spark filler filler filler filler"),     // tf=1, dl=5
      (3L, "spark " + Seq.fill(99)("pad").mkString(" ")), // tf=1, dl=100
      (4L, "nothing relevant here"))
      .toDF("doc_id", "text")
    val r = graft.text.TfIdf.bm25Retrieve(docs, "doc_id", "text",
        Seq("spark"), k = 10)
      .select("doc_id", "bm25_r6", "n_matched")
      .as[(Long, Double, Long)].collect()
    val byId = r.map(x => x._1 -> x._2).toMap
    // unmatched doc absent; all matches present with n_matched = 1
    assert(r.map(_._1).toSet == Set(1L, 2L, 3L) && r.forall(_._3 == 1L))
    // higher tf scores higher (but saturated), longer doc penalized
    assert(byId(1L) > byId(2L) && byId(2L) > byId(3L))
    assert(r.forall(_._2 > 0.0))
    // saturation: tf 3x gives far less than 3x the score
    assert(byId(1L) < 2.5 * byId(2L))
  }

  test("vocabCoverage: exact fractions on a known distribution") {
    // counts: common x6, mid x3, rare x1 -> top-1 covers 0.6, top-2 0.9
    val docs = Seq(
      (1L, "common common common mid"),
      (2L, "common common common mid mid rare"))
      .toDF("doc_id", "text")
    val cov = graft.text.TfIdf.vocabCoverage(docs, "doc_id", "text",
        Seq(1, 2, 10))
      .select("top_n", "covered_tokens", "total_tokens", "n_vocab_terms",
        "coverage")
      .as[(Int, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(cov(1) == ((1, 6L, 10L, 1L, 0.6)))
    assert(cov(2) == ((2, 9L, 10L, 2L, 0.9)))
    // N beyond the vocab clamps to full coverage
    assert(cov(10) == ((10, 10L, 10L, 3L, 1.0)))
  }

  test("rerankByCosine: query-aligned doc outranks high-tf one-term doc") {
    val docs = Seq(
      (1L, "spark spark spark spark noise blah extra words here"), // 1 q-term
      (2L, "spark join window"),                                   // all 3
      (3L, "unrelated filler text"),
      (4L, "spark join window spark join window"))
      .toDF("doc_id", "text")
    val q = Seq("spark", "join", "window")
    val cand = graft.text.TfIdf.bm25Retrieve(docs, "doc_id", "text", q, k = 4)
    val r = graft.text.TfIdf.rerankByCosine(docs, "doc_id", "text", cand, q)
      .select("doc_id", "bm25_r6", "rerank_cosine")
      .as[(Long, Double, Double)].collect()
    val byId = r.map(x => x._1 -> x._3).toMap
    // candidates pass through with their bm25 columns; doc 3 never matched
    assert(r.map(_._1).toSet == Set(1L, 2L, 4L))
    // perfect query alignment -> cosine ~1, far above the one-term doc
    assert(byId(2L) > 0.99 && byId(4L) > 0.99)
    assert(byId(2L) > byId(1L))
    assert(r.forall(x => x._3 >= 0.0 && x._3 <= 1.0 + 1e-9))
  }

  test("LangModel: bigram extraction and smoothed log-likelihood by hand") {
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: (a,b) (b,a) (a,b)
      (2L, "a b"),       // (a,b)
      (3L, "x"))         // too short: no bigrams, no score row
      .toDF("doc_id", "text")
    val bg = graft.text.LangModel.bigrams(docs, "doc_id", "text")
      .as[(Long, String, String)].collect().toSeq
    assert(bg.count(_ == ((1L, "a", "b"))) == 2)
    assert(bg.count(_ == ((1L, "b", "a"))) == 1)
    assert(bg.count(_ == ((2L, "a", "b"))) == 1)
    assert(!bg.exists(_._1 == 3L))
    // model: c(a,b)=3, c(b,a)=1; prefixes c(a·)=3, c(b·)=1; V=2; alpha=0.4
    val a = 0.4; val V = 2
    val pAB = (3 + a) / (3 + a * V)
    val pBA = (1 + a) / (1 + a * V)
    val scored = graft.text.LangModel.scoreDocs(docs, docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(scored.keySet == Set(1L, 2L))
    assert(scored(1L)._2 == 3L)
    val exp1 = (2 * math.log(pAB) + math.log(pBA)) / 3
    assert(math.abs(scored(1L)._3 - exp1) < 1e-12, scored(1L))
    assert(math.abs(scored(2L)._3 - math.log(pAB)) < 1e-12)
    // a doc full of corpus-typical bigrams outscores one full of rare ones
    assert(scored(2L)._3 > scored(1L)._3 == (math.log(pAB) > exp1))
  }

  test("jaccardPairsAgainst: batch-vs-corpus pairs, honest denominators") {
    // corpus docs 10,11; batch docs 1 (near-dup of 10), 2 (unrelated)
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta", "en"),
      (11L, "one two three four five six", "en"))
      .toDF("doc_id", "text", "lang")
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon eta", "en"), // shares 3 of 4 3-grams?
      (2L, "purple monkey dishwasher runs fast here", "en"))
      .toDF("doc_id", "text", "lang")
    val pairs = graft.dedup.FuzzyDedup.jaccardPairsAgainst(
        batch, corpus, "doc_id", "text", "lang", n = 3, minJaccard = 0.2)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    // doc1 x doc10: 6 tokens -> 4 3-grams each; 3 shared
    // jaccard = 3 / (4 + 4 - 3) = 0.6
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 10L)))
    val p = pairs.head
    assert(p._3 == 3L && p._4 == 4L && p._5 == 4L)
    assert(math.abs(p._6 - 0.6) < 1e-12)
    // probe-only shingles must count toward n1 even though df=0 in corpus:
    // doc2 has 4 shingles, none in corpus, no pair emitted (not a div-by-0)
    assert(!pairs.exists(_._1 == 2L))
    // corpus is never compared to itself: no (10, 11)-style output shape
    assert(pairs.forall(p => Set(1L, 2L).contains(p._1)))
  }

  test("withRepetitionFeatures: dup/top/bigram ratios, empty-text nulls") {
    val df = Seq(
      (1L, "a a a a"),            // one word repeated: dup .75, top 1.0, bigram dup 2/3
      (2L, "w x y z"),            // all distinct: dup 0, top .25, bigram dup 0
      (3L, "solo"),               // 1 token: no bigrams -> ratio 0 by definition
      (4L, "  \t ")               // no tokens -> all ratios null
    ).toDF("doc_id", "text")
    val r = TextAnalysis.withRepetitionFeatures(df, "text")
      .select("doc_id", "n_tokens_r", "dup_word_ratio", "top_word_ratio",
        "dup_bigram_ratio")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getInt(1) == 4)
    assert(r(1L).getDouble(2) == 0.75 && r(1L).getDouble(3) == 1.0)
    assert(math.abs(r(1L).getDouble(4) - 0.666667) < 1e-9)
    assert(r(2L).getDouble(2) == 0.0 && r(2L).getDouble(3) == 0.25
      && r(2L).getDouble(4) == 0.0)
    assert(r(3L).getDouble(4) == 0.0)
    assert(r(4L).isNullAt(2) && r(4L).isNullAt(3) && r(4L).isNullAt(4))
  }

  test("flagContamination: eval-overlap counts distinct grams, flag 0/1") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps high"),   // shares 3-grams with eval
      (2L, "purple monkey dishwasher runs far"), // no overlap
      (3L, "the quick brown fox jumps high"))   // same as 1 -> same count
      .toDF("doc_id", "text")
    val eval = Seq((100L, "the quick brown fox sleeps"))
      .toDF("doc_id", "text")
    val r = graft.text.Decontaminate.flagContamination(
        corpus, eval, "text", "doc_id", n = 3)
      .select("doc_id", "n_contaminated_grams", "contaminated")
      .as[(Long, Long, Int)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // eval 3-grams: "the quick brown", "quick brown fox", "brown fox sleeps"
    // doc 1 contains the first two
    assert(r(1L) == (2L, 1) && r(3L) == (2L, 1))
    assert(r(2L) == (0L, 0))
  }

  test("DedupIndex: CDC-maintained LSH index — incremental refresh, " +
      "update/delete erase, candidates + exact verification, rebuild cap") {
    import graft.dedup.DedupIndex
    import graft.ops.VersionedTable
    val base = java.nio.file.Files.createTempDirectory("graft_dedupidx")
    val (src, idx) = (s"$base/src", s"$base/idx")
    def sent(tail: String) =
      s"the quick brown fox jumps over the lazy $tail and then rests"
    val corpus = Seq(
      (1L, sent("dog"), "p0"), (2L, sent("cat"), "p0"),
      (3L, "completely different words entirely here now today", "p1"),
      (4L, sent("dog"), "p1")) // 4 = exact dup of 1
    VersionedTable.upsert(spark, src,
      corpus.toDF("doc_id", "text", "part"), Seq("doc_id", "part"), Seq("part"))
    DedupIndex.create(spark, idx, src, "doc_id", "text", shingleN = 2)
    assert(DedupIndex.lastRefreshRebuild &&
      DedupIndex.lastRefreshDocs == 4)
    // a NEW batch probes the index: near-dups of 1/2/4 surface, the
    // unrelated doc doesn't; exact verification filters by true jaccard
    val batch = Seq((10L, sent("dog")), (11L, "nothing in common at all"))
      .toDF("doc_id", "text")
    val got = DedupIndex.verifiedPairs(spark, idx, batch, 0.7)
      .select($"new_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(got.contains((10L, 1L)) && got.contains((10L, 4L)))
    assert(!got.exists(_._1 == 11L) && !got.exists(_._2 == 3L))
    // incremental refresh: the batch lands in the source; only IT is
    // re-banded (feed-sized work, no corpus re-shingle)
    VersionedTable.upsert(spark, src,
      Seq((10L, sent("dog"), "p0"), (11L, "nothing in common at all", "p1"))
        .toDF("doc_id", "text", "part"), Seq("doc_id", "part"), Seq("part"))
    val idxVersionsBefore = VersionedTable.history(spark, idx).size
    DedupIndex.refresh(spark, idx)
    assert(!DedupIndex.lastRefreshRebuild &&
      DedupIndex.lastRefreshDocs == 2,
      s"incremental refresh processed ${DedupIndex.lastRefreshDocs}")
    // a PURE-INSERT feed skips the keyed-delete erase (the ids were
    // absent at the synced version, so the index holds no rows for
    // them): exactly ONE new index commit, the band upsert
    assert(VersionedTable.history(spark, idx).size == idxVersionsBefore + 1,
      "insert-only refresh must not run the erase rewrite")
    // idempotent replay: already synced -> no-op
    val v = DedupIndex.refresh(spark, idx)
    assert(DedupIndex.refresh(spark, idx) == v)
    // UPDATE moves a doc's buckets; DELETE erases them
    VersionedTable.upsert(spark, src,
      Seq((2L, "totally rewritten text nothing shared anymore ok", "p0"))
        .toDF("doc_id", "text", "part"), Seq("doc_id", "part"), Seq("part"))
    VersionedTable.deleteMatching(spark, src, $"doc_id" === 4L)
    DedupIndex.refresh(spark, idx)
    assert(DedupIndex.lastRefreshDocs == 2)
    val after = DedupIndex.verifiedPairs(spark, idx,
      Seq((20L, sent("cat"))).toDF("doc_id", "text"), 0.5)
      .select($"corpus_id").as[Long].collect().toSet
    // 4 deleted, 2 rewritten away: only 1 and the indexed 10 remain near
    assert(after.contains(1L) && after.contains(10L) &&
      !after.contains(4L) && !after.contains(2L), s"got $after")
    // continuous refresh: the metronome leg converges the index while
    // writes land, no explicit refresh call
    val q = graft.streaming.StreamPipeline.startIndexRefresh(spark, idx,
      pollInterval = "100 milliseconds")
    try {
      VersionedTable.upsert(spark, src,
        Seq((12L, sent("dog"), "p1")).toDF("doc_id", "text", "part"),
        Seq("doc_id", "part"), Seq("part"))
      val end = System.currentTimeMillis + 30000
      def hit(): Boolean = DedupIndex.verifiedPairs(spark, idx,
        Seq((21L, sent("dog"))).toDF("doc_id", "text"), 0.7)
        .select($"corpus_id").as[Long].collect().toSet.contains(12L)
      while (!hit() && System.currentTimeMillis < end) Thread.sleep(200)
      assert(hit(), "continuous index refresh did not converge")
    } finally q.stop()
    // mass-change fallback: shrink the cap, touch 3 docs -> full rebuild
    spark.conf.set("spark.graft.dedupindex.idCap", "2")
    try {
      VersionedTable.upsert(spark, src,
        Seq((30L, sent("owl"), "p0"), (31L, sent("elk"), "p0"),
          (32L, sent("emu"), "p1")).toDF("doc_id", "text", "part"),
        Seq("doc_id", "part"), Seq("part"))
      DedupIndex.refresh(spark, idx)
      assert(DedupIndex.lastRefreshRebuild)
      val rebuilt = DedupIndex.verifiedPairs(spark, idx,
        Seq((21L, sent("owl"))).toDF("doc_id", "text"), 0.7)
        .select($"corpus_id").as[Long].collect().toSet
      assert(rebuilt.contains(30L), s"rebuilt index missing new doc: $rebuilt")
    } finally spark.conf.unset("spark.graft.dedupindex.idCap")
  }

  test("DedupIndex epochs: refreshes append fresh (band, epoch) dirs — " +
      "no standing-index rewrite — and fold past maxEpochs") {
    import graft.dedup.DedupIndex
    import graft.ops.VersionedTable
    val base = java.nio.file.Files.createTempDirectory("graft_dedupep")
    val (src, idx) = (s"$base/src", s"$base/idx")
    def doc(i: Long) = (i, s"epoch test document number $i with shared tail", "p0")
    VersionedTable.upsert(spark, src, Seq(doc(1), doc(2))
      .toDF("doc_id", "text", "part"), Seq("doc_id", "part"), Seq("part"))
    DedupIndex.create(spark, idx, src, "doc_id", "text", shingleN = 2)
    def epochs(): Set[String] = VersionedTable
      .filesMeta(spark, idx).select("partition").collect()
      .map(_.getString(0).split("/")(1)).toSet
    assert(epochs() == Set("epoch=0"))
    // two pure-insert refreshes: two NEW epochs, the old dirs' files
    // untouched (their generation mapping survives verbatim)
    VersionedTable.upsert(spark, src, Seq(doc(3)).toDF("doc_id", "text", "part"),
      Seq("doc_id", "part"), Seq("part"))
    DedupIndex.refresh(spark, idx)
    VersionedTable.upsert(spark, src, Seq(doc(4)).toDF("doc_id", "text", "part"),
      Seq("doc_id", "part"), Seq("part"))
    DedupIndex.refresh(spark, idx)
    assert(epochs() == Set("epoch=0", "epoch=1", "epoch=2"), epochs())
    // past the cap the NEXT refresh folds everything into one epoch;
    // the index still answers identically
    spark.conf.set("spark.graft.dedupindex.maxEpochs", "3")
    try {
      VersionedTable.upsert(spark, src, Seq(doc(5)).toDF("doc_id", "text", "part"),
        Seq("doc_id", "part"), Seq("part"))
      DedupIndex.refresh(spark, idx)
      assert(epochs() == Set("epoch=3"), s"consolidation didn't fold: ${epochs()}")
    } finally spark.conf.unset("spark.graft.dedupindex.maxEpochs")
    val hits = DedupIndex.verifiedPairs(spark, idx,
      Seq((99L, doc(1)._2)).toDF("doc_id", "text"), 0.5)
      .select($"corpus_id").as[Long].collect().toSet
    assert(Set(1L, 2L, 3L, 4L, 5L).subsetOf(hits), s"got $hits")
    // idempotent no-op after fold: synced, nothing changes
    val v = DedupIndex.refresh(spark, idx)
    assert(DedupIndex.refresh(spark, idx) == v)
  }

  test("DedupIndex: reserved column names refuse at create") {
    import graft.dedup.DedupIndex
    import graft.ops.VersionedTable
    val base = java.nio.file.Files.createTempDirectory("graft_dedupres")
    val src = s"$base/src"
    VersionedTable.upsert(spark, src,
      Seq((1L, "a reserved-name doc", "p0"), (2L, "another doc", "p0"))
        .toDF("doc_id", "text", "part"), Seq("doc_id", "part"), Seq("part"))
    // reserved names refuse loudly at create
    val e = intercept[IllegalArgumentException] {
      DedupIndex.create(spark, s"$base/idx2", src, "epoch", "text")
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("dedup index refuses a non-unique id column loudly when the " +
      "source's merge keys are wider than (idCol)") {
    import graft.dedup.DedupIndex
    import graft.ops.VersionedTable
    val base = java.nio.file.Files.createTempDirectory("graft_dupid")
    val (src, idx) = (s"$base/src", s"$base/idx")
    // keys (doc_id, lang): the same doc_id CAN appear twice — the
    // change feed keyed on doc_id alone would cross-join
    VersionedTable.upsert(spark, src,
      Seq((1L, "en", "alpha beta gamma delta"),
        (1L, "fr", "un deux trois quatre"),
        (2L, "en", "epsilon zeta eta theta"))
        .toDF("doc_id", "lang", "text"), Seq("doc_id", "lang"), Seq("lang"))
    val e = intercept[IllegalArgumentException](
      DedupIndex.create(spark, idx, src, "doc_id", "text", shingleN = 2))
    assert(e.getMessage.contains("duplicated"), e.getMessage)
    // a clean corpus creates fine; a refresh that INTRODUCES a
    // duplicate id refuses BEFORE the inflated feed can land
    val (src2, idx2) = (s"$base/src2", s"$base/idx2")
    VersionedTable.upsert(spark, src2,
      Seq((1L, "en", "alpha beta gamma delta"),
        (2L, "en", "epsilon zeta eta theta"))
        .toDF("doc_id", "lang", "text"), Seq("doc_id", "lang"), Seq("lang"))
    DedupIndex.create(spark, idx2, src2, "doc_id", "text", shingleN = 2)
    VersionedTable.upsert(spark, src2,
      Seq((2L, "fr", "deux trois quatre cinq six"))
        .toDF("doc_id", "lang", "text"), Seq("doc_id", "lang"), Seq("lang"))
    val e2 = intercept[IllegalArgumentException](
      DedupIndex.refresh(spark, idx2))
    assert(e2.getMessage.contains("changed ids"), e2.getMessage)
    // a duplicate-free change still refreshes incrementally
    VersionedTable.deleteMatching(spark, src2,
      $"doc_id" === 2L && $"lang" === "fr")
    VersionedTable.upsert(spark, src2,
      Seq((3L, "en", "iota kappa lambda mu nu"))
        .toDF("doc_id", "lang", "text"), Seq("doc_id", "lang"), Seq("lang"))
    DedupIndex.refresh(spark, idx2)
    assert(!DedupIndex.lastRefreshRebuild)
  }
}
