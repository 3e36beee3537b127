package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "dog lazy the over jumps fox brown quick the"),   // permutation of 0
    (3L, "completely different words entirely unrelated text here")
  ).toDF("doc_id", "text")

  test("fingerprint is order-invariant: permuted doc shares doc 0's fingerprint") {
    val fps = docs.select($"doc_id", TextFunctions.fingerprint($"text").as("fp"))
      .as[(Long, String)].collect().toMap
    assert(fps(0L) == fps(2L))
    assert(fps(0L) != fps(3L))
  }

  test("jaccard: identical sets -> 1.0, disjoint -> 0.0") {
    val j = docs.filter($"doc_id" === 0)
      .select(
        TextFunctions.jaccard(TextFunctions.words($"text"), TextFunctions.words($"text")).as("self"),
        TextFunctions.jaccard(TextFunctions.words($"text"), array(lit("zzz"))).as("disj"))
      .as[(Double, Double)].collect()(0)
    assert(j._1 == 1.0 && j._2 == 0.0)
  }

  test("containmentPairs is asymmetric: the contained doc scores 1.0, the container less") {
    val cd = Seq(
      (0L, "a b c d e f"),          // 3 word-4-grams, all inside doc 1
      (1L, "a b c d e f g h"),      // 5 word-4-grams
      (2L, "x y z w v u")           // disjoint
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(cd, "doc_id",
        TextFunctions.wordShingles($"text", 4), tNum = 1, tDen = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out((0L, 1L)) === ((3L, 3L, 1000000L)), "doc 0 fully contained in doc 1")
    assert(out((1L, 0L)) === ((3L, 5L, 600000L)), "reverse direction passes at 3/5 >= 1/2")
    assert(out.size == 2, s"disjoint doc never pairs: ${out.keySet}")
    // below-threshold direction drops: with tNum/tDen = 2/3, 3/5 fails
    val strict = Dedup.containmentPairs(cd, "doc_id",
        TextFunctions.wordShingles($"text", 4), tNum = 2, tDen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict === Set((0L, 1L)), s"only full containment survives 2/3: $strict")
  }

  test("containmentPairs prefix filter is lossless on a boilerplate-heavy corpus") {
    // every doc shares the same 4-word boilerplate prefix — the hot
    // shingle that makes a FULL inverted-index self-join quadratic;
    // the rarest-first prefix filter must starve it out of candidate
    // generation while still emitting exactly the brute-force pairs
    val boiler = "terms of service apply"
    val bodies = Seq(
      "alpha beta gamma delta epsilon", "alpha beta gamma delta zeta",
      "alpha beta gamma delta epsilon", // exact dup of doc 0's body
      "one two three four five six",    "one two three four",
      "unrelated totally different words here now", "x y z w")
    val cd = bodies.zipWithIndex
      .map { case (b, i) => (i.toLong, s"$boiler $b") }
      .toDF("doc_id", "text")
    val (tNum, tDen) = (1, 2)
    val got = Dedup.containmentPairs(cd, "doc_id",
        TextFunctions.wordShingles($"text", 4), tNum, tDen)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // brute force over the same shingle sets, computed driver-side
    val sets = cd.select($"doc_id",
        TextFunctions.wordShingles($"text", 4).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    val want = (for {
      (src, ss) <- sets.toSeq; (dst, ds) <- sets.toSeq if src != dst
      inter = (ss.toSet intersect ds.toSet).size.toLong
      if inter * tDen >= ss.size.toLong * tNum
    } yield (src, dst) -> ((inter, ss.size.toLong, inter * 1000000L / ss.size)))
      .toMap
    assert(got === want,
      s"prefix-filtered result diverges from brute force:\n got=$got\n want=$want")
    assert(want.nonEmpty, "fixture must actually produce containment pairs")
  }

  test("exact dedup stats distinguish exact vs fingerprint uniqueness") {
    val r = Dedup.exactStats(docs, "text").collect()(0)
    assert(r.getLong(0) == 4)
    assert(r.getLong(1) == 4, "no byte-identical docs")
    assert(r.getLong(2) == 3, "permuted doc collapses under fingerprint")
  }

  test("minhash LSH finds the permuted and near-dup pairs, not the unrelated doc") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        k = 32, bands = 16, threshold = 0.7)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)), "permutation shares the whole shingle set")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("LCG minhash scheme: same pair detection as the salted scheme, coefficients in range") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        k = 32, bands = 16, threshold = 0.7, scheme = "lcg")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)), "permutation shares the whole shingle set")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    (0 until 64).foreach { j =>
      val (a, b) = Dedup.lcgCoef(j)
      assert(a >= 1 && a < Dedup.LcgPrime && b >= 0 && b < Dedup.LcgPrime)
    }
    // hash values stay inside [0, P): products never overflow a long
    val sigs = Dedup.minhashSignaturesLcg(
      Dedup.tokens(docs, "doc_id", "text"), "doc_id", 32)
    val mins = sigs.select(array((0 until 32).map(j => col(s"mh$j")): _*))
      .as[Seq[Long]].collect().flatten
    assert(mins.forall(h => h >= 0 && h < Dedup.LcgPrime))
  }

  test("densified OPH: no null slots even with far fewer tokens than bins, dups still found") {
    // doc 0 has 8 distinct tokens but k=32 bins: >=24 bins are empty and
    // must be filled by rotation densification, not sentinels/nulls
    val sigs = Dedup.ophDensifiedSignatures(
      Dedup.tokens(docs, "doc_id", "text"), "doc_id", 32)
    assert(sigs.count() == 4)
    val anyNull = sigs.select(
      (0 until 32).map(j => col(s"mh$j").isNull.cast("int")).reduce(_ + _).as("n"))
      .agg(sum($"n")).as[Long].collect()(0)
    assert(anyNull == 0, "densification must fill every empty bin")
    // identical token sets (docs 0 and 2) must produce identical signatures
    val rows = sigs.orderBy($"doc_id").collect()
    assert(rows(0).toSeq.drop(1) == rows(2).toSeq.drop(1),
      "OPH signature is a pure function of the token set")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        k = 32, bands = 16, threshold = 0.7, scheme = "oph")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: permutation -> hamming 0; unrelated doc -> large distance") {
    val sh = Dedup.simhashChunks(docs, "doc_id", "text")
    val m = sh.as[(Long, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
    assert(m(0L) == m(2L), "simhash over token set ignores order")
    val dist = spark.range(1).select(
      Dedup.hammingChunks(m(0L).map(lit(_)), m(3L).map(lit(_))).as("d"))
      .as[Int].collect()(0)
    assert(dist > 10)
  }

  test("sparse intersection-count jaccard matches the array-identity jaccard") {
    val sparse = Dedup.sparseJaccardPairs(docs, "doc_id",
        TextFunctions.charNGrams($"text", 3), threshold = 0.1)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val sh = docs.select($"doc_id", TextFunctions.charNGrams($"text", 3).as("sh"))
    val dense = sh.select($"doc_id".as("id_a"), $"sh".as("sh_a"))
      .join(sh.select($"doc_id".as("id_b"), $"sh".as("sh_b")), $"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        round(TextFunctions.jaccard($"sh_a", $"sh_b"), 6).as("j"))
      .filter($"j" >= 0.1)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(sparse == dense)
  }

  test("rolling hash is order-sensitive and ANSI-safe on long docs") {
    val r = docs.select($"doc_id", TextFunctions.rollingHash64($"text").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(r(0L) != r(2L), "permutation must change the rolling hash")
    assert(r.values.forall(h => h >= 0 && h < 72057594037927931L))
    // 500 tokens: the pre-modular form would overflow (ANSI throw) here
    val long = Seq((0L, Seq.fill(500)("tok").mkString(" "))).toDF("doc_id", "text")
    assert(long.select(TextFunctions.rollingHash64($"text")).collect().length == 1)
  }

  test("wordShingles builds distinct word n-grams with short-input fallback") {
    val sh = spark.range(1).select(
      TextFunctions.wordShingles(lit("a b c b c"), 2).as("s2"),
      TextFunctions.wordShingles(lit("single"), 3).as("s3"))
      .as[(Seq[String], Seq[String])].collect()(0)
    assert(sh._1.toSet == Set("a b", "b c", "c b"))
    assert(sh._2 == Seq("single"))
  }

  test("langId ties break deterministically toward english") {
    val r = spark.range(1).select(
      TextFunctions.langId(lit(0), lit(0), lit(0), lit(0))).as[String].collect()(0)
    assert(r == "en")
  }

  test("banded SimHash equals the all-pairs ground truth at d <= 3 (pigeonhole)") {
    val many = (0L until 40L).map { i =>
      // clusters of 4 share a base text with tiny perturbations
      (i, s"base${i / 4} tokens shared across the cluster plus word${i % 4}")
    }.toDF("doc_id", "text")
    val banded = Dedup.simhashBandedPairs(many, "doc_id", "text", maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    val sk = Dedup.simhashChunks(many, "doc_id", "text")
    val a = sk.select($"doc_id".as("id_a"), $"c0".as("a0"), $"c1".as("a1"),
      $"c2".as("a2"), $"c3".as("a3"))
    val b = sk.select($"doc_id".as("id_b"), $"c0".as("b0"), $"c1".as("b1"),
      $"c2".as("b2"), $"c3".as("b3"))
    val exact = a.join(b, $"id_a" < $"id_b")
      .withColumn("dist", Dedup.hammingChunks(
        Seq($"a0", $"a1", $"a2", $"a3"), Seq($"b0", $"b1", $"b2", $"b3")))
      .filter($"dist" <= 3)
      .select($"id_a", $"id_b", $"dist".cast("int"))
      .as[(Long, Long, Int)].collect().toSet
    assert(exact.nonEmpty, "fixture must produce near-dup pairs")
    assert(banded == exact, "banding must lose no pair within the radius")
    val err = intercept[IllegalArgumentException] {
      Dedup.simhashBandedPairs(many, "doc_id", "text", maxDist = 4)
    }
    assert(err.getMessage.contains("pigeonhole"))
  }

  test("xx64 minhash finds the same verified near-dup pairs as the LCG path") {
    // Planted clusters with DISJOINT token spaces: within-cluster Jaccard
    // 100/102 ≈ 0.98 (well above any band-miss probability), cross-cluster
    // 0 — so the full ground truth is exactly the within-cluster pairs and
    // BOTH hash families must recover all of it (the driver corpus is
    // pathologically self-similar: there, stop-bucket caps drop different
    // buckets per family and candidate sets legitimately diverge). Both
    // hashes are deterministic, so this equality is flake-free.
    val fixture = (0L until 40L).map { i =>
      val cluster = i / 4
      val shared = (0 until 100).map(t => s"c${cluster}tok$t").mkString(" ")
      (i, s"$shared unique${i}a unique${i}b")
    }.toDF("doc_id", "text")
    val truth = (0L until 40L).flatMap(a => (a + 1 until 40L)
      .filter(_ / 4 == a / 4).map(b => (a, b))).toSet
    def pairs(scheme: String) =
      Dedup.minhashNearDups(fixture, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.9, maxBucket = 100, scheme = scheme)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs("lcg") == truth, "LCG path must recover the planted truth")
    assert(pairs("xx64") == truth, "xx64 path must recover the planted truth")
  }

  test("xx64 banded SimHash keeps the pigeonhole recall within its own family") {
    val many = (0L until 40L).map { i =>
      (i, s"base${i / 4} tokens shared across the cluster plus word${i % 4}")
    }.toDF("doc_id", "text")
    val banded = Dedup.simhashBandedPairs(many, "doc_id", "text",
        maxDist = 3, scheme = "xx64")
      .as[(Long, Long, Int)].collect().toSet
    val sk = Dedup.simhashChunksXx(many, "doc_id", "text")
    val a = sk.select($"doc_id".as("id_a"), $"c0".as("a0"), $"c1".as("a1"),
      $"c2".as("a2"), $"c3".as("a3"))
    val b = sk.select($"doc_id".as("id_b"), $"c0".as("b0"), $"c1".as("b1"),
      $"c2".as("b2"), $"c3".as("b3"))
    val exact = a.join(b, $"id_a" < $"id_b")
      .withColumn("dist", Dedup.hammingChunks(
        Seq($"a0", $"a1", $"a2", $"a3"), Seq($"b0", $"b1", $"b2", $"b3")))
      .filter($"dist" <= 3)
      .select($"id_a", $"id_b", $"dist".cast("int"))
      .as[(Long, Long, Int)].collect().toSet
    assert(exact.nonEmpty, "fixture must produce near-dup pairs under xx64")
    assert(banded == exact, "xx64 banding must lose no pair within the radius")
  }

  test("star contraction labels chains, pairs and singletons by component minimum") {
    val nodes = Seq(0L, 1L, 2L, 5L, 6L, 9L).toDF("id")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val stars = Dedup.cluster(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(stars == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val iso = Dedup.cluster(Seq(3L, 7L).toDF("id"), "id", none)
      .as[(Long, Long)].collect().toMap
    assert(iso == Map(3L -> 3L, 7L -> 7L), "no edges -> identity labeling")
  }

  test("clusterBoundedDriver matches star-contraction labels and refuses unbounded input") {
    // mixed graph: the driver union-find must reach the identical
    // min-label fixpoint as the distributed star contraction
    val nodes = Seq(0L, 1L, 2L, 5L, 6L, 9L).toDF("id")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L), (1L, 0L)).toDF("id_a", "id_b")
    val drv = Dedup.clusterBoundedDriver(nodes, "id", pairs, maxNodes = 8)
      .as[(Long, Long)].collect().toMap
    val stars = Dedup.cluster(nodes, "id",
      pairs.dropDuplicates()).as[(Long, Long)].collect().toMap
    assert(drv == stars, s"driver union-find diverged: $drv vs $stars")
    // a chain graph too (the adversarial shape for min-label)
    val cn = (0L until 16L).toDF("id")
    val cp = (0L until 15L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val cd = Dedup.clusterBoundedDriver(cn, "id", cp, maxNodes = 16)
      .as[(Long, Long)].collect().toMap
    assert(cd.values.toSet == Set(0L), "single chain is one component labeled 0")
    // LOUD refusals: over the node bound, and an edge escaping the slice
    intercept[IllegalArgumentException] {
      Dedup.clusterBoundedDriver(cn, "id", cp, maxNodes = 8)
    }
    intercept[IllegalArgumentException] {
      Dedup.clusterBoundedDriver(nodes, "id",
        Seq((0L, 42L)).toDF("id_a", "id_b"), maxNodes = 8)
    }
  }

  test("star contraction needs O(log^2 n) alternations where min-label needs diameter") {
    // a 64-node path: min-label propagation would need ~63 rounds; star
    // contraction halves chain length per alternation pair
    val n = 64
    val nodes = (0L until n.toLong).toDF("id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (cc, rounds) = Dedup.clusterWithRounds(nodes, "id", pairs)
    val labels = cc.as[(Long, Long)].collect().toMap
    assert(labels.values.toSet == Set(0L), "single path is one component labeled 0")
    assert(rounds <= 10,
      s"star contraction must beat the 63-round diameter bound, took $rounds")
  }

  test("prefix-filtered Jaccard join equals the brute-force join (losslessness)") {
    // near-dup pairs, a disjoint doc, and size-incompatible docs
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
      (3L, "entirely different words live here tonight"),
      (4L, "the quick brown fox jumps over the lazy dog again and again and again")
    ).toDF("doc_id", "text")
    val sh = graft.functions.TextFunctions.charNGrams($"text", 3)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select($"id_a", $"id_b", $"jaccard")
        .as[(Long, Long, Double)].collect().toSet
    for ((tn, td) <- Seq((1, 2), (3, 4), (9, 10))) {
      val brute = key(Dedup.sparseJaccardPairs(docs, "doc_id", sh, tn.toDouble / td))
      val pref = key(Dedup.prefixJaccardPairs(docs, "doc_id", sh, tn, td))
      assert(pref == brute, s"t=$tn/$td: prefix filter must be lossless:\n$pref\nvs\n$brute")
    }
    // sanity: the planted near-dup survives a mid threshold
    assert(key(Dedup.prefixJaccardPairs(docs, "doc_id", sh, 3, 4))
      .exists(p => p._1 == 1L && p._2 == 2L), "1-2 is a true near-dup pair")
  }

  test("Md5MinHash60 digest-byte decode equals the conv(substring(md5)) formulation") {
    val toks = Seq((1L, "alpha"), (2L, "ümlaut-token"), (3L, ""),
      (4L, "the"), (5L, "0123456789abcdef0123456789abcdef")).toDF("id", "sh")
    val k = 8
    // the portable SQL-functions decode the DuckDB oracle mirrors
    val viaSql = toks.select($"id" +: (0 until k).map { j =>
        val hex = substring(md5(concat(lit(s"${j / 2}:"), $"sh")), 1 + 15 * (j % 2), 15)
        conv(hex, 16, 10).cast("long").as(s"h$j")
      }: _*).collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap
    val viaExpr = toks.select($"id",
        graft.functions.TextFunctions.md5MinHash60($"sh", k).as("hs"))
      .select($"id" +: (0 until k).map(j => element_at($"hs", j + 1).as(s"h$j")): _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap
    assert(viaExpr == viaSql, s"$viaExpr\nvs\n$viaSql")
    // and the unsalted single-digest base hash
    val headSql = toks.select($"id",
        conv(substring(md5($"sh"), 1, 15), 16, 10).cast("long").as("h"))
      .as[(Long, Long)].collect().toMap
    val headExpr = toks.select($"id",
        graft.functions.TextFunctions.md5Head60($"sh").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(headExpr == headSql, s"$headExpr vs $headSql")
  }

  test("WordShingleHash64 equals xxhash64 over wordShingles, incl. edge shapes") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "Short text"),                       // fewer words than n -> whole-string shingle
      (3L, "a b c d e"),                        // exactly n words -> one shingle
      (4L, "dup dup dup dup dup dup dup dup"),  // all shingles identical -> distinct of 1
      (5L, "Mixed CASE und ümlaut ärger ötzi"), // lowercase + multibyte UTF-8
      (6L, "")                                  // empty string
    ).toDF("doc_id", "text")
    val viaHof = docs.select($"doc_id",
        explode(graft.functions.TextFunctions.wordShingles($"text", 5)).as("s"))
      .select($"doc_id", xxhash64($"s").as("h"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val viaExpr = docs.select($"doc_id",
        explode(graft.functions.TextFunctions.wordShingleHash64($"text", 5)).as("h"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(viaExpr == viaHof,
      s"byte-span hashing must equal string-shingle hashing:\n$viaExpr\nvs\n$viaHof")
  }

  test("prefixJaccardPairsWords equals the generic word-shingle prefix join") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu")
    ).toDF("doc_id", "text")
    val generic = Dedup.prefixJaccardPairs(docs, "doc_id",
        graft.functions.TextFunctions.wordShingles($"text", 5), 1, 2)
      .as[(Long, Long, Double)].collect().toSet
    val words = Dedup.prefixJaccardPairsWords(docs, "doc_id", "text", 5, 1, 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(words == generic, s"specialized path must match:\n$words\nvs\n$generic")
    assert(words.nonEmpty, "fixture must produce at least one pair")
  }

  test("q230 Kneser-Ney: definitional set-based replay + normalization identity") {
    // Independent-identity pin: q230's oracle mirrors its algebraic
    // construction (marginals of the bigram-type table), so a shared
    // misreading — the classic one is using TOKEN counts instead of
    // distinct-CONTEXT counts in the continuation term — would pass
    // both engines. This replays the model from DEFINITIONS (explicit
    // distinct-context SETS over the collected corpus) and checks the
    // query's output rows against it, then asserts the interpolated-KN
    // normalization theorem Σ_{w2∈vocab} P(w2|w1) = 1 for every w1 —
    // which holds only when the discount mass D·N1+(w1·)/c(w1·)
    // exactly funds the continuation distribution.
    val texts = Tables(spark, sf("sf0.001"), "documents")
      .select(lower($"text")).as[String].collect()
    val bigrams = texts.flatMap { t =>
      val a = t.split(" ", -1); a.dropRight(1).zip(a.drop(1)) }
    assert(bigrams.length > 100, s"fixture sanity: ${bigrams.length} bigrams")
    val c = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val c1 = c.toSeq.groupBy(_._1._1).map { case (w1, m) => w1 -> m.map(_._2).sum }
    val n1pl = c.keySet.groupBy(_._1).map { case (w1, ks) => w1 -> ks.map(_._2).size }
    val n1pr = c.keySet.groupBy(_._2).map { case (w2, ks) => w2 -> ks.map(_._1).size }
    val nTypes = c.size
    def pkn(w1: String, w2: String): Double = {
      val cc = c.getOrElse((w1, w2), 0L)
      math.max(cc - 0.75, 0.0) / c1(w1) +
        0.75 / c1(w1) * n1pl(w1) * (n1pr.getOrElse(w2, 0).toDouble / nTypes)
    }
    val vocab = n1pr.keySet // all words that ever FOLLOW something
    c1.keys.foreach { w1 =>
      val total = vocab.iterator.map(w2 => pkn(w1, w2)).sum
      assert(math.abs(total - 1.0) < 1e-9,
        s"KN normalization broke for '$w1': $total")
    }
    val rows = graft.queries.Registry.queries("q230_kneser_ney")(
      spark, sf("sf0.001")).collect()
    assert(rows.length == 15)
    rows.foreach { r =>
      val (w1, w2) = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      assert(r.getAs[Long]("c") == c((w1, w2)))
      assert(math.abs(r.getAs[Double]("p_kn") - pkn(w1, w2)) < 2e-6,
        s"($w1,$w2): query ${r.getAs[Double]("p_kn")} vs definitional ${pkn(w1, w2)}")
    }
  }

  test("q238 phrase search: a literal sliding-window scan reproduces every hit") {
    // Definitional replay at sf0.01 (the phrase does not occur in the
    // 50-doc sf0.001 slice — a vacuous pass proves nothing): the
    // postings-join construction vs the textbook window scan.
    val dir = sf("sf0.01")
    val corpus = Tables(spark, dir, "documents")
      .select($"doc_id", lower($"text")).as[(Long, String)].collect()
    val want = corpus.flatMap { case (id, t) =>
      val a = t.split(" ", -1)
      val hits = (0 to a.length - 3).filter(i =>
        a(i) == "slow" && a(i + 1) == "hash" && a(i + 2) == "batch")
      if (hits.nonEmpty) Some((id, hits.size.toLong, hits.min.toLong)) else None
    }.sortBy(_._1).toSeq
    assert(want.nonEmpty, "fixture sanity: the phrase must occur at sf0.01")
    val got = graft.queries.Registry.queries("q238_phrase_search")(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want, s"hits diverged:\n$got\n$want")
  }

  test("phraseSearch hand pins: literal tuples on adversarial text") {
    // LITERAL expected (doc_id, n_hits, first_pos) tuples — the defense
    // a mirrored oracle cannot provide. Doc 3 is the exact convention-
    // slip detector: under the WRONG pos+offset alignment the reversed
    // "batch hash slow" aligns (0+2 = 1+1 = 2+0) and would false-hit;
    // doc 2 is the off-by-one decoy (a gap inside "slow hash _ batch").
    import graft.operators.Curation
    val corpus = Seq(
      (1L, "slow hash batch slow hash batch"), // hits at 0 and 3
      (2L, "x slow hash x batch slow hash batch"), // decoy at 1, hit at 5
      (3L, "batch hash slow"), // reversed — pos+off slip would match
      (4L, "batch slow hash"), // phrase truncated at document end
      (5L, "SLOW Hash BATCH") // case folding
    ).toDF("doc_id", "text")
    val got = Curation.phraseSearch(corpus, "doc_id", "text",
        Seq("slow", "hash", "batch"))
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 0L), (2L, 1L, 5L), (5L, 1L, 0L)),
      s"hand-pinned phrase hits diverged: $got")
    // overlapping occurrences (possible only with a repeated term):
    // "hash hash" over "hash hash hash hash" starts at 0, 1 and 2
    val ov = Curation.phraseSearch(
        Seq((9L, "hash hash hash hash")).toDF("doc_id", "text"),
        "doc_id", "text", Seq("hash", "hash"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(ov == Seq((9L, 3L, 0L)),
      s"overlapping repeated-term hits diverged: $ov")
  }

  // ------------------------------------------------ winnowing (MOSS)

  /** Literal Scala replay of the winnowing selection — an
    * implementation INDEPENDENT of the Spark HOF pipeline (explicit
    * loops, explicit rightmost-tie-break instead of the key packing),
    * so agreement pins the packing arithmetic, not just the idea. */
  private def winnowReplay(text: String, k: Int, w: Int): Set[(Long, Int)] = {
    val toks = text.toLowerCase.split(" ", -1)
    if (toks.length < k) return Set.empty
    val md = java.security.MessageDigest.getInstance("MD5")
    val grams = (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" "))
    val hs = grams.map { g =>
      val hex = md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val n = hs.length
    (0 to math.max(n - w, 0)).map { j =>
      val win = j until math.min(j + w, n)
      // min hash, RIGHTMOST position on ties (the robust rule)
      val m = win.map(hs).min
      val pos = win.filter(hs(_) == m).max
      (hs(pos), pos)
    }.toSet
  }

  test("winnowedFingerprints equals the literal replay, incl. a rightmost tie") {
    // "a b a b a" repeats gram "a b" at positions 0 and 2 — with w = 3
    // the first window holds a genuine hash TIE, so this fixture
    // exercises the rightmost-tie-break, not just the min
    val fixture = Seq(
      (0L, "a b a b a"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "x y"),        // fewer grams than w: single min over all
      (3L, "solo"))       // fewer tokens than k: no fingerprints
    val (k, w) = (2, 3)
    // guard: the tie the fixture exists for must actually be there
    val g0 = winnowReplay("a b a b a", k, w)
    assert(g0.exists(_._2 == 2) || g0.exists(_._2 == 0),
      s"fixture lost its repeated gram: $g0")
    val got = Dedup.winnowedFingerprints(
        fixture.toDF("doc_id", "text"), "doc_id", $"text", k, w)
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    fixture.foreach { case (id, text) =>
      val want = winnowReplay(text, k, w)
      assert(got.getOrElse(id, Set.empty) == want,
        s"doc $id: got ${got.get(id)}, replay says $want")
    }
    // density sanity: expected 2/(w+1) of grams selected, never more
    // than one per window start
    val d1 = got(1L).size.toDouble / (9 - k + 1)
    assert(d1 > 0.1 && d1 <= 1.0, s"degenerate density $d1")
  }

  test("winnowing guarantee: a shared run of k+w-1 tokens shares a fingerprint") {
    // k = 4, w = 4: any common run of >= 7 tokens must yield >= 1
    // common selected HASH (Schleimer et al. theorem) — planted at
    // DIFFERENT offsets so fixed-position schemes would miss it
    val shared = "zebra yak xylophone walrus vulture tapir snake"
    val pair = Seq(
      (0L, s"alpha beta $shared gamma delta epsilon"),
      (1L, s"one two three four five $shared six"))
    val fps = Dedup.winnowedFingerprints(
        pair.toDF("doc_id", "text"), "doc_id", $"text", k = 4, w = 4)
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(0L) & fps(1L)).nonEmpty,
      s"guaranteed shared fingerprint missing: ${fps(0L)} vs ${fps(1L)}")
    // position-robustness: a one-token PREFIX insertion shifts every
    // gram, yet the fingerprint hash set changes by at most O(w+k)
    val base = "m n o p q r s t u v w x y z aa bb cc dd ee ff"
    val edit = Seq((0L, base), (1L, s"INSERTED $base"))
    val efps = Dedup.winnowedFingerprints(
        edit.toDF("doc_id", "text"), "doc_id", $"text", k = 4, w = 4)
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val symDiff = (efps(0L) -- efps(1L)) ++ (efps(1L) -- efps(0L))
    assert(symDiff.size <= 2 * (4 + 4),
      s"prefix edit disturbed ${symDiff.size} fingerprints — not position-robust")
    assert((efps(0L) & efps(1L)).size >= efps(0L).size / 2,
      s"prefix edit lost most fingerprints: ${efps(0L).size} -> ${(efps(0L) & efps(1L)).size}")
  }

  test("winnowedNearDupPairs: shared-run pair emitted, stop-gram cap drops saturated fps") {
    val run = "quick brown foxes jump over seven lazy dogs tonight maybe"
    val corpus = Seq(
      (0L, s"intro words $run closing remarks here"),
      (1L, s"different opening $run and another tail"),
      (2L, "entirely unrelated content about spark plans and shuffles today")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowedNearDupPairs(corpus, "doc_id", $"text",
        k = 4, w = 4, minShared = 2, maxDf = 50)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((0L, 1L)),
      s"expected exactly the planted pair: $pairs")
    // saturate: 60 copies of doc 0 push every shared fp's df past 50 —
    // the stop-gram cap must drop ALL pairs (the declared q270 x100
    // regime; q271's exact-dedup-first composition is the answer)
    val saturated = (0L until 60L).map(i => (i, s"intro words $run closing remarks here"))
      .toDF("doc_id", "text")
    val none = Dedup.winnowedNearDupPairs(saturated, "doc_id", $"text",
        k = 4, w = 4, minShared = 2, maxDf = 50).count()
    assert(none == 0L, s"saturated fps must be stop-dropped, got $none pairs")
    // loud-cap class: the degenerate knobs refuse instead of returning
    // silently empty / silently dense results
    val e1 = intercept[IllegalArgumentException] {
      Dedup.winnowedNearDupPairs(corpus, "doc_id", $"text", 4, 4,
        minShared = 2, maxDf = 1)
    }
    assert(e1.getMessage.contains("maxDf"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.winnowedFingerprints(corpus, "doc_id", $"text", k = 4, w = 1)
    }
    assert(e2.getMessage.contains("w = 1"), e2.getMessage)
  }

  // ------------------------------------------- exact substring dedup

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Independent literal replay of the substringDedup rule: mark every
    * non-first occurrence (global (id, pos) order) of a window hash seen
    * >= 2 times, union the marked char intervals, excise. Driver-side
    * brute force — the spec's oracle, not the operator's plan. */
  private def substringDedupReplay(corpus: Seq[(Long, String)], width: Int)
      : Map[Long, (Long, Long, Long, Long, String)] = {
    val occ = scala.collection.mutable.Map[String, List[(Long, Int)]]()
    for ((id, txt) <- corpus; p <- 1 to txt.length - width + 1)
      occ.updateWith(md5hex(txt.substring(p - 1, p - 1 + width))) {
        prev => Some((id, p) :: prev.getOrElse(Nil))
      }
    val removed = scala.collection.mutable.Map[Long, List[(Int, Int)]]()
    for ((_, lst) <- occ if lst.size >= 2; (id, p) <- lst.sorted.tail)
      removed.updateWith(id)(prev =>
        Some((p, p + width - 1) :: prev.getOrElse(Nil)))
    corpus.map { case (id, txt) =>
      val merged = removed.getOrElse(id, Nil).sorted
        .foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: rest, (s, e)) if s <= e0 + 1 =>
            (s0, math.max(e0, e)) :: rest
          case (acc, iv) => iv :: acc
        }.reverse
      val (parts, cur) = merged.foldLeft(("", 1)) {
        case ((acc, c), (s, e)) => (acc + txt.substring(c - 1, s - 1), e + 1)
      }
      val clean = parts + txt.substring(cur - 1)
      id -> ((txt.length.toLong, merged.size.toLong,
        merged.map { case (s, e) => e - s + 1 }.sum.toLong,
        clean.length.toLong, md5hex(clean)))
    }.toMap
  }

  private def runSubstringDedup(corpus: Seq[(Long, String)], width: Int)
      : Map[Long, (Long, Long, Long, Long, String)] =
    Dedup.substringDedup(corpus.toDF("doc_id", "text"), "doc_id", "text", width)
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap

  test("substringDedup equals the literal replay on an adversarial fixture") {
    val boiler = "this exact license header repeats verbatim in many files"
    val corpus = Seq(
      // shared boilerplate mid-doc in 0 and 1 (cross-doc span)
      (0L, s"alpha opening words $boiler and then unique tail zero"),
      (1L, s"beta different start $boiler with other ending one"),
      // internal self-repetition (within-doc duplication)
      (2L, "repeat me repeat me repeat me repeat me repeat me repeat me repeat me xyz"),
      // shorter than width: passes through untouched
      (3L, "tiny doc"),
      // no duplication anywhere
      (4L, "entirely novel content with no repeated forty character window at all in it")
    )
    assert(runSubstringDedup(corpus, 40) == substringDedupReplay(corpus, 40))
    // the fixture is non-trivial: docs 0-2 must actually lose chars
    val got = runSubstringDedup(corpus, 40)
    assert(Seq(0L, 1L, 2L).exists(got(_)._3 > 0),
      s"fixture planted no duplication: $got")
    assert(got(3L) == ((8L, 0L, 0L, 8L, md5hex("tiny doc"))),
      "short doc must pass through untouched")
  }

  test("substringDedup theorems: exact copy -> empty; X+X -> X; containment excised") {
    val x = "a sentence long enough to exceed the window width by a fair margin indeed"
    val suffix = " plus a wholly distinct continuation that nobody else shares anywhere"
    val corpus = Seq(
      (10L, x),           // first occurrence: kept whole
      (11L, x),           // exact copy: cleans to empty
      (12L, x + x),       // self-concatenation: cleans to... (second X excised)
      (13L, x + suffix)   // containment: the X prefix excised, suffix kept
    )
    val got = runSubstringDedup(corpus, 40)
    assert(got == substringDedupReplay(corpus, 40))
    assert(got(10L)._5 == md5hex(x), "first occurrence kept whole")
    assert(got(11L) == ((x.length.toLong, 1L, x.length.toLong, 0L, md5hex(""))),
      s"exact copy must clean to empty: ${got(11L)}")
    // doc 12: every window of the second X duplicates the first X's
    // (and doc 10's) windows; the straddling windows are unique -> the
    // removed union is exactly [|X|+1, 2|X|] and X survives... except
    // doc 12's FIRST-X windows also duplicate doc 10's (id 10 < 12), so
    // the whole of doc 12 is a non-first occurrence: cleans to empty.
    assert(got(12L)._4 == 0L, s"copy-of-copy cleans to empty: ${got(12L)}")
    // containment: B = X + suffix loses exactly the X prefix
    assert(got(13L)._5 == md5hex(suffix),
      s"contained prefix excised, unique suffix kept: ${got(13L)}")
    assert(got(13L)._3 == x.length.toLong, "chars removed = |X|")
    // X+X WITHOUT an earlier copy: run doc 12 alone with one fresh doc
    val solo = Seq((20L, x + x), (21L, "unrelated filler text that matches nothing else at all here"))
    val gotSolo = runSubstringDedup(solo, 40)
    assert(gotSolo == substringDedupReplay(solo, 40))
    assert(gotSolo(20L)._5 == md5hex(x), s"X+X cleans to X: ${gotSolo(20L)}")
  }

  test("substringDecontaminate: bench spans excised everywhere, corpus duplication untouched") {
    // the bench paragraph (> width so the excision covers it fully
    // wherever it lands) and a corpus-internal duplicate run the
    // DEDUP family owns — decontamination must excise the former from
    // EVERY occurrence and leave the latter alone
    val benchPara = "the canonical benchmark question about the seven " +
      "bridges of koenigsberg appears here verbatim"
    val corpDup = "a corpus internal boilerplate run shared by two docs only"
    require(benchPara.length > 40 && corpDup.length > 40)
    val bench = Seq(
      (1L, s"intro $benchPara outro"),
      (2L, "another benchmark doc with entirely distinct content in it here"))
    val corpus = Seq(
      (100L, s"leading text $benchPara trailing text"), // quotes the bench
      (101L, s"alpha $corpDup omega"),                  // in-corpus dup...
      (102L, s"beta $corpDup gamma"),                   // ...both kept
      (103L, "wholly unrelated content touching neither corpus nor bench"))
    val got = Dedup.substringDecontaminate(
        corpus.toDF("doc_id", "text"), bench.toDF("doc_id", "text"),
        "doc_id", "text", width = 40)
      .as[(Long, Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // doc 100: the quoted bench paragraph is gone — every char of it
    // PLUS the one-char shared context on each side (both docs flank
    // the quote with a space, so the windows straddling the boundary
    // are bench windows too — excision extends to the end of shared
    // context, exactly what decontamination should do); leading and
    // trailing survive (the whole-doc q82 gate would have killed them)
    assert(got(100L)._4 == benchPara.length.toLong + 2,
      s"bench quote + shared flanks must excise exactly: ${got(100L)}")
    assert(got(100L)._6 == md5hex("leading texttrailing text"),
      s"non-quoted content must survive byte-exact: ${got(100L)}")
    // docs 101/102: in-corpus duplication is NOT this operator's job
    assert(got(101L)._4 == 0L && got(102L)._4 == 0L,
      s"corpus-internal duplicates stay: ${got(101L)} ${got(102L)}")
    assert(got(103L)._4 == 0L && got(103L)._6 == md5hex(corpus(3)._2))
    // one row per input doc, untouched docs included — the shared
    // substringDedup output contract
    assert(got.size == 4)
  }

  test("winnowDecontaminate: the edited quote flags where BOTH verbatim rungs are blind") {
    // the decontamination ladder's separation, constructed exactly:
    // a 15-token bench quote with its middle token edited splits into
    // two shared runs of 7 tokens each — 7 = k+w−1 guarantees one
    // winnowed fingerprint per run (the q269 theorem → n_shared >= 2),
    // while each run is < 40 chars (no shared 40-char window: q282
    // blind) and < 8 tokens (no shared word-8-gram: q82 blind)
    val btoks = (0 until 30).map(i => s"bw$i")
    val bench = Seq((0L, btoks.mkString(" ")))
    val quote = (btoks.slice(3, 10) :+ "zedit") ++ btoks.slice(11, 18)
    require(quote.slice(0, 7).mkString(" ").length < 40 &&
      quote.slice(8, 15).mkString(" ").length < 40)
    val corpus = Seq(
      (100L, (0 until 12).map(i => s"cw$i").mkString(" ") + " " +
        quote.mkString(" ")),
      (101L, (0 until 20).map(i => s"uw$i").mkString(" ")))
    val flags = Dedup.winnowDecontaminate(corpus.toDF("doc_id", "text"),
        bench.toDF("doc_id", "text"), "doc_id", $"text",
        k = 4, w = 4, minShared = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(flags.map(_._1) == Seq(100L) && flags.head._2 >= 2,
      s"the edited quote must flag with >= 2 guaranteed fingerprints: $flags")
    // the verbatim rungs ARE blind to the same fixture
    val sub = Dedup.substringDecontaminate(corpus.toDF("doc_id", "text"),
        bench.toDF("doc_id", "text"), "doc_id", "text", width = 40)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    assert(sub.forall(_._4 == 0L),
      s"no shared 40-char window exists — q282's rung must excise nothing: ${sub.toSeq}")
    val sharedShingles = corpus.toDF("doc_id", "text")
      .select(explode(array_distinct(
        graft.functions.TextFunctions.wordShingles($"text", 8))).as("sh"))
      .join(bench.toDF("doc_id", "text")
        .select(explode(array_distinct(
          graft.functions.TextFunctions.wordShingles($"text", 8))).as("sh")), "sh")
      .count()
    assert(sharedShingles == 0L,
      s"no shared word-8-gram exists — q82's rung is blind: $sharedShingles")
  }

  test("substringDedup guards: width floor and the (id, pos) packing envelope") {
    val e = intercept[IllegalArgumentException] {
      Dedup.substringDedup(docs, "doc_id", "text", width = 3)
    }
    assert(e.getMessage.contains("width"), e.getMessage)
    // a negative id breaks packed (id, pos) ordering -> must refuse
    // loudly at evaluation, not return a silently wrong first-occurrence
    val neg = Seq((-1L, "x" * 80), (1L, "x" * 80)).toDF("doc_id", "text")
    val thrown = intercept[Exception] {
      Dedup.substringDedup(neg, "doc_id", "text", width = 40).collect()
    }
    val chain = Iterator.iterate[Throwable](thrown)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString(" | ")
    assert(chain.contains("packing envelope"),
      s"expected the packing-envelope raise_error, got: $chain")
    // upper bound too: id >= 2^42 would wrap id*2^21 past Long.MaxValue
    // and silently reorder first-occurrence keys (round-15 self-review
    // catch) — must refuse loudly instead
    val big = Seq((1L << 42, "x" * 80), (1L, "x" * 80)).toDF("doc_id", "text")
    val thrownHi = intercept[Exception] {
      Dedup.substringDedup(big, "doc_id", "text", width = 40).collect()
    }
    val chainHi = Iterator.iterate[Throwable](thrownHi)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString(" | ")
    assert(chainHi.contains("packing envelope"),
      s"expected the id-upper-bound raise_error, got: $chainHi")
    // a NULL id (or any id the long cast nulls out) previously made
    // the when-condition NULL, SKIPPED the raise branch, nulled the
    // packed key, and the dedup silently no-opped for those rows
    // (round-16 advice catch) — both engines must refuse loudly
    for (f <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
        d => Dedup.substringDedup(d, "doc_id", "text", width = 40),
        d => Dedup.substringDedupRolling(d, "doc_id", "text", width = 40))) {
      val bad = Seq((Some(7L), "x" * 80), (Option.empty[Long], "x" * 80))
        .toDF("doc_id", "text")
      val t = intercept[Exception] { f(bad).collect() }
      val c = Iterator.iterate[Throwable](t)(_.getCause)
        .takeWhile(_ != null).map(_.toString).mkString(" | ")
      assert(c.contains("packing envelope"),
        s"expected the null-id raise_error, got: $c")
    }
  }

  test("RollingWindowHash equals the literal polynomial replay, incl. multibyte") {
    import graft.expressions.RollingWindowHash
    val M = BigInt(2).pow(61) - 1
    // mulMod against BigInt on adversarial operands (top-of-range,
    // where the 128-bit Mersenne fold has to be exact)
    val ops = Seq(0L, 1L, 2L, RollingWindowHash.M - 1, RollingWindowHash.M - 2,
      (1L << 60) + 12345L, 987654321987654321L % RollingWindowHash.M)
    for (a <- ops; b <- ops)
      assert(BigInt(RollingWindowHash.mulMod(a, b)) == (BigInt(a) * BigInt(b)).mod(M),
        s"mulMod($a, $b)")
    assert(BigInt(RollingWindowHash.powB(39)) == BigInt(131).modPow(39, M))
    // window hashes == the direct polynomial, over code points
    def replay(text: String, w: Int): Seq[Long] = {
      val cps = text.codePoints().toArray.toSeq
      if (cps.length < w) Seq.empty
      else (0 to cps.length - w).map { i =>
        cps.slice(i, i + w).foldLeft(BigInt(0))((h, c) =>
          (h * 131 + c).mod(M)).toLong
      }
    }
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and keeps running",
      "héllo wörld — ünïcode façade with ∆ math and an emoji 🎉 tail padded out",
      "exactly-forty-chars-window-here-padding!",  // len 40 -> 1 window
      "short")                                     // < width -> empty
    for (t <- texts; w <- Seq(4, 40)) {
      val got = Seq(t).toDF("text")
        .select(graft.functions.TextFunctions.rollingWindowHash($"text", w))
        .as[Seq[Long]].collect()(0)
      assert(got == replay(t, w), s"width $w mismatch on: $t")
    }
  }

  test("substringDedupRolling == substringDedup frame-for-frame (verify path exact)") {
    // the rolling+verify engine is DEFINED to reproduce the md5 path's
    // excision; pin frame equality on both adversarial fixtures (which
    // exercise cross-doc spans, self-repetition, containment, short
    // docs) and on the replay oracle
    def runRolling(corpus: Seq[(Long, String)], width: Int)
        : Map[Long, (Long, Long, Long, Long, String)] =
      Dedup.substringDedupRolling(corpus.toDF("doc_id", "text"),
          "doc_id", "text", width)
        .as[(Long, Long, Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    val boiler = "this exact license header repeats verbatim in many files"
    val x = "a sentence long enough to exceed the window width by a fair margin indeed"
    val suffix = " plus a wholly distinct continuation that nobody else shares anywhere"
    val f1 = Seq(
      (0L, s"alpha opening words $boiler and then unique tail zero"),
      (1L, s"beta different start $boiler with other ending one"),
      (2L, "repeat me repeat me repeat me repeat me repeat me repeat me repeat me xyz"),
      (3L, "tiny doc"),
      (4L, "entirely novel content with no repeated forty character window at all in it"))
    val f2 = Seq((10L, x), (11L, x), (12L, x + x), (13L, x + suffix))
    for (corpus <- Seq(f1, f2)) {
      val rolled = runRolling(corpus, 40)
      assert(rolled == runSubstringDedup(corpus, 40),
        s"rolling engine must equal the md5 engine on $corpus")
      assert(rolled == substringDedupReplay(corpus, 40))
    }
  }

  test("winnowSearchTopK: an edited 20-token quote surfaces its source at rank 1") {
    // per-doc disjoint vocabularies: only the true source can share a
    // fingerprint, so ranking is a theorem, not a likelihood
    val corpus = (0L until 6L)
      .map(i => (i, (0 until 30).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    // the registered q279 construction: tokens 3..22 of doc 2, with
    // absolute token 10 replaced by an out-of-vocabulary edit — runs
    // of 7 and 12 shared tokens, both >= k+w-1 = 7, so the winnowing
    // guarantee yields >= 2 shared fingerprints with the source
    val toks = (0 until 30).map(j => s"d2w$j")
    val snip = (toks.slice(2, 9) ++ Seq("zzedit") ++ toks.slice(10, 22))
      .mkString(" ")
    val got = Dedup.winnowSearchTopK(
        Seq((2L, snip)).toDF("doc_id", "text"), corpus,
        "doc_id", $"text", k = 4, w = 4, maxDf = 50, topK = 3)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(got.map(_._3).toSet == Set(2L),
      s"disjoint-vocab docs must be unreachable: $got")
    val top = got.head
    assert(top._1 == 2L && top._2 == 1 && top._3 == 2L && top._4 >= 2L,
      s"source must rank 1 with >= 2 shared fingerprints (pigeonhole): $top")
    // the contrast that motivates the operator: the edited snippet is
    // NOT a substring of its source, so exact phrase search misses it
    val srcText = (0 until 30).map(j => s"d2w$j").mkString(" ")
    assert(!srcText.contains(snip), "fixture must be a genuinely edited quote")
    // guards: degenerate knobs refuse loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.winnowSearchTopK(Seq((2L, snip)).toDF("doc_id", "text"),
        corpus, "doc_id", $"text", 4, 4, maxDf = 0, topK = 3)
    }
    assert(e.getMessage.contains("maxDf"), e.getMessage)
  }

  test("weightedJaccardPairs: repetition discriminates where sets cannot") {
    val corpus = Seq(
      (0L, "spam alpha beta gamma delta"),
      (1L, "spam spam spam spam alpha beta gamma delta"), // same token SET as 0
      (2L, "totally different words here now"))
    // precondition: 0 and 1 really are set-identical (set-Jaccard = 1)
    val sets = corpus.toDF("doc_id", "text")
      .select($"doc_id", array_sort(array_distinct(
        TextFunctions.words($"text"))).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sets(0L) == sets(1L), "fixture must be set-identical")
    // weighted: tf_0 = all 1 (norm 5); tf_1 = spam 4 + four 1s (norm 8);
    // w_inter = min(1,4) + 4 = 5; w_union = 5 + 8 - 5 = 8 -> 0.625
    val pairs = Dedup.weightedJaccardPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", n = 1, maxDf = 50, tNum = 1, tDen = 2)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((0L, 1L, 5L, 8L, 0.625)),
      s"hand-computed weighted pair drifted: $pairs")
    // the df-space contract: with maxDf = 1 the require refuses loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.weightedJaccardPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", n = 1, maxDf = 1, tNum = 1, tDen = 2)
    }
    assert(e.getMessage.contains("maxDf"), e.getMessage)
    // stop-gram consistency: a token past the cap leaves numerator AND
    // norms — add a boilerplate token to every doc and the (0,1) score
    // must be UNCHANGED once that token's df crosses maxDf = 2
    val glued = corpus.map { case (id, t) => (id, s"boiler $t") }
    val capped = Dedup.weightedJaccardPairs(glued.toDF("doc_id", "text"),
        "doc_id", "text", n = 1, maxDf = 2, tNum = 1, tDen = 2)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(capped == Seq((0L, 1L, 5L, 8L, 0.625)),
      s"over-cap boilerplate must leave the filtered-space score intact: $capped")
  }

  test("dedup-first substring dedup: keeper output survives exact replication") {
    val boiler = "this exact license header repeats verbatim in many files"
    val base = Seq(
      (0L, s"alpha opening words $boiler and then unique tail zero"),
      (1L, s"beta different start $boiler with other ending one"),
      (2L, "entirely novel content with no repeated forty character window at all in it"))
    // replicate every doc 5x with higher fresh ids (the ScaleStress shape)
    val replicated = base ++ (1 to 5).flatMap(r =>
      base.map { case (id, t) => (id + 100L * r, t) })
    val keep = Dedup.exactKeepers(replicated.toDF("doc_id", "text"),
        "doc_id", "text").localCheckpoint()
    val kept = replicated.toDF("doc_id", "text")
      .join(keep.select($"keeper_id".as("doc_id")), Seq("doc_id"), "inner")
      .as[(Long, String)].collect().toSeq
    // keepers are exactly the base docs (min-id policy), so the
    // dedup-first path's result equals the base-corpus result — the
    // cost collapses, the output doesn't change
    assert(runSubstringDedup(kept, 40) == runSubstringDedup(base, 40),
      "keeper-corpus result must equal the base-corpus result")
  }

  test("scheme markers: store-fed faces refuse a mismatched or unmarked frame") {
    val corpus = Seq(
      (0L, ("alpha beta gamma delta " * 8).trim),
      (1L, ("alpha beta gamma delta " * 8).trim),
      (2L, ("omicron zeta words unrelated entirely " * 5).trim))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowedFingerprints(corpus, "doc_id", $"text", 4, 4)
      .select($"doc_id", $"fp")
    val q = Seq((100L, "alpha beta gamma delta alpha beta gamma delta"))
      .toDF("doc_id", "text")
    // a k4w4 store probed at k5 is the silent-zero-results mismatch —
    // must refuse by scheme name, not return an empty search
    val eSearch = intercept[IllegalArgumentException] {
      Dedup.winnowSearchTopKFps(q, fps, "doc_id", $"text",
        k = 5, w = 4, maxDf = 50, topK = 3)
    }
    assert(eSearch.getMessage.contains("winnow_k4_w4") &&
      eSearch.getMessage.contains("winnow_k5_w4"), eSearch.getMessage)
    // the marker survives the parquet round-trip (the store path), and
    // a MATCHED store-fed search equals the live derivation
    val tmp = java.nio.file.Files.createTempDirectory("graft_scheme").toString
    fps.write.mode("overwrite").parquet(tmp)
    val stored = spark.read.parquet(tmp)
    assert(Dedup.schemeOf(stored, "fp").contains(Dedup.winnowScheme(4, 4)),
      "scheme marker must survive the parquet round-trip")
    val live = Dedup.winnowSearchTopK(q, corpus, "doc_id", $"text", 4, 4, 50, 3)
      .orderBy($"query_id", $"rank").collect().toSeq
    val fed = Dedup.winnowSearchTopKFps(q, stored, "doc_id", $"text", 4, 4, 50, 3)
      .orderBy($"query_id", $"rank").collect().toSeq
    assert(fed == live, s"store-fed search diverged from live:\n$fed\n$live")
    // an UNMARKED frame (cast drops attribute metadata) refuses too —
    // it is exactly the unvetted input the guard exists for
    val unmarked = fps.select($"doc_id", $"fp".cast("long").as("fp"))
    val eUnmarked = intercept[IllegalArgumentException] {
      Dedup.winnowPairsFromFps(unmarked, "doc_id", 1, 50,
        expectScheme = Some(Dedup.winnowScheme(4, 4)))
    }
    assert(eUnmarked.getMessage.contains("NO MARKER"), eUnmarked.getMessage)
    val ePairs = intercept[IllegalArgumentException] {
      Dedup.winnowPairsFromFps(fps, "doc_id", 1, 50,
        expectScheme = Some(Dedup.winnowScheme(4, 8)))
    }
    assert(ePairs.getMessage.contains("winnow_k4_w8"), ePairs.getMessage)
    // the substring twin: a width-30 window store consumed at width 40
    // would excise with e = pos + 39 against width-30 positions
    val w30 = Dedup.substringWindowHashes(corpus, "doc_id", "text", 30)
    val eSub = intercept[IllegalArgumentException] {
      Dedup.substringDedup(corpus, "doc_id", "text", width = 40,
        wins = Some(w30))
    }
    assert(eSub.getMessage.contains("substr_w30") &&
      eSub.getMessage.contains("substr_w40"), eSub.getMessage)
    val eDec = intercept[IllegalArgumentException] {
      Dedup.substringDecontaminate(corpus, corpus, "doc_id", "text",
        width = 40, benchWins = Some(w30))
    }
    assert(eDec.getMessage.contains("substr_w30"), eDec.getMessage)
    // matched wins equals the live derivation (the q273/q274 path)
    val w40 = Dedup.substringWindowHashes(corpus, "doc_id", "text", 40)
    val winsFed = Dedup.substringDedup(corpus, "doc_id", "text", width = 40,
      wins = Some(w40)).orderBy($"doc_id").collect().toSeq
    val winsLive = Dedup.substringDedup(corpus, "doc_id", "text", width = 40)
      .orderBy($"doc_id").collect().toSeq
    assert(winsFed == winsLive,
      s"wins-fed dedup diverged from live:\n$winsFed\n$winsLive")
  }

  test("broadcast-side bounds: decontamination/search refuse an over-bound side loudly") {
    val corpus = Seq(
      (0L, ("alpha beta gamma delta " * 8).trim),
      (1L, ("epsilon zeta eta theta " * 8).trim))
      .toDF("doc_id", "text")
    // each op broadcasts its bench/query side on a size contract; the
    // refusal must name the contract, not OOM (round-16 What's wrong #2)
    val eB = intercept[IllegalArgumentException] {
      Dedup.substringDecontaminate(corpus, corpus, "doc_id", "text",
        width = 40, maxBenchWindows = 3)
    }
    assert(eB.getMessage.contains("benchmark-sized"), eB.getMessage)
    val eW = intercept[IllegalArgumentException] {
      Dedup.winnowDecontaminate(corpus, corpus, "doc_id", $"text",
        k = 4, w = 4, minShared = 1, maxBenchFps = 1)
    }
    assert(eW.getMessage.contains("benchmark-sized"), eW.getMessage)
    val eQ = intercept[IllegalArgumentException] {
      Dedup.winnowSearchTopK(corpus, corpus, "doc_id", $"text",
        k = 4, w = 4, maxDf = 50, topK = 3, maxQueryFps = 1)
    }
    assert(eQ.getMessage.contains("ad-hoc-snippet"), eQ.getMessage)
  }
}
