package graft.datapipe

import graft.SharedSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DataPipeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  // Planted corpus: 1↔2 exact dup, 3↔4 near-dup (one word changed),
  // 5/6 unrelated.
  private lazy val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (3L, "large scale data processing with spark requires careful partition design and shuffle tuning"),
    (4L, "large scale data processing with spark requires careful partition design and memory tuning"),
    (5L, "completely different text about cooking pasta with tomatoes basil and olive oil"),
    (6L, "unrelated sentence describing mountain hiking trails in winter conditions")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps lowest id") {
    val out = Dedup.exact(corpus, "doc_id", "text")
    val dupGroup = out.filter($"n_copies" === 2).collect()
    assert(dupGroup.length == 1 && dupGroup.head.getAs[Long]("kept_id") == 1L)
    assert(out.count() == 5)
  }

  test("jaccard inverted-index pairs find exact and near dups, not unrelated") {
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", minJaccard = 0.7, maxDf = 100)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("jaccard scores are TRUE set similarity even when shared tokens are df-pruned") {
    // 'common' is in all 3 docs -> pruned at maxDf 2. Docs 1 and 2
    // still meet through their unpruned shared tokens, and the
    // reported jaccard must count 'common' in the intersection:
    // |{common,a,b,c}| / |{common,a,b,c,x,y}| = 4/6 — the pruned
    // formula would report 3/6 and wrongly drop the pair at 0.6.
    val docs = Seq((1L, "common a b c x"), (2L, "common a b c y"),
      (3L, "common p q r s")).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, "doc_id", "text", minJaccard = 0.6, maxDf = 2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 4.0 / 6.0)), s"got $got")
  }

  test("minhashBands rejects band counts the hash budget cannot honor") {
    intercept[IllegalArgumentException] {
      Dedup.minhashBands(corpus, "doc_id", "text", numHashes = 4, bands = 8)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashBands(corpus, "doc_id", "text", numHashes = 16, bands = 5)
    }
  }

  test("minhash-LSH finds planted near-dups and verifies with true jaccard") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text", minJaccard = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)), s"exact dup must share all bands: $keys")
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).exists(_._3 == 1.0))
    assert(!keys.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("minhashDropSet caps oversized buckets: giant duplicate cluster collapses to its minimum") {
    val clone = "massively duplicated document body with many identical words repeated verbatim"
    val bigCluster = (100L to 120L).map(i => (i, clone))
    val distinctDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally different words about mountain weather patterns"))
    val corpus = (bigCluster ++ distinctDocs).toDF("doc_id", "text")
    val drops = Dedup.minhashDropSet(corpus, "doc_id", "text", minJaccard = 0.8, maxBucket = 5)
      .as[Long].collect().toSet
    assert(drops == (101L to 120L).toSet, s"all clones but the minimum (100) drop, got $drops")
  }

  test("capped minhashPairs: oversized bucket emits a verified star, not the clique") {
    val clone = "massively duplicated document body with many identical words repeated verbatim"
    val bigCluster = (100L to 120L).map(i => (i, clone))
    val pairDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"))
    val corpus = (bigCluster ++ pairDocs).toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(corpus, "doc_id", "text", minJaccard = 0.8, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 21-clone cluster: 20 star pairs against the minimum instead of 210.
    assert(capped == (101L to 120L).map(i => (100L, i)).toSet + ((1L, 2L)),
      s"star to bucket minimum + untouched small-bucket pair, got $capped")
    val uncapped = Dedup.minhashPairs(corpus, "doc_id", "text", minJaccard = 0.8)
      .count()
    assert(uncapped == 210 + 1, "uncapped default keeps exact all-pairs semantics")
  }

  test("incremental dedup: batch matches corpus near-dups; re-ingest is idempotent") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated corpus text about glacier formation dynamics")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
      (11L, "fresh survey of deep sea hydrothermal vent ecosystems")).toDF("doc_id", "text")
    val corpusBands = Dedup.minhashBands(corpus, "doc_id", "text")
    val matches = IncrementalDedup.matchesAgainst(batch, "doc_id", "text",
        corpusBands, corpus, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matches == Set((10L, 1L)), s"near-dup drops against its corpus twin, got $matches")

    val (survivors, survivorBands) = IncrementalDedup.ingest(batch, "doc_id", "text",
      corpusBands, corpus, minJaccard = 0.5)
    assert(survivors.select($"doc_id").as[Long].collect().toSeq == Seq(11L))
    // Append survivors to the index (what a real ingest persists), then
    // replay the same batch: doc 11 now matches itself → nothing new.
    val grownBands = corpusBands.unionByName(survivorBands)
    val grownDocs = corpus.unionByName(survivors)
    val (replay, _) = IncrementalDedup.ingest(batch, "doc_id", "text",
      grownBands, grownDocs, minJaccard = 0.5)
    assert(replay.count() == 0, "replayed ingest must drop every doc")
  }

  test("shingled minhash is order-sensitive where word-set minhash is not") {
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val reordered = text.split(' ').reverse.mkString(" ")
    val docs = Seq((1L, text), (2L, reordered)).toDF("doc_id", "text")
    val wordSet = Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.9)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(wordSet == Set((1L, 2L)),
      "word-set hashing calls a full reordering a duplicate (same word set)")
    val shingled = Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.5, shingle = 3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(shingled.isEmpty,
      "3-shingles share no sequences between a text and its reversal — not a near-dup")
    // And shingles still catch a true near-dup: drop the last word.
    val nearDup = Seq((1L, text), (3L, text.split(' ').dropRight(1).mkString(" ")))
      .toDF("doc_id", "text")
    val caught = Dedup.minhashPairs(nearDup, "doc_id", "text", minJaccard = 0.5, shingle = 3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(caught == Set((1L, 3L)), "shingled minhash still finds true near-duplicates")
  }

  test("connected components: chains collapse to the minimum; separate components stay apart") {
    // chain 1-2-3-...-10 plus an island {100, 101}
    val edges = ((1L to 9L).map(i => (i, i + 1)) :+ (100L, 101L)).toDF("a", "b")
    val comps = ConnectedComponents.components(edges)
      .as[(Long, Long)].collect().toMap
    assert((1L to 10L).forall(comps(_) == 1L), s"chain must collapse to 1: $comps")
    assert(comps(100L) == 100L && comps(101L) == 100L)
    assert(comps.size == 12)
  }

  test("cleanCC closes transitive chains where greedy clean keeps one doc per edge") {
    // Word sets: doc3 = full 10 words, doc1 drops the last, doc2 drops
    // the second. j(1,3) = j(2,3) = 0.9 >= 0.85 (verified edges) but
    // j(1,2) = 8/10 < 0.85 — so the component {1,2,3} exists only
    // through doc3. Greedy drops doc_b=3 per edge and keeps {1,2};
    // connected components keeps only the component minimum {1}.
    val full = "the alpha beta gamma delta epsilon zeta eta theta kappa"
    val ws = full.split(' ')
    val docs = Seq(
      (1L, ws.dropRight(1).mkString(" ")),
      (2L, (ws.take(1) ++ ws.drop(2)).mkString(" ")),
      (3L, full)).toDF("doc_id", "text")
    val greedy = CorpusClean.clean(docs, "doc_id", "text",
      minQuality = -10, minJaccard = 0.85, portableHash = true)
      .select($"doc_id").as[Long].collect().toSet
    assert(greedy == Set(1L, 2L), s"greedy keeps the lowest id per EDGE, got $greedy")
    val cc = CorpusClean.cleanCC(docs, "doc_id", "text",
      minQuality = -10, minJaccard = 0.85, portableHash = true)
      .select($"doc_id").as[Long].collect().toSet
    assert(cc == Set(1L), s"closure keeps only the component minimum, got $cc")
  }

  test("simhash: identical docs have identical hashes; near-dups are close in Hamming") {
    val sh = corpus.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(3L) ^ sh(4L)) <= 12)
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(5L)) > 12)
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("LSH ANN finds a planted near-duplicate and a fair share of true neighbors") {
    val emb = graft.tables.TestTables.embeddings(spark, "/root/testdata/sf0.001")
    // Plant vec 9000 ≈ vec 0 (tiny perturbation → cosine ≈ 1).
    val base = emb.filter($"vec_id" === 0)
      .select(lit(9000L).as("vec_id"), transform($"embedding", x => x + lit(0.001f)).as("embedding"), $"label")
    val corpus = emb.unionByName(base)
    val queries = corpus.filter($"vec_id" === 9000L || $"vec_id" % 100 === 0)

    val bf = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(queries, corpus, "vec_id", "embedding", k = 5, planesPerTable = 4, tables = 8)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    assert(lsh.contains((9000L, 0L)), "near-identical vector must collide in some table")
    val recall = (bf & lsh).size.toDouble / bf.size.toDouble
    assert(recall >= 0.3, s"multi-table LSH recall vs brute force too low: $recall")
  }

  test("lsh_signature rejects numPlanes outside [1, 64] (shift would wrap into plane 0)") {
    val vec = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](1.0, -2.0, 0.5))
    intercept[IllegalArgumentException] { graft.functions.LshSignature.signature(vec, 0, 0) }
    intercept[IllegalArgumentException] { graft.functions.LshSignature.signature(vec, 65, 0) }
    // The full 64-plane signature is legal and uses the top bit.
    graft.functions.LshSignature.signature(vec, 64, 0): Unit
  }

  test("int8 quantization: bounded roundtrip error, high quantized-ANN recall") {
    val emb = graft.tables.TestTables.embeddings(spark, "/root/testdata/sf0.001")
    val q = Quantize.quantizeTable(emb, "vec_id", "embedding")
    // Roundtrip: every reconstructed component within one quantization
    // cell (scale/255) of the original.
    val err = q.join(emb, "vec_id")
      .select(aggregate(
        zip_with(Quantize.dequantize($"qvec", $"qmin", $"qmax"),
          Similarity.asDouble($"embedding"), (a, b) => abs(a - b)),
        lit(0.0), (acc, x) => greatest(acc, x)).as("e"),
        (($"qmax" - $"qmin") / lit(255.0)).as("cell"))
      .filter($"e" > $"cell").count()
    assert(err == 0, "reconstruction must stay inside one quantization cell")

    val queries = emb.filter($"vec_id" % 100 === 0)
    val bf = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val qq = Quantize.bruteForceTopKQuantized(queries, q, "vec_id", "embedding", k = 5)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val recall = (bf & qq).size.toDouble / bf.size.toDouble
    assert(recall >= 0.8, s"int8 ANN recall vs exact brute force too low: $recall")
  }

  test("chunks: overlap reconstruction, short docs, exact window math") {
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "a b c"),                                  // shorter than width
      (3L, "")                                        // empty
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id",
        posexplode(TextAnalysis.chunks($"text", width = 4, stride = 3)).as(Seq("cid", "chunk")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    // ceil((10-4)/3)+1 = 3 chunks: [1..4], [4..7], [7..10]
    assert(d1.toSeq == Seq("w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"), d1.toSeq)
    assert(out.filter(_._1 == 2L).map(_._3).toSeq == Seq("a b c"))
    assert(out.filter(_._1 == 3L).map(_._3).toSeq == Seq(""))
    // Every word occurs in some chunk; consecutive chunks share width-stride words.
    assert(d1.flatMap(_.split(' ')).toSet == (1 to 10).map(i => s"w$i").toSet)
  }

  test("word_shingles expression: identical to the HOF form, codegen path, edge cases") {
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val docs = graft.tables.TestTables.documents(spark, "/root/testdata/sf0.001")
      for (n <- Seq(2, 3, 5)) {
        val diff = docs.select(
            TextAnalysis.shingles($"text", n).as("kernel"),
            TextAnalysis.shinglesHof($"text", n).as("hof"))
          .filter($"kernel" =!= $"hof")
        assert(diff.isEmpty, s"kernel must reproduce the HOF shingles exactly at n=$n")
      }
      val edges = Seq("", "one", "one two", "one two three", "  padded   spaces  ")
        .toDF("text")
      val out = edges.select(
          TextAnalysis.shingles($"text", 3).as("kernel"),
          TextAnalysis.shinglesHof($"text", 3).as("hof"))
        .collect()
      out.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
      assert(out(0).getSeq[String](0) == Seq(""), "empty doc collapses to one empty shingle")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("cosine_sim expression: bit-identical to the HOF fold, codegen path, edge cases") {
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false") // force doGenCode, no interpreted escape
    try {
      val emb = graft.tables.TestTables.embeddings(spark, "/root/testdata/sf0.001")
      val pairs = emb.limit(50).select($"vec_id".as("a_id"), Similarity.asDouble($"embedding").as("va"))
        .crossJoin(emb.limit(50).select($"vec_id".as("b_id"), Similarity.asDouble($"embedding").as("vb")))
      val diff = pairs.select(
          Similarity.cosine($"va", $"vb").as("fused"),
          Similarity.cosineHof($"va", $"vb").as("hof"))
        .filter($"fused" =!= $"hof") // bitwise-exact: any IEEE drift fails
      assert(diff.isEmpty, "fused loop must reproduce the HOF fold bit-for-bit")

      val edges = Seq(
        (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)), // length mismatch
        (Seq.empty[Double], Seq.empty[Double]) // empty vectors
      ).toDF("a", "b")
      val out = edges.select(Similarity.cosine($"a", $"b").as("c")).collect()
      assert(out(0).isNullAt(0), "length mismatch is null, matching zip_with padding semantics")
      assert(out(1).isNullAt(0) || out(1).getDouble(0).isNaN, "empty vectors: NaN (0/0), like the HOF")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("lsh_signature expression: codegen path, determinism, table independence") {
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val v = Seq((1L, Seq(1.0, -2.0, 0.5)), (2L, Seq(1.0, -2.0, 0.5)), (3L, Seq(-1.0, 2.0, -0.5)))
        .toDF("id", "vec")
      val sigs = v.select($"id",
          Similarity.lshSignature($"vec", 16, table = 0).as("t0"),
          Similarity.lshSignature($"vec", 16, table = 1).as("t1"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(sigs(1L) == sigs(2L), "identical vectors get identical signatures")
      assert(sigs(1L)._1 != sigs(1L)._2, "different tables use independent plane sets")
      assert(sigs(1L)._1 == (~sigs(3L)._1 & 0xFFFFL),
        "negated vector flips every plane's sign bit")
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("cosineDedupPairs: hot-bucket cap emits the star, uncapped emits the clique") {
    // 21 exact-direction copies of one embedding (power-of-two scalings
    // are IEEE-exact, so every hyperplane sign matches) = one hot
    // bucket in every LSH table — the template-cluster shape real
    // embedding corpora produce.
    val emb = graft.tables.TestTables.embeddings(spark, "/root/testdata/sf0.001")
    val cluster = emb.filter($"vec_id" === 0)
      .select(explode(sequence(lit(0), lit(20))).as("i"), $"embedding")
      .select((lit(5000L) + $"i").as("vec_id"),
        transform($"embedding", x => x * pow(lit(2.0), $"i").cast("float")).as("embedding"))
    val uncapped = Similarity.cosineDedupPairs(cluster, "vec_id", "embedding", minCosine = 0.9)
    assert(uncapped.count() == 21 * 20 / 2, "uncapped must emit the full clique")
    val capped = Similarity.cosineDedupPairs(cluster, "vec_id", "embedding",
        minCosine = 0.9, maxBucket = 8)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(capped == (1 to 20).map(i => (5000L, 5000L + i)).toSet,
      "capped path must emit exactly the star against the bucket minimum")
  }

  test("simhashPairsFromSketches: pigeonhole finds every pair within maxHamming; cap emits the star") {
    val rnd = new scala.util.Random(42)
    val maxH = 7
    // 40 planted (base, partner) pairs at seeded Hamming distances
    // 0..maxH; distances between unrelated random sketches concentrate
    // near 32, far above the verification threshold.
    val rows = (0 until 40).flatMap { g =>
      val base = rnd.nextLong()
      val flips = rnd.shuffle((0 until 64).toList).take(rnd.nextInt(maxH + 1))
      val partner = flips.foldLeft(base)((s, b) => s ^ (1L << b))
      Seq((g * 2L, base), (g * 2L + 1, partner))
    }
    val sh = rows.toDF("doc", "sh")
    val found = Dedup.simhashPairsFromSketches(sh, maxHamming = maxH).collect()
    found.foreach(r => assert(r.getAs[Int]("hamming") <= maxH, "verification must gate distance"))
    val pairs = found.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    (0 until 40).foreach { g =>
      assert(pairs.contains((g * 2L, g * 2L + 1)),
        s"planted pair $g within Hamming $maxH must share a chunk (maxHamming+1 chunks)")
    }
    // Bucket cap: 12 identical sketches = one hot bucket per chunk;
    // cap 4 forces the star against the bucket minimum.
    val same = (0 until 12).map(i => (i.toLong, 0x1234567890abcdefL)).toDF("doc", "sh")
    val capped = Dedup.simhashPairsFromSketches(same, maxHamming = 3, maxBucket = 4)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(capped == (1 until 12).map(i => (0L, i.toLong)).toSet,
      "capped path must emit exactly the star")
    assert(Dedup.simhashPairsFromSketches(same, maxHamming = 3).count() == 12 * 11 / 2)
  }

  test("cosineDedupPairs surfaces the planted near-duplicate pair") {
    val emb = graft.tables.TestTables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter($"vec_id" === 0)
      .select(lit(9000L).as("vec_id"), transform($"embedding", x => x + lit(0.001f)).as("embedding"), $"label")
    val pairs = Similarity.cosineDedupPairs(emb.unionByName(base), "vec_id", "embedding", minCosine = 0.98)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 9000L)))
  }

  test("registered ANN queries return exactly the planted twin answers") {
    // The registry plants a ×2-scaled twin (id + 10M) of every 50th
    // vector as the query set; each variant's top-1 must be the twin's
    // base at cosine ~1.0 — the property that makes the rows-only
    // driver entries planted-answer checks rather than vacuous.
    for (q <- Seq("q_sim_lsh_ann", "q_sim_ivf_ann", "q_sim_quantized_ann")) {
      val rows = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .select($"q_id", $"n_id", $"cosine").collect()
      assert(rows.length == 10, s"$q: one top-1 row per planted twin query")
      rows.foreach { r =>
        assert(r.getAs[Long]("n_id") == r.getAs[Long]("q_id") - 10000000L,
          s"$q: top-1 of twin ${r.getAs[Long]("q_id")} must be its base")
        assert(r.getAs[Double]("cosine") > 0.99, s"$q: twin cosine must be ~1")
      }
    }
  }

  test("multimodal decode stub: deterministic byte features, batch shape") {
    val media = Multimodal.asMedia(
      Seq((7L, "abc", 10L)).toDF("doc_id", "text", "n_chars"), "doc_id", "text", "n_chars")
    val r = Multimodal.decodeFeatures(media).collect().head
    assert(r.getAs[Long]("n_bytes") == 3L)
    assert(math.abs(r.getAs[Double]("mean_byte") - (97 + 98 + 99) / 3.0) < 1e-12)
    assert(r.getAs[Long]("byte_checksum") == (97 + 98 + 99) % 997)
  }

  test("rolling fingerprint is order-sensitive where the bag hash is not") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha")).toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextAnalysis.rollingFingerprint($"text").as("r")).as[(Long, String)].collect().toMap
    assert(out(1L) != out(2L))
  }

  test("repetition metrics: dup fractions and top-shingle share") {
    val df = Seq(
      (1L, "a b c a b c a b c"),          // 9 words, 3 distinct; trigram "a b c" 3× of 7
      (2L, "all distinct words here now"), // no repetition
      (3L, "")                             // empty: fractions 0, shingle collapses
    ).toDF("doc_id", "text")
    val byId = df.select($"doc_id",
        TextAnalysis.dupWordFraction($"text").as("dw"),
        TextAnalysis.topShingleFraction($"text", 3).as("top"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(byId(1L)._1 - (1.0 - 3.0 / 9.0)) < 1e-12)
    assert(math.abs(byId(1L)._2 - 3.0 / 7.0) < 1e-12, "top trigram 'a b c' occurs 3 of 7")
    assert(byId(2L)._1 == 0.0 && byId(2L)._2 == 1.0 / 3.0)
    assert(byId(3L)._1 == 0.0 && byId(3L)._2 == 1.0, "empty doc collapses to one shingle")
  }

  test("redactPii strips emails and phones, leaves the rest") {
    val out = Seq((1L, "mail me at a.b+c@mail-host.org or 555-123-4567 thanks"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.redactPii($"text")).as[String].head()
    assert(out == "mail me at [EMAIL] or [PHONE] thanks")
  }

  test("luhnValid: ISO 7812 mod-10 over known digit strings") {
    val out = Seq("4111111111111111", "4111111111111112", "5500005555555559",
        "79927398713", "94111111111111111")
      .toDF("c").select($"c", TextAnalysis.luhnValid($"c").as("ok"))
      .as[(String, Boolean)].collect().toMap
    assert(out("4111111111111111"), "canonical Visa test number")
    assert(!out("4111111111111112"), "one-off check digit must fail")
    assert(out("5500005555555559"))
    assert(out("79927398713"), "the ISO worked example")
    assert(!out("94111111111111111"))
  }

  test("validIpv4 rejects out-of-range octets the pattern accepts") {
    val out = Seq("8.8.8.8", "255.255.255.255", "10.1.2.300", "1.2.256.4")
      .toDF("c").select($"c", TextAnalysis.validIpv4($"c").as("ok"))
      .as[(String, Boolean)].collect().toMap
    assert(out("8.8.8.8") && out("255.255.255.255"))
    assert(!out("10.1.2.300") && !out("1.2.256.4"))
  }

  test("redactPiiStrict: validated matches redact, invalid candidates survive") {
    val text = "ip 8.8.8.8 bad 10.1.2.300 card 4111111111111111 " +
      "fake 4111111111111112 tel 555-123-4567 mail a@b.co end"
    val out = Seq((1L, text)).toDF("doc_id", "text")
      .select(TextAnalysis.redactPiiStrict($"text")).as[String].head()
    assert(out == "ip [IP] bad 10.1.2.300 card [CC] " +
      "fake 4111111111111112 tel [PHONE] mail [EMAIL] end")
  }

  test("redactPiiStrict caveat: a valid card recurring inside a longer digit run over-redacts") {
    // 94111111111111111 is a 17-digit CANDIDATE but Luhn-invalid; the
    // valid 16-digit card is a literal substring of it, so the fold's
    // plain replace rewrites it inside the longer run too — the
    // documented safe-direction over-redaction (redactValidated's
    // scaladoc), locked here so a refactor can't silently change it.
    val out = Seq((1L, "a 4111111111111111 b 94111111111111111 c"))
      .toDF("doc_id", "text")
      .select(TextAnalysis.redactPiiStrict($"text")).as[String].head()
    assert(out == "a [CC] b 9[CC] c")
  }

  test("decontamination flags the doc that copies benchmark text") {
    val bench = Seq((100L, "the secret benchmark question about spark shuffles")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the secret benchmark question about spark shuffles appears verbatim here"),
      (2L, "totally unrelated corpus document describing pasta recipes in detail")
    ).toDF("doc_id", "text")
    val out = Decontam.overlapReport(corpus, "doc_id", "text", bench, "text",
        n = 3, minOverlap = 0.5)
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Boolean]("contaminated")).toMap
    assert(out(1L), "verbatim-copy doc is contaminated")
    assert(!out(2L), "unrelated doc is clean")
  }

  test("langId picks the language whose markers dominate") {
    val df = Seq(
      (1L, "the cat and the dog of the house"),
      (2L, "der hund und die katze und der vogel nicht hier"),
      (3L, "xyzzy plugh")).toDF("id", "text")
    val out = df.select($"id", TextAnalysis.langId($"text").as("l")).as[(Long, String)].collect().toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "und")
  }
}
