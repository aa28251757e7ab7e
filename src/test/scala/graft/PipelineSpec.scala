package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.{Dedup, DupClusters}
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextAnalysis

/** Training-data pipeline operators: text analysis, dedup family,
  * similarity search, multimodal plumbing. Small handcrafted frames +
  * invariants (recall vs brute force, determinism across partitionings). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // ---- text -----------------------------------------------------------------

  test("lang id: marker-dominant texts classify; tie → und only when no signal") {
    val d = docs(
      1L -> "the cat and the dog of the house went to the park in the rain",
      2L -> "der hund und die katze das ist der beste und die sonne",
      3L -> "le chat et la maison les arbres des fleurs et le vent",
      4L -> "el perro los gatos que una casa por el camino los dias",
      5L -> "zzz qqq xxx")
    val out = d.select($"doc_id", TextAnalysis.langId($"text").as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en"); assert(out(2L) == "de")
    assert(out(3L) == "fr"); assert(out(4L) == "es")
    assert(out(5L) == "und")
  }

  test("quality: blank vs clean text orders correctly; ratios bounded") {
    val d = docs(
      1L -> "The quick brown fox jumps over the lazy dog and runs to the hills in a day of sun.",
      2L -> "1234 5678 90!!!! ???? 00",
      3L -> "")
    val out = d.select(Seq($"doc_id", TextAnalysis.qualityScore($"text").as("q"))
        ++ TextReference.qualityColumns($"text"): _*)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) > out(2L), s"clean ${out(1L)} should beat junk ${out(2L)}")
    val ratios = d.select(TextReference.qualityColumns($"text"): _*).collect()
    ratios.foreach { r =>
      (2 until 7).foreach { i =>
        val v = r.getDouble(i)
        assert(!v.isNaN && v >= 0.0, s"ratio col $i negative/NaN: $v")
      }
    }
  }

  test("token counts: ws and bpe-ish pre-tokenizer") {
    val d = docs(1L -> "hello world, it's 42 degrees!", 2L -> "", 3L -> "one")
    val out = d.select($"doc_id", TextAnalysis.wsTokenCount($"text"),
      TextReference.bpeTokenCount($"text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == 5)
    // hello | world | , | it | ' | s | 4 | 2 | degrees | ! = 10
    assert(out(1L)._2 == 10)
    assert(out(2L) == ((0L, 0L)))
    assert(out(3L) == ((1L, 1L)))
  }

  test("winnowing: identical text → identical fingerprints; edit shares most") {
    val base = "the quick brown fox jumps over the lazy dog again and again for testing"
    val d = docs(1L -> base, 2L -> base, 3L -> base.replace("lazy", "hazy"))
    val fps = d.select($"doc_id", TextReference.winnowingFingerprints($"text").as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L) == fps(2L))
    val overlap = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).size
    assert(overlap > 0.3, s"single-word edit should share fingerprints, got $overlap")
  }

  // ---- dedup ----------------------------------------------------------------

  private val dupCorpus = docs(
    1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    2L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa", // exact dup of 1
    3L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda", // near dup of 1
    4L -> "completely different words entirely unrelated content here now",
    5L -> "ALPHA  beta gamma delta epsilon zeta eta theta iota kappa") // normalizes to 1

  test("exact dedup: normalized-identical docs collapse to min id") {
    val groups = Dedup.exactDupGroups(dupCorpus).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("keep_id") == 1L)
    assert(groups.head.getAs[Long]("n_dups") == 3L) // 1, 2, 5
    val kept = Dedup.exactDedup(dupCorpus).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("ngram jaccard: near dup found, unrelated not") {
    val pairs = Dedup.ngramJaccardPairs(
      dupCorpus.withColumn("source", lit("s")), "source", minJ = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((1L, 5L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash LSH: recall 1.0 on planted near-dups vs brute-force jaccard") {
    // 40 base docs + planted near-dups of the first 8
    val base = (0 until 40).map { i =>
      val words = (0 until 30).map(j => s"w${(i * 31 + j * 7) % 97}")
      (i.toLong, words.mkString(" "))
    }
    val planted = (0 until 8).map { i =>
      (100L + i, base(i)._2.replaceFirst("w\\d+", "zz"))
    }
    val corpus = docs((base ++ planted): _*)
    val truth = Dedup.ngramJaccardPairs(
      corpus.withColumn("source", lit("s")), "source", minJ = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.size >= 8, s"expected ≥8 true near-dup pairs, got ${truth.size}")
    val found = Dedup.minhashNearDupPairs(corpus, k = 32, bands = 8, minJ = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // verification step makes found ⊆ truth; recall is the LSH question
    assert(found.subsetOf(truth), s"verified pairs must be true pairs: ${found -- truth}")
    val recall = found.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"LSH recall $recall < 0.9 (8 bands × 4 rows at j≥0.6)")
  }

  test("simhash: exact dups at hamming 0; pigeonhole join finds ≤3-bit pairs") {
    val pairs = Dedup.simhashNearDupPairs(dupCorpus, maxDist = 3)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    val m = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(m.get((1L, 2L)).contains(0))
    assert(m.get((1L, 5L)).contains(0)) // same after normalization
    assert(!m.contains((1L, 4L)))
  }

  test("embedding near-dup + ANN: quantized cosine agrees with plain cosine ranking") {
    val vecs = (0 until 30).map { i =>
      val v = (0 until 16).map(j => math.sin(i * 17 + j * 3).toFloat).toArray
      (i.toLong, v, i % 3)
    }.toDF("vec_id", "embedding", "label")
    val queries = vecs.filter($"vec_id" < 10)
    def top(df: org.apache.spark.sql.DataFrame): Array[(Long, Int, Long, Double)] =
      df.select("query_id", "rank", "neighbor_id", "cos").as[(Long, Int, Long, Double)].collect()
    val brute = top(Similarity.bruteForceTopK(vecs, queries, k = 4))
    assert(brute.length == 40)
    // the float ranking the quantized score stands in for: double-precision
    // cosine of the raw vectors through the same bounded top-k
    val floatScored = vecs.select($"vec_id".as("neighbor_id"), $"embedding".as("cv"))
      .join(broadcast(queries.select($"vec_id".as("query_id"), $"embedding".as("qv"))))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("cos", SimilarityReference.cosineDeclarative($"qv", $"cv"))
    val float = top(Similarity.topKPerQuery(floatScored, 4))
    // measured: the same neighbors at the same ranks for all 10 queries,
    // scores at most 1.09e-4 apart
    assert(brute.map(r => (r._1, r._2, r._3)).toSet == float.map(r => (r._1, r._2, r._3)).toSet,
      s"rankings differ: ${brute.toSeq.diff(float.toSeq).take(3)}")
    val floatCos = float.map(r => (r._1, r._3) -> r._4).toMap
    val maxDiff = brute.map { case (q, _, n, c) => math.abs(c - floatCos((q, n))) }.max
    assert(maxDiff < 2e-4, s"quantized and float cosines differ by up to $maxDiff")
    // LSH ANN ranks by the same score over a subset of the pairs, so its
    // rank-r cosine never beats the exact rank-r cosine
    val exactAt = brute.map(r => (r._1, r._2) -> r._4).toMap
    val ann = top(Similarity.lshAnnTopK(vecs, queries, k = 4, nBits = 4, maxDim = 16))
    assert(ann.nonEmpty)
    ann.foreach { case (q, r, n, c) =>
      assert(n >= 0 && n < 30 && n != q, s"($q, $n)")
      assert(c <= exactAt((q, r)), s"ANN ($q, rank $r) cos $c beats the exact ${exactAt((q, r))}")
    }
  }

  test("fused cosine expressions ≡ declarative HOF forms, bit-exact (incl. degenerate shapes)") {
    // deterministic pseudo-random vectors off range(): every 17th row a
    // zero vector, every 23rd carries a null ELEMENT, every 31st is SHORTER
    // than its partner — the exact degenerate shapes whose null/zero
    // semantics the fused kernels must replicate from the HOF tree. Built
    // from range() so nothing constant-folds away the codegen path.
    val elem = (row: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =>
      when(pmod(row, lit(17)) === 0, lit(0.0f))
        .when(pmod(row, lit(23)) === 0 && i === 3, lit(null).cast("float"))
        .otherwise(((pmod(xxhash64(row, i), lit(2001)) - 1000) / 1000.0).cast("float"))
    val vecOf = (row: org.apache.spark.sql.Column) =>
      transform(sequence(lit(0L), when(pmod(row, lit(31)) === 0, 5L).otherwise(7L)),
        i => elem(row, i))
    val pairs = spark.range(400)
      .select(vecOf(col("id")).as("va"), vecOf(col("id") + 1).as("vb"))
      .withColumn("qa", Similarity.quantize(col("va")))
      .withColumn("qb", Similarity.quantize(col("vb")))
    val out = pairs.select(
      Similarity.intCosine(col("qa"), col("qb")).as("i_native"),
      SimilarityReference.intCosineDeclarative(col("qa"), col("qb")).as("i_decl")).collect()
    assert(out.nonEmpty)
    var checkedNull = false; var checkedZero = false
    out.foreach { r =>
      def v(i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      assert(v(0) == v(1), s"int cosine diverged: ${v(0)} vs ${v(1)}") // exact, incl. nullness
      if (v(0).isEmpty) checkedNull = true
      if (v(0).contains(0.0)) checkedZero = true
    }
    assert(checkedNull && checkedZero, "fixture failed to produce the degenerate shapes")
  }

  test("dedup pipeline determinism: same results at different partition counts") {
    val corpus = (0 until 60).map { i =>
      (i.toLong, (0 until 20).map(j => s"t${(i * 13 + j * 5) % 53}").mkString(" "))
    }.toDF("doc_id", "text")
    def run(parts: Int) = Dedup.minhashNearDupPairs(
      corpus.repartition(parts), k = 32, bands = 8, minJ = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(run(2) == run(7))
  }

  test("marker-count kernel ≡ declarative replace-trick scoring (q21 oracle contract)") {
    val texts = Seq(
      "",
      "the the the",
      "a a a a",                       // overlapping-pad case: " a " at shared spaces
      "der  Hund   und\tdie Katze und das ist",
      "THE quick AND lazy OF dog TO the IN in the",
      "le la et les des le la " * 10,
      null)
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val langs = TextAnalysis.langMarkers.map(_._1)
    val declarative = d
      .select(col("doc_id"), TextAnalysis.padded($"text").as("pt"))
      .select(col("doc_id") +: langs.map(l =>
        TextAnalysis.langScoreFromPadded(col("pt"), l).as(s"s_$l")): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val markers = TextAnalysis.langMarkers
      .flatMap { case (_, ws) => ws.map(w => s" $w ") }.toArray
    val mc = TextAnalysis.markerCountsUdf(markers)
    val nPerLang = TextAnalysis.langMarkers.head._2.size
    val kernel = d.select(col("doc_id"), mc($"text").as("mc"))
      .select(col("doc_id") +: langs.zipWithIndex.map { case (l, i) =>
        (0 until nPerLang).map(j => element_at(col("mc"), i * nPerLang + j + 1))
          .reduce(_ + _).as(s"s_$l")
      }: _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    texts.indices.foreach { i =>
      assert(kernel(i.toLong) == declarative(i.toLong),
        s"kernel/declarative marker-count divergence on doc $i")
    }
  }

  test("quality-prims kernel ≡ declarative counting, all columns bit-exact (q22 contract)") {
    val texts = Seq(
      "",
      "   ",
      "The quick brown fox; jumps over 42 LAZY dogs!? a a the of",
      "1234 5678 90!!!! ???? 00",
      "einz zwei drei " * 40,
      "a A. a, a; a: a! a?",
      null)
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val declarative = d.select(col("doc_id") +: TextReference.qualityColumns($"text")
        :+ TextAnalysis.qualityScore($"text").as("quality_score"): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val kernel = d.select(col("doc_id"), TextAnalysis.quality_prims_udf($"text").as("qp"))
      .select(col("doc_id") +: TextAnalysis.qualityColumnsFromPrims($"qp")
        :+ TextAnalysis.qualityScoreFromPrims($"qp").as("quality_score"): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    texts.indices.foreach { i =>
      assert(kernel(i.toLong) == declarative(i.toLong),
        s"kernel/declarative quality divergence on doc $i")
    }
  }

  test("bpe-token-count kernel ≡ declarative regexp_extract_all (q23 oracle contract)") {
    val texts = Seq(
      "",
      "hello world",
      "Hello, World! 42 times...",     // letter runs, digits one-each, punct one-each
      "1234567890",                    // 10 single-digit tokens, zero runs
      "a1b2c3 --- ??? abcXYZ",
      "tabs\tand\nnewlines\u000Bvt\ffeed\rcr end", // every Java \s class member
      "café naïve über", // non-ASCII letters: one token per code point
      "emoji 😀 pair",       // surrogate pair = ONE code point = ONE token
      "  leading and trailing   ",
      null)
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val declarative = d.select(col("doc_id"), TextReference.bpeTokenCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val kernel = d.select(col("doc_id"), TextAnalysis.bpeTokenCountUdf($"text").as("n"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    texts.indices.foreach { i =>
      assert(kernel(i.toLong) == declarative(i.toLong),
        s"kernel/declarative bpe-token divergence on doc $i: " +
          s"kernel=${kernel(i.toLong)} declarative=${declarative(i.toLong)}")
    }
    // and over a generated varied corpus, not just adversarial literals
    val gen = (0 until 400).map { i =>
      val words = (0 until 20 + i % 13).map(j => s"word${(i * 31 + j * 7) % 97}")
      (i.toLong, words.mkString(" ") + s" — n°$i! (${i * 37 % 1000})")
    }
    val both = docs(gen: _*).select(
      TextReference.bpeTokenCount($"text").as("a"),
      TextAnalysis.bpeTokenCountUdf($"text").as("b"))
    assert(both.filter(!(col("a") <=> col("b"))).count() == 0L)
  }

  test("winnowing kernel ≡ declarative higher-order form (the q35 oracle contract)") {
    val texts = Seq(
      "",
      "short",
      "exactly23charsofstring!",
      "The quick brown fox JUMPS over the lazy dog; " * 6,
      (0 until 400).map(i => s"w${(i * 37) % 101}").mkString(" "),
      null)
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val declarative = d
      .select($"doc_id", TextReference.charGramHashes($"text").as("g"))
      .select($"doc_id", TextReference.winnowFromGrams($"g").as("fps"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
    val kernel = d.select($"doc_id", TextAnalysis.winnow_udf($"text").as("fps"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
    texts.indices.foreach { i =>
      assert(kernel(i.toLong) == declarative(i.toLong),
        s"kernel/declarative divergence on doc $i")
    }
    // null text → null fingerprints, so q35's n_fps is null like the
    // oracle's len(NULL)
    assert(kernel(5L).isEmpty)
    val nFps = d.filter($"doc_id" === 5L)
      .select(size(TextAnalysis.winnow_udf($"text"))).head()
    assert(nFps.isNullAt(0), s"q35 n_fps on null text: $nFps")
  }

  test("simhash kernel ≡ declarative explode+agg build, both hasher families") {
    val texts = Seq(
      "",
      "   ",
      "one",
      "The quick   brown fox JUMPS over the lazy dog",
      "der hund und die katze " * 20,
      (0 until 300).map(i => s"tok${(i * 53) % 127}").mkString(" "))
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (h <- Seq(dedup.DedupHasher.crossEngine, dedup.DedupHasher.production)) {
      val declarative = DedupReference.simhash64(d, hasher = h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kernel = Dedup.simhash64Kernel(d, hasher = h)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      texts.indices.foreach { i =>
        assert(kernel(i.toLong) == declarative(i.toLong),
          s"kernel/declarative simhash divergence on doc $i")
      }
    }
  }

  test("minhash signature kernel ≡ declarative explode+agg build, both hasher families") {
    val texts = Seq(
      "",
      "one two",
      "the quick brown fox jumps over the lazy dog",
      "der hund und die katze " * 15,
      (0 until 200).map(i => s"tok${(i * 31) % 89}").mkString(" "))
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (h <- Seq(dedup.DedupHasher.crossEngine, dedup.DedupHasher.production)) {
      val declarative = Dedup.minhashSignatures(d, k = 32, hasher = h)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      val kernel = Dedup.minhashSignaturesKernel(d, k = 32, hasher = h)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      texts.indices.foreach { i =>
        assert(kernel(i.toLong) == declarative(i.toLong),
          s"kernel/declarative minhash divergence on doc $i")
      }
    }
  }

  test("minhash null-text rows drop in BOTH forms (kernel/declarative parity on null corpora)") {
    val d = Seq((0L, "alpha beta gamma"), (1L, null), (2L, ""))
      .toDF("doc_id", "text")
    val declarative = Dedup.minhashSignatures(d, k = 8)
      .collect().map(_.getLong(0)).sorted.toSeq
    val kernel = Dedup.minhashSignaturesKernel(d, k = 8)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(declarative == Seq(0L, 2L), "declarative must drop the null-text row only")
    assert(kernel == declarative, "kernel must emit exactly the declarative row set")
    // simhash pins the same rule through its inner explode — assert it too
    val sd = DedupReference.simhash64(d).collect().map(_.getLong(0)).sorted.toSeq
    val sk = Dedup.simhash64Kernel(d).collect().map(_.getLong(0)).sorted.toSeq
    assert(sd == Seq(0L, 2L) && sk == sd)
  }

  test("linkrank: distributed ≡ sequential reference; invariant across partitionings") {
    import graft.operators.LinkRank
    // deterministic pseudo-random digraph: 120 nodes, ~480 edges, includes
    // sinks (no out-edges) and sources (no in-edges)
    val edges = (0 until 600).map { i =>
      val u = (i * 37) % 120L
      val v = (i * i * 13 + 7) % 97L // nodes 97..119 are pure sinks' sources
      (u, v)
    }.distinct.filter { case (u, v) => u != v }
    val expected = LinkRank.linkRankReference(edges, iters = 3)
    for (parts <- Seq(2, 7)) {
      val df = edges.toDF("src", "dst").repartition(parts)
      val got = LinkRank.linkRank(df, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"linkrank mismatch at $parts partitions")
    }
  }

  test("linkrank K=10: persistEvery bounds plan depth, values ≡ unrolled reference") {
    import graft.operators.LinkRank
    val edges = (0 until 600).map { i =>
      val u = (i * 37) % 120L
      val v = (i * i * 13 + 7) % 97L
      (u, v)
    }.distinct.filter { case (u, v) => u != v }
    val expected = LinkRank.linkRankReference(edges, iters = 10)
    val df = edges.toDF("src", "dst").repartition(5)
    val ranked = LinkRank.linkRank(df, iters = 10, persistEvery = 3)
    // the pin bounds plan depth: the returned frame reads from the last
    // persisted iteration, so its analyzed plan must not embed the edge
    // scan once per unrolled level (10 iters ≈ 20+ scans when unrolled)
    val scans = ranked.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
        if l.getClass.getSimpleName == "InMemoryRelation" => l
    }
    assert(scans.nonEmpty, "K=10 persistEvery plan must read from a cached iteration")
    val got = ranked.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ranked.unpersist()
    assert(got == expected, "persistEvery path diverged from the sequential reference")
  }

  test("IVF search: probing ALL cells ≡ exact scan; nProbe=2 recall ≥ 0.4") {
    val vecs = (0 until 200).map { i =>
      val v = (0 until 16).map(j => math.sin(i * 17 + j * 3).toFloat).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val centroids = vecs.filter($"vec_id" < 8)
    val queries = vecs.filter($"vec_id" >= 8 && $"vec_id" < 18)
    // the exact baseline scores with the SAME integer cosine (so nProbe=8 must equal it)
    val exact = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val full = Similarity.ivfTopK(vecs, centroids, queries, k = 5, nProbe = 8)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(full == exact, "nProbe = nCells must reduce to the exact scan")
    val ann = Similarity.ivfTopK(vecs, centroids, queries, k = 5, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val truth = exact.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recalls = truth.map { case (qid, t) =>
      t.intersect(ann.getOrElse(qid, Set.empty)).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.4, s"IVF nProbe=2 mean recall@5 $mean below floor")
  }

  test("IVF trained centroids: kmeansFit quantizer ≥ arbitrary-fixture recall at equal nProbe") {
    val vecs = (0 until 200).map { i =>
      val v = (0 until 16).map(j => math.sin(i * 17 + j * 3).toFloat).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" >= 8 && $"vec_id" < 18)
    val truth = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(centroids: org.apache.spark.sql.DataFrame): Double = {
      val ann = Similarity.ivfTopK(vecs, centroids, queries, k = 5, nProbe = 2)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val rs = truth.map { case (qid, t) =>
        t.intersect(ann.getOrElse(qid, Set.empty)).size.toDouble / t.size }
      rs.sum / rs.size
    }
    val fixture = recall(vecs.filter($"vec_id" < 8)) // q44's arbitrary first-8 rule
    val (cents, _) = Similarity.kmeansFit(vecs, k = 8, iters = 5, dim = 16)
    val trained = recall(Similarity.centroidFrame(spark, cents))
    // trained cells tile the data; arbitrary corpus rows don't have to —
    // the trainer must never LOSE recall, and must clear the q44 floor
    assert(trained >= fixture, s"trained $trained < fixture $fixture")
    assert(trained >= 0.4, s"trained recall $trained below the q44 spec floor")
  }

  test("ANN LSH: measured recall@5 vs brute force ≥ 0.6 (multiprobe, nBits=6)") {
    val vecs = (0 until 200).map { i =>
      val v = (0 until 16).map(j => math.sin(i * 17 + j * 3).toFloat).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = Similarity.lshAnnTopK(vecs, queries, k = 5, nBits = 6, maxDim = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = brute.map { case (q, truth) =>
      truth.intersect(ann.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@5 $mean < 0.6 across ${recalls.size} queries")
  }

  test("ivfAssign: every vector lands on its argmax-cosine centroid") {
    val vecs = (0 until 60).map { i =>
      val v = (0 until 8).map(j => math.cos(i * 13 + j * 5).toFloat).toArray
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cents = vecs.filter($"vec_id" < 4)
    val assign = Similarity.ivfAssign(vecs, cents)
      .select("vec_id", "cell_id").as[(Long, Long)].collect().toMap
    assert(assign.size == 60)
    // centroids must self-assign (cos=1 with themselves beats any other)
    (0L until 4L).foreach(c => assert(assign(c) == c, s"centroid $c assigned to ${assign(c)}"))
    assert(assign.values.forall(c => c >= 0 && c < 4))
  }

  // ---- multimodal -----------------------------------------------------------

  test("multimodal: stub decode features are deterministic and byte-exact") {
    val media = Multimodal.mediaFromDocuments(
      docs(1L -> "abc", 2L -> "hello world", 3L -> "").toDF())
      .as[Multimodal.MediaRow]
    val feats = Multimodal.extractFeatures(media).collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).n_bytes == 3)
    assert(feats(1L).mean_byte == ('a' + 'b' + 'c') / 3.0)
    assert(feats(1L).histogram.sum == 3)
    assert(feats(3L).n_bytes == 0 && feats(3L).mean_byte == 0.0)
    val frames = Multimodal.sampleFrames(media, frameSize = 4, stride = 3).collect()
    val f2 = frames.filter(_.doc_id == 2L)
    assert(f2.length == 3) // 11 bytes → offsets 0,3,6
    assert(new String(f2(0).frame_bytes) == "hell")
  }

  // ---- sampling / splits ------------------------------------------------------

  test("stratified sample: PQ aggregate ≡ rank window; invariant across partitionings") {
    import graft.operators.StratifiedSample
    // Zipf-ish strata: 's0' holds 70 of 100 keys (the hot stratum the
    // bounded PQ exists for)
    val d = (1L to 100L).map(k => (k, if (k <= 70) "s0" else s"s${k % 3 + 1}"))
      .toDF("doc_id", "lang")
    def run(parts: Int) = StratifiedSample.stratifiedTopK(
        d.repartition(parts), col("lang"), col("doc_id"),
        StratifiedSample.hashPri(col("doc_id")), k = 5)
      .select("stratum", "key", "sample_rank")
      .as[(String, Long, Int)].collect().sortBy(r => (r._1, r._3))
    val a = run(1); val b = run(7)
    assert(a.sameElements(b), "sample depends on partitioning")
    // reference semantics: rank window over the same priority
    import org.apache.spark.sql.expressions.Window
    val ref = d.withColumn("pri", StratifiedSample.hashPri(col("doc_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("pri"), col("doc_id"))))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("doc_id"), col("rn").cast("int"))
      .as[(String, Long, Int)].collect().sortBy(r => (r._1, r._3))
    assert(a.sameElements(ref), "PQ aggregate diverges from window reference")
    assert(a.count(_._1 == "s0") == 5) // hot stratum capped at k
    // a different seed yields a different (still size-capped) sample
    val seeded = StratifiedSample.stratifiedTopK(
        d, col("lang"), col("doc_id"),
        StratifiedSample.hashPri(col("doc_id"), seed = 42L), k = 5)
      .select("key").as[Long].collect().toSet
    assert(seeded != a.map(_._2).toSet, "seed had no effect")
  }

  test("hash split: deterministic, append-stable, fractions honored, bad config rejected") {
    import graft.operators.StratifiedSample
    val fr = Seq(("train", 700), ("valid", 900), ("test", 1000))
    val d = (1L to 2000L).toDF("doc_id")
    val s1 = StratifiedSample.hashSplit(d, col("doc_id"), fr)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // rerun + append: original keys keep their assignment (leakage-free)
    val s2 = StratifiedSample.hashSplit(
        (1L to 3000L).toDF("doc_id"), col("doc_id"), fr)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1.forall { case (k, v) => s2(k) == v }, "append changed assignments")
    val n = s1.size.toDouble
    val frac = s1.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(math.abs(frac("train") - 0.7) < 0.05, s"train frac ${frac("train")}")
    assert(math.abs(frac("valid") - 0.2) < 0.05, s"valid frac ${frac("valid")}")
    intercept[IllegalArgumentException] {
      StratifiedSample.hashSplit(d, col("doc_id"), Seq(("train", 500)))
    }
    intercept[IllegalArgumentException] {
      StratifiedSample.hashSplit(d, col("doc_id"),
        Seq(("a", 900), ("b", 800), ("c", 1000)))
    }
  }

  test("repetition-prims kernel ≡ declarative HOF twin (q53 oracle contract)") {
    val corpus = Seq(
      (1L, "spam spam spam spam spam"),                       // one token dominates
      (2L, "buy now buy now buy now limited offer"),          // repeated bigram
      (3L, "each word appears exactly once here today"),      // no repetition
      (4L, "solo"),                                           // single token, no bigrams
      (5L, ""),                                               // empty
      (6L, "   "),                                            // whitespace-only
      (7L, "a b a b a c a b"),                                // mixed uni/bi repetition
      (8L, null.asInstanceOf[String]))                        // null propagates
      .toDF("doc_id", "text")
    val k = corpus.select(col("doc_id"),
      TextAnalysis.repetition_prims_udf(col("text")).as("p"))
      .as[(Long, Array[Long])].collect().toMap
    val d = corpus.select(col("doc_id"),
      TextAnalysis.repetitionPrims(col("text")).as("p"))
      .as[(Long, Array[Long])].collect().toMap
    for (id <- 1L to 8L)
      assert(java.util.Arrays.equals(k(id), d(id)),
        s"doc $id: kernel ${Option(k(id)).map(_.toSeq)} != declarative ${Option(d(id)).map(_.toSeq)}")
    // spot-check the arithmetic: doc 1 = 5 tokens all "spam", 4 dup bigrams
    assert(k(1L).toSeq == Seq(5L, 5L, 4L, 4L, 4L))
    // doc 7: 8 tokens, "a"×4; 7 bigrams, "a b"×3, "b a"×2 → dup occ 5
    assert(k(7L).toSeq == Seq(8L, 4L, 7L, 3L, 5L))
    assert(k(8L) == null && d(8L) == null)
  }

  test("curation pipeline: junk filtered, dups collapsed, split leak-free; kernels ≡ declarative") {
    import graft.operators.{CurateConfig, CuratePipeline}
    val good = (1 to 12).map { i =>
      // enough English markers to classify AND clear the quality stop-term
      (i.toLong, s"the quick item $i and the other of to in the end " +
        s"word${i}a word${i}b word${i}c word${i}d word${i}e")
    }
    val corpus = docs((good ++ Seq(
      (101L, good(0)._2),                                  // exact dup of 1
      (102L, good(1)._2 + " and the tail"),                // near dup of 2 (J ≈ 0.83)
      (201L, "spam spam spam spam spam spam spam spam"),   // repetition junk
      (202L, "palabras sin marcadores reconocibles aqui"), // 'und' lang
      (203L, "1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9 0"))  // digit junk
    ): _*)
    val cfg = CurateConfig(minQuality = 0.3, maxTopUnigramFrac = 0.4)
    val out = CuratePipeline.curate(corpus, cfg)
      .select("doc_id", "lang_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    spark.catalog.clearCache()
    val ids = out.map(_._1).toSet
    assert(!ids.contains(201L) && !ids.contains(202L) && !ids.contains(203L),
      s"junk docs must be filtered: $ids")
    assert(!ids.contains(101L), "exact dup must lose to min id 1")
    assert(!ids.contains(102L), "near dup must lose to min id 2")
    assert(ids.contains(1L) && ids.contains(2L), s"representatives must survive: $ids")
    assert(out.forall(_._2 == "en"), s"survivors must be lang-tagged: ${out.toSeq}")

    // whole-pipeline kernel ≡ declarative parity
    val decl = CuratePipeline.curate(corpus, cfg.copy(kernels = false))
      .select("doc_id", "lang_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    spark.catalog.clearCache()
    assert(out.sortBy(_._1).toSeq == decl.sortBy(_._1).toSeq,
      "kernel and declarative pipelines diverged")

    // opt-in decontamination: a bench set sharing a shingle with doc 3
    // (and only doc 3 — its unique word tail) removes exactly that doc
    val bench = docs(900L -> "word3a word3b word3c")
    val dec = CuratePipeline.curate(corpus, cfg, bench = Some(bench))
      .select("doc_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    assert(!dec.contains(3L), s"leaking doc 3 must be decontaminated: $dec")
    assert(dec == ids - 3L, s"only doc 3 may be dropped: ${ids.diff(dec)}")

    // opt-in PII scrub runs BEFORE the quality gate: a digit-heavy PII doc
    // fails the gate raw (digit penalty) but passes once the phones become
    // sentinel tokens. Self-calibrating: the threshold is set between the
    // measured raw and redacted scores, so the assertion tracks the quality
    // formula instead of hardcoding its constants.
    val piiText = good(3)._2 +
      " 555-111-2222 555-333-4444 555-555-6666 555-777-8888 555-999-0000"
    val Seq(qRaw, qRed) = docs(1L -> piiText)
      .select(TextAnalysis.qualityScore($"text"),
        TextAnalysis.qualityScore(TextAnalysis.redactPii($"text")))
      .as[(Double, Double)].head() match { case (a, b) => Seq(a, b) }
    assert(qRed > qRaw, s"redaction must raise the digit-penalized score: $qRaw vs $qRed")
    val c2 = cfg.copy(minQuality = (qRaw + qRed) / 2)
    val noScrub = CuratePipeline.curate(docs(5L -> piiText), c2)
      .select("doc_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    assert(noScrub.isEmpty, s"raw PII doc must fail the quality gate: $noScrub")
    val scrub = CuratePipeline.curate(docs(5L -> piiText), c2.copy(redactPii = true))
      .select("doc_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    assert(scrub == Set(5L), s"scrubbed doc must pass the gate: $scrub")
  }

  // ---- dup-cluster resolution (connected components) -----------------------

  test("connected components ≡ union-find reference; invariant across partitionings") {
    // two cliques joined by a bridge, a 5-chain, one isolated pair
    val pairs: Seq[(Long, Long)] =
      (for { a <- 10L to 13L; b <- 10L to 13L if a < b } yield (a, b)) ++
      (for { a <- 20L to 23L; b <- 20L to 23L if a < b } yield (a, b)) ++
      Seq((13L, 20L)) ++                       // bridge: both cliques = one component
      Seq((30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L)) ++
      Seq((40L, 41L)) ++
      Seq((41L, 40L), (10L, 11L))              // reversed + duplicate inputs
    val expected = DupClusters.componentsReference(pairs)
    for (np <- Seq(1, 7)) {
      val got = DupClusters.connectedComponents(pairs.toDF("id_a", "id_b").repartition(np))
      val m = got.as[(Long, Long)].collect().toMap
      got.unpersist()
      assert(m == expected, s"np=$np: $m != $expected")
    }
  }

  test("connected components: 512-node path converges in O(log n) rounds, not diameter") {
    // a path is the adversarial case for label propagation (needs 511
    // rounds); large-star/small-star must close it in ≤ maxIters=12
    val pairs = (0L until 511L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = DupClusters.connectedComponents(pairs, maxIters = 12)
    val comps = got.select("component").distinct().as[Long].collect()
    val n = got.count()
    got.unpersist()
    assert(comps.toSeq == Seq(0L), s"path must collapse to component 0, got ${comps.toSeq}")
    assert(n == 512L)
  }

  test("connected components: releasing the result frees every block the call pinned") {
    // a 64-node path takes several large-star/small-star iterations, each
    // truncating a fresh edge frame
    val sc = spark.sparkContext
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val before = sc.getPersistentRDDs.keySet
    val got = DupClusters.connectedComponents(pairs)
    assert(got.count() == 64L)
    got.unpersist() // the caller's half of the contract
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"connectedComponents left ${leaked.size} persisted RDDs: $leaked")
  }

  test("dupClusters: min-id representative, sizes, transitive closure of LSH pairs") {
    // A~B and B~C emitted, (A,C) never — the cluster step must still merge
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val cl = DupClusters.dupClusters(pairs)
    val rows = cl.as[(Long, Long, Long, Boolean)].collect().toSet
    cl.unpersist()
    assert(rows == Set(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (3L, 1L, 3L, false),
      (7L, 7L, 2L, true), (9L, 7L, 2L, false)))
  }

  test("dedupByPairs keeps unpaired docs and one representative per cluster") {
    val d = docs(
      1L -> "alpha beta gamma delta epsilon one",
      2L -> "alpha beta gamma delta epsilon two",
      3L -> "alpha beta gamma delta epsilon three",
      4L -> "totally unrelated content about something else entirely",
      5L -> "lone document with no duplicate partner anywhere")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = DupClusters.dedupByPairs(d, pairs).select("doc_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    assert(kept == Set(1L, 4L, 5L))
  }

  test("dupClusters over real minhash pairs: exact-dup triple is one cluster") {
    val cl = DupClusters.dupClusters(
      Dedup.minhashNearDupPairs(dupCorpus, k = 32, bands = 8, minJ = 0.5))
    val byCluster = cl.as[(Long, Long, Long, Boolean)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    cl.unpersist()
    // dupCorpus: docs 1,2,5 normalized-identical (and 3 a near-dup of them)
    val c1 = byCluster(1L)
    assert(Set(1L, 2L, 5L).subsetOf(c1), s"exact dups split across clusters: $byCluster")
  }

  // ---- corpus overlap: decontamination / boilerplate ------------------------

  test("decontaminate: shingle overlap with the bench set flags exactly the leaking docs") {
    val train = docs(
      1L -> "a b c d e",   // shares shingle "b c d" with bench
      2L -> "x y z w",     // no overlap
      3L -> "p q r",       // no overlap
      4L -> "b c")         // <3 words: whole text is the shingle; bench has it
    val bench = docs(100L -> "b c d q q", 101L -> "b c")
    val out = Dedup.decontaminate(train, bench)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1L, true)), s"doc 1 shares 'b c d': $out")
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((0L, false)))
    assert(out(4L) == ((1L, true)), s"short-doc whole-text shingle must match: $out")
    assert(out.size == 4, "every train doc reports, including zero-hit docs")
  }

  test("boilerplate: corpus-frequency shingles flagged at the permille threshold") {
    // "the cookie banner" appears in 6 of 10 docs; unique tails do not repeat
    val d = docs((1L to 10L).map { i =>
      val base = if (i <= 6) "the cookie banner " else ""
      i -> s"${base}unique$i tail$i words$i here$i"
    }: _*)
    // permille 500 of 10 docs → threshold ceil(5.0) = 5 → flagged
    val out = Dedup.boilerplateStats(d, minDocPermille = 500)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // docs 1-6 carry 5 shingles each; only "the cookie banner" repeats
    // across docs (every other 3-gram contains a per-doc unique token)
    (1L to 6L).foreach { i =>
      assert(out(i)._3 == 1L, s"doc $i should have exactly 1 boilerplate shingle: ${out(i)}")
      assert(out(i)._4 > 0.0 && out(i)._4 < 1.0)
    }
    (7L to 10L).foreach { i =>
      assert(out(i)._3 == 0L && out(i)._4 == 0.0, s"clean doc $i flagged: ${out(i)}")
    }
    // raising the threshold above 6 docs unflags everything
    val strict = Dedup.boilerplateStats(d, minDocPermille = 700)
      .agg(sum($"n_boilerplate")).as[Long].head()
    assert(strict == 0L)
  }

  // ---- PII scrub --------------------------------------------------------------

  test("pii: counts and typed-sentinel redaction on handcrafted PII text") {
    val d = docs(
      1L -> "write to jane.doe+x@example.org or 10.0.0.1 call 555-123-4567",
      2L -> "no pii here just words",
      3L -> "mails a@b.io c_d%e@f-g.co and 999-999-9999 and 1.2.3.4 5.6.7.8")
    val out = d.select($"doc_id" +: TextAnalysis.piiCounts($"text") :+
        TextAnalysis.redactPii($"text").as("red"): _*)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, 1L, 1L,
      "write to <EMAIL> or <IP> call <PHONE>")), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((2L, 0L, 0L, 0L, "no pii here just words")))
    assert(out(3L) == ((3L, 2L, 2L, 1L,
      "mails <EMAIL> <EMAIL> and <PHONE> and <IP> <IP>")), s"doc 3: ${out(3L)}")
  }

  // ---- segment-level exact dedup ----------------------------------------------

  test("segment dedup: first-occurrence wins, intra-doc repeats collapse, order kept") {
    val d = docs(
      1L -> "a b c d e f",  // segWords=2 → "a b" | "c d" | "e f"
      2L -> "c d x y",      // "c d" already owned by doc 1 → keeps "x y"
      3L -> "z z z z",      // intra-doc repeat: only the first instance survives
      4L -> "a b c d e f")  // full copy of doc 1 → keeps nothing
    val run = Dedup.segmentDedup(d, segWords = 2)
      .as[(Long, Long, Long, Double, String)].collect().map(r => r._1 -> r).toMap
    assert(run(1L) == ((1L, 3L, 3L, 1.0, "a b c d e f")), s"doc 1: ${run(1L)}")
    assert(run(2L) == ((2L, 2L, 1L, 0.5, "x y")), s"doc 2: ${run(2L)}")
    assert(run(3L) == ((3L, 2L, 1L, 0.5, "z z")), s"doc 3: ${run(3L)}")
    assert(run(4L) == ((4L, 3L, 0L, 0.0, "")), s"full copy must keep nothing: ${run(4L)}")
    // determinism: the arbitration is a total order, not partition luck
    val re = Dedup.segmentDedup(d.repartition(7), segWords = 2)
      .as[(Long, Long, Long, Double, String)].collect().map(r => r._1 -> r).toMap
    assert(re == run, "segment dedup must be partitioning-invariant")
  }

  // ---- token-budget domain mix ----------------------------------------------

  test("token budget sample: histogram-quota ≡ naive window across bucket counts and partitionings") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.StratifiedSample
    val rows = (1L to 300L).map { k =>
      (Seq("a", "b", "c")(((k * 13) % 3).toInt), k, (k * 7) % 13 + 1)
    }.toDF("src", "key", "w")
    val budgets = Map("a" -> 120L, "b" -> 55L)
    val naive = {
      val p = rows.withColumn("pri", StratifiedSample.hashPri($"key"))
      val cum = sum($"w").over(Window.partitionBy($"src").orderBy($"pri", $"key"))
      val b = coalesce(element_at(typedLit(budgets), $"src"), lit(90L))
      p.withColumn("cum", cum).filter($"cum" <= b)
        .select($"src", $"key").as[(String, Long)].collect().toSet
    }
    assert(naive.nonEmpty && naive.size < 300, s"test data must actually cut: ${naive.size}")
    for (nB <- Seq(1, 7, 64, 4096); parts <- Seq(1, 17)) {
      val got = StratifiedSample.tokenBudgetSample(
          rows.repartition(parts), $"src", $"key", $"w",
          defaultBudget = 90L, budgets = budgets, nBuckets = nB)
        .select($"stratum", $"key").as[(String, Long)].collect().toSet
      assert(got == naive, s"nBuckets=$nB parts=$parts: ${got.diff(naive)} / ${naive.diff(got)}")
    }
    // budget is a hard ceiling per stratum
    val kept = StratifiedSample.tokenBudgetSample(
        rows, $"src", $"key", $"w", defaultBudget = 90L, budgets = budgets)
      .groupBy($"stratum").agg(sum($"w").as("tot"))
      .as[(String, Long)].collect().toMap
    assert(kept("a") <= 120L && kept("b") <= 55L && kept("c") <= 90L, s"budget exceeded: $kept")
  }

  // ---- k-means / semdedup ----------------------------------------------------

  /** Sequential Lloyd's reference — same init (k lowest ids), same integer
    * arithmetic (exact squared-L2, floored integer mean, empty cells keep
    * their centroid), driver-side. */
  private def seqKmeans(
      vecs: Seq[(Long, Array[Float])], k: Int, iters: Int): Map[Long, (Int, Long)] = {
    val q = vecs.map { case (id, v) => id -> v.map(x => math.round(x.toDouble * 1000)) }
    var cents = q.sortBy(_._1).take(k).map(_._2.clone).toArray
    def nearest(v: Array[Long]): (Int, Long) = {
      var bc = 0; var bd = Long.MaxValue
      for (j <- cents.indices) {
        var s = 0L
        for (i <- v.indices) { val dd = v(i) - cents(j)(i); s += dd * dd }
        if (s < bd) { bd = s; bc = j }
      }
      (bc, bd)
    }
    for (_ <- 0 until iters) {
      val byCell = q.groupBy { case (_, v) => nearest(v)._1 }
      cents = cents.zipWithIndex.map { case (old, j) =>
        byCell.get(j) match {
          case Some(rows) =>
            val dim = old.length
            Array.tabulate(dim) { i =>
              Math.floorDiv(rows.map(_._2(i)).sum, rows.size.toLong)
            }
          case None => old
        }
      }
    }
    q.map { case (id, v) => id -> nearest(v) }.toMap
  }

  private def embFrame(vecs: Seq[(Long, Array[Float])]) =
    vecs.toDF("vec_id", "embedding")

  /** [[embFrame]] plus rows whose vectors may carry null components. */
  private def embFrame(vecs: Seq[(Long, Array[Float])], withNulls: Seq[(Long, Seq[Option[Float]])]) =
    vecs.toDF("vec_id", "embedding").unionByName(withNulls.toDF("vec_id", "embedding"))

  /** (corpus, k, iters, dim) → kmeansFit's result, for the kernel argmin
    * and the declarative reference. */
  private val kmeansPaths
      : Seq[(String, (org.apache.spark.sql.DataFrame, Int, Int, Int) => (Array[Array[Long]], org.apache.spark.sql.DataFrame))] =
    Seq(
      "kernel" -> ((df, k, it, dim) => Similarity.kmeansFit(df, k, it, dim = dim)),
      "declarative" -> ((df, k, it, dim) => SimilarityReference.kmeansFit(df, k, it, dim = dim)))

  test("kmeans: distributed ≡ sequential reference; invariant across partitionings") {
    // 3 planted clusters + a mild spread so iterations actually move centroids
    val bases = Vector(
      Array(1.0f, 0.0f, 0.0f, 0.0f),
      Array(0.0f, 1.0f, 0.0f, 0.0f),
      Array(0.0f, 0.0f, 1.0f, 0.1f))
    val vecs: Seq[(Long, Array[Float])] = (0L until 60L).map { id =>
      val base = bases((id % 3).toInt)
      id -> base.zipWithIndex.map { case (x, i) =>
        x + 0.003f * ((id * 7 + i * 3) % 11).toFloat
      }
    }
    val want = seqKmeans(vecs, k = 3, iters = 4)
    // kernel (JVM argmin loop) ≡ declarative (least-over-structs) ≡ the
    // sequential reference, at every partitioning
    for (parts <- Seq(1, 7); (path, fit) <- kmeansPaths) {
      val (_, assign) = fit(embFrame(vecs).repartition(parts), 3, 4, 4)
      val got = assign.select($"vec_id", $"cell", $"dist")
        .as[(Long, Int, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == want, s"parts=$parts $path: ${got.toSeq.diff(want.toSeq).take(3)}")
    }
    // a pre-quantized array<bigint> input is accepted as-is (the stored form)
    val preQ = embFrame(vecs).select($"vec_id",
      Similarity.quantize($"embedding").as("embedding"))
    val (_, assignQ) = Similarity.kmeansFit(preQ, k = 3, iters = 4, dim = 4)
    val gotQ = assignQ.select($"vec_id", $"cell", $"dist")
      .as[(Long, Int, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(gotQ == want, "pre-quantized input diverged")
    // the planted structure is actually recovered: each group lands whole
    val cells = want.toSeq.groupBy(_._1 % 3).view.mapValues(_.map(_._2._1).toSet)
    cells.foreach { case (g, cs) => assert(cs.size == 1, s"group $g split across $cs") }
    assert(cells.values.flatten.toSet.size == 3, s"groups collapsed: $cells")
  }

  test("kmeans: empty cells keep their centroid (k > distinct points)") {
    // 2 distinct points, k=4: cells 1,3 start on duplicated init vectors,
    // lose the lowest-cell tiebreak, stay empty, and must keep centroids
    val vecs = Seq[(Long, Array[Float])](
      1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(1f, 0f, 0f, 0f),
      3L -> Array(0f, 1f, 0f, 0f), 4L -> Array(0f, 1f, 0f, 0f))
    val (cents, assign) = Similarity.kmeansFit(embFrame(vecs), k = 4, iters = 3, dim = 4)
    val got = assign.select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    assert(got == seqKmeans(vecs, 4, 3).map { case (id, (c, _)) => id -> c })
    assert(cents.length == 4)
    assert(cents(1).toSeq == Seq(1000L, 0L, 0L, 0L), s"cell 1 lost its init: ${cents(1).toSeq}")
    assert(cents(3).toSeq == Seq(0L, 1000L, 0L, 0L), s"cell 3 lost its init: ${cents(3).toSeq}")
  }

  test("kmeans: null and wrong-length vectors get no cell, identically on both paths") {
    val good: Seq[(Long, Array[Float])] = (0L until 12L).map { id =>
      id -> Array.tabulate(4)(i => if (i == id % 3) 1f else 0.01f * id)
    }
    // the lowest ids, so an init that did not skip them would seed from them
    val bad = Seq[(Long, Array[Float])](
      -3L -> null, -2L -> Array(1f, 0f), -1L -> Array(1f, 0f, 0f, 0f, 1f))
    val nullComponent = Seq(-4L -> Seq(Some(1f), None, Some(0f), Some(0f)))
    val want = seqKmeans(good, k = 3, iters = 3)
    for ((path, fit) <- kmeansPaths) {
      val (_, assign) = fit(embFrame(bad ++ good, nullComponent), 3, 3, 4)
      val rows = assign.select($"vec_id", $"cell", $"dist").collect()
      val got = rows.filter(!_.isNullAt(1))
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
      assert(got == want, s"$path: an invalid vector seeded or moved a centroid")
      val noCell = rows.filter(r => r.isNullAt(1) && r.isNullAt(2)).map(_.getLong(0)).toSet
      assert(noCell == Set(-4L, -3L, -2L, -1L), s"$path: rows without a cell: $noCell")
    }
  }

  test("semdedup: same-cell near-dups drop (lowest id wins), distinct vectors survive") {
    val vecs = Seq[(Long, Array[Float])](
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0.9f, 0.1f, 0f, 0f),   // same cell, cos≈0.994 < 0.9999 → kept
      3L -> Array(0f, 1f, 0f, 0f),
      4L -> Array(1f, 0f, 0f, 0f),       // dup of 1 → dropped
      5L -> Array(0f, 1f, 0f, 0f),       // dup of 3 → dropped
      6L -> Array(0f, 0.5f, 0f, 0f))     // colinear with 3: cos=1.0 → dropped
    val kept = Similarity.semDedup(embFrame(vecs), k = 2, iters = 2,
        threshold = 0.9999, dim = 4)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"kept $kept")
    // the explicit cell-bucket layout (design-point plan) changes nothing
    val keptP = Similarity.semDedup(embFrame(vecs), k = 2, iters = 2,
        threshold = 0.9999, dim = 4, pairParts = 3)
      .select($"vec_id").as[Long].collect().toSet
    assert(keptP == kept, s"pairParts diverged: $keptP")
  }

  test("semdedup: cell-local pass ≡ self-join reference (τ ties, zero/null/short vectors, layouts)") {
    def v(xs: Float*): Array[Float] = xs.toArray
    val vecs = Seq[(Long, Array[Float])](
      0L -> v(0, 0, 0, -50),          // init centroid far from every other vector: a one-member cell
      1L -> v(0.3f, 0.4f, 0, 0),
      2L -> v(0, 0, 1, 0),
      3L -> v(0.4f, 0.3f, 0, 0),      // cosine to 1 is exactly 0.96: 240000 / (500 · 500)
      4L -> v(0, 0, 1, 0),            // exact duplicate of 2
      5L -> v(0.3f, 0.4f, 0, 0),      // exact duplicate of 1
      6L -> v(0, 0, 0, 0),            // zero vectors: cosine 0.0 to everything
      7L -> v(0, 0, 0, 0),
      8L -> v(0, 0, 0.9f, 0.2f),
      9L -> v(-0.3f, -0.4f, 0, 0),    // cosine −1 to 1
      10L -> v(0, 0, 0.5f, 0.5f),
      11L -> null, 12L -> v(1, 0), 13L -> v(1, 0, 0, 0, 1)) // no cell
    val nullComponent = Seq(14L -> Seq(Some(0.3f), None, Some(0f), Some(0f))) // no cell
    def frame = embFrame(vecs, nullComponent)
    val cellOf = Similarity.kmeansFit(frame, k = 3, iters = 2, dim = 4)._2
      .select($"vec_id", $"cell").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(cellOf(1L).isDefined && cellOf(1L) == cellOf(3L), s"the τ pair must share a cell: $cellOf")
    assert(cellOf(6L).isDefined && cellOf(6L) == cellOf(7L), s"the zero vectors must share a cell: $cellOf")
    assert(cellOf.count(_._2 == cellOf(0L)) == 1, s"vector 0 must be alone in its cell: $cellOf")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Option[Any])] =
      df.select($"vec_id", $"cell").collect().map(r => r.getLong(0) -> Option(r.get(1))).toSet
    for (tau <- Seq(0.96, 0.0)) {
      val want = rows(SimilarityReference.semDedup(frame, k = 3, iters = 2, threshold = tau, dim = 4))
      val kept = want.map(_._1)
      assert(Set(0L, 1L, 11L, 12L, 13L, 14L).subsetOf(kept), s"τ=$tau: reference kept $want")
      assert(want.filter(r => Set(11L, 12L, 13L, 14L)(r._1)).forall(_._2.isEmpty), s"τ=$tau: $want")
      if (tau == 0.96) assert(!kept(3L) && !kept(4L) && !kept(5L) && kept(6L) && kept(7L), s"τ=$tau: $want")
      else assert(!kept(7L), s"τ=0: the second zero vector must drop: $want")
      for (parts <- Seq(1, 7); pairParts <- Seq(0, 3)) {
        val got = rows(Similarity.semDedup(frame.repartition(parts), k = 3, iters = 2,
          threshold = tau, dim = 4, pairParts = pairParts))
        assert(got == want, s"τ=$tau parts=$parts pairParts=$pairParts: kernel $got, reference $want")
      }
    }
  }

  test("quantize: fused expression ≡ round-and-cast lambda (float and double, ANSI on/off, both eval paths)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def frame(elem: DataType, vecs: Seq[Seq[Any]]) = spark.createDataFrame(
      spark.sparkContext.parallelize(vecs.map(Row(_)), 2),
      StructType(Seq(StructField("v", ArrayType(elem, containsNull = true)))))
    def withConf[T](kvs: (String, String)*)(body: => T): T = {
      val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      kvs.foreach { case (k, x) => spark.conf.set(k, x) }
      try body finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    def rootArith(t: Throwable): Option[ArithmeticException] = t match {
      case null => None
      case a: ArithmeticException => Some(a)
      case o => rootArith(o.getCause)
    }
    /** Each side's collected rows, or the message of the arithmetic error it raised. */
    def outcome(df: org.apache.spark.sql.DataFrame): Either[String, Seq[Option[Seq[Any]]]] =
      scala.util.Try(df.collect().toSeq.map(r => Option(r.getSeq[Any](0)).map(_.toSeq))) match {
        case scala.util.Success(rs) => Right(rs)
        case scala.util.Failure(e) => Left(rootArith(e).map(_.getMessage).getOrElse(throw e))
      }
    val rnd = new scala.util.Random(7)
    val sweep = Seq.fill(40)(Seq.fill(64) {
      val mag = math.pow(10, rnd.nextInt(16) - 6)
      if (rnd.nextBoolean()) rnd.nextGaussian() * mag else (rnd.nextInt(2001) - 1000 + 0.5) / 1000.0
    })
    val floats = frame(FloatType, Seq(
      Seq(0.5f, 1.5f, 2.5f, -0.5f, -1.5f, -2.5f, 0.49999997f, -0.49999997f, 0.0025f, -0.0025f,
        0.0f, -0.0f, 123.456f, -987.654f, 1e-8f, Float.MinPositiveValue, 3.0e12f, -3.0e12f),
      Seq(0.25f, null, -0.75f),
      null) ++ sweep.map(_.map(_.toFloat)))
    val doubles = frame(DoubleType, Seq(
      Seq(0.5, 2.5, -2.5, 0.0025, -0.0025, 0.49999999999999994, -0.49999999999999994,
        4503599627370495.5, -4503599627370495.5, 9007199254740993.0, 1e-300, -0.0),
      Seq(null, 1.0005),
      null) ++ sweep)
    val special: Seq[(DataType, Any)] =
      Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, 1e17f).map(x => (FloatType: DataType) -> x) ++
      Seq(Double.NaN, 9.223372036854775807e18, 9.3e18, -9.223372036854775808e18, -9.3e18)
        .map(x => (DoubleType: DataType) -> x)
    for (ansi <- Seq("true", "false"); mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
      withConf("spark.sql.ansi.enabled" -> ansi, "spark.sql.codegen.factoryMode" -> mode) {
        for ((name, df) <- Seq("float" -> floats, "double" -> doubles); scale <- Seq(1, 1000)) {
          val want = outcome(df.select(SimilarityReference.quantize(col("v"), scale)))
          val got = outcome(df.select(Similarity.quantize(col("v"), scale)))
          assert(want.isRight, s"$name scale=$scale ansi=$ansi: $want")
          assert(got == want, s"$name scale=$scale ansi=$ansi mode=$mode: ${got.toString.take(300)}")
        }
        for ((elem, x) <- special; scale <- Seq(1, 1000)) {
          val df = frame(elem, Seq(Seq(x)))
          val want = outcome(df.select(SimilarityReference.quantize(col("v"), scale)))
          val got = outcome(df.select(Similarity.quantize(col("v"), scale)))
          assert(got == want, s"$x scale=$scale ansi=$ansi mode=$mode: fused $got, lambda $want")
          if (ansi == "true" && (x == 9.3e18 || (x == 1e17f && scale == 1000)))
            assert(want.isLeft, s"$x scale=$scale: no overflow error")
        }
      }
  }

  test("curate: opt-in OOV gate drops the gibberish doc; off by default it survives") {
    import graft.operators.{CurateConfig, CuratePipeline}
    // 20 docs over a shared vocabulary + one all-rare-token junk doc; other
    // gates neutralized so the OOV stage alone decides
    val base = (1L to 20L).map(i =>
      i -> s"the quick brown fox $i runs to the big house and the green hills")
    val d = docs(base :+ (99L -> "qzx wvu plk mnb tyu asd fgh jkl zxc vbn"): _*)
    val cfg = CurateConfig(dropUnknownLang = false, minQuality = 0.0,
      maxTopUnigramFrac = 1.0, maxDupBigramFrac = 1.0)
    val off = CuratePipeline.curate(d, cfg).select($"doc_id").as[Long].collect().toSet
    assert(off.contains(99L), s"gate off: junk doc must survive ($off)")
    val on = CuratePipeline.curate(d,
        cfg.copy(maxOovPermille = Some(500), oovVocabSize = 16))
      .select($"doc_id").as[Long].collect().toSet
    assert(!on.contains(99L), s"gate on: junk doc must drop ($on)")
    // the gate drops exactly the junk doc here (base docs are ≤71‰ OOV),
    // so the rest of the pipeline must be untouched
    assert(on == off - 99L, s"gate must remove only the junk doc: $on vs $off")
  }

  // ---- incremental dedup --------------------------------------------------------

  test("incremental near-dup ≡ full run filtered to the batch; old×old excluded; cap interacts like the full run") {
    val old = docs(
      1L -> "the quick brown fox jumps over the lazy dog again and again today",
      2L -> "completely different content about spark catalyst optimizer rules",
      3L -> "junk junk junk junk junk junk junk junk junk junk",
      4L -> "another unrelated document mentioning minhash banding and shingles",
      5L -> "the quick brown fox jumps over the lazy dog again and again today", // old×old dup of 1
      6L -> "junk junk junk junk junk junk junk junk junk junk")
    val fresh = docs(
      11L -> "the quick brown fox jumps over the lazy dog again and again now", // near-dup of 1/5
      12L -> "junk junk junk junk junk junk junk junk junk junk",               // dup of 3/6
      13L -> "the quick brown fox jumps over the lazy dog again and again now", // new×new dup of 11
      14L -> "totally novel text that matches nothing else in the corpus")
    val all = old.unionByName(fresh)
    val full = Dedup.minhashNearDupPairs(all, k = 32, bands = 8, minJ = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val touch = full.filter { case (a, b) => a >= 11L || b >= 11L }
    assert(full.contains((1L, 5L)) && !touch.contains((1L, 5L)),
      "fixture must exercise an old×old pair the incremental run skips")
    assert(touch.exists { case (a, b) => a >= 11L && b >= 11L }, "need a new×new pair")
    assert(touch.exists { case (a, b) => a < 11L && b >= 11L }, "need a new×old pair")
    val inc = Dedup.incrementalNearDupPairs(old, fresh, k = 32, bands = 8, minJ = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(inc == touch, s"${inc.diff(touch)} / ${touch.diff(inc)}")
    // bucketCap counts the UNION's population in both pipelines: with cap=2
    // the junk bucket (3 members) drops from BOTH, the 2-member buckets stay
    val sigsAll = Dedup.minhashSignatures(all, 32)
    val fullC = Dedup.lshCandidatePairs(sigsAll, 8, 4, bucketCap = 2)
      .as[(Long, Long)].collect().toSet
    val incC = Dedup.incrementalCandidatePairs(
        Dedup.minhashSignatures(fresh, 32), Dedup.minhashSignatures(old, 32),
        8, 4, bucketCap = 2)
      .as[(Long, Long)].collect().toSet
    assert(incC == fullC.filter { case (a, b) => a >= 11L || b >= 11L },
      s"capped equivalence broke: $incC vs $fullC")
    assert(!fullC.exists { case (a, b) => Set(3L, 6L, 12L)(a) && Set(3L, 6L, 12L)(b) },
      "cap=2 must drop the 3-member junk bucket from the full run too")
  }

  // ---- blocklist --------------------------------------------------------------

  test("blocklist: subdomain-aware, case-folded; col / join / filter shapes agree") {
    import graft.urls.Blocklist
    val hosts = Seq("example.com", "a.b.example.com", "notexample.com",
      "EXAMPLE.com", "evil.org", "sub.evil.org", "org", "com.example").toDF("host")
    val list = Seq("Example.COM", "evil.org")
    val wantBlocked = Set("example.com", "a.b.example.com", "EXAMPLE.com",
      "evil.org", "sub.evil.org")
    val viaCol = hosts.filter(Blocklist.blockedCol($"host", list))
      .as[String].collect().toSet
    assert(viaCol == wantBlocked, s"blockedCol: $viaCol")
    val bdf = list.toDF("domain")
    val viaJoin = Blocklist.matchBlocked(hosts, $"host", bdf)
      .select($"host").as[String].collect().toSet
    assert(viaJoin == wantBlocked, s"matchBlocked: $viaJoin")
    val viaFilter = Blocklist.filterBlocked(hosts, $"host", bdf)
      .as[String].collect().toSet
    assert(viaFilter == Set("notexample.com", "org", "com.example"), s"filterBlocked: $viaFilter")
  }

  // ---- sequence packing ---------------------------------------------------------

  test("seq pack: hand-derived manifest; chunks exactly L except last; spans tile docs; partition-invariant") {
    import graft.operators.SeqPack
    // token counts: 3, 4, 6, 2 (doc 4 is null → no span); L=4
    // stream offsets: d1@0(3), d2@3(4), d3@7(6), d5@13(2) — total 15
    // chunk 0 = d1[0,3)+d2[0,1) ; chunk 1 = d2[1,4)+d3[0,1) ;
    // chunk 2 = d3[1,5) ; chunk 3 = d3[5,6)+d5[0,2) (last, 3 toks)
    val d = docs(
      1L -> "a b c",
      2L -> "d e f g",
      3L -> "h i j k l m",
      4L -> null.asInstanceOf[String],
      5L -> "n o")
    val want = Set(
      (0L, 1L, 0L, 3L), (0L, 2L, 0L, 1L),
      (1L, 2L, 1L, 3L), (1L, 3L, 0L, 1L),
      (2L, 3L, 1L, 4L),
      (3L, 3L, 5L, 1L), (3L, 5L, 0L, 2L))
    for (parts <- Seq(1, 5)) {
      val (manifest, pin) = SeqPack.packManifest(d.repartition(parts), seqLen = 4, numPartitions = 3)
      val got = manifest.select($"chunk_id", $"doc_id", $"doc_from", $"n_toks")
        .as[(Long, Long, Long, Long)].collect().toSet
      pin.unpersist()
      assert(got == want, s"parts=$parts: ${got.diff(want)} / ${want.diff(got)}")
    }
    // invariants on a bigger frame: chunk sums = L except the last chunk;
    // per-doc spans tile the doc exactly
    val big = docs((1L to 100L).map(i =>
      i -> Seq.fill((i % 17 + 1).toInt)("w").mkString(" ")): _*)
    val (bigManifest, bigPin) = SeqPack.packManifest(big, seqLen = 32)
    val m = bigManifest.select($"chunk_id", $"doc_id", $"doc_from", $"n_toks")
      .as[(Long, Long, Long, Long)].collect()
    bigPin.unpersist()
    val total = (1L to 100L).map(i => i % 17 + 1).sum
    val lastChunk = (total - 1) / 32
    m.groupBy(_._1).foreach { case (c, spans) =>
      val s = spans.map(_._4).sum
      if (c < lastChunk) assert(s == 32L, s"chunk $c carries $s tokens")
      else assert(s == total - lastChunk * 32, s"last chunk $c carries $s")
    }
    m.groupBy(_._2).foreach { case (doc, spans) =>
      val t = doc % 17 + 1
      assert(spans.map(_._4).sum == t, s"doc $doc spans don't tile: $spans")
      val sorted = spans.sortBy(_._3)
      assert(sorted.head._3 == 0L && sorted.map(s => s._3 + s._4).init.toSeq ==
        sorted.map(_._3).tail.toSeq, s"doc $doc spans not contiguous: $sorted")
    }
  }

  // ---- corpus n-gram stats ------------------------------------------------------

  test("source quality gate: a bad source drops whole — including its one decent doc") {
    val clean = "The quick brown fox jumps over the lazy dog and runs to the hills " +
      "in a day of sun with many more words that read like an actual document for people."
    val d = Seq(
      (1L, "good", clean),
      (2L, "good", clean + " And a second sentence keeps the ratios healthy."),
      (3L, "farm", "1234 5678 90!!!! ???? 00 11 22"),
      (4L, "farm", "9999 8888 @@@@ #### 77 66"),
      (5L, "farm", clean)) // the farm's one decent page
      .toDF("doc_id", "source", "text")
    val stats = TextAnalysis.sourceQualityStats(d, $"source", $"text")
      .select($"source", $"n_docs", $"avg_quality_permille")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stats("good")._1 == 2L && stats("farm")._1 == 3L)
    assert(stats("good")._2 > stats("farm")._2,
      s"good source must out-score the farm: $stats")
    val thr = (stats("good")._2 + stats("farm")._2) / 2
    val kept = TextAnalysis.filterLowQualitySources(d, $"source", $"text", minAvgPermille = thr)
      .select($"doc_id").as[Long].collect().toSet
    // doc 5 is individually fine but its SOURCE fails the gate — the
    // whole-domain semantics this operator exists for
    assert(kept == Set(1L, 2L), s"kept $kept")
  }

  test("rare tokens: corpus-derived vocab, deterministic tie cut, floored permille") {
    val d = docs(
      1L -> "a a b c",
      2L -> "a b",
      3L -> "z z q",
      4L -> null.asInstanceOf[String])
    // counts: a=3, b=2, z=2, c=1, q=1; top-2 by (cnt desc, tok asc) = {a, b}
    // (z loses the cnt=2 tie to b alphabetically — the cut must be stable)
    val out = TextAnalysis.rareTokenStats(d, $"doc_id", $"text", vocabSize = 2)
      .select($"doc_id", $"n_tokens", $"n_oov", $"oov_permille")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out == Map(
      1L -> ((4L, 1L, 250L)),   // c is OOV: 1000*1/4
      2L -> ((2L, 0L, 0L)),
      3L -> ((3L, 3L, 1000L))), // z,z,q all OOV
      s"got $out")               // doc 4 (null text) contributes no row
  }

  test("ngram counts: handcrafted uni/bi/tri-gram frequencies; null and short rows drop") {
    val d = docs(
      1L -> "a  B a b c",  // normText folds case and runs of whitespace
      2L -> "a b",
      3L -> null.asInstanceOf[String],
      4L -> "x")
    def counts(n: Int) = TextAnalysis.ngramCounts(d, $"text", n)
      .as[(String, Long)].collect().toMap
    assert(counts(2) == Map("a b" -> 3L, "b a" -> 1L, "b c" -> 1L))
    assert(counts(1) == Map("a" -> 3L, "b" -> 3L, "c" -> 1L, "x" -> 1L))
    assert(counts(3) == Map("a b a" -> 1L, "b a b" -> 1L, "a b c" -> 1L))
  }
}
