package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  private def df1(text: String) = Seq(Tuple1(text)).toDF("text")

  test("tokens lowercase and drop empties") {
    val t = df1("  Hello   WORLD foo ").select(TextOps.tokens(col("text"))).head.getSeq[String](0)
    assert(t == Seq("hello", "world", "foo"))
  }

  test("shingles: n-grams in order; short docs yield empty (sequence guard)") {
    val sh = df1("a b c d").select(TextOps.shingles(TextOps.tokens(col("text")), 3)).head.getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val short = df1("a b").select(TextOps.shingles(TextOps.tokens(col("text")), 3)).head.getSeq[String](0)
    assert(short.isEmpty)
  }

  test("shingleRows matches the shingleSet expression (parity, distinct + counted)") {
    val docs = Seq((1L, "a b c d a b c"), (2L, "x y"), (3L, "q")).toDF("doc_id", "text")
    val fromExpr = docs
      .select(col("doc_id"), explode(TextOps.shingleSet(col("text"), 3)).as("s"))
      .as[(Long, String)].collect().toSet
    val fromRows = TextOps.shingleRows(docs, 3, distinctSet = true)
      .as[(Long, String)].collect().toSet
    assert(fromRows == fromExpr)
    // counted form keeps duplicates ("a b c" appears twice in doc 1)
    val counted = TextOps.shingleRows(docs, 3, distinctSet = false)
      .filter(col("doc_id") === 1L).as[(Long, String)].collect()
    assert(counted.count(_._2 == "a b c") == 2)
  }

  test("sparseJaccardPairs matches the dense blocked join on overlapping pairs") {
    val docs = Seq(
      (1L, "a b c d e", "s1"), (2L, "a b c d x", "s1"), (3L, "p q r s t", "s1"),
      (4L, "a b c d e", "s2")).toDF("doc_id", "text", "source")
    val dense = Dedup.ngramJaccardPairs(docs, "source", 3)
      .filter(col("jaccard") >= 0.05)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val sparse = Dedup.sparseJaccardPairs(docs, "source", 3, minJaccard = 0.05)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(sparse == dense)
    assert(sparse == Set((1L, 2L, 0.5)))
  }

  test("simhash64FromHashes over xxhash64 token hashes equals the codegen simhash64") {
    // the decoupled vote loop is the SAME function of the hash stream as
    // the codegen kernel — feeding it xxhash64 per token must reproduce
    // simhash64 bit for bit on the fixture corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val cmp = docs.select(
      TextOps.simhash64(col("toks")).as("fast"),
      TextOps.simhash64FromHashes(transform(col("toks"), t => xxhash64(t))).as("decoupled"))
    assert(cmp.filter(col("fast") =!= col("decoupled")).isEmpty)
  }

  test("codegen portableSimhash64 equals the HOF composition it replaces") {
    // kernel (one primitive fold+vote pass) vs the semantic reference
    // simhash64FromHashes(transform(toks, tokenHashPortable60)) — the
    // chain the d04 oracle mirrors arithmetically
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
    val cmp = docs.select(
      TextOps.portableSimhash64(col("toks")).as("fast"),
      TextOps.simhash64FromHashes(
        transform(col("toks"), t => TextOps.tokenHashPortable60(t))).as("hof"))
    assert(cmp.filter(col("fast") =!= col("hof")).isEmpty)
  }

  test("tokenHashPortable60 stays below 2^60, so derived simhashes never set bits 60-63") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(TextOps.tokens(col("text"))).as("t"))
    val h = docs.select(TextOps.tokenHashPortable60(col("t")).as("h"))
    assert(h.filter(col("h") < 0L || col("h") >= (1L << 60)).isEmpty)
  }

  test("sparseJaccardPairs PPJoin plan (high threshold) matches the dense blocked join") {
    // minJaccard ≥ 0.2 routes through the prefix-candidates + verify plan;
    // a brute-force dense join over the same blocks is the ground truth.
    // Docs are sized so prefixes genuinely truncate (α ≥ 2) and include a
    // same-size near-identical pair, a banded-out size mismatch, and an
    // unrelated doc.
    val docs = Seq(
      (1L, "a b c d e f g h i j", "s1"),
      (2L, "a b c d e f g h i k", "s1"),
      (3L, "p q r s t u v w x y", "s1"),
      (4L, "a b c", "s1"),
      (5L, "a b c d e f g h i j", "s2")).toDF("doc_id", "text", "source")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val dense = Dedup.ngramJaccardPairs(docs, "source", 2)
        .filter(col("jaccard") >= t)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      val sparse = Dedup.sparseJaccardPairs(docs, "source", 2, minJaccard = t)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(sparse == dense, s"threshold $t")
    }
    // the pair that survives t=0.8: docs 1/2 share 8 of 9 bigrams (J = 0.8)
    val high = Dedup.sparseJaccardPairs(docs, "source", 2, minJaccard = 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(high == Set((1L, 2L)))
  }

  test("PPJoin plan is output-preserving on a dense random corpus (property)") {
    // 60 seeded docs over an 8-word vocabulary: heavy shingle collisions,
    // many borderline pairs — the regime where a buggy prefix bound or
    // size band would actually drop a qualifying pair. Dense blocked join
    // = ground truth; exact set equality required at both thresholds.
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    def lcg(s: Long): Long = (s * 6364136223846793005L + 1442695040888963407L)
    val docs = (0 until 60).map { id =>
      var st = lcg(id.toLong + 99L)
      val len = 6 + (math.abs(st) % 10).toInt
      val words = (0 until len).map { _ =>
        st = lcg(st); vocab((math.abs(st) % vocab.length).toInt)
      }
      (id.toLong, words.mkString(" "), s"s${id % 3}")
    }.toDF("doc_id", "text", "source")
    for (t <- Seq(0.25, 0.6)) {
      val dense = Dedup.ngramJaccardPairs(docs, "source", 2)
        .filter(col("jaccard") >= t)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      val sparse = Dedup.sparseJaccardPairs(docs, "source", 2, minJaccard = t)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(sparse == dense, s"threshold $t: ${sparse.size} vs ${dense.size}")
      assert(dense.nonEmpty, s"degenerate fixture at $t — property vacuous")
    }
  }

  test("sparseJaccardPairs hot-shingle cutoff: identity above max df, drops stop-shingles below") {
    // "x y" appears in every doc (df = 4, the stop-shingle); each pair of
    // docs within {1,2} / {3,4} also shares one discriminative shingle
    val docs = Seq(
      (1L, "x y a b", "s1"), (2L, "x y a c", "s1"),
      (3L, "x y p q", "s1"), (4L, "x y p r", "s1")).toDF("doc_id", "text", "source")
    def run(tau: Long) =
      Dedup.sparseJaccardPairs(docs, "source", 2, minJaccard = 0.05, maxDocFreq = tau)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val unfiltered =
      Dedup.sparseJaccardPairs(docs, "source", 2, minJaccard = 0.05)
        .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(unfiltered.size == 6) // every pair shares at least "x y"
    // any tau ≥ the true max df keeps the output exactly unfiltered
    assert(run(4L) == unfiltered)
    assert(run(100L) == unfiltered)
    // tau = 3 drops the universal "x y": cross-group pairs lose their only
    // shared shingle and never materialize; in-group jaccard is over the
    // filtered shingle space ({y a, a b} vs {y a, a c} → 1/3)
    val cut = run(3L)
    assert(cut.map(p => (p._1, p._2)) == Set((1L, 2L), (3L, 4L)))
    assert(cut.forall(p => math.abs(p._3 - 1.0 / 3.0) < 1e-9))
  }

  test("connectedComponentsStar matches propagation on mixed graphs and solves deep chains") {
    // same shapes as the propagation test: chain, triangle with a
    // redundant edge, isolated pair — outputs must be identical
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("id_a", "id_b")
    val prop = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toSet
    val star = Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().toSet
    assert(star == prop)
    // deterministic pseudo-random graph: both algorithms must agree
    val rnd = (0 until 120)
      .map(i => ((i * 31L + 7L) % 60L, (i * 17L + 3L) % 60L))
      .filter(p => p._1 != p._2)
      .toDF("id_a", "id_b")
    val propR = Dedup.connectedComponents(rnd).as[(Long, Long)].collect().toSet
    val starR = Dedup.connectedComponentsStar(rnd).as[(Long, Long)].collect().toSet
    assert(starR == propR)
    // a 200-node chain (diameter 199): propagation closes it too, but only
    // in O(diameter) rounds (about 200); star contraction closes it in
    // O(log² n) rounds — every node labels to the chain's minimum.
    val chain = (0 until 199).map(i => (1000L + i, 1001L + i)).toDF("id_a", "id_b")
    val starC = Dedup.connectedComponentsStar(chain).as[(Long, Long)].collect()
    assert(starC.length == 200)
    assert(starC.forall(_._2 == 1000L), s"chain not fully contracted")
  }

  test("connectedComponents: chains close transitively, separate components stay apart") {
    // chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), isolated pair 20-21
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (21L, 20L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L), s"chain must merge: $comp")
    assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
    assert(comp(20L) == 20L && comp(21L) == 20L)
    assert(comp.size == 9)
  }

  test("connectedComponents closes a chain deeper than any fixed round bound") {
    // diameter 39: node min + d reads min only after d rounds, so any round
    // bound below 39 leaves the chain's tail labelled above its minimum
    val chain = (0 until 39).map(i => (500L + i, 501L + i)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(comp.length == 40)
    val wrong = comp.filter(_._2 != 500L)
    assert(wrong.isEmpty, s"not labelled with the chain's minimum: ${wrong.sorted.mkString(", ")}")
  }

  test("both connected-components operators run a pinned number of jobs on the mixed fixture") {
    // chain 101-104, triangle, isolated pair: 4 propagation rounds, 3 star
    // rounds, each one store job that also counts the changed rows. The ids
    // differ from the other tests' fixtures, so no cached edge list of
    // theirs is reused and the count does not depend on test order.
    val pairs = Seq(
      (101L, 102L), (102L, 103L), (103L, 104L), (110L, 111L), (111L, 112L), (110L, 112L), (120L, 121L))
      .toDF("id_a", "id_b")
    graft.CacheScope.scoped {
      val (prop, propJobs, _) = costOf(Dedup.connectedComponents(pairs).as[(Long, Long)].collect())
      val (star, starJobs, _) = costOf(Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect())
      info(s"connectedComponents: $propJobs jobs; connectedComponentsStar: $starJobs jobs")
      assert(prop.toSet == star.toSet)
      assert(propJobs == 17, s"connectedComponents ran $propJobs jobs")
      assert(starJobs == 27, s"connectedComponentsStar ran $starJobs jobs")
    }
  }

  test("connectedComponents matches a BFS reference on a pseudo-random graph") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 120).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = got.keys.map(id => id -> find(id)).toMap
    assert(got == want)
  }

  test("redactPii scrubs emails, urls, and long digit runs; replace-all, ordered passes") {
    val got = df1("mail a.b+c@x-y.org twice a.b+c@x-y.org url https://h.test/p?q=1234 keep 123 drop 4567")
      .select(TextOps.redactPii(col("text"))).head.getString(0)
    assert(got == "mail <EMAIL> twice <EMAIL> url <URL> keep 123 drop <NUM>")
  }

  test("jaccard of distinct sets") {
    val j = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(TextOps.jaccard(col("x"), col("y"))).head.getDouble(0)
    assert(j == 0.5)
  }

  test("bpe-ish token count: words, digit runs, single punctuation") {
    val n = df1("ab 12, cd!").select(TextOps.bpeTokenCount(col("text"))).head.getInt(0)
    assert(n == 5) // ab, 12, ',', cd, '!'
  }

  test("langId picks the language with most marker hits; und when none") {
    assert(df1("the cat and the dog is here").select(TextOps.langId(col("text"))).head.getString(0) == "en")
    assert(df1("el perro y la casa de que").select(TextOps.langId(col("text"))).head.getString(0) == "es")
    assert(df1("qwerty zxcvb").select(TextOps.langId(col("text"))).head.getString(0) == "und")
  }

  test("fingerprint is deterministic and order-sensitive") {
    val f = (s: String) => df1(s).select(TextOps.fingerprint(TextOps.tokens(col("text")))).head.getLong(0)
    assert(f("a b c") == f("a b c"))
    assert(f("a b c") != f("c b a"))
  }

  test("fingerprintPortable matches the hand-computed char fold and sees token boundaries") {
    val f = (s: String) =>
      df1(s).select(TextOps.fingerprintPortable(TextOps.tokens(col("text")))).head.getLong(0)
    // "hi": a = 7 → 7·131 + 'h'(104) = 1021 → 1021·131 + 'i'(105) = 133856;
    // doc fold: (0·31 + 133856) mod 1e9+7 = 133856
    assert(f("hi") == 133856L)
    assert(f("a b c") == f("a b c"))
    assert(f("a b c") != f("c b a"))
    assert(f("ab c") != f("a bc")) // same chars, different token boundaries
  }

  test("simhash: identical texts collide; near texts are close, far texts far") {
    val df = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8"), (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 zz"), (4L, "q1 q2 q3 q4 q5 q6 q7 q8")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.simhash64(TextOps.tokens(col("text"))).as("h"))
    val h = df.as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    val near = java.lang.Long.bitCount(h(1L) ^ h(3L))
    val far = java.lang.Long.bitCount(h(1L) ^ h(4L))
    assert(near < far, s"near=$near far=$far")
  }

  test("simhash64 codegen expression ≡ HOF form (parity, incl. empty/dup tokens)") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "the quick brown fox jumps over the lazy dog the the"),
      (3L, ""), // zero tokens → simhash 0
      (4L, "solo"),
      (5L, (1 to 200).map(i => s"tok${i % 37}").mkString(" "))).toDF("doc_id", "text")
    val both = docs.select(
      col("doc_id"),
      TextOps.simhash64(TextOps.tokens(col("text"))).as("fast"),
      TextOps.simhash64Hof(TextOps.tokens(col("text"))).as("ref"))
    both.as[(Long, Long, Long)].collect().foreach { case (id, fast, ref) =>
      assert(fast == ref, s"doc $id: codegen $fast != hof $ref")
    }
    assert(both.filter(col("doc_id") === 3L).head.getLong(1) == 0L)
  }

  test("sketchBits codegen expression ≡ HOF form (parity, incl. mismatched dims)") {
    val planes = Dedup.hyperplanes(dim = 8, nPlanes = 16)
    val vecs = Seq(
      (1L, (1 to 8).map(i => math.sin(i * 1.7).toFloat)),
      (2L, (1 to 8).map(i => -math.cos(i * 0.9).toFloat)),
      (3L, Seq.fill(8)(0.0f)),
      (4L, (1 to 5).map(_.toFloat))) // wrong dim → all bits 0 on both forms
      .toDF("vec_id", "v")
    val both = vecs.select(
      col("vec_id"),
      Dedup.sketchBits(col("v"), planes).as("fast"),
      Dedup.sketchBitsHof(col("v"), planes).as("ref"))
    both.as[(Long, Seq[Int], Seq[Int])].collect().foreach { case (id, fast, ref) =>
      assert(fast == ref, s"vec $id: codegen $fast != hof $ref")
    }
    assert(both.filter(col("vec_id") === 4L).head.getSeq[Int](1).forall(_ == 0))
  }

  test("sketchBits codegen ≡ HOF form when the vector has null elements") {
    // a null element nulls every plane's zip_with sum in the HOF form →
    // all bits 0; the kernel must match (was reading null slots as 0.0)
    val planes = Dedup.hyperplanes(dim = 3, nPlanes = 8)
    val vecs = Seq(1L, 2L).toDF("vec_id").select(
      col("vec_id"),
      when(col("vec_id") === 1L, array(lit(1.0f), lit(null).cast("float"), lit(3.0f)))
        .otherwise(array(lit(1.0f), lit(2.0f), lit(3.0f))).as("v"))
    val both = vecs.select(
      col("vec_id"),
      Dedup.sketchBits(col("v"), planes).as("fast"),
      Dedup.sketchBitsHof(col("v"), planes).as("ref"))
    both.as[(Long, Seq[Int], Seq[Int])].collect().foreach { case (id, fast, ref) =>
      assert(fast == ref, s"vec $id: codegen $fast != hof $ref")
    }
    assert(both.filter(col("vec_id") === 1L).head.getSeq[Int](1).forall(_ == 0))
    assert(both.filter(col("vec_id") === 2L).head.getSeq[Int](1).exists(_ == 1))
  }

  test("exact dedup groups by content (planted duplicate)") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val g = Dedup.exactGroups(docs).filter(col("n_docs") > 1).collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("n_docs") == 2 && g(0).getAs[Long]("keeper_id") == 1L)
  }

  test("minhash LSH finds a planted near-duplicate pair") {
    // a 40-token doc with ONE changed token (jaccard ≈ 0.86 on 3-shingles);
    // shorter docs sit below the (16,4)-banding detection threshold
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = ((1 to 19).map(i => s"tok$i") ++ Seq("changed") ++ (21 to 40).map(i => s"tok$i")).mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, (1 to 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, shingleN = 3, numHashes = 16, bands = 4, minEstJaccard = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L), s"pairs=${pairs.toSeq}")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("minhash signature estimates jaccard roughly") {
    val a = "a b c d e f g h i j k l m n o p"
    val docs = Seq((1L, a), (2L, a)).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, 3, 16, 4, 0.99).as[(Long, Long, Double)].collect()
    assert(pairs.length == 1 && pairs(0)._3 == 1.0) // identical docs -> all components agree
  }

  test("simhashPairs finds planted near-dup via chunk banding") {
    // SimHash bit votes only stabilize with enough tokens: a 40-token base
    // with one appended token keeps hamming ≈ 3; tiny docs flip too many bits
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, base + " appended"), (3L, (1 to 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, maxHamming = 10).as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("shingle-less docs are never reported as near-duplicates (sentinel exclusion)") {
    val docs = Seq((1L, "hi"), (2L, "42"), (3L, ""), (4L, "   "),
      (5L, (1 to 40).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    // docs 1-4 have zero 3-shingles / zero-or-tiny token sets; none may pair
    assert(Dedup.minhashLsh(docs, 3, 16, 4, 0.0).count() == 0)
    val simPairs = Dedup.simhashPairs(docs, maxHamming = 64).as[(Long, Long, Int)].collect()
    assert(!simPairs.exists(p => p._1 == 3L || p._2 == 3L || p._1 == 4L || p._2 == 4L),
      s"empty-token docs paired: ${simPairs.toSeq}")
  }

  test("ngramJaccardPairs computes exact blocked jaccard") {
    val docs = Seq(
      (1L, "a b c d e", "s1"), (2L, "a b c d x", "s1"), // share shingles "a b c","b c d"? no: doc2 = a b c, b c d? "a b c d x": shingles {a b c, b c d, c d x}; doc1 {a b c, b c d, c d e}
      (3L, "a b c d e", "s2")).toDF("doc_id", "text", "source")
    val pairs = Dedup.ngramJaccardPairs(docs, "source", 3)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(pairs.length == 1) // only in-block pair (1,2); doc 3 is blocked apart
    assert(pairs(0) == ((1L, 2L, 0.5))) // |{abc,bcd}| / |{abc,bcd,cde,cdx}| = 2/4
  }

  test("contaminatedDocs flags shared 5-grams with exact overlap counts; disjoint docs absent") {
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta eta")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta"), // full copy → all 3 distinct 5-grams
      (11L, "x alpha beta gamma delta epsilon y"), // exactly one shared 5-gram
      (12L, "totally different words here with no overlap at all")).toDF("doc_id", "text")
    val got = Dedup
      .contaminatedDocs(train, bench, shingleN = 5)
      .orderBy("doc_id")
      .as[(Long, Long, Long)]
      .collect()
      .toSeq
    assert(got == Seq((10L, 1L, 3L), (11L, 1L, 1L)))
  }

  test("cosineLshPairs recovers a planted near-identical vector pair") {
    val v = (0 until 64).map(i => math.sin(i + 1).toFloat)
    val v2 = v.map(x => x * 1.001f)
    val far = (0 until 64).map(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq((1L, v), (2L, v2), (3L, far)).toDF("vec_id", "embedding")
    val pairs = Dedup.cosineLshPairs(emb, 64, nPlanes = 16, bands = 4, minCosine = 0.99)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 > 0.999))
  }

  test("dhashPairs banding is EXHAUSTIVE below the band count (pigeonhole, vs brute force)") {
    // 60 pseudo-random 64-bit hashes + 10 planted flips of 0-5 bits; with
    // maxHamming 7 < 8 bands, every pair under the threshold must share an
    // untouched slice, so the bucketed join must equal the all-pairs
    // popcount EXACTLY - including any accidental near pairs among the
    // random hashes, not just the planted ones
    val rnd = new scala.util.Random(42)
    val base = (0L until 60L).map(i => (i, rnd.nextLong()))
    val planted = (0 until 10).map { i =>
      val (_, h) = base(i)
      val flips = (1 to (i % 6)).map(j => 1L << ((i * 7 + j * 11) % 64)).foldLeft(0L)(_ | _)
      (1000L + i, h ^ flips)
    }
    val all = base ++ planted
    val got = Dedup.dhashPairs(all.toDF("asset_id", "dhash"), maxHamming = 7)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
    val want = (for {
      (a, ha) <- all
      (b, hb) <- all
      if a < b
      h = java.lang.Long.bitCount(ha ^ hb)
      if h <= 7
    } yield (a, b, h.toLong)).toSet
    assert(got == want, s"banded join diverged from brute force: ${got.diff(want)} / ${want.diff(got)}")
  }
}
