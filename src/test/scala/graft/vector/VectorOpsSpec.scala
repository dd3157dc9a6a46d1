package graft.vector

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(a: Seq[Float], b: Seq[Float]) =
    Seq((a, b)).toDF("a", "b")

  test("l2Sq matches hand-computed values (reference l2, quake_min.py:8-9)") {
    val d = one(Seq(1f, 2f, 3f), Seq(4f, 6f, 3f))
      .select(VectorOps.l2Sq(col("a"), col("b"))).head.getDouble(0)
    assert(d === 9.0 + 16.0 + 0.0)
  }

  test("l2Sq of identical vectors is zero") {
    val d = one(Seq(0.5f, -2.5f), Seq(0.5f, -2.5f))
      .select(VectorOps.l2Sq(col("a"), col("b"))).head.getDouble(0)
    assert(d === 0.0)
  }

  test("dot and cosine") {
    val df = one(Seq(1f, 0f), Seq(0f, 1f))
    assert(df.select(VectorOps.dot(col("a"), col("b"))).head.getDouble(0) === 0.0)
    assert(df.select(VectorOps.cosine(col("a"), col("b"))).head.getDouble(0) === 0.0)
    val same = one(Seq(3f, 4f), Seq(3f, 4f))
    assert(math.abs(same.select(VectorOps.cosine(col("a"), col("b"))).head.getDouble(0) - 1.0) < 1e-12)
    assert(same.select(VectorOps.norm(col("a"))).head.getDouble(0) === 5.0)
  }

  test("codegen L2Squared matches the higher-order-function form (parity) on fixture vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(20)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("b")))
    val diff = pairs
      .select(VectorOps.l2Sq(col("a"), col("b")).as("fast"), VectorOps.l2SqHof(col("a"), col("b")).as("hof"))
      .filter(col("fast") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("L2Squared compiles under codegen with NON-nullable array inputs") {
    // transform(sequence(...)) produces containsNull=false, child non-null —
    // the configuration that used to break doGenCode's isNull assignment
    val df = spark.range(100).select(
      col("id"),
      transform(sequence(lit(0), lit(7)), i => (col("id") + i).cast("float")).as("a"),
      transform(sequence(lit(0), lit(7)), i => (col("id") * 2 + i).cast("float")).as("b"))
    val out = df.select(VectorOps.l2Sq(col("a"), col("b")).as("d"), VectorOps.l2SqHof(col("a"), col("b")).as("h"))
    assert(out.filter(col("d") =!= col("h")).count() == 0)
    // and no codegen fallback: the compiled plan must evaluate without error rows
    assert(out.count() == 100)
  }

  test("L2Squared yields NULL on length mismatch (same as the HOF form)") {
    val df = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f))).toDF("a", "b")
    assert(df.select(VectorOps.l2Sq(col("a"), col("b"))).head.isNullAt(0))
    assert(df.select(VectorOps.l2SqHof(col("a"), col("b"))).head.isNullAt(0))
  }

  test("codegen CosineSim matches the higher-order-function form ULP-EXACT on fixture pairs") {
    // bit-compatibility is load-bearing: every hash-certified oracle that
    // replays cosine (v04/v05/v19/d09/v20) assumes the fused loop emits
    // the HOF's exact double — `=!=` on doubles is bitwise-meaningful here
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(30)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("b")))
    val diff = pairs
      .select(
        VectorOps.cosine(col("a"), col("b")).as("fast"),
        VectorOps.cosineHof(col("a"), col("b")).as("hof"))
      .filter(col("fast") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("CosineSim edge cases: NULL on length mismatch; zero-norm yields NaN where the ANSI HOF throws") {
    val mismatch = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f))).toDF("a", "b")
    assert(mismatch.select(VectorOps.cosine(col("a"), col("b"))).head.isNullAt(0))
    // deliberate divergence (documented in CosineSim): a degenerate zero
    // vector NaNs out of every threshold instead of killing the job
    val zero = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
    assert(zero.select(VectorOps.cosine(col("a"), col("b"))).head.getDouble(0).isNaN)
    val e = intercept[Throwable] {
      zero.select(VectorOps.cosineHof(col("a"), col("b"))).head
    }
    assert(e.toString.contains("DIVIDE_BY_ZERO"), s"expected ANSI divide-by-zero, got $e")
  }

  test("l2_squared and simhash64 are callable from SQL after extension registration") {
    graft.GraftExtensions.register(spark)
    Seq((Seq(1f, 2f, 3f), Seq(4f, 6f, 3f))).toDF("a", "b").createOrReplaceTempView("vec_pairs")
    val d = spark.sql("SELECT l2_squared(a, b) AS d FROM vec_pairs").head.getDouble(0)
    assert(d === 25.0)
    Seq(Tuple1(Seq("w1", "w2", "w3"))).toDF("toks").createOrReplaceTempView("tok_rows")
    val viaSql = spark.sql("SELECT simhash64(toks) AS h FROM tok_rows").head.getLong(0)
    val viaCol = spark.table("tok_rows")
      .select(graft.text.TextOps.simhash64(col("toks"))).head.getLong(0)
    assert(viaSql == viaCol)
  }

  test("cosine_sim and hamming_dist are callable from SQL after extension registration") {
    graft.GraftExtensions.register(spark)
    Seq((Seq(1f, 0f), Seq(0f, 1f))).toDF("a", "b").createOrReplaceTempView("cos_pairs")
    assert(spark.sql("SELECT cosine_sim(a, b) AS c FROM cos_pairs").head.getDouble(0) === 0.0)
    Seq((Seq(5L, 0L), Seq(6L, 1L))).toDF("x", "y").createOrReplaceTempView("ham_pairs")
    // 5^6 = 3 (two bits), 0^1 = 1 (one bit) → 3
    assert(spark.sql("SELECT hamming_dist(x, y) AS h FROM ham_pairs").head.getInt(0) == 3)
  }

  test("hasDim validates vector length") {
    val df = Seq((1L, Seq(1f, 2f)), (2L, Seq(1f, 2f, 3f))).toDF("id", "v")
    val ok = df.filter(VectorOps.hasDim(col("v"), 2)).select("id").as[Long].collect()
    assert(ok.toSeq == Seq(1L))
  }

  // The VectorMean aggregator is now the VectorSums kernel; the test keeps its name.
  test("VectorMean aggregator computes per-group element-wise mean (O5)") {
    val df = Seq(
      (0L, Some(Seq(1f, 2f))), (0L, Some(Seq(3f, 6f))),
      (1L, Some(Seq(10f, 0f))), (1L, None)).toDF("g", "v")
    val means = VectorSums.of(df, "v")(() => r => Some(r.getLong(0))).means
    assert(means.keySet == Set(0L, 1L))
    assert(means(0L)._1.toSeq == Seq(2f, 4f) && means(0L)._2 == 2L)
    assert(means(1L)._1.toSeq == Seq(10f, 0f) && means(1L)._2 == 1L)
    assert(VectorSums.of(df.limit(0), "v")(() => r => Some(r.getLong(0))).means.isEmpty)
    // driver-array form: merging two partials equals adding every row
    val a = new VectorSums[Int]; a.add(0, Array(1f, 2f))
    val b = new VectorSums[Int]; b.add(0, Array(3f, 6f)); b.add(1, Array(10f, 0f))
    val m = a.merge(b).means
    assert(m(0)._1.toSeq == Seq(2f, 4f) && m(0)._2 == 2L && m(1)._1.toSeq == Seq(10f, 0f))
    assert(new VectorSums[Int].means.isEmpty)
  }
}
