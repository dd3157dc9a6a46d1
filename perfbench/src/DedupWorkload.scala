package perfbench

import graft.text.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The LLM-data dedup pipeline, one request per corpus shard: raw docs
  * → `exactGroups` → `minhashLsh` → `sparseJaccardPairs` (PPJoin verify,
  * blocked by source) → `connectedComponents` → one kept doc per
  * component. A shard is `base` synthetic documents expanded ×4 with
  * planted copies shifted by 1, 2 and 3 tokens, plus an exact copy of
  * every 20th document. Each stage's result is materialized in its span
  * (eager `localCheckpoint`); the kept set is collected to the client. */
object DedupDocs extends Workload {
  val name = "dedup_docs"
  def inputs(size: Size): String = s"$Shards shards of ${base(size)} docs x4 copies"
  // a round is one shard
  def rounds = 2
  val Shards = 2
  val ShiftOffset = 100000L
  val ExactOffset = 400000L

  final class Doc(val id: Long, val source: String, val text: String)
  /** Each shard's docs, and the same as a cached `(doc_id, source, text)` table. */
  final class State(val shards: IndexedSeq[(IndexedSeq[Doc], DataFrame)])

  def base(size: Size): Int = size match {
    case Size.Full => 150
    case Size.Tiny => 40
  }

  /** Base doc ids are `shard·10⁶ + i`; shifted copy s is `base + s·10⁵`,
    * the exact copy `base + 4·10⁵`. */
  def shard(seed: Long, p: Int, nBase: Int): IndexedSeq[Doc] = {
    val rng = Gen.rng(seed, p.toLong)
    val zipf = new Gen.Zipf(5000, 1.0, rng)
    (0 until nBase).flatMap { i =>
      val id = p * 1000000L + i
      val src = s"src${i % 8}"
      val words = Gen.doc(zipf, 40 + rng.nextInt(81))
      val copies = (1 to 3).map(s => new Doc(id + s * ShiftOffset, src, words.drop(s).mkString(" ")))
      val exact = if (i % 20 == 0) Seq(new Doc(id + ExactOffset, src, words.mkString(" "))) else Nil
      (new Doc(id, src, words.mkString(" ")) +: copies) ++ exact
    }
  }

  def setup(r: Run, seed: Long): State =
    new State((0 until Shards).map { p =>
      val docs = shard(seed, p, base(r.size))
      val df = frame(r, docs).cache()
      df.count()
      (docs, df)
    })

  override def dispose(r: Run, st: State): Unit = st.shards.foreach(_._2.unpersist())

  def frame(r: Run, docs: Seq[Doc]): DataFrame = {
    val spark = r.spark
    import spark.implicits._
    docs.map(d => (d.id, d.source, d.text)).toDF("doc_id", "source", "text")
  }

  /** One pass's stage outputs (materialized) and the kept set. */
  final case class Out(exact: DataFrame, lsh: DataFrame, verified: DataFrame, comps: DataFrame, kept: Set[Long])

  /** One pipeline pass; each public call is timed with its materialization. */
  def pipeline(r: Run, docs: DataFrame): Out = {
    val spark = r.spark
    import spark.implicits._
    val exact = r.call("Dedup.exactGroups")(Dedup.exactGroups(docs).localCheckpoint())
    val uniq = docs.join(exact.select(col("keeper_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val lsh = r.call("Dedup.minhashLsh")(
      Dedup.minhashLsh(uniq, shingleN = 3, numHashes = 32, bands = 16, minEstJaccard = 0.5).localCheckpoint())
    val cand = uniq.join(
      lsh.select(col("doc_a").as("doc_id")).union(lsh.select(col("doc_b").as("doc_id"))).distinct(),
      Seq("doc_id"), "left_semi")
    val verified = r.call("Dedup.sparseJaccardPairs")(
      Dedup.sparseJaccardPairs(cand, "source", shingleN = 3, minJaccard = 0.5).localCheckpoint())
    val edges = lsh.join(verified, Seq("doc_a", "doc_b"), "left_semi")
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    val comps = r.call("Dedup.connectedComponents")(Dedup.connectedComponents(edges).localCheckpoint())
    val kept = uniq.join(comps.filter(col("id") =!= col("comp")).select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    Out(exact, lsh, verified, comps, kept)
  }

  override def warmup(r: Run, st: State): Unit = {
    pipeline(r, frame(r, st.shards(0)._1.take(40)))
    graft.CacheScope.clear()
  }

  def run(r: Run, st: State, keepGoing: Int => Boolean): Unit = {
    val spark = r.spark
    import spark.implicits._
    var round = 0
    var docsDone = 0L
    var planted, removed = 0
    var lshPairs, lshVerified = 0L
    while (keepGoing(round)) {
      val (docs, df) = st.shards(round % st.shards.length)
      r.op("dedup")(pipeline(r, df)).foreach { o =>
        docsDone += docs.length
        val uniq = o.exact.select("keeper_id").as[Long].collect().toSet
        val lsh = o.lsh.select("doc_a", "doc_b").as[(Long, Long)].collect()
        val verified = o.verified.select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
        val comps = o.comps.select("id", "comp").as[(Long, Long)].collect().toMap
        graft.CacheScope.clear()
        val text = docs.map(d => d.id -> d.text).toMap
        val bases = docs.map(_.id).filter(id => id % 1000000L < ShiftOffset)
        def comp(id: Long) = comps.getOrElse(id, id)
        val copyOf = bases.flatMap(b => (1 to 3).map(s => (b + s * ShiftOffset, b)))
        val split = copyOf.filter { case (c, b) => comp(c) != comp(b) }
        r.check("dedup_docs.planted_copies_share_component", split.isEmpty,
          s"${split.length} planted copies apart from their source, e.g. ${split.take(3)}")
        val exactKept = docs.map(_.id).filter(id => id % 1000000L >= ExactOffset).filter(uniq)
        r.check("dedup_docs.exact_copies_grouped", exactKept.isEmpty, s"exact copies kept: ${exactKept.take(3)}")
        r.check("dedup_docs.kept_set_is_originals", o.kept == bases.toSet,
          s"kept ${o.kept.size} docs, ${bases.size} originals; extra ${(o.kept -- bases).take(3)}, " +
            s"missing ${(bases.toSet -- o.kept).take(3)}")
        val sample = verified.sortBy(v => (v._1, v._2)).take(50)
        val wrong = sample.filter { case (a, b, j) =>
          val oj = Oracle.jaccard(Oracle.shingles(text(a), 3), Oracle.shingles(text(b), 3))
          oj < 0.5 || math.abs(oj - j) > 1e-9
        }
        r.check("dedup_docs.verified_pairs_rescored", sample.nonEmpty && wrong.isEmpty,
          s"${wrong.length} of ${sample.length} sampled pairs re-score differently, e.g. ${wrong.take(2).toSeq}")
        planted += copyOf.length
        removed += copyOf.count { case (c, _) => !o.kept(c) }
        val ver = verified.map(v => (v._1, v._2)).toSet
        lshPairs += lsh.length
        lshVerified += lsh.count(ver)
      }
      round += 1
    }
    r.counters("lsh_pairs") = lshPairs.toDouble
    r.counters("lsh_verified") = lshVerified.toDouble
    val recall = if (planted == 0) 0.0 else removed.toDouble / planted
    r.putP50("pass_p50_ms", "dedup")
    r.put("throughput_per_s", docsDone / r.loopBusySec, "1/s", r.samples("dedup").length)
    r.put("recall", recall, "ratio", planted)
    r.put("docs_per_s", docsDone / r.loopBusySec, "1/s", r.samples("dedup").length)
    r.put("lsh_pairs_per_pass", lshPairs.toDouble / math.max(1, round), "count", round)
  }
}
