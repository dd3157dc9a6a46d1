package perfbench

import graft.index.Hnsw
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** One writer mutating an HNSW stack through the delta log. The timed
  * build (`build` + `save`) is followed by epochs; each inserts 10
  * planted near-duplicates (`insertWithDelta` + `saveDelta`), searches
  * a 128-query batch, and deletes 10 original nodes (`deleteWithDelta` +
  * `saveDelta`). Every second epoch starts by compacting the log, as
  * Hnsw's Scaladoc prescribes. After the last epoch the log still has
  * epochs pending: the run recovers the stack from it (`loadLog`) and
  * then compacts it. A write is timed until it is durable in the log.
  * The only untimed warm-up is one search after the build: a whole
  * lifecycle costs as much as the run itself, so every run pays the same
  * cold first insert and delete. */
object HnswLog extends Workload {
  val name = "hnsw_log"
  def inputs(size: Size): String = { val (n, d) = sizes(size); s"$n x $d rank-8 unit embeddings, degree $Degree" }
  // a round is one epoch
  def rounds = 1
  val K = 10
  val Degree = 8
  val Beam = 32
  val Rounds = 2
  val QueriesPerSearch = 128
  val CheckBeam = 64
  val CheckRounds = 4

  final class State(val d: Int, val nodes: Array[(Long, Array[Float])], val df: DataFrame, val path: String, val seed: Long)

  def sizes(size: Size): (Int, Int) = size match {
    case Size.Full => (600, 64)
    case Size.Tiny => (200, 16)
  }

  def setup(r: Run, seed: Long): State = {
    val spark = r.spark
    import spark.implicits._
    val (n, d) = sizes(r.size)
    val nodes = Gen.embeddings(seed, n, d, rank = 8).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val df = nodes.toSeq.toDF("vec_id", "embedding").repartition(spark.sparkContext.defaultParallelism).cache()
    df.count()
    new State(d, nodes, df, s"${r.dataDir}/hnsw_log", seed)
  }

  override def dispose(r: Run, st: State): Unit = {
    st.df.unpersist()
    Main.deleteTree(new java.io.File(st.path))
  }

  def build(st: State): Seq[Hnsw.Layer] =
    Hnsw.build(st.df, Degree).map(l => Hnsw.Layer(l.nodes.localCheckpoint(), l.graph.localCheckpoint()))

  def queries(spark: org.apache.spark.sql.SparkSession, qs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    qs.toDF("query_id", "qvec")
  }

  def search(spark: org.apache.spark.sql.SparkSession, layers: Seq[Hnsw.Layer], qs: Seq[(Long, Array[Float])],
      beam: Int = Beam, rounds: Int = Rounds): Array[(Long, Long, Int, Double)] = {
    import spark.implicits._
    Hnsw.search(queries(spark, qs), layers, K, beam, rounds)
      .select(col("query_id"), col("vec_id"), col("rnk").cast("int"), col("dist2"))
      .as[(Long, Long, Int, Double)].collect()
  }

  /** Rows of every layer, by column name: (layer, kind, sorted row strings). */
  def rowSets(layers: Seq[Hnsw.Layer]): Seq[(Int, String, Seq[String])] = {
    def rows(df: DataFrame): Seq[String] = {
      val cols = df.columns.sorted
      df.select(cols.map(col).toIndexedSeq: _*).collect().toSeq.map { r: Row =>
        cols.indices.map(i => r.get(i) match {
          case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
          case v => String.valueOf(v)
        }).mkString("|")
      }.sorted
    }
    layers.zipWithIndex.flatMap { case (l, i) =>
      Seq((i, "nodes", rows(l.nodes)), (i, "graph", rows(l.graph.select("src", "dst", "rnk", "dist2"))))
    }
  }

  def run(r: Run, st: State, keepGoing: Int => Boolean): Unit = {
    val spark = r.spark
    import spark.implicits._
    val rng = Gen.rng(st.seed, -3L)
    val live = mutable.LinkedHashMap.empty[Long, Array[Float]] ++= st.nodes
    val originals = mutable.LinkedHashSet.empty[Long] ++= st.nodes.map(_._1)
    val planted = mutable.ArrayBuffer.empty[(Long, Array[Float])]
    val asked = mutable.ArrayBuffer.empty[(Array[(Long, Array[Float])], Array[(Long, Array[Float])], Array[(Long, Long, Int, Double)])]
    var layers: Seq[Hnsw.Layer] = Nil
    var token = -1L
    var epoch = 0L
    var pending = 0
    var nextId = 10000000L
    var nextQ = 0L
    var round = 0
    // each planted insert copies a different original, so no two share a vector
    val unused = mutable.LinkedHashSet.empty[Long] ++= st.nodes.map(_._1)

    r.op("build") {
      val ls = r.call("Hnsw.build")(build(st))
      r.call("Hnsw.save")(Hnsw.save(ls, Degree, st.path))
      ls
    }.foreach { ls =>
      layers = ls
      token = Hnsw.loadStack(spark, st.path).writerToken
      search(spark, ls, st.nodes.take(16).toSeq) // untimed: the search path's codegen
    }

    def mutate(name: String)(body: => (Seq[Hnsw.Layer], Seq[Hnsw.LayerDelta])): Boolean =
      r.op(name) {
        val (ls, deltas) = body
        r.call("Hnsw.saveDelta")(Hnsw.saveDelta(deltas, epoch, st.path, token))
        (ls, deltas)
      } match {
        case Some((ls, deltas)) =>
          if (r.tracer.enabled) {
            r.counters("upsert_rows") += deltas.map(_.graphUpserts.count()).sum
            r.counters("mutated_rows") += 10
          }
          layers = ls; epoch += 1; pending += 1; true
        case None => false
      }

    def epochRound(): Unit = {
      val batch = Seq.fill(10) {
        val src = (unused & originals).toIndexedSeq
        val s = src(rng.nextInt(src.length))
        unused -= s
        val id = nextId; nextId += 1
        (id, live(s).map(_ + 0.001f))
      }
      val batchDf = batch.toDF("vec_id", "embedding")
      if (mutate("insert")(r.call("Hnsw.insertWithDelta")(Hnsw.insertWithDelta(layers, batchDf, Degree, Beam, Rounds)))) {
        live ++= batch; planted ++= batch
      }
      val ids = live.keys.toIndexedSeq
      val qs = Seq.fill(QueriesPerSearch) {
        nextQ += 1
        (nextQ, Gen.jitter(rng, live(ids(rng.nextInt(ids.length))), 0.05))
      }
      r.op("search")(r.call("Hnsw.search")(search(spark, layers, qs))).foreach { res =>
        asked += ((qs.toArray, live.toArray, res))
      }
      val dels = new scala.util.Random(rng.nextLong()).shuffle(originals.toIndexedSeq).take(10)
      val delDf = dels.toDF("vec_id")
      if (mutate("delete")(r.call("Hnsw.deleteWithDelta")(Hnsw.deleteWithDelta(layers, delDf, Degree)))) {
        live --= dels; originals --= dels
      }
    }

    def compact(): Unit = {
      val folded = pending
      r.op("compact")(r.call("Hnsw.compact")(Hnsw.compact(spark, st.path))).foreach { s =>
        layers = s.layers; token = s.writerToken; pending = 0
        r.counters("epochs_folded") += folded
      }
    }

    if (layers.nonEmpty) {
      while (keepGoing(round)) {
        if (round % 2 == 1) compact()
        epochRound()
        round += 1
      }

      val recovered = r.op("recover") {
        val s = r.call("Hnsw.loadLog")(Hnsw.loadLog(spark, st.path))
        s.layers.map(l => Hnsw.Layer(l.nodes.localCheckpoint(), l.graph.localCheckpoint()))
      }
      r.counters("epochs_folded") += pending
      recovered.foreach { rec =>
        val a = rowSets(rec)
        val b = rowSets(layers)
        r.check("hnsw_log.recovered_equals_memory", a == b,
          s"recovered stack differs: ${a.zip(b).filter(x => x._1 != x._2).map(x => s"layer ${x._1._1} ${x._1._2}").mkString(", ")}" +
            s" (${a.length} vs ${b.length} tables)")
        // a deeper walk than the timed searches': this checks that every
        // insert was attached and logged, not the timed search's recall
        val hits = search(spark, rec, planted.toSeq, CheckBeam, CheckRounds).filter(_._3 == 1).map(x => x._1 -> x._2).toMap
        val missed = planted.map(_._1).filterNot(id => hits.get(id).contains(id))
        r.check("hnsw_log.planted_inserts_found_at_rank_1", missed.isEmpty,
          s"${missed.length} of ${planted.length} planted inserts not at rank 1, e.g. ${missed.take(3)}")
      }
      compact()
    }

    val recalls = asked.flatMap { case (qs, snap, res) =>
      val exact = Oracle.topKMany(snap.map(_._1), snap.map(_._2), qs.map(_._2).toIndexedSeq, K)
      val byQ = res.groupBy(_._1)
      qs.indices.map(i => Oracle.recall(byQ.getOrElse(qs(i)._1, Array.empty).sortBy(_._3).map(_._2).toSeq, exact(i).toSeq, K))
    }
    val bad = asked.iterator.flatMap { case (qs, snap, res) =>
      val vec = snap.toMap
      res.collectFirst {
        case (q, id, _, d) if !vec.contains(id) => s"query $q returned id $id that was not live"
        case (q, id, _, d) if math.abs(Oracle.dist2(qs.find(_._1 == q).get._2, vec(id)) - d) > 1e-4 =>
          s"query $q id $id dist2 $d"
      }
    }.take(1).toSeq
    r.check("hnsw_log.results_match_oracle_distances", bad.isEmpty, bad.mkString)
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length
    r.check("hnsw_log.recall_at_10_floor", recall >= 0.8, s"recall $recall < 0.8")

    val queries = recalls.length
    r.put("throughput_per_s", queries / r.loopBusySec, "1/s", queries)
    r.put("recall", recall, "ratio", queries)
    r.samples("build").headOption.foreach(ms => r.put("build_s", ms / 1e3, "s", 1))
    r.putP50("search_p50_ms", "search")
    r.putP50("insert_p50_ms", "insert")
    r.putP50("delete_p50_ms", "delete")
    r.putP50("compact_p50_ms", "compact")
    r.samples("recover").headOption.foreach(ms => r.put("recover_s", ms / 1e3, "s", 1))
    r.put("recall_at_10", recall, "ratio", queries)
  }
}
