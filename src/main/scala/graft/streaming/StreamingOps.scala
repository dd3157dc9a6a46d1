package graft.streaming

import graft.index.{IvfMaintain, IvfModel, IvfMutate, IvfSearch}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Input row for [[StreamingOps.sessionize]]: `ts` drives the watermark,
  * `us`/`event_id` give the total per-user event order (same tie-break as
  * the batch q22 sessionization). */
final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, us: Long, event_id: Long)

/** Open-session state kept per user between micro-batches. */
final case class SessionState(nextIdx: Long, startUs: Long, endUs: Long, n: Long)

/** One closed session — schema-identical to the batch q22 output. */
final case class SessionRow(user_id: Long, session_idx: Long, n_events: Long, start_us: Long, dur_us: Long)

/** [engine-added, SURVEY.md §7.5 stretch] Structured Streaming surface.
  *
  * The reference has no streaming runtime — its "online" inserts are
  * synchronous method calls in a single-threaded loop (run_demo.py:57-84).
  * The Spark-native equivalent is micro-batch ingestion: a stream of
  * `(vec_id, embedding)` rows lands in the IVF index via `foreachBatch`
  * reusing the exact batch-mutation path ([[graft.index.IvfMutate]]), so
  * streaming and batch writes share one code path and one semantics.
  *
  * Event-time analytics use the standard watermark + window machinery;
  * at 100 TB/day these are the same shuffles as the batch queries, with
  * state bounded by the watermark horizon.
  */
object StreamingOps {

  /** Continuous ingestion: each micro-batch is routed/inserted with the
    * batch insert (quake_min.py:92-109 semantics at batch granularity).
    * The evolving model is handed to `onUpdate` after every batch —
    * callers persist/broadcast it as they see fit. */
  def ingest(
      stream: DataFrame,
      initial: IvfModel,
      checkpointDir: String,
      onUpdate: IvfModel => Unit): StreamingQuery = {
    val state = new java.util.concurrent.atomic.AtomicReference[IvfModel](initial)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val next = IvfMutate.insert(
          state.get(),
          batch.select(col("vec_id").cast("long").as("vec_id"), col("embedding")))
        // bound lineage and the RDD partition count every batch: insert
        // appends the batch to a stored table without a copy, and
        // IvfMutate.checkpoint copies the next batch's append to that view
        // (so every second batch), or a table that is not stored. Drop the
        // pre-checkpoint table's cache only when the checkpoint replaced it.
        val old = next.vectors
        val checked = IvfMutate.checkpoint(next)
        if (old ne checked.vectors) old.unpersist()
        state.set(checked)
        onUpdate(checked)
      }
      .start()
  }

  /** Continuous HNSW ingestion — [[ingest]]'s exact shape for the graph
    * family: each micro-batch of `(vec_id, embedding)` rows lands in the
    * layer stack via `foreachBatch` reusing the batch mutation path
    * ([[graft.index.Hnsw.insert]] — level route, descend-as-query,
    * matched-top-k attach + touched-neighborhood repair), so streaming
    * and batch inserts share one code path and one semantics. The
    * evolving stack is handed to `onUpdate` after every batch.
    *
    * State shape: `insert` returns lineage-truncated (localCheckpoint'd)
    * layers, so the kept state per epoch is a handful of materialized
    * block-backed DataFrames, not a growing plan — and superseded
    * epochs' blocks are unreferenced after the swap, so the
    * ContextCleaner reclaims them as the old RDDs are collected (the
    * graph analog of [[ingest]]'s explicit unpersist; the initial stack
    * is typically a shared session artifact and is never unpersisted
    * here). Each trigger runs inside [[graft.CacheScope.scoped]] — the
    * per-trigger caches insert tracks (the batch's query table, per-layer
    * walk results) drop at trigger end, not at JVM end, so unbounded
    * streams really do stay micro-batch priced. Per trigger the batch is
    * screened ONCE: intra-batch duplicate ids collapse
    * (`dropDuplicates` — batch-sized work) and ids already present in
    * the stack are filtered by one anti-join against layer 0 — the ONLY
    * corpus-linear action in the path (insert's own strict guards are
    * skipped via `validate = false`; they would re-scan layer-0's id
    * column twice more per trigger for facts this screen already
    * established). A foreachBatch EPOCH RETRY re-delivers the same rows,
    * and without the present-id filter insert's duplicate-id guard would
    * turn the replay into a permanent query failure — with it, replays
    * are idempotent. `shrink`/`topCap`/`perLayerK` MUST match the build
    * that produced `initial` (defaults = [[graft.index.Hnsw.build]]'s
    * defaults; a loaded stack carries its own via
    * [[graft.index.Hnsw.loadStack]]) — streaming into a stack built at a
    * different shrink would silently mis-route new rows' levels and
    * break the deterministic nesting invariant insert's contract pins.
    * RESTART durability is the caller's via `onUpdate`
    * (persist with [[graft.index.Hnsw.save]]): like [[ingest]], a new
    * incarnation resumes source offsets from the checkpoint but must be
    * handed the last persisted stack as `initial`, or the batches before
    * the restart are absent from the rebuilt state (certified end-to-end
    * by the s21 driver query — kill, reload, resume, layer-equal).
    * A full [[graft.index.Hnsw.save]] per epoch re-writes the
    * corpus-sized stack every trigger — fine for a demo, corpus-linear
    * at scale. The scale path is `onDelta`: when set, each trigger runs
    * [[graft.index.Hnsw.insertWithDelta]] and hands `(batchId, deltas)`
    * to the callback — persist with [[graft.index.Hnsw.saveDelta]] (an
    * O(|batch|·k) write) against a once-[[graft.index.Hnsw.save]]d base,
    * recover with [[graft.index.Hnsw.loadLog]], and bound the log with
    * [[graft.index.Hnsw.compact]]. batchId is stable across restarts,
    * so a retried epoch re-publishes the same epoch dir idempotently
    * (certified by the v44 driver query + StreamingSpec's delta-log
    * restart case).
    *
    * SELF-DRIVING maintenance (s07's adaptive shape for the graph
    * family — the LOAD decides the cadence, certified by s23):
    * `maintainEvery = N` runs one [[graft.index.KnnJoin.nnDescentRound]]
    * over layer 0 every N applied batches of THIS incarnation (the
    * counter is per-incarnation, like any cadence timer), recovering
    * the intra-batch edges insert defers; `autoDeepen = true` turns the
    * topCap warning's condition into a trigger — when the hash trickle
    * grows the top past `topCap`, one [[graft.index.Hnsw.deepen]]
    * re-bounds it in-stream. `onMaintain` receives a tick per fired
    * move.
    *
    * Maintenance + DURABILITY: both maintenance moves rewrite
    * corpus-sized structure no batch-sized epoch can carry, so
    * combining them with `onDelta` requires `onRebase` (enforced) —
    * called with the maintained stack AFTER the batch's epoch was
    * persisted and only on batches where a move actually fired. The
    * callback re-bases the log with [[graft.index.Hnsw.save]] (which
    * sweeps the now-superseded epochs and BUMPS the fence token — keep
    * the token the `onDelta` closure passes to saveDelta in a mutable
    * cell and refresh it here, or the writer fences itself out at its
    * next epoch). Crash windows stay consistent: dying between the
    * epoch publish and the rebase replays the log to the
    * pre-maintenance state — semantically complete, just unmaintained;
    * dying mid-save leaves the old base + epochs intact (save's
    * crash-safety). Spec-pinned end-to-end in StreamingSpec (deepen
    * fires mid-stream, rebase, kill, loadLog ≡ live, next incarnation
    * logs onto the rebased base with the refreshed token). */
  def hnswIngest(
      stream: DataFrame,
      initial: Seq[graft.index.Hnsw.Layer],
      checkpointDir: String,
      k: Int,
      beam: Int,
      rounds: Int,
      onUpdate: Seq[graft.index.Hnsw.Layer] => Unit,
      shrink: Int = 16,
      topCap: Long = 256L,
      perLayerK: Int = 8,
      onDelta: Option[(Long, Seq[graft.index.Hnsw.LayerDelta]) => Unit] = None,
      maintainEvery: Int = 0,
      autoDeepen: Boolean = false,
      onMaintain: HnswMaintainTick => Unit = _ => (),
      onRebase: Option[Seq[graft.index.Hnsw.Layer] => Unit] = None): StreamingQuery = {
    // Maintenance rewrites corpus-sized structure (descent re-ranks every
    // layer-0 adjacency; deepen changes the stack DEPTH) that no
    // batch-sized LayerDelta can carry — an epoch logged after either
    // would replay onto a base that never saw it. Durability + in-stream
    // maintenance therefore needs the rebase hook: Hnsw.save the
    // maintained stack (sweeps superseded epochs, bumps the fence).
    require(onDelta.isEmpty || (maintainEvery == 0 && !autoDeepen) || onRebase.nonEmpty,
      "hnswIngest: in-stream maintenance (maintainEvery/autoDeepen) with the " +
        "onDelta log requires onRebase — maintenance changes are not batch-sized; " +
        "the hook must re-base the log (Hnsw.save) so later epochs fold onto a " +
        "base that saw the maintenance")
    val state =
      new java.util.concurrent.atomic.AtomicReference[Seq[graft.index.Hnsw.Layer]](initial)
    val appliedBatches = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // an empty micro-batch (trigger with no new data) must be a
        // no-op — Hnsw.insert would still pay the full stack walk plumbing
        if (!batch.isEmpty) {
          val cur = state.get()
          // localCheckpoint (eager) materializes the screen's batch-sized
          // result in ONE job — left lazy, insert's per-layer joiner
          // filters would re-run the corpus-linear anti-join once per layer
          val fresh = batch
            .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
            .dropDuplicates("vec_id")
            .join(cur.last.nodes.select("vec_id"), Seq("vec_id"), "left_anti")
            .localCheckpoint()
          if (!fresh.isEmpty) {
            // scoped: insert's returned layers hold its repaired rows as
            // local leaves, not its walks, so dropping its tracked
            // per-trigger caches on exit is safe — and mandatory for a
            // long stream
            val next = onDelta match {
              case Some(f) =>
                // the delta path: batch-sized durability — persist the
                // epoch's changed rows (Hnsw.saveDelta keyed by batchId,
                // which is stable across restarts so an epoch RETRY
                // re-publishes the same dir idempotently) BEFORE the
                // in-memory swap, mirroring the offsets-commit-last order
                val (st, deltas) = graft.CacheScope.scoped {
                  graft.index.Hnsw.insertWithDelta(
                    cur, fresh, k = k, beam = beam, rounds = rounds,
                    shrink = shrink, topCap = topCap, perLayerK = perLayerK,
                    validate = false)
                }
                f(batchId, deltas)
                st
              case None =>
                graft.CacheScope.scoped {
                  graft.index.Hnsw.insert(
                    cur, fresh, k = k, beam = beam, rounds = rounds,
                    shrink = shrink, topCap = topCap, perLayerK = perLayerK,
                    validate = false)
                }
            }
            // SELF-DRIVING maintenance (s07's adaptive-maintain shape for
            // the graph family): the LOAD decides the cadence, not an
            // operator the caller remembers to run.
            val applied = appliedBatches.incrementAndGet()
            var maintenanceFired = false
            // (a) every `maintainEvery` applied batches, one NN-descent
            // round over layer 0 recovers the intra-batch edges insert
            // deliberately defers (insert's doc: candidates come from
            // EXISTING members, so edges among one batch's rows appear
            // only at maintenance — v41's measured fact). Insert-only
            // streams ONLY: descent re-normalizes adjacencies to plain
            // top-k and would strip delete's clique patches
            // (Hnsw.delete's 0.69 → 0.47 measurement), which is why
            // hnswApplyChangelog exposes no descent cadence.
            val afterDescent =
              if (maintainEvery > 0 && applied % maintainEvery == 0) {
                val l0 = next.last
                val refined = graft.CacheScope.scoped {
                  graft.index.KnnJoin
                    .nnDescentRound(l0.graph, l0.nodes, k)
                    // AQE-coalesced keyed repartition, not the session
                    // shuffle setting: descent's rank window leaves the
                    // refined graph at spark.sql.shuffle.partitions, and
                    // a small layer checkpointed 32-way pays 32
                    // near-empty tasks on every downstream scan
                    // (Hnsw.insertImpl's rule; the count comes from AQE
                    // coalescing — the old parent-count read executed
                    // folded parent plans, r20 ADVICE)
                    .repartition(col("src"))
                    .localCheckpoint()
                }
                val st = next.init :+ graft.index.Hnsw.Layer(l0.nodes, refined)
                onMaintain(HnswMaintainTick(batchId, "descent",
                  st.head.nodes.count(), st.length))
                maintenanceFired = true
                st
              } else next
            // (b) the topCap warning's condition as a TRIGGER: when the
            // hash-trickle of inserted ids has grown the top layer past
            // its broadcast bound, one deepen re-bounds it in-stream —
            // the wear-out trajectory (v42's composed story) made
            // self-driving. The count is one tiny job over the
            // localCheckpoint'd topCap-scale top layer.
            val maintained =
              if (autoDeepen && afterDescent.head.nodes.count() > topCap) {
                val st = graft.CacheScope.scoped {
                  graft.index.Hnsw.deepen(afterDescent, k = k, shrink = shrink)
                }
                // deepen returns its argument UNCHANGED when the hash
                // rule leaves the new top empty (it warns) — that is
                // not a fired move: ticking/rebasing it would emit a
                // misleading tick and, with onDelta set, a corpus-sized
                // rebase on EVERY subsequent batch (the trigger stays
                // over topCap forever)
                if (st eq afterDescent) afterDescent
                else {
                  onMaintain(HnswMaintainTick(batchId, "deepen",
                    st.head.nodes.count(), st.length))
                  maintenanceFired = true
                  st
                }
              } else afterDescent
            // a maintenance move invalidates the batch-sized log (depth
            // and/or corpus-sized adjacency changed after this batch's
            // epoch was persisted) — the rebase hook re-bases it so the
            // NEXT epoch folds onto a base that saw the maintenance
            if (maintenanceFired && onDelta.nonEmpty) onRebase.foreach(_(maintained))
            state.set(maintained)
            onUpdate(maintained)
          }
        }
      }
      .start()
  }

  /** One in-stream HNSW maintenance event ([[hnswIngest]]'s
    * `onMaintain`): which move fired (`"descent"` / `"deepen"`), at
    * which batch, and the post-move top-layer size / stack depth. */
  final case class HnswMaintainTick(
      batch_id: Long, event: String, top_n: Long, n_layers: Int)

  /** Streaming CDC into the HNSW stack — [[applyChangelogStream]]'s
    * changelog contract (upserts + deletes, last-change-per-key wins
    * batch-internally by `ordCol`, arrival order across batches) applied
    * to the graph family, closing the loop [[hnswIngest]] leaves open:
    * an insert-only ingest cannot serve GDPR-style erasure or rolling
    * TTL, and a production vector index needs deletes to arrive on the
    * SAME stream as the upserts that may re-use their keys. Rows carry
    * `(vec_id, embedding, opCol, ordCol)`; `opCol` = `"D"` erases the
    * key, anything else ("I"/"U" — [[graft.rel.Merge.applyChangelog]]'s
    * exact rule, including its U > D > I equal-ord tie-break) upserts it.
    *
    * Per trigger, three bounded steps sharing the batch-mutation code
    * paths (one semantics with [[graft.index.Hnsw.insert]]/
    * [[graft.index.Hnsw.delete]], the s02/s08 discipline):
    *
    *  1. COLLAPSE the micro-batch to its final change per key
    *     (batch-sized window) and localCheckpoint it once;
    *  2. screen which of the batch's keys are PRESENT in the stack —
    *     the trigger's ONE corpus-linear action ([[hnswIngest]]'s
    *     anti-join discipline, flipped to a semi-join). Every present
    *     key is deleted ([[graft.index.Hnsw.deleteWithDelta]]): erased
    *     keys permanently, re-upserted keys so their old vector/edges
    *     can't shadow the replacement. Absent-key deletes are dropped
    *     here — O9's no-op contract at zero cost;
    *  3. INSERT the surviving upserts (absent after step 2, deduped by
    *     step 1 ⇒ `validate = false` skips insert's redundant
    *     corpus-linear guards).
    *
    * Durability: with `onDelta` set, the trigger's delete and insert
    * deltas are COMPOSED ([[graft.index.Hnsw.composeDeltas]]) into ONE
    * epoch handed to the callback before the in-memory swap
    * (offsets-commit-last ordering) — persist with
    * [[graft.index.Hnsw.saveDelta]] keyed by the stable batchId (pass
    * the fence token from the writer's own loadStack/loadLog), recover
    * with [[graft.index.Hnsw.loadLog]]. Restart = [[hnswIngest]]'s
    * contract: resume the checkpoint with the last persisted stack
    * (loadLog) as `initial`.
    *
    * REPLAY GUARD — always pass `isEpochApplied` when `onDelta` is set
    * (`Some(id => Hnsw.epochExists(spark, logPath, id))`): a restarted
    * incarnation can be re-delivered a batch whose epoch already
    * published (crash between the epoch publish and the offset commit).
    * Unlike [[hnswIngest]]'s insert-only screen, a changelog replay is
    * NOT data-detectable — recomputing it against the already-applied
    * state would silently republish a WEAKER epoch over the same id
    * (the original delete of a now-absent key vanishes from the log,
    * and the next full fold resurrects the erased key from the base — a
    * durably-acknowledged erasure undone). The guard skips the whole
    * trigger instead: the epoch dir is the trigger's last mutating step,
    * so its existence proves the batch is both applied in the loadLog'd
    * `initial` and durable. (For that proof to hold, a custom `onDelta`
    * must make the saveDelta publish its final action.) Without the
    * guard — onDelta unset — a replay still converges in MEMBERSHIP
    * (deletes of absent keys no-op, upserts re-replace), though the
    * repaired adjacency around a replayed upsert may differ in
    * edge-level detail from the uninterrupted run.
    *
    * No in-stream descent cadence here BY DESIGN: NN-descent
    * re-normalizes every adjacency to plain top-k and strips the clique
    * patches delete's repair plants ([[graft.index.Hnsw.delete]]'s
    * measured 0.69 → 0.47) — a delete-bearing stream maintains via
    * out-of-band rebase instead. */
  def hnswApplyChangelog(
      changes: DataFrame,
      initial: Seq[graft.index.Hnsw.Layer],
      checkpointDir: String,
      k: Int,
      beam: Int,
      rounds: Int,
      onUpdate: Seq[graft.index.Hnsw.Layer] => Unit,
      shrink: Int = 16,
      topCap: Long = 256L,
      perLayerK: Int = 8,
      opCol: String = "op",
      ordCol: String = "ord",
      onDelta: Option[(Long, Seq[graft.index.Hnsw.LayerDelta]) => Unit] = None,
      isEpochApplied: Option[Long => Boolean] = None): StreamingQuery = {
    val state =
      new java.util.concurrent.atomic.AtomicReference[Seq[graft.index.Hnsw.Layer]](initial)
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // the replay guard: an already-published epoch proves this batch
        // was fully applied AND persisted by a previous incarnation —
        // re-applying it against the already-applied state would
        // republish a weaker epoch (see the scaladoc's erasure story)
        if (!isEpochApplied.exists(_(batchId)) && !batch.isEmpty) {
          val cur = state.get()
          // final change per key — ONE collapse rule shared with the
          // relational CDC path (Merge.latestChangePerKey: ord desc,
          // then the explicit U > D > I rank, then the raw op string)
          val latest = graft.rel.Merge
            .latestChangePerKey(
              batch.select(
                col("vec_id").cast("long").as("vec_id"), col("embedding"),
                col(opCol).as("_op"), col(ordCol).as("_ord")),
              "vec_id", "_ord", "_op")
            .select("vec_id", "embedding", "_op")
            .localCheckpoint()
          // the trigger's one corpus-linear action: which keys exist now
          val present = latest.select("vec_id")
            .join(cur.last.nodes.select("vec_id"), Seq("vec_id"), "left_semi")
            .localCheckpoint()
          // null-safe not-equal: a malformed row with a NULL op on a
          // present key would otherwise be deleted by the presence screen
          // but null-filtered out of the upserts — silently ERASING the
          // key, where the relational path (Merge.latestChangePerKey's
          // rank-0 bucket) treats any non-D op, null included, as an
          // upsert. Unknown ops upsert here too, matching that rule.
          val upserts = latest.filter(!(col("_op") <=> "D")).select("vec_id", "embedding")
          val doDelete = !present.isEmpty
          val doInsert = !upserts.isEmpty
          if (doDelete || doInsert) {
            onDelta match {
              case Some(f) =>
                val (afterDel, dDel) =
                  if (doDelete)
                    graft.CacheScope.scoped {
                      val (st, d) = graft.index.Hnsw.deleteWithDelta(cur, present, k)
                      (st, Some(d))
                    }
                  else (cur, None)
                val (next, dIns) =
                  if (doInsert)
                    graft.CacheScope.scoped {
                      val (st, d) = graft.index.Hnsw.insertWithDelta(
                        afterDel, upserts, k = k, beam = beam, rounds = rounds,
                        shrink = shrink, topCap = topCap, perLayerK = perLayerK,
                        validate = false)
                      (st, Some(d))
                    }
                  else (afterDel, None)
                val epoch = (dDel, dIns) match {
                  case (Some(a), Some(b)) => graft.index.Hnsw.composeDeltas(a, b)
                  case (Some(a), None)    => a
                  case (None, b)          => b.get
                }
                f(batchId, epoch)
                state.set(next)
                onUpdate(next)
              case None =>
                val next = graft.CacheScope.scoped {
                  val afterDel =
                    if (doDelete) graft.index.Hnsw.delete(cur, present, k) else cur
                  if (doInsert)
                    graft.index.Hnsw.insert(
                      afterDel, upserts, k = k, beam = beam, rounds = rounds,
                      shrink = shrink, topCap = topCap, perLayerK = perLayerK,
                      validate = false)
                  else afterDel
                }
                state.set(next)
                onUpdate(next)
            }
          }
        }
      }
      .start()
  }

  /** Streaming CDC apply: fold a stream of changelog micro-batches into a
    * maintained current-state snapshot with [[graft.rel.Merge]] — MERGE
    * INTO as a continuously-updated table, sharing one code path (and one
    * semantics) with the batch operator, exactly like [[ingest]] shares
    * the batch insert.
    *
    * Cross-batch ordering: each micro-batch applies atop the state the
    * previous batches produced, so a key whose changes span batches
    * resolves by ARRIVAL order, batch-internally by `ordCol` — the
    * standard CDC contract (a replayed/compacted changelog partitions
    * each key's history into one batch and is order-free). Every fold
    * `localCheckpoint`s the new state: lineage stays O(1) in batches, and
    * the superseded epoch's blocks drop eagerly.
    *
    * The evolving snapshot lives in the returned AtomicReference. */
  def applyChangelogStream(
      changes: DataFrame,
      initial: DataFrame,
      keyCol: String,
      ordCol: String,
      opCol: String): (StreamingQuery, java.util.concurrent.atomic.AtomicReference[DataFrame]) = {
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](initial)
    val q = changes.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          val next = graft.rel.Merge
            .applyChangelog(state.get(), batch.toDF(), keyCol, ordCol, opCol)
            .localCheckpoint()
          state.set(next)
        }
      }
      .start()
    (q, state)
  }

  /** Streaming incremental materialized-view maintenance: fold each
    * micro-batch's PARTIAL aggregate state into a maintained view with
    * [[graft.rel.IncrementalMv.mergePartials]] — the aggregate sibling of
    * [[applyChangelogStream]], sharing one code path (and one semantics)
    * with the batch q38 operator. Partial states are commutative monoids
    * (count/sum/min/max), so micro-batch slicing only re-associates the
    * fold — the final view equals the batch recompute, which is what the
    * shared oracle certifies. Every fold `localCheckpoint`s: lineage
    * stays O(1) in batches. Single-stream contract as
    * [[adaptiveMaintain]]: one stream per AtomicReference.
    *
    * The evolving PARTIAL-schema view lives in the returned reference;
    * finalize with [[graft.rel.IncrementalMv.merge]]. */
  def maintainMvStream(
      events: DataFrame): (StreamingQuery, java.util.concurrent.atomic.AtomicReference[DataFrame]) = {
    val s = events.sparkSession
    // initial state = the empty partial view, so an all-empty stream
    // finalizes to an empty view instead of handing callers a null
    val empty = graft.rel.IncrementalMv.partials(
      s.createDataFrame(s.sparkContext.emptyRDD[Row], events.schema))
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](empty)
    val q = events.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          val part = graft.rel.IncrementalMv.partials(batch.toDF())
          val next = graft.rel.IncrementalMv.mergePartials(state.get(), part).localCheckpoint()
          state.set(next)
        }
      }
      .start()
    (q, state)
  }

  /** One [[adaptiveMaintain]] batch summary: what the loop saw and did. */
  final case class MaintainTick(
      batch_id: Long,
      n_queries: Long,
      query_counter: Long,
      maintain_fired: Boolean,
      n_partitions: Long,
      n_live: Long)

  /** [engine-added, SURVEY.md §7.5] The reference's ADAPTIVITY loop run
    * online: a stream of queries drives the same per-partition hit
    * accounting the replay loop performs after every search batch
    * (quake_min.py:155), and `maintain()` fires INSIDE the stream the
    * moment any partition's size crosses its hotness-driven split
    * threshold (quake_min.py:173-175) — the cadence is the load itself,
    * not the replay protocol's fixed every-50-queries timer. Probe choice
    * is driver-side metadata math (`chooseProbesLocal`, parity-tested
    * against the distributed `chooseProbes`), so the per-batch accounting
    * costs microseconds; the split's grouped 2-means runs distributed as
    * in any batch `maintain`. The top-k gather a serving loop would also
    * run rides the same probe set (v08's plan) and is orthogonal to the
    * adaptivity being exercised here.
    *
    * `queryStream` carries `(query_id long, qvec array<float>)`. The
    * evolving model lives in the returned AtomicReference; `onTick` gets
    * one summary per non-empty micro-batch.
    *
    * Single-stream contract: the model is read-modify-written from THIS
    * query's foreachBatch thread with no CAS loop — one adaptiveMaintain
    * stream per AtomicReference. Two concurrent streams sharing one
    * reference would silently drop each other's hit accounting; start a
    * second stream only against its own reference/model. */
  def adaptiveMaintain(
      queryStream: DataFrame,
      initial: IvfModel,
      checkpointDir: String,
      hotQpsWindow: Double = IvfMaintain.HotQpsWindow,
      splitSize: Long = IvfMaintain.SplitSize,
      mergeSize: Long = IvfMaintain.MergeSize,
      params: IvfSearch.Params = IvfSearch.Params(),
      onTick: MaintainTick => Unit)
      : (StreamingQuery, java.util.concurrent.atomic.AtomicReference[IvfModel]) = {
    val state = new java.util.concurrent.atomic.AtomicReference[IvfModel](initial)
    val query = queryStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        import batch.sparkSession.implicits._
        val qRows = batch
          .select(col("query_id").cast("long"), col("qvec"))
          .as[(Long, Array[Float])]
          .collect()
        if (qRows.nonEmpty) {
          var model = state.get()
          val probes = IvfSearch.chooseProbesLocal(model, qRows.toIndexedSeq, params)
          // hit accounting (quake_min.py:155) from the local probe set
          val hitCounts = probes.groupBy(_._2).view.mapValues(_.size.toLong).toMap
          model = model.copy(
            partitions =
              model.partitions.map(p => p.copy(hits = p.hits + hitCounts.getOrElse(p.pid, 0L))),
            queryCounter = model.queryCounter + qRows.length)
          // the reference's own split condition decides the cadence: fire
          // only when some partition is actually due (size ≥ its dynamic
          // hotness threshold, and ≥ 16 — splitHot's floor)
          val due = model.partitions.exists(p =>
            p.size >= 16 &&
              p.size >= IvfMaintain.splitThreshold(p.hits, p.lastSplitAt, hotQpsWindow, splitSize))
          if (due) model = IvfMaintain.maintain(model, hotQpsWindow, splitSize, mergeSize)
          state.set(model)
          onTick(MaintainTick(
            id, qRows.length, model.queryCounter, due,
            model.partitions.length, model.partitions.count(_.size > 0)))
        }
      }
      .start()
    (query, state)
  }

  /** Event-time tumbling-window stats with late-data handling: the
    * streaming form of the batch q15 (same agg, plus watermark bounds on
    * state). `events` must carry `ts timestamp, event_type string,
    * value double`. */
  def windowedEventStats(events: DataFrame, watermarkDelay: String, windowLen: String): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum("value").as("sum_value"),
        min("value").as("min_value"),
        max("value").as("max_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"),
        col("n_events"),
        col("sum_value"),
        col("min_value"),
        col("max_value"))

  /** Streaming exact deduplication with WATERMARK-BOUNDED state: the
    * first occurrence of each key is emitted immediately, replays arriving
    * within the watermark horizon are dropped, and each key's state
    * expires once the watermark passes it — so on an unbounded 100 TB/day
    * feed the dedup state holds only the horizon's keys, never history.
    * (`dropDuplicatesWithinWatermark`, Spark's state-expiring dedup; a
    * bare `dropDuplicates` in a stream grows state forever. The batch
    * analog is [[graft.text.Dedup.exactGroups]] — same content-hash key.)
    *
    * `tsCol` must be the event-time column; keys recurring FARTHER apart
    * than `watermarkDelay` re-emit by design (their state has expired) —
    * exact global dedup over unbounded time is a batch job, not a stream.
    */
  def dedupExact(df: DataFrame, tsCol: String, keyCols: Seq[String], watermarkDelay: String): DataFrame =
    df.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream–STATIC broadcast decontamination — the GPT-3/Pile 5-gram rule
    * ([[graft.text.Dedup.contaminatedDocs]]) applied at ingest time:
    * arriving training docs are shingled in-stream (pure expressions, no
    * state), semi-joined against the STATIC benchmark shingle set (small
    * by construction — broadcast, so the stream side never shuffles to
    * meet it), and each contaminated doc is emitted ONCE via
    * watermark-bounded dedup (a doc sharing many shingles matches many
    * rows; the dedup state holds only the horizon's doc ids). This is the
    * stream-static join class of Structured Streaming — the shape that
    * filters a firehose against a fixed denylist/benchmark without ever
    * re-scanning the corpus.
    *
    * @return streaming `(doc_id)` — contaminated doc ids, first-seen once
    */
  def decontaminateStream(
      docs: DataFrame,
      benchShingles: DataFrame,
      shingleN: Int,
      tsCol: String,
      watermarkDelay: String): DataFrame = {
    import graft.text.TextOps
    // tokenization MUST be staged in its own projection (as shingleRows
    // does): inlined into the shingle transform's lambda it is re-split
    // once per shingle ELEMENT — O(tokens²) per doc, measured 15× slower
    // on the fixture corpus
    val withToks = docs.select(
      col("doc_id"), col(tsCol).as("ts"), TextOps.tokens(col("text")).as("_toks"))
    val sh = withToks.select(
      col("doc_id"),
      col("ts"),
      explode(array_distinct(TextOps.shingles(col("_toks"), shingleN))).as("s"))
    sh.join(broadcast(benchShingles.select("s")), Seq("s"), "left_semi")
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("doc_id")
      .select("doc_id")
  }

  /** Streaming incremental near-dup screen: every micro-batch of NEW
    * documents is checked against a STATIC corpus LSH index with the
    * batch path ([[graft.text.Dedup.minhashLshAgainstIndex]]) — the
    * online version of the nightly-increment screen (d08), and the
    * near-dup sibling of [[decontaminateStream]]'s exact-contamination
    * check. The corpus is signed and banded ONCE (the prebuilt
    * [[graft.text.Dedup.LshIndex]], served from cache across every
    * trigger); each micro-batch signs only its own documents and meets
    * the corpus band table through the d08 broadcast-delta join, so the
    * corpus is never re-shuffled per trigger.
    *
    * Because each delta document arrives wholly within one micro-batch
    * and screening is per-document against the static corpus, the union
    * of per-batch results is EXACTLY the batch screen of the full delta
    * (s10 proves it against d08's own oracle — the q33/s08
    * batch≡stream technique). Found pairs accumulate in the returned
    * AtomicReference (localCheckpointed per batch, so lineage stays
    * flat across triggers); same single-stream contract as
    * [[applyChangelogStream]].
    */
  def lshScreenStream(
      idx: graft.text.Dedup.LshIndex,
      deltaStream: DataFrame,
      minEstJaccard: Double): (StreamingQuery, java.util.concurrent.atomic.AtomicReference[DataFrame]) = {
    val spark = idx.sig.sparkSession
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("delta_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("corpus_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("est_jaccard", org.apache.spark.sql.types.DoubleType))))
    val state = new java.util.concurrent.atomic.AtomicReference[DataFrame](empty)
    val q = deltaStream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          // scoped: the screen caches the batch's signature table; a
          // long-running stream must drop it at trigger end (one leaked
          // cache per micro-batch otherwise) while the corpus index's
          // own caches — tracked before the stream started — survive.
          // localCheckpoint materializes the result before the drop.
          val next = graft.CacheScope.scoped {
            val found = graft.text.Dedup.minhashLshAgainstIndex(idx, batch.toDF(), minEstJaccard)
            state.get().unionByName(found).localCheckpoint()
          }
          state.set(next)
        }
      }
      .start()
    (q, state)
  }

  /** Streaming Count-Min sketch: the d×w counter grid maintained as an
    * UNBOUNDED streaming aggregation — the canonical reason sketches
    * exist. State is the sketch itself: O(depth·width) grid rows
    * regardless of stream length (2048 cells at the t09/s09 config),
    * where exact streaming heavy-hitters would hold per-key state that
    * grows with the vocabulary. Run with complete-mode output; each
    * trigger emits the current grid, and because counter addition is
    * commutative and micro-batch slicing only re-associates it, the
    * final emission is IDENTICAL to the batch sketch of the same rows —
    * the s09 driver query proves it against t09's own oracle (the
    * q33/s08 batch≡stream technique applied to sketches).
    *
    * Deliberately the SAME plan as the batch path — this is
    * [[graft.text.Cms.sketch]] applied to a streaming DataFrame (one
    * code path, one semantics, like [[applyChangelogStream]] reusing
    * the batch MERGE); the wrapper exists to document the streaming
    * contract (complete output mode, bounded state).
    */
  def cmsSketchStream(toks: DataFrame, tokCol: String, depth: Int, width: Int): DataFrame =
    graft.text.Cms.sketch(toks, tokCol, depth, width)

  /** Watermarked stream-stream interval join: match each left row to the
    * right rows with the same `key` whose event time falls in
    * `[leftTs, leftTs + maxLag]` — the click→purchase attribution shape.
    * The watermarks plus the two-sided time-range condition are what make
    * the operator RUN UNBOUNDED: Spark derives each side's state-eviction
    * bound from them (a left row can be dropped once the right watermark
    * passes `leftTs + maxLag`, and vice versa), so buffered state holds
    * only the lag horizon, never stream history. A stream-stream join
    * without both ingredients buffers forever — that is the 100 TB/day
    * failure mode this signature forecloses.
    *
    * `joinType` `"inner"` emits matches as soon as both sides arrive;
    * `"left_outer"` ALSO emits each unmatched left row (right columns
    * null) once the watermark proves no match can still arrive inside
    * the lag window — the conversion-funnel-with-dropouts shape, riding
    * the same state-expiry machinery.
    *
    * The two inputs must have disjoint column names apart from `key`
    * (pre-alias them, as any self-join requires).
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTsCol: String,
      rightTsCol: String,
      watermarkDelay: String,
      maxLag: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTsCol, watermarkDelay).alias("r")
    l.join(
        r,
        col(s"l.$key") === col(s"r.$key") &&
          col(rightTsCol) >= col(leftTsCol) &&
          col(rightTsCol) <= col(leftTsCol) + expr(s"INTERVAL $maxLag"),
        joinType)
      .drop(col(s"r.$key"))
  }

  /** Gap-based sessionization with CUSTOM state — the
    * `flatMapGroupsWithState` surface (the windowed aggs above can't
    * express "session ends `gap` after the LAST event"): per user, events
    * more than `gapUs` apart start a new session; a session is emitted the
    * moment a later event closes it, and the event-time TIMEOUT flushes
    * the final open session once the watermark passes its gap horizon —
    * so the event backlog in state is bounded by the watermark window, not
    * by history length (what survives per ever-seen user is a few-dozen-
    * byte session-counter tombstone, kept so `session_idx` never restarts).
    *
    * Callers must put a watermark on `events`' `ts` before calling (the
    * event-time timeout requires one). Semantics match the batch q22
    * sessionization exactly (same gap rule, same `(us, event_id)` order,
    * `session_idx` counts from 1 per user) — parity-tested in
    * StreamingSpec and hash-checked against the q22 DuckDB oracle via s03.
    *
    * Late data: rows older than the watermark are dropped by Spark before
    * they reach the state function — the standard streaming contract; rows
    * late-but-inside-the-watermark merge correctly as long as they don't
    * precede an already-emitted session (gap sessionization is
    * prefix-incremental, so in-order feeds and one-batch feeds are exact).
    */
  def sessionize(events: Dataset[SessionEvent], gapUs: Long): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed the open session's gap horizon — flush it.
            // The state shrinks to a COUNTER TOMBSTONE (n = 0) rather than
            // being removed: session_idx must keep counting if this user
            // returns (state.remove() would restart at 1, breaking the
            // batch-q22 numbering parity and duplicating (user, idx) keys).
            // A tombstone is a few dozen bytes per distinct user — the
            // event backlog itself is still bounded by the watermark.
            val st = state.get
            state.update(st.copy(n = 0L))
            Iterator.single(SessionRow(uid, st.nextIdx, st.n, st.startUs, st.endUs - st.startUs))
          } else {
            val evs = it.toArray.sortBy(e => (e.us, e.event_id))
            val out = Vector.newBuilder[SessionRow]
            var st = state.getOption.getOrElse(SessionState(0L, -1L, -1L, 0L))
            for (e <- evs) {
              if (st.n == 0L) st = SessionState(st.nextIdx + 1, e.us, e.us, 1L)
              else if (e.us - st.endUs > gapUs) {
                out += SessionRow(uid, st.nextIdx, st.n, st.startUs, st.endUs - st.startUs)
                st = SessionState(st.nextIdx + 1, e.us, e.us, 1L)
              } else st = st.copy(endUs = math.max(st.endUs, e.us), n = st.n + 1)
            }
            state.update(st)
            // re-arm the timeout each invocation (it resets per call); it
            // must sit strictly past the current watermark or Spark throws
            val horizon = st.endUs / 1000L + gapUs / 1000L + 1L
            state.setTimeoutTimestamp(math.max(horizon, state.getCurrentWatermarkMs() + 1L))
            out.result().iterator
          }
      }
  }
}
