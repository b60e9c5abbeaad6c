package graft.streaming

import graft.functions.MinhashHash
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate candidate detection over a document
  * stream — the streaming front-door of the batch MinHash pipeline.
  *
  * The map-side signature kernel is what makes this streamable: each
  * arriving document is a STATELESS projection to its 64-value
  * signature and 16 band keys (no shuffle-and-reaggregate stage to
  * re-run per micro-batch), so the only state in the query is the
  * per-bucket membership list. A later document colliding with an
  * earlier one on any band key emits the candidate pair immediately.
  *
  * State discipline (the always-on deployment):
  *  - per-bucket id lists are capped at maxBucketSize — the streaming
  *    analog of the batch counted-bucket guard: a boilerplate bucket
  *    stops accumulating and stops emitting pairs instead of growing
  *    O(stream) state and O(n²) output;
  *  - idle buckets expire by processing-time timeout, bounding total
  *    state by the active working set;
  *  - pairs may repeat across bands (as in batch before the distinct);
  *    the downstream exact-Jaccard verify — batch or per-micro-batch —
  *    dedups and filters exactly like the batch pipeline.
  */
object StreamingNearDup {

  /** Candidate pairs (doc_a < doc_b) from a streaming (doc_id, text)
    * input. `idleTimeout` (e.g. Some("1 hour")) expires buckets not hit
    * since — the right setting for an always-on deployment. NOTE:
    * processing-time timeouts make the engine run continuous empty
    * micro-batches to fire them, so bounded replays/tests (anything
    * that waits for quiescence with processAllAvailable) should pass
    * None, which keeps state until the query stops.
    *
    * Mega-bucket semantics DIVERGE from batch, deliberately: the batch
    * pipeline counts a bucket first and drops an over-cap bucket
    * entirely (zero pairs), but a stream cannot know a bucket's final
    * size when its early members arrive, and Append mode cannot
    * retract pairs already emitted — so the stream emits pairs among
    * the first maxBucketSize arrivals and then stops accumulating.
    * Replaying a corpus through both paths therefore differs exactly
    * on over-cap (boilerplate) buckets: streaming keeps up to
    * C(maxBucketSize, 2) of their pairs, batch keeps none. Buffering
    * pairs until a watermark confirms the bucket under-cap would
    * restore parity at the cost of emission latency; for candidate
    * generation the early-member pairs are the more useful behavior.
    */
  def candidates(
    spark: SparkSession,
    input: DataFrame,
    w: Int = 3,
    bands: Int = 16,
    maxBucketSize: Int = 64,
    idleTimeout: Option[String] = Some("1 hour")
  ): Dataset[(Long, Long)] = {
    import spark.implicits._
    require(
      bands > 0 && bands <= Dedup.MinhashSeeds && Dedup.MinhashSeeds % bands == 0,
      s"bands must evenly divide ${Dedup.MinhashSeeds} signature values, got $bands"
    )
    input
      .select(col("doc_id"), MinhashHash.signature(Dedup.shingles(w)).as("__sig"))
      // null-text docs have no signature (null) — drop them, as the
      // batch pipeline does; without this every null doc would share
      // the all-null band key and pair with every other null doc
      .filter(col("__sig").isNotNull)
      // packed band keys (one long per band — MinhashHash.bandPack),
      // the same bucket identity the batch path shuffles on: 8-byte
      // state-store keys instead of rowsPerBand-long arrays
      .select(col("doc_id"), posexplode(MinhashHash.bandKeys(col("__sig"), bands)).as(Seq("band", "key")))
      .as[(Long, Int, Long)]
      .groupByKey { case (_, band, key) => (band, key) }
      .flatMapGroupsWithState[Seq[Long], (Long, Long)](
        OutputMode.Append,
        idleTimeout.fold[GroupStateTimeout](GroupStateTimeout.NoTimeout)(_ =>
          GroupStateTimeout.ProcessingTimeTimeout
        )
      ) { case (_, rows, state: GroupState[Seq[Long]]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var seen = state.getOption.getOrElse(Seq.empty)
          val out = Seq.newBuilder[(Long, Long)]
          rows.foreach { case (id, _, _) =>
            if (!seen.contains(id) && seen.size < maxBucketSize) {
              seen.foreach { other =>
                out += (if (id < other) (id, other) else (other, id))
              }
              seen = seen :+ id
            }
          }
          state.update(seen)
          idleTimeout.foreach(state.setTimeoutDuration)
          out.result().iterator
        }
      }
      .toDF("doc_a", "doc_b")
      .as[(Long, Long)]
  }

  /** VERIFIED near-dup pairs from a document stream: the per-bucket
    * state additionally carries each member's full 64-value signature,
    * and a colliding pair is emitted only when the MinHash ESTIMATE of
    * its Jaccard — the fraction of agreeing signature slots, unbiased
    * with σ = √(J(1−J)/64) — clears `tau`.
    *
    * This is the streaming counterpart of the batch pipeline's exact
    * verify. Exact shingle-set intersection needs both documents'
    * shingle sets, which for cross-micro-batch pairs would mean
    * retaining document content in state indefinitely; the stream
    * instead verifies on the signatures it already holds (64 longs per
    * member, still bounded by maxBucketSize per bucket). Feed the
    * surviving pairs to the batch `Dedup.setJaccard` offline when the
    * exact value is required. A pair colliding in several bands is
    * emitted once per colliding band (Append mode cannot dedup across
    * state keys); downstream consumers dedup on (doc_a, doc_b).
    */
  def verified(
    spark: SparkSession,
    input: DataFrame,
    w: Int = 3,
    bands: Int = 16,
    tau: Double = 0.5,
    maxBucketSize: Int = 64,
    idleTimeout: Option[String] = Some("1 hour")
  ): Dataset[(Long, Long, Double)] = {
    import spark.implicits._
    require(
      bands > 0 && bands <= Dedup.MinhashSeeds && Dedup.MinhashSeeds % bands == 0,
      s"bands must evenly divide ${Dedup.MinhashSeeds} signature values, got $bands"
    )
    input
      .select(col("doc_id"), MinhashHash.signature(Dedup.shingles(w)).as("__sig"))
      .filter(col("__sig").isNotNull)
      // packed band keys, as in `candidates`
      .select(col("doc_id"), col("__sig"), posexplode(MinhashHash.bandKeys(col("__sig"), bands)).as(Seq("band", "key")))
      .as[(Long, Seq[Long], Int, Long)]
      .groupByKey { case (_, _, band, key) => (band, key) }
      .flatMapGroupsWithState[Seq[(Long, Seq[Long])], (Long, Long, Double)](
        OutputMode.Append,
        idleTimeout.fold[GroupStateTimeout](GroupStateTimeout.NoTimeout)(_ =>
          GroupStateTimeout.ProcessingTimeTimeout
        )
      ) { case (_, rows, state: GroupState[Seq[(Long, Seq[Long])]]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          var seen = state.getOption.getOrElse(Seq.empty)
          val out = Seq.newBuilder[(Long, Long, Double)]
          rows.foreach { case (id, sig, _, _) =>
            if (!seen.exists(_._1 == id) && seen.size < maxBucketSize) {
              seen.foreach { case (oid, osig) =>
                var m = 0
                var i = 0
                while (i < sig.length) {
                  if (sig(i) == osig(i)) m += 1
                  i += 1
                }
                val est = m.toDouble / sig.length
                if (est >= tau)
                  out += (if (id < oid) (id, oid, est) else (oid, id, est))
              }
              seen = seen :+ ((id, sig))
            }
          }
          state.update(seen)
          idleTimeout.foreach(state.setTimeoutDuration)
          out.result().iterator
        }
      }
      .toDF("doc_a", "doc_b", "est_jaccard")
      .as[(Long, Long, Double)]
  }

  /** Incremental connected components over a streamed pair feed — the
    * streaming analog of the batch [[Dedup.connectedComponents]]: a
    * union-find forest carried in state, unioned with each
    * micro-batch's pairs, so components MERGE ACROSS BATCHES instead
    * of restarting per batch. Union-by-min keeps every root the
    * component's minimum doc_id — the same cluster identity (and
    * survivor convention: doc_id == cluster) the batch loop's
    * pointer-jumped min labels settle on.
    *
    * Each batch emits the CURRENT (doc_id, cluster) assignment for
    * every document in a component touched this batch; Append mode
    * cannot retract, so a merge re-emits its members under the new
    * root and consumers keep the latest row per doc_id (the same
    * latest-wins contract as any CDC-style stream).
    *
    * Scale shape, stated honestly: the pair feed is the VERIFIED
    * near-dup output — events orders of magnitude rarer than
    * documents — and the forest holds only docs that appeared in some
    * pair (the duplicate working set), capped loudly at `maxDocs`.
    * The single state key serializes union application exactly like
    * the reference's per-session tracker map; shard by corpus
    * namespace upstream when one working set outgrows a task.
    */
  def incrementalClusters(
    spark: SparkSession,
    pairs: Dataset[(Long, Long)],
    maxDocs: Int = 1 << 20
  ): Dataset[(Long, Long)] = {
    import spark.implicits._
    pairs
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[Map[Long, Long], (Long, Long)](
        OutputMode.Append,
        GroupStateTimeout.NoTimeout
      ) { case (_, rows, state: GroupState[Map[Long, Long]]) =>
        val parent = scala.collection.mutable.Map[Long, Long]() ++
          state.getOption.getOrElse(Map.empty[Long, Long])
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          // path compression keeps chains flat across batches
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        val touchedRoots = scala.collection.mutable.Set[Long]()
        rows.foreach { case (a, b) =>
          require(
            parent.size < maxDocs || (parent.contains(a) && parent.contains(b)),
            s"StreamingNearDup.incrementalClusters: union-find exceeds $maxDocs docs — shard the pair stream upstream"
          )
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a)
          val rb = find(b)
          val root = math.min(ra, rb)
          parent(ra) = root
          parent(rb) = root
          touchedRoots += root
        }
        // re-root every member once so the state map stays one hop deep
        val members = parent.keys.toSeq.map(d => (d, find(d)))
        state.update(members.toMap.map { case (d, r) => d -> r })
        members.filter { case (_, r) => touchedRoots(r) }.iterator
      }
      .toDF("doc_id", "cluster")
      .as[(Long, Long)]
  }
}
