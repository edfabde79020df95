package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.queries.Dedup

/** Streaming NEAR-dup dedup within a watermark (r16 verdict ask #4):
  * [[EventStreams.dedupWithinWatermark]] covers exact business keys; a
  * training-data ingest stream also needs to surface near-duplicate
  * documents as they arrive. Shape: the MinHash signature is computed IN
  * THE EVENT (pure per-row expressions — [[Dedup.rowBandRows]], the
  * stream-applicable formulation of q23's signature math), each document
  * explodes into its LSH band keys, and per (band, band_sig) bucket a
  * `flatMapGroupsWithState` keeps the ids seen inside the watermark
  * window and emits a candidate pair for every (earlier, new) co-bucket
  * arrival. Event-time timeout evicts a bucket once the watermark passes
  * its last arrival + delay — state is bounded by the ACTIVE WINDOW's
  * band fan-out, never the corpus, which is what makes the operator
  * runnable forever at 100 TB/day ingest.
  *
  * Semantics pinned by StreamingSpec (MemoryStream; not batch-expressible
  * end-to-end, so no CORRECTNESS entry — the same declared class as
  * watermark late-drop):
  *   - the drained candidate pair set over an in-window corpus equals the
  *     batch band join (bandRows ∘ minhashState self-join) exactly;
  *   - q23's verified near-dup pairs are a subset (banding loses nothing);
  *   - a duplicate arriving after its twin's bucket state expired is NOT
  *     paired — the within-watermark contract.
  *
  * Downstream, exact Jaccard verification of the candidate pairs is the
  * batch joins' shared verify (`Dedup.jaccardVerified`) via q108's
  * probeVerdicts under foreachBatch (already spec-driven) — this
  * operator contributes the missing STATEFUL candidate generation
  * between stream arrivals.
  */
object NearDupStream {

  /** One banded signature row in flight: doc + event time + band key. */
  case class BandArrival(doc_id: Long, ts: java.sql.Timestamp,
                         band: Int, band_sig: String)

  /** A candidate near-dup pair surfaced by the stream (doc_a < doc_b);
    * `band` records which table produced it — distinct over (doc_a,
    * doc_b) downstream, exactly like the batch candidate dedup. */
  case class CandidatePair(band: Int, doc_a: Long, doc_b: Long)

  /** Per-bucket state: ids seen while the bucket's window is open, plus
    * the max event time (the timeout anchor). */
  case class BucketState(docIds: List[Long], maxTsMs: Long)

  /** Build the streaming candidate plan over a (doc_id, text, ts) frame.
    * `delayMs` is the within-watermark window: a bucket's remembered ids
    * pair with arrivals until the watermark passes the bucket's last
    * arrival + delay. Streaming-only (the event-time timeout needs a real
    * watermark, which batch mode doesn't materialize); batch parity is
    * pinned by StreamingSpec against the bandRows∘minhashState self-join
    * on the drained corpus instead.
    */
  def candidates(docs: DataFrame, delayMs: Long): Dataset[CandidatePair] = {
    import docs.sparkSession.implicits._
    require(delayMs > 0, "watermark delay must be positive")
    Dedup.rowBandRows(docs.select("doc_id", "text", "ts"))
      .withWatermark("ts", s"$delayMs milliseconds")
      .as[BandArrival]
      .groupByKey(r => (r.band, r.band_sig))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout)(pairFn(delayMs))
  }

  private def pairFn(delayMs: Long)(
      key: (Int, String), rows: Iterator[BandArrival],
      state: GroupState[BucketState]): Iterator[CandidatePair] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      // SEMANTIC eviction, not just physical: the event-time timeout only
      // fires on a batch where the bucket got NO data, so a bucket whose
      // window closed and which then receives a fresh arrival in the same
      // batch its timeout would have fired must still forget the expired
      // ids — check the window against the current watermark explicitly.
      val st = state.getOption
        .filter(s => state.getCurrentWatermarkMs() < s.maxTsMs + delayMs)
        .getOrElse(BucketState(Nil, 0L))
      // deterministic intra-batch order (micro-batch iterators aren't)
      val arr = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
      var known = st.docIds
      val out = Seq.newBuilder[CandidatePair]
      arr.foreach { r =>
        known.foreach { k =>
          if (k != r.doc_id)
            out += CandidatePair(key._1, math.min(k, r.doc_id), math.max(k, r.doc_id))
        }
        if (!known.contains(r.doc_id)) known = r.doc_id :: known
      }
      val maxTs = math.max(st.maxTsMs, arr.map(_.ts.getTime).max)
      state.update(BucketState(known, maxTs))
      // physical cleanup once the watermark passes last arrival + delay
      state.setTimeoutTimestamp(maxTs + delayMs)
      out.result().iterator
    }
  }
}
