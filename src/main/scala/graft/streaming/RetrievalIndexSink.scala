package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.PostingsIndex

/** Continuous maintenance of the persisted BM25 postings index
  * ([[graft.operators.PostingsIndex]]) — the streaming twin of q92's
  * batch loop: per micro-batch of (doc_id, text), append the batch's
  * postings and advance the df + corpus-stats sidecars by the batch's
  * signed deltas, so retrieval queries (q91's probe) always see a
  * consistent index over everything ingested so far. Per-batch cost is
  * O(batch) postings + O(vocabulary) sidecar merge — never a corpus
  * rescan.
  *
  * Exactly-once, with a SHARPER seam than [[IngestDedupSink]]'s: there,
  * a replayed band append was harmless by construction (probes count
  * DISTINCT partners); here, a double-applied append changes SCORES —
  * duplicate postings rows would double tf sums and a double-applied df
  * delta shifts idf for every future query. Two mechanisms close it:
  *
  *  - the sidecar version chain is the commit protocol: batch b writes
  *    sidecar slot v=b+1 computed deterministically from slot v=b and
  *    the batch content, so a crash ANYWHERE between the postings
  *    append and the pointer move replays into byte-identical files in
  *    the same slot. The sidecar root is this sink's [[VersionedPointer]]
  *    log: its `_LATEST` is the gate (batch b is served once the
  *    pointer reaches b+1) and its `_EPOCH` binds the checkpoint
  *    lineage, so a stream restarted with a wiped checkpoint fails
  *    fast instead of skipping every batch below the old pointer;
  *  - postings file storage stays at-least-once, and the probe reads
  *    row-DISTINCT on (term, doc_id) — replay duplicates are identical
  *    full rows, so the distinct restores the exact posting set.
  *
  * Batches are sequential under Structured Streaming, so slot b+1's
  * base (slot b) is always the fully-committed predecessor.
  */
object RetrievalIndexSink {

  /** Apply one micro-batch of (doc_id, text); false iff batch b was
    * already fully committed (sidecar pointer at or past b+1). `epoch`
    * is the checkpoint-lineage guard; attach() always passes it.
    */
  def applyBatch(batch: DataFrame, batchId: Long, indexName: String,
      indexPath: Path, epoch: Option[String] = None): Boolean =
    VersionedPointer.serve(PostingsIndex.sidecarRoot(indexPath).toString,
        batchId + 1, epoch) {
      PostingsIndex.append(batch.sparkSession, indexName, indexPath,
        batch.select("doc_id", "text"), toVersion = Some(batchId + 1))
    }

  /** Attach to a (doc_id, text) stream. The index must exist:
    * [[PostingsIndex.buildIndexDocs]] over the seed corpus (empty frame
    * for a cold start) writes postings + sidecar v=0.
    */
  def attach(docs: DataFrame, indexName: String, indexPath: Path,
      checkpointDir: String): StreamingQuery =
    VersionedPointer.attach(docs, checkpointDir) { (batch, batchId, epoch) =>
      applyBatch(batch, batchId, indexName, indexPath, epoch)
    }
}
