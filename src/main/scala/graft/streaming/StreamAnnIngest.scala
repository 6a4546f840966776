package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.IvfIndex

/** Streaming ANN-index ingestion — the `writeStream` face of
  * [[IvfIndex.append]], closing the one index family (the persisted
  * IVF/PQ artifact: x146/x148) that had batch build/append/search
  * routes but no ingestion-time sink while every dedup index has one
  * ([[StreamCdc]], [[StreamMediaDedup]], [[StreamFrameOverlap]]).
  * Embeddings flowing off a production encoder land in the searchable
  * index within a trigger; [[IvfIndex.search]] reads the growing
  * artifact directly.
  *
  * The quantizer is FROZEN: the index must be pre-built from a
  * representative seed corpus ([[IvfIndex.build]] — the x146
  * discipline), and every streamed batch is assigned (and, on a PQ
  * index, encoded) with the artifact's own centroids/codebooks, so
  * assignments stay consistent with every previous batch by
  * construction. The sink is deliberately THIN — per batch, one
  * [[IvfIndex.append]] call: the assignment projection, the
  * epoch-partitioned cell write, and the crash-safe commit order all
  * live in the operator; what the sink adds is exactly-once.
  *
  * '''Exactly-once''': each batch appends under tag `batch_<id>`,
  * which commits atomically with the epoch bump in the index meta
  * (see [[IvfIndex.append]]). Structured Streaming replays only the
  * last in-flight batch after a crash, and that batch's tag is
  * already the index's last committed one iff the append fully
  * committed — so a replay never appends twice, and a crash BEFORE
  * the meta commit left the torn epoch invisible (swept by the
  * retry). Re-running with a FRESH checkpoint over an already-fed
  * index is not a replay and is unsupported — the batch-id tags
  * restart at 0 (the [[StreamCdc]] wipe-together rule).
  *
  * Scale shape: per-batch cost ∝ batch vectors (one assignment
  * projection + a cell-keyed write); probes partition-prune by cell
  * and never scan the corpus. Vec ids must be globally unique across
  * batches, the same precondition as every delta route. */
object StreamAnnIngest {

  /** Start the sink: append each micro-batch of `(idCol, embCol)`
    * rows to the pre-built index at `indexPath`. */
  def sink(embeddings: DataFrame, indexPath: String, checkpoint: String,
      idCol: String = "vec_id", embCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(new java.io.File(s"$indexPath/meta").isDirectory,
      s"StreamAnnIngest: no IVF index at $indexPath — build one from " +
        "a seed corpus first (IvfIndex.build); the stream appends " +
        "under its frozen quantizer")
    embeddings.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          IvfIndex.append(batch.sparkSession, indexPath, batch,
            idCol, embCol, tag = Some(s"batch_$batchId"))
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
