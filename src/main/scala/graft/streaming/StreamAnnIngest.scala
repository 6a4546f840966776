package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}

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
  * construction. The sink opens the index once, at start — an absent,
  * torn or older-version index fails there, before the query runs —
  * and is one [[TieredIndex.trigger]] over the index's lists and
  * masses stores: streaming batch `b` is store batch `b + 1` (batch 0
  * is the seed), appended by [[IvfIndex.append]] and then folded on
  * the stores' schedule (every 16 committed batches).
  *
  * '''Exactly-once''' is the [[TieredIndex]] argument: Structured
  * Streaming replays only the last uncommitted batch, and a replayed
  * batch overwrites exactly its own directories in both stores. Re-
  * running with a FRESH checkpoint over an already-fed index is not a
  * replay and is unsupported — the batch ids restart (the
  * [[StreamCdc]] wipe-together rule).
  *
  * Scale shape: per-batch cost ∝ batch vectors (one assignment
  * projection, a cell-bucketed write and a ≤ nLists-row mass write);
  * probes prune by cell bucket and never scan the corpus. Vec ids must
  * be globally unique across batches, the same precondition as every
  * delta route. */
object StreamAnnIngest {

  /** Start the sink: append each micro-batch of `(idCol, embCol)`
    * rows to the pre-built index at `indexPath`. */
  def sink(embeddings: DataFrame, indexPath: String, checkpoint: String,
      idCol: String = "vec_id", embCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val index = IvfIndex.open(embeddings.sparkSession, indexPath)
    val run = TieredIndex.trigger[Row]("StreamAnnIngest", index.stores,
      16)(index.append(_, _, idCol, embCol))
    embeddings.writeStream
      .foreachBatch((batch: DataFrame, b: Long) => run(batch, b + 1))
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
