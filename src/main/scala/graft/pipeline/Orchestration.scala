package graft.pipeline

/** Micro-batching for external-call stages (`benchmark.py:377-428`,
  * `hf.py:422-483`): chunk a partition's iterator into fixed-size batches,
  * call the batch function, and re-flatten preserving order. The reference's
  * sliding async pool (`benchmark.py:447-516`) maps onto partition-level
  * parallelism + this batching; order restoration is positional within the
  * batch (the reference's index-addressed writeback).
  */
object Batching {
  def mapBatched[A, B](it: Iterator[A], batchSize: Int)(fn: Seq[A] => Seq[B]): Iterator[B] = {
    require(batchSize > 0)
    it.grouped(batchSize).flatMap { batch =>
      val out = fn(batch)
      require(out.length == batch.length,
        s"batch fn must be 1:1 (got ${out.length} for ${batch.length})")
      out
    }
  }
}
