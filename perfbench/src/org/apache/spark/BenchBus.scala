package org.apache.spark

/** Package-private Spark internals the benchmark reads. */
object BenchBus {
  /** Drains the listener bus, so no event is still in flight when the
    * benchmark reads its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes Spark's memory manager has handed out: execution memory (sort,
    * aggregation and join buffers) plus storage memory (cached blocks,
    * persisted and checkpointed RDDs). 0 without a running context. */
  def managedMemoryUsed(): Long = Option(SparkEnv.get).map { env =>
    env.memoryManager.executionMemoryUsed + env.memoryManager.storageMemoryUsed
  }.getOrElse(0L)
}
