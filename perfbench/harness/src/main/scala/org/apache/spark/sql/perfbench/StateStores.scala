package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.streaming.state.StateStore

/** Drops the state-store providers a stopped streaming query left loaded.
  * Spark's maintenance task unloads them only on its next round; until
  * then they keep the query's last state versions on the heap, so a heap
  * reading would depend on when it was taken. `StateStore` is internal
  * to Spark SQL, hence this one-line bridge. */
object StateStores {
  def unloadAll(): Unit = StateStore.unloadAll()
}
