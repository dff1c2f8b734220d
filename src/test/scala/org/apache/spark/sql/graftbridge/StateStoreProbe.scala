package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}

/** Test-side view of the process-wide state-store provider registry:
  * which query runs still have providers loaded in this JVM. The
  * registry is private to `StateStore`, and checking one provider with
  * `StateStore.isLoaded` needs its checkpoint path, which a memory-sink
  * query that picks its own checkpoint does not expose. */
object StateStoreProbe {
  def loadedRunIds(): Set[java.util.UUID] = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    val providers = f.get(StateStore)
      .asInstanceOf[scala.collection.mutable.HashMap[StateStoreProviderId, _]]
    providers.synchronized(providers.keysIterator.map(_.queryRunId).toSet)
  }
}
