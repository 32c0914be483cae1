package org.apache.spark.graft

import org.apache.spark.executor.IsolatedSessionState

/** The executor's isolated sessions (one per session UUID its tasks
  * carried, each with its own class loader) are `private[spark]`;
  * this shim lives in an `org.apache.spark` subpackage, beside
  * [[ListenerDrain]], solely to let a spec count them. */
object ExecutorSessions {
  def count: Int = IsolatedSessionState.sessions.size
}
