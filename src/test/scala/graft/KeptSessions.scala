package graft

import org.apache.spark.sql.SparkSession

/** Sessions a spec builds besides the shared one, kept reachable for
  * the JVM's life. Spark deletes a collected session's artifact
  * directory with an `rm -rf` from a cleaner thread, whenever the
  * session happens to be collected; a kept session is never collected,
  * so that process never starts inside a later spec's process probe
  * (`ScaleInvariantsSpec`'s steady waves).
  */
object KeptSessions {

  private val sessions = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** `s`, kept reachable. */
  def keep(s: SparkSession): SparkSession = { sessions.add(s); s }
}
