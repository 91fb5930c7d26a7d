package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Accessor for the engine's per-session UUID (`private[sql]` on the
  * classic session, hence this shim in the sql package — the same access
  * route the expression registrations here already use). Graft's
  * session-scoped caches key on it: unlike
  * `System.identityHashCode`, a UUID is never reused after the owning
  * session is GC'd, so a fresh session can never inherit a dead session's
  * checkpointed state from a cache.
  */
object SessionUid {
  // non-classic fallback: an identityHashCode can be REUSED
  // after the owning session is GC'd — exactly the hazard this shim
  // removes for classic sessions — so non-classic sessions get a fresh
  // UUID assigned once per session identity. Weak keys: the map must not
  // keep dead sessions reachable.
  private val fallback =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  def of(s: SparkSession): String = s match {
    case cs: org.apache.spark.sql.classic.SparkSession => cs.sessionUUID
    case other =>
      fallback.computeIfAbsent(other,
        _ => "uid-" + java.util.UUID.randomUUID().toString)
  }
}
