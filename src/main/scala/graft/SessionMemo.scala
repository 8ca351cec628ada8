package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Memo for a build made once per (session, data dir): an index, a
  * fixture layout or an expectation scalar that every later invocation
  * in the same session reuses.
  *
  * Sessions are keyed by the live object in a WeakHashMap, not by an
  * identity hash: an identity hash can be reused after its session is
  * collected, which would hand a new session a build made under another
  * session's configs, and the weak key lets a dead session's builds be
  * collected instead of accumulating (unless the value itself holds the
  * session, as a DataFrame does). Each memo owns its own maps, so one
  * build may call another memo without a recursive update on a shared
  * map. `build` runs at most once per key, also when threads race. */
final class SessionMemo[T] {
  private val bySession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, T]]())

  def apply(spark: SparkSession, dir: String)(build: => T): T =
    bySession.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, T]())
      .computeIfAbsent(dir, _ => build)
}
