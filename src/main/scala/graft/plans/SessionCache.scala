package graft.plans

import java.lang.ref.{ReferenceQueue, WeakReference}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Session-scoped build-once cache — THE device behind every
  * build-once-serve-many materialization in the engine (co-purchase
  * graph, part co-occurrence edges, corpus verdict table, BPE merges,
  * unigram pieces, LM and DSIR models, hashed-classifier weights, IVF
  * codebook, PQ sub-codebooks, the session IVF-PQ index). One
  * definition so the sites cannot drift on lifecycle semantics:
  *
  *   - '''No session pinning.''' A [[java.util.WeakHashMap]] keyed
  *     by the session does not release it: cached values (DataFrames)
  *     and the by-name build closures strongly reference their
  *     session, and a WeakHashMap whose VALUE references its KEY never
  *     evicts. So the value table is keyed by a neutral identity TOKEN
  *     the session and the cached values cannot reach:
  *     a weak session→token map hands out tokens (the token object
  *     holds only a [[WeakReference]] to the session), entries live in
  *     a strong token-keyed map, and a [[ReferenceQueue]] drains dead
  *     sessions' entries on every cache access. When a session becomes
  *     unreachable its token's weak ref clears and the entries — even
  *     DataFrames that reference the session — drop on the next
  *     access of ANY session (SessionCacheSpec pins collectability
  *     with a discarded `newSession()`).
  *   - '''Compute-once.''' The value slot is a once-thunk inserted
  *     under the cache lock and forced OUTSIDE it on the thunk's own
  *     monitor: concurrent first users race to insert, exactly one
  *     thunk wins the slot, and the build runs once. Forcing outside
  *     the cache lock keeps one session's multi-second build from
  *     serializing every other session's cache hits; two concurrent
  *     first users of the SAME key block on the same thunk, which is
  *     the point. After a successful force the thunk NULLS its builder
  *     reference, releasing the call site's closure (and whatever it
  *     captured).
  *   - '''Failed builds un-install themselves.''' A thunk whose build
  *     throws removes itself from the slot (if it still owns it), so
  *     the NEXT caller's build — not the original closure — is the one
  *     retried (getOrElseUpdate is otherwise
  *     first-build-wins, which is the contract for the engine's
  *     one-build-per-key sites but a trap on retry). A caller still
  *     holding the failed thunk re-runs the original build — callers
  *     always re-enter through [[getOrElseUpdate]], so this path is
  *     theoretical.
  *
  * CONTRACT: first-build-wins per (session, key). A later call with a
  * DIFFERENT `build` for an already-built key returns the cached value
  * and never runs the new build — keys must identify the build (the
  * engine keys by data dir).
  *
  * STALENESS CONTRACT (unchanged from the per-site caches): an entry
  * reflects the data dir AS OF first use in the session. Data dirs
  * are immutable snapshots, so within a session a dir denotes one
  * dataset version; in-place rewriters call the owning module's
  * `clear*Cache()` first.
  */
private[graft] final class SessionCache[V] {

  /** Identity token for one session: weakly references the session
    * (queued on collection), is referenced by nothing the session's
    * cached values can reach. */
  private final class Token(s: SparkSession)
    extends WeakReference[SparkSession](s, deadTokens)

  private val deadTokens = new ReferenceQueue[SparkSession]
  private val tokens = new java.util.WeakHashMap[SparkSession, Token]
  private val entries = new java.util.HashMap[Token, mutable.Map[String, Thunk]]

  private final class Thunk(tok: Token, key: String, b0: () => V)
    extends (() => V) {
    private[this] var builder: () => V = b0
    private[this] var forced = false
    private[this] var value: V = _
    def apply(): V = synchronized {
      if (!forced) {
        val v =
          try builder()
          catch {
            case t: Throwable =>
              // un-install so the NEXT caller's build is retried
              entries.synchronized {
                val m = entries.get(tok)
                if (m != null && m.get(key).exists(_ eq this)) m.remove(key)
              }
              throw t
          }
        value = v
        builder = null // release the call site's closure (and its session capture)
        forced = true
      }
      value
    }
  }

  /** Drop entries of collected sessions. Caller holds the cache lock. */
  private def drain(): Unit = {
    var r = deadTokens.poll()
    while (r != null) {
      entries.remove(r.asInstanceOf[Token])
      r = deadTokens.poll()
    }
  }

  def getOrElseUpdate(s: SparkSession, key: String)(build: => V): V = {
    val thunk = entries.synchronized {
      drain()
      var tok = tokens.get(s)
      if (tok == null) { tok = new Token(s); tokens.put(s, tok) }
      var m = entries.get(tok)
      if (m == null) { m = mutable.Map.empty; entries.put(tok, m) }
      m.getOrElseUpdate(key, new Thunk(tok, key, () => build))
    }
    thunk()
  }

  /** Live session-entry count, draining collected sessions first —
    * the SessionCacheSpec collectability probe. */
  private[graft] def liveSessions: Int = entries.synchronized {
    drain(); entries.size
  }

  def clear(): Unit = entries.synchronized {
    entries.clear(); tokens.clear()
  }
}
