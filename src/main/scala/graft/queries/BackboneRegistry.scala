package graft.queries

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Staging

/** JVM-lifetime registry for staged backbone tiers (text token/bigram
  * frames, the dedup shingle→component chain, the graph trade-pair root).
  *
  * Fixes two hazards of the bare `TrieMap.getOrElseUpdate` pattern the
  * round-8 backbones used:
  *
  *  - '''Eviction''': entries are keyed by (session, tier); when a caching
  *    session's underlying SparkContext ends, a listener registered on
  *    first use clears that session's entries (best-effort unpersisting
  *    each frame) instead of pinning checkpointed data — and dead session
  *    references — for the JVM lifetime.
  *  - '''Single-flight builds''': the build closure runs at most once per
  *    key. `TrieMap.getOrElseUpdate` may evaluate the thunk twice under a
  *    concurrent first call, and here the thunk runs an EAGER
  *    persist/localCheckpoint job — a double evaluation would leak a whole
  *    extra materialization. Builds run under the registry lock; that
  *    serializes concurrent first-builders of different tiers, which is
  *    acceptable because suite runs (Verify/Bench) drive queries
  *    sequentially and the tiers of one family chain on each other anyway.
  *
  * Staged artifacts (bucketed tables, serving indexes, replay and
  * partitioned file sets) go through [[staged]]: one place decides how
  * such an artifact is named ([[dirTag]]), cached, fingerprinted and
  * registered, whether it lives in the catalog or at a path.
  *
  * Staleness caveat (deliberate, documented): entries — frames, staged
  * table and path names, scalars — are NOT invalidated if the parquet
  * files under the keyed `dir` are rewritten within one JVM; a hit never
  * re-lists the source. The suite contract is that data dirs are immutable
  * for a session's lifetime; a caller that does rewrite inputs in place
  * must call [[invalidate]] for the affected (session, prefix) first,
  * which drops all three kinds of entry.
  */
object BackboneRegistry {

  private val entries = mutable.LinkedHashMap.empty[(SparkSession, String), DataFrame]
  // staged-TABLE-NAME resolutions (the catalog owns the data; this caches
  // only which names a (session, dir) staged) — same lifecycle as `entries`
  private val names = mutable.LinkedHashMap.empty[(SparkSession, String), Seq[String]]
  // small derived scalars (corpus counts, resolved code widths) — cheap
  // values, but a bare session-keyed map would still pin the stopped
  // session's whole object graph for the JVM lifetime
  private val scalars = mutable.LinkedHashMap.empty[(SparkSession, String), Any]
  private val hooked = mutable.HashSet.empty[SparkSession]

  /** The cached frame for (s, key), building (and caching) it exactly once.
    * `build` must return an already-pinned frame (persisted or eagerly
    * checkpointed) — the registry stores what it is given.
    */
  def getOrBuild(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    synchronized {
      entries.getOrElseUpdate((s, key), { hook(s); build })
    }

  /** The cached staged-table-name resolution for (s, key): reused while
    * `live` holds for the cached names (callers pass a catalog-existence
    * probe, so a fresh in-memory catalog re-stages rather than trusting a
    * stale entry), rebuilt otherwise, evicted with the session like the
    * frame entries. This retires the per-file `TrieMap[(SparkSession,
    * String), names]` pattern (r9 "what's wrong" #1), whose entries
    * strongly referenced stopped sessions for the JVM lifetime.
    */
  def namesOrBuild(s: SparkSession, key: String)(live: Seq[String] => Boolean)(
      build: => Seq[String]): Seq[String] =
    synchronized {
      names.get((s, key)).filter(live).getOrElse {
        hook(s)
        val v = build
        names((s, key)) = v
        v
      }
    }

  /** Per-dir suffix of every staged table and path name: the dir's
    * basename plus a hash of the FULL dir, so two dirs sharing a basename
    * never clobber each other's artifacts. `String.hashCode` is fixed by
    * the JLS, so the suffix is byte-stable across JVMs — which is what
    * lets a later JVM find (and re-register) a prior one's tables.
    */
  def dirTag(dir: String): String =
    dir.split('/').last.replace('.', '_') +
      "_" + java.lang.Integer.toUnsignedString(dir.hashCode, 36)

  /** The staged artifacts of `family` for (s, dir) — catalog tables, then
    * output paths — the one place the naming, caching, fingerprinting and
    * registering of a staged artifact is decided. Names are cached under
    * `family:dir` like [[namesOrBuild]]; a hit checks only that each output
    * is still there (a table in the session's catalog; a path — a name
    * with a `/`, which no table name has — by its `_SUCCESS` and marker,
    * [[Staging.pathLive]]) and lists nothing. On a miss,
    * `recipe` gets [[dirTag]] and declares the outputs, the fingerprint
    * config and the stage body ([[Staged]]); [[Staging.ensure]] then serves
    * the live outputs, reuses a prior JVM's files whose markers match the
    * fingerprint of (config, `dir`'s files), or runs the body. Anything a
    * name depends on (a resolved width, a list count) belongs inside
    * `recipe`, so a hit runs none of it.
    */
  def staged(s: SparkSession, dir: String, family: String)(
      recipe: String => Staged): Seq[String] =
    namesOrBuild(s, s"$family:$dir")(_.forall(n =>
      if (n.contains('/')) Staging.pathLive(s, n) else s.catalog.tableExists(n))) {
      val st = recipe(dirTag(dir))
      Staging.ensure(s, Staging.fingerprint(s, dir, st.config), st.tables, st.paths)(
        st.stage())
      st.tables ++ st.paths
    }

  /** The cached derived scalar for (s, key) — counts, resolved widths —
    * computed once per key, evicted with the session.
    */
  def scalarOrBuild[T](s: SparkSession, key: String)(build: => T): T =
    synchronized {
      scalars.getOrElseUpdate((s, key), { hook(s); build }).asInstanceOf[T]
    }

  /** Register the context-end eviction hook for `s`, once per session. */
  private def hook(s: SparkSession): Unit =
    if (hooked.add(s)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          clearSession(s)
      })
    }

  /** Drop every entry cached by `s`, best-effort unpersisting each frame
    * (unpersist on an already-stopped context throws; swallowed — the
    * stopped context released the storage anyway).
    */
  def clearSession(s: SparkSession): Unit = synchronized {
    invalidate(s, "")
    hooked.remove(s)
  }

  /** Drop (and best-effort unpersist) the frames, names and scalars of `s`
    * whose key starts with `prefix` — the hook for callers that rewrite a
    * staged dir in place within one JVM.
    */
  def invalidate(s: SparkSession, prefix: String): Unit = synchronized {
    def hit[V](m: mutable.Map[(SparkSession, String), V]) =
      m.keys.filter(k => (k._1 eq s) && k._2.startsWith(prefix)).toVector
    hit(entries).foreach { k =>
      scala.util.Try(entries(k).unpersist(blocking = false))
      entries.remove(k)
    }
    hit(names).foreach(names.remove)
    hit(scalars).foreach(scalars.remove)
  }

  /** Number of live frame entries for `s` (test observability). */
  def size(s: SparkSession): Int = synchronized {
    entries.keys.count(_._1 eq s)
  }

  /** Number of live staged-name entries for `s` (test observability). */
  def namesSize(s: SparkSession): Int = synchronized {
    names.keys.count(_._1 eq s)
  }
}

/** One staged artifact's declaration for [[BackboneRegistry.staged]]: the
  * catalog tables and the output dirs (absolute paths) `stage` creates, and
  * the recipe config folded into their fingerprint (bump it when the staged
  * content changes shape).
  */
final class Staged private (val tables: Seq[String], val paths: Seq[String],
                            val config: String, val stage: () => Unit)

object Staged {
  def apply(tables: Seq[String], config: String)(stage: => Unit): Staged =
    new Staged(tables, Nil, config, () => stage)

  /** An artifact staged as files at `paths`, outside the catalog. */
  def paths(paths: Seq[String], config: String)(stage: => Unit): Staged =
    new Staged(Nil, paths, config, () => stage)
}
