package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry of derived state scoped to the OWNING SparkSession's
  * lifetime instead of the JVM's: memoized frames, counts and codebooks,
  * temp-directory-backed stores and derived catalog layouts, all in one
  * map keyed by (session, data dir, name). Each entry carries its own
  * release action (unpersist, delete the store directory, drop catalog
  * tables), so one [[evict]] releases everything built for a dir.
  *
  * The naive pattern — a static `ConcurrentHashMap[(SparkSession, K), V]`
  * — strongly retains stopped sessions (and whatever multi-GB derived
  * state hangs off the values) for as long as the JVM lives: a long-lived
  * host running many bench/verify sessions leaks one session graph per
  * run. Weak-keying doesn't work here either, because the cached values
  * (DataFrames, catalog table names) reference their session strongly and
  * would keep the weak key reachable. So entries are released two ways:
  *
  *   - automatically: the first insert for a session registers ONE
  *     SparkListener on its context; `onApplicationEnd` evicts every
  *     entry owned by that session and runs its release action.
  *   - explicitly: [[evict]] for callers that keep a session alive but
  *     are done with a data directory (ScaleSmoke's teardown between
  *     scale factors).
  *
  * Release failures are swallowed — eviction during context shutdown
  * races executor teardown by design.
  *
  * [[getOrBuild]] is deliberately NOT `computeIfAbsent`: builders memo
  * their upstream frames through the same map, and a nested
  * computeIfAbsent throws `Recursive update`. A racing double-build is
  * harmless — `putIfAbsent` keeps one winner, and Spark's CacheManager
  * dedupes cached data by plan equality anyway.
  */
object SessionScoped {

  private final case class Entry(value: Any, release: () => Unit)

  private val map = new ConcurrentHashMap[(SparkSession, String, String), Entry]()
  // value-less WeakHashMap-backed set: tracks which sessions already have
  // an eviction listener without pinning them
  private val hooked = java.util.Collections.newSetFromMap(
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  private def hook(s: SparkSession): Unit =
    if (hooked.add(s))
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(
            e: SparkListenerApplicationEnd): Unit = evictWhere(s)(_ => true)
      })

  private def put[V](s: SparkSession, dir: String, name: String)(
      build: => Entry): V = {
    val key = (s, dir, name)
    val hit = map.get(key)
    val e =
      if (hit != null) hit
      else {
        val built = build
        hook(s)
        val prev = map.putIfAbsent(key, built)
        if (prev != null) prev else built
      }
    e.value.asInstanceOf[V]
  }

  /** Memoized value with nothing to release (counts, driver-side
    * codebooks). */
  def getOrBuild[V](s: SparkSession, dir: String, name: String)(
      build: => V): V =
    put(s, dir, name)(Entry(build, () => ()))

  /** Memoized value whose eviction runs `release` on it. */
  def getOrBuild[V](s: SparkSession, dir: String, name: String,
      release: V => Unit)(build: => V): V =
    put(s, dir, name) { val v = build; Entry(v, () => release(v)) }

  /** Memoized cached frame; eviction unpersists it. */
  def frame(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    getOrBuild(s, dir, name, (df: DataFrame) => df.unpersist(blocking = false))(
      build)

  /** Memoized temp-directory-backed store: `write` fills a fresh
    * directory (see [[tempDir]]) and returns the store's handle; eviction
    * deletes the directory. */
  def store[V](s: SparkSession, dir: String, name: String)(
      write: String => V): V =
    put(s, dir, name) {
      val d = tempDir(name)
      try Entry(write(d), () => deleteDir(d))
      catch { case e: Throwable => deleteDir(d); throw e }
    }

  /** Release every entry built for (session, dir). */
  def evict(s: SparkSession, dir: String): Unit = evictWhere(s)(_ == dir)

  /** Live entry count for (session, dir). */
  def count(s: SparkSession, dir: String): Int = count(s, dir, _ => true)

  /** Live entry count for (session, dir) among the names `name` accepts. */
  def count(s: SparkSession, dir: String, name: String => Boolean): Int = {
    var n = 0
    map.keySet().forEach(k =>
      if (k._1 == s && k._2 == dir && name(k._3)) n += 1)
    n
  }

  private def evictWhere(s: SparkSession)(dir: String => Boolean): Unit = {
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 == s && dir(e.getKey._2)) {
        it.remove()
        try e.getValue.release()
        catch { case _: Exception => () }
      }
    }
  }

  // ONE shutdown hook deletes every store directory still live at JVM
  // exit, so stores an eviction never reached (a killed session, a racing
  // double-build's loser) do not outlive the JVM as multi-GB orphans on
  // the temp volume
  private val live = ConcurrentHashMap.newKeySet[String]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => live.forEach(d => deleteDir(d))))

  /** A fresh `graft_<name>*` temp directory, deleted by [[deleteDir]] or
    * at JVM exit, for a derived layout the caller releases through its
    * entry. */
  private[graft] def tempDir(name: String): String = {
    exitHook
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name").toString
    live.add(d)
    d
  }

  private[graft] def deleteDir(d: String): Unit = {
    live.remove(d)
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
    catch { case _: java.io.IOException => () }
  }
}
