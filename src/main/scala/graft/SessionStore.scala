package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one home of every piece of session-scoped cached state: cached
  * DataFrames and build-once scratch dirs holding persisted artifacts.
  *
  * Entries are keyed on (sessionUUID, dir, name). The session UUID is
  * stable and unique per session — an identity hash can alias after a
  * session is GC'd and hand out a frame bound to a dead session. Names
  * are `/`-separated families ("graph/edges", "windex/tomb"), so one
  * [[drop]] of a family name releases the whole family.
  *
  * Two verbs:
  *  - [[frame]]: a cached DataFrame. get-then-putIfAbsent, not
  *    computeIfAbsent: builders nest (one cached frame is built inside
  *    another's builder) and ConcurrentHashMap throws "Recursive
  *    update" on reentrant computeIfAbsent; no Spark job ever runs
  *    under a map bin lock. The losing side of a race unpersists its
  *    copy.
  *  - [[artifact]]: a scratch dir built once. The build runs under a
  *    per-key latch, so racing callers of one key share one build and
  *    builds of distinct keys never serialize. A build that throws
  *    deletes its own dir and leaves the key unbuilt (the next call
  *    rebuilds). A clear waits for an in-flight build, then deletes
  *    its dir: the build is never pulled out from under itself and no
  *    dir is orphaned. (A caller racing a clear may see the dir it was
  *    just handed deleted — clears are reset/teardown verbs.)
  *
  * Release is [[drop]] (named families, across sessions and dirs — a
  * bench warm's targeted re-time clear) or [[clearAll]]. On first use
  * the store hooks `onApplicationEnd` of the session's SparkContext,
  * so stopping Spark deletes every dir the store holds. */
object SessionStore {

  private final case class Key(session: String, dir: String, name: String)

  private def key(s: SparkSession, d: String, name: String): Key = {
    hook(s.sparkContext)
    Key(org.apache.spark.sql.graft.Bridge.sessionUUID(s), d, name)
  }

  private val frames = new ConcurrentHashMap[Key, DataFrame]()
  private val dirs = new ConcurrentHashMap[Key, Slot]()

  /** The cached frame for (s, d, name), built by `build` on first use.
    * A builder may return a frame it already persisted (to materialize
    * it under its own scope); the store adopts it as-is. */
  def frame(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame = {
    val k = key(s, d, name)
    val hit = frames.get(k)
    if (hit != null) hit
    else {
      val built = build
      val df =
        if (built.storageLevel == StorageLevel.NONE) built.cache() else built
      val prior = frames.putIfAbsent(k, df)
      if (prior == null) df else { df.unpersist(); prior }
    }
  }

  /** The artifact dir for (s, d, name), created on the scratch root and
    * filled by `build(dir)` on first use. */
  def artifact(s: SparkSession, d: String, name: String)
      (build: String => Unit): String = {
    val k = key(s, d, name)
    var dir: Option[String] = None
    // a slot dropped between lookup and build reports None: retry
    // against the map, so no build ever lands in an unreachable slot
    while (dir.isEmpty)
      dir = dirs.computeIfAbsent(k, _ => new Slot)
        .get("graft-" + name.replace('/', '-'), build)
    dir.get
  }

  /** Release every entry named `n` or nested under `n/`, for each `n`
    * in `names`, in every session and dir. */
  def drop(names: String*): Unit =
    evict(n => names.exists(x => n == x || n.startsWith(x + "/")),
      unpersist = true)

  /** Release every entry. */
  def clearAll(): Unit = evict(_ => true, unpersist = true)

  private def evict(hit: String => Boolean, unpersist: Boolean): Unit = {
    val fi = frames.entrySet().iterator()
    while (fi.hasNext) {
      val e = fi.next()
      if (hit(e.getKey.name)) {
        fi.remove()
        if (unpersist) e.getValue.unpersist()
      }
    }
    val di = dirs.entrySet().iterator()
    while (di.hasNext) {
      val e = di.next()
      if (hit(e.getKey.name)) { di.remove(); e.getValue.release() }
    }
  }

  /** Build-once latch for one artifact dir. */
  private final class Slot {
    private var built: String = null
    private var released = false

    /** The built dir (building it first if needed); None once released. */
    def get(prefix: String, build: String => Unit): Option[String] =
      synchronized {
        if (released) None
        else {
          if (built == null) {
            val fresh = Fs.scratchTempDir(prefix).toString
            try build(fresh)
            catch { case e: Throwable => Fs.deleteTree(fresh); throw e }
            built = fresh
          }
          Some(built)
        }
      }

    /** Waits for an in-flight build, then deletes its dir. Never builds. */
    def release(): Unit = synchronized {
      released = true
      if (built != null) Fs.deleteTree(built)
    }
  }

  @volatile private var hooked: SparkContext = null

  /** One `onApplicationEnd` listener per SparkContext: stopping Spark
    * deletes every held dir. Frames are forgotten, not unpersisted —
    * their context is already going away. */
  private def hook(sc: SparkContext): Unit =
    if (hooked ne sc) synchronized {
      if (hooked ne sc) {
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            evict(_ => true, unpersist = false)
        })
        hooked = sc
      }
    }
}
