package graft

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Dedup

/** A registry of derived state that several queries of one session read
  * instead of recomputing: edge and triangle lists, verified pair sets,
  * trained models, staged fixture dirs, bucketed manifest tables. Every
  * such memo is one [[Memo.Family]] of a registry; the contract below
  * holds for all of them.
  *
  *  - '''Key''' `(applicationId, dir[, extra])`. Checkpointed frames are
  *    bound to their SparkContext, so a new application rebuilds.
  *  - '''Lifetime''' until the family is evicted or the JVM exits. The key
  *    names a dir, not its content: regenerating the parquet under the same
  *    path inside one process serves stale state. Testdata dirs are
  *    immutable for a process's lifetime, which is what makes this sound.
  *  - '''Build''' exactly once per key, however many threads ask at once. A
  *    build may read another family's memo (the triangle list builds the
  *    edge list first). A build that throws caches nothing; the next `get`
  *    builds again. Each build's wall seconds are logged ([[builds]]),
  *    including any nested build it triggered.
  *  - '''Eviction''' only for frame-holding families, which name the
  *    queries that consume them and the checkpointed frames each value
  *    holds. [[Memo.Family.evict]] unpersists exactly those frames and drops
  *    the values, so the blocks leave the block manager at once instead of
  *    waiting for a GC to feed the ContextCleaner. Families that hold no
  *    frames (KB-scale models, on-disk dirs and tables) are never evicted:
  *    dropping them frees nothing and rebuilding them is not free.
  */
final class Memo {
  import Memo.Family

  private val registered = new java.util.concurrent.CopyOnWriteArrayList[Family[_]]()
  private val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()

  private def register[V](f: Family[V]): Family[V] = { registered.add(f); f }

  /** A family whose values hold no frames: never evicted. */
  def apply[V](name: String): Family[V] =
    register(new Family[V](name, Set.empty, _ => Nil, buildLog))

  /** A frame-holding family: `consumers` are the query names that read it,
    * `held` lists the checkpointed frames of one value. */
  def frames[V](name: String, consumers: Set[String])(
      held: V => Seq[DataFrame]): Family[V] = {
    require(consumers.nonEmpty, s"memo family '$name' names no consumers")
    register(new Family[V](name, consumers, held, buildLog))
  }

  /** The frame-holding families, in registration order. */
  def evictable: Seq[Family[_]] =
    registered.asScala.toSeq.filter(_.consumers.nonEmpty)

  /** (family[/extra], wall seconds) per completed build, oldest first. */
  def builds: Seq[(String, Double)] = buildLog.asScala.toSeq
}

object Memo {

  final class Family[V] private[Memo] (
      val name: String, val consumers: Set[String],
      held: V => Seq[DataFrame],
      buildLog: java.util.Queue[(String, Double)]) {

    /** One key's value, built under the slot's own lock — so a build may
      * enter another slot (nested memos), which one map-wide compute
      * (`ConcurrentHashMap.computeIfAbsent`) forbids. */
    private final class Slot(label: String, build: () => V) {
      @volatile var value: Option[V] = None
      def get: V = value.getOrElse(synchronized {
        value.getOrElse {
          val t0 = System.nanoTime()
          val v = build()
          buildLog.add(label -> (System.nanoTime() - t0) / 1e9)
          value = Some(v)
          v
        }
      })
    }

    private val slots = TrieMap.empty[(String, String, String), Slot]

    def apply(s: SparkSession, dir: String, extra: String = "")(
        build: => V): V = {
      val key = (s.sparkContext.applicationId, dir, extra)
      val label = if (extra.isEmpty) name else s"$name/$extra"
      val slot = slots.getOrElseUpdate(key, new Slot(label, () => build))
      try slot.get
      catch { case e: Throwable => slots.remove(key, slot); throw e }
    }

    /** Drop every value, unpersisting the frames it holds. A build in
      * flight finishes first. */
    def evict(): Unit = slots.foreach { case (key, slot) =>
      slots.remove(key, slot)
      slot.synchronized(slot.value)
        .foreach(v => held(v).foreach(Dedup.unpersistCheckpoint))
    }
  }
}
