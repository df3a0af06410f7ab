package graft

import java.util.concurrent.ConcurrentHashMap

/** The one registry for setup artifacts: a sink write, an index build, a
  * staged stream source — work a query does once per (JVM, sf dir) and
  * afterwards only reads. `once(name, sfDir)(build)` runs `build` at most
  * once per key and hands every later caller the built value:
  *  - concurrent callers of one key wait for a single build;
  *  - a build that throws is not cached, so the next call builds again;
  *  - a build may call `once` for other keys: each key has its own lock,
  *    so nested builds order themselves on demand.
  *
  * Artifact files live under one scratch directory per JVM ([[dir]]),
  * removed by a single shutdown hook. [[touching]] reports which
  * artifacts a piece of code reached: Bench derives its setup phase from
  * its warm-up pass with it.
  */
object Artifacts {
  private final class Slot {
    @volatile var value: Option[Any] = None
  }

  private val slots = new ConcurrentHashMap[(String, String), Slot]()
  private val recorders = ConcurrentHashMap.newKeySet[java.util.Set[String]]()

  def once[T](name: String, sfDir: String)(build: => T): T = {
    recorders.forEach(r => { r.add(name); () })
    val slot = slots.computeIfAbsent((name, sfDir), _ => new Slot)
    slot.value.getOrElse(slot.synchronized {
      slot.value.getOrElse {
        val v = build
        slot.value = Some(v)
        v
      }
    }).asInstanceOf[T]
  }

  /** Runs `body` and returns the names of the artifacts it reached through
    * [[once]] on any thread, built or already built. Rethrows what `body`
    * throws. */
  def touching(body: => Any): Set[String] = {
    val seen = ConcurrentHashMap.newKeySet[String]()
    recorders.add(seen)
    try { body; () } finally recorders.remove(seen)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSet
  }

  private lazy val root: java.io.File = {
    val f = java.nio.file.Files.createTempDirectory("graft_scratch_").toFile
    sys.addShutdownHook {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(f)
    }
    f
  }
  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A fresh, empty directory `graft_<tag>_<n>` under this JVM's scratch
    * dir. Writers that need a path that does not exist yet use a child of
    * it. */
  def dir(tag: String): java.io.File = {
    val f = new java.io.File(root, s"graft_${tag}_${seq.incrementAndGet()}")
    f.mkdirs()
    f
  }
}
