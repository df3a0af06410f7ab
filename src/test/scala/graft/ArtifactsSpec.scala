package graft

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The setup-artifact registry's contract: one build per (name, sf dir),
  * failed builds are not cached, nested builds of other keys work, and
  * concurrent callers of one key share a single build. */
class ArtifactsSpec extends AnyFunSuite {

  // the registry is JVM-wide: every case uses its own sf-dir key
  private def freshDir(): String = s"/artifacts-spec/${java.util.UUID.randomUUID()}"

  test("Artifacts.once builds a key once across calls") {
    val d = freshDir()
    val builds = new AtomicInteger(0)
    val first = Artifacts.once("spec_once", d) { builds.incrementAndGet(); new Object }
    val second = Artifacts.once("spec_once", d) { builds.incrementAndGet(); new Object }
    assert(first eq second)
    assert(builds.get == 1)
    // another sf dir is another artifact
    Artifacts.once("spec_once", freshDir()) { builds.incrementAndGet(); new Object }
    assert(builds.get == 2)
  }

  test("Artifacts.once rethrows a failed build and rebuilds on the next call") {
    val d = freshDir()
    var fail = true
    def build(): String = {
      val p = new java.io.File(Artifacts.dir("spec_write"), "out")
      if (fail) throw new IllegalStateException("write failed")
      java.nio.file.Files.createDirectories(p.toPath)
      java.nio.file.Files.writeString(p.toPath.resolve("_DONE"), "ok")
      p.toString
    }
    val err = intercept[IllegalStateException](Artifacts.once("spec_write", d)(build()))
    assert(err.getMessage == "write failed")
    fail = false
    val p = Artifacts.once("spec_write", d)(build())
    // the returned dir is the one the successful build wrote
    assert(new java.io.File(p, "_DONE").isFile)
    assert(Artifacts.once[String]("spec_write", d)(throw new AssertionError("rebuilt")) == p)
  }

  test("Artifacts.once: a build may build another key") {
    val d = freshDir()
    val touched = Artifacts.touching {
      val outer = Artifacts.once("spec_outer", d) {
        val inner = Artifacts.once("spec_inner", d)("inner")
        s"outer($inner)"
      }
      assert(outer == "outer(inner)")
    }
    // the touch record sees both keys
    assert(touched == Set("spec_outer", "spec_inner"))
    assert(Artifacts.once("spec_inner", d)("rebuilt") == "inner")
  }

  test("Artifacts.once: concurrent callers of one key share one build") {
    val d = freshDir()
    val builds = new AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => {
        start.await()
        results.add(Artifacts.once("spec_concurrent", d) {
          builds.incrementAndGet()
          Thread.sleep(200)
          new Object
        })
        ()
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(10000))
    assert(builds.get == 1)
    assert(results.size == 2)
    val Seq(a, b) = results.toArray.toSeq
    assert(a eq b)
  }
}
