package graft.queries

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The scratch seam every front and scratch catalog of the query suite
  * goes through ([[Fixtures.scratch]], [[Fixtures.front]]). It needs no
  * Spark session, so none is started here. */
class ScratchSpec extends AnyFunSuite {

  private val root = Paths.get(System.getProperty("java.io.tmpdir"),
    s"graft_${ProcessHandle.current().pid()}")

  test("a relative and an absolute alias of one dir get one path") {
    val rel = "scratch_spec_alias"
    val abs = new java.io.File(rel).getAbsolutePath
    assert(Fixtures.scratch(rel, "catalog") == Fixtures.scratch(abs, "catalog"))
    assert(Fixtures.scratch(s"./$rel", "catalog") == Fixtures.scratch(abs, "catalog"))
  }

  test("dirs that differ only in punctuation, and different names, get different paths") {
    assert(Fixtures.scratch("/data/sf0.1", "catalog") != Fixtures.scratch("/data/sf0_1", "catalog"))
    assert(Fixtures.scratch("/data/sf0.1", "catalog") != Fixtures.scratch("/data/sf0.1", "catalog_tt"))
  }

  test("every path lies directly under the process root") {
    val paths = Seq(Fixtures.scratch("/data/sf0.1", "catalog"),
      Fixtures.scratch("rel/dir", "clusters"),
      Fixtures.front("/data/scratch_spec_root", "spec_root")(p => Files.createDirectories(Paths.get(p)): Unit))
    for (p <- paths) assert(Paths.get(p).getParent == root, p)
    assert(Files.isDirectory(root))
  }

  test("8 threads calling front on one key run build exactly once") {
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map(_ => pool.submit(() => {
        go.await()
        Fixtures.front("/data/scratch_spec_once", "spec_once") { p =>
          builds.incrementAndGet()
          Thread.sleep(50) // hold the build open while the others arrive
          Files.write(Paths.get(p), Array[Byte](1))
        }
      }))
      go.countDown()
      val paths = results.map(_.get(30, TimeUnit.SECONDS)).toSet
      assert(builds.get == 1)
      assert(paths.size == 1)
      assert(Files.exists(Paths.get(paths.head)))
    } finally pool.shutdownNow()
  }

  test("a build that throws is not remembered: the next call runs build again") {
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException](
      Fixtures.front("/data/scratch_spec_retry", "spec_retry") { _ =>
        builds.incrementAndGet()
        throw new IllegalStateException("first build fails")
      })
    assert(e.getMessage == "first build fails")
    val p = Fixtures.front("/data/scratch_spec_retry", "spec_retry") { p =>
      builds.incrementAndGet()
      Files.write(Paths.get(p), Array[Byte](1))
    }
    assert(builds.get == 2)
    assert(Files.exists(Paths.get(p)))
    Fixtures.front("/data/scratch_spec_retry", "spec_retry")(_ => builds.incrementAndGet(): Unit)
    assert(builds.get == 2)
  }

  test("a JVM deletes its scratch root when it exits") {
    val tmp = Files.createTempDirectory("graft_scratch_exit")
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(java, "-Xmx128m", s"-Djava.io.tmpdir=$tmp",
      "-cp", System.getProperty("java.class.path"),
      "graft.queries.ScratchSpecChild", "/data/scratch_spec_child")
      .redirectErrorStream(true).start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8")
    assert(child.waitFor(60, TimeUnit.SECONDS), "child JVM did not exit")
    assert(child.exitValue() == 0, out)
    val childRoot = tmp.resolve(s"graft_${child.pid()}")
    val written = out.linesIterator.collectFirst {
      case l if l.startsWith("FRONT=") => Paths.get(l.stripPrefix("FRONT="))
    }
    assert(written.exists(_.getParent == childRoot), out)
    assert(!Files.exists(childRoot), s"$childRoot survived the child's exit")
    Files.delete(tmp)
  }
}

/** The child JVM of ScratchSpec's exit test: writes one front as a
  * plain file, prints its path and exits. */
object ScratchSpecChild {
  def main(args: Array[String]): Unit = {
    val p = Fixtures.front(args(0), "child")(p => Files.write(Paths.get(p), Array[Byte](1)): Unit)
    assert(Files.exists(Paths.get(p)))
    println(s"FRONT=$p")
  }
}
