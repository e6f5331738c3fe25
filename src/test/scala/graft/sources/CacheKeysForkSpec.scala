package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files, Paths}

/** Two JVMs that share a layout root: the second waits for the first's
  * build and reuses it instead of wiping it and building its own. */
class CacheKeysForkSpec extends AnyFunSuite {

  test("a second process waits for a build in progress and returns its files") {
    val root = Files.createTempDirectory("graft_ck_fork").toString + "/layout"
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(javaBin, "-Xmx256m",
      "-cp", sys.props("java.class.path"),
      "graft.sources.CacheKeysForkChild", root)
      .redirectErrorStream(true).start()
    try {
      // the child writes its part file, then holds the build 3 s more
      val part = new File(root, "part-child")
      val deadline = System.currentTimeMillis() + 120000
      while (!part.exists() && child.isAlive &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      if (!part.exists()) fail("the child never started its build: " +
        new String(child.getInputStream.readAllBytes(), "UTF-8"))
      var built = false
      val t0 = System.nanoTime()
      assert(CacheKeys.writeOnceAt(root) { _ => built = true } == root)
      val waited = (System.nanoTime() - t0) / 1e9
      assert(!built, "the parent ran its own build over the child's")
      assert(waited > 1.0, s"the parent returned after $waited s, mid-build")
      assert(part.exists() && new File(root, CacheKeys.Marker).exists())
      assert(child.waitFor() == 0)
    } finally child.destroyForcibly()
  }
}

/** The forked builder: holds a slow [[CacheKeys.writeOnceAt]] build of
  * `args(0)`. */
object CacheKeysForkChild {
  def main(args: Array[String]): Unit =
    CacheKeys.writeOnceAt(args(0)) { r =>
      new File(r).mkdirs()
      Files.write(Paths.get(r, "part-child"), Array[Byte](1))
      Thread.sleep(3000)
    }
}
