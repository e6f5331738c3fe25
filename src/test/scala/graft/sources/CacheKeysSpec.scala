package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files, Paths}

/** The write-once protocol itself: marker written last, wipe on
  * rebuild, one reentrant lock. */
class CacheKeysSpec extends AnyFunSuite {

  private def touch(root: String, name: String): Unit = {
    new File(root).mkdirs()
    Files.write(Paths.get(root, name), Array[Byte](1, 2, 3))
  }

  test("a torn build leaves no marker; the next call wipes and rebuilds") {
    val root = Files.createTempDirectory("graft_ck").toString + "/layout"
    intercept[IllegalStateException] {
      CacheKeys.writeOnceAt(root) { r =>
        touch(r, "part-0")
        throw new IllegalStateException("build died half way")
      }
    }
    assert(new File(root, "part-0").exists())
    assert(!new File(root, CacheKeys.Marker).exists(),
      "a build that threw must not leave a marker")
    var sawPartial = true
    val again = CacheKeys.writeOnceAt(root) { r =>
      sawPartial = new File(r).exists()
      touch(r, "part-1")
    }
    assert(again == root)
    assert(!sawPartial, "the partial root must be deleted before rebuilding")
    assert(new File(root, CacheKeys.Marker).exists())
    assert(!new File(root, "part-0").exists())
    assert(new File(root, "part-1").exists())
    CacheKeys.writeOnceAt(root)(_ => fail("a complete layout was rebuilt"))
  }

  test("writeOnce keys the root like path; builds may nest") {
    val src = Files.createTempDirectory("graft_ck_src").toString
    touch(src, "data")
    val outer = CacheKeys.writeOnce("graft_ck_outer", src) { r =>
      val inner = CacheKeys.writeOnce("graft_ck_inner", src)(touch(_, "x"))
      assert(inner == CacheKeys.path("graft_ck_inner", src))
      assert(new File(inner, CacheKeys.Marker).exists())
      touch(r, "y")
    }
    assert(outer == CacheKeys.path("graft_ck_outer", src))
    assert(new File(outer, CacheKeys.Marker).exists())
  }
}
