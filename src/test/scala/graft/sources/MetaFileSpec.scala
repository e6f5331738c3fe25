package graft.sources

import graft.SpecBase
import org.apache.hadoop.fs.Path

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

/** The metadata-file primitives on the engine's `file:` FileSystem:
  * read of what is not there, replace over a checksummed file, readers
  * racing replaces, and racing exclusive creates. */
class MetaFileSpec extends SpecBase {

  private def freshDir(): String =
    Files.createTempDirectory("graft_meta").toString

  test("read of a missing file, or of a file in a missing directory, is None") {
    val dir = freshDir()
    assert(MetaFile.read(spark, dir, "_NONE").isEmpty)
    assert(MetaFile.read(spark, s"$dir/no/such/dir", "_NONE").isEmpty)
  }

  test("replace over a checksummed in-place write leaves no .crc or .tmp") {
    val dir = freshDir()
    val p = new Path(dir, "_X")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write("old text".getBytes("UTF-8")) finally out.close()
    assert(Files.exists(java.nio.file.Paths.get(dir, "._X.crc")),
      "the in-place Hadoop write must leave a checksum sibling")
    MetaFile.replace(spark, dir, "_X", "new")
    val in = fs.open(p)
    val back = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(back == "new")
    assert(MetaFile.read(spark, dir, "_X").contains("new"))
    assert(new java.io.File(dir).list().toSeq == Seq("_X"))
  }

  test("a reader racing 4 replacing writers never sees it absent or empty") {
    val dir = freshDir()
    MetaFile.replace(spark, dir, "_X", "w-first\n")
    val pool = Executors.newFixedThreadPool(4)
    val writers = (0 until 4).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = (0 until 200).foreach(i =>
          MetaFile.replace(spark, dir, "_X", s"w$w-$i\n"))
      })
    }
    pool.shutdown()
    val reader = new Thread(() => {
      while (!pool.isTerminated) {
        val got = MetaFile.read(spark, dir, "_X")
        assert(got.exists(_.nonEmpty), s"reader saw $got")
      }
    })
    @volatile var failure: Option[Throwable] = None
    reader.setUncaughtExceptionHandler((_, e) => failure = Some(e))
    reader.start()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    reader.join(30000)
    failure.foreach(throw _)
    writers.foreach(_.get()) // a writer's own failure surfaces here
    assert(new java.io.File(dir).list().toSeq == Seq("_X"),
      "no temp file may be left behind")
  }

  test("of 8 racing tryCreate calls on one name exactly one wins") {
    val dir = freshDir()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val wins = (0 until 8).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = {
          start.await()
          MetaFile.tryCreate(spark, dir, "_L")
        }
      })
    }
    start.countDown()
    assert(wins.count(_.get(60, TimeUnit.SECONDS)) == 1)
    pool.shutdown()
    assert(Files.exists(java.nio.file.Paths.get(dir, "_L")))
  }
}
