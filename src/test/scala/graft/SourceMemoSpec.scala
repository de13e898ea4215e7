package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SourceMemo` reuse rule, against the generic class (no Spark):
  * a source rewrite rebuilds, a partly reaped staged output rebuilds,
  * a build that throws leaves no entry, and a superseded value goes
  * through the release hook exactly once. The last test drives random
  * interleavings of all four against a model of the rule.
  */
class SourceMemoSpec extends AnyFunSuite {

  /** A memo whose build stages `files` files into a fresh temp dir and
    * returns a new build number; released values are recorded.
    */
  private final class Rig(files: Int) {
    val dir: java.io.File =
      java.nio.file.Files.createTempDirectory("source_memo").toFile
    var source = "v1"
    var builds = 0
    var failNext = false
    val released = scala.collection.mutable.Buffer[Int]()
    val memo = new SourceMemo[String, Int](released += _)

    def get(): Int = memo("k", source, Seq(dir)) {
      graft.etl.Directory.deleteRecursively(dir)
      dir.mkdirs()
      if (failNext) { failNext = false; sys.error("build failed") }
      (0 until files).foreach(i =>
        java.nio.file.Files.writeString(
          new java.io.File(dir, s"part-$i").toPath, s"part $i"))
      builds += 1
      builds
    }

    def reapOne(): Unit = dir.listFiles().sortBy(_.getName).head.delete()
    def cleanup(): Unit = graft.etl.Directory.deleteRecursively(dir)
  }

  test("a hit needs an unchanged source; a source rewrite rebuilds") {
    val r = new Rig(3)
    assert(r.get() == 1)
    assert(r.get() == 1)
    r.source = "v2"
    assert(r.get() == 2)
    assert(r.get() == 2)
    r.cleanup()
  }

  test("a partly reaped staged output rebuilds") {
    val r = new Rig(3)
    assert(r.get() == 1)
    r.reapOne()
    assert(r.dir.listFiles().length == 2)
    assert(r.get() == 2, "a partly reaped staging dir was reused")
    assert(r.dir.listFiles().length == 3)
    graft.etl.Directory.deleteRecursively(r.dir)
    assert(r.get() == 3, "a fully reaped staging dir was reused")
    r.cleanup()
  }

  test("a build that throws leaves no entry and the next call rebuilds") {
    val r = new Rig(2)
    r.failNext = true
    assert(intercept[RuntimeException](r.get()).getMessage == "build failed")
    assert(r.get() == 1)
    // a failed REBUILD drops the superseded entry too: its release ran,
    // so it must not be served again
    r.source = "v2"
    r.failNext = true
    intercept[RuntimeException](r.get())
    assert(r.released == Seq(1))
    r.source = "v1"
    assert(r.get() == 2, "the released entry survived a failed rebuild")
    assert(r.released == Seq(1))
    r.cleanup()
  }

  test("a superseded value is released exactly once, with the old value") {
    val r = new Rig(1)
    r.get(); r.get()
    assert(r.released.isEmpty)
    r.source = "v2"
    r.get(); r.get()
    assert(r.released == Seq(1))
    r.reapOne()
    r.get(); r.get()
    assert(r.released == Seq(1, 2))
    r.cleanup()
  }

  test("values that live in memory key on the source alone") {
    val memo = SourceMemo[String, Int]()
    var builds = 0
    def get(src: String) = memo("k", src, Nil) { builds += 1; builds }
    assert(get("a") == 1 && get("a") == 1 && get("b") == 2 && get("a") == 3)
  }

  test("random interleavings of rewrite, reap, failure and reads obey the rule") {
    val rnd = new scala.util.Random(20261017L)
    for (_ <- 1 to 40) {
      val r = new Rig(1 + rnd.nextInt(3))
      // model: the value a hit must return (None = no entry) and the
      // values the release hook must have seen, in order
      var entry: Option[Int] = None
      val expectReleased = scala.collection.mutable.Buffer[Int]()
      var stale = false // source rewritten or output reaped since the build
      var gen = 0
      for (_ <- 1 to 30) rnd.nextInt(4) match {
        case 0 => gen += 1; r.source = s"g$gen"; stale = true
        case 1 =>
          if (entry.nonEmpty && r.dir.listFiles().nonEmpty) {
            r.reapOne(); stale = true
          }
        case 2 =>
          r.failNext = true
          if (entry.isEmpty || stale) {
            intercept[RuntimeException](r.get())
            entry.foreach(expectReleased += _)
            entry = None
          } else assert(r.get() == entry.get)
          r.failNext = false
        case _ =>
          val before = r.builds
          val v = r.get()
          if (entry.nonEmpty && !stale) assert(v == entry.get)
          else {
            entry.foreach(expectReleased += _)
            assert(v == before + 1)
            entry = Some(v)
          }
          stale = false
      }
      assert(r.released == expectReleased)
      r.cleanup()
    }
  }
}
