package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** k-th-operation fault sweep over [[Swap]]: for every k, the k-th
  * rename or delete either throws (a crash at that instant) or returns
  * false (a refused operation). After each fault, [[Swap.restore]] must
  * leave `live` holding exactly the old or exactly the new content, and
  * the next restage + [[Swap.promote]] must leave no backup or staging
  * behind.
  */
class SwapSpec extends AnyFunSuite {

  private val local = FileSystem.getLocal(new Configuration())

  /** The local FS, failing its k-th rename or delete (k = 0: never). */
  private final class FaultyFs(k: Int, crash: Boolean)
      extends FilterFileSystem(local) {
    var ops = 0
    private def faulted(op: String, p: Path): Boolean = {
      ops += 1
      if (ops == k && crash)
        throw new java.io.IOException(s"injected crash at $op #$k ($p)")
      ops == k
    }
    override def rename(src: Path, dst: Path): Boolean =
      !faulted("rename", src) && super.rename(src, dst)
    override def delete(p: Path, recursive: Boolean): Boolean =
      !faulted("delete", p) && super.delete(p, recursive)
  }

  private def fresh(): Path =
    new Path(java.nio.file.Files.createTempDirectory("swap_spec").toString)

  /** A one-file dataset directory holding `content`. */
  private def put(dir: Path, content: String): Unit = {
    val out = local.create(new Path(dir, "data"), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def read(dir: Path): Option[String] =
    if (!local.exists(dir)) None
    else {
      val in = local.open(new Path(dir, "data"))
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }

  /** Restage `content` (dropping stale staging, as every caller does) and
    * promote it on the plain FS; no sibling may survive.
    */
  private def promoteClean(staged: Path, live: Path, bak: Path,
      content: String): Unit = {
    local.delete(staged, true)
    put(staged, content)
    Swap.promote(local, staged, live, bak)
    assert(read(live).contains(content))
    assert(!local.exists(staged) && !local.exists(bak))
  }

  for (old <- Seq(Some("old"), None); crash <- Seq(true, false)) {
    val what = s"live ${if (old.isDefined) "present" else "absent"}, " +
      (if (crash) "throwing" else "refusing") + " op"
    test(s"promote: a fault at every rename/delete heals to old or new ($what)") {
      def setUp(): (Path, Path, Path) = {
        val root = fresh()
        val (live, staged, bak) =
          (new Path(root, "t"), new Path(root, ".t.staging"), new Path(root, ".t.bak"))
        old.foreach(put(live, _))
        put(staged, "new")
        (live, staged, bak)
      }
      val counter = new FaultyFs(0, crash)
      val (l0, s0, b0) = setUp()
      Swap.promote(counter, s0, l0, b0)
      // live present: live -> bak, staged -> live, delete bak; absent: one rename
      assert(counter.ops == (if (old.isDefined) 3 else 1))
      for (k <- 1 to counter.ops) {
        val (live, staged, bak) = setUp()
        val run = Try(Swap.promote(new FaultyFs(k, crash), staged, live, bak))
        if (crash) assert(run.isFailure, s"k=$k: an injected crash must surface")
        Swap.restore(local, live, bak)
        val got = read(live)
        assert(got == old || got.contains("new"), s"k=$k: live holds $got")
        promoteClean(staged, live, bak, "newer")
      }
    }
  }

  for (crash <- Seq(true, false))
    test(s"restoreAll: a fault at every rename/delete heals every child " +
        s"(${if (crash) "throwing" else "refusing"} op)") {
      def setUp(): (Path, Path) = {
        val liveRoot = fresh()
        val bakRoot = new Path(liveRoot, ".bak")
        // child a stranded between the two renames; child b's backup stale
        put(new Path(bakRoot, "a"), "oldA")
        put(new Path(liveRoot, "b"), "curB")
        put(new Path(bakRoot, "b"), "staleB")
        (liveRoot, bakRoot)
      }
      val counter = new FaultyFs(0, crash)
      val (r0, b0) = setUp()
      Swap.restoreAll(counter, b0, r0)
      assert(counter.ops == 3) // rename a back, delete stale b, delete root
      for (k <- 1 to counter.ops) {
        val (liveRoot, bakRoot) = setUp()
        val run = Try(Swap.restoreAll(new FaultyFs(k, crash), bakRoot, liveRoot))
        assert(run.isFailure, s"k=$k: a failed restore must throw")
        Swap.restoreAll(local, bakRoot, liveRoot)
        assert(!local.exists(bakRoot))
        assert(read(new Path(liveRoot, "a")).contains("oldA"), s"k=$k")
        assert(read(new Path(liveRoot, "b")).contains("curB"), s"k=$k")
        for (c <- Seq("a", "b")) {
          local.mkdirs(bakRoot)
          promoteClean(new Path(liveRoot, s".staging_$c"), new Path(liveRoot, c),
            new Path(bakRoot, c), s"new$c")
        }
      }
    }

  test("promote refuses a missing staging and leaves live untouched") {
    val root = fresh()
    val live = new Path(root, "t")
    put(live, "old")
    val e = intercept[java.io.IOException] {
      Swap.promote(local, new Path(root, ".t.staging"), live, new Path(root, ".t.bak"))
    }
    assert(e.getMessage.contains("nothing staged"))
    assert(read(live).contains("old"))
  }
}
