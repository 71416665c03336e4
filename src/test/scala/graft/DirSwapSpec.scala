package graft

import graft.model.DirSwap
import org.apache.hadoop.fs.{FileSystem, Path}

/** [[DirSwap]]: the publish and the recovery from a crash at every instant
  * of it. Dirs hold one `v` file naming their version; a staged dir is
  * complete when it also holds `_SUCCESS`, as a committed Spark write does.
  */
class DirSwapSpec extends SparkTestBase {

  private val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())

  private def write(dir: Path, version: String, complete: Boolean = true): Unit = {
    val out = fs.create(new Path(dir, "v"), true)
    try out.write(version.getBytes("UTF-8")) finally out.close()
    if (complete) fs.create(new Path(dir, "_SUCCESS"), true).close()
  }

  private def version(dir: Path): String = {
    val in = fs.open(new Path(dir, "v"))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** A table dir with live `date=1` at version v1. */
  private def table(prefix: String): (Path, Path) = {
    val base = new Path(tmp(prefix))
    val live = new Path(base, "date=1")
    write(live, "v1")
    (base, live)
  }

  private def hidden(base: Path): Seq[String] =
    fs.listStatus(base).map(_.getPath.getName).filter(_.startsWith(".")).filterNot(_.endsWith(".crc")).toSeq

  test("hidden names depend only on the live dir's name") {
    val live = new Path("/t/date=2024-01-01")
    assert(DirSwap.staged(live) == new Path("/t/.date=2024-01-01.staged"))
    assert(DirSwap.aside(live) == new Path("/t/.date=2024-01-01.old"))
  }

  test("publish replaces a live dir, creates a missing one, and leaves no hidden dirs") {
    val (base, live) = table("dirswap-publish")
    DirSwap.publish(fs, live)(st => write(st, "v2"))
    assert(version(live) == "v2")
    val fresh = new Path(base, "date=2")
    DirSwap.publish(fs, fresh)(st => write(st, "n1"))
    assert(version(fresh) == "n1")
    assert(hidden(base).isEmpty)
  }

  test("a failed write leaves the live dir untouched") {
    val (base, live) = table("dirswap-fail")
    intercept[IllegalStateException] {
      DirSwap.publish(fs, live) { st => write(st, "v2", complete = false); throw new IllegalStateException("boom") }
    }
    assert(version(live) == "v1")
    DirSwap.sweep(fs, base)
    assert(hidden(base).isEmpty)
  }

  test("crash before the first rename: live is untouched and the next writer clears the staged dir") {
    val (base, live) = table("dirswap-before")
    write(DirSwap.staged(live), "v2")
    assert(DirSwap.recover(fs, live))
    assert(version(live) == "v1")
    assert(fs.exists(DirSwap.staged(live)), "recovery never deletes")
    DirSwap.sweep(fs, base)
    assert(version(live) == "v1" && hidden(base).isEmpty)
  }

  test("crash between the renames: the complete staged dir is promoted; recovery deletes nothing") {
    val (base, live) = table("dirswap-between")
    write(DirSwap.staged(live), "v2")
    assert(fs.rename(live, DirSwap.aside(live)))
    assert(DirSwap.recover(fs, live))
    assert(version(live) == "v2")
    assert(!fs.exists(DirSwap.staged(live)))
    assert(fs.exists(DirSwap.aside(live)), "recovery never deletes")
    DirSwap.sweep(fs, base)
    assert(version(live) == "v2" && hidden(base).isEmpty)
  }

  test("crash between the renames with an unmarked staged dir: the aside dir is restored") {
    val (base, live) = table("dirswap-restore")
    write(DirSwap.staged(live), "v2", complete = false)
    assert(fs.rename(live, DirSwap.aside(live)))
    assert(DirSwap.recover(fs, live))
    assert(version(live) == "v1")
    DirSwap.sweep(fs, base)
    assert(version(live) == "v1" && hidden(base).isEmpty)
  }

  test("crash after the promote: the lingering aside dir is cleared by the next writer") {
    val (base, live) = table("dirswap-after")
    write(DirSwap.aside(live), "v0")
    assert(DirSwap.recover(fs, live))
    assert(version(live) == "v1")
    DirSwap.sweep(fs, base)
    assert(version(live) == "v1" && hidden(base).isEmpty)
  }

  test("a partial staged dir with no live dir is never promoted") {
    val base = new Path(tmp("dirswap-partial"))
    val live = new Path(base, "date=1")
    write(DirSwap.staged(live), "half", complete = false)
    assert(!DirSwap.recover(fs, live))
    assert(!fs.exists(live))
    DirSwap.sweep(fs, base)
    assert(!fs.exists(live) && hidden(base).isEmpty)
    // the next publish of the dir starts clean
    DirSwap.publish(fs, live)(st => write(st, "n1"))
    assert(version(live) == "n1")
  }

  test("sweep heals every dir of a table and clears debris next to live dirs") {
    val (base, live) = table("dirswap-sweep")
    val moved = new Path(base, "date=2")
    write(moved, "m1")
    write(DirSwap.staged(moved), "m2")
    assert(fs.rename(moved, DirSwap.aside(moved)))
    write(DirSwap.aside(live), "v0")
    write(DirSwap.staged(live), "v2", complete = false)
    DirSwap.sweep(fs, base)
    assert(version(live) == "v1" && version(moved) == "m2")
    assert(hidden(base).isEmpty)
  }

  test("concurrent recoverers of one between-renames state all see the live dir") {
    val (_, live) = table("dirswap-race")
    write(DirSwap.staged(live), "v2")
    assert(fs.rename(live, DirSwap.aside(live)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (0 until 8).map(_ => pool.submit(() => DirSwap.recover(fs, live)))
      assert(results.forall(_.get()))
    } finally pool.shutdown()
    assert(version(live) == "v2")
  }

  test("rewriteEach keeps the items' order and rejects a parallelism below one") {
    assert(DirSwap.rewriteEach(1 to 9, 3)(_ * 2) == (1 to 9).map(_ * 2))
    assert(DirSwap.rewriteEach(Seq(4), 1)(_ + 1) == Seq(5))
    intercept[IllegalArgumentException](DirSwap.rewriteEach(Seq(1), 0)(identity))
  }
}
