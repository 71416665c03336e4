package graft.model

import org.apache.hadoop.fs.{FileSystem, Path}

/** How a rewritten directory is published, and recovered after a crash:
  * the one swap every maintenance rewrite shares (a compacted or
  * materialized `date=` partition, a refreshed rollup day, a vacuumed
  * sidecar or dedup table, the compacted media fingerprint index).
  *
  * [[publish]] has the caller write the new contents to the hidden
  * sibling `.<name>.staged`, renames the live dir aside to `.<name>.old`,
  * renames the staged dir to the live name and deletes the aside dir. A
  * crash leaves one of three states, and [[recover]] maps each to a usable
  * live dir:
  *   - before the first rename: live is untouched; the staged dir is
  *     debris the next writer clears.
  *   - between the renames: live is missing. The staged dir is promoted
  *     when it holds Spark's `_SUCCESS` marker, which a write commits last;
  *     otherwise the aside dir is restored. A staged dir left by a crash in
  *     the middle of its write has no marker and is never promoted (a new
  *     rollup day has no aside dir either, so it stays unpublished).
  *   - after the promote: only the aside dir lingers, cleared by the next
  *     writer.
  * Data is never lost. A reader racing a swap may see the dir vanish for
  * the instant between the renames; a table format with atomic commits is
  * the upgrade path where readers cannot tolerate that.
  *
  * The hidden names depend only on the live dir's name, never on the job,
  * so a crash in one maintenance job is healed by whichever job next
  * writes the same parent dir ([[sweep]]).
  *
  * Precondition: one writer per parent dir (per table) at a time, since
  * [[sweep]] clears the debris of every swap under its dir. The rewrites
  * are maintenance jobs; schedule one per table. Readers may [[recover]]
  * concurrently with the writer and with each other: recovery only
  * promotes or restores, never deletes (the writer may be writing the
  * staged dir at that moment), and losing a rename race to another
  * recoverer counts as success once the live dir exists. Only writers
  * ([[publish]], [[sweep]]) clear debris.
  */
private[graft] object DirSwap {

  def staged(live: Path): Path = new Path(live.getParent, s".${live.getName}.staged")
  def aside(live: Path): Path = new Path(live.getParent, s".${live.getName}.old")

  private val Hidden = """\.(.+)\.(?:staged|old)""".r

  /** Replace (or first create) `live` with what `write` puts in the staged
    * dir it is given.
    */
  def publish(fs: FileSystem, live: Path)(write: Path => Unit): Unit = {
    val (st, old) = (staged(live), aside(live))
    val present = recover(fs, live)
    fs.delete(st, true)
    fs.delete(old, true)
    write(st)
    if (present && !fs.rename(live, old))
      throw new java.io.IOException(s"cannot move $live aside")
    if (!moveTo(fs, st, live)) {
      if (present) fs.rename(old, live)
      throw new java.io.IOException(s"cannot publish $st")
    }
    fs.delete(old, true)
  }

  /** Complete an interrupted swap of `live`, if any; true when `live`
    * exists afterwards. A healthy dir costs one `exists`.
    */
  def recover(fs: FileSystem, live: Path): Boolean =
    fs.exists(live) || {
      val st = staged(live)
      if (fs.exists(new Path(st, "_SUCCESS"))) moveTo(fs, st, live)
      else {
        // re-checking live closes the race with a concurrent promote: a
        // rename onto an existing dir would nest the aside dir inside it
        val old = aside(live)
        fs.exists(old) && (fs.exists(live) || moveTo(fs, old, live))
      }
    }

  /** [[recover]] every dir under `base` with a staged or aside sibling,
    * then delete those siblings. Writers only.
    */
  def sweep(fs: FileSystem, base: Path): Unit =
    interrupted(fs, base).foreach { live =>
      recover(fs, live)
      fs.delete(staged(live), true)
      fs.delete(aside(live), true)
    }

  /** [[recover]] every dir under `base` with a staged or aside sibling,
    * deleting nothing: the read-only half of [[sweep]], safe for readers
    * of another writer's dir.
    */
  def recoverAll(fs: FileSystem, base: Path): Unit =
    interrupted(fs, base).foreach(recover(fs, _))

  /** The live dirs under `base` that have a staged or aside sibling. */
  private def interrupted(fs: FileSystem, base: Path): Seq[Path] =
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.map(_.getPath.getName).collect {
      case Hidden(name) => new Path(base, name)
    }.distinct

  /** `f` over `items`, up to `parallelism` of them at once as concurrent
    * Spark jobs (driver threads), results in `items`' order. One rewrite
    * (a fragmented day, a rollup day) is a small job that cannot fill a
    * large cluster, and running them back-to-back leaves executors idle
    * between them. Each item publishes on its own: a failure in one leaves
    * every other either untouched or fully published.
    */
  def rewriteEach[A, B](items: Seq[A], parallelism: Int)(f: A => B): Seq[B] = {
    require(parallelism >= 1, s"jobParallelism must be >= 1, got $parallelism")
    if (parallelism == 1 || items.size <= 1) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(parallelism, items.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(items.map(a => scala.concurrent.Future(f(a)))),
        scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    }
  }

  /** Rename `from` to `live`; a rename lost to a concurrent recoverer
    * (the source already gone) succeeds when `live` exists.
    */
  private def moveTo(fs: FileSystem, from: Path, live: Path): Boolean =
    (try fs.rename(from, live) catch { case _: java.io.FileNotFoundException => false }) ||
      fs.exists(live)
}
