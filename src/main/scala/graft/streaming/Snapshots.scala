package graft.streaming

import org.apache.hadoop.fs.{FileSystem, FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Atomic, versioned snapshot publication for the maintenance fleet's
  * `save()`/`resume()` pairs — the stage → publish → marker pattern
  * [[AnnIndexMaintenance]] uses for its layout, applied to driver-state
  * snapshots. [[Maintenance]] is the single owner of both calls: its
  * `save` publishes and `Maintenance.resume` resolves, for every handle.
  *
  * Why: every handle's snapshot is SEVERAL parquet directories plus the
  * [[BatchLedger]] — written sequentially, a crash mid-save leaves state
  * dirs from batch N next to a ledger from batch N−1 (or vice versa),
  * and a resume would load the mix silently. The ledger guards stream
  * REPLAY; snapshot atomicity needs its own commit point.
  *
  * Protocol ([[publish]]): the caller writes ALL of its pieces under a
  * hidden staging dir; the dir renames to `v<N>`; then a `_COMMITTED`
  * marker is created INSIDE the renamed dir. The marker is the single
  * commit point on every filesystem: on HDFS/local the rename is atomic
  * and the marker merely seals it, while on an object store where a
  * directory rename is a non-atomic per-object copy (S3A) the
  * destination is never marked until every object has arrived — a
  * marker written BEFORE the rename could land ahead of the data files
  * it vouches for ('_COMMITTED' sorts before 'part-*') and a crash
  * mid-copy would leave a torn-but-marked version. A `v<N>` dir without
  * the marker is never read and is swept as debris by a later publish.
  * Renames are CHECKED — Hadoop reports most failures by returning
  * false, not throwing.
  *
  * Retention (after the commit point): the new version and the one it
  * supersedes are KEPT ([[Keep]] = 2); only older committed versions,
  * torn uncommitted `v<N>` debris, and — at the FIRST versioned publish
  * — the legacy flat snapshot pieces at the bare path are deleted. The
  * one-version grace window exists for a concurrent external reader:
  * a second process that [[resolve]]d the then-newest version just
  * before this publish still finds its directory (the single-driver
  * fleet never needs this, but the snapshot paths are advertised as
  * HDFS paths, where a sibling process resuming mid-publish is legal).
  * A reader must load eagerly within one publish cycle —
  * `Maintenance.resume` localCheckpoints every piece immediately, which
  * is what makes deleting the N−2 version safe.
  *
  * [[resolve]] returns the newest committed version dir, falling back
  * to the bare path only when it holds recognizable pre-versioning
  * flat pieces (anything other than publish debris); a path holding
  * nothing but a torn first staging dir fails with the save-first
  * message instead of an opaque downstream read error. The handle OWNS
  * its snapshot path: everything under it that is not a version dir is
  * treated as legacy flat state and GC'd once versioning takes over.
  */
private[graft] object Snapshots {

  private val Committed = "_COMMITTED"

  /** Committed versions kept after a publish (the new one + the one it
    * supersedes) — the grace window for a concurrent external reader.
    */
  private val Keep = 2

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionOf(name: String): Option[Long] =
    if (name.length > 1 && name.head == 'v' && name.tail.forall(_.isDigit))
      Some(name.tail.toLong)
    else None

  private def entries(fs: FileSystem, root: Path): Seq[FileStatus] =
    if (fs.exists(root)) fs.listStatus(root).toSeq else Seq.empty

  /** All version-named dirs under `root` (committed or torn), unsorted. */
  private def versionDirs(fs: FileSystem,
      root: Path): Seq[(Long, Path, Boolean)] =
    entries(fs, root).filter(_.isDirectory).flatMap { st =>
      versionOf(st.getPath.getName).map(v => (v, st.getPath,
        fs.exists(new Path(st.getPath, Committed))))
    }

  /** Entries under `root` that are neither version dirs nor staging
    * debris — the legacy flat snapshot pieces a pre-versioning save()
    * wrote directly at the bare path.
    */
  private def flatPieces(fs: FileSystem, root: Path): Seq[Path] =
    entries(fs, root).filter { st =>
      val name = st.getPath.getName
      !(st.isDirectory && versionOf(name).isDefined) &&
        !name.startsWith(".staging-")
    }.map(_.getPath)

  /** Stage-and-publish one snapshot version: `write` receives the
    * staging dir and must write every piece of the snapshot under it;
    * afterwards the dir renames into place and the marker seals it.
    * Throws (staging left for inspection, prior version untouched) on
    * any failure — save() is all-or-nothing.
    */
  def publish(spark: SparkSession, path: String)
      (write: String => Unit): Unit = {
    val root = new Path(path)
    val fs = fsFor(spark, root)
    fs.mkdirs(root)
    val versions = versionDirs(fs, root)
    val committed = versions.filter(_._3).map(_._1)
    // next counts TORN dirs too: a crash between rename and marker
    // leaves an uncommitted v<N> whose name must not be reused (the
    // rename into it would fail)
    val next = (versions.map(_._1) :+ -1L).max + 1
    val staged = new Path(root, s".staging-v$next")
    if (fs.exists(staged)) fs.delete(staged, /* recursive = */ true)
    write(staged.toString)
    val dst = new Path(root, s"v$next")
    if (!fs.rename(staged, dst))
      throw new java.io.IOException(
        s"snapshot publish $staged -> $dst returned false")
    // COMMIT POINT: the marker lands in the destination AFTER the move
    fs.create(new Path(dst, Committed), /* overwrite = */ true).close()
    // retention AFTER the commit point: keep the superseded committed
    // version for a reader that resolved it just before this publish;
    // sweep older committed versions and torn uncommitted debris. A
    // crash anywhere above leaves the prior committed versions intact.
    val keep = (committed.sorted.takeRight(Keep - 1) :+ next).toSet
    versions.foreach { case (v, dir, _) =>
      if (!keep.contains(v)) fs.delete(dir, true)
    }
    // legacy flat pieces a pre-versioning save() left at the bare path
    // are superseded once a version commits — but GC them only from the
    // SECOND versioned publish on: a sibling process that resolve()d the
    // bare path just before the first versioned save gets the same one-
    // publish-cycle grace window the Keep=2 version retention gives a
    // concurrent reader of a superseded version dir
    if (committed.nonEmpty)
      flatPieces(fs, root).foreach(p => fs.delete(p, true))
  }

  /** The directory a resume() should read: the newest committed version,
    * or the bare path when no version was ever published but legacy
    * flat snapshot pieces exist. Fails loudly when the path holds
    * neither — including the first-save-crash case where the root
    * exists but contains only a torn staging dir.
    */
  def resolve(spark: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = fsFor(spark, root)
    val vs = versionDirs(fs, root).filter(_._3)
    if (vs.nonEmpty) vs.maxBy(_._1)._2.toString
    else {
      require(flatPieces(fs, root).nonEmpty,
        s"no committed snapshot at $path — save() at least once before " +
          "resume() (staging/torn debris alone does not count)")
      path
    }
  }
}
