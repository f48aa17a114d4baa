package graft.operators

import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** A concurrent writer published the manifest version this writer was
  * about to claim. [[ManifestedLog.append]] and the index appends catch
  * it and retry from the re-read manifest (bounded attempts,
  * exactly-once content); compaction and vacuum surface it — they run
  * from the single scheduled [[ManifestedLog.maintain]] sweep by
  * contract, so a collision there is a deployment error to fail loudly
  * on, not a race to absorb. */
final case class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

/** The commit protocol every persisted store shares — [[ManifestedLog]],
  * [[IvfIndex]], [[LexIndex]] and [[SnapshotTable]] — written once: a
  * directory of numbered manifests `<prefix>-<v%09d>.txt` whose newest
  * member IS the store's state (the log-commit pattern of Delta Lake and
  * Iceberg). Each store keeps only its manifest encoding (which lines it
  * writes and parses), its own retention inputs and its erase
  * completion; listing, naming, atomic publish, reader pins and the
  * retention sweep live here.
  *
  *  - Versions live in file NAMES, so "newest" is one listing and no
  *    read; a missing root lists as no versions, so every store fails a
  *    missing path with its own "no … under <path>" / "not retained"
  *    error instead of a raw FileNotFoundException.
  *  - [[publish]] is the only mutation of the state: the text lands
  *    under a WRITER-UNIQUE dot-tmp name and is exposed by
  *    [[FsAtomic.renameNoReplace]] onto a target that must not exist.
  *    The tmp must be unique per call — two racers sharing one tmp path
  *    could publish the loser's text under the winner's success. A
  *    target that exists before the write (the cheap fast path) or at
  *    the rename (the guarantee) is a lost race:
  *    [[ConcurrentWriteException]].
  *  - Reader pins: a named pin `_pins/pin-<name>.txt` holds one
  *    published version against maintenance sweeps, so a long-running
  *    reader (an evaluation replaying a fixed index version, a
  *    change-feed consumer mid-catchup) cannot lose its manifest to a
  *    concurrent vacuum. The pin-vs-vacuum race closes with a symmetric
  *    two-step handshake — each side publishes its claim, then checks
  *    the other's. [[pin]] writes its file atomically, then re-verifies
  *    the manifest still exists; if a sweep's trash-rename won, the pin
  *    protected nothing, so it removes itself and fails LOUDLY at pin
  *    time, where the reader can still react. The sweep TRASH-RENAMES
  *    each doomed manifest aside (atomic), re-reads `_pins/` (tiny),
  *    then restores the manifest if a pin landed, else drops it. A pin
  *    that lands before the re-read restores; one that lands after finds
  *    the manifest missing in its own verify step and fails there. No
  *    interleaving leaves a pin silently protecting nothing.
  *  - [[vacuum]] is the one retention sweep (see there).
  *
  * `readerPins = false` is a directory whose retention another store's
  * pins drive through `alsoKeep` (the snapshot of a pinned log): it
  * reads no `_pins/` and deletes dropped manifests directly. */
private[operators] final class VersionedDir(f: FileSystem, root: Path,
                                            prefix: String,
                                            readerPins: Boolean = true) {
  import VersionedDir.token

  private val ManifestRe = (java.util.regex.Pattern.quote(prefix) +
    "-(\\d{9})\\.txt").r
  private def kind = prefix.replace('-', ' ')
  private def pinsDir = new Path(root, "_pins")

  def file(v: Long): Path = new Path(root, f"$prefix-$v%09d.txt")

  def exists(v: Long): Boolean = f.exists(file(v))

  /** Every published version, ascending; none for a missing root. */
  def versions: Seq[Long] = {
    val listed = try f.listStatus(root)
                 catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    listed.map(_.getPath.getName).collect {
      case ManifestRe(v) => v.toLong
    }.sorted.toSeq
  }

  private def text(p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** The non-empty lines of manifest `v` after its checked header. */
  def lines(v: Long, header: String): List[String] = {
    val target = file(v)
    val all = text(target).linesIterator.toList
    require(all.headOption.contains(header), s"$target is not a $header file")
    all.drop(1).filter(_.nonEmpty)
  }

  /** Publish `lines` as version `v`, or throw [[ConcurrentWriteException]]
    * when a racer already holds it. */
  def publish(v: Long, lines: Seq[String]): Unit =
    if (exists(v) || !tryPublish(v, lines)) throw
      ConcurrentWriteException(s"$kind version $v already exists under " +
        s"$root — a concurrent writer won the race")

  /** The atomic step of [[publish]] without its exists fast path: false
    * (tmp removed) when the target already existed at the rename. */
  def tryPublish(v: Long, lines: Seq[String]): Boolean = {
    val tmp = new Path(root, s".$prefix-$v-${token()}.tmp")
    val out = f.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    FsAtomic.renameNoReplace(f, tmp, file(v)) || { f.delete(tmp, false); false }
  }

  // ---------------------------------------------------------- reader pins

  /** Register (or move) the named pin onto a RETAINED version; returns
    * it. Pin BEFORE starting the long read. Re-pinning a name replaces
    * it (delete + rename — the crash window between the two leaves the
    * name unpinned; a restarting reader re-pins as its first step). */
  def pin(name: String, version: Long): Long = {
    VersionedDir.requireName("pin names", name)
    val retained = versions
    if (!retained.contains(version)) sys.error(
      s"cannot pin version $version of $root: not retained " +
        s"(have: ${retained.mkString(", ")})")
    if (!f.exists(pinsDir)) f.mkdirs(pinsDir)
    val target = new Path(pinsDir, s"pin-$name.txt")
    val tmp = new Path(pinsDir, s".pin-$name.tmp")
    val out = f.create(tmp, true)
    try out.write(s"$version\n".getBytes("UTF-8")) finally out.close()
    if (f.exists(target)) f.delete(target, false)
    if (!f.rename(tmp, target))
      sys.error(s"publishing pin $target failed; tmp content is in $tmp")
    // re-verify AFTER publishing — this side's half of the handshake
    if (!exists(version)) {
      f.delete(target, false)
      sys.error(
        s"version $version of $root was vacuumed while pin '$name' was " +
          "being created — the pin would protect nothing; re-resolve the " +
          "newest version and pin again")
    }
    version
  }

  /** Drop the named pin; true if it existed. */
  def unpin(name: String): Boolean =
    f.delete(new Path(pinsDir, s"pin-$name.txt"), false)

  /** All registered pins, name → version. */
  def pins: Map[String, Long] =
    if (!f.exists(pinsDir)) Map.empty
    else f.listStatus(pinsDir).flatMap { st =>
      st.getPath.getName match {
        case VersionedDir.PinRe(name) => Some(name -> text(st.getPath).trim.toLong)
        case _ => None
      }
    }.toMap

  // ------------------------------------------------------ retention sweep

  /** The retention sweep. Keeps the newest `keepVersions` manifests, the
    * pinned ones, and the versions `alsoKeep` picks from the listed
    * ones (the log's just-published ones, the snapshot's log pins).
    * Every manifest is `read` BEFORE any delete, so the live set is
    * recomputed from whichever manifests survive the pin-aware manifest
    * sweep. Then one listing reclaims:
    *  - `isData` entries no kept manifest `refs` — immediately when a
    *    listed manifest ever referenced them (superseded published
    *    data: no writer can be mid-write there), otherwise only once
    *    older than `orphanMinAgeMs`: a never-referenced entry is exactly
    *    what an in-flight writer is staging until its publish, and a
    *    sweep racing it would delete bytes a manifest is about to
    *    reference;
    *  - dot-tmp leftovers, under the same age guard.
    * Pins on already-gone versions protect nothing ([[pin]] fails
    * loudly at creation instead). Returns the kept manifests (ascending)
    * and the number of paths removed. */
  def vacuum[M](keepVersions: Int, orphanMinAgeMs: Long = 0L,
                alsoKeep: Seq[Long] => Seq[Long] = _ => Nil)(read: Long => M)(
                refs: M => Iterable[String],
                isData: String => Boolean): (Seq[M], Long) = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    require(orphanMinAgeMs >= 0L, s"orphanMinAgeMs must be >= 0, got $orphanMinAgeMs")
    val vs = versions
    require(vs.nonEmpty, s"no $kind under $root")
    val pinned = if (readerPins) pins.values.filter(vs.contains) else Nil
    val kept0 = vs.takeRight(keepVersions).toSet ++ pinned ++
      alsoKeep(vs).filter(vs.contains)
    val manifests = vs.map(v => v -> read(v)).toMap
    var removed = 0L
    // manifests first — the pin handshake decides the final kept set
    val restored = scala.collection.mutable.Set.empty[Long]
    vs.filterNot(kept0.contains).foreach { v =>
      if (!readerPins) { f.delete(file(v), false); removed += 1 }
      else {
        val trash = new Path(root, s".vacuum-trash-$v-${token()}")
        if (f.rename(file(v), trash)) {
          if (pins.values.exists(_ == v)) {
            if (!f.rename(trash, file(v))) sys.error(
              s"restoring pinned manifest ${file(v)} from $trash failed — " +
                "restore it manually before the next sweep")
            restored += v
          } else { f.delete(trash, false); removed += 1 }
        }
      }
    }
    val kept = (kept0 ++ restored).toSeq.sorted.map(manifests)
    val live = kept.flatMap(refs).toSet
    val referencedEver = manifests.values.flatMap(refs).toSet
    val cutoffMs = System.currentTimeMillis() - orphanMinAgeMs
    def oldEnough(st: FileStatus): Boolean =
      orphanMinAgeMs == 0L || st.getModificationTime < cutoffMs
    f.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      val doomed = name match {
        case ManifestRe(_) => false // decided by the manifest sweep above
        case _ if isData(name) =>
          !live(name) && (referencedEver(name) || oldEnough(st))
        case _ => name.startsWith(".") && oldEnough(st)
      }
      if (doomed) { f.delete(st.getPath, true); removed += 1 }
    }
    (kept, removed)
  }

  // --------------------------------------------------- segment appends

  /** Publish the already-written append segment `seg` on top of the
    * newest manifest, starting from `first` — the retry both indexes'
    * racing appenders share. A lost race re-reads the manifest and
    * publishes again on top of the winner, which is valid because
    * appends never change the layout segments are written under. If a
    * REBUILD won (`layout` changed), the segment is deleted and the
    * append fails loudly; if the racer already delivered `batchTag`,
    * the duplicate segment is deleted and the racer's version returned.
    * Otherwise returns the version published. */
  def publishSegment[M](seg: String, batchTag: Option[String], first: M,
                        reread: () => M)(
                        version: M => Long, segments: M => Seq[String],
                        layout: M => Any)(publishOn: M => Unit): Long = {
    @scala.annotation.tailrec
    def attempt(m: M): Long = {
      val won = try { publishOn(m); true }
                catch { case _: ConcurrentWriteException => false }
      if (won) version(m) + 1
      else {
        val now = reread()
        if (layout(now) != layout(first)) {
          f.delete(new Path(root, seg), true)
          sys.error(s"append to $root lost a race to a REBUILD — the " +
            "segment was written under a replaced layout; re-append " +
            "against the new index")
        }
        if (batchTag.exists(VersionedDir.delivered(segments(now), _))) {
          f.delete(new Path(root, seg), true)
          version(now)
        } else attempt(now)
      }
    }
    attempt(first)
  }
}

private[operators] object VersionedDir {

  private val PinRe = "pin-(.+)\\.txt".r

  /** 8-hex uniqueness token for writer-private paths (staged segments
    * and day directories, manifest tmp files) — what makes two
    * concurrent writers' staged artifacts disjoint BY CONSTRUCTION, so
    * the only contended operation left is the atomic manifest publish. */
  def token(): String = java.util.UUID.randomUUID().toString.take(8)

  /** An append segment's name: `seg-<token>`, plus `-b<tag>` for a
    * tagged (idempotent) append. */
  def segmentName(batchTag: Option[String]): String =
    s"seg-${token()}${batchTag.fold("")("-b" + _)}"

  /** True when a segment of `segments` carries `tag` — the batch was
    * already delivered. */
  def delivered(segments: Seq[String], tag: String): Boolean =
    segments.exists(_.endsWith(s"-b$tag"))

  /** Pin names and batch tags become file-name parts: `[A-Za-z0-9_-]+`. */
  def requireName(what: String, name: String): Unit =
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"$what are [A-Za-z0-9_-]+, got '$name'")
}
