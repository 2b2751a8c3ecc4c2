package graft.meta

import java.time.Instant
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import graft.core.{Naming, Toml}
import graft.ds.GraftDataset

/** Time-travel snapshot manager (reference `dataset/timefly.py`):
  *
  * ```
  * <dataset>/
  *   _dataset.toml
  *   current/                       ← live data files
  *   snapshot/<YYYYMMDD_HHMMSS>/    ← full copies
  * ```
  *
  * Snapshot ids are second-resolution UTC stamps; time-travel resolution
  * picks the FIRST snapshot strictly newer than the probe timestamp, else
  * `current` (`timefly.py:337-352`). Copies are parallel FS copies; at
  * 100 TB a manifest (file-list) snapshot is the right mechanism — noted
  * in SURVEY §7.3 — but the reference semantics are copy-based, which we
  * preserve here behind this interface.
  */
final class TimeFly(spark: SparkSession, root: String) {
  private val rootPath = new Path(root)
  private def fs: FileSystem = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  val configPath = new Path(rootPath, "_dataset.toml")
  val currentPath = new Path(rootPath, "current")
  val snapshotRoot = new Path(rootPath, "snapshot")

  def currentDataset(format: String = "parquet"): GraftDataset =
    GraftDataset(currentPath.toString, format = format)

  // ----------------------------------------------------------- config IO
  def readConfig(): Toml.Tbl =
    if (!fs.exists(configPath)) Toml.Tbl.empty
    else {
      val in = fs.open(configPath)
      try Toml.parse(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }

  def writeConfig(t: Toml.Tbl): Unit = {
    val out = fs.create(configPath, true)
    try out.write(Toml.render(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // ----------------------------------------------------------- lifecycle
  /** Init the layout (reference `timefly.py:130-156`); adopts data files
    * found in the dataset root into `current/` (`timefly.py:172-174`). */
  def init(name: String, description: String = ""): Unit = {
    fs.mkdirs(currentPath)
    fs.mkdirs(snapshotRoot)
    // adopt stray data files in the root
    fs.listStatus(rootPath).filter(_.isFile).map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .foreach(p => fs.rename(p, new Path(currentPath, p.getName)))
    val cfg = readConfig()
    val ds = Toml.Tbl(
      "name" -> Toml.Str(name),
      "description" -> Toml.Str(description),
      "path" -> Toml.Str(root),
      "init" -> Toml.Str(Instant.now().toString))
    writeConfig(Toml.Tbl(cfg.v
      .updated("dataset", ds)
      .updated("current", cfg.v.getOrElse("current", Toml.Tbl.empty))
      .updated("snapshot", cfg.v.getOrElse("snapshot",
        Toml.Tbl("available" -> Toml.Arr(Nil), "deleted" -> Toml.Arr(Nil))))))
  }

  /** Record the latest write config under `[current]`
    * (reference `timefly.py:158-237`). */
  def updateCurrent(kvs: (String, Toml.Value)*): Unit = {
    val cfg = readConfig()
    val cur = Toml.getTbl(cfg, "current").getOrElse(Toml.Tbl.empty)
    val updated = kvs.foldLeft(cur.v)((m, kv) => m.updated(kv._1, kv._2))
      .updated("latest_update", Toml.Str(Instant.now().toString))
    writeConfig(Toml.Tbl(cfg.v.updated("current", Toml.Tbl(updated))))
  }

  def availableSnapshots(): Seq[String] =
    Toml.getTbl(readConfig(), "snapshot").map(t => Toml.getArr(t, "available")).getOrElse(Nil).sorted

  /** Snapshot ids have second resolution; a second snapshot within the
    * same second must NOT reuse the id — FileUtil.copy into an existing
    * destination dir silently nests the copy under `<id>/current/`,
    * giving a snapshot that reads back with duplicated rows. Bump the
    * instant forward (1 s at a time) until the id is free — snapshot
    * ordering and timestamp resolution both survive. */
  private def freshSnapshotInstant(now: Instant): Instant = {
    var t = now
    while (fs.exists(new Path(snapshotRoot, Naming.snapshotId(t))))
      t = t.plusSeconds(1)
    t
  }

  /** Copy `current/` → `snapshot/<id>/` (reference `timefly.py:245-310`).
    * Runs under the dataset lock: a writer's staged swap mid-copy would
    * capture a half-old half-new file mix — a born-torn snapshot. */
  def addSnapshot(now: Instant = Instant.now()): String =
    graft.ds.DatasetLock.withLock(fs, currentPath) {
      fs.mkdirs(snapshotRoot)
      val at = freshSnapshotInstant(now)
      val id = Naming.snapshotId(at)
      val dst = new Path(snapshotRoot, id)
      if (fs.exists(currentPath))
        FileUtil.copy(fs, currentPath, fs, dst, false, spark.sparkContext.hadoopConfiguration)
      registerSnapshot(id, at)
      id
    }

  /** Record `id` in `[snapshot]` config — shared by both snapshot modes
    * so the registration schema can't drift between them. */
  private def registerSnapshot(id: String, now: Instant, extra: (String, Toml.Value)*): Unit = {
    val cfg = readConfig()
    val snap = Toml.getTbl(cfg, "snapshot").getOrElse(Toml.Tbl.empty)
    val avail = Toml.getArr(snap, "available") :+ id
    val entry = Toml.Tbl((Seq("created" -> (Toml.Str(now.toString): Toml.Value)) ++ extra): _*)
    writeConfig(Toml.Tbl(cfg.v.updated("snapshot", Toml.Tbl(snap.v
      .updated("available", Toml.Arr(avail.distinct.sorted.map(Toml.Str)))
      .updated(id, entry)))))
  }

  /** Manifest snapshot — the O(metadata) alternative to the copy: write
    * `snapshot/<id>/_manifest.txt` with one `<size>\t<path>` line per
    * current data file instead of duplicating bytes (SURVEY §7.3's
    * declared deviation; the reference only has copies,
    * `timefly.py:300-305`). At 100 TB this is the difference between an
    * O(data) copy job and one metadata listing.
    *
    * Contract: a manifest stays valid while the referenced files exist —
    * i.e. for append-mostly datasets (delta/append writes never touch
    * old files). Rewrite-heavy datasets (repartition, schema-unify,
    * overwrite) should keep using copy snapshots for physical isolation;
    * that is why copy remains the default. */
  def addSnapshot(now: Instant, manifest: Boolean): String = {
    if (!manifest) return addSnapshot(now)
    // locked like the copy mode: an unlocked manifest listed while a
    // writer swaps files would record paths deleted an instant later —
    // a snapshot that throws 'references missing file' from birth
    graft.ds.DatasetLock.withLock(fs, currentPath) {
      val at = freshSnapshotInstant(now)
      val id = Naming.snapshotId(at)
      fs.mkdirs(new Path(snapshotRoot, id))
      // sizes come from the same single recursive listing as the paths —
      // a per-file getFileStatus here would be O(files) driver RPCs on an
      // object store, defeating the O(metadata) point of the manifest
      val entries = currentDataset().dataFileStatuses(spark).sortBy(_._1)
        .map { case (f, len) => s"$len\t$f" }
      val out = fs.create(manifestPath(id), true)
      try out.write((entries.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      registerSnapshot(id, at, "manifest" -> Toml.Bool(true))
      id
    }
  }

  private def manifestPath(id: String): Path =
    new Path(snapshotRoot, s"$id/_manifest.txt")

  /** File list of a manifest snapshot, or None for a copy snapshot. */
  def manifestFiles(id: String): Option[Seq[String]] =
    manifestEntries(id).map(_.map(_._2))

  /** (size, path) entries of a manifest snapshot — the recorded sizes
    * let restore VERIFY a referenced file is unchanged without reading
    * its bytes. None for a copy snapshot. */
  def manifestEntries(id: String): Option[Seq[(Long, String)]] = {
    val mf = manifestPath(id)
    if (!fs.exists(mf)) None
    else {
      val in = fs.open(mf)
      val text = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
                 finally in.close()
      Some(text.split('\n').toSeq.filter(_.nonEmpty).map { l =>
        val tab = l.indexOf('\t')
        if (tab < 0) throw new IllegalStateException(
          s"snapshot $id: malformed manifest line (no size\\tpath separator): '$l' — " +
            s"the manifest at ${manifestPath(id)} is corrupt or hand-edited")
        (l.substring(0, tab).toLong, l.substring(tab + 1))
      })
    }
  }

  /** rm snapshot dir; move id available→deleted (`timefly.py:312-325`). */
  def deleteSnapshot(id: String): Unit = {
    fs.delete(new Path(snapshotRoot, id), true)
    val cfg = readConfig()
    val snap = Toml.getTbl(cfg, "snapshot").getOrElse(Toml.Tbl.empty)
    val avail = Toml.getArr(snap, "available").filterNot(_ == id)
    val deleted = (Toml.getArr(snap, "deleted") :+ id).distinct.sorted
    writeConfig(Toml.Tbl(cfg.v.updated("snapshot", Toml.Tbl((snap.v - id)
      .updated("available", Toml.Arr(avail.map(Toml.Str)))
      .updated("deleted", Toml.Arr(deleted.map(Toml.Str)))))))
  }

  /** Restore a snapshot over `current/` (reference `timefly.py:354-387`).
    * A copy snapshot is copied into a staging dir, then swapped in
    * through [[graft.ds.Commit]] — never a partial overwrite. A manifest
    * snapshot deletes the files `current/` gained since it was taken. */
  def loadSnapshot(id: String): Unit = {
    val src = new Path(snapshotRoot, id)
    require(fs.exists(src), s"snapshot $id does not exist")
    // restore mutates current/ — same lock every writer takes on it
    graft.ds.DatasetLock.withLock(fs, currentPath)(loadSnapshotLocked(id, src))
  }

  private def loadSnapshotLocked(id: String, src: Path): Unit = {
    manifestEntries(id) match {
      case Some(entries) =>
        // Manifest restore is O(files added since the snapshot), ZERO
        // data bytes moved: every referenced file already lives inside
        // current/ (validated below), so restoring means (1) verify the
        // referenced files are still there at their recorded sizes,
        // (2) delete only the files current/ gained since the snapshot.
        // Unchanged files keep identity and mtime — restoring a dataset
        // nothing touched is a pure metadata no-op. (The previous
        // staged-copy restore re-copied the whole snapshot through a
        // temp dir; at 100 TB that is an O(data) job for what is
        // logically an undo of some appends.)
        val curPrefix = fs.makeQualified(currentPath).toString + "/"
        val keep = entries.map { case (len, f) =>
          val p = fs.makeQualified(new Path(f))
          require(p.toString.startsWith(curPrefix),
            s"manifest snapshot $id references a file outside current/: $f")
          val st = try fs.getFileStatus(p) catch {
            case _: java.io.FileNotFoundException => throw new IllegalStateException(
              s"manifest snapshot $id references missing file $f — the file was " +
                "rewritten or vacuumed; manifest snapshots stay valid only for " +
                "append-mostly datasets (use copy snapshots around rewrites)")
          }
          require(st.getLen == len,
            s"manifest snapshot $id: $f changed size (${st.getLen} vs recorded $len) — " +
              "rewritten in place since the snapshot; cannot restore from manifest")
          p.toString
        }.toSet
        val extras = currentDataset().dataFileStatuses(spark)
          .map { case (f, _) => fs.makeQualified(new Path(f)) }
          .filterNot(p => keep.contains(p.toString))
        extras.foreach(p => fs.delete(p, false))
        // drop partition dirs emptied by the deletes (bottom-up: a dir
        // is removable once its children are gone); harmless to scans
        // either way, but leftover empty `col=value` dirs would pollute
        // partition enumeration
        def pruneEmptyDirs(d: Path): Boolean = {
          val children = fs.listStatus(d)
          val kept = children.count { st =>
            if (st.isDirectory && pruneEmptyDirs(st.getPath)) { fs.delete(st.getPath, false); false }
            else true
          }
          kept == 0
        }
        pruneEmptyDirs(currentPath)
      case None =>
        // copy into staging, then swap: deleting current/ first would
        // leave a crash mid-copy with current/ missing or partial
        val staged = graft.ds.Commit.staging(fs, currentPath)
        FileUtil.copy(fs, src, fs, staged, false, spark.sparkContext.hadoopConfiguration)
        graft.ds.Commit.install(fs, staged, currentPath)
    }
    updateCurrent("restored_from" -> Toml.Str(id))
  }

  /** Resolve the read path for an optional probe timestamp: first
    * snapshot strictly after the probe, else current
    * (`timefly.py:337-352`). */
  def resolvePath(probe: Option[Instant]): Path = probe match {
    case None => currentPath
    case Some(ts) =>
      Naming.resolveSnapshot(availableSnapshots(), ts)
        .map(id => new Path(snapshotRoot, id))
        .getOrElse(currentPath)
  }

  /** Time-travel read (reference `TimeFlyReader`, `reader.py:584-680`).
    * A probe resolving to a manifest snapshot reads exactly the
    * manifest's file set — no bytes were ever copied. */
  def read(probe: Option[Instant] = None, format: String = "parquet"): GraftDataset = {
    val p = resolvePath(probe)
    val manifest =
      if (p == currentPath) None else manifestFiles(p.getName)
    manifest match {
      // basePath = current/ (the manifest files' true root): the
      // deepest-common-dir fallback would sit inside a partition dir
      // whenever every file shares one partition value, dropping the
      // partition column for that snapshot only
      case Some(fl) => GraftDataset(p.toString, format = format, files = fl,
        filesBasePath = Some(currentPath.toString))
      case None => GraftDataset(p.toString, format = format)
    }
  }
}
