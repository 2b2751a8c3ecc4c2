package graft.ds

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one crash-safe commit primitive. Every mutating operator stages
  * its output and promotes it through here; this is the only code that
  * names a staging or backup directory, or renames a data directory.
  *
  * Layout, for a live directory `d` (a dataset root or a partition):
  *  - `.d__staging` — the staging sibling of a dataset root. One name is
  *    enough: [[DatasetLock]] serializes every mutating operation on a
  *    dataset, and no staged inner write stages again.
  *  - `.d__swap_old` — the backup [[swap]] keeps of `d` between its two
  *    renames.
  * Both are dot-hidden, so no scan or listing ever reads them.
  *
  * Crash states, by the step a crash interrupts, and what [[recover]]
  * (run by [[GraftDataset.vacuum]]) makes of them:
  *  - staging: the live dir is untouched and the staging dir is a
  *    leftover — deleted.
  *  - between the swap's two renames: the live dir is missing and the
  *    backup is the only copy of the old data — restored.
  *  - after the second rename: the live dir is new and the backup is a
  *    leftover — deleted.
  *  - partition promotion: atomic per partition directory, so each
  *    partition is old or new. Emptied partitions are deleted before
  *    any promotion: a crash in between can leave a moved key briefly
  *    absent (re-running the batch restores it), never in two
  *    partitions. */
private[graft] object Commit {
  private val BackupSuffix = "__swap_old"
  private def sibling(live: Path, suffix: String): Path =
    new Path(live.getParent, s".${live.getName}$suffix")
  private def backupOf(live: Path): Path = sibling(live, BackupSuffix)
  /** Name of the staging sibling of `live`, without clearing it. */
  private[ds] def stagingOf(live: Path): Path = sibling(live, "__staging")

  /** The staging sibling of `live`, cleared of any earlier leftover. */
  def staging(fs: FileSystem, live: Path): Path = {
    val s = stagingOf(live)
    fs.delete(s, true)
    s
  }

  /** Promote `staged` over an existing `live`: move `live` aside,
    * promote `staged`, drop the backup — roll back if promotion fails. */
  def swap(fs: FileSystem, staged: Path, live: Path): Unit = {
    val backup = backupOf(live)
    fs.delete(backup, true)
    if (!fs.rename(live, backup))
      throw new IllegalStateException(s"swap failed: cannot move $live aside")
    if (!fs.rename(staged, live)) {
      fs.rename(backup, live) // roll back
      throw new IllegalStateException(s"swap failed: cannot promote $staged")
    }
    fs.delete(backup, true)
  }

  /** Promote `staged` to `live`: [[swap]] when `live` exists, a plain
    * rename when it does not. */
  def install(fs: FileSystem, staged: Path, live: Path): Unit =
    if (fs.exists(live)) swap(fs, staged, live)
    else {
      fs.mkdirs(live.getParent)
      require(fs.rename(staged, live), s"commit: cannot promote $staged to $live")
    }

  /** Swap a staged rewrite of the whole dataset into place. The sidecars
    * live inside the root and would die in the swap: `carry` (the bloom
    * index merged, unchanged or bumped by the caller) is written into
    * the staging dir so it promotes atomically with its data, and the
    * stats index — whose entries all name files the swap kills — is
    * rebuilt over the new files on the columns it covered. */
  def swapRoot(spark: SparkSession, ds: GraftDataset, staged: Path,
      carry: Option[BloomIndex.Index]): Unit = {
    val fs = ds.fs(spark)
    carry.foreach(idx => BloomIndex.write(fs, staged.toString, idx))
    val statCols = StatsIndex.loadCached(fs, ds.path).map(_.cols)
    swap(fs, staged, new Path(ds.path))
    statCols.foreach(cs => StatsIndex.build(spark, ds, cs))
  }

  /** Promote a staged partition tree into `root`, one leaf directory at
    * a time: first delete the `emptied` partitions (relative dirs) that
    * staged nothing, then [[install]] each staged leaf, then drop the
    * staging root. Returns the number of partitions promoted. */
  def promotePartitions(fs: FileSystem, staged: Path, root: Path, depth: Int,
      emptied: Set[String]): Int = {
    val leaves = hiveLeafDirs(fs, staged, depth)
    val prefix = fs.makeQualified(staged).toString + "/"
    val rels = leaves.map(p => fs.makeQualified(p).toString.stripPrefix(prefix))
    (emptied -- rels).foreach(rel => fs.delete(new Path(root, rel), true))
    leaves.zip(rels).foreach { case (leaf, rel) => install(fs, leaf, new Path(root, rel)) }
    fs.delete(staged, true)
    leaves.size
  }

  /** Leaf `col=value` partition directories `depth` levels under `p`.
    * Hidden dirs ("."/"_" prefixes — backups, staging, metadata) are
    * skipped: a leftover `.p=v__swap_old` contains '=' but is NOT a
    * partition, and treating it as one would promote or compact backup
    * data. */
  private[ds] def hiveLeafDirs(fs: FileSystem, p: Path, depth: Int): Seq[Path] =
    if (depth == 0) Seq(p)
    else fs.listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.contains("=") && !n.startsWith(".") && !n.startsWith("_")
      }
      .flatMap(st => hiveLeafDirs(fs, st.getPath, depth - 1))

  /** Bring `root` back to a committed state after a crash. One rule for
    * every backup, at the root or at any partition in the tree: if its
    * live dir is missing, restore the backup (rollback to the pre-op
    * data); otherwise delete it. Then delete the staging sibling.
    * Refuses when the root is missing and only staging remains: that
    * dir may hold the only copy of the data. Returns the deleted paths.
    *
    * Must not race a writer — an in-flight swap's backup is the only
    * copy of the live data between its two renames. Callers hold the
    * dataset lock. */
  def recover(fs: FileSystem, root: Path): Seq[String] = {
    val staging = stagingOf(root)
    if (!fs.exists(root) && !fs.exists(backupOf(root)) && fs.exists(staging))
      throw new IllegalStateException(
        s"vacuum: $root is missing but staging siblings exist — they may hold " +
          "the only copy of the data; restore one manually instead of vacuuming")
    // swap ALWAYS dot-prefixes backups — requiring the "." is
    // load-bearing: a live partition whose legal value merely ends in
    // "__swap_old" (hive escaping leaves '_' and letters untouched) must
    // never be treated as a backup, or vacuum would delete or rename
    // real data
    def isBackup(d: Path) = d.getName.startsWith(".") && d.getName.endsWith(BackupSuffix)
    def walkDirs(d: Path): Seq[Path] =
      fs.listStatus(d).toSeq.filter(_.isDirectory).map(_.getPath)
        .flatMap(c => c +: walkDirs(c))
    def settle(b: Path): Option[String] = {
      val live = new Path(b.getParent, b.getName.stripPrefix(".").stripSuffix(BackupSuffix))
      if (fs.exists(live)) { fs.delete(b, true); Some(fs.makeQualified(b).toString) }
      else {
        if (!fs.rename(b, live)) throw new IllegalStateException(
          s"vacuum: cannot restore crashed-swap backup $b to $live")
        None // restored, not deleted
      }
    }
    // the root's own backup first: restoring it brings back the tree
    // whose partition backups the walk below settles
    val rootBackup = Seq(backupOf(root)).filter(fs.exists(_)).flatMap(settle)
    val partBackups =
      if (!fs.exists(root)) Nil else walkDirs(root).filter(isBackup).flatMap(settle)
    val stale = Seq(staging).filter(fs.exists(_)).map { s =>
      fs.delete(s, true); fs.makeQualified(s).toString }
    rootBackup ++ partBackups ++ stale
  }
}
