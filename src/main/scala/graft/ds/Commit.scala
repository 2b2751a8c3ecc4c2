package graft.ds

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one crash-safe commit primitive. Every mutating operator stages
  * its output and promotes it through here; this is the only code that
  * names a staging or backup directory, or renames a data directory or
  * a data file.
  *
  * Two entry points promote data:
  *  - [[rewrite]] replaces part or all of a dataset: upsert, delete,
  *    in-place repartition and compaction.
  *  - [[appendStaged]] adds files: delta commits, appends to a
  *    bloom-indexed dataset and the schema-unify rewrite.
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
  *    partitions.
  *  - append promotion ([[appendStaged]]): each staged file moves into
  *    its live leaf by one rename, so a crash leaves a prefix of the
  *    batch's files live and the rest in staging — deleted. The
  *    writer merges the batch's keys into the bloom sidecar before the
  *    first move, so every live row's key is in the filter, and
  *    re-running the same delta lands exactly the rows that were lost.
  *    A plain append has no replay rule of its own: re-run it as a
  *    delta on its keys. A staged file at the wrong depth fails the
  *    commit before the first move, with staging kept. */
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

  /** What a [[rewrite]] replaces. */
  sealed trait Scope
  /** The whole dataset: the staged root swaps in for the live one. */
  case object Root extends Scope
  /** The leaf partitions the staged rows land in, plus `emptied`: leaf
    * dirs (relative to the root) the rewrite may leave without rows,
    * deleted when they stage nothing. Every other partition is never
    * read, written or renamed. */
  final case class Partitions(emptied: Set[String]) extends Scope

  /** Replace `scope` of the dataset `writer` targets with `rows`: the
    * one staged rewrite. `writer` is a layout-only writer (no delta
    * keys, no sidecar build) whose target is the live dataset; `carry`
    * is the bloom index the rewritten dataset keeps (merged, bumped or
    * unchanged by the caller), evaluated once, after the staged write.
    * Under the dataset lock, in this order:
    *  1. stage `rows` through `writer` into the staging dir (mode
    *     Overwrite). `rows` may scan the live dataset lazily: nothing
    *     live changes before this write has finished;
    *  2. persist `carry`: into staging for [[Root]], so it promotes with
    *     its data; onto the live root for [[Partitions]], whose swaps
    *     leave the root's sidecars in place. Either way every key the
    *     promoted rows hold is in the filter before they are live;
    *  3. promote: [[swap]] the root, or [[promotePartitions]];
    *  4. for [[Partitions]], write (or, for an opted-out writer, delete)
    *     the [[RowGroupBloom]] contract on the live root; a root rewrite
    *     staged it with its files;
    *  5. refresh the [[StatsIndex]]: rebuilt over the new files on the
    *     columns it covered for [[Root]] (the swap killed every file it
    *     named), [[StatsIndex.maintain]] for [[Partitions]];
    *  6. [[BloomIndex.rebuildIfOverBudget]] on `carry`, scanning the
    *     rows now live.
    *
    * Crash states: those of staging, the swap and partition promotion
    * above, so after `vacuum` the scope holds its old rows or its new
    * ones (per partition for [[Partitions]]) and a carried sidecar
    * covers every live key. A crash after promotion costs at most
    * derived state: a stats index that is gone ([[Root]]) or lacks the
    * new files, which scans then keep ([[Partitions]]); a sidecar past
    * its budget; or, inside the sidecar's own delete-then-rename, no
    * sidecar, so deltas take the exact anti-join. Returns the rows
    * written and the partitions promoted (1 for [[Root]]). */
  def rewrite(spark: SparkSession, writer: DatasetWriter, rows: DataFrame, scope: Scope,
      carry: => Option[BloomIndex.Index]): (Long, Int) = {
    val live = writer.target
    val fs = live.fs(spark)
    val root = new Path(live.path)
    val rgb = writer.effectiveRowGroupBloom(fs)
    val tmp = staging(fs, root)
    val n = writer.copy(target = live.copy(path = tmp.toString), mode = WriteMode.Overwrite,
      rowGroupBloom = rgb).writeUnlocked(spark, rows)
    val idx = carry
    val promoted = scope match {
      case Root =>
        idx.foreach(BloomIndex.write(fs, tmp.toString, _))
        val statCols = StatsIndex.loadCached(fs, live.path).map(_.cols)
        swap(fs, tmp, root)
        statCols.foreach(StatsIndex.build(spark, live, _))
        1
      case Partitions(emptied) =>
        idx.foreach(BloomIndex.write(fs, live.path, _))
        val p = promotePartitions(fs, tmp, root, live.partitioning.length, emptied)
        if (live.format == "parquet") {
          if (writer.rowGroupBloomOff) RowGroupBloom.delete(fs, live.path)
          else if (rgb.nonEmpty) RowGroupBloom.write(fs, live.path, rgb)
        }
        StatsIndex.maintain(spark, live)
        p
    }
    idx.foreach(BloomIndex.rebuildIfOverBudget(spark, live, _))
    (n, promoted)
  }

  /** Promote `staged` over an existing `live`: move `live` aside,
    * promote `staged`, drop the backup — roll back if promotion fails. */
  private def swap(fs: FileSystem, staged: Path, live: Path): Unit = {
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

  /** Promote a staged partition tree into `root`, one leaf directory at
    * a time: first delete the `emptied` partitions (relative dirs) that
    * staged nothing, then [[install]] each staged leaf, then drop the
    * staging root. Returns the number of partitions promoted. */
  private def promotePartitions(fs: FileSystem, staged: Path, root: Path, depth: Int,
      emptied: Set[String]): Int = {
    val leaves = hiveLeafDirs(fs, staged, depth)
    val prefix = fs.makeQualified(staged).toString + "/"
    val rels = leaves.map(p => fs.makeQualified(p).toString.stripPrefix(prefix))
    (emptied -- rels).foreach(rel => fs.delete(new Path(root, rel), true))
    leaves.zip(rels).foreach { case (leaf, rel) => install(fs, leaf, new Path(root, rel)) }
    fs.delete(staged, true)
    leaves.size
  }

  /** Promote a staged APPEND into `root`: move every data file of the
    * staging tree into the live leaf directory at the same relative
    * path (`depth` partition levels down, the root itself at depth 0),
    * creating it when absent, then drop the staging root. Files keep
    * the job-unique names their write gave them, so a move never
    * replaces a live file. Files a reader skips ([[hidden]]: `_SUCCESS`,
    * checksums) stay behind. A data file at any other depth fails the
    * commit before anything moves, and staging is kept: deleting it
    * would drop rows the caller was told had landed. */
  def appendStaged(fs: FileSystem, staged: Path, root: Path, depth: Int): Unit = {
    val prefix = fs.makeQualified(staged).toString + "/"
    def dataFiles(d: Path): Seq[Path] = fs.listStatus(d).toSeq
      .filterNot(st => hidden(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) dataFiles(st.getPath) else Seq(st.getPath))
    val moves = dataFiles(staged).map { f =>
      val rel = fs.makeQualified(f).toString.stripPrefix(prefix)
      val dirs = rel.split('/').init
      if (dirs.length != depth || !dirs.forall(_.contains("=")))
        throw new IllegalStateException(s"commit: staged file $rel is not $depth " +
          s"partition levels deep; nothing promoted, $staged kept")
      f -> new Path(root, rel)
    }
    moves.map(_._2.getParent).distinct.foreach(fs.mkdirs)
    moves.foreach { case (src, dst) =>
      require(fs.rename(src, dst), s"commit: cannot move $src to $dst")
    }
    fs.delete(staged, true)
  }

  /** Names a dataset reader skips, by Spark's own rule: dot-prefixed
    * (backups, staging, checksums) and `_`-prefixed without an `=`
    * (`_SUCCESS`, `_temporary`). A `_`-prefixed partition directory
    * such as the writer's `__time_bucket=…` holds live data. */
  private[ds] def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** Leaf `col=value` partition directories `depth` levels under `p`.
    * [[hidden]] dirs are skipped: a leftover `.p=v__swap_old` contains
    * '=' but is NOT a partition, and treating it as one would promote
    * or compact backup data. */
  private[ds] def hiveLeafDirs(fs: FileSystem, p: Path, depth: Int): Seq[Path] =
    if (depth == 0) Seq(p)
    else fs.listStatus(p).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.contains("=") && !hidden(n)
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
