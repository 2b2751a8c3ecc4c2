package graft.ds

import org.apache.hadoop.fs.{FileSystem, Path}

/** THE sidecar promotion protocol, in one place: stage the new bytes
  * beside the destination under a hidden `.name__tmp`, then
  * delete + rename. An unlocked reader never sees a torn file (the
  * rename is atomic on every Hadoop FS graft targets), and a crash
  * mid-write costs at most the staged copy. Previously each sidecar
  * (bloom index, stats index root + segments, rowgroup-bloom contract,
  * lock stats) hand-rolled this with drifting details — a durability
  * fix had five places to miss; now they all call here.
  *
  * The tmp name is dot-hidden so directory-listing readers (Spark's
  * file index, the stats segment scan) skip it by convention.
  * [[tmpFor]] is exposed because the lock-stats accumulator recovers
  * crash-orphaned tmps (its content cannot be rebuilt from data — see
  * DatasetLock.mergeIntoSidecar). */
object Sidecars {

  def tmpFor(dst: Path): Path = new Path(dst.getParent, s".${dst.getName}__tmp")

  /** Stage + promote; throws (IllegalArgumentException) when the
    * rename is refused — silent loss of a sidecar update is how stale
    * supersets stop being supersets. */
  def atomicWrite(fs: FileSystem, dst: Path, bytes: Array[Byte], what: String): Unit = {
    val tmp = tmpFor(dst)
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"$what: cannot promote $tmp to $dst")
  }
}

/** The driver's cache of parsed sidecar files, for the per-scan paths
  * ([[StatsIndex.loadCached]], [[RowGroupBloom.loadCached]]): qualified
  * path → (mtime, length, parse result). An unchanged file costs one
  * `getFileStatus` RPC instead of a read + parse, and writes invalidate
  * naturally (fresh names, or a promote that changes the stamps).
  * Bounded by wholesale clear — correctness never depends on the
  * cache, so eviction policy only affects RPC counts. */
private[ds] final class ParsedSidecars[T](parse: String => Option[T]) {
  private[this] val m =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Option[T])]()

  /** `p` parsed: None when it is absent, unreadable or fails `parse`
    * (a corrupt sidecar loads as absent). `cached = false` reads and
    * parses without touching the cache. */
  def read(fs: FileSystem, p: Path, cached: Boolean): Option[T] =
    (try Some(fs.getFileStatus(p)) catch { case scala.util.control.NonFatal(_) => None })
      .flatMap { st =>
        val key = fs.makeQualified(p).toString
        val hit = if (cached) m.get(key) else null
        if (hit != null && hit._1 == st.getModificationTime && hit._2 == st.getLen) hit._3
        else {
          val parsed = try {
            val in = fs.open(p)
            val text = try new String(in.readAllBytes(),
              java.nio.charset.StandardCharsets.UTF_8) finally in.close()
            parse(text)
          } catch { case scala.util.control.NonFatal(_) => None }
          if (cached) {
            if (m.size > 4096) m.clear()
            m.put(key, (st.getModificationTime, st.getLen, parsed))
          }
          parsed
        }
      }
}
