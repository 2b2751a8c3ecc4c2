package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The rep protocol shared by the timing mains ([[graft.Bench]]'s batch
  * lanes and [[TimeOne]]): force a query, then drop what it left behind.
  *
  * Temp-dir hygiene: ops queries mint temp datasets (plus streaming
  * checkpoints) through [[queryTmp]] and never delete them — a long run
  * leaves 100s of dirs / GBs in java.io.tmpdir, and later queries then
  * run against a page cache and tmpfs full of dead data. Each
  * invocation creates fresh dirs, so nothing live is ever deleted; the
  * sweep touches only this process's `graft_q_<pid>_*` dirs, so two
  * graft mains on one host never delete each other's live data. */
object Hygiene {
  private val tmpRoot = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  private val prefix = s"graft_q_${ProcessHandle.current().pid()}_"

  /** A fresh `graft_q_<pid>_<name>…` dir under java.io.tmpdir, which
    * this process's [[sweepTmp]] deletes. */
  def queryTmp(name: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix + name)

  def sweepTmp(): Unit =
    try {
      val it = java.nio.file.Files.list(tmpRoot)
      try it.iterator().asScala
        .filter(_.getFileName.toString.startsWith(prefix))
        .foreach { d =>
          try {
            java.nio.file.Files.walk(d).iterator().asScala.toSeq.reverseIterator
              .foreach(p => java.nio.file.Files.deleteIfExists(p))
          } catch { case _: Throwable => () } // best-effort hygiene
        }
      finally it.close()
    } catch { case _: Throwable => () }

  /** Runs the full plan (all projected columns, all expressions) through a
    * `noop` write — `count()` would let Catalyst prune the very work
    * being measured. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One timed rep: build the query and [[force]] it (the timed span),
    * apply `probe` to the forced DataFrame, then `clearCache`,
    * [[sweepTmp]] and `System.gc()`, in that order, whether or not the
    * rep failed. The cleanup drops caches left by operator pipelines and
    * lets the ContextCleaner reclaim broadcasts/shuffles — without it,
    * later queries are measured under the accumulated driver state of
    * every earlier one and slow down 2-5x. `probe` runs before the cache
    * is cleared, so a plan it reads still sees the cached relations the
    * query ran against. Returns the wall seconds and the probe's result,
    * or whatever the rep threw. */
  def timedRep[A](spark: SparkSession)(build: => DataFrame)(probe: DataFrame => A): (Double, Either[Throwable, A]) = {
    val rep = forced(build, probe)
    spark.catalog.clearCache()
    sweepTmp()
    System.gc()
    rep
  }

  // its own frame, so no live local still holds the DataFrame (and with
  // it the query's RDDs and broadcasts) when the gc runs
  private def forced[A](build: => DataFrame, probe: DataFrame => A): (Double, Either[Throwable, A]) = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    try { val df = build; force(df); val dt = elapsed; (dt, Right(probe(df))) }
    catch { case e: Throwable => (elapsed, Left(e)) }
  }
}
