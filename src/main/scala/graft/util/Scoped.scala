package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Scoping for work that needs its own session conf or scratch files
  * without touching the caller's: the streaming rigs' widths and state
  * provider ([[graft.streaming.StreamOps]]), the connected-components
  * loop's data-sized width, a dbt target's `sparkConf`, and the events
  * table's nanos-as-long read ([[graft.sources.Tables.events]]).
  *
  * The scoped session is a CLONE of the caller's session (`cloneSession`).
  * A `newSession` would rebuild its conf from the SparkContext and
  * silently drop everything the caller set at runtime
  * (time zone, ANSI mode, AQE flags), so work in it could diverge from the
  * caller's semantics. The clone copies that conf, then the overrides
  * apply to the clone only — nothing planned concurrently on the caller's
  * session can observe them, and no save/restore can leave them behind.
  * It shares the SparkContext, so cached and checkpointed blocks move
  * between the two sessions for free through [[rebind]]. */
object Scoped {
  def session(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val s = Bridge.cloneSession(spark)
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** The same logical plan on another session (same SparkContext): its
    * later planning and execution use `to`'s conf. */
  def rebind(df: DataFrame, to: SparkSession): DataFrame =
    Bridge.ofRows(to, df.queryExecution.analyzed)

  /** Runs `f` with a fresh temp directory and deletes it afterwards, on
    * failure too. Whatever `f` returns must not read from the directory
    * lazily: checkpoint it first. */
  def tempDir[T](prefix: String)(f: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir) finally rmTree(dir.toFile)
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }
}
