package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Local scratch directories: streaming checkpoints and the tables a
  * query writes and then reads back. Each dir is swept
  * at JVM exit at the latest (deleteOnExit cannot do this: it is a no-op
  * on a non-empty directory); a dir behind a returned DataFrame goes
  * sooner, once no plan reads it ([[deleteWhenUnread]]). A resumable
  * stream passes its OWN checkpointLocation and never comes here.
  */
object Scratch {
  private val pending = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private val cleaner = java.lang.ref.Cleaner.create()
  Runtime.getRuntime.addShutdownHook(new Thread(
    () => pending.forEach(d => delete(d)), "graft-scratch-sweeper"))

  /** A new temp dir under `java.io.tmpdir`, deleted at JVM exit. */
  def dir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    pending.add(d)
    d
  }

  /** `read` (a file-source read under `scratch`) whose scratch dir is
    * deleted once the read's relation is unreachable: a java.lang.ref
    * Cleaner on the `HadoopFsRelation`, which every plan derived from
    * `read` shares. So the dir lives exactly as long as a DataFrame that
    * can still scan it.
    */
  def deleteWhenUnread(read: DataFrame, scratch: Path): DataFrame = {
    val relation = read.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.getOrElse(throw new IllegalArgumentException(s"not a file-source read: $scratch"))
    cleaner.register(relation, () => { delete(scratch); pending.remove(scratch) })
    read
  }

  /** Deepest paths first; the walk stream is closed even when a delete
    * throws (an unclosed Files.walk leaks a directory handle).
    */
  private def delete(d: Path): Unit =
    try scala.util.Using.resource(Files.walk(d)) { st =>
      st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    } catch { case _: Throwable => () }
}
