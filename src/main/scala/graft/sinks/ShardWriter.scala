package graft.sinks

/** One sink task's shard rotation, shared by the exact-name shard sinks.
  * Rows arrive sorted by shard id, and each run of equal ids becomes one
  * `outDir/{shard}.<ext>` file.
  *
  * A shard is published only after its last row. When the task fails (a
  * row, the writer or the upstream iterator throws), the open shard is
  * discarded and the failure rethrown, so a failed task leaves no partial
  * `{shard}.*` behind for a reader to mistake for a whole one; the task
  * retry, or a rerun, writes it whole. Shards published before the failure
  * are complete and stay.
  */
private[graft] abstract class ShardWriter[R] {

  /** Start shard `shard`. A failure part-way is cleaned up by [[discard]]. */
  protected def open(shard: Int): Unit

  protected def write(row: R): Unit

  /** Finish the open shard and make it visible under its final name. */
  protected def publish(): Unit

  /** Release whatever [[open]] and [[write]] acquired for the open shard
    * (possibly only part of it) and delete every file it wrote. */
  protected def discard(): Unit

  final def writeAll(rows: Iterator[R], shardOf: R => Int): Unit = {
    var current = Int.MinValue
    var pending = false // a shard is open and not yet published
    try {
      while (rows.hasNext) {
        val row = rows.next()
        val shard = shardOf(row)
        if (shard != current) {
          if (pending) { publish(); pending = false }
          pending = true
          current = shard
          open(shard)
        }
        write(row)
      }
      if (pending) { publish(); pending = false }
    } catch {
      case t: Throwable =>
        if (pending)
          try discard() catch { case d: Throwable => t.addSuppressed(d) }
        throw t
    }
  }
}
