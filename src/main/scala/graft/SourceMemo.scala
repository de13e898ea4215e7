package graft

import org.apache.spark.sql.SparkSession

/** A process-lifetime memo for state derived from on-disk sources —
  * inferred schemas, probed layouts, staged landing zones, pinned
  * checkpoints. It holds the one reuse rule every such cache must
  * follow:
  *
  *  - a hit needs BOTH the caller's source fingerprint and the print
  *    of the staged output (taken right after the build) to match, so
  *    a rewritten source or a partly reaped staging dir rebuilds;
  *  - a build that throws leaves no entry, so the next call rebuilds;
  *  - a superseded entry goes through `release` before its
  *    replacement builds (pinned memos hand it to `Pinned.release`).
  *
  * Entries are replaced, never accumulated: one per key. Builds for
  * the same key serialize (`ConcurrentHashMap.compute`), so a build
  * must not re-enter the same memo.
  */
final class SourceMemo[K, V](release: V => Unit) {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[K, SourceMemo.Entry[V]]()

  /** The memoized value for `key`, rebuilt unless `source` and the
    * print of `staged` (the build's on-disk output; `Nil` for values
    * that live in memory) both equal what they were after the last
    * build.
    */
  def apply(key: K, source: String, staged: => Seq[java.io.File])
      (build: => V): V = {
    var failure: Throwable = null
    val e = entries.compute(key, (_, prev) =>
      if (prev != null && prev.source == source &&
          prev.staged == SourceMemo.print(staged)) prev
      else {
        if (prev != null) release(prev.value)
        try {
          val v = build
          SourceMemo.Entry(source, SourceMemo.print(staged), v)
        } catch { case t: Throwable => failure = t; null }
      })
    if (failure != null) throw failure
    e.value
  }
}

object SourceMemo {
  private final case class Entry[V](source: String, staged: String, value: V)

  /** A memo whose superseded values own nothing to release. */
  def apply[K, V](): SourceMemo[K, V] = new SourceMemo[K, V](_ => ())

  /** File-metadata print of a set of roots: per root, the count, max
    * mtime and total bytes of every regular file under it (the root
    * itself when it is a file). Byte total is part of the print
    * because mtime granularity can be 1 s on some filesystems. An
    * absent root prints `-`, which no built output matches.
    */
  def print(roots: Seq[java.io.File]): String =
    roots.map { r =>
      if (!r.exists()) "-"
      else {
        val fs = files(r)
        s"${fs.length}|${fs.map(_.lastModified).maxOption.getOrElse(0L)}|${fs.map(_.length).sum}"
      }
    }.mkString(",")

  private def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory)
      Option(f.listFiles()).toSeq.flatten.flatMap(files)
    else if (f.isFile) Seq(f)
    else Nil

  /** Per-(process, dataset) staging path under `java.io.tmpdir`:
    * `<prefix><pid>_<md5(dataset), 12 hex>`. The pid keeps two
    * processes staging the same dataset on one host apart; the digest
    * keeps two datasets staged in one JVM apart.
    */
  def stagingDir(prefix: String, d: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      prefix + ProcessHandle.current().pid() + "_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(12)).getPath

  /** On-disk location of a catalog table, as a staged-output root. A
    * table the catalog no longer holds (a new SparkContext starts with
    * an empty in-memory catalog) maps to an absent root, so its memo
    * entry rebuilds.
    */
  def tableDir(s: SparkSession, table: String): java.io.File =
    if (s.catalog.tableExists(table))
      new java.io.File(s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    else new java.io.File("")
}
