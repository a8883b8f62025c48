package graft

import scala.collection.mutable

import graft.sources.TableStore

/** A delegating [[TableStore]] that counts control-plane traffic, for
  * specs that pin how often one call reads a table's metadata:
  *
  *   - `calls(name)`: whole-object reads by object name (`CURRENT`,
  *     `_meta`, `_schema`, `_colmap`, `_constraints`, `_nbuckets`, ...),
  *     plus every probe (`exists` / `isDirectory` / `listNames`) of a
  *     deletion vector under `_deletes` and of the `_cdf` change-feed
  *     marker;
  *   - `logs(name)`: log reads by log name (`_commits`, `_empty`,
  *     `_tags`);
  *   - `listings(path)`: directory listings by full path, so
  *     `listings(tableDir)` counts listings of the table root.
  *
  * Open for specs that also act on a store call (a competing commit
  * landing mid-operation).
  */
class CountingStore(d: TableStore) extends TableStore {
  val calls = mutable.Map.empty[String, Int].withDefaultValue(0)
  val logs = mutable.Map.empty[String, Int].withDefaultValue(0)
  val listings = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def probe(p: String): Unit =
    if (baseName(p) == "_deletes" || baseName(p) == "_cdf")
      calls(baseName(p)) += 1

  override def exists(p: String): Boolean = { probe(p); d.exists(p) }
  override def isDirectory(p: String): Boolean = { probe(p); d.isDirectory(p) }
  override def listNames(p: String): Seq[String] = {
    probe(p); listings(p) += 1; d.listNames(p)
  }
  override def read(p: String): Option[String] = {
    calls(baseName(p)) += 1; d.read(p)
  }
  override def readLog(p: String): Seq[String] = {
    logs(baseName(p)) += 1; d.readLog(p)
  }
  override def lastModified(p: String): Long = d.lastModified(p)
  override def mkdirs(p: String): Unit = d.mkdirs(p)
  override def writeAtomic(dir: String, n: String, b: String): Unit =
    d.writeAtomic(dir, n, b)
  override def putConditional(dir: String, n: String,
                              e: Option[String], b: String): Boolean =
    d.putConditional(dir, n, e, b)
  override def createExclusive(dir: String, n: String,
                               b: String): Option[Boolean] =
    d.createExclusive(dir, n, b)
  override def appendLog(p: String, l: String): Unit = d.appendLog(p, l)
  override def linkOrCopy(s: String, t: String): Unit = d.linkOrCopy(s, t)
  override def delete(p: String): Unit = d.delete(p)
  override def deleteTree(p: String): Unit = d.deleteTree(p)
}
