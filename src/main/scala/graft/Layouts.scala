package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Once-per-(session, key) builder memo for DDL-ish layouts — bucketed
  * tables, persisted dedup indexes, matrix exports — so the one-time build
  * runs once per JVM and Bench can attribute it to its producer query.
  *
  * Entries key on the SparkSession BY REFERENCE (`eq`), the same discipline
  * as [[Caches]]: an identity-hash key could be reused by a new session
  * after the old one is GC'd and hand out table names registered in a dead
  * catalog. [[tag]] folds the process id into path/table identifiers so
  * concurrent JVMs (bench + verify over one sfDir) never race on shared
  * /tmp files.
  *
  * Also the one home of a stored layout's identity: the model fingerprint
  * every appendable layout (catalog table or plain path) is stamped with,
  * read and checked by location, in the layout's [[sidecar]] — where a
  * compaction's rewrite never reaches it.
  */
object Layouts {

  private val reg = ArrayBuffer.empty[(SparkSession, String, Any)]

  /** Per-(session, key) build gates: [[once]] must not hold the registry
    * lock across `build` (a build is minutes of Spark jobs), or two
    * INDEPENDENT builds could never overlap — guide §2.6's idle-tail
    * back-fill, which pq_train_build uses to run its two Lloyd fits
    * concurrently. Same key still builds exactly once: the gate serializes
    * per key, and the post-acquire re-check handles the losing racer. An
    * identity-hash collision between two sessions only over-serializes
    * (never mis-shares — the registry lookup is still `eq`-exact). */
  private val gates = scala.collection.mutable.Map.empty[String, Object]

  /** Run `build` once for (session, key); later calls return the memoized
    * result. Concurrent callers of DIFFERENT keys build in parallel;
    * concurrent callers of the SAME key serialize on its gate. */
  def once[T](s: SparkSession, key: String)(build: => T): T = {
    def lookup: Option[Any] = synchronized(
      reg.find { case (sess, k, _) => (sess eq s) && k == key }.map(_._3))
    lookup match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val gate = synchronized(
          gates.getOrElseUpdate(s"${System.identityHashCode(s)}:$key", new Object))
        gate.synchronized {
          lookup match {
            case Some(v) => v.asInstanceOf[T]
            case None =>
              val v = build
              synchronized { reg += ((s, key, v)) }
              v
          }
        }
    }
  }

  /** Whether a [[once]] entry is live for (session, key) — test surface for
    * the cold-rerun invalidation pins. */
  def has(s: SparkSession, key: String): Boolean =
    synchronized(reg.exists { case (sess, k, _) => (sess eq s) && k == key })

  /** Registry watermark — pair with [[createdSince]]; the [[Caches.mark]]
    * twin for the DDL-ish builds (every build here is overwrite-shaped —
    * DROP TABLE IF EXISTS / mode("overwrite") — so re-running one after
    * [[invalidate]] is safe and re-pays the one-time cost, which is exactly
    * what [[graft.Bench]]'s cold breach rerun needs). */
  def mark(): Int = synchronized(reg.size)

  /** The (session, key) pairs registered after `m`. */
  def createdSince(m: Int): Seq[(SparkSession, String)] =
    synchronized(reg.drop(m).map { case (s, k, _) => (s, k) }.toSeq)

  /** Forget exactly the entries named in `keys`: the next [[once]] on the
    * same (session, key) re-runs its builder. */
  def invalidate(keys: Seq[(SparkSession, String)]): Unit = synchronized {
    reg.filterInPlace { case (s, k, _) =>
      !keys.exists { case (es, ek) => (es eq s) && ek == k } }
  }

  /** MD5 hex of a fingerprint payload — ONE digest implementation for
    * every stored-layout stamp, so the formats can't drift apart. */
  def md5Hex(payload: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The storage location of a catalog table, read off its catalog entry
    * — the string `DESCRIBE FORMATTED … Location` prints, without planning
    * and running that query on every fingerprint check. None for a
    * relation without one (a temp view). */
  def location(s: SparkSession, table: String): Option[String] =
    s.sessionState.catalog.getTempViewOrPermanentTableMetadata(
        s.sessionState.sqlParser.parseTableIdentifier(table))
      .storage.locationUri
      .map(org.apache.spark.sql.catalyst.catalog.CatalogUtils.URIToString)

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The contents of the small text marker file at `p`, if present. */
  private[graft] def readMarker(s: SparkSession, p: Path): Option[String] =
    if (!fs(s, p).exists(p)) None
    else {
      val in = fs(s, p).open(p)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close())
    }

  /** Commit `content` as the marker at `p` by temp+rename: a write crashed
    * midway leaves the previous marker, never a torn one. Where the store
    * renames onto an existing file (POSIX) the swap is one step; a store
    * that refuses gets delete-then-rename, where a kill in between leaves
    * no marker. */
  private[graft] def writeMarker(s: SparkSession, p: Path,
      content: String): Unit = {
    val tmp = new Path(p.toString + ".tmp")
    val out = fs(s, p).create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if (!fs(s, p).rename(tmp, p)) {
      deleteMarker(s, p)
      if (!fs(s, p).rename(tmp, p))
        sys.error(s"Layouts.writeMarker: rename $tmp -> $p failed")
    }
  }

  private def deleteMarker(s: SparkSession, p: Path): Unit =
    if (fs(s, p).exists(p)) fs(s, p).delete(p, false)

  /** The layout's sidecar entry `entry`: every stored layout at `loc` has
    * ONE sidecar directory beside it, `<loc>__graft/`, holding its state
    * besides the data — the model fingerprint, the
    * [[graft.operators.Tombstones]] store and writer fence, and
    * [[graft.operators.CcLabels]]' applied marker. Beside, not inside: a
    * data rewrite of `loc` (a compaction, a build's overwrite) truncates
    * the layout directory and never touches the sidecar, so no marker
    * needs a backup across a rewrite. A fresh build drops what it
    * supersedes through its build face (the tombstones; an unstamped
    * build's fingerprint). The ONE place a sidecar path is built. */
  private[graft] def sidecar(loc: String, entry: String): Path =
    new Path(loc.stripSuffix("/") + "__graft", entry)

  private def fingerprintPath(loc: String) = sidecar(loc, "model_fp")

  /** Stamp the model/parameter fingerprint the layout at `loc` was built
    * under — the append paths' compatibility witness. */
  def stampFingerprintAt(s: SparkSession, loc: String, fp: String): Unit =
    writeMarker(s, fingerprintPath(loc), fp)

  def readFingerprintAt(s: SparkSession, loc: String): Option[String] =
    readMarker(s, fingerprintPath(loc))

  /** Enforce that an O(delta) append runs under the SAME fingerprint the
    * base build stamped: a delta encoded against re-fitted models/params is
    * a silently incompatible code space — fail loudly instead. Unstamped
    * layouts pass (externally-created ones). */
  def checkFingerprintAt(s: SparkSession, loc: String, fp: String,
      what: String): Unit =
    readFingerprintAt(s, loc).foreach(st => require(st == fp,
      s"$what: append models/params do not match the stored layout's build " +
        s"(stored fingerprint $st, append $fp) — re-fitting requires a " +
        "rebuild, not an append"))

  /** Drop the stamp — an unstamped build's hook, so the previous build's
    * stamp cannot guard appends to the new layout. */
  private[graft] def clearFingerprintAt(s: SparkSession, loc: String): Unit =
    deleteMarker(s, fingerprintPath(loc))

  /** The table-name forms: the `*At` forms at the table's [[location]]; a
    * relation without one reads as unstamped and cannot be stamped. */
  def stampFingerprint(s: SparkSession, tableName: String, fp: String): Unit =
    stampFingerprintAt(s, location(s, tableName).getOrElse(
      throw new IllegalArgumentException(s"$tableName has no location")), fp)

  def readFingerprint(s: SparkSession, tableName: String): Option[String] =
    location(s, tableName).flatMap(readFingerprintAt(s, _))

  def checkFingerprint(s: SparkSession, tableName: String, fp: String,
      what: String): Unit =
    location(s, tableName).foreach(checkFingerprintAt(s, _, fp, what))

  /** Deterministic pid-suffixed identifier for `dir`-scoped table names and
    * paths (hex of the dir's name-UUID + this JVM's pid). */
  def tag(dir: String): String =
    java.lang.Long.toHexString(
      java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))
        .getMostSignificantBits) + s"_p${ProcessHandle.current().pid()}"
}
