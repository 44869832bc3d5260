package graft.connector

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A persistent SQL view: the ORIGINAL query text plus everything needed
  * to re-resolve it faithfully later — the name-resolution context it
  * was written in (`currentCatalog`/`currentNamespace`, so `SELECT *
  * FROM t` keeps meaning the same `t`), the schema captured at creation
  * (what BINDING/COMPENSATION modes enforce on every read), the query's
  * own output names vs the user's column aliases, and per-column
  * comments. The Iceberg-view storage shape (view representation =
  * SQL + dialect + context), minus multi-dialect since only Spark reads
  * this warehouse.
  */
final case class StoredView(
    sql: String,
    currentCatalog: String,
    currentNamespace: Seq[String],
    schema: StructType,
    queryColumnNames: Seq[String],
    columnAliases: Seq[String],
    columnComments: Seq[Option[String]],
    properties: Map[String, String],
    schemaMode: String) {
}

object StoredView {

  def toJson(v: StoredView): String =
    JsonMethods.pretty(JsonMethods.render(JObject(
      "sql" -> JString(v.sql),
      "current_catalog" -> JString(v.currentCatalog),
      "current_namespace" -> JArray(v.currentNamespace.map(JString(_)).toList),
      "schema" -> JsonMethods.parse(v.schema.json),
      "query_column_names" -> JArray(v.queryColumnNames.map(JString(_)).toList),
      "column_aliases" -> JArray(v.columnAliases.map(JString(_)).toList),
      "column_comments" -> JArray(v.columnComments.map {
        case Some(c) => JString(c)
        case None => JNull
      }.toList),
      "properties" -> JObject(v.properties.toList.sortBy(_._1).map {
        case (k, x) => k -> JString(x)
      }),
      "schema_mode" -> JString(v.schemaMode))))

  def fromJson(s: String): StoredView = {
    val j = JsonMethods.parse(s)
    def str(v: JValue): String = v match {
      case JString(x) => x
      case other => sys.error(s"expected string, got $other")
    }
    def strs(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.map(str)
      case JNothing => Nil
      case other => sys.error(s"expected array, got $other")
    }
    StoredView(
      sql = str(j \ "sql"),
      currentCatalog = str(j \ "current_catalog"),
      currentNamespace = strs(j \ "current_namespace"),
      schema = DataType.fromJson(JsonMethods.compact(JsonMethods.render(j \ "schema")))
        .asInstanceOf[StructType],
      queryColumnNames = strs(j \ "query_column_names"),
      columnAliases = strs(j \ "column_aliases"),
      columnComments = (j \ "column_comments") match {
        case JArray(xs) => xs.map { case JString(c) => Some(c); case _ => None }
        case _ => Nil
      },
      properties = (j \ "properties") match {
        case JObject(kvs) => kvs.map { case (k, v) => k -> str(v) }.toMap
        case _ => Map.empty
      },
      schemaMode = (j \ "schema_mode") match {
        case JString(m) => m
        case _ => "SchemaCompensation"
      })
  }
}

/** Filesystem store for a warehouse's SQL views: one JSON file per view
  * under `<warehouse>/<ns>/_views/<name>.json`, beside (never inside)
  * the namespace's table directories — `GraftCatalog.listTables` skips
  * `_views` naturally because it carries no metadata log. Name lookup
  * is case-insensitive (Spark identifier semantics) while files keep
  * the creation case. Every write lands as a fully-written temp
  * sibling first, so a concurrent reader always sees a COMPLETE
  * document: replace publishes it with an over-rename
  * (last-writer-wins, like every catalog's view DDL); create-if-absent
  * publishes it with an atomic claim that FAILS when the target exists
  * — a hard link on local filesystems (POSIX rename() silently
  * replaces; link() is the atomic EEXIST primitive) and a plain rename
  * on HDFS-style stores (which refuse an over-rename natively).
  */
final class GraftViewStore(fs0: FileSystem, warehouse: HPath) {

  /** Checksummed local filesystems are rename-hazardous for this
    * protocol: ChecksumFileSystem.rename moves the DATA file first and
    * can then fail on the `.crc` sibling (reporting false after the
    * move), which would strand the temp name and open a
    * destination-missing window. View JSON is tiny self-describing
    * metadata — use the raw filesystem (the same unwrap the metadata
    * log applies, one shared policy), whose POSIX rename is the atomic
    * primitive the protocol is built on.
    */
  private val fs: FileSystem = graft.meta.MetadataLog.rawIfLocal(fs0)

  private def dir(ns: String): HPath = new HPath(warehouse, s"$ns/_views")

  private def pathOf(ns: String, name: String): HPath =
    new HPath(dir(ns), s"$name.json")

  /** Stored view names in `ns` (creation case), sorted. */
  def list(ns: String): Seq[String] =
    try fs.listStatus(dir(ns)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      .map(_.getPath.getName.stripSuffix(".json"))
      .sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The stored (creation-case) name matching `name`, if any. */
  def resolve(ns: String, name: String): Option[String] =
    list(ns).find(_.equalsIgnoreCase(name))

  def exists(ns: String, name: String): Boolean = resolve(ns, name).isDefined

  def load(ns: String, name: String): Option[StoredView] =
    resolve(ns, name).map { actual =>
      val in = fs.open(pathOf(ns, actual))
      try StoredView.fromJson(
        new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }

  /** Persist `v`; returns false when the view already exists and
    * `replace` is false (caller decides between IF NOT EXISTS no-op and
    * already-exists error). The JSON lands via a fully-written temp
    * sibling so a concurrent reader (every view read loads this file)
    * always sees a COMPLETE document, never a mid-write truncation. The
    * temp name starts with '.' and lacks the `.json` suffix, so
    * [[list]] never surfaces it.
    *
    * With `replace = false` publication is an ATOMIC claim — the
    * resolve() probe above it is advisory only, so two racing CREATE
    * VIEWs must decide at the filesystem: on local stores a hard link
    * (POSIX link() fails EEXIST; rename() would silently replace the
    * loser's winner), elsewhere a plain rename (HDFS-style stores
    * refuse an over-rename natively). A rename failure with the target
    * verifiably absent is a REAL error (permissions, transient store
    * fault) and raises instead of masquerading as "already exists".
    */
  def create(ns: String, name: String, v: StoredView, replace: Boolean): Boolean = {
    val existing = resolve(ns, name)
    if (existing.isDefined && !replace) return false
    fs.mkdirs(dir(ns))
    // a replace under a different case drops the old file so one view
    // never appears twice
    existing.filter(_ != name).foreach(old => fs.delete(pathOf(ns, old), false))
    val target = pathOf(ns, name)
    val tmp = new HPath(dir(ns),
      s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(StoredView.toJson(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    def nio(p: HPath) = java.nio.file.Paths.get(p.toUri.getPath)
    if (replace) {
      // POSIX rename atomically replaces the destination; filesystems
      // that refuse an over-rename (HDFS-style) fall through to
      // delete+rename — still never a torn document, at worst a brief
      // not-found window on those stores
      if (!fs.rename(tmp, target)) {
        fs.delete(target, false)
        if (!fs.rename(tmp, target)) {
          fs.delete(tmp, false)
          sys.error(s"filesystem rename of view $ns.$name failed")
        }
      }
    } else if (fs.getUri.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(nio(target), nio(tmp))
        fs.delete(tmp, false)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false)
          return false
        case e @ (_: UnsupportedOperationException |
                  _: java.nio.file.FileSystemException) =>
          // 'file'-scheme mounts without hard links (FUSE/SMB/exFAT):
          // degrade to probe+rename — best-effort exclusivity instead
          // of refusing every CREATE VIEW on such stores. Degrade ONLY
          // on the no-hard-links signatures: a generic
          // FileSystemException (transient IO, EPERM, quota) is a real
          // failure — silently weakening the exclusivity guarantee
          // exactly when the filesystem is misbehaving is how two
          // CREATEs both "win" — so it re-raises instead.
          if (!GraftViewStore.linklessSignature(e)) { fs.delete(tmp, false); throw e }
          if (fs.exists(target)) { fs.delete(tmp, false); return false }
          if (!fs.rename(tmp, target)) {
            fs.delete(tmp, false)
            if (fs.exists(target)) return false
            sys.error(s"filesystem rename of view $ns.$name failed " +
              "(target does not exist — not a name collision)")
          }
      }
    } else {
      if (!fs.rename(tmp, target)) {
        fs.delete(tmp, false)
        if (fs.exists(target)) return false
        sys.error(s"filesystem rename of view $ns.$name failed " +
          "(target does not exist — not a name collision)")
      }
    }
    true
  }

  def drop(ns: String, name: String): Boolean =
    resolve(ns, name).exists(actual => fs.delete(pathOf(ns, actual), false))

  def rename(ns: String, name: String, toNs: String, toName: String): Unit = {
    val actual = resolve(ns, name).getOrElse(
      throw new IllegalArgumentException(s"view $ns.$name does not exist"))
    require(!exists(toNs, toName), s"view $toNs.$toName already exists")
    fs.mkdirs(dir(toNs))
    require(fs.rename(pathOf(ns, actual), pathOf(toNs, toName)),
      s"filesystem rename of view $ns.$name failed")
  }
}

object GraftViewStore {

  /** Does this createLink failure mean "the filesystem has no hard
    * links" (degrade to probe+rename) as opposed to a real transient /
    * permission failure (re-raise)? Only the no-links signatures
    * qualify: UnsupportedOperationException, and FileSystemException
    * reasons in the EOPNOTSUPP / ENOSYS / EXDEV / EMLINK families.
    * EPERM/EACCES/quota/IO stay failures — degrading exactly when the
    * filesystem misbehaves would let two racing CREATEs both "win".
    */
  private[graft] def linklessSignature(e: Throwable): Boolean = e match {
    case _: UnsupportedOperationException => true
    case fse: java.nio.file.FileSystemException =>
      val r = Option(fse.getReason).getOrElse("").toLowerCase
      r.contains("not supported") || r.contains("not implemented") ||
        r.contains("cross-device") || r.contains("improper link")
    case _ => false
  }
}
