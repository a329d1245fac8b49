package graft.persist

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{CollectionPersistence, Document}

/**
 * On-disk layout — parquet-per-collection replacing the reference's
 * gob-file-per-document (persistence.go, db.go:110-175):
 *
 *   <root>/<hash2hex(name)>/
 *     _metadata.json          collection name + metadata map
 *     documents/              parquet dataset (the collection rows)
 *
 * `hash2hex` = first 4 bytes of SHA-256, hex — same dir-naming scheme as
 * the reference (persistence.go:22-28), chosen there (and kept here) so
 * arbitrary collection names can't escape the filesystem charset.
 *
 * Scale: one parquet dataset per collection is the layout a 1000-executor
 * cluster wants — splittable, column-pruned, predicate-pushed; a million
 * tiny per-doc files would be a namenode DoS.
 */
object Persistence {

  def hash2hex(name: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(name.getBytes(StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString

  def collectionDir(root: String, name: String): Path =
    Paths.get(root, hash2hex(name))

  def writeMetadata(dir: Path, name: String, metadata: Map[String, String]): Unit = {
    Files.createDirectories(dir)
    // tmp + ATOMIC_MOVE (the SnapshotStore pointer convention): an
    // in-place writeString torn by a crash or read mid-write leaves a
    // truncated sidecar that wedges the next DB.persistent() load of the
    // ENTIRE root (readMetadata parse fails on the partial JSON)
    val tmp = dir.resolve("_metadata.json.tmp")
    Files.writeString(tmp, Json.obj(
      "name" -> Json.str(name),
      "metadata" -> Json.obj(metadata.toSeq.map { case (k, v) => k -> Json.str(v) }: _*)))
    Files.move(tmp, dir.resolve("_metadata.json"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  def readMetadata(dir: Path): (String, Map[String, String]) = {
    val parsed = Json.parse(Files.readString(dir.resolve("_metadata.json")))
      .asInstanceOf[Map[String, Any]]
    val name = parsed("name").asInstanceOf[String]
    val md = parsed.getOrElse("metadata", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.asInstanceOf[String] }
    (name, md)
  }

  /** All collection dirs under root that carry our metadata sidecar
    * (foreign files/dirs are skipped, like db.go:117-133). */
  def listCollectionDirs(root: String): Seq[Path] = {
    val rootPath = Paths.get(root)
    if (!Files.isDirectory(rootPath)) Seq.empty
    else {
      val s = Files.list(rootPath)
      try s.iterator().asScala
        .filter(p => Files.isDirectory(p) && Files.exists(p.resolve("_metadata.json")))
        .toSeq.sortBy(_.getFileName.toString)
      finally s.close()
    }
  }

  /** Recursive delete with the walk stream CLOSED (Files.walk leaks a
    * directory handle otherwise) — the ONE shared copy; DB, the parquet
    * layout, the snapshot store, and export/import all call it. */
  private[graft] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally w.close()
    }
}

/** Parquet-backed persistence for one collection.
  *
  * Writes go to a temp dir then swap in, because the new state is often
  * computed lazily FROM the current parquet (delete = anti-filter of the
  * existing data) — overwriting the directory being read would delete
  * files mid-scan.
  *
  * `compression`, when set, overrides the session's parquet codec for
  * this collection's files — the analog of the reference's per-DB
  * `compress` flag (db.go:36-38, 57-66), which gzips every persisted
  * file. Parquet is already block-compressed by the session default
  * (snappy), so this is a space/CPU trade knob, not an on/off switch. */
class ParquetPersistence(dir: Path, compression: Option[String] = None)
    extends CollectionPersistence {
  private val dataDir = dir.resolve("documents")
  private val oldDir = dir.resolve("documents.old")

  /** Swap discipline: write tmp fully, rename current→.old, rename
    * tmp→current, delete .old. The previous deleteTree(current)+move left
    * a window (one slow recursive delete wide) where the collection had
    * NO dataset on disk — a crash there lost the collection outright, and
    * a concurrent reader observed it as legitimately EMPTY (read() returns
    * an empty frame for a missing dir) and could persist that emptiness
    * downstream. Now the window is two renames wide and crash recovery is
    * possible: [[read]] restores `.old` when `documents/` is missing. */
  override def write(df: DataFrame): Unit = {
    val tmp = dir.resolve("documents.tmp")
    Persistence.deleteTree(tmp)
    // same recovery as read(): if a prior write in THIS process failed
    // between the two renames (exception, not crash — so no read() ran to
    // recover), `.old` holds the only complete dataset. Deleting it here
    // would lose the collection: restore it first.
    if (!Files.exists(dataDir) && Files.exists(oldDir))
      Files.move(oldDir, dataDir)
    Persistence.deleteTree(oldDir)
    val w = df.write.mode("overwrite")
    compression.foreach(c => w.option("compression", c))
    // the new state is often computed lazily FROM the current parquet
    // (delete = anti-filter) — the scan completes HERE, before any swap
    w.parquet(tmp.toString)
    if (Files.exists(dataDir)) Files.move(dataDir, oldDir)
    Files.move(tmp, dataDir)
    Persistence.deleteTree(oldDir)
  }
  override def read(spark: SparkSession): DataFrame = {
    // crash recovery: a kill between the two renames leaves only .old —
    // restore the last complete dataset instead of reporting empty
    if (!Files.exists(dataDir) && Files.exists(oldDir))
      Files.move(oldDir, dataDir)
    if (Files.exists(dataDir)) spark.read.schema(Document.schema).parquet(dataDir.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Document.schema)
  }
}

/** Minimal JSON encode/parse for sidecars & provider payloads (no third-
  * party deps beyond the Spark classpath; kept tiny on purpose). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  def num(d: Double): String =
    if (d == d.toLong.toDouble) d.toLong.toString else d.toString

  /** Parse into Map[String,Any] / List[Any] / String / Double / Boolean / null.
    * The WHOLE input must be one value: trailing garbage after the
    * top-level value (a torn/concatenated sidecar) fails loudly instead
    * of silently returning the first value — the atomic-write discipline
    * only helps if a damaged file actually errors. */
  def parse(s: String): Any = {
    val p = new JsonParser(s)
    val v = p.parseValue()
    p.requireAtEnd()
    v
  }

  private final class JsonParser(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1
    def requireAtEnd(): Unit = {
      ws()
      if (i < s.length)
        throw new IllegalArgumentException(
          s"trailing content after JSON value at $i")
    }
    private def expect(c: Char): Unit = {
      ws()
      if (i >= s.length || s.charAt(i) != c)
        throw new IllegalArgumentException(s"expected '$c' at $i in JSON")
      i += 1
    }
    def parseValue(): Any = {
      ws()
      if (i >= s.length) throw new IllegalArgumentException("unexpected end of JSON")
      s.charAt(i) match {
        case '{' => parseObject()
        case '[' => parseArray()
        case '"' => parseString()
        // verify the whole literal: a bare `i += 4` accepted any 4 chars
        // starting with t/f/n as true/false/null
        case 't' => literal("true"); true
        case 'f' => literal("false"); false
        case 'n' => literal("null"); null
        case _ => parseNumber()
      }
    }
    private def literal(w: String): Unit = {
      if (!s.startsWith(w, i))
        throw new IllegalArgumentException(s"bad literal at $i in JSON")
      i += w.length
    }
    private def parseObject(): Map[String, Any] = {
      expect('{'); ws()
      val b = Map.newBuilder[String, Any]
      if (i < s.length && s.charAt(i) == '}') { i += 1; return b.result() }
      var done = false
      while (!done) {
        ws()
        val k = parseString()
        expect(':')
        b += k -> parseValue()
        ws()
        if (i < s.length && s.charAt(i) == ',') i += 1
        else { expect('}'); done = true }
      }
      b.result()
    }
    private def parseArray(): List[Any] = {
      expect('['); ws()
      val b = List.newBuilder[Any]
      if (i < s.length && s.charAt(i) == ']') { i += 1; return b.result() }
      var done = false
      while (!done) {
        b += parseValue()
        ws()
        if (i < s.length && s.charAt(i) == ',') i += 1
        else { expect(']'); done = true }
      }
      b.result()
    }
    private def parseString(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < s.length && s.charAt(i) != '"') {
        val c = s.charAt(i)
        if (c == '\\') {
          i += 1
          if (i >= s.length)
            throw new IllegalArgumentException("unterminated escape in JSON string")
          s.charAt(i) match {
            case '"' => sb += '"'
            case '\\' => sb += '\\'
            case '/' => sb += '/'
            case 'b' => sb += '\b'
            case 'f' => sb += '\f'
            case 'n' => sb += '\n'
            case 'r' => sb += '\r'
            case 't' => sb += '\t'
            case 'u' =>
              if (i + 5 > s.length)
                throw new IllegalArgumentException("truncated \\u escape in JSON string")
              sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar
              i += 4
            case other => throw new IllegalArgumentException(s"bad escape \\$other")
          }
        } else sb += c
        i += 1
      }
      if (i >= s.length)
        throw new IllegalArgumentException("unterminated string in JSON")
      i += 1
      sb.result()
    }
    private def parseNumber(): Double = {
      val start = i
      while (i < s.length && "+-0123456789.eE".indexOf(s.charAt(i)) >= 0) i += 1
      s.substring(start, i).toDouble
    }
  }
}
