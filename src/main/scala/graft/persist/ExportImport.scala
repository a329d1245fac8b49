package graft.persist

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream, OutputStream}
import java.nio.file.{Files, Path, Paths}
import java.security.SecureRandom
import java.util.zip.{GZIPInputStream, GZIPOutputStream, ZipEntry, ZipInputStream, ZipOutputStream}
import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.{DB, Document}

/**
 * Whole-DB snapshot export/import — parity with reference
 * db.go:384-490 (ExportToFile/ExportToWriter/ImportFromFile/
 * ImportFromReader), re-expressed for a Spark engine:
 *
 * Container: one ZIP archive holding `manifest.json` plus, per exported
 * collection, `<hash2hex(name)>/metadata.json` and
 * `<hash2hex(name)>/documents.parquet` (single-file parquet). The whole
 * archive optionally gzip-compressed and/or AES-256-GCM encrypted with a
 * random nonce prepended (same stream layout as the reference,
 * persistence.go:136-142; key must be 32 bytes, persistence.go:40-41).
 *
 * Byte-format note: the reference's gob container is Go-specific; parquet
 * inside ZIP keeps the snapshot portable and splittable on re-import.
 */
object ExportImport {

  // ------------------------------ export ------------------------------

  /** Export selected (or all) collections — reference db.go:384-433.
    *
    * Scale note: the single-file ZIP snapshot serializes each collection
    * through ONE task (`coalesce(1)`) BY DESIGN — it replicates the
    * reference's one-file backup contract for portability. For
    * collections beyond a few GB, use [[SnapshotStore]] instead: it keeps
    * the parquet parallel (many part files, full cluster write bandwidth)
    * and adds versioned time travel. */
  def exportToFile(
      db: DB,
      filePath: String,
      compress: Boolean = false,
      encryptionKey: String = "",
      collections: Seq[String] = Seq.empty): Unit = {
    if (filePath == null || filePath.isEmpty)
      throw new IllegalArgumentException("file path is empty")
    if (Files.isDirectory(Paths.get(filePath)))
      throw new IllegalArgumentException(s"path is a directory: $filePath")
    val out = new BufferedOutputStream(Files.newOutputStream(Paths.get(filePath)))
    try exportToWriter(db, out, compress, encryptionKey, collections)
    finally out.close()
  }

  /** Stream variant (S3 etc.) — reference db.go:450-490. The ZIP is
    * staged on disk, then STREAMED through chained gzip/AES-GCM output
    * streams into the caller's sink (the chained-writer layout of
    * persistence.go:84-95) — driver memory stays O(copy buffer), never
    * O(snapshot). Byte layout is unchanged: [nonce ++] cipher(gzip(zip)). */
  def exportToWriter(
      db: DB,
      out: OutputStream,
      compress: Boolean = false,
      encryptionKey: String = "",
      collections: Seq[String] = Seq.empty): Unit = {
    validateKey(encryptionKey)
    val selected = selectCollections(db, collections)
    val tmp = Files.createTempDirectory("graft-export")
    try {
      val zipPath = tmp.resolve("db.zip")
      writeZip(db, zipPath, selected, tmp)
      // exportToWriter must not close the caller's stream; the chained
      // wrappers need close() to flush their trailers, so shield it.
      var sink: OutputStream = new NonClosingOutputStream(out)
      if (encryptionKey.nonEmpty) {
        val nonce = new Array[Byte](12)
        new SecureRandom().nextBytes(nonce)
        out.write(nonce)
        val cipher = Cipher.getInstance("AES/GCM/NoPadding")
        cipher.init(Cipher.ENCRYPT_MODE,
          new SecretKeySpec(encryptionKey.getBytes("UTF-8"), "AES"),
          new GCMParameterSpec(128, nonce))
        sink = new javax.crypto.CipherOutputStream(sink, cipher)
      }
      if (compress) sink = new GZIPOutputStream(sink)
      try Files.copy(zipPath, sink)
      finally sink.close() // flush gzip/GCM trailers; caller's out stays open
      out.flush()
    } finally Persistence.deleteTree(tmp)
  }

  /** Delegating stream whose close() only flushes — lets gzip/cipher
    * wrappers finalize without closing the caller's sink. */
  private final class NonClosingOutputStream(underlying: OutputStream)
      extends OutputStream {
    override def write(b: Int): Unit = underlying.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      underlying.write(b, off, len)
    override def flush(): Unit = underlying.flush()
    override def close(): Unit = underlying.flush()
  }

  private def writeZip(
      db: DB, zipPath: Path, selected: Map[String, graft.core.Collection],
      tmp: Path): Unit = {
    val zos = new ZipOutputStream(new BufferedOutputStream(
      Files.newOutputStream(zipPath)))
    try {
      val manifest = Json.obj(
        "version" -> Json.str("1"),
        "collections" -> Json.arr(selected.keys.toSeq.sorted.map(Json.str)))
      zos.putNextEntry(new ZipEntry("manifest.json"))
      zos.write(manifest.getBytes("UTF-8"))
      zos.closeEntry()
      selected.toSeq.sortBy(_._1).foreach { case (name, coll) =>
        val dirName = Persistence.hash2hex(name)
        zos.putNextEntry(new ZipEntry(s"$dirName/metadata.json"))
        zos.write(Json.obj(
          "name" -> Json.str(name),
          "metadata" -> Json.obj(coll.metadata.toSeq.map {
            case (k, v) => k -> Json.str(v) }: _*)).getBytes("UTF-8"))
        zos.closeEntry()
        // single-file parquet via temp dir. Hold the collection monitor
        // for its serialization (the reference holds the collection lock
        // during export): a commit racing this scan replaces the parquet
        // files mid-plan and aborts the export with FileNotFoundException.
        // Per-collection locking means a multi-collection archive is
        // still not one point-in-time snapshot across collections —
        // matching the reference, which also locks per collection.
        val pqDir = tmp.resolve(s"$dirName-pq")
        coll.synchronized {
          coll.df.coalesce(1).write.mode("overwrite").parquet(pqDir.toString)
        }
        // Files.list leaks a directory handle unless closed (the
        // Persistence.deleteTree convention)
        val listing = Files.list(pqDir)
        val part =
          try listing.iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(s"no parquet written for $name"))
          finally listing.close()
        zos.putNextEntry(new ZipEntry(s"$dirName/documents.parquet"))
        Files.copy(part, zos)
        zos.closeEntry()
      }
    } finally zos.close()
  }

  // ------------------------------ import ------------------------------

  /** Import snapshot; overwrites existing same-named collections
    * (reference db.go:201); selective by name (db.go:251-253). */
  def importFromFile(
      db: DB,
      spark: SparkSession,
      filePath: String,
      encryptionKey: String = "",
      collections: Seq[String] = Seq.empty): Unit = {
    if (filePath == null || filePath.isEmpty)
      throw new IllegalArgumentException("file path is empty")
    if (!Files.exists(Paths.get(filePath)))
      throw new IllegalArgumentException(s"file doesn't exist: $filePath")
    if (Files.isDirectory(Paths.get(filePath)))
      throw new IllegalArgumentException(s"path is a directory: $filePath")
    val in = new BufferedInputStream(Files.newInputStream(Paths.get(filePath)))
    try importFromReader(db, spark, in, encryptionKey, collections)
    finally in.close()
  }

  /** Stream variant — reference db.go:297-355. The input is unwrapped
    * through CHAINED streams (the read mirror of [[exportToWriter]]'s
    * chained writers): nonce read, CipherInputStream, gzip magic-byte
    * peek, GZIPInputStream, ZipInputStream-to-temp-files. Plain and
    * gzip imports stream at O(copy buffer) driver memory. ENCRYPTED
    * imports buffer the ciphertext inside the JDK cipher: GCM refuses
    * to release unauthenticated plaintext, so SunJCE accumulates until
    * the tag verifies — O(snapshot) for that one wrapper, the same
    * envelope as the reference's whole-buffer gcm.Open
    * (persistence.go:216-224) and within the few-GB bound the
    * single-file snapshot contract documents (beyond it, use
    * [[SnapshotStore]]). Still far better than the previous
    * readAll→doFinal→gunzip pipeline, which held up to three full
    * copies at once. The caller's stream is NOT closed. */
  def importFromReader(
      db: DB,
      spark: SparkSession,
      in: InputStream,
      encryptionKey: String = "",
      collections: Seq[String] = Seq.empty): Unit = {
    validateKey(encryptionKey)
    val tmp = Files.createTempDirectory("graft-import")
    try {
      var src: InputStream = in
      if (encryptionKey.nonEmpty) {
        // 12-byte nonce prefix, then the GCM stream (persistence.go:136-142)
        val nonce = new Array[Byte](12)
        var off = 0
        while (off < 12) {
          val n = src.read(nonce, off, 12 - off)
          if (n < 0)
            throw new IllegalArgumentException("encrypted data too short")
          off += n
        }
        val cipher = Cipher.getInstance("AES/GCM/NoPadding")
        cipher.init(Cipher.DECRYPT_MODE,
          new SecretKeySpec(encryptionKey.getBytes("UTF-8"), "AES"),
          new GCMParameterSpec(128, nonce))
        src = new javax.crypto.CipherInputStream(src, cipher)
      }
      // gzip auto-detect by magic bytes (persistence.go:227-246) —
      // peek two bytes, push them back
      val pb = new java.io.PushbackInputStream(src, 2)
      val magic = new Array[Byte](2)
      var got = 0
      var eof = false
      while (got < 2 && !eof) {
        val n = pb.read(magic, got, 2 - got)
        if (n < 0) eof = true else got += n
      }
      if (got > 0) pb.unread(magic, 0, got)
      val gz = got == 2 &&
        (magic(0) & 0xFF) == 0x1f && (magic(1) & 0xFF) == 0x8b
      src = if (gz) new GZIPInputStream(pb) else pb
      // unpack zip entries straight to temp files
      val zis = new ZipInputStream(src)
      var entry = zis.getNextEntry
      while (entry != null) {
        if (!entry.isDirectory) {
          val target = tmp.resolve(entry.getName).normalize()
          if (!target.startsWith(tmp)) // zip-slip guard
            throw new IllegalArgumentException(s"illegal archive path: ${entry.getName}")
          Files.createDirectories(target.getParent)
          Files.copy(zis, target)
        }
        entry = zis.getNextEntry
      }
      // AUTHENTICATION drain: ZipInputStream stops at the central
      // directory, which can leave the GCM tag unread — the tag only
      // verifies at stream EOF, so drain the chain (cheap: trailing
      // bytes) to surface tampering as an error instead of ignoring it.
      val drainBuf = new Array[Byte](8192)
      while (src.read(drainBuf) >= 0) {}
      val manifest = Json.parse(Files.readString(tmp.resolve("manifest.json")))
        .asInstanceOf[Map[String, Any]]
      val names = manifest("collections").asInstanceOf[List[Any]].map(_.asInstanceOf[String])
      val wanted = if (collections.isEmpty) names
        else names.filter(collections.contains)
      // Phase 1 — validate EVERY wanted entry BEFORE the first
      // destructive createCollection overwrite: metadata parses, the
      // staged parquet full-decodes (a bare count() reads only row-group
      // metadata; materializing every Row decodes every page), and every
      // row passes the ingest id contract (addDF would reject a
      // null/empty id AFTER the old collection is already gone). A
      // corrupt or invalid archive therefore fails while ALL existing
      // same-named collections are still intact — per-entry validation
      // inside the import loop would leave a mixed old/new DB when the
      // second of two entries is the bad one. One extra scan per entry,
      // O(archive) — inside the single-file few-GB snapshot contract
      // this method documents. (Lazy reads stay safe against the
      // temp-dir cleanup because addDF materializes eagerly before this
      // method's finally runs.)
      val staged = wanted.map { name =>
        val dirName = Persistence.hash2hex(name)
        val md = Json.parse(Files.readString(tmp.resolve(s"$dirName/metadata.json")))
          .asInstanceOf[Map[String, Any]]
        val metadata = md.getOrElse("metadata", Map.empty[String, Any])
          .asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.asInstanceOf[String] }
        val rows = spark.read.schema(Document.schema)
          .parquet(tmp.resolve(s"$dirName/documents.parquet").toString)
        rows.rdd.foreach { r =>
          if (r.isNullAt(0) || r.getString(0).isEmpty)
            throw new IllegalArgumentException(
              s"archive entry '$name' holds a document with a null/empty id")
        }
        (name, metadata, rows)
      }
      // Phase 2 — the destructive overwrites, against validated inputs
      staged.foreach { case (name, metadata, rows) =>
        val c = db.createCollection(name, metadata) // overwrite (db.go:201)
        if (!rows.isEmpty) c.addDF(rows)
      }
    } finally Persistence.deleteTree(tmp)
  }

  // ------------------------------ helpers ------------------------------

  private def selectCollections(db: DB, names: Seq[String]) = {
    val all = db.listCollections()
    if (names.isEmpty) all
    else {
      names.foreach { n =>
        if (!all.contains(n))
          throw new IllegalArgumentException(s"collection doesn't exist: $n")
      }
      all.view.filterKeys(names.contains).toMap
    }
  }

  private def validateKey(key: String): Unit =
    if (key.nonEmpty && key.getBytes("UTF-8").length != 32)
      throw new IllegalArgumentException("encryption key must be 32 bytes long")

}
