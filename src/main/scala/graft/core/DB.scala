package graft.core

import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession

import graft.embed.EmbeddingFunc
import graft.persist.{ParquetPersistence, Persistence}

/**
 * The database: a named registry of collections — parity with reference
 * db.go:29-38. Catalog mutations are synchronized on the driver (replacing
 * collectionsLock, db.go:31); collection state itself is immutable
 * DataFrames, so readers never block.
 */
class DB private (
    spark: SparkSession,
    persistRoot: Option[String],
    defaultEmbed: EmbeddingFunc,
    compression: Option[String] = None) {

  private val collections = TrieMap.empty[String, Collection]

  /** Create — reference db.go:498-514. Overwrites any same-named entry. */
  def createCollection(
      name: String,
      metadata: Map[String, String] = Map.empty,
      embeddingFunc: EmbeddingFunc = null): Collection = synchronized {
    if (name == null || name.isEmpty)
      throw new IllegalArgumentException("collection name is empty")
    val ef = Option(embeddingFunc).getOrElse(defaultEmbed)
    // Serialize the on-disk overwrite against in-flight writes through a
    // previously-returned handle for this name: Collection mutations hold
    // the collection monitor, so locking the old handle here means its
    // current commit finishes (or hasn't started) before we clear the
    // directory — deleteTree racing a live documents.tmp write corrupted
    // both states. Detaching then stops the stale handle's FUTURE
    // mutations from resurrecting the directory.
    val old = collections.get(name)
    val persist = persistRoot.map { root =>
      val dir = Persistence.collectionDir(root, name)
      def clearAndInit(): ParquetPersistence = {
        // COLLISION GUARD: the 4-byte hash dir scheme is the reference's
        // (persistence.go:22-28) and distinct names CAN share a dir —
        // without this check, creating the second name silently wiped a
        // LIVE different-named collection's data. The sidecar records
        // the owning name; refuse loudly on a mismatch.
        if (Files.exists(dir.resolve("_metadata.json"))) {
          val owner = Persistence.readMetadata(dir)._1
          if (owner != name)
            throw new IllegalStateException(
              s"collection dir collision: '$name' hashes to the directory " +
                s"already owned by '$owner' (${dir.getFileName}) — rename one")
        }
        // Overwrite means overwrite ON DISK too: the fresh collection's
        // first mutation only rewrites documents/ lazily, so leftover
        // parquet from a previous same-named collection would resurrect
        // on the next DB.persistent() reload. (The reference shares this
        // quirk — newCollection never clears the dir — but it contradicts
        // the overwrite contract both document, so we delete.)
        Persistence.deleteTree(dir)
        Persistence.writeMetadata(dir, name, metadata)
        new ParquetPersistence(dir, compression)
      }
      old match {
        case Some(c) => c.synchronized { c.detachPersistence(); clearAndInit() }
        case None => clearAndInit()
      }
    }
    val c = new Collection(name, metadata, ef, spark, None, persist)
    collections.put(name, c)
    c
  }

  /** Lookup; re-attaches the embedding func when provided (functions
    * don't persist, db.go:536-537, 552-558). Returns null when absent —
    * Go-style, db.go:543-560. The re-attach mutates the SAME collection
    * object, exactly like the reference: replacing the registry entry
    * with a copy (the previous implementation) forked the collection —
    * handles returned earlier kept mutating a divergent state over the
    * same parquet dir. No registry write happens, so no lock is needed;
    * a racing re-attach is last-writer-wins on a volatile field, the
    * reference's mutex'd-set semantics. */
  def getCollection(name: String, embeddingFunc: EmbeddingFunc = null): Collection =
    collections.get(name) match {
      case Some(c) =>
        if (embeddingFunc != null && (c.embedFunc ne embeddingFunc))
          c.setEmbeddingFunc(embeddingFunc)
        c
      case None => null
    }

  /** Get-or-create — reference db.go:569-580. Routes through
    * getCollection so an existing collection (e.g. reloaded from disk
    * with the default embedder) gets the CALLER's embedding func
    * re-attached, exactly like the reference's GetCollection path
    * (db.go:552-558) — otherwise text queries would silently embed with
    * the wrong function. */
  def getOrCreateCollection(
      name: String,
      metadata: Map[String, String] = Map.empty,
      embeddingFunc: EmbeddingFunc = null): Collection = synchronized {
    val existing = getCollection(name, embeddingFunc)
    if (existing != null) existing else createCollection(name, metadata, embeddingFunc)
  }

  /** Copy of the registry — reference db.go:523-533. */
  def listCollections(): Map[String, Collection] = collections.readOnlySnapshot().toMap

  /** Drop + remove directory; no-op if absent — reference db.go:586-605. */
  def deleteCollection(name: String): Unit = synchronized {
    if (name == null || name.isEmpty)
      throw new IllegalArgumentException("collection name is empty")
    val removed = collections.remove(name)
    persistRoot.foreach { root =>
      // same discipline as createCollection: finish (or fence out) any
      // in-flight write through the removed handle before deleting its
      // directory, and detach so its future mutations stay in memory.
      // COLLISION GUARD (mirror of createCollection's): the 4-byte hash
      // dir scheme lets distinct names share a directory, and this name
      // may be absent from the registry ("no-op if absent" contract)
      // while the dir belongs to a LIVE different-named collection —
      // deleting unconditionally would wipe the owner's data. The
      // sidecar records the owning name; only delete what we own. A dir
      // with no sidecar is a torn previous write for this hash and is
      // safe to clear.
      def clear(): Unit = {
        val dir = Persistence.collectionDir(root, name)
        val ownedByOther = Files.exists(dir.resolve("_metadata.json")) &&
          Persistence.readMetadata(dir)._1 != name
        if (!ownedByOther) Persistence.deleteTree(dir)
      }
      removed match {
        case Some(c) => c.synchronized { c.detachPersistence(); clear() }
        case None => clear()
      }
    }
  }

  /** Drop everything — reference db.go:610-629. */
  def reset(): Unit = synchronized {
    val snapshot = collections.readOnlySnapshot().values.toSeq
    collections.clear()
    persistRoot.foreach { root =>
      // fence each live handle out of its directory before the root goes
      snapshot.foreach(c => c.synchronized { c.detachPersistence() })
      Persistence.deleteTree(Paths.get(root))
      Files.createDirectories(Paths.get(root))
    }
  }

  /** Snapshot export — reference db.go:384-433 (see persist.ExportImport). */
  def exportToFile(
      filePath: String,
      compress: Boolean = false,
      encryptionKey: String = "",
      collections: Seq[String] = Seq.empty): Unit =
    graft.persist.ExportImport.exportToFile(
      this, filePath, compress, encryptionKey, collections)

  /** Snapshot import; overwrites same-named collections — db.go:208-280. */
  def importFromFile(
      filePath: String,
      encryptionKey: String = "",
      collections: Seq[String] = Seq.empty): Unit =
    graft.persist.ExportImport.importFromFile(
      this, spark, filePath, encryptionKey, collections)

  /** Deprecated alias — reference db.go:193-195. */
  @deprecated("use importFromFile", "0.1.0")
  def importDB(filePath: String, encryptionKey: String = ""): Unit =
    importFromFile(filePath, encryptionKey)

  /** Deprecated alias — reference db.go:368-370. */
  @deprecated("use exportToFile", "0.1.0")
  def exportDB(filePath: String, compress: Boolean = false,
      encryptionKey: String = ""): Unit =
    exportToFile(filePath, compress, encryptionKey)

  private[graft] def register(c: Collection): Unit = collections.put(c.name, c)
  private[graft] def sparkSession: SparkSession = spark
  private[graft] def root: Option[String] = persistRoot
  private[graft] def defaultEmbeddingFunc: EmbeddingFunc = defaultEmbed
}

object DB {
  /** In-memory DB — reference NewDB (db.go:45-50). */
  def inMemory(spark: SparkSession, defaultEmbed: EmbeddingFunc): DB =
    new DB(spark, None, defaultEmbed)

  /** Persistent DB: open-or-create root, load existing collections —
    * reference NewPersistentDB (db.go:68-181). */
  def persistent(spark: SparkSession, root: String, defaultEmbed: EmbeddingFunc): DB =
    persistent(spark, root, defaultEmbed, compress = false)

  /** Persistent DB with the reference's `compress` knob (db.go:57-66):
    * `compress = true` writes this DB's collection files with gzip parquet
    * compression instead of the session codec. Existing data re-compresses
    * lazily on the next state commit; reads are codec-agnostic. */
  def persistent(spark: SparkSession, root: String, defaultEmbed: EmbeddingFunc,
      compress: Boolean): DB = {
    val rootPath = Paths.get(root)
    if (Files.exists(rootPath) && !Files.isDirectory(rootPath))
      throw new IllegalArgumentException(s"path is not a directory: $root")
    Files.createDirectories(rootPath)
    val codec = if (compress) Some("gzip") else None
    val db = new DB(spark, Some(root), defaultEmbed, codec)
    Persistence.listCollectionDirs(root).foreach { dir =>
      val (name, md) = Persistence.readMetadata(dir)
      val persist = new ParquetPersistence(dir, codec)
      val df = persist.read(spark)
      db.register(new Collection(name, md, defaultEmbed, spark, Some(df), Some(persist)))
    }
    db
  }
}
