package graft.sources.zarr

import java.io.{ByteArrayOutputStream, FileNotFoundException}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Store I/O seam: every Zarr byte — metadata on the driver, chunk data on
  * executors — flows through the Hadoop [[FileSystem]] API, so any filesystem
  * Hadoop can mount (local `file://`, `s3a://`, `https://` via an fs impl,
  * HDFS, ABFS, GCS) is config-only, matching the reference's fsspec-based
  * store resolution (reference: src/data_access/zarr_storage.py:168-239).
  *
  * The reference passes s3fs-style `storage_options` (key/secret/token/anon/
  * endpoint_url — zarr_storage.py:190-211); [[hadoopKeys]] translates those
  * to the equivalent `fs.s3a.*` settings, and anything already namespaced
  * under `fs.`/`dfs.` passes through verbatim so power users can reach every
  * Hadoop knob without a new API.
  */
object ZarrFileIO {

  /** Translate reference-style storage options to Hadoop configuration keys.
    * Exposed for testing; pure. */
  def hadoopKeys(storageOptions: Map[String, String]): Map[String, String] =
    storageOptions.flatMap { case (k, v) =>
      // already a Hadoop key — pass through
      if (k.startsWith("fs.") || k.startsWith("dfs.")) Some(k -> v)
      else
        k match {
          // s3fs kwargs (zarr_storage.py:190-211)
          case "key" | "access_key" => Some("fs.s3a.access.key" -> v)
          case "secret" | "secret_key" => Some("fs.s3a.secret.key" -> v)
          case "token" => Some("fs.s3a.session.token" -> v)
          case "endpoint_url" | "endpoint" => Some("fs.s3a.endpoint" -> v)
          case "region" => Some("fs.s3a.endpoint.region" -> v)
          case "anon" =>
            if (v.equalsIgnoreCase("true"))
              Some(
                "fs.s3a.aws.credentials.provider" ->
                  "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
              )
            else None
          // unknown keys are set verbatim: harmless, and lets callers use
          // any future Hadoop property without waiting for a mapping here
          case _ => Some(k -> v)
        }
    }

  // Configuration construction parses XML resources; cache per distinct
  // option-map so per-partition readers pay it once per executor JVM.
  private val confCache = new ConcurrentHashMap[Map[String, String], Configuration]()

  def conf(storageOptions: Map[String, String]): Configuration =
    confCache.computeIfAbsent(
      storageOptions,
      { opts =>
        // inherit the active session's hadoop conf (spark.hadoop.* settings)
        // when present — driver-side; executors fall back to defaults
        val base = org.apache.spark.sql.SparkSession.getActiveSession
          .map(s => new Configuration(s.sparkContext.hadoopConfiguration))
          .getOrElse(new Configuration())
        // read-only HTTP(S) stores (reference: docs/user_guide/reading_data
        // .md:23-52 lists local/S3/HTTP): Hadoop ships HttpFileSystem but
        // core-default does not always register the scheme; set it unless
        // the user bound their own impl. HTTP cannot list directories, so
        // such stores need consolidated metadata — exactly the reference's
        // constraint for fsspec-over-HTTP.
        Seq("http" -> "HttpFileSystem", "https" -> "HttpsFileSystem").foreach { case (scheme, cls) =>
          if (base.get(s"fs.$scheme.impl") == null)
            base.set(s"fs.$scheme.impl", s"org.apache.hadoop.fs.http.$cls")
        }
        hadoopKeys(opts).foreach { case (k, v) => base.set(k, v) }
        base
      }
    )

  /** Parse a store path. Scheme-less paths stay local; the reference's
    * `s3://` scheme (s3fs) maps onto Hadoop's `s3a://` connector. */
  def toPath(p: String): HPath = {
    val s = if (p.startsWith("s3://")) "s3a://" + p.stripPrefix("s3://") else p
    new HPath(s)
  }

  /** The values Hadoop's own jars set (raw): every `*-default.xml` resource
    * on the classpath, and no site file. Parsed once per JVM. */
  private lazy val defaults: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val c = new Configuration(false)
    Seq("core-default.xml", "hdfs-default.xml", "hdfs-rbf-default.xml", "mapred-default.xml", "yarn-default.xml")
      .filter(r => c.getClassLoader.getResource(r) != null)
      .foreach(c.addResource)
    c.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  /** Effective I/O options for EXECUTOR-side reads and writes: the entries
    * of the driver's Hadoop configuration (spark.hadoop.* settings, cluster
    * site files — i.e. where s3a/HDFS credentials normally live) whose raw
    * value differs from the Hadoop jars' own defaults, overlaid with the
    * store's translated options. Must be called ON THE DRIVER (scan or
    * write build time); the result rides to executors in the reader or
    * sink closure, where `SparkSession.getActiveSession` is None and
    * [[conf]] rebuilds on a fresh Configuration. Site-file values
    * (core-site.xml and the like) always ship, since an executor's
    * classpath may lack those files; leaving out the jar defaults assumes
    * an executor runs the same Hadoop jars as the driver, as in any Spark
    * deployment that ships one application classpath. The full snapshot
    * (over a thousand entries) cost every task its deserialization and
    * every [[conf]] lookup a hash of the whole map. Unknown keys pass
    * through [[hadoopKeys]] verbatim, so the map replays onto a fresh
    * Configuration unchanged. */
  def executorOptions(storageOptions: Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val base = org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        s.sparkContext.hadoopConfiguration
          .iterator()
          .asScala
          .collect { case e if !defaults.get(e.getKey).contains(e.getValue) => e.getKey -> e.getValue }
          .toMap
      case None => Map.empty[String, String]
    }
    base ++ hadoopKeys(storageOptions)
  }

  def fileSystem(p: HPath, storageOptions: Map[String, String]): FileSystem =
    p.getFileSystem(conf(storageOptions))

  def exists(p: HPath, storageOptions: Map[String, String]): Boolean =
    fileSystem(p, storageOptions).exists(p)

  /** Full contents of a (small) file as bytes, or None if absent. One
    * open+read round-trip — no separate HEAD, which matters on object
    * stores where every call is an HTTP request. */
  def readBytesIfExists(p: HPath, storageOptions: Map[String, String], sizeHint: Int = 8192): Option[Array[Byte]] =
    try {
      val in = fileSystem(p, storageOptions).open(p)
      try {
        val out = new ByteArrayOutputStream(math.max(64, sizeHint))
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(out.toByteArray)
      } finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Length of a file, or None if absent — the shard-index locator's one
    * HEAD round-trip (index_location=end needs the object size first). */
  def fileLengthIfExists(p: HPath, storageOptions: Map[String, String]): Option[Long] =
    try Some(fileSystem(p, storageOptions).getFileStatus(p).getLen)
    catch { case _: FileNotFoundException => None }

  /** (length, modification time) of a file, or None if absent — one HEAD.
    * The pair identifies a file VERSION, so caches keyed on it can never
    * serve stale contents after an in-place overwrite. */
  def fileVersionIfExists(p: HPath, storageOptions: Map[String, String]): Option[(Long, Long)] =
    try {
      val st = fileSystem(p, storageOptions).getFileStatus(p)
      Some((st.getLen, st.getModificationTime))
    } catch { case _: FileNotFoundException => None }

  /** One positioned read of exactly `len` bytes at `offset` — maps to a
    * ranged GET on object stores (never downloads the whole shard). */
  def readRange(p: HPath, storageOptions: Map[String, String], offset: Long, len: Int): Array[Byte] = {
    val in = fileSystem(p, storageOptions).open(p)
    try {
      val out = new Array[Byte](len)
      in.readFully(offset, out, 0, len)
      out
    } finally in.close()
  }

  def readStringIfExists(p: HPath, storageOptions: Map[String, String]): Option[String] =
    readBytesIfExists(p, storageOptions).map(new String(_, java.nio.charset.StandardCharsets.UTF_8))

  /** Names of immediate child directories of `dir`. */
  def listDirNames(dir: HPath, storageOptions: Map[String, String]): Seq[String] =
    fileSystem(dir, storageOptions).listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName)

  def isDirectory(p: HPath, storageOptions: Map[String, String]): Boolean =
    try fileSystem(p, storageOptions).getFileStatus(p).isDirectory
    catch { case _: FileNotFoundException => false }

  /** Create-or-overwrite a file with the given bytes (chunk and metadata
    * writes — the write sink's seam, same FileSystem reach as reads).
    * Checksummed filesystems (Hadoop's local `file://` wraps
    * [[org.apache.hadoop.fs.ChecksumFileSystem]]) are unwrapped to their raw
    * filesystem so the sink never pollutes a Zarr store with `.crc` sidecar
    * files — a Zarr store's directory layout IS its format, and foreign
    * files break strict readers. Unwrapping per-call leaves the shared
    * cached FileSystem instance untouched for everyone else. */
  def writeBytes(p: HPath, storageOptions: Map[String, String], bytes: Array[Byte]): Unit = {
    val fs = fileSystem(p, storageOptions) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }
    // local FS: write-then-atomic-rename so a concurrent reader (e.g. the
    // streaming source polling .zarray while an append rewrites it) never
    // observes a truncated file. Object stores already expose whole-object
    // atomicity and keep the direct write (s3a rename is copy+delete — a
    // MISSING-key window would be worse than the problem).
    val local = Option(p.toUri.getScheme).forall(s => s == "file" || s.isEmpty)
    if (local) {
      val dst = java.nio.file.Paths.get(p.toUri.getPath)
      Option(dst.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val tmp = dst.resolveSibling("." + dst.getFileName.toString + ".tmp" + Thread.currentThread().getId)
      java.nio.file.Files.write(tmp, bytes)
      java.nio.file.Files.move(
        tmp, dst,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING
      )
    } else {
      val out = fs.create(p, true)
      try out.write(bytes)
      finally out.close()
    }
  }

  def writeString(p: HPath, storageOptions: Map[String, String], s: String): Unit =
    writeBytes(p, storageOptions, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def deleteRecursive(p: HPath, storageOptions: Map[String, String]): Unit =
    fileSystem(p, storageOptions).delete(p, true)

  def delete(p: HPath, storageOptions: Map[String, String]): Unit =
    fileSystem(p, storageOptions).delete(p, false)

  /** Paths, relative to `dir`, of every file at or under `dir/sub` (`dir`
    * itself when `sub` is empty) — one listing; only the files directly in
    * it unless `recursive`. Empty when nothing is there. */
  def listFileKeys(
      dir: HPath,
      sub: String,
      storageOptions: Map[String, String],
      recursive: Boolean = true
  ): Seq[String] = {
    val fs = fileSystem(dir, storageOptions)
    val base = fs.makeQualified(dir).toUri.getPath.stripSuffix("/") + "/"
    val out = Seq.newBuilder[String]
    try {
      val it = fs.listFiles(if (sub.isEmpty) dir else new HPath(dir, sub), recursive)
      while (it.hasNext) out += it.next().getPath.toUri.getPath.stripPrefix(base)
    } catch { case _: FileNotFoundException => () }
    out.result()
  }
}
