package graft.api

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Atomic manifest commits for maintained parquet stores — the publish
  * protocol underneath the [[StoreCommit]] core, which is its one
  * writer.
  *
  * A maintained store (memory store with its acl, checkpoint and
  * delegation tables, profile sync, orientation cache, attention KV,
  * dedup index, quality model, graph edges) is a set of immutable data
  * directories plus ONE manifest naming the currently-committed
  * directories. Writers produce new directories off to the side, then
  * publish them with a single atomic manifest commit — a crash at any
  * point leaves the previous manifest (and the directories it
  * references) fully intact, and uncommitted directories are swept by
  * [[gc]]. Readers see either the old or the new committed state,
  * never a half-written mix. Single-writer per store, like the
  * reference's embedded engine (storage/duckdb.rs single connection).
  *
  * Every operation resolves the Hadoop [[FileSystem]] for the path's
  * SCHEME — the same filesystem Spark's data I/O resolves — so the
  * protocol is truthful wherever the store lives. ONE publish protocol
  * on every scheme: write-once generation files
  * `_manifests/manifest-<N-zero-padded>.properties`; a commit is ONE
  * put-if-absent of generation max+1, a reader resolves the largest
  * committed N (see [[publishPointer]] for the primitive per scheme:
  * link(2) on `file`, rename without overwrite on `hdfs`/`viewfs`, a
  * conditional create on object stores). Crash-window reasoning:
  *  - crash BEFORE the publish: the staged bytes (or, on an object
  *    store, an incomplete PUT — S3 PUT visibility is all-or-nothing,
  *    and S3 is strongly consistent for read-after-put and
  *    list-after-put) never become a visible generation, so readers
  *    still resolve the previous one; data dirs staged for the
  *    dead commit are orphans the next commit's [[gc]] sweeps;
  *  - crash AFTER the publish: the commit simply happened;
  *  - zombie writer (an old driver resuming after a replacement took
  *    over — the store contract is single-writer): its publish targets
  *    a generation number that now EXISTS, so the put-if-absent fails
  *    loudly instead of silently clobbering the new writer's commit.
  *    On connectors with true conditional writes (S3 If-None-Match
  *    PUT; Hadoop S3A exposes it on recent releases, ABFS/GCS creates
  *    are conditional natively) this is watertight; an older connector
  *    that implements create(overwrite=false) as check-then-create
  *    narrows the zombie detection to best-effort — the single-writer
  *    contract itself is unchanged.
  *  Old generation files beyond the newest [[PointerKeep]] are swept
  *  after each commit (readers resolve max, so dropping older ones can
  *  never change what any reader sees). Every generation carries a
  *  torn-write sentinel as its last line ([[CommittedKey]]), and
  *  readers skip a head without it back to the newest intact commit
  *  instead of silently loading a partial manifest.
  *
  * A root that holds no generation but a `manifest.properties` — the
  * mutable manifest this build no longer writes — is refused on read
  * (and so before any commit, which reads first), never taken for a
  * never-committed store whose first commit would sweep its data.
  *
  * Every store parses its manifest through [[readVersioned]] (by way
  * of [[StoreCommit.read]]): each store reads and writes exactly one
  * on-disk format, and a manifest of any other version fails loudly.
  *
  * Any OTHER scheme is refused at commit time: atomicity of publish
  * visibility is the correctness keystone, and an unverified scheme's
  * semantics are an assumption, not a fact.
  */
object ManifestIO {

  private val Log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The mutable manifest of the rename protocol this build no longer
    * writes: a root that holds it and no generation is refused. */
  val FileName = "manifest.properties"

  /** Directory of the write-once manifest generation files. */
  val PointerDir = "_manifests"

  /** Pointer generations retained after a commit (readers resolve the
    * max, so any slack >= 1 is purely for slow concurrent listers). */
  val PointerKeep = 10

  private val PointerName = """manifest-(\d{20})\.properties""".r

  private def pointerName(n: Long): String = f"manifest-$n%020d.properties"

  /** Torn-write sentinel: every publish appends this property as the
    * PHYSICALLY LAST line of the generation file (after
    * `Properties.store`, whose own key order is hash-driven), so any
    * byte-truncation of the file cuts the sentinel off. No accepted
    * scheme's publish should tear (object-store PUTs and the staged
    * link/rename publishes are all-or-nothing); the sentinel is the
    * defence against a filesystem or connector that breaks that
    * promise. Readers resolve the newest generation that carries it and
    * never surface the sentinel key itself; a store where no generation
    * carries it has never committed. */
  private[graft] val CommittedKey = "graft.manifest.committed"

  /** Bounded re-list retries for read(): between a reader's listing
    * and its open, [[PointerKeep]]-or-more commits by the live writer
    * can sweep the listed generation — the open throws FileNotFound and
    * the fix is a fresh listing, not an error. */
  private val ReadRelistAttempts = 5

  /** Hadoop configuration: the active Spark session's (so `fs.*`
    * settings and `fs.defaultFS` behave exactly like the data I/O
    * next to this manifest), or a bare default off-session (tests,
    * tooling). Built fresh per operation — a clone costs microseconds
    * against the Spark jobs around every commit, and caching it would
    * either freeze runtime `fs.*` changes for the session's lifetime
    * (breaking the behaves-like-the-data-I/O contract: Spark's own
    * reads re-resolve the conf) or pin a stopped session from a
    * static field. Multi-step operations ([[write]]) bind it once. */
  private def hconf: Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hconf)

  /** Schemes with an atomic, fail-if-exists publish of a fully staged
    * file: link(2) locally, rename without overwrite in the NameNode. */
  private val AtomicRenameSchemes = Set("file", "hdfs", "viewfs")

  /** Object-store schemes: visibility of a completed PUT/create is
    * all-or-nothing, and create(overwrite=false) maps to a conditional
    * write on current connectors (see the object doc's zombie-writer
    * note). */
  private val ObjectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss")

  private def schemeOf(p: Path, conf: Configuration): String =
    Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme)

  /** Committed generations, ascending. Empty for no dir. */
  private def pointerGens(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.collect {
      case st if st.isFile => st.getPath.getName
    }.collect { case PointerName(n) => n.toLong }.sorted

  private def loadProps(fs: FileSystem, p: Path): Map[String, String] = {
    val props = new java.util.Properties()
    val in = fs.open(p)
    try props.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    props.stringPropertyNames().asScala
      .map(k => k -> props.getProperty(k)).toMap
  }

  /** Read the committed key→value map (None if never committed). A
    * root with no generation but a [[FileName]] fails with an
    * IllegalStateException naming both: it is a store this build does
    * not read, not an empty one.
    *
    * Resolution walks the committed generations NEWEST-FIRST and returns the first one carrying the [[CommittedKey]] sentinel.
    * A generation that cannot be PARSED (Properties.load throws — a
    * head truncated mid-`\\uXXXX` escape raises IllegalArgumentException,
    * not FileNotFound, so a bare FNF-only handler would surface the
    * torn-write crash the sentinel exists to absorb) is treated
    * exactly like a sentinel-less one: torn, skipped. If no generation
    * validates, the store reads as never committed. Skipping a head in
    * favor of an older intact generation logs a WARNING. A
    * FileNotFound while opening a LISTED generation means the listing
    * went stale under a live writer's retention sweep (>=
    * [[PointerKeep]] commits landed since the list) — the whole
    * resolution re-lists and retries, bounded by
    * [[ReadRelistAttempts]]. */
  def read(storePath: String): Option[Map[String, String]] = {
    val pdir = new Path(storePath, PointerDir)
    val fs = pdir.getFileSystem(hconf)
    // an intact generation's properties; None for a torn one (no
    // sentinel, or unparseable: Properties.load raises
    // IllegalArgumentException on a malformed \uXXXX escape — the
    // truncation-mid-escape class). Everything else propagates:
    // FileNotFound escalates to the re-list retry below, and a
    // TRANSIENT stream error (connection reset, checksum failure) must
    // surface as the error it is — swallowing it as "torn" would turn
    // an infra blip into a silent stale read
    def intact(n: Long): Option[Map[String, String]] =
      try Some(loadProps(fs, new Path(pdir, pointerName(n))))
        .filter(_.contains(CommittedKey))
      catch { case _: IllegalArgumentException => None }
    def resolve(attempt: Int): Option[Map[String, String]] = {
      val gens = pointerGens(fs, pdir)
      if (gens.isEmpty) {
        if (fs.exists(new Path(storePath, FileName)))
          throw new IllegalStateException(
            s"maintained store at $storePath: it holds a $FileName and no " +
              s"$PointerDir generation — the rename-protocol layout this " +
              "build does not read (there is no migration; rebuild the " +
              "store with this build)")
        None
      } else try {
        // lazy walk: an intact head stops at ONE load
        val found = gens.reverse.iterator.zipWithIndex
          .flatMap { case (n, i) => intact(n).map(_ -> i) }.nextOption()
        found match {
          case Some((m, skipped)) =>
            if (skipped > 0)
              Log.warn("maintained store at {}: {} newest manifest " +
                "generation(s) carry no committed sentinel (torn write) — " +
                "resolving the newest intact generation", storePath, skipped)
            Some(m - CommittedKey)
          case None =>
            Log.warn("maintained store at {}: no manifest generation is " +
              "intact — the store reads as never committed", storePath)
            None
        }
      } catch {
        case e: java.io.FileNotFoundException =>
          if (attempt < ReadRelistAttempts) resolve(attempt + 1)
          else throw new java.io.IOException(
            s"maintained store at $storePath: every listing of the " +
              s"manifest generations went stale $ReadRelistAttempts times " +
              "in a row (a writer is committing faster than this reader " +
              "can list-and-open)", e)
      }
    }
    resolve(0)
  }

  /** [[read]] for a versioned store: the committed manifest, after
    * checking that its `version` is the one format this build reads.
    * The ONE format check of every versioned store — a manifest of any
    * other version (or none) fails through [[unreadable]]. */
  def readVersioned(storePath: String,
      version: Int): Option[Map[String, String]] =
    read(storePath).map { m =>
      val found = m.getOrElse("version", "none")
      if (found != version.toString) unreadable(storePath, found, version)
      m
    }

  /** Fail on a store whose on-disk format this build does not read,
    * naming the store path, the format found and the version this
    * build reads. No migration exists: the store must be rebuilt. */
  private[api] def unreadable(storePath: String, found: String,
      version: Int): Nothing =
    throw new IllegalStateException(
      s"maintained store at $storePath: found on-disk format version " +
        s"$found, but this build reads only version $version (there is " +
        "no migration; rebuild the store with this build)")

  /** Commit a full manifest state: ONE put-if-absent of generation
    * max+1 (see [[publishPointer]]), then the retention sweep. Callers
    * read the store first ([[StoreCommit.open]]), so a root [[read]]
    * refuses is never written. */
  def write(storePath: String, entries: Map[String, String]): Unit = {
    val pdir = new Path(storePath, PointerDir)
    val conf = hconf // ONE conf for the whole multi-step commit
    // gate on the URI scheme BEFORE resolving the filesystem: an
    // unknown scheme must hit the documented refusal even when the
    // scheme's FS implementation is not on the classpath
    val scheme = schemeOf(pdir, conf)
    if (!AtomicRenameSchemes(scheme) && !ObjectStoreSchemes(scheme))
      throw new UnsupportedOperationException(
        s"maintained store at $storePath: manifest commits need an " +
          s"atomic put-if-absent publish, and scheme '$scheme' is verified " +
          "for none. Use a file:// or hdfs:// store path or an object " +
          "store (s3a/gs/abfs/...).")
    val fs0 = pdir.getFileSystem(conf)
    // local writes go through the RAW local FS: the checksummed
    // LocalFileSystem would shadow every stage with a .crc sidecar the
    // link below does not carry along
    val fs: FileSystem =
      if (scheme == "file") FileSystem.getLocal(conf).getRaw else fs0
    fs.mkdirs(pdir)
    val gens = pointerGens(fs, pdir)
    val next = gens.lastOption.getOrElse(0L) + 1
    publishPointer(storePath, entries, fs0, fs, scheme, pdir, next)
    // retention + dead-writer stage sweep: single writer from here on
    // (the publish above succeeded), readers resolve max(N), so neither
    // delete can change what any reader resolves
    pointerGens(fs, pdir).dropRight(PointerKeep)
      .foreach(n => fs.delete(new Path(pdir, pointerName(n)), false))
    if (fs.exists(pdir)) fs.listStatus(pdir).toSeq
      .filter(st => st.isFile && st.getPath.getName.contains(".tmp"))
      .foreach(st => fs.delete(st.getPath, false))
  }

  /** The put-if-absent publish of ONE generation, per scheme family:
    *  - `file`: stage fully, then link(2) (atomic, EEXIST on an
    *    existing target — the POSIX put-if-absent), then unlink the
    *    stage;
    *  - `hdfs`/`viewfs`: stage fully, then rename WITHOUT overwrite
    *    (atomic in the NameNode, false if the target exists);
    *  - object stores: create(overwrite = false) and write directly —
    *    PUT visibility is all-or-nothing, so a reader never sees a
    *    partial manifest, and the no-overwrite create is the
    *    conditional write.
    * Package-visible so the writer-race conflict (two writers that both
    * resolved `next` before either published) is directly testable. */
  private[graft] def publishPointer(storePath: String,
      entries: Map[String, String], fs0: FileSystem, fs: FileSystem,
      scheme: String, pdir: Path, next: Long): Unit = {
    val target = fs.makeQualified(new Path(pdir, pointerName(next)))
    require(!entries.contains(CommittedKey),
      s"manifest entry key '$CommittedKey' is reserved by the publish protocol")
    val props = new java.util.Properties()
    entries.foreach { case (k, v) => props.setProperty(k, v) }
    // serialize ONCE with the torn-write sentinel as the physically
    // last line (Properties.store orders keys by hash, so the sentinel
    // must be appended to the bytes, not setProperty'd)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      props.store(bos, null)
      bos.write(s"$CommittedKey=true\n"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      bos.toByteArray
    }
    def conflict(cause: Throwable): Nothing =
      throw new java.io.IOException(
        s"maintained store at $storePath: manifest generation " +
          s"$next already exists — a second writer committed since this " +
          "writer read the store (the contract is single-writer; this " +
          "writer is stale and must re-open the store)", cause)
    if (AtomicRenameSchemes.contains(scheme)) {
      // the stage name carries a per-writer nonce: two racing writers
      // that both resolved `next` must NOT share a stage file, or the
      // loser's create(overwrite) truncates the winner's fully-written
      // bytes between its stage and its publish — the shared-stage
      // variant of exactly the zombie-writer race the put-if-absent
      // publish exists to detect. With distinct stages the loser can
      // only lose at the publish (conflict, loudly), never corrupt.
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val tmp = fs.makeQualified(
        new Path(pdir, pointerName(next) + s".tmp-$nonce"))
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      if (scheme == "file") {
        val t = java.nio.file.Paths.get(tmp.toUri.getPath)
        try java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath), t)
        catch {
          case e: java.nio.file.FileAlreadyExistsException => conflict(e)
          // a live writer's post-commit sweep deletes dead stages — a
          // zombie whose stage vanished IS the stale-writer case, not
          // filesystem corruption; same outcome as conflict(), but the
          // message describes what actually happened (the target
          // generation may not even exist)
          case e: java.nio.file.NoSuchFileException =>
            throw new java.io.IOException(
              s"maintained store at $storePath: this writer's staged " +
                s"manifest for generation $next was swept by a newer " +
                "writer's commit (the contract is single-writer; this " +
                "writer is stale and must re-open the store)", e)
        } finally java.nio.file.Files.deleteIfExists(t)
      } else {
        if (!fs0.rename(tmp, target)) conflict(null)
      }
    } else {
      val out =
        try fs0.create(target, false)
        catch { case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          conflict(e) }
      try out.write(bytes) finally out.close()
    }
  }

  /** Test seam: (rawLocalFs, pointerDir, committedGens) of a local
    * store — lets the race spec drive [[publishPointer]] directly. */
  private[graft] def pointerStateForTest(storePath: String)
      : (FileSystem, Path, Seq[Long]) = {
    val pdir = new Path(storePath, PointerDir)
    val fs = FileSystem.getLocal(hconf).getRaw
    (fs, pdir, pointerGens(fs, pdir))
  }

  /** Post-commit sweep: delete every child of the store that `live`
    * does not reference — orphans from crashed writes, superseded
    * generations, and root-level files other than the manifest's own.
    * `live` holds paths relative to the store root; a directory that
    * holds live paths deeper down (`data/` for `data/g3`) is swept the
    * same way, one level in. */
  def gc(storePath: String, live: Set[String]): Unit = {
    def sweep(rel: String): Unit =
      listChildren(s"$storePath/$rel").foreach { case (nm, isDir) =>
        val child = rel + nm
        // the generation dir is never a data dir a manifest references
        // — it IS the manifest
        if (live(child) || rel.isEmpty && nm == PointerDir) ()
        else if (isDir && live.exists(_.startsWith(child + "/")))
          sweep(child + "/")
        else deleteRecursively(s"$storePath/$child")
      }
    sweep("")
  }

  // ---- shared driver-side FS helpers (the store implementations'
  //      listing/sweep legs, routed through the SAME scheme-resolved
  //      filesystem as the manifest and the data I/O) ----

  /** Immediate children of `path`: (name, isDirectory). Empty for a
    * missing or non-directory path. */
  def listChildren(path: String): Seq[(String, Boolean)] = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Nil
    else fs.listStatus(p).toSeq.map(st => (st.getPath.getName, st.isDirectory))
  }

  /** Count of genuine DATA files directly under `path`: excludes
    * directories, write markers (`_SUCCESS`) and hidden files — the
    * ONE definition every store Health surface's small-files signal
    * uses, so a marker-convention change cannot desync them. */
  def countDataFiles(path: String): Int =
    listChildren(path).count { case (nm, isDir) =>
      !isDir && !nm.startsWith("_") && !nm.startsWith(".")
    }

  def pathExists(path: String): Boolean = {
    val p = new Path(path)
    fsOf(p).exists(p)
  }

  def deleteRecursively(path: String): Unit = {
    val p = new Path(path)
    fsOf(p).delete(p, true)
  }
}
