package graft.api

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** The generation-commit core: the ONE way every maintained store
  * advances (the reference commits each store write in one embedded
  * transaction, storage/duckdb.rs). A commit, in order:
  *  1. [[StoreCommit.open]] reads the committed manifest through
  *     [[StoreCommit.read]] — the store's one versioned read;
  *  2. [[write]] clears each next-generation directory at its first
  *     write and lands the commit's sub-frames there, off to the side
  *     and unpublished;
  *  3. [[publish]] commits ONE manifest through [[ManifestIO]], stamped
  *     with the store's `version`;
  *  4. the same call sweeps every child of the store root the new
  *     manifest does not reference, descending into nested generation
  *     roots (the sync loop's `data/`).
  * A crash before step 3 leaves the previous manifest governing
  * complete data; whatever the dead writer left is cleared or swept by
  * the next commit. Single writer per store.
  *
  * The caller names its generation directories (`g<N>`, `t<N>`,
  * `<namespace>-g<N>`, `data/g<N>`); [[next]] numbers them from the
  * committed manifest. [[SegmentTable]] is the append form of the same
  * core. */
private[graft] final class StoreCommit private (val path: String,
    version: Int, val committed: Option[Map[String, String]]) {

  private val cleared = mutable.Set[String]()

  /** The generation after the one `key` records (1 on a fresh store). */
  def next(key: String = "gen"): Long =
    StoreCommit.generation(committed, key) + 1

  /** Write `df` as parquet to `gen/sub` (`sub` may be empty), clearing
    * the generation directory `gen` first if this commit has not
    * written to it yet — so a crashed writer's leftovers in it are
    * never adopted. */
  def write(gen: String, sub: String, df: DataFrame,
      partitionBy: String*): Unit = {
    if (cleared.add(gen)) ManifestIO.deleteRecursively(s"$path/$gen")
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*)
      .parquet(Seq(path, gen, sub).filter(_.nonEmpty).mkString("/"))
  }

  /** Publish `entries` (plus the store's `version`) as the committed
    * manifest, then sweep every child the manifest does not reference.
    * `live` lists the generation directories the new manifest
    * references, relative to the store root; a directory that only
    * CONTAINS live ones (`data/`) is swept one level down. */
  def publish(entries: Map[String, String], live: Iterable[String]): Unit = {
    ManifestIO.write(path, entries + ("version" -> version.toString))
    ManifestIO.gc(path, live.toSet)
  }
}

private[graft] object StoreCommit {

  /** Open a commit on the store at `path`; see [[read]]. */
  def open(path: String, version: Int,
      rootFiles: Boolean = false): StoreCommit =
    new StoreCommit(path, version, read(path, version, rootFiles))

  /** The committed manifest of a store in format `version`, or None if
    * it never committed. A manifest of another version fails through
    * [[ManifestIO.readVersioned]]; so does a never-committed root that
    * holds flat parquet files — the pre-manifest layout — unless
    * `rootFiles` declares them the store's own uncommitted appends (the
    * attention KV's puts). */
  def read(path: String, version: Int,
      rootFiles: Boolean = false): Option[Map[String, String]] =
    ManifestIO.readVersioned(path, version).orElse {
      if (!rootFiles && ManifestIO.listChildren(path).exists {
          case (nm, isDir) => !isDir && nm.endsWith(".parquet") })
        ManifestIO.unreadable(path, "0 (flat parquet files at the store root)",
          version)
      None
    }

  private val GenNumber = """(?:^|g)(\d+)$""".r.unanchored

  /** The generation number a manifest records under `key` — the value's
    * trailing number (`gen=7`, `data=g7`, `ns.x=x-g7`); 0 when absent
    * or unnumbered. */
  def generation(m: Option[Map[String, String]], key: String = "gen"): Long =
    m.flatMap(_.get(key)).collect { case GenNumber(n) => n.toLong }
      .getOrElse(0L)
}

/** The append form of the core: a small table kept as immutable
  * segment directories `g1..gN`, each append one published generation
  * (manifest `version=1`, `gen=`, `segs=`). A commit that would list
  * more than [[Mnemo.MaxSegments]] segments folds them into one, so a
  * read passes few enough paths to stay under Spark's parallel-listing
  * threshold. A never-written table reads as a typed empty frame. */
private[api] final class SegmentTable(spark: SparkSession, val path: String,
    schema: StructType) {

  private def segs(m: Option[Map[String, String]]): Seq[String] =
    m.toSeq.flatMap(_("segs").split(",")).filter(_.nonEmpty)

  /** The committed segments (driver-side, no Spark job). */
  private def live: Seq[String] = segs(StoreCommit.read(path, 1))

  private def readSegs(s: Seq[String]): DataFrame =
    if (s.isEmpty) spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).parquet(s.map(g => s"$path/$g"): _*)

  def committed: Boolean = StoreCommit.read(path, 1).isDefined

  def read(): DataFrame = readSegs(live)

  /** Live data files across the committed segments. */
  def dataFiles: Int = live.map(g => ManifestIO.countDataFiles(s"$path/$g")).sum

  def append(rows: DataFrame): Unit = commit(fold = false)(_.unionByName(rows))

  /** Replace the whole table by `f` of its content, in one segment. */
  def rewrite(f: DataFrame => DataFrame): Unit = commit(fold = true)(f)

  /** One generation: `f` of the folded content when folding, else `f`
    * of an empty frame (so an append writes its rows alone). */
  private def commit(fold: Boolean)(f: DataFrame => DataFrame): Unit = {
    val c = StoreCommit.open(path, 1)
    val prev = segs(c.committed)
    val folding = fold || prev.length + 1 > Mnemo.MaxSegments
    val seg = s"g${c.next()}"
    c.write(seg, "", f(readSegs(if (folding) prev else Nil)))
    val now = if (folding) Seq(seg) else prev :+ seg
    c.publish(Map("gen" -> c.next().toString, "segs" -> now.mkString(",")), now)
  }
}
