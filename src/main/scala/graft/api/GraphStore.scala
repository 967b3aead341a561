package graft.api

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bitemporal knowledge-graph edge store (reference: mnemo-graph —
  * model.rs:55-70 `valid_at`, store/duckdb.rs:101-111 `close_edge`,
  * store/mod.rs:39): every edge carries a fact-validity window
  * [valid_from, valid_to) with `valid_to = null` meaning "still true",
  * plus the transaction time `recorded_at`. Closing an edge is the
  * SUPERSESSION WRITE: it stamps valid_to on the currently-open row
  * and is idempotent — re-closing never moves the timestamp (the
  * reference updates only rows `WHERE valid_to IS NULL`).
  *
  * Store layout: the [[SegmentTable]] append form of the
  * [[StoreCommit]] core — each insert publishes one segment
  * generation `g<N>`, each close folds the table into one; a crash
  * leaves the previous generation committed. A root in the old
  * flat-parquet layout fails to open.
  *
  * Spark-first: closes are one conditional column rewrite over the
  * edge table (no row-by-row probes); as-of reads are pure predicates,
  * so they pushdown to the scan; expansion is an iterative frontier
  * equi-join whose build side AQE picks per hop from the frontier's
  * real size (see [[expandAt]] — a frontier is unbounded, so the
  * strategy is deliberately not forced). As-of READ parity is already
  * oracle-checked by j6/j9/g1; this class adds the missing write-side
  * op.
  */
final class GraphStore(val spark: SparkSession, val path: String) {

  private val table = new SegmentTable(spark, path, StructType.fromDDL(
    "id STRING, src STRING, dst STRING, relation STRING, " +
      "valid_from TIMESTAMP, valid_to TIMESTAMP, confidence DOUBLE, " +
      "recorded_at TIMESTAMP"))

  def edges(): DataFrame = table.read()

  def insertEdge(id: String, src: String, dst: String, relation: String,
      validFrom: Timestamp, validTo: Option[Timestamp], confidence: Double,
      recordedAt: Timestamp): Unit = {
    import spark.implicits._
    table.append(
      Seq((id, src, dst, relation, validFrom, validTo, confidence, recordedAt))
        .toDF("id", "src", "dst", "relation", "valid_from", "valid_to",
          "confidence", "recorded_at"))
  }

  /** close_edge: stamp valid_to on the OPEN row of `edgeId` only —
    * closing an already-closed edge is a no-op (idempotent), exactly
    * the reference's `WHERE id = ? AND valid_to IS NULL` update. The
    * rewrite folds every segment into one new generation; the live
    * files are never touched before the manifest moves. */
  def closeEdge(edgeId: String, closedAt: Timestamp): Unit =
    table.rewrite(_.withColumn("valid_to",
      when(col("id") === edgeId && col("valid_to").isNull, lit(closedAt))
        .otherwise(col("valid_to"))))

  /** Edges outgoing from `node` that are fact-valid at `asOf`
    * (valid_from <= asOf < valid_to, null = open), ordered by
    * confidence desc then recorded_at desc like the reference read. */
  def outgoingAt(node: String, asOf: Timestamp): DataFrame =
    edges()
      .filter(col("src") === node &&
        col("valid_from") <= lit(asOf) &&
        (col("valid_to").isNull || col("valid_to") > lit(asOf)))
      .orderBy(col("confidence").desc, col("recorded_at").desc)

  /** Operator-facing health view (the describe() satellite-parity
    * discipline): presence + file count are driver-side listings;
    * edge counts are ONE count aggregate over two columns. */
  def describe(): GraphStore.Health =
    if (!table.committed) GraphStore.Health(exists = false, 0L, 0L, 0)
    else {
      val r = edges()
        .agg(count(lit(1)), count(when(col("valid_to").isNull, 1)))
        .collect()(0)
      GraphStore.Health(exists = true, r.getLong(0), r.getLong(1),
        table.dataFiles)
    }

  /** Depth-bounded reachability over edges valid at `asOf`: iterative
    * frontier expansion, each hop one equi-join against the (filtered,
    * cached) edge table. Returns (node, depth of first reach).
    *
    * Join strategy is deliberately LEFT TO THE OPTIMIZER, not a forced
    * `broadcast(frontier)`: a BFS frontier is unbounded — it grows
    * with graph fan-out, and on a dense hop can approach the node
    * count — so a forced broadcast is a driver OOM waiting for the
    * first well-connected graph. Each frontier is an eagerly
    * localCheckpoint'd frame with known size, so AQE picks the
    * broadcast build side at runtime exactly when the frontier IS
    * small (hop 1 from a single start node always is) and falls back
    * to a shuffle join when it is not — the scale-safe version of the
    * same plan. This DEPENDS on AQE (`spark.sql.adaptive.enabled`, on
    * by default since Spark 3.2): a session that disables it gets a
    * shuffle join per hop even for a one-node frontier — correct, just
    * slower; re-enable AQE rather than forcing a broadcast hint here
    * (ADVICE r16 — the hint is the driver-OOM path this method
    * deliberately removed). */
  def expandAt(start: String, maxDepth: Int, asOf: Timestamp): DataFrame = {
    import spark.implicits._
    val valid = edges()
      .filter(col("valid_from") <= lit(asOf) &&
        (col("valid_to").isNull || col("valid_to") > lit(asOf)))
      .select(col("src"), col("dst")).cache()
    var reached = Seq((start, 0)).toDF("node", "depth")
    var frontier = reached
    var d = 0
    try {
      while (d < maxDepth && !frontier.isEmpty) {
        d += 1
        val next = valid.join(frontier, col("src") === col("node"))
          .select(col("dst").as("node")).distinct()
          .join(reached.select(col("node")), Seq("node"), "left_anti")
          .withColumn("depth", lit(d))
          .localCheckpoint()
        reached = reached.unionByName(next)
        frontier = next
      }
    } finally {
      // every hop's output is an EAGER localCheckpoint, so nothing
      // returned still depends on the cached edge projection — and the
      // finally keeps a mid-expansion failure (executor loss, corrupt
      // segment) from leaking the entry, the accumulation this
      // unpersist exists to stop
      valid.unpersist(false)
    }
    reached
  }
}

object GraphStore {
  /** [[GraphStore.describe]]'s report: total vs still-open (valid_to
    * null) edges, plus the live data files across the committed
    * segments (small-files pressure — [[GraphStore.closeEdge]]'s
    * rewrite and the segment bound fold them). */
  final case class Health(
      exists: Boolean, edges: Long, openEdges: Long, dataFiles: Int)

  def open(spark: SparkSession, path: String): GraphStore = new GraphStore(spark, path)
}
