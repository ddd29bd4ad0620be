package graft.sink

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.core.Deltas
import scala.jdk.CollectionConverters._

/** Batch-profile incremental maintenance (reference `drain_deltas`,
  * machine.rs:169-181, in snapshot form): recompute the view, diff it
  * against what the sink currently holds, apply only the deltas — the
  * reference's "keep the SQL table continuously in sync" contract
  * without a streaming runtime.
  *
  * The sink-side read is the view's CURRENT size (not the input's), so
  * this scales with view cardinality; for views too large to read back,
  * the streaming profile (checkpointed state) is the right tool.
  */
object BatchIncremental {

  /** Diff `snapshot` against the sink's current rows and apply the
    * change in one exactly-once transaction. Returns the number of
    * delta row-copies applied — 0 both when the view was already in
    * sync AND when the batchId was an idempotent replay (the skipped
    * transaction never consumes the streamed diff). */
  def sync(spark: SparkSession, snapshot: DataFrame, sink: JdbcDeltaSink,
           offsets: Map[String, Long], batchId: Long): Long = {
    val schema: StructType = snapshot.schema
    val current: DataFrame = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          sink.readRows().map(vs => Row.fromSeq(vs))).asJava),
      schema)
    val deltas = Deltas.consolidate(Deltas.diff(snapshot, current))
    // stream the diff through the open txn (DeltaSql.pull: one coalesced
    // partition on the driver at a time) — a first sync of a large view
    // is exactly the full-history-replay case the collect() form would
    // buffer whole
    var applied = 0L
    val rows = DeltaSql.pull(deltas).map { r =>
      applied += r.getAs[Long](Deltas.MULT).abs
      (schema.fieldNames.toSeq.map(n => r.getAs[Any](n)), r.getAs[Long](Deltas.MULT))
    }
    sink.applyDeltasStreamed(offsets, batchId, rows)
    applied
  }
}
