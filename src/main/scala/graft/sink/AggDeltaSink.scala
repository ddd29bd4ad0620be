package graft.sink

import java.sql.{Connection, PreparedStatement}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable
import org.apache.spark.sql.functions._

/** Incrementally-maintained AGGREGATE view: `keys -> (cnt, sums...)`
  * kept in sync with a signed-delta stream WITHOUT recomputation.
  *
  * The reference maintains raw-row views (bag semantics,
  * [[JdbcDeltaSink]]); this sink extends the same exactly-once protocol
  * to additive aggregations — the classic incremental-view-maintenance
  * result that SUM/COUNT are self-maintainable under inserts AND
  * retractions. Each micro-batch reduces to per-group adjustments
  *
  *   dn = Σ mult,   ds_i = Σ value_i · mult
  *
  * (computed distributed, map-side combined — only churned groups reach
  * the driver), applied inside the offsets transaction as
  * `UPDATE … SET cnt = cnt + ?, s_i = s_i + ?`, inserting absent
  * groups and DELETING a group whose cnt reaches 0 — the same
  * zero-elimination as the reference's `Coll` consolidation
  * (coll.rs:89-101). cnt < 0 aborts the transaction (over-retraction,
  * the analog of the raw sink's too-many-deletes guard). AVG and other
  * ratios are derived columns over (sum, cnt) at read time.
  *
  * At 100 TB: per-batch work is O(churned groups), not O(view size) and
  * not O(event log) — the whole point of maintaining the view. Use
  * DECIMAL sum columns for drift-free accumulation; DOUBLE sums drift
  * by ordinary float addition under heavy churn.
  */
class AggDeltaSink(url: String, val name: String, version: Int,
                   keys: Seq[ColumnSpec], sums: Seq[ColumnSpec],
                   dialect: SinkDialect = AnsiDialect)
    extends DeltaBatchSink with Serializable {

  private val spec = TableSpec(name, version,
    keys ++ Seq(ColumnSpec("cnt", "BIGINT")) ++ sums)
  private val keySpec = TableSpec(name, version, keys)
  private val base = new JdbcDeltaSink(url, spec, dialect)

  def bootstrap(): Boolean = base.bootstrap()

  /** Union-member bootstrap (data table + version row only; the
    * union's shared offsets/batch tables are the group's) — lets an
    * aggregate view join a [[UnionDeltaSink]] next to raw members. */
  private[sink] def bootstrapMember(): Boolean = base.bootstrapMember()
  def getOffsets(): Map[String, Long] = base.getOffsets()
  def lastBatchId(): Option[Long] = base.lastBatchId()
  def readRows(): Seq[Seq[Any]] = base.readRows()
  def readAsDataFrame(spark: org.apache.spark.sql.SparkSession): DataFrame =
    base.readAsDataFrame(spark)

  private def numericallyZero(v: Any): Boolean = v match {
    case null => true // SQL SUM over an empty/all-null slice
    case n: java.lang.Number => n.doubleValue() == 0.0
    case other => sys.error(s"non-numeric sum adjustment: $other")
  }

  /** Apply one batch of per-group adjustments + offsets in ONE
    * transaction ([[DeltaSql.inBatchTxn]] — the same exactly-once
    * protocol as the raw-row sinks). `adjustments`: (key values, dn,
    * per-sum-column ds). Replayed batch ids are skipped. */
  def applyAdjustments(offsets: Map[String, Long], batchId: Long,
                       adjustments: Seq[(Seq[Any], Long, Seq[Any])]): Boolean =
    applyAdjustmentsStreamed(offsets, batchId, adjustments.iterator)

  /** Iterator form — adjustments stream through the open transaction. */
  def applyAdjustmentsStreamed(offsets: Map[String, Long], batchId: Long,
                               adjustments: Iterator[(Seq[Any], Long, Seq[Any])]): Boolean =
    DeltaSql.inBatchTxn(url, s"${name}_batches", spec.offsetsTable,
      batchId, offsets, dialect) { c =>
      applyAdjustmentsInTxn(c, adjustments)
    }

  /** The per-group UPDATE/INSERT/zero-eliminate protocol over an OPEN
    * transaction — shared by [[applyAdjustmentsStreamed]] (own txn) and
    * [[UnionDeltaSink]] (the group's shared txn, so a raw member and
    * this view commit all-or-nothing together). Each statement is
    * prepared once per WHERE shape (the NULL pattern of the key values)
    * and reused for every group of that shape. */
  private[sink] def applyAdjustmentsInTxn(
      c: Connection, adjustments: Iterator[(Seq[Any], Long, Seq[Any])]): Unit = {
    val sumSet = sums.map(s => s"${s.name} = ${s.name} + ?").mkString(", ")
    val setSql = if (sums.isEmpty) "cnt = cnt + ?" else s"cnt = cnt + ?, $sumSet"
    val prepared = mutable.Map.empty[String, PreparedStatement]
    def stmt(sql: String): PreparedStatement =
      prepared.getOrElseUpdate(sql, c.prepareStatement(sql))
    try adjustments.foreach { case (keyVals, dn, dsums) =>
      require(dsums.length == sums.length,
        s"expected ${sums.length} sum adjustments, got ${dsums.length}")
      val (where, whereParams) = DeltaSql.nullSafeWhere(keySpec, keyVals)
      val upd = stmt(s"UPDATE $name SET $setSql WHERE $where")
      DeltaSql.bind(upd, (dn +: dsums) ++ whereParams)
      val hit = upd.executeUpdate()
      if (hit == 0) {
        // absent group: any net effect (dn ≠ 0 OR a nonzero sum
        // adjustment — e.g. retract(v=1)+insert(v=5) netting dn=0,
        // ds=+4) means the stream retracts state the view never had
        if (dn < 0 || (dn == 0 && !dsums.forall(numericallyZero)))
          throw new IllegalStateException(
            s"aggregate retraction for absent group $keyVals in $name (dn=$dn, ds=$dsums)")
        if (dn > 0) {
          val ins = stmt(dialect.insertSql(spec))
          DeltaSql.bind(ins, (keyVals :+ dn) ++ dsums)
          ins.executeUpdate()
        }
      } else {
        val sel = stmt(s"SELECT cnt FROM $name WHERE $where")
        DeltaSql.bind(sel, whereParams)
        val rs = sel.executeQuery(); rs.next()
        val cnt = rs.getLong(1); rs.close()
        if (cnt < 0) throw new IllegalStateException(
          s"group $keyVals in $name driven to cnt=$cnt: more retractions than rows")
        if (cnt == 0) { // zero-elimination (reference coll.rs:89-101)
          val del = stmt(s"DELETE FROM $name WHERE $where")
          DeltaSql.bind(del, whereParams)
          del.executeUpdate()
        }
      }
    } finally prepared.values.foreach(_.close())
  }

  /** `foreachBatch` adapter: the micro-batch DataFrame carries the key
    * columns, the value columns, and `mult`; the per-group reduction to
    * (dn, ds...) runs distributed — only churned groups are collected.
    * `_source`/`_offset` columns feed the offsets map if present. The
    * micro-batch plan runs once ([[DeltaSql.onceOverBatch]]): offsets
    * first, before the transaction, then the reduction from the cache. */
  def foreachBatchWriter(): (DataFrame, Long) => Unit = { (df, batchId) =>
    DeltaSql.onceOverBatch(df) { offsets =>
      applyAdjustmentsStreamed(offsets, batchId,
        adjustmentsOf(df.drop("_source", "_offset")))
    }
    ()
  }

  /** The distributed per-group reduction of a signed-delta batch to
    * (key, dn, ds…) adjustments — map-side combined, only churned
    * groups cross the driver, pulled through [[DeltaSql.pull]] (the
    * reduction's exchange runs here, coalesced by adaptive execution; one
    * partition on the driver at a time). Shared by [[foreachBatchWriter]]
    * and the union's mixed-member writer. */
  private[sink] def adjustmentsOf(dataDf: DataFrame)
      : Iterator[(Seq[Any], Long, Seq[Any])] = {
    val keyCols = keys.map(k => col(k.name))
    val aggs = sum(col(graft.core.Deltas.MULT)).as("_dn") +:
      sums.map(s => sum(col(s.name) * col(graft.core.Deltas.MULT)).as(s.name))
    DeltaSql.pull(dataDf.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)).map { r =>
      (keys.map(k => r.getAs[Any](k.name)),
       r.getAs[Long]("_dn"),
       sums.map(s => r.getAs[Any](s.name)))
    }
  }

  /** Columns a union micro-batch must carry for this member: its keys
    * and sum inputs (plus `mult`). */
  private[sink] def dataColNames: Seq[String] =
    (keys ++ sums).map(_.name)
}
