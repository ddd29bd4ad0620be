package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.sink._

/** Golden-statement proof for the Postgres/MSSQL dialects (the container
  * has no live server — the reference's own Postgres/MSSQL suites are
  * env-gated the same way, postgre.rs:303-307) plus a live Derby pass
  * over the bounded-batching code path, and the paired-UPDATE apply
  * checked against one-delta-at-a-time on Derby (ANSI), DuckDB (the
  * Postgres dialect) and the `jdbc:tsql:` shim (MSSQL). Every golden
  * string mirrors a reference statement, cited per assertion. */
class DialectSpec extends SparkTestBase {

  private val spec = TableSpec("test_record", 1, Seq(
    ColumnSpec("a", "VARCHAR(64)", index = true),
    ColumnSpec("b", "BIGINT")))

  test("ANSI dialect emits the Derby-proven statements") {
    assert(AnsiDialect.insertSql(spec) ===
      "INSERT INTO test_record (a, b) VALUES (?, ?)")
    assert(AnsiDialect.deleteAllSql(spec, "a = ? AND b = ?") ===
      "DELETE FROM test_record WHERE a = ? AND b = ?")
    assert(AnsiDialect.deleteLimitSql(spec, "a = ?") === None,
      "no bounded delete → delete-all + reinsert removed+mult")
    assert(AnsiDialect.offsetsUpsertSql("t_offsets") === None,
      "no single-statement upsert → update-then-insert pair")
    assert(AnsiDialect.offsetsUpdateSql("t_offsets") ===
      "UPDATE t_offsets SET offset_ = ? WHERE source = ?")
    assert(AnsiDialect.createTableSql("t", "a INT") === "CREATE TABLE t (a INT)")
  }

  test("Postgres dialect: idempotent DDL + ON CONFLICT offsets upsert") {
    // postgre.rs:152 `create table if not exists {} ({})`
    assert(PostgresDialect.createTableSql("test_record", "a VARCHAR(64), b BIGINT") ===
      "CREATE TABLE IF NOT EXISTS test_record (a VARCHAR(64), b BIGINT)")
    // postgre.rs:156 `create index if not exists {} on {} ({})`
    assert(PostgresDialect.createIndexSql("idx_test_record_a", "test_record", "a") ===
      "CREATE INDEX IF NOT EXISTS idx_test_record_a ON test_record (a)")
    // postgre.rs:160-161: plain delete — the affected-row count feeds the
    // reinsert loop (postgre.rs:245-247), no bounded form
    assert(PostgresDialect.deleteLimitSql(spec, "a = ?") === None)
    assert(PostgresDialect.deleteAllSql(spec, "a = ?") ===
      "DELETE FROM test_record WHERE a = ?")
    // db/mod.rs:384-394 `insert into {}_offsets (source, offset_) values
    // (…) on conflict(source) do update set offset_ = excluded.offset_`
    assert(PostgresDialect.offsetsUpsertSql("test_record_offsets") === Some(
      "INSERT INTO test_record_offsets (source, offset_) VALUES (?, ?) " +
        "ON CONFLICT(source) DO UPDATE SET offset_ = excluded.offset_"))
  }

  test("MSSQL dialect: sys-catalog-guarded DDL, DELETE TOP (?), updlock upsert, SERIALIZABLE pin") {
    // mssql.rs:200-205 `if not exists (select * from sys.tables …) create table`
    assert(MssqlDialect.createTableSql("test_record", "a VARCHAR(64), b BIGINT") ===
      "IF NOT EXISTS (SELECT * FROM sys.tables WHERE name = 'test_record') " +
        "CREATE TABLE test_record (a VARCHAR(64), b BIGINT)")
    // mssql.rs:207-213 index guard via sys.indexes
    assert(MssqlDialect.createIndexSql("idx_test_record_a", "test_record", "a") ===
      "IF NOT EXISTS (SELECT * FROM sys.indexes WHERE name = 'idx_test_record_a') " +
        "CREATE INDEX idx_test_record_a ON test_record (a)")
    // mssql.rs:216-218 `delete top ({param}) {clause}` — parameterized cap
    assert(MssqlDialect.deleteLimitSql(spec, "a = ? AND b = ?") === Some(
      "DELETE TOP (?) FROM test_record WHERE a = ? AND b = ?"))
    // mssql.rs:288-299 if-exists-updlock upsert (sole-writer contract)
    assert(MssqlDialect.offsetsUpsertSql("test_record_offsets") === Some(
      "IF EXISTS (SELECT * FROM test_record_offsets WITH (UPDLOCK) WHERE source = ?) " +
        "UPDATE test_record_offsets SET offset_ = ? WHERE source = ? " +
        "ELSE INSERT test_record_offsets (source, offset_) VALUES (?, ?)"))
    // mssql.rs:142 isolation pinned per connection
    assert(MssqlDialect.sessionInitSql ===
      Seq("SET TRANSACTION ISOLATION LEVEL SERIALIZABLE"))
  }

  test("unconsolidated batch: a queued insert is flushed before the same tuple's retraction") {
    val sink = new JdbcDeltaSink("jdbc:derby:memory:dialect_unconsol;create=true",
      spec, AnsiDialect, rowBatchSize = 100)
    sink.bootstrap()
    // insert sits in the statement batch (size < rowBatchSize) when the
    // retraction arrives — the delete must observe it, netting zero rows
    assert(sink.applyDeltas(Map.empty, 0L,
      Seq((Seq[Any]("z", 9L), 1L), (Seq[Any]("z", 9L), -1L))))
    assert(sink.readRows().isEmpty)
  }

  test("bounded batching: tiny rowBatchSize round-trips a large delta batch on Derby") {
    // rowBatchSize = 7 forces dozens of executeBatch flushes across a
    // 500-row batch, interleaved with retractions in the same txn
    val sink = new JdbcDeltaSink("jdbc:derby:memory:dialect_batch;create=true",
      spec, AnsiDialect, rowBatchSize = 7)
    sink.bootstrap()
    val big = (1 to 500).map(i => (Seq[Any](s"k$i", i.toLong), 1L))
    assert(sink.applyDeltas(Map("s" -> 1L), 0L, big))
    assert(sink.readRows().size === 500)
    // mixed batch: retract 100 of them, double 50 others — one txn
    val mixed = (1 to 100).map(i => (Seq[Any](s"k$i", i.toLong), -1L)) ++
      (101 to 150).map(i => (Seq[Any](s"k$i", i.toLong), 1L))
    assert(sink.applyDeltas(Map("s" -> 2L), 1L, mixed))
    val rows = sink.readRows().map(r => r(0).toString)
    assert(rows.size === 450)
    assert(!rows.contains("k1") && rows.count(_ == "k101") === 2)
    assert(sink.getOffsets() === Map("s" -> 2L))
    // over-retraction mid-batch still rolls the whole txn back
    intercept[IllegalStateException] {
      sink.applyDeltas(Map("s" -> 3L), 2L,
        Seq((Seq[Any]("k200", 200L), 1L), (Seq[Any]("k300", 300L), -5L)))
    }
    assert(sink.readRows().size === 450, "failed txn left no partial writes")
    assert(sink.getOffsets() === Map("s" -> 2L))
  }

  private def bagOf(sink: JdbcDeltaSink): Map[Seq[Any], Int] =
    sink.readRows().groupBy(identity).view.mapValues(_.size).toMap

  test("chunked apply (rowBatchSize 3) equals applying one delta at a time") {
    // tuples repeat inside a chunk (closing it early) and across chunks;
    // every retraction is valid when the deltas apply one by one
    val rnd = new scala.util.Random(2207L)
    val tuples = Seq[Seq[Any]](Seq("p", 1L), Seq("q", 2L), Seq(null, 3L), Seq("r", null))
    val have = scala.collection.mutable.Map.empty[Seq[Any], Long].withDefaultValue(0L)
    val deltas = (1 to 80).map { _ =>
      val t = tuples(rnd.nextInt(tuples.size))
      val mult = if (have(t) > 0 && rnd.nextBoolean()) -(1L + rnd.nextInt(have(t).toInt))
        else 1L + rnd.nextInt(3)
      have(t) += mult
      (t, mult)
    }
    val chunked = new JdbcDeltaSink("jdbc:derby:memory:dialect_chunk3;create=true",
      spec, AnsiDialect, rowBatchSize = 3)
    val single = new JdbcDeltaSink("jdbc:derby:memory:dialect_one;create=true",
      spec, AnsiDialect, rowBatchSize = 3)
    chunked.bootstrap(); single.bootstrap()
    assert(chunked.applyDeltas(Map("s" -> 80L), 0L, deltas))
    deltas.zipWithIndex.foreach { case (d, i) =>
      assert(single.applyDeltas(Map("s" -> (i + 1L)), i.toLong, Seq(d)))
    }
    assert(bagOf(chunked) === bagOf(single))
    assert(bagOf(chunked) === have.filter(_._2 > 0).map { case (t, n) => t -> n.toInt }.toMap)
    assert(chunked.getOffsets() === single.getOffsets())
  }

  test("one chunk mixes NULL and non-NULL WHERE shapes") {
    val sink = new JdbcDeltaSink("jdbc:derby:memory:dialect_shapes;create=true",
      spec, AnsiDialect, rowBatchSize = 100)
    sink.bootstrap()
    assert(sink.applyDeltas(Map.empty, 0L, Seq(
      (Seq[Any](null, 7L), 2L), (Seq[Any]("x", 7L), 1L),
      (Seq[Any]("y", null), 1L), (Seq[Any](null, null), 1L))))
    // four retractions over four WHERE shapes, plus inserts, in one chunk
    assert(sink.applyDeltas(Map.empty, 1L, Seq(
      (Seq[Any](null, 7L), -1L), (Seq[Any]("x", 7L), -1L), (Seq[Any]("q", null), 1L),
      (Seq[Any]("y", null), -1L), (Seq[Any](null, null), -1L), (Seq[Any]("x", 8L), 1L))))
    assert(bagOf(sink) === Map(Seq(null, 7L) -> 1, Seq("q", null) -> 1, Seq("x", 8L) -> 1))
  }

  test("an over-retraction mid-chunk rolls back the chunk's rows and the offsets") {
    val sink = new JdbcDeltaSink("jdbc:derby:memory:dialect_midchunk;create=true",
      spec, AnsiDialect, rowBatchSize = 10)
    sink.bootstrap()
    assert(sink.applyDeltas(Map("s" -> 1L), 0L,
      Seq((Seq[Any]("a", 1L), 1L), (Seq[Any]("b", 2L), 2L))))
    val before = bagOf(sink)
    // one chunk: b's delete-all has run (awaiting its reinsert) when a's
    // count shows the over-retraction
    val ex = intercept[IllegalStateException] {
      sink.applyDeltas(Map("s" -> 2L), 1L, Seq(
        (Seq[Any]("c", 3L), 1L), (Seq[Any]("b", 2L), -1L),
        (Seq[Any]("a", 1L), -3L), (Seq[Any]("d", 4L), 1L)))
    }
    assert(ex.getMessage.contains("retracts more rows than present"))
    assert(bagOf(sink) === before, "no row of the failed batch survives")
    assert(sink.getOffsets() === Map("s" -> 1L), "offsets roll back with the rows")
    assert(sink.lastBatchId() === Some(0L))
  }

  test("UPDATE text per dialect: non-index columns set, MSSQL bounded to one row") {
    val wide = TableSpec("t", 1, Seq(ColumnSpec("k", "VARCHAR(8)", index = true),
      ColumnSpec("v", "BIGINT"), ColumnSpec("w", "VARCHAR(8)")))
    assert(AnsiDialect.updateSql(spec, "a = ? AND b IS NULL") ===
      "UPDATE test_record SET b = ? WHERE a = ? AND b IS NULL")
    assert(PostgresDialect.updateSql(wide, "k = ? AND v = ? AND w = ?") ===
      "UPDATE t SET v = ?, w = ? WHERE k = ? AND v = ? AND w = ?")
    assert(MssqlDialect.updateSql(spec, "a = ? AND b = ?") ===
      "UPDATE TOP (1) test_record SET b = ? WHERE a = ? AND b = ?")
  }

  /** A Derby sink behind the counting driver, its counters cleared. */
  private def countedSink(db: String, rowBatchSize: Int): JdbcDeltaSink = {
    val sink = new JdbcDeltaSink(TestJdbc.Counting.url(s"jdbc:derby:memory:$db;create=true"),
      spec, AnsiDialect, rowBatchSize)
    sink.bootstrap()
    TestJdbc.Counting.reset()
    sink
  }

  test("a paired retraction of an absent row throws and rolls back both rows and offsets") {
    val sink = countedSink("dialect_pair_absent", rowBatchSize = 10)
    assert(sink.applyDeltas(Map("s" -> 1L), 0L,
      Seq((Seq[Any]("a", 1L), 1L), (Seq[Any]("b", 2L), 1L))))
    val before = bagOf(sink)
    val ex = intercept[IllegalStateException] {
      sink.applyDeltas(Map("s" -> 2L), 1L, Seq(
        (Seq[Any]("b", 2L), -1L), (Seq[Any]("b", 3L), 1L),   // valid pair
        (Seq[Any]("a", 5L), -1L), (Seq[Any]("a", 6L), 1L)))  // (a, 5) is absent
    }
    assert(ex.getMessage.contains("retracts more rows than present"))
    assert(TestJdbc.Counting.affected("UPDATE", spec.name) === Vector(1, 0),
      "both pairs went out as UPDATEs")
    assert(bagOf(sink) === before, "neither pair's row change survives")
    assert(sink.getOffsets() === Map("s" -> 1L) && sink.lastBatchId() === Some(0L))
  }

  test("k > 1: an UPDATE over k copies is repaired to a-1 copies of A and b+1 of B") {
    val sink = countedSink("dialect_pair_dup", rowBatchSize = 10)
    val (a, b) = (Seq[Any]("m", 1L), Seq[Any]("m", 2L))
    assert(sink.applyDeltas(Map.empty, 0L, Seq((a, 3L), (b, 1L))))
    assert(sink.applyDeltas(Map.empty, 1L, Seq((a, -1L), (b, 1L))))
    assert(TestJdbc.Counting.affected("UPDATE", spec.name) === Vector(3),
      "the plain UPDATE changed all three copies of A")
    assert(bagOf(sink) === Map(a -> 2, b -> 2))
  }

  test("a pair split by a chunk boundary applies as a delete and an insert") {
    val sink = countedSink("dialect_pair_split", rowBatchSize = 2)
    assert(sink.applyDeltas(Map.empty, 0L,
      Seq((Seq[Any]("a", 1L), 1L), (Seq[Any]("c", 1L), 1L))))
    TestJdbc.Counting.reset()
    // chunks [x1+, a1-] [a2+, c2+] [c1-]: neither pair shares a chunk
    assert(sink.applyDeltas(Map.empty, 1L, Seq(
      (Seq[Any]("x", 1L), 1L), (Seq[Any]("a", 1L), -1L), (Seq[Any]("a", 2L), 1L),
      (Seq[Any]("c", 2L), 1L), (Seq[Any]("c", 1L), -1L))))
    assert(TestJdbc.Counting.sent("UPDATE", spec.name) === 0L)
    assert(TestJdbc.Counting.sent("DELETE", spec.name) === 2L)
    assert(bagOf(sink) === Map(Seq("x", 1L) -> 1, Seq("a", 2L) -> 1, Seq("c", 2L) -> 1))
  }

  private def gen[T](g: Gen[T], seed: Long): T =
    g(Gen.Parameters.default, Seed(seed)).get

  private def duckUrl(tag: String): String =
    s"jdbc:duckdb:${java.nio.file.Files.createTempDirectory(s"graft-prop-$tag")}/graft.db"

  /** Random delta batches over a small key space (NULLs in the index and
    * the other columns; multiplicities in {-2, -1, 1, 2}) onto a table
    * seeded with duplicate copies, applied as one batch at rowBatchSize 3
    * and 1000: the table equals applying the deltas one at a time, and a
    * batch that over-retracts at any step fails whole. */
  private def pairedApplyEqualsOneAtATime(dialect: SinkDialect, url: String, tag: String): Unit = {
    val tuple = for {
      k <- Gen.oneOf("a", "b", null)
      v <- Gen.oneOf(Gen.const(null: java.lang.Long), Gen.choose(1L, 2L).map(Long.box))
      w <- Gen.oneOf("x", "y", null)
    } yield Seq[Any](k, v, w)
    val seeded = Gen.listOfN(10, Gen.zip(tuple, Gen.choose(1L, 3L)))
    val batch = Gen.listOfN(24, Gen.zip(tuple, Gen.oneOf(-2L, -1L, 1L, 2L), Gen.choose(0, 9)))
    var updates, repaired, failed = 0
    for (rowBatchSize <- Seq(3, 1000); trial <- 0 until 12) {
      val seed = 4100L + trial
      val wide = TableSpec(s"prop_${tag}_${rowBatchSize}_$trial", 1, Seq(
        ColumnSpec("k", "VARCHAR(8)", index = true),
        ColumnSpec("v", "BIGINT"), ColumnSpec("w", "VARCHAR(8)")))
      val sink = new JdbcDeltaSink(url, wide, dialect, rowBatchSize)
      assert(sink.bootstrap())
      val have = scala.collection.mutable.Map.empty[Seq[Any], Long].withDefaultValue(0L)
      val start = gen(seeded, seed)
      start.foreach { case (t, n) => have(t) += n }
      assert(sink.applyDeltas(Map("s" -> 1L), 0L, start))
      // mostly valid: a retraction of more than is present flips to an
      // insert nine times in ten, so some batches over-retract
      var valid = true
      val deltas = gen(batch, seed + 100L).map { case (t, m, coin) =>
        val mult = if (have(t) + m < 0 && coin > 0) -m else m
        have(t) += mult
        if (have(t) < 0) valid = false
        (t, mult)
      }
      TestJdbc.Counting.reset()
      val want = have.filter(_._2 > 0).map { case (t, n) => t -> n.toInt }.toMap
      val startBag = start.groupMapReduce(_._1)(_._2.toInt)(_ + _)
      val context = s"$tag rowBatchSize=$rowBatchSize trial=$trial deltas=$deltas"
      if (valid) {
        assert(sink.applyDeltas(Map("s" -> 2L), 1L, deltas), context)
        assert(bagOf(sink) === want, context)
        assert(sink.getOffsets() === Map("s" -> 2L), context)
      } else {
        failed += 1
        intercept[IllegalStateException](sink.applyDeltas(Map("s" -> 2L), 1L, deltas))
        assert(bagOf(sink) === startBag, context)
        assert(sink.getOffsets() === Map("s" -> 1L), context)
      }
      val counts = TestJdbc.Counting.affected("UPDATE", wide.name)
      updates += counts.size
      repaired += counts.count(_ > 1)
    }
    // the generator reaches every path: pairs, k > 1 repairs, failures
    assert(updates > 0 && failed > 0, s"$tag: $updates updates, $failed failed batches")
    if (dialect != MssqlDialect) assert(repaired > 0, s"$tag: no UPDATE hit duplicate copies")
  }

  test("property: paired apply equals one delta at a time (ANSI on Derby)") {
    pairedApplyEqualsOneAtATime(AnsiDialect,
      TestJdbc.Counting.url("jdbc:derby:memory:dialect_prop;create=true"), "ansi")
  }

  test("property: paired apply equals one delta at a time (Postgres dialect on DuckDB)") {
    assume(TestJdbc.duckdbReady, "duckdb_jdbc jar not in the local build cache — env-blocked")
    pairedApplyEqualsOneAtATime(PostgresDialect, TestJdbc.Counting.url(duckUrl("pg")), "pg")
  }

  test("property: paired apply equals one delta at a time (MSSQL through the tsql shim)") {
    assume(TestJdbc.duckdbReady, "duckdb_jdbc jar not in the local build cache — env-blocked")
    pairedApplyEqualsOneAtATime(MssqlDialect,
      TestJdbc.Counting.url(TestJdbc.TsqlDriver.PREFIX + duckUrl("mssql")), "mssql")
  }
}
