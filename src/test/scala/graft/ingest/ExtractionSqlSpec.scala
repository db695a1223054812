package graft.ingest

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.model.DbType

class ExtractionSqlSpec extends AnyFunSuite {
  private val last = Timestamp.valueOf("2024-01-01 00:00:00")
  private val max  = Timestamp.valueOf("2024-02-01 00:00:00")

  test("probe SQL is dialect-correct for all four flavors") {
    assert(ExtractionSql.probeMax(DbType.Postgres, Some("s"), "t", "ts") ==
      "select ts from s.t WHERE ts IS NOT NULL ORDER BY ts DESC LIMIT 1")
    assert(ExtractionSql.probeMax(DbType.MySql, Some("s"), "t", "ts") ==
      "select ts from t WHERE ts IS NOT NULL ORDER BY ts DESC LIMIT 1") // mysql: no schema qualify
    assert(ExtractionSql.probeMax(DbType.Oracle, None, "t", "ts") ==
      "select ts from t WHERE ts IS NOT NULL ORDER BY ts DESC FETCH FIRST 1 ROWS ONLY")
    assert(ExtractionSql.probeMax(DbType.SqlServer, None, "t", "ts") ==
      "select TOP 1 ts from t WHERE ts IS NOT NULL ORDER BY ts DESC")
  }

  test("incremental interval is half-open (last, max] with quoted literals") {
    val pg = ExtractionSql.incremental(DbType.Postgres, Some("s"), "t", "ts", last, max)
    assert(pg == "select * from s.t where ts > timestamp '2024-01-01 00:00:00' " +
      "and ts <= timestamp '2024-02-01 00:00:00'")
    // every flavor quotes (the reference's mysql/oracle/sqlserver branches
    // emit unquoted literals — invalid SQL, deliberately fixed)
    val my = ExtractionSql.incremental(DbType.MySql, None, "t", "ts", last, max)
    assert(my.contains("timestamp '2024-01-01 00:00:00'"))
    val ms = ExtractionSql.incremental(DbType.SqlServer, None, "t", "ts", last, max)
    assert(ms.contains("CAST('2024-01-01 00:00:00' AS DATETIME2)"))
  }

  test("full extract qualifies schema only on postgres") {
    assert(ExtractionSql.full(DbType.Postgres, Some("s"), "t") == "SELECT * FROM s.t")
    assert(ExtractionSql.full(DbType.Oracle, Some("s"), "t") == "SELECT * FROM t")
  }

  test("partitioned scan options carry all four required JDBC keys") {
    for (db <- DbType.all) {
      val src = new JdbcTableSource(null, db, "h", 5432, "d", "u", "p",
        None, "t", numPartitions = 8, partitionColumn = Some("id"))
      val opts = src.partitionedScanOptions("id", "1", "1000")
      assert(opts("partitionColumn") == "id")
      assert(opts("lowerBound") == "1")
      assert(opts("upperBound") == "1000")
      assert(opts("numPartitions") == "8")
      assert(opts("driver") == db.driver)
      assert(opts("dbtable").startsWith("(SELECT * FROM"))
    }
  }
}
