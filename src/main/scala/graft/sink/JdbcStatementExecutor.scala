package graft.sink

import java.sql.{Connection, DriverManager, PreparedStatement}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** JDBC-backed StatementExecutor: the production endpoint of the buffered
  * writer, mirroring the reference's connection/statement lifecycle —
  * connection and prepared statement created once per task and reused
  * across batches (CH/table/internal/ClickHouseBatchOutputFormat.java:34-42,
  * ClickHouseBatchExecutor.java:42-46), positional parameter binding per
  * field with null wrapping (ClickHouseRowConverter.java:66-96).
  *
  * The URL is any JDBC URL (the reference hardcodes the ClickHouse driver;
  * keeping it generic lets the same writer target anything JDBC speaks —
  * the statement dialect comes from StatementFactory either way). Lazy
  * connect on first batch, so constructing the executor off-cluster is
  * side-effect free.
  */
class JdbcStatementExecutor(
    jdbcUrl: String,
    insertSql: String,
    schema: StructType,
    username: Option[String],
    password: Option[String]) extends StatementExecutor {

  @transient private var conn: Connection = _
  @transient private var stmt: PreparedStatement = _

  private def ensureOpen(): Unit =
    if (conn == null) {
      conn = JdbcStatementExecutor.connect(jdbcUrl, username, password)
      stmt = conn.prepareStatement(insertSql)
    }

  override def executeBatch(rows: Seq[Row]): Unit = {
    ensureOpen()
    try {
      rows.foreach { row =>
        var i = 0
        while (i < schema.length) {
          TypeMapping.setField(stmt, i + 1, row, i, schema(i).dataType)
          i += 1
        }
        stmt.addBatch()
      }
      stmt.executeBatch()
      // clear on success: the JDBC spec leaves the command list's state
      // after executeBatch driver-dependent, and the retry path re-adds
      // every row — drivers that keep the list would duplicate the batch
      stmt.clearBatch()
    } catch {
      case e: Exception =>
        // the connection itself may be dead — discard both so the next
        // retry's ensureOpen() reconnects instead of reusing a broken
        // connection forever (which would defeat the retry contract)
        try { if (stmt != null) stmt.close() } catch { case _: Exception => () }
        try { if (conn != null) conn.close() } catch { case _: Exception => () }
        stmt = null
        conn = null
        throw e
    }
  }

  override def close(): Unit = {
    if (stmt != null) stmt.close()
    if (conn != null) conn.close()
  }
}

object JdbcStatementExecutor {

  /** The one way the sink opens a JDBC connection — row writes, driver-side
    * mutations and the read path all authenticate alike. Credentials are
    * sent only when both are set; GraftSinkOptions.fromMap rejects one
    * without the other (ClickHouseDynamicTableFactory.java:139-144).
    */
  def connect(url: String, username: Option[String],
      password: Option[String]): Connection =
    (username, password) match {
      case (Some(u), Some(p)) => DriverManager.getConnection(url, u, p)
      case _ => DriverManager.getConnection(url)
    }
}
