package graft.sink

/** SQL statement templates for the ClickHouse-style sink, in the
  * reference generator's grammar
  * (CH/table/internal/ClickHouseStatementFactory.java:11-118): batch
  * INSERT with positional placeholders and backtick identifier quoting.
  * Collapsing and replacing writes use the same INSERT — the sign/flag
  * column simply rides in fieldNames (ClickHouseStatementFactory.java:27-59).
  * Beyond the reference's append-only surface: TRUNCATE and
  * ALTER ... DELETE WHERE for overwrite and SQL DELETE, and the read
  * path's SELECT.
  */
object StatementFactory {

  def quoteIdentifier(id: String): String = s"`$id`"

  def insertInto(tableName: String, fieldNames: Seq[String]): String = {
    val columns = fieldNames.map(quoteIdentifier).mkString(", ")
    val placeholders = fieldNames.map(_ => "?").mkString(", ")
    s"INSERT INTO ${quoteIdentifier(tableName)}($columns) VALUES ($placeholders)"
  }

  /** Overwrite support (beyond the reference, which is append-only):
    * ClickHouse's TRUNCATE TABLE, with the same ON CLUSTER variant as
    * [[deleteWhere]].
    */
  def truncate(tableName: String, clusterName: Option[String]): String =
    s"TRUNCATE TABLE ${quoteIdentifier(tableName)}${onCluster(clusterName)}"

  /** Filter-based mutation (SQL `DELETE FROM` / overwrite-by-filter):
    * the reference's ALTER ... DELETE mutation grammar, with a
    * pre-rendered WHERE condition instead of PK-equality placeholders.
    */
  def deleteWhere(tableName: String, condition: String,
      clusterName: Option[String]): String =
    s"ALTER TABLE ${quoteIdentifier(tableName)}${onCluster(clusterName)}" +
      s" DELETE WHERE $condition"

  /** Read-path SELECT (R15 made live — the reference's JDBC→row
    * converter is dead code because it ships no scan; our DSv2 read
    * path generates the statement the converter would have consumed):
    * pruned column list + pre-rendered WHERE conjuncts.
    */
  def select(tableName: String, columns: Seq[String],
      where: Seq[String]): String = {
    val cols =
      if (columns.isEmpty) "*"
      else columns.map(quoteIdentifier).mkString(", ")
    val cond =
      if (where.isEmpty) ""
      else where.mkString(" WHERE (", ") AND (", ")")
    s"SELECT $cols FROM ${quoteIdentifier(tableName)}$cond"
  }

  private def onCluster(clusterName: Option[String]): String =
    clusterName.map(c => s" ON CLUSTER ${quoteIdentifier(c)}").getOrElse("")
}
