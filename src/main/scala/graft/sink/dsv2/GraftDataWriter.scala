package graft.sink.dsv2

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.types._

import graft.sink._

/** Per-partition DSv2 writer: applies the changelog materialization mode
  * row-at-a-time — exactly where the reference does it (the converter
  * appends sign/flag at index arity+1 and the executor drops D/-U,
  * ClickHouseRowConverter.java:66-96, ClickHouseBatchExecutor.java:50) —
  * then hands the rows to a BufferedRetryWriter (count-trigger flush,
  * retry, final flush on commit — ClickHouseBatchOutputFormat.java:44-79).
  * This is the sink's one write path: batch and streaming writes both
  * arrive here.
  */
class GraftDataWriterFactory(options: GraftSinkOptions, pk: Seq[String],
    executorKind: String, schema: StructType)
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  /** Streaming epochs reuse the batch writer unchanged — the epoch id is
    * irrelevant to an at-least-once buffered JDBC append.
    */
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] = {
    val mode = WriteMode.dispatch(options, pk.nonEmpty)
    val dataFields = schema.fields.filterNot(_.name == "op")
    val insertFields = WriteMode.insertFieldNames(options, pk.nonEmpty,
      dataFields.map(_.name).toSeq)
    // physical write schema: user fields ++ appended int sign/flag cols
    val writeSchema = StructType(dataFields ++
      insertFields.drop(dataFields.length).map(n =>
        StructField(n, IntegerType, nullable = false)))
    val executor: StatementExecutor = executorKind match {
      case "memory" =>
        new MemorySinkRegistry.Exec(options.tableName, partitionId)
      case _ => new JdbcStatementExecutor(
        ShardTopology.urlForShard(options, partitionId),
        StatementFactory.insertInto(options.tableName, insertFields),
        writeSchema, options.username, options.password)
    }
    new GraftDataWriter(
      new BufferedRetryWriter(executor, options.batchSize, options.maxRetries),
      schema, options, mode)
  }
}

class GraftDataWriter(writer: BufferedRetryWriter, schema: StructType,
    options: GraftSinkOptions, mode: WriteMode)
    extends DataWriter[InternalRow] {

  private val opIdx = schema.fieldNames.indexOf("op")
  private val dataIdx =
    schema.fieldNames.zipWithIndex.filterNot(_._1 == "op").map(_._2)

  override def write(record: InternalRow): Unit = {
    // insert-only op when the stream carries no changelog column
    val op = if (opIdx < 0) graft.operators.ChangelogOps.Insert
             else record.getUTF8String(opIdx).toString
    val isUpsertKind = op == graft.operators.ChangelogOps.Insert ||
      op == graft.operators.ChangelogOps.UpdateAfter
    if (mode == WriteMode.InsertOnly && !isUpsertKind) return // R9 drop
    val base = GraftDataWriter.toExternalRow(record, schema)
    val data = dataIdx.map(base.get).toIndexedSeq
    val extras: Seq[Any] = mode match {
      case WriteMode.Collapsing =>
        val sign = if (isUpsertKind) 1 else -1 // R10
        if (options.replacingField.isDefined)
          Seq(sign, if (isUpsertKind) 0 else 1) // both appended (R3)
        else Seq(sign)
      case WriteMode.Replacing =>
        Seq(if (isUpsertKind) 0 else 1) // R11
      case _ => Seq.empty
    }
    writer.write(Row.fromSeq(data ++ extras))
  }

  override def commit(): WriterCommitMessage = {
    writer.flush()
    new WriterCommitMessage {}
  }

  override def abort(): Unit = ()

  // commit() is the flush point; Spark calls close() unconditionally
  // after abort() too, and flushing there would push the failed task's
  // buffered rows to the sink during teardown
  override def close(): Unit = writer.closeWithoutFlush()
}

object GraftDataWriter {

  /** InternalRow -> external Row for the sink's 15 supported types (the
    * same set as TypeMapping; SURVEY.md §1 internal-encoding table).
    */
  def toExternalRow(ir: InternalRow, schema: StructType): Row = {
    val values = schema.fields.zipWithIndex.map { case (f, i) =>
      if (ir.isNullAt(i)) null
      else f.dataType match {
        case StringType => ir.getUTF8String(i).toString
        case dt: DecimalType =>
          ir.getDecimal(i, dt.precision, dt.scale).toJavaBigDecimal
        case DateType => // int epoch-day, converter :130
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(ir.getInt(i)))
        case TimestampType | TimestampNTZType => // long epoch-micros
          java.sql.Timestamp.from(
            java.time.Instant.EPOCH.plusNanos(ir.getLong(i) * 1000L))
        case BinaryType => ir.getBinary(i)
        case dt => ir.get(i, dt) // primitives pass through
      }
    }
    Row.fromSeq(values.toIndexedSeq)
  }
}

/** Static in-memory sink target for the DSv2 path — the offline analog of
  * a ClickHouse endpoint (same seam as unit-test executors, but reachable
  * through a plain `.format("clickhouse-style")` write).
  */
object MemorySinkRegistry {
  // keyed by table so truncating one table cannot wipe another's rows
  val batches = new ConcurrentLinkedQueue[(String, Int, Seq[Row])]()
  def clear(): Unit = batches.clear()
  def clearTable(table: String): Unit =
    batches.removeIf(_._1 == table)

  /** Swap for staged replacement writes (row-level operations): the
    * real table's batches are dropped and each staging batch is moved
    * under the real table's name, one at a time, so a batch that another
    * writer adds meanwhile is never lost.
    */
  def swap(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    batches.removeIf(_._1 == to)
    batches.asScala.filter(_._1 == from).toList.foreach { e =>
      if (batches.remove(e)) batches.add((to, e._2, e._3))
    }
  }

  /** Row-level mutation for DELETE WHERE / overwrite-by-filter: drop
    * buffered rows matching the predicate, keeping batch identity (the
    * streaming replay offsets stay valid — a mutated batch replays its
    * surviving rows). Only this table's batches are replaced, one at a
    * time and in commit order, so other tables' concurrent writes are
    * never touched.
    */
  def deleteWhere(table: String, pred: Row => Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    batches.asScala.filter(_._1 == table).toList.foreach { e =>
      if (batches.remove(e)) batches.add((table, e._2, e._3.filterNot(pred)))
    }
  }

  def all: Seq[(Int, Seq[Row])] = {
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq.map(e => (e._2, e._3))
  }
  def allFor(table: String): Seq[(Int, Seq[Row])] = {
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq.filter(_._1 == table).map(e => (e._2, e._3))
  }

  class Exec(table: String, partition: Int) extends StatementExecutor {
    override def executeBatch(rows: Seq[Row]): Unit =
      batches.add((table, partition, rows))
  }
}
