package graft.sink.dsv2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sink._

/** DataSource V2 registration of the ClickHouse-style sink — the Spark
  * analog of the reference's SPI-discovered table factory
  * (META-INF/services/org.apache.flink.table.factories.Factory:16 and
  * ClickHouseDynamicTableFactory.java:122-136):
  *
  *   df.write.format("clickhouse-style")
  *     .option("url", ...).option("table-name", ...)
  *     .option("primary-key", "k1,k2")        // <- Spark has no DDL PK;
  *     .mode("append").save()                 //    carried as an option
  *
  * Option parsing/validation happens at write-builder time, like the
  * reference's factory-time validate. The executor seam is selected by
  * `graft.executor`: "jdbc" (default, JdbcStatementExecutor) or "memory"
  * (MemorySinkRegistry — the offline/test endpoint).
  */
class GraftClickHouseSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "clickhouse-style"

  /** Sink-only source: the table adopts the written DataFrame's schema
    * (fixed, declared — no inference, mirroring the reference §1).
    * supportsExternalMetadata routes that schema into getTable.
    */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftClickHouseTable(schema, properties.asScala.toMap)
}

class GraftClickHouseTable(schema: StructType, properties: Map[String, String])
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** Virtual `_shard` column on the read path: which writer partition
    * (memory endpoint) or shard node (write-local JDBC scan) served the
    * row. Selected on demand (`df.select("_shard", …)`), never part of
    * the declared table schema — the read-side audit surface for the
    * partitioner semantics (R6–R8).
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    // a declared _shard DATA column takes precedence (Spark's
    // SupportsMetadataColumns convention): advertise no metadata
    // column rather than silently shadowing real data (ADVICE r5)
    if (!GraftMetadata.shardIsMetadata(schema())) Array.empty
    else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftMetadata.SHARD
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.IntegerType
      override def isNullable: Boolean = false
      override def comment(): String =
        "writer partition id (memory) / shard index (write-local jdbc) " +
          "that served the row; -1 for a single coordinator scan"
    })

  /** SQL UPDATE / MERGE INTO (group-based copy-on-write rewrite) —
    * see [[GraftRowLevelOperation]].
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(info.command(), schema, properties)

  private def mutationOpts: (GraftSinkOptions, String) = (
    GraftSinkOptions.fromMap(properties - "primary-key" - "graft.executor"),
    properties.getOrElse("graft.executor", "jdbc"))

  /** SQL `DELETE FROM graft.t WHERE …` — the ClickHouse ALTER-mutation
    * surface. The gate refuses (analysis error, no partial mutation)
    * unless every filter is decidable: evaluable row-level for the
    * memory endpoint, renderable to mutation SQL for JDBC.
    */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    val (_, kind) = mutationOpts
    if (kind == "memory") filters.forall(RowFilterEval.supports(_, schema))
    else filters.forall(f => FilterSql.render(f).isDefined)
  }

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val (opts, kind) = mutationOpts
    kind match {
      case "memory" =>
        MemorySinkRegistry.deleteWhere(opts.tableName,
          row => RowFilterEval.matchesAll(filters.toSeq, row, schema))
      case _ =>
        val cond = filters.flatMap(FilterSql.render) match {
          case Array() => "1" // DELETE with no filter = delete all rows
          case fs => fs.mkString("(", ") AND (", ")")
        }
        GraftBatchWrite.executeMutationWithRetry(opts,
          StatementFactory.deleteWhere(opts.tableName, cond,
            opts.explicitClusterName))
    }
  }

  override def name(): String =
    s"clickhouse-style:${properties.getOrElse("table-name", "?")}"

  override def schema(): StructType = schema

  // batch + streaming append; the changelog op column rides as data in
  // both paths (the Spark analog of the reference's changelog-accepting
  // sink declaration, ClickHouseDynamicTableSink.getChangelogMode:23-38).
  // BATCH_READ makes the reference's dead read direction (R15) live,
  // and MICRO_BATCH_READ replays committed batches as a changelog
  // stream — see GraftScan.
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder = {
    require(schema.nonEmpty,
      "clickhouse-style read requires an explicit .schema(...) — the " +
        "physical table layout is declared, never inferred (SURVEY §1)")
    val opts = GraftSinkOptions.fromMap(properties - "primary-key" -
      "graft.executor")
    new GraftScanBuilder(opts,
      properties.getOrElse("graft.executor", "jdbc"), schema)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // factory-time validation (R1): bad options fail the plan, not the job
    val opts = GraftSinkOptions.fromMap(properties - "primary-key" -
      "graft.executor")
    val pk = properties.get("primary-key").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    new GraftWriteBuilder(opts, pk,
      properties.getOrElse("graft.executor", "jdbc"), info.schema())
  }
}

class GraftWriteBuilder(options: GraftSinkOptions, pk: Seq[String],
    executorKind: String, schema: StructType)
    extends WriteBuilder with SupportsOverwrite
    // Update-mode streaming aggregations write their upsert rows as
    // plain appends — exactly this sink's contract (changelog rides as
    // data, idempotence delegated to versioned replace downstream).
    // Same opt-in Spark's own Kafka/console sinks use. NOTE: this trait
    // is Spark-INTERNAL (org.apache.spark.sql.internal.connector), pinned
    // against Spark 4.1.x — a Spark upgrade that renames or removes it
    // breaks compilation here, and the update-mode streaming spec
    // (Dsv2WriteSpec "update-mode streaming aggregation appends upsert
    // rows") fails if its validation semantics change.
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {

  private var overwriteFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None

  /** mode("overwrite") / streaming complete mode: truncate-then-append
    * (the ClickHouse TRUNCATE TABLE statement; an extension past the
    * reference, which is append-only).
    */
  override def truncate(): WriteBuilder = {
    overwriteFilters = Some(Array.empty)
    this
  }

  /** `writeTo(t).overwrite(cond)` — replace the matching region:
    * ALTER … DELETE WHERE cond (row-level on the memory endpoint),
    * then append the new rows. Undecidable filters fail the PLAN
    * (never a partial overwrite); Spark 4 does not consult
    * canOverwrite before calling, so the gate lives here.
    */
  override def overwrite(
      filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
    val undecidable =
      if (executorKind == "memory")
        filters.filterNot(RowFilterEval.supports(_, schema))
      else filters.filterNot(f => FilterSql.render(f).isDefined)
    if (undecidable.nonEmpty) throw new UnsupportedOperationException(
      s"clickhouse-style overwrite cannot decide filters: " +
        undecidable.mkString(", "))
    // AlwaysTrue = full overwrite = plain truncate
    overwriteFilters = Some(filters.filterNot(
      _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
    this
  }

  override def build(): Write = {
    // R2 at plan time: a changelog input (op column) needs a PK
    graft.sink.WriteMode.validateChangelog(pk.nonEmpty,
      insertOnlyStream = !schema.fieldNames.contains("op"))
    new GraftWrite(options, pk, executorKind, schema, overwriteFilters)
  }
}

/** The write: advertises the shard distribution to Spark instead of
  * repartitioning behind its back — with write-local + hash strategy the
  * engine clusters input rows by the partition keys before our writers
  * run (the DSv2-native form of the reference's in-writer shard routing,
  * ClickHouseShardOutputFormat.java:72-81).
  */
class GraftWrite(options: GraftSinkOptions, pk: Seq[String],
    executorKind: String, schema: StructType,
    overwriteFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None)
    extends Write with RequiresDistributionAndOrdering {

  private def truncateFirst: Boolean = overwriteFilters.isDefined

  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}

  override def requiredDistribution(): Distribution =
    // Hash strategy clusters on the partition keys for write-local
    // (shard routing) AND for the memory endpoint: there each writer
    // partition becomes one key-grouped bucket, which is what lets the
    // read path report KeyGroupedPartitioning and Spark drop the
    // shuffle for aggregations/joins on those keys (the read mirror of
    // the routing contract, see GraftScan.outputPartitioning).
    if ((options.writeLocal || executorKind == "memory") &&
        options.partitionStrategy == graft.sink.PartitionStrategy.Hash)
      Distributions.clustered(
        options.partitionKeys.map(k => Expressions.identity(k)).toArray)
    else Distributions.unspecified()

  // Spark 4 rejects numPartitions > 0 when the distribution is
  // UnspecifiedDistribution (DistributionAndOrderingUtils), so the shard
  // count may only be requested together with the hash-clustered
  // distribution above; balanced/shuffle write-local keeps its in-writer
  // routing instead (ClickHouseShardOutputFormat.java:72-81).
  override def requiredNumPartitions(): Int =
    if (options.writeLocal &&
        options.partitionStrategy == graft.sink.PartitionStrategy.Hash)
      math.max(graft.sink.ShardTopology.resolveLive(options).size, 0)
    else 0 // 0 = no constraint

  override def requiredOrdering(): Array[SortOrder] = Array.empty

  override def toBatch: BatchWrite = new GraftBatchWrite(
    options, pk, executorKind, schema, overwriteFilters)

  override def toStreaming: streaming.StreamingWrite = {
    // Spark only requests truncate on a STREAMING write for Complete
    // output mode, which would need per-epoch transactional replacement —
    // impossible under this sink's at-least-once append contract. Fail
    // at stream start (before any epoch writes) with the workaround,
    // rather than silently appending duplicate epochs.
    if (truncateFirst) throw new UnsupportedOperationException(
      "clickhouse-style streaming sink does not support Complete output " +
        "mode (per-epoch truncate); use append or update mode, or " +
        "foreachBatch with mode(\"overwrite\") for replace-per-batch")
    new GraftStreamingWrite(options, pk, executorKind, schema)
  }
}

/** Micro-batch streaming write: every epoch reuses the identical
  * per-partition buffered writer as the batch path (same count-trigger
  * flush, same changelog materialization). Delivery is at-least-once —
  * epoch commit is a no-op, matching the reference's contract (rows
  * re-submitted after failure, idempotence delegated downstream to
  * ReplacingMergeTree + version column; README.md:20,
  * ClickHouseBatchExecutor.java:103-123 — no 2PC integration exists).
  */
class GraftStreamingWrite(options: GraftSinkOptions, pk: Seq[String],
    executorKind: String, schema: StructType)
    extends streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory =
    new GraftDataWriterFactory(options, pk, executorKind, schema)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

/** Batch write. With `truncateFirst` (mode("overwrite")) the semantics are
  * truncate-then-append and NON-ATOMIC: TRUNCATE runs driver-side before
  * any writer task, so a job failure after the truncate leaves the table
  * empty — `abort()` cannot restore the old rows (this sink is
  * at-least-once with no transaction/2PC, like the reference,
  * ClickHouseBatchExecutor.java:103-123). A failed overwrite requires
  * re-running the job; a warning is logged when the truncate fires.
  */
class GraftBatchWrite(options: GraftSinkOptions, pk: Seq[String],
    executorKind: String, schema: StructType,
    overwriteFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None)
    extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    // driver-side, once, before any writer task: the delete half of
    // delete-then-append overwrite (empty filters = full truncate)
    overwriteFilters.foreach { filters =>
      GraftBatchWrite.log.warn(
        s"Overwrite of '${options.tableName}' is non-atomic " +
          "(delete-then-append): a job failure after this point leaves " +
          "the deleted region empty until the job is re-run")
      (executorKind, filters) match {
        case ("memory", Array()) =>
          MemorySinkRegistry.clearTable(options.tableName)
        case ("memory", fs) =>
          MemorySinkRegistry.deleteWhere(options.tableName,
            row => graft.sink.RowFilterEval.matchesAll(fs.toSeq, row, schema))
        case (_, Array()) => GraftBatchWrite.truncateWithRetry(options)
        case (_, fs) =>
          val cond = fs.flatMap(FilterSql.render)
            .mkString("(", ") AND (", ")")
          GraftBatchWrite.executeMutationWithRetry(options,
            graft.sink.StatementFactory.deleteWhere(options.tableName,
              cond, options.explicitClusterName))
      }
    }
    new GraftDataWriterFactory(options, pk, executorKind, schema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

object GraftBatchWrite {

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftBatchWrite])

  /** The node(s) a truncate must reach: with an explicit cluster name
    * one ON CLUSTER statement on the coordinator fans out; without one,
    * write-local mode must hit every shard node individually.
    */
  private[dsv2] def truncateUrls(options: GraftSinkOptions): Seq[String] = {
    val urls =
      if (options.explicitClusterName.isDefined)
        Seq(graft.sink.ShardTopology.urlForShard(options, 0))
      else {
        val shards =
          if (options.writeLocal) graft.sink.ShardTopology.resolveLive(options)
          else Seq.empty
        if (shards.nonEmpty) shards.map(_.jdbcUrl(options.databaseName))
        else Seq(graft.sink.ShardTopology.urlForShard(options, 0))
      }
    urls.distinct
  }

  /** TRUNCATE with the sink's retry contract (same linear 1000·attempt
    * backoff as BufferedRetryWriter), connecting through the same
    * JdbcStatementExecutor.connect as the row writers — the two halves
    * of one overwrite must authenticate identically.
    *
    * ON CLUSTER is emitted only when the user explicitly configured
    * `cluster-name` — a single-node server has no 'default_cluster' and
    * would reject the implicit default even though appends work. Without
    * a cluster name the statement reaches only the node it is sent to,
    * so in write-local mode the truncate is issued to EVERY shard node —
    * otherwise an overwrite would clear shard 0 and leave old rows on
    * the rest.
    */
  private[dsv2] def truncateWithRetry(options: GraftSinkOptions): Unit =
    executeMutationWithRetry(options, graft.sink.StatementFactory.truncate(
      options.tableName, options.explicitClusterName))

  /** Shared driver-side mutation executor (TRUNCATE, ALTER … DELETE
    * WHERE): same retry/credential/node-fan-out contract for every
    * statement that mutates the table outside the row write path.
    */
  private[dsv2] def executeMutationWithRetry(options: GraftSinkOptions,
      sql: String): Unit = {
    truncateUrls(options).foreach { url =>
      var attempt = 0
      var done = false
      while (!done) {
        attempt += 1
        try {
          val conn = JdbcStatementExecutor.connect(url, options.username,
            options.password)
          try {
            val st = conn.createStatement()
            try st.execute(sql) finally st.close()
          } finally conn.close()
          done = true
        } catch {
          case e: Exception =>
            if (attempt > options.maxRetries)
              throw new RuntimeException(
                s"Mutation failed after $attempt attempts on $url: $sql", e)
            Thread.sleep(1000L * attempt)
        }
      }
    }
  }
}
