package graft.sink.dsv2

import java.sql.ResultSet

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.sink.{GraftSinkOptions, JdbcStatementExecutor, ShardTopology, StatementFactory}

/** DSv2 batch READ for the clickhouse-style source — the reference's
  * JDBC→row converter (R15, ClickHouseRowConverter.java:98-147) is dead
  * code because the connector ships no scan; this makes the read
  * direction live, Spark-first:
  *
  *   - column pruning reaches the generated SELECT (only the projected
  *     columns leave the server),
  *   - filters that render to ClickHouse-compatible SQL are pushed into
  *     the WHERE clause; ALL filters are also reported back as residual
  *     so Spark re-applies them post-scan — pushdown is a bandwidth
  *     optimization, never a correctness dependency,
  *   - one InputPartition per shard node in write-local mode (each task
  *     scans its shard-local table — the read mirror of R5), else per
  *     writer partition for the in-memory executor.
  *
  * The read schema is the PHYSICAL table layout (data columns plus any
  * appended sign/version column), supplied by the caller via
  * `.schema(...)` exactly as the write path's fixed, declared schema
  * contract (SURVEY §1: no inference).
  */
class GraftScanBuilder(options: GraftSinkOptions, executorKind: String,
    schema: StructType) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownOffset {

  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr,
    NamedReference, SortOrder => V2SortOrder, SortDirection, NullOrdering}
  import org.apache.spark.sql.connector.expressions.aggregate._

  private var required: StructType = schema
  private var pushed: Array[Filter] = Array.empty
  private var agg: Option[PushedAgg] = None
  private var limit: Option[Int] = None
  private var offset: Option[Int] = None
  private var topN: Seq[OrderSpec] = Seq.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // empty pruned schema (count(*) over the scan) keeps one column so
    // the generated SELECT stays valid and row counts are preserved.
    // With an aggregation pushed, Spark prunes to the agg schema — the
    // agg readers own the output shape, so this assignment is inert.
    required =
      if (requiredSchema.isEmpty) StructType(schema.fields.take(1))
      else requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // metadata-column predicates (_shard) never reach the server: the
    // column exists only reader-side. They stay residual like everything
    // else, so Spark still evaluates them on the returned rows. (When
    // the declared schema itself has a _shard data column, it is NOT a
    // metadata column and pushes like any other field.)
    val shardMeta = GraftMetadata.shardIsMetadata(schema)
    pushed = filters.filter(f =>
      !(shardMeta && f.references.contains(GraftMetadata.SHARD)) &&
        FilterSql.render(f).isDefined)
    filters // everything stays residual: Spark re-applies post-scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  private def fieldOf(e: V2Expr): Option[StructField] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      schema.fields.find(_.name == nr.fieldNames.head)
    case _ => None
  }

  /** Types whose JVM representations in the buffered rows are mutually
    * Comparable and equatable — the set both the memory group-by and
    * min/max fold can handle, and that render as ClickHouse literals.
    */
  private def plain(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | BooleanType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** PARTIAL aggregate pushdown (supportCompletePushDown stays false):
    * each partition — writer partition for the memory endpoint, shard
    * node for JDBC — returns per-group partial rows and Spark's final
    * aggregate merges them, so correctness never depends on this being
    * a complete aggregation. Spark only attempts the push when every
    * filter was consumed by the scan; this source reports all filters
    * as residual, so aggregation is only ever pushed on filterless
    * scans — the pushed-WHERE branch below is defensive.
    */
  override def pushAggregation(aggregation: Aggregation): Boolean = {
    if (pushed.nonEmpty) return false
    val groups = aggregation.groupByExpressions.toSeq.map(fieldOf)
    if (groups.exists(g => g.isEmpty || !plain(g.get.dataType))) return false
    // When the scan will report KeyGroupedPartitioning for this
    // grouping (memory endpoint, hash strategy, partition keys ⊆ group
    // cols, v2 bucketing on), REFUSE the push: the reported layout
    // yields a fully exchange-free aggregate (Spark's own partial agg
    // is scan-side anyway), which beats pushed partials + an exchange.
    // The two cannot compose upstream: V2ScanPartitioningAndOrdering
    // resolves transform references against the ORIGINAL relation's
    // attribute ids but subset-checks them against the agg-pushdown
    // scan relation's FRESH output ids, so a pushed aggregate always
    // loses the report (Spark 4.1).
    val keys = options.partitionKeys
    val reportWins = executorKind == "memory" &&
      options.partitionStrategy == graft.sink.PartitionStrategy.Hash &&
      keys.nonEmpty &&
      keys.toSet.subsetOf(aggregation.groupByExpressions.toSeq
        .flatMap(fieldOf).map(_.name).toSet) &&
      org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled
    if (reportWins) return false
    val funcs = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(AggSpec("count", None, LongType))
      case c: Count if !c.isDistinct =>
        fieldOf(c.column).map(f => AggSpec("count", Some(f.name), LongType))
      case m: Min => fieldOf(m.column).collect {
        case f if plain(f.dataType) => AggSpec("min", Some(f.name), f.dataType)
      }
      case m: Max => fieldOf(m.column).collect {
        case f if plain(f.dataType) => AggSpec("max", Some(f.name), f.dataType)
      }
      case s: Sum if !s.isDistinct => fieldOf(s.column).collect {
        // Spark's partial-sum buffer types: integral → long,
        // fractional → double, decimal(p,s) → decimal(min(38,p+10),s)
        case f if plain(f.dataType) && sumType(f.dataType).isDefined =>
          AggSpec("sum", Some(f.name), sumType(f.dataType).get)
      }
      case _ => None // distinct/avg/general aggregates stay Spark-side
    }
    if (funcs.exists(_.isEmpty) || funcs.isEmpty) return false
    agg = Some(PushedAgg(groups.map(_.get), funcs.map(_.get)))
    true
  }

  private def sumType(dt: DataType): Option[DataType] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(LongType)
    case FloatType | DoubleType => Some(DoubleType)
    case d: DecimalType =>
      Some(DecimalType(math.min(38, d.precision + 10), d.scale))
    case _ => None
  }

  /** Per-partition LIMIT: every partition returns at most N rows, which
    * always contains the global top-N superset; isPartiallyPushed stays
    * true so Spark applies the global limit again.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }

  // both SupportsPushDownLimit and SupportsPushDownTopN declare this
  // default; Scala requires one explicit tie-breaker. Always partial:
  // Spark re-applies the global limit/sort over the per-partition rows.
  override def isPartiallyPushed(): Boolean = true

  /** OFFSET pushdown has no partial form — the source must skip exactly
    * N rows GLOBALLY, which is only sound when one partition serves the
    * whole scan: the non-write-local JDBC path (a single coordinator
    * SELECT). Multi-partition scans (memory endpoint, shard-local reads)
    * refuse and Spark keeps its own offset.
    */
  override def pushOffset(o: Int): Boolean =
    if (executorKind == "memory" || options.writeLocal) false
    else { offset = Some(o); true }

  /** ORDER BY + LIMIT pushdown for the JDBC path only (the server does
    * the bounded sort; Spark re-sorts the ≤N·shards survivors). The
    * memory endpoint rejects: its buffered rows are returned unsorted
    * and a partial top-N MUST be sorted to be a valid superset.
    */
  override def pushTopN(orders: Array[V2SortOrder], l: Int): Boolean = {
    if (executorKind == "memory") return false
    val specs = orders.toSeq.map { o =>
      fieldOf(o.expression).map(f => OrderSpec(f.name,
        o.direction == SortDirection.ASCENDING,
        o.nullOrdering == NullOrdering.NULLS_FIRST))
    }
    if (specs.exists(_.isEmpty)) return false
    topN = specs.flatten
    limit = Some(l)
    true
  }

  override def build(): Scan =
    new GraftScan(options, executorKind, schema, required, pushed,
      agg, limit, topN, offset)
}

/** Reader-side metadata columns (SupportsMetadataColumns): `_shard` is
  * the writer partition id (memory endpoint) or the shard index of the
  * node that served the row (write-local JDBC scan; -1 for a single
  * coordinator scan). Selected like a column (`df.select("_shard", …)`)
  * but never part of the declared table schema — the Spark analog of a
  * system/virtual column, useful for auditing shard routing (R6–R8)
  * from the read side.
  */
object GraftMetadata {
  val SHARD = "_shard"

  /** Spark's SupportsMetadataColumns convention: a DATA column with the
    * same name takes precedence over the metadata column. Every `_shard`
    * special case keys through here, so a table whose declared schema
    * legitimately contains `_shard` reads it as plain data (server
    * SELECT includes it, no constant substitution, filters push).
    */
  def shardIsMetadata(declared: StructType): Boolean =
    !declared.fieldNames.contains(SHARD)
}

/** One translated aggregate: kind ∈ count/min/max/sum, the source column
  * (None = count(*)), and the OUTPUT type Spark's final merge expects.
  */
case class AggSpec(kind: String, col: Option[String], out: DataType)

case class PushedAgg(groupCols: Seq[StructField], funcs: Seq[AggSpec]) {
  /** Scan output shape Spark expects: group columns then agg columns. */
  def schema: StructType = StructType(
    groupCols ++ funcs.zipWithIndex.map { case (f, i) =>
      StructField(s"${f.kind}_${f.col.getOrElse("star")}_$i", f.out)
    })
}

case class OrderSpec(col: String, asc: Boolean, nullsFirst: Boolean)

class GraftScan(options: GraftSinkOptions, executorKind: String,
    fullSchema: StructType, required: StructType, pushed: Array[Filter],
    agg: Option[PushedAgg] = None, limit: Option[Int] = None,
    topN: Seq[OrderSpec] = Seq.empty, offset: Option[Int] = None)
    extends Scan with Batch with SupportsRuntimeV2Filtering
    with SupportsReportPartitioning with SupportsReportStatistics {

  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
  import org.apache.spark.sql.connector.read.partitioning.{
    KeyGroupedPartitioning, Partitioning, UnknownPartitioning}

  /** Report the memory endpoint's key-grouped layout: a hash-strategy
    * write clusters rows on the partition keys (GraftWrite
    * .requiredDistribution), so each writer partition — each scan
    * partition — holds complete key groups. Reported as
    * `bucket(n, keys)` with the writer partition id as the partition
    * value; under spark.sql.sources.v2.bucketing.enabled Spark then
    * plans aggregations/joins on the keys WITHOUT an exchange — at
    * 100 TB, reading a sharded table back for a per-key rollup skips
    * the entire shuffle. Conditions: memory endpoint (JDBC shard scans
    * interleave all keys per node), hash strategy with keys surviving
    * column pruning — and when an aggregate is pushed, the partition
    * keys must be a subset of its GROUP BY: the per-partition partial
    * rows then still live in their bucket, so the FINAL merge is
    * exchange-free too (pushed partial agg + key-grouped report
    * compose). Filters/limits only drop rows — clustering survives.
    */
  override def outputPartitioning(): Partitioning = {
    val keys = options.partitionKeys
    val aggKeysOk = agg.forall(a =>
      keys.toSet.subsetOf(a.groupCols.map(_.name).toSet))
    val reportable = executorKind == "memory" &&
      options.partitionStrategy == graft.sink.PartitionStrategy.Hash &&
      keys.nonEmpty && aggKeysOk &&
      keys.forall(readSchema().fieldNames.contains)
    if (!reportable) new UnknownPartitioning(0)
    else {
      val n = math.max(1, MemorySinkRegistry.allFor(options.tableName)
        .map(_._1).distinct.size)
      new KeyGroupedPartitioning(
        Array(Expressions.bucket(n, keys: _*)), n)
    }
  }

  /** Runtime (join-derived) WHERE clauses, rendered at filter() time.
    * Runtime filtering is bandwidth-only by protocol: Spark derives
    * these predicates from a join whose own evaluation re-drops any
    * row the filter would have — so an unrenderable predicate is
    * silently skipped (scan stays a superset) and a rendered one only
    * narrows the server-side SELECT.
    */
  private var runtime: Array[String] = Array.empty

  /** Every projected DATA column is fair game for a runtime filter —
    * the renderer decides per-predicate whether the literal shape
    * translates (same conservative contract as FilterSql). The `_shard`
    * metadata column is excluded: it exists only reader-side, so a
    * join-derived `_shard IN (...)` rendered into the server WHERE
    * would be an unknown-column server error (ADVICE r5). Runtime
    * filtering is bandwidth-only, so skipping it is always safe.
    */
  override def filterAttributes(): Array[NamedReference] = {
    val shardMeta = GraftMetadata.shardIsMetadata(fullSchema)
    required.fieldNames
      .filterNot(n => shardMeta && n == GraftMetadata.SHARD)
      .map(Expressions.column)
  }

  /** Invoked by Spark AFTER planning, BEFORE planInputPartitions: the
    * dynamic-pruning subquery's values arrive as v2 predicates
    * (typically col IN (v1, …, vn) from the join's build side) and
    * narrow the generated SQL of every partition. Predicates touching
    * the reader-side `_shard` metadata column are dropped — belt to
    * filterAttributes' braces (Spark should never send one).
    */
  override def filter(predicates: Array[V2Predicate]): Unit = {
    val shardMeta = GraftMetadata.shardIsMetadata(fullSchema)
    runtime = predicates
      .filterNot(p => shardMeta && p.references
        .exists(_.fieldNames.contains(GraftMetadata.SHARD)))
      .flatMap(V2PredicateSql.render)
  }

  /** Table statistics for the planner: row count from the memory
    * registry (exact — the buffered rows ARE the table) and size
    * estimated from the pruned schema's default sizes. Spark's join
    * planning then auto-broadcasts small ClickHouse tables instead of
    * shuffling both sides — the decision that matters most at 100 TB,
    * where the dimension side is KBs and the fact side is the corpus.
    * JDBC topologies return unknown (a COUNT round-trip at plan time
    * is the catalog's job, not the scan's); unknown stats fall back to
    * Spark's conservative default, never a wrong broadcast.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows: Option[Long] =
      if (executorKind == "memory")
        Some(MemorySinkRegistry.allFor(options.tableName)
          .map(_._2.size.toLong).sum)
      else None
    override def sizeInBytes(): java.util.OptionalLong =
      rows.map(r => java.util.OptionalLong.of(
        r * readSchema().map(_.dataType.defaultSize).sum.toLong))
        .getOrElse(java.util.OptionalLong.empty())
    override def numRows(): java.util.OptionalLong =
      rows.map(java.util.OptionalLong.of)
        .getOrElse(java.util.OptionalLong.empty())
  }

  override def readSchema(): StructType = agg.map(_.schema).getOrElse(required)

  override def toBatch: Batch = this

  override def description(): String =
    s"clickhouse-style:${options.tableName} " +
      s"PushedFilters: [${pushed.flatMap(FilterSql.render).mkString(", ")}], " +
      agg.map(a => s"PushedAggregates: [${a.funcs.map(f =>
        s"${f.kind.toUpperCase}(${f.col.getOrElse("*")})").mkString(", ")}], " +
        s"PushedGroupBy: [${a.groupCols.map(_.name).mkString(", ")}], ")
        .getOrElse("") +
      (if (runtime.nonEmpty)
        s"PushedRuntimeFilters: [${runtime.mkString(", ")}], " else "") +
      limit.map(l => s"PushedLimit: $l, ").getOrElse("") +
      offset.map(o => s"PushedOffset: $o, ").getOrElse("") +
      (if (topN.nonEmpty) s"PushedTopN: [${topN.map(o =>
        s"${o.col} ${if (o.asc) "ASC" else "DESC"}").mkString(", ")}], "
       else "") +
      s"ReadSchema: ${readSchema().simpleString}"

  override def planInputPartitions(): Array[InputPartition] =
    executorKind match {
      case "memory" =>
        // one partition per writer partition id present in the registry
        val pids = MemorySinkRegistry.allFor(options.tableName)
          .map(_._1).distinct.sorted
        if (pids.isEmpty) Array(GraftMemoryPartition(options.tableName, -1))
        else pids.map(GraftMemoryPartition(options.tableName, _)).toArray
      case _ =>
        // write-local topology => scan each shard's local table in
        // parallel (the read mirror of the R5 shard writer); otherwise a
        // single coordinator scan
        val nodes =
          if (options.writeLocal) ShardTopology.resolveLive(options)
          else Seq.empty
        val urls =
          if (nodes.nonEmpty) nodes.map(_.jdbcUrl(options.databaseName))
          else Seq(options.url)
        urls.zipWithIndex.map { case (u, i) =>
          GraftJdbcPartition(u, sql, if (nodes.nonEmpty) i else -1)
        }.toArray
    }

  /** The generated server-side statement, aggregate/order/limit aware.
    * Exposed package-private so unit tests can pin the SQL without a
    * live server.
    */
  private[dsv2] def sql: String = {
    val q = StatementFactory.quoteIdentifier _
    val allFilters = pushed.flatMap(FilterSql.render) ++ runtime
    val base = agg match {
      case Some(a) =>
        val cols = a.groupCols.map(f => q(f.name)) ++ a.funcs.map { f =>
          val arg = f.col.map(q).getOrElse("*")
          s"${f.kind}($arg)"
        }
        val where = allFilters match {
          case Array() => ""
          case fs => fs.mkString(" WHERE (", ") AND (", ")")
        }
        val group =
          if (a.groupCols.isEmpty) ""
          else a.groupCols.map(f => q(f.name)).mkString(" GROUP BY ", ", ", "")
        s"SELECT ${cols.mkString(", ")} FROM ${q(options.tableName)}" +
          where + group
      case None =>
        // metadata columns (_shard) are reader-side only — the server
        // SELECT carries data columns exclusively (a DECLARED _shard
        // data column is not metadata and stays in the SELECT)
        val shardMeta = GraftMetadata.shardIsMetadata(fullSchema)
        val dataCols = required.fieldNames.toSeq
          .filterNot(n => shardMeta && n == GraftMetadata.SHARD)
        StatementFactory.select(options.tableName,
          if (dataCols.nonEmpty) dataCols
          else Seq(fullSchema.fieldNames.head),
          allFilters.toSeq)
    }
    val order =
      if (topN.isEmpty) ""
      else topN.map(o => s"${q(o.col)} ${if (o.asc) "ASC" else "DESC"} " +
        s"NULLS ${if (o.nullsFirst) "FIRST" else "LAST"}")
        .mkString(" ORDER BY ", ", ", "")
    base + order + limit.map(l => s" LIMIT $l").getOrElse("") +
      offset.map(o => s" OFFSET $o").getOrElse("")
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftScanReaderFactory(fullSchema, readSchema(),
      options.username, options.password, agg, limit)

  /** Streaming READ: replay the table's committed batches as
    * micro-batches — a changelog-replay source (the op column, if the
    * writer appended one, rides as data exactly as it does on the write
    * path). Memory endpoint only: a JDBC ClickHouse table has no
    * inherent change cursor, so streaming-read it through CDC
    * infrastructure instead; failing at stream start beats silently
    * re-scanning the full table every trigger.
    */
  override def toMicroBatchStream(
      checkpointLocation: String): streaming.MicroBatchStream = {
    if (executorKind != "memory")
      throw new UnsupportedOperationException(
        "clickhouse-style streaming read requires graft.executor=memory " +
          "(a JDBC table exposes no change cursor to poll)")
    new GraftMicroBatchStream(options.tableName, fullSchema, required)
  }
}

/** Offset = count of committed batches in the registry for this table.
  * Each trigger serves the batches appended since the last offset, one
  * input partition per batch — at-least-once replay in commit order.
  */
class GraftMicroBatchStream(table: String, fullSchema: StructType,
    required: StructType) extends streaming.MicroBatchStream {

  import streaming.Offset

  private case class BatchCountOffset(n: Long) extends Offset {
    override def json(): String = n.toString
  }

  override def initialOffset(): Offset = BatchCountOffset(0L)

  override def latestOffset(): Offset =
    BatchCountOffset(MemorySinkRegistry.allFor(table).size.toLong)

  override def deserializeOffset(json: String): Offset =
    BatchCountOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[BatchCountOffset].n.toInt
    val until = end.asInstanceOf[BatchCountOffset].n.toInt
    (from until until)
      .map(i => GraftStreamBatchPartition(table, i): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStreamReaderFactory(fullSchema, required)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

case class GraftStreamBatchPartition(table: String, batchIdx: Int)
    extends InputPartition

class GraftStreamReaderFactory(fullSchema: StructType, required: StructType)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftStreamBatchPartition]
    new GraftBatchSliceReader(part.table, part.batchIdx, fullSchema, required)
  }
}

/** Serves exactly one committed batch (by commit-order index). */
class GraftBatchSliceReader(table: String, batchIdx: Int,
    fullSchema: StructType, required: StructType)
    extends PartitionReader[InternalRow] {

  private val batches = MemorySinkRegistry.allFor(table)
  // a streaming read that selects _shard gets the writer partition id
  // of the batch being replayed (ADVICE r5: was an
  // IllegalArgumentException from fieldIndex at task time)
  private val project = RowProjection(fullSchema, required,
    if (GraftMetadata.shardIsMetadata(fullSchema))
      Map(GraftMetadata.SHARD ->
        (if (batchIdx < batches.size) batches(batchIdx)._1 else -1))
    else Map.empty)
  private val rows: Iterator[Row] = {
    if (batchIdx < batches.size) batches(batchIdx)._2.iterator
    else Iterator.empty
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!rows.hasNext) false
    else {
      current = project(rows.next())
      true
    }

  override def get(): InternalRow = current

  override def close(): Unit = ()
}

/** `partitionKey` = the writer partition id, i.e. the hash bucket the
  * write-side clustered distribution routed this partition's rows into —
  * the value Spark groups splits by when the scan reports
  * KeyGroupedPartitioning. Harmless extra metadata when the scan
  * reports UnknownPartitioning.
  */
case class GraftMemoryPartition(table: String, pid: Int)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](pid))
}

case class GraftJdbcPartition(url: String, sql: String, shard: Int = -1)
    extends InputPartition

class GraftScanReaderFactory(fullSchema: StructType, required: StructType,
    username: Option[String], password: Option[String],
    agg: Option[PushedAgg] = None, limit: Option[Int] = None)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case GraftMemoryPartition(table, pid) =>
        agg match {
          case Some(a) =>
            new GraftMemoryAggReader(table, pid, fullSchema, a, limit)
          case None =>
            new GraftMemoryReader(table, pid, fullSchema, required, limit)
        }
      case GraftJdbcPartition(url, sql, shard) =>
        new GraftJdbcReader(url, sql, required, username, password, shard,
          GraftMetadata.shardIsMetadata(fullSchema))
    }
}

/** Per-partition PARTIAL aggregation over the memory endpoint's buffered
  * rows — the scan-side half of pushed-down aggregation. Each writer
  * partition returns one row per group; Spark's final aggregate merges
  * partials across partitions (count via sum, min via min, …), so this
  * never needs to be a complete aggregation.
  */
class GraftMemoryAggReader(table: String, pid: Int,
    fullSchema: StructType, agg: PushedAgg, limit: Option[Int])
    extends PartitionReader[InternalRow] {

  private val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(agg.schema)

  private def cmp(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)

  private val rows: Iterator[Row] = {
    val src = MemorySinkRegistry.allFor(table)
      .filter(_._1 == pid).flatMap(_._2)
    val gIdx = agg.groupCols.map(f => fullSchema.fieldIndex(f.name))
    val grouped = src.groupBy(r => gIdx.map(r.get))
    val out = grouped.toSeq.map { case (key, rs) =>
      val aggVals = agg.funcs.map { f =>
        val vs = f.col.map(c => rs.map(_.get(fullSchema.fieldIndex(c)))
          .filter(_ != null)).getOrElse(rs.map(_ => ()))
        f.kind match {
          case "count" => vs.size.toLong
          case "min" => if (vs.isEmpty) null else vs.reduce(
            (a, b) => if (cmp(a, b) <= 0) a else b)
          case "max" => if (vs.isEmpty) null else vs.reduce(
            (a, b) => if (cmp(a, b) >= 0) a else b)
          case "sum" =>
            if (vs.isEmpty) null
            else f.out match {
              case LongType =>
                vs.map(_.asInstanceOf[Number].longValue).sum
              case DoubleType =>
                vs.map(_.asInstanceOf[Number].doubleValue).sum
              case _: DecimalType => vs.map {
                case d: java.math.BigDecimal => BigDecimal(d)
                case d: BigDecimal => d
                case n: Number => BigDecimal(n.toString)
              }.sum.underlying
            }
        }
      }
      // same NTZ shape fix-up as RowProjection: buffered rows carry
      // java.sql.Timestamp, Catalyst's NTZ converter wants LocalDateTime
      val vals = (key ++ aggVals).zip(agg.schema.fields).map {
        case (t: java.sql.Timestamp, f) if f.dataType == TimestampNTZType =>
          t.toLocalDateTime
        case (v, _) => v
      }
      Row.fromSeq(vals)
    }
    limit.map(out.take).getOrElse(out).iterator
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!rows.hasNext) false
    else {
      current = toCatalyst(rows.next()).asInstanceOf[InternalRow]
      true
    }

  override def get(): InternalRow = current

  override def close(): Unit = ()
}

/** Shared projection of a buffered external Row (the writer's physical
  * layout) to the pruned read schema, in catalyst form. The one
  * type-shape fix-up: the writer stores TimestampNTZ values as
  * java.sql.Timestamp (GraftDataWriter.toExternalRow), but Catalyst's
  * NTZ converter accepts only java.time.LocalDateTime.
  */
private[dsv2] object RowProjection {

  def apply(fullSchema: StructType, required: StructType,
      metadata: Map[String, Any] = Map.empty): Row => InternalRow = {
    // per output field: Right(constant) for a metadata column,
    // Left(source ordinal) for a data column
    val src: Array[Either[Int, Any]] = required.fieldNames.map { n =>
      metadata.get(n).toRight(fullSchema.fieldIndex(n))
    }
    val isNtz = required.fields.map(_.dataType == TimestampNTZType)
    val toCatalyst =
      CatalystTypeConverters.createToCatalystConverter(required)
    r => {
      val vals = src.zipWithIndex.map {
        case (Right(const), _) => const
        case (Left(srcIdx), outIdx) => r.get(srcIdx) match {
          case t: java.sql.Timestamp if isNtz(outIdx) => t.toLocalDateTime
          case v => v
        }
      }
      toCatalyst(Row.fromSeq(vals.toIndexedSeq)).asInstanceOf[InternalRow]
    }
  }
}

/** Reads back the physical rows a memory-executor write buffered for one
  * writer partition, projecting to the pruned schema by field name
  * (positions resolved against the declared full schema).
  */
class GraftMemoryReader(table: String, pid: Int,
    fullSchema: StructType, required: StructType,
    limit: Option[Int] = None)
    extends PartitionReader[InternalRow] {

  // _shard resolves to this reader's writer-partition id (unless the
  // declared schema has a _shard DATA column, which takes precedence)
  private val project = RowProjection(fullSchema, required,
    if (GraftMetadata.shardIsMetadata(fullSchema))
      Map(GraftMetadata.SHARD -> pid)
    else Map.empty)
  private val rows: Iterator[Row] = {
    val all = MemorySinkRegistry.allFor(table)
      .filter(_._1 == pid).flatMap(_._2)
    // per-partition LIMIT: ≤N rows each always covers the global first-N
    limit.map(all.take).getOrElse(all).iterator
  }
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!rows.hasNext) false
    else {
      current = project(rows.next())
      true
    }

  override def get(): InternalRow = current

  override def close(): Unit = ()
}

/** JDBC partition reader: executes the pushed-down SELECT and converts
  * ResultSet values for the sink's 15 supported types — the live
  * counterpart of the reference's dead toFlink deserializers
  * (ClickHouseRowConverter.java:98-147), with the same per-type getters.
  */
class GraftJdbcReader(url: String, sql: String, required: StructType,
    username: Option[String], password: Option[String], shard: Int = -1,
    shardMeta: Boolean = true)
    extends PartitionReader[InternalRow] {

  // ResultSet ordinal (1-based) per output field; metadata columns
  // (_shard) have no server-side ordinal and resolve to the constant.
  // shardMeta=false (declared _shard data column) reads it as data.
  private val rsOrdinal: Array[Int] = {
    var next = 0
    required.fields.map { f =>
      if (shardMeta && f.name == GraftMetadata.SHARD) -1
      else { next += 1; next }
    }
  }

  private lazy val conn = JdbcStatementExecutor.connect(url, username, password)
  // not lazy-forced in close(): a task cancelled before its first
  // next() must not execute the whole SELECT just to tear down
  private var opened = false
  private lazy val rs: ResultSet = {
    opened = true
    conn.createStatement().executeQuery(sql)
  }
  private val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(required)

  override def next(): Boolean = rs.next()

  override def get(): InternalRow = {
    val values = required.fields.zipWithIndex.map { case (f, outIdx) =>
      val i = rsOrdinal(outIdx)
      if (i < 0) shard // metadata column, reader-side constant
      else {
        val v: Any = f.dataType match {
          case BooleanType => rs.getBoolean(i)
          case ByteType => rs.getByte(i)
          case ShortType => rs.getShort(i)
          case IntegerType => rs.getInt(i)
          case LongType => rs.getLong(i)
          case FloatType => rs.getFloat(i)
          case DoubleType => rs.getDouble(i)
          case _: DecimalType => rs.getBigDecimal(i)
          case StringType => rs.getString(i)
          case BinaryType => rs.getBytes(i)
          case DateType => rs.getDate(i)
          case TimestampType => rs.getTimestamp(i)
          // Catalyst's NTZ converter accepts LocalDateTime only — a
          // java.sql.Timestamp here would throw at conversion time
          case TimestampNTZType =>
            Option(rs.getTimestamp(i)).map(_.toLocalDateTime).orNull
          case dt => throw new UnsupportedOperationException(
            s"Unsupported read type $dt") // same contract as the writer
        }
        if (rs.wasNull()) null else v
      }
    }
    toCatalyst(Row.fromSeq(values.toIndexedSeq)).asInstanceOf[InternalRow]
  }

  override def close(): Unit = if (opened) {
    try rs.close() catch { case _: Throwable => () }
    try conn.close() catch { case _: Throwable => () }
  }
}

/** Renders connector v2 predicates (the runtime-filtering shapes Spark
  * pushes through SupportsRuntimeV2Filtering — IN over join-build-side
  * values, plus the comparison/null/boolean algebra) to
  * ClickHouse-compatible SQL. None for anything that doesn't translate:
  * a skipped runtime filter only widens the scan back to what the join
  * already handles. Literal values arrive in CATALYST form (UTF8String
  * for strings, Decimal for decimals, Int days / Long micros for
  * temporals) — temporals stay unrendered for the same timezone reason
  * as FilterSql.
  */
object V2PredicateSql {

  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr,
    Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}

  private def q(attr: String): String =
    StatementFactory.quoteIdentifier(attr)

  private def colSql(e: V2Expr): Option[String] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      Some(q(nr.fieldNames.head))
    case _ => None
  }

  private def litSql(e: V2Expr): Option[String] = e match {
    case l: V2Literal[_] => (l.value, l.dataType) match {
      case (null, _) => None
      case (v, StringType) => Some("'" + v.toString.replace("\\", "\\\\")
        .replace("'", "\\'") + "'")
      case (v: java.lang.Boolean, BooleanType) =>
        Some(if (v) "1" else "0")
      case (v: java.lang.Float, FloatType)
        if java.lang.Float.isFinite(v) => Some(v.toString)
      case (v: java.lang.Double, DoubleType)
        if java.lang.Double.isFinite(v) => Some(v.toString)
      case (v: Decimal, _: DecimalType) =>
        Some(v.toJavaBigDecimal.toPlainString)
      case (v, ByteType | ShortType | IntegerType | LongType) =>
        Some(v.toString)
      case _ => None // temporals/binary/arrays stay unsent
    }
    case _ => None
  }

  private def sub(e: V2Expr): Option[String] = e match {
    case p: V2Predicate => render(p)
    case _ => None
  }

  def render(p: V2Predicate): Option[String] = p.name match {
    case "IN" => p.children() match {
      case ch if ch.length >= 2 =>
        val ls = ch.tail.map(litSql)
        for {
          c <- colSql(ch.head)
          if ls.forall(_.isDefined)
        } yield s"$c IN (${ls.flatten.mkString(", ")})"
      case _ => None
    }
    case op @ ("=" | "<" | "<=" | ">" | ">=") => p.children() match {
      case Array(a, b) =>
        for (c <- colSql(a); l <- litSql(b)) yield s"$c $op $l"
      case _ => None
    }
    // null-safe equal against a non-null literal is plain equality
    case "<=>" => p.children() match {
      case Array(a, b) =>
        for (c <- colSql(a); l <- litSql(b)) yield s"$c = $l"
      case _ => None
    }
    case "IS_NULL" => p.children() match {
      case Array(a) => colSql(a).map(c => s"$c IS NULL")
      case _ => None
    }
    case "IS_NOT_NULL" => p.children() match {
      case Array(a) => colSql(a).map(c => s"$c IS NOT NULL")
      case _ => None
    }
    case "AND" => p.children() match {
      case Array(a, b) =>
        for (l <- sub(a); r <- sub(b)) yield s"($l) AND ($r)"
      case _ => None
    }
    case "OR" => p.children() match {
      case Array(a, b) =>
        for (l <- sub(a); r <- sub(b)) yield s"($l) OR ($r)"
      case _ => None
    }
    case "NOT" => p.children() match {
      case Array(a) => sub(a).map(s => s"NOT ($s)")
      case _ => None
    }
    case _ => None
  }
}

/** Renders Spark data-source filters to ClickHouse-compatible SQL; None
  * for shapes that don't translate (they stay Spark-side residuals).
  */
object FilterSql {

  private def q(attr: String): String =
    StatementFactory.quoteIdentifier(attr)

  private def lit(v: Any): Option[String] = v match {
    case null => None // null literals only appear via IsNull/IsNotNull
    case s: String => Some("'" + s.replace("\\", "\\\\")
      .replace("'", "\\'") + "'")
    case b: Boolean => Some(if (b) "1" else "0")
    // non-finite floats don't push: 'Infinity' is not a SQL literal,
    // and SQL `x = NaN` is false where Spark's NaN semantics match
    case f: Float if java.lang.Float.isFinite(f) => Some(f.toString)
    case d: Double if java.lang.Double.isFinite(d) => Some(d.toString)
    case n @ (_: Byte | _: Short | _: Int | _: Long) => Some(n.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.underlying.toPlainString)
    // Date/Timestamp literals stay residual: java.sql.Timestamp
    // renders in the JVM default timezone and the server would parse
    // it in ITS timezone — a pushed predicate could silently drop rows
    // the residual cannot restore, breaking the bandwidth-only contract
    case _ => None // temporals/arrays/structs/binary don't push
  }

  /** LIKE-pattern escape for the _ and % metacharacters. */
  private def likeEsc(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")
      .replace("_", "\\_").replace("%", "\\%")

  def render(f: Filter): Option[String] = f match {
    case EqualTo(a, v) => lit(v).map(l => s"${q(a)} = $l")
    case EqualNullSafe(a, null) => Some(s"${q(a)} IS NULL")
    case EqualNullSafe(a, v) => lit(v).map(l => s"${q(a)} = $l")
    case GreaterThan(a, v) => lit(v).map(l => s"${q(a)} > $l")
    case GreaterThanOrEqual(a, v) => lit(v).map(l => s"${q(a)} >= $l")
    case LessThan(a, v) => lit(v).map(l => s"${q(a)} < $l")
    case LessThanOrEqual(a, v) => lit(v).map(l => s"${q(a)} <= $l")
    case In(a, vs) if vs.nonEmpty =>
      val ls = vs.toSeq.map(lit)
      if (ls.forall(_.isDefined))
        Some(s"${q(a)} IN (${ls.flatten.mkString(", ")})")
      else None
    case IsNull(a) => Some(s"${q(a)} IS NULL")
    case IsNotNull(a) => Some(s"${q(a)} IS NOT NULL")
    case And(l, r) =>
      for (ls <- render(l); rs <- render(r)) yield s"($ls) AND ($rs)"
    case Or(l, r) =>
      for (ls <- render(l); rs <- render(r)) yield s"($ls) OR ($rs)"
    case Not(c) => render(c).map(s => s"NOT ($s)")
    case StringStartsWith(a, v) => Some(s"${q(a)} LIKE '${likeEsc(v)}%'")
    case StringEndsWith(a, v) => Some(s"${q(a)} LIKE '%${likeEsc(v)}'")
    case StringContains(a, v) => Some(s"${q(a)} LIKE '%${likeEsc(v)}%'")
    case _ => None
  }
}
