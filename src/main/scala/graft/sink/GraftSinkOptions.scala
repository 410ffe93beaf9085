package graft.sink

import scala.concurrent.duration._

/** Immutable sink configuration, mirroring the reference's 16-option
  * surface and factory-time validation
  * (CH/table/ClickHouseDynamicTableFactory.java:21-120 for the option
  * keys/defaults, :166-184 for the validation rules;
  * CH/table/internal/options/ClickHouseOptions.java:10-71 for the
  * immutable holder).
  *
  * Spark-native shape: parsed from a plain Map[String, String] (the same
  * contract as DataFrameWriter options / DSv2 CaseInsensitiveStringMap).
  */
final case class GraftSinkOptions(
    url: String,
    tableName: String,
    username: Option[String] = None,
    password: Option[String] = None,
    clusterName: String = "default_cluster",
    databaseName: String = "default",
    collapsingField: Option[String] = None,
    replacingField: Option[String] = None,
    batchSize: Int = 1000,
    /** Parsed and validated but never consulted by the write path: the
      * reference's private flusher thread wakes every flush-interval,
      * while here the stream's trigger (Trigger.ProcessingTime) ends
      * each epoch with a final flush. Kept for option-surface parity.
      */
    flushInterval: FiniteDuration = 1.second,
    maxRetries: Int = 3,
    writeLocal: Boolean = false,
    writeLocalNodes: Option[String] = None,
    partitionStrategy: String = PartitionStrategy.Balanced,
    partitionKey: Option[String] = None,
    /** Parsed but intentionally never consulted by the write path: the
      * reference declares sink.ignore-delete and likewise never reads it
      * at runtime (only equals/hashCode, ClickHouseOptions.java:159,177);
      * delete-dropping is hardcoded in the insert-only executor (R9).
      * Kept for option-surface parity.
      */
    ignoreDelete: Boolean = false,
    /** True only when the user set `cluster-name` themselves. The
      * reference always emits ON CLUSTER with the default name, but the
      * sink's DDL paths (TRUNCATE for overwrite, ALTER ... DELETE) must
      * not assume a cluster exists on a single-node server — they
      * consult [[explicitClusterName]].
      */
    clusterNameConfigured: Boolean = false) {

  def partitionKeys: Seq[String] =
    partitionKey.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  /** The cluster name only if explicitly configured; None otherwise. */
  def explicitClusterName: Option[String] =
    if (clusterNameConfigured) Some(clusterName) else None
}

object PartitionStrategy {
  val Balanced = "balanced" // round-robin (BalancedPartitioner.java:10-14)
  val Hash = "hash"         // key hash     (HashPartitioner.java:18-25)
  val Shuffle = "shuffle"   // uniform random (ShufflePartitioner.java:10-13)
  val all: Set[String] = Set(Balanced, Hash, Shuffle)
}

object GraftSinkOptions {

  /** Option keys (identical strings to the reference's ConfigOptions). */
  val Url = "url"
  val Username = "username"
  val Password = "password"
  val ClusterName = "cluster-name"
  val DatabaseName = "database-name"
  val TableName = "table-name"
  val CollapsingField = "table.collapsing.field"
  val ReplacingField = "table.replacing.field"
  val BatchSize = "sink.batch-size"
  val FlushInterval = "sink.flush-interval"
  val MaxRetries = "sink.max-retries"
  val WriteLocal = "sink.write-local"
  val WriteLocalNodes = "sink.write-local-nodes"
  val PartitionStrategyKey = "sink.partition-strategy"
  val PartitionKey = "sink.partition-key"
  val IgnoreDelete = "sink.ignore-delete"

  /** Parse + validate, with the reference's exact rules:
    * url and table-name required; partition-strategy must be one of
    * balanced/hash/shuffle; hash requires a partition key; username and
    * password must be given together (XOR is an error)
    * (ClickHouseDynamicTableFactory.java:139-144, 166-184).
    */
  def fromMap(opts: Map[String, String]): GraftSinkOptions = {
    def req(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"Missing required option '$k'"))

    val strategy = opts.getOrElse(PartitionStrategyKey, PartitionStrategy.Balanced)
    if (!PartitionStrategy.all.contains(strategy))
      throw new IllegalArgumentException(
        s"Unknown sink.partition-strategy `$strategy`")
    if (strategy == PartitionStrategy.Hash && !opts.contains(PartitionKey))
      throw new IllegalArgumentException(
        "A partition key must be provided for hash partition strategy")
    if (opts.contains(Username) ^ opts.contains(Password))
      throw new IllegalArgumentException(
        "Either all or none of username and password should be provided")

    GraftSinkOptions(
      url = req(Url),
      tableName = req(TableName),
      username = opts.get(Username),
      password = opts.get(Password),
      clusterName = opts.getOrElse(ClusterName, "default_cluster"),
      databaseName = opts.getOrElse(DatabaseName, "default"),
      collapsingField = opts.get(CollapsingField),
      replacingField = opts.get(ReplacingField),
      batchSize = opts.get(BatchSize).map(_.toInt).getOrElse(1000),
      flushInterval = opts.get(FlushInterval)
        .map(s => Duration(s).asInstanceOf[FiniteDuration])
        .getOrElse(1.second),
      maxRetries = opts.get(MaxRetries).map(_.toInt).getOrElse(3),
      writeLocal = opts.get(WriteLocal).exists(_.toBoolean),
      writeLocalNodes = opts.get(WriteLocalNodes),
      partitionStrategy = strategy,
      partitionKey = opts.get(PartitionKey),
      ignoreDelete = opts.get(IgnoreDelete).exists(_.toBoolean),
      clusterNameConfigured = opts.contains(ClusterName))
  }
}
