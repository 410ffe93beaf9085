package graft.sink

import java.lang.reflect.Proxy
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, SQLFeatureNotSupportedException}
import java.util.Properties

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SinkLayerSpec extends AnyFunSuite {

  private val base = Map(
    "url" -> "clickhouse://localhost:8123",
    "table-name" -> "t")

  // --- options (R1: ClickHouseDynamicTableFactory.java:139-184) ---

  test("defaults mirror the reference") {
    val o = GraftSinkOptions.fromMap(base)
    assert(o.batchSize == 1000)
    assert(o.flushInterval.toMillis == 1000)
    assert(o.maxRetries == 3)
    assert(o.clusterName == "default_cluster")
    assert(o.databaseName == "default")
    assert(o.partitionStrategy == "balanced")
    assert(!o.writeLocal && !o.ignoreDelete)
  }

  test("url and table-name are required") {
    assertThrows[IllegalArgumentException](
      GraftSinkOptions.fromMap(base - "url"))
    assertThrows[IllegalArgumentException](
      GraftSinkOptions.fromMap(base - "table-name"))
  }

  test("unknown partition strategy rejected") {
    assertThrows[IllegalArgumentException](GraftSinkOptions.fromMap(
      base + ("sink.partition-strategy" -> "roundrobin")))
  }

  test("hash strategy requires a partition key") {
    assertThrows[IllegalArgumentException](GraftSinkOptions.fromMap(
      base + ("sink.partition-strategy" -> "hash")))
    val ok = GraftSinkOptions.fromMap(base +
      ("sink.partition-strategy" -> "hash") +
      ("sink.partition-key" -> "name, grade"))
    assert(ok.partitionKeys == Seq("name", "grade"))
  }

  test("username xor password rejected") {
    assertThrows[IllegalArgumentException](
      GraftSinkOptions.fromMap(base + ("username" -> "u")))
    assert(GraftSinkOptions.fromMap(
      base + ("username" -> "u") + ("password" -> "p")).username.contains("u"))
  }

  test("full option parse") {
    val o = GraftSinkOptions.fromMap(base ++ Map(
      "sink.batch-size" -> "100000",
      "sink.flush-interval" -> "30s",
      "sink.max-retries" -> "5",
      "sink.write-local" -> "true",
      "table.replacing.field" -> "p_sign"))
    assert(o.batchSize == 100000)
    assert(o.flushInterval.toSeconds == 30)
    assert(o.maxRetries == 5)
    assert(o.writeLocal)
    assert(o.replacingField.contains("p_sign"))
  }

  // --- statements (R13: ClickHouseStatementFactory.java:11-118) ---

  test("insert statement") {
    assert(StatementFactory.insertInto("t", Seq("a", "b")) ==
      "INSERT INTO `t`(`a`, `b`) VALUES (?, ?)")
  }

  test("collapsing/replacing inserts are identical to plain insert") {
    // the sign/flag column simply rides in the field list
    // (ClickHouseStatementFactory.java:27-59)
    Seq("table.collapsing.field", "table.replacing.field").foreach { k =>
      val o = GraftSinkOptions.fromMap(base + (k -> "sign"))
      assert(StatementFactory.insertInto("t",
        WriteMode.insertFieldNames(o, hasPrimaryKey = true, Seq("a"))) ==
        StatementFactory.insertInto("t", Seq("a", "sign")))
    }
  }

  test("truncate emits ON CLUSTER only when cluster-name was configured") {
    assert(StatementFactory.truncate("t", Some("c1")) ==
      "TRUNCATE TABLE `t` ON CLUSTER `c1`")
    assert(StatementFactory.truncate("t", None) == "TRUNCATE TABLE `t`")
    // the option layer: the implicit default_cluster must NOT leak into
    // user-facing DDL on a single-node server
    assert(GraftSinkOptions.fromMap(base).explicitClusterName.isEmpty)
    assert(GraftSinkOptions.fromMap(base + ("cluster-name" -> "c1"))
      .explicitClusterName.contains("c1"))
  }

  // --- mode dispatch (R3: AbstractClickHouseOutputFormat.java:126-164) ---

  test("mode dispatch matrix") {
    val collapsing = GraftSinkOptions.fromMap(
      base + ("table.collapsing.field" -> "sign"))
    val replacing = GraftSinkOptions.fromMap(
      base + ("table.replacing.field" -> "deleted"))
    val both = GraftSinkOptions.fromMap(base +
      ("table.collapsing.field" -> "sign") +
      ("table.replacing.field" -> "deleted"))
    assert(WriteMode.dispatch(collapsing, hasPrimaryKey = true) ==
      WriteMode.Collapsing)
    assert(WriteMode.dispatch(replacing, hasPrimaryKey = true) ==
      WriteMode.Replacing)
    // collapsing wins when both are set (checked first in the reference)
    assert(WriteMode.dispatch(both, hasPrimaryKey = true) ==
      WriteMode.Collapsing)
    // no PK -> always insert-only, options notwithstanding
    assert(WriteMode.dispatch(both, hasPrimaryKey = false) ==
      WriteMode.InsertOnly)
  }

  test("sign/flag columns appended to insert field list") {
    val both = GraftSinkOptions.fromMap(base +
      ("table.collapsing.field" -> "sign") +
      ("table.replacing.field" -> "deleted"))
    assert(WriteMode.insertFieldNames(both, hasPrimaryKey = true,
      Seq("a", "b")) == Seq("a", "b", "sign", "deleted"))
    assert(WriteMode.insertFieldNames(both, hasPrimaryKey = false,
      Seq("a", "b")) == Seq("a", "b"))
  }

  test("non-insert-only changelog requires a primary key (R2)") {
    assertThrows[IllegalStateException](
      WriteMode.validateChangelog(hasPrimaryKey = false,
        insertOnlyStream = false))
    WriteMode.validateChangelog(hasPrimaryKey = false,
      insertOnlyStream = true) // fine
  }

  // --- connections ---

  test("connection properties carry credentials only when configured") {
    // a probe driver records the properties each connect hands it
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Properties]()
    val probe = new Driver {
      def acceptsURL(url: String): Boolean = url.startsWith("jdbc:probe:")
      def connect(url: String, info: Properties): Connection =
        if (!acceptsURL(url)) null
        else {
          seen.add(info)
          Proxy.newProxyInstance(getClass.getClassLoader,
            Array(classOf[Connection]), (_, _, _) => null)
            .asInstanceOf[Connection]
        }
      def getPropertyInfo(url: String, info: Properties) =
        Array.empty[DriverPropertyInfo]
      def getMajorVersion: Int = 1
      def getMinorVersion: Int = 0
      def jdbcCompliant(): Boolean = false
      def getParentLogger: java.util.logging.Logger =
        throw new SQLFeatureNotSupportedException()
    }
    DriverManager.registerDriver(probe)
    try {
      def connectWith(extra: Map[String, String]): Properties = {
        val o = GraftSinkOptions.fromMap(base ++ extra +
          ("url" -> "jdbc:probe:t"))
        JdbcStatementExecutor.connect(o.url, o.username, o.password)
        seen.poll()
      }
      assert(connectWith(Map.empty).isEmpty)
      val auth = connectWith(Map("username" -> "u", "password" -> "p"))
      assert(auth.getProperty("user") == "u" &&
        auth.getProperty("password") == "p")
    } finally DriverManager.deregisterDriver(probe)
  }

  // --- type mapping (R14/R17) ---

  test("15 supported types map; others throw") {
    val supported = Seq[DataType](NullType, BooleanType, ByteType, ShortType,
      IntegerType, LongType, FloatType, DoubleType, DecimalType(10, 2),
      StringType, BinaryType, DateType, TimestampType, TimestampNTZType,
      YearMonthIntervalType(), DayTimeIntervalType())
    supported.foreach(dt => TypeMapping.jdbcType(dt)) // must not throw
    assert(TypeMapping.jdbcType(DateType) == java.sql.Types.DATE)
    assert(TypeMapping.jdbcType(DecimalType(18, 2)) == java.sql.Types.DECIMAL)
    assertThrows[UnsupportedOperationException](
      TypeMapping.jdbcType(ArrayType(IntegerType)))
    assertThrows[UnsupportedOperationException](
      TypeMapping.jdbcType(MapType(StringType, IntegerType)))
  }
}
