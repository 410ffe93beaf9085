package graft.sink.dsv2

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The SPI-discovered write path: format("clickhouse-style") resolved via
  * META-INF/services (the analog of the reference's factory discovery,
  * ClickHouseDynamicTableFactory SPI registration).
  */
class Dsv2WriteSpec extends AnyFunSuite with SparkSuite {

  test("format(clickhouse-style) writes through the buffered sink") {
    MemorySinkRegistry.clear()
    import spark.implicits._
    val df = (1L to 25L).map(i => (i, s"name$i", i * 1.5))
      .toDF("id", "name", "score")
    df.coalesce(2).write.format("clickhouse-style")
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", "t_out")
      .option("sink.batch-size", "10")
      .option("graft.executor", "memory")
      .mode("append").save()
    val rows = MemorySinkRegistry.all.flatMap(_._2)
    assert(rows.size == 25)
    assert(rows.map(_.getLong(0)).sorted == (1L to 25L))
    // count trigger honored inside partitions: no batch exceeds 10
    assert(MemorySinkRegistry.all.forall(_._2.size <= 10))
    // type conversion round-trip: external JVM types, not internal ones
    assert(rows.head.get(1).isInstanceOf[String])
  }

  test("count trigger flushes full batches and the remainder on commit (R4)") {
    MemorySinkRegistry.clearTable("t_count")
    import spark.implicits._
    (1L to 50L).map(i => (i, i * 1.0)).toDF("id", "v")
      .coalesce(1).write.format("clickhouse-style")
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", "t_count")
      .option("sink.batch-size", "20")
      .option("graft.executor", "memory")
      .mode("append").save()
    // two mid-partition flushes, then the final flush of the remainder
    assert(MemorySinkRegistry.allFor("t_count").map(_._2.size) ==
      Seq(20, 20, 10))
  }

  test("changelog semantics apply in the DSv2 path: collapsing sign") {
    MemorySinkRegistry.clear()
    import spark.implicits._
    val df = Seq((1L, "I", 10.0), (1L, "-U", 10.0), (1L, "+U", 11.0),
      (2L, "D", 20.0)).toDF("k", "op", "v")
    df.coalesce(1).write.format("clickhouse-style")
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", "t")
      .option("primary-key", "k")
      .option("table.collapsing.field", "sign")
      .option("graft.executor", "memory")
      .mode("append").save()
    val rows = MemorySinkRegistry.all.flatMap(_._2)
    // all 4 kinds written, op replaced by the appended sign column
    assert(rows.size == 4)
    assert(rows.map(r => (r.getLong(0), r.getInt(2))).sortBy(identity) ==
      Seq((1L, -1), (1L, 1), (1L, 1), (2L, -1)))
  }

  test("insert-only mode drops D/-U in the DSv2 path") {
    MemorySinkRegistry.clear()
    import spark.implicits._
    val df = Seq((1L, "I", 10.0), (1L, "-U", 10.0), (2L, "D", 20.0),
      (3L, "+U", 30.0)).toDF("k", "op", "v")
    df.coalesce(1).write.format("clickhouse-style")
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", "t")
      .option("primary-key", "k")
      .option("graft.executor", "memory")
      .mode("append").save()
    val rows = MemorySinkRegistry.all.flatMap(_._2)
    assert(rows.map(_.getLong(0)).sorted == Seq(1L, 3L))
    assert(rows.forall(_.length == 2)) // (k, v) — no op column
  }

  test("changelog without primary-key rejected at plan time (R2)") {
    import spark.implicits._
    val df = Seq((1L, "D", 1.0)).toDF("k", "op", "v")
    assertThrows[Exception] {
      df.write.format("clickhouse-style")
        .option("url", "clickhouse://localhost:8123")
        .option("table-name", "t")
        .option("graft.executor", "memory")
        .mode("append").save()
    }
  }

  test("invalid options fail at planning time (factory validation)") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "name")
    val e = intercept[Exception] {
      df.write.format("clickhouse-style")
        .option("url", "clickhouse://localhost:8123")
        .option("table-name", "t")
        .option("sink.partition-strategy", "bogus")
        .option("graft.executor", "memory")
        .mode("append").save()
    }
    assert(e.getMessage.contains("bogus") ||
      e.getCause != null && e.getCause.getMessage.contains("bogus"))
  }

  test("write-local + balanced strategy plans and writes (no shard-count " +
      "constraint without a clustered distribution)") {
    // regression: requiredNumPartitions() > 0 together with
    // Distributions.unspecified() makes Spark 4 fail every write at
    // analysis time (DistributionAndOrderingUtils) — write-local with the
    // default 'balanced' strategy must not request the shard count
    MemorySinkRegistry.clear()
    import spark.implicits._
    val df = (1L to 20L).map(i => (i, i * 1.0)).toDF("k", "v")
    df.write.format("clickhouse-style")
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", "t")
      .option("sink.write-local", "true")
      .option("sink.write-local-nodes", "h1:8123,h2:8123")
      .option("graft.executor", "memory")
      .mode("append").save()
    assert(MemorySinkRegistry.all.flatMap(_._2).size == 20)
  }

  test("write-local + shuffle strategy plans and writes") {
    MemorySinkRegistry.clear()
    import spark.implicits._
    val df = (1L to 20L).map(i => (i, i * 1.0)).toDF("k", "v")
    df.write.format("clickhouse-style")
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", "t")
      .option("sink.write-local", "true")
      .option("sink.write-local-nodes", "h1:8123,h2:8123")
      .option("sink.partition-strategy", "shuffle")
      .option("graft.executor", "memory")
      .mode("append").save()
    assert(MemorySinkRegistry.all.flatMap(_._2).size == 20)
  }

  test("write-local + hash strategy clusters by key across shard count") {
    MemorySinkRegistry.clear()
    import spark.implicits._
    val df = (1L to 100L).map(i => (i % 10, i * 1.0)).toDF("k", "v")
    df.write.format("clickhouse-style")
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", "t")
      .option("sink.write-local", "true")
      .option("sink.write-local-nodes", "h1:8123,h2:8123")
      .option("sink.partition-strategy", "hash")
      .option("sink.partition-key", "k")
      .option("graft.executor", "memory")
      .mode("append").save()
    val all = MemorySinkRegistry.all
    assert(all.flatMap(_._2).size == 100)
    // clustered distribution honored: every key lands in exactly one
    // writer partition (first tuple element = partitionId)
    val partsPerKey = all
      .flatMap { case (pid, rows) => rows.map(r => (r.getLong(0), pid)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    assert(partsPerKey.size == 10)
    assert(partsPerKey.values.forall(_ == 1))
  }

  test("streaming write: writeStream.format(clickhouse-style) delivers " +
      "every micro-batch through the buffered sink (STREAMING_WRITE)") {
    MemorySinkRegistry.clear()
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[(Long, String, Double)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-ckpt").toString
    val q = mem.toDF().toDF("k", "op", "v")
      .writeStream.format("clickhouse-style")
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", "t_stream")
      .option("primary-key", "k")
      .option("table.collapsing.field", "sign")
      .option("graft.executor", "memory")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      mem.addData((1L, "I", 10.0), (1L, "-U", 10.0))
      q.processAllAvailable()
      mem.addData((1L, "+U", 11.0), (2L, "D", 20.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = MemorySinkRegistry.all.flatMap(_._2)
    // all four changelog kinds written across two epochs, sign appended
    assert(rows.size == 4)
    assert(rows.map(r => (r.getLong(0), r.getInt(2))).sortBy(identity) ==
      Seq((1L, -1), (1L, 1), (1L, 1), (2L, -1)))
  }

  test("streaming write: insert-only stream needs no primary key") {
    MemorySinkRegistry.clear()
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[(Long, Double)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-ckpt2").toString
    val q = mem.toDF().toDF("k", "v")
      .writeStream.format("clickhouse-style")
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", "t_stream2")
      .option("graft.executor", "memory")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      mem.addData((1L, 1.0), (2L, 2.0), (3L, 3.0))
      q.processAllAvailable()
    } finally q.stop()
    assert(MemorySinkRegistry.all.flatMap(_._2).size == 3)
  }

  test("mode(overwrite) truncates then appends (SupportsTruncate)") {
    MemorySinkRegistry.clear()
    import spark.implicits._
    def write(rows: Seq[(Long, Double)], mode: String): Unit =
      rows.toDF("k", "v").coalesce(1).write.format("clickhouse-style")
        .option("url", "clickhouse://localhost:8123")
        .option("table-name", "t_ovr")
        .option("graft.executor", "memory")
        .mode(mode).save()
    write(Seq((1L, 1.0), (2L, 2.0)), "append")
    assert(MemorySinkRegistry.all.flatMap(_._2).size == 2)
    write(Seq((9L, 9.0)), "overwrite")
    val rows = MemorySinkRegistry.all.flatMap(_._2)
    assert(rows.size == 1 && rows.head.getLong(0) == 9L)
  }

  test("truncate targets every shard node when no cluster name is set") {
    import graft.sink.GraftSinkOptions
    val base = Map(
      "url" -> "jdbc:clickhouse://coord:8123/default",
      "table-name" -> "t")
    // write-local, no cluster-name: the plain TRUNCATE only reaches the
    // node it is sent to, so every shard must be visited
    val local = GraftSinkOptions.fromMap(base +
      ("sink.write-local" -> "true") +
      ("sink.write-local-nodes" -> "h1:9000,h2:9000,h3:9000"))
    assert(GraftBatchWrite.truncateUrls(local) == Seq(
      "jdbc:clickhouse://h1:9000/default",
      "jdbc:clickhouse://h2:9000/default",
      "jdbc:clickhouse://h3:9000/default"))
    // explicit cluster name: one ON CLUSTER statement fans out server-side
    val clustered = GraftSinkOptions.fromMap(base +
      ("sink.write-local" -> "true") +
      ("sink.write-local-nodes" -> "h1:9000,h2:9000") +
      ("cluster-name" -> "c1"))
    assert(GraftBatchWrite.truncateUrls(clustered) ==
      Seq("jdbc:clickhouse://h1:9000/default"))
    // plain single-node sink: the coordinator URL
    assert(GraftBatchWrite.truncateUrls(GraftSinkOptions.fromMap(base)) ==
      Seq("jdbc:clickhouse://coord:8123/default"))
  }

  test("update-mode streaming aggregation appends upsert rows " +
      "(SupportsStreamingUpdateAsAppend)") {
    MemorySinkRegistry.clear()
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{count => fcount, col, lit}
    import spark.implicits._
    val mem = MemoryStream[(Long, Double)]
    val agg = mem.toDF().toDF("k", "v")
      .groupBy("k").agg(fcount(lit(1)).as("n"))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-ckpt4").toString
    val q = agg.writeStream.format("clickhouse-style")
      .outputMode("update")
      .option("url", "clickhouse://localhost:8123")
      .option("table-name", "t_upd")
      .option("graft.executor", "memory")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      mem.addData((1L, 1.0), (1L, 2.0), (2L, 3.0))
      q.processAllAvailable()
      mem.addData((1L, 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = MemorySinkRegistry.allFor("t_upd").flatMap(_._2)
      .map(r => (r.getLong(0), r.getLong(1)))
    // epoch 1 emits (1,2),(2,1); epoch 2 emits the changed key only:
    // (1,3) — the upsert stream, appended (latest version wins
    // downstream via versioned replace)
    assert(rows.sorted == Seq((1L, 2L), (1L, 3L), (2L, 1L)))
  }

  test("overwrite of one table leaves other tables' rows intact") {
    MemorySinkRegistry.clear()
    import spark.implicits._
    def write(table: String, rows: Seq[(Long, Double)], mode: String): Unit =
      rows.toDF("k", "v").coalesce(1).write.format("clickhouse-style")
        .option("url", "clickhouse://localhost:8123")
        .option("table-name", table)
        .option("graft.executor", "memory")
        .mode(mode).save()
    write("t_a", Seq((1L, 1.0)), "append")
    write("t_b", Seq((2L, 2.0)), "append")
    write("t_b", Seq((3L, 3.0)), "overwrite")
    assert(MemorySinkRegistry.allFor("t_a").flatMap(_._2).size == 1)
    val b = MemorySinkRegistry.allFor("t_b").flatMap(_._2)
    assert(b.size == 1 && b.head.getLong(0) == 3L)
  }

  test("streaming Complete mode rejected with a clear message") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[(Long, Double)]
    val agg = mem.toDF().toDF("k", "v")
      .groupBy("k").count()
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-stream-ckpt3").toString
    val e = intercept[Exception] {
      val q = agg.writeStream.format("clickhouse-style")
        .outputMode("complete")
        .option("url", "clickhouse://localhost:8123")
        .option("table-name", "t_complete")
        .option("graft.executor", "memory")
        .option("checkpointLocation", ckpt)
        .start()
      try { mem.addData((1L, 1.0)); q.processAllAvailable() }
      finally q.stop()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("Complete output mode")), e.toString)
  }

  test("deleteWhere on one table keeps another table's concurrent batches") {
    import org.apache.spark.sql.Row
    Seq("t_race_a", "t_race_b").foreach(MemorySinkRegistry.clearTable)
    val a = new MemorySinkRegistry.Exec("t_race_a", 0)
    (1L to 20L).foreach(i => a.executeBatch(Seq(Row(i))))
    val n = 5000
    val appender = new Thread(() => {
      val b = new MemorySinkRegistry.Exec("t_race_b", 0)
      (1L to n.toLong).foreach(i => b.executeBatch(Seq(Row(i))))
    })
    appender.start()
    var passes = 0
    while (appender.isAlive || passes == 0) {
      MemorySinkRegistry.deleteWhere("t_race_a", _.getLong(0) % 2 == 0)
      passes += 1
    }
    appender.join()
    val b = MemorySinkRegistry.allFor("t_race_b")
    val lost = n - b.size
    assert(lost == 0, s"lost $lost batches over $passes passes")
    assert(b.flatMap(_._2).map(_.getLong(0)) == (1L to n.toLong))
    // table A: odd ids survive, one batch per original batch, in order
    assert(MemorySinkRegistry.allFor("t_race_a").map(_._2.map(_.getLong(0)))
      == (1L to 20L).map(i => if (i % 2 == 0) Seq.empty else Seq(i)))
  }

  test("missing table-name rejected") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "name")
    assertThrows[Exception] {
      df.write.format("clickhouse-style")
        .option("url", "clickhouse://localhost:8123")
        .option("graft.executor", "memory")
        .mode("append").save()
    }
  }
}
