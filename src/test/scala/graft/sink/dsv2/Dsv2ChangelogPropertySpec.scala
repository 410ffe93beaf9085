package graft.sink.dsv2

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.operators.ChangelogOps

/** Seeded property: for random I/-U/+U/D mixes, the rows the DSv2 writer
  * hands the memory endpoint equal, as a multiset, the declarative
  * changelog semantics in ChangelogOps applied to the same frame with
  * `op` dropped — under every materialization mode the option surface
  * can select (R3, AbstractClickHouseOutputFormat.java:84-164). A frame
  * without `op` is an insert-only stream: every row takes the INSERT
  * constants, sign = 1 and deleted = 0 (ClickHouseRowConverter.java:71-94).
  */
class Dsv2ChangelogPropertySpec extends AnyFunSuite with SparkSuite {

  private val seeds = 1L to 4L

  private val ops = Seq(ChangelogOps.Insert, ChangelogOps.UpdateBefore,
    ChangelogOps.UpdateAfter, ChangelogOps.Delete)

  /** name -> (writer options, reference transform over a frame with op) */
  private val optionSets: Seq[(String, Map[String, String], DataFrame => DataFrame)] =
    Seq(
      ("insert-only", Map.empty, ChangelogOps.ignoreDeletes),
      ("collapsing", Map("table.collapsing.field" -> "sign"),
        ChangelogOps.withSign(_, "sign")),
      ("replacing", Map("table.replacing.field" -> "deleted"),
        ChangelogOps.withReplacingFlag(_, "deleted")),
      // both columns appended, sign first (R3, :84-119)
      ("collapsing plus replacing", Map("table.collapsing.field" -> "sign",
        "table.replacing.field" -> "deleted"),
        df => ChangelogOps.withReplacingFlag(
          ChangelogOps.withSign(df, "sign"), "deleted")))

  /** A random changelog over few keys and values, so duplicates occur. */
  private def changelog(rnd: Random): DataFrame = {
    import spark.implicits._
    Seq.fill(rnd.nextInt(40)) {
      (rnd.nextInt(6).toLong, ops(rnd.nextInt(ops.size)), rnd.nextInt(4) * 0.5)
    }.toDF("k", ChangelogOps.OpCol, "v")
  }

  private def multiset(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  for ((name, extra, reference) <- optionSets; withOp <- Seq(true, false)) {
    val variant = if (withOp) "with an op column" else "without an op column"
    test(s"$name: written rows match ChangelogOps ($variant)") {
      seeds.foreach { seed =>
        val rnd = new Random(seed)
        val log = changelog(rnd)
        val input = if (withOp) log else log.drop(ChangelogOps.OpCol)
        val table = s"t_prop_${name.replace(' ', '_')}_$withOp"
        MemorySinkRegistry.clearTable(table)
        extra.foldLeft(input.repartition(1 + rnd.nextInt(3)).write
            .format("clickhouse-style")
            .option("url", "clickhouse://localhost:8123")
            .option("table-name", table)
            .option("primary-key", "k")
            .option("sink.batch-size", (1 + rnd.nextInt(7)).toString)
            .option("graft.executor", "memory")) {
          case (w, (k, v)) => w.option(k, v)
        }.mode("append").save()
        val got = MemorySinkRegistry.allFor(table).flatMap(_._2)
        val asChangelog =
          if (withOp) input else input.withColumn(ChangelogOps.OpCol,
            lit(ChangelogOps.Insert))
        val want = reference(asChangelog).drop(ChangelogOps.OpCol)
          .collect().toSeq
        assert(multiset(got) == multiset(want), s"seed $seed")
        if (!withOp) {
          // an insert-only stream carries the INSERT constants only: the
          // sign follows the data columns, the flag is always last
          if (extra.contains("table.collapsing.field"))
            assert(got.forall(_.getInt(input.columns.length) == 1),
              s"seed $seed")
          if (extra.contains("table.replacing.field"))
            assert(got.forall(r => r.getInt(r.length - 1) == 0),
              s"seed $seed")
        }
      }
    }
  }
}
