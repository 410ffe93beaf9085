package graft.queries

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSuite}
import graft.plans.PlanSignature

/** The plan-regression sweep: EVERY query's physical-plan signature
  * (shuffle count, broadcast count, cartesian presence — the scale
  * posture) must match the committed contract. A refactor that keeps
  * values correct but silently adds a shuffle or drops a broadcast
  * fails here, not in production at 1000x the data.
  *
  * On an intended plan change, regenerate + review the diff:
  *   sbt "runMain graft.plans.PlanContracts"
  */
class PlanContractSpec extends AnyFunSuite with SparkSuite {

  private lazy val contracts: Map[String, String] = {
    val in = getClass.getResourceAsStream("/plan-contracts.tsv")
    assert(in != null, "plan-contracts.tsv missing from test resources — " +
      "run: sbt \"runMain graft.plans.PlanContracts\"")
    val src = Source.fromInputStream(in)
    // line shape: key \t signature [\t # bnlj allowed: reason] — the
    // third field is the human adjudication for bnlj>0 keys (r12) and
    // is not part of the compared signature
    try src.getLines().filter(_.nonEmpty).map { l =>
      val fields = l.split("\t", 3); fields(0) -> fields(1)
    }.toMap
    finally src.close()
  }

  test("every query's plan signature matches the committed contract") {
    // self-contained baseline: whatever earlier suites left cached must
    // not leak into this sweep's signatures or the leak-check below
    graft.CacheScope.releaseAll(spark)
    spark.catalog.clearCache()
    // mirror PlanContracts: retained frames' pre-cache plans fold into
    // the signature (r8 verdict #5), so the spec must capture them too
    spark.conf.set(graft.CacheScope.CaptureKey, "true")
    val diffs = try SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, q) =>
        graft.CacheScope.drainCapturedPlans()
        val df = q(spark, sf0001)
        // output-shape guard (r9 verdict #1): the driver's oracle checker
        // cannot sort ARRAY/MAP/STRUCT-typed result columns (pandas
        // "unhashable type" — the q_summap_pivot failure class), so no
        // query may emit a top-level complex type. Checked inside this
        // sweep because the builders are already being planned here.
        val complexCols = df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
            f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
            f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
            s"$name: column '${f.name}' is ${f.dataType.simpleString} — " +
              "driver-unverifiable output shape (emit long-form rows or " +
              "canonical strings instead)"
        }
        val actual = PlanSignature.of(df, graft.CacheScope.drainCapturedPlans())
        // plan-only consumer: no action ever fires the after-action
        // release, so drain each query's retained scope here — both to
        // keep this sweep from leaking 300+ CacheManager registrations
        // into the shared test session (the r6 CacheScopeSpec failures)
        // and to keep each signature independent of earlier queries'
        // still-registered frames (r6 verdict #3)
        graft.CacheScope.releaseAll(spark)
        complexCols ++ (contracts.get(name) match {
          case Some(expected) if expected == actual => None
          case Some(expected) =>
            Some(s"$name: contract '$expected' but plan is '$actual'")
          case None =>
            Some(s"$name: no contract recorded")
        })
    } finally spark.conf.set(graft.CacheScope.CaptureKey, "false")
    val stale = contracts.keySet -- SparkEntry.queries.keySet
    assert(diffs.isEmpty && stale.isEmpty,
      (diffs ++ stale.map(s => s"$s: contract for deleted query"))
        .mkString("\n", "\n", "\n") +
        "intended? regenerate: sbt \"runMain graft.plans.PlanContracts\"")
  }

  test("every bnlj>0 contract line carries an AllowedBnlj adjudication") {
    // the committed tsv, the in-source allowlist, and the adjudication
    // comments must agree exactly (r11 verdict #1): a key regressing TO
    // a counted BNLJ fails the signature sweep above; a key frozen WITH
    // one must have a reviewed smallness argument; a stale allowance
    // (key no longer planning one) must be dropped so the list can't rot
    val in = getClass.getResourceAsStream("/plan-contracts.tsv")
    val src = Source.fromInputStream(in)
    val parsed = try src.getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t", 3)
      (f(0), f(1), if (f.length > 2) Some(f(2)) else None)
    }.toSeq finally src.close()
    val bnljKeys = parsed.collect {
      case (k, sig, _) if !sig.endsWith("bnlj=0") => k
    }.toSet
    assert(bnljKeys == graft.plans.PlanContracts.AllowedBnlj.keySet,
      s"bnlj>0 contract keys $bnljKeys != AllowedBnlj keys " +
        s"${graft.plans.PlanContracts.AllowedBnlj.keySet}")
    val unannotated = parsed.collect {
      case (k, sig, None) if !sig.endsWith("bnlj=0") => k
    }
    assert(unannotated.isEmpty,
      s"bnlj>0 lines missing the '# bnlj allowed:' comment: $unannotated")
  }

  test("the plan-only sweep leaves no CacheManager registrations (r6 #3)") {
    // runs right after the sweep above (ScalaTest registration order):
    // every one of the 317 queries was plan-built WITHOUT an action, so
    // the after-action listener never fired — the per-query releaseAll
    // drain must be the thing that kept the shared session clean. This
    // is the leak class that broke the r6 full-suite run: PlanContractSpec
    // ran before CacheScopeSpec and left 300+ retained frames registered.
    graft.CacheScope.releaseAll(spark)
    assert(spark.sharedState.cacheManager.isEmpty,
      "plan-only query builds left persisted frames registered")
  }

  test("every oracle key names a query, and no oracle key is shadowed") {
    // forcing the map runs SparkEntry's duplicate-key and orphan checks
    val oracle = SparkEntry.oracleSql
    assert(oracle.nonEmpty)
    val orphans = oracle.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle keys with no query: $orphans")
  }
}
