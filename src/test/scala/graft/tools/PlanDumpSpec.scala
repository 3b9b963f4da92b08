package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** `PlanDump.renumbered` makes two dumps of one plan compare equal when
  * they differ only in counters, and keeps a real plan difference. The
  * dumps are q104-shaped AQE plans: a broadcast and a shuffle query
  * stage whose stage and codegen ids follow the order stages were
  * planned and finished. */
class PlanDumpSpec extends AnyFunSuite {

  /** A formatted AQE plan whose stage ids, codegen ids, expression ids and
    * plan ids are the arguments; `filter` is the probe side's Filter
    * condition. `cgBuild` is the codegen id of the broadcast stage's
    * Filter, planned on its own, so it may equal an id of another stage. */
  private def dump(bStage: Int, sStage: Int, cgScan: Int, cgBuild: Int,
                   cgAgg: Int, exprBase: Int, planId: Int,
                   filter: String = "isnotnull(doc_id)"): String = {
    val d = exprBase; val t = exprBase + 1; val u = exprBase + 7
    s"""== Physical Plan ==
       |AdaptiveSparkPlan (11)
       |+- == Final Plan ==
       |   ResultQueryStage (10)
       |   +- * HashAggregate (9)
       |      +- ShuffleQueryStage (8), Statistics(sizeInBytes=744.0 B)
       |         +- Exchange (7)
       |            +- * BroadcastHashJoin Inner BuildRight (6)
       |               :- * Filter (2)
       |               :  +- Scan parquet  (1)
       |               +- BroadcastQueryStage (5), Statistics(sizeInBytes=2.0 MiB)
       |                  +- BroadcastExchange (4)
       |                     +- * Filter (3)
       |
       |(1) Scan parquet
       |Output [2]: [doc_id#${d}L, token#${t}L]
       |Location: InMemoryFileIndex [file:/data/Dedup.scala:1204]
       |
       |(2) Filter [codegen id : $cgScan]
       |Input [2]: [doc_id#${d}L, token#${t}L]
       |Condition : ${filter.replace("doc_id", s"doc_id#${d}L")}
       |
       |(3) Filter [codegen id : $cgBuild]
       |Input [1]: [token#${u}L]
       |Condition : isnotnull(token#${u}L)
       |
       |(4) BroadcastExchange
       |Input [1]: [token#${u}L]
       |Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=${planId + 1}]
       |
       |(5) BroadcastQueryStage
       |Output [1]: [token#${u}L]
       |Arguments: $bStage
       |
       |(6) BroadcastHashJoin [codegen id : $cgScan]
       |Left keys [1]: [token#${t}L]
       |Right keys [1]: [token#${u}L]
       |
       |(7) Exchange
       |Input [1]: [doc_id#${d}L]
       |Arguments: hashpartitioning(doc_id#${d}L, 32), ENSURE_REQUIREMENTS, [plan_id=$planId]
       |
       |(8) ShuffleQueryStage
       |Output [1]: [doc_id#${d}L]
       |Arguments: $sStage
       |
       |(9) HashAggregate [codegen id : $cgAgg]
       |Input [1]: [doc_id#${d}L]
       |Keys [1]: [doc_id#${d}L]
       |""".stripMargin
  }

  test("dumps differing only in stage, codegen, expression and plan ids " +
       "compare equal") {
    // in `a` the broadcast stage was planned with the aggregate's id
    val a = dump(bStage = 0, sStage = 1, cgScan = 1, cgBuild = 2,
                 cgAgg = 2, exprBase = 4351, planId = 4447)
    val b = dump(bStage = 3, sStage = 2, cgScan = 5, cgBuild = 0,
                 cgAgg = 1, exprBase = 8960, planId = 91)
    assert(a != b)
    assert(PlanDump.renumbered(a) == PlanDump.renumbered(b))
    // the stage ids really were rewritten, not dropped
    assert(PlanDump.renumbered(b).contains("Arguments: 0"))
    assert(!PlanDump.renumbered(b).contains("Dedup.scala:1204"))
  }

  test("dumps differing in an operator still differ") {
    val a = dump(0, 1, 1, 2, 2, 4351, 4447)
    val b = dump(3, 2, 5, 0, 1, 8960, 91,
                 filter = "(isnotnull(doc_id) AND (doc_id > 0))")
    assert(PlanDump.renumbered(a) != PlanDump.renumbered(b))
  }
}
