package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanDump.normalize]]: two dumps of one plan compare equal. */
class PlanDumpSpec extends AnyFunSuite {

  /** The distinct-aggregate rewrite of `count_distinct(a),
    * count_distinct(b), sum(o)`, planned with the distinct groups in
    * the order `first` then `second` (Spark orders them by hash). */
  private def plan(first: String, second: String): String = {
    def gid(c: String) = if (c == first) 1 else 2
    s"""(19) Expand
       |Input [3]: [__a#12L, __b#13L, __o#14L]
       |Arguments: [[null, null, 0, __o#14L], [$first#201L, null, 1, null], [null, $second#202L, 2, null]], [$first#201L, $second#202L, gid#200, __o#14L]
       |
       |(20) HashAggregate
       |Input [4]: [$first#201L, $second#202L, gid#200, __o#14L]
       |Keys [3]: [$first#201L, $second#202L, gid#200]
       |Functions [1]: [partial_sum(__o#14L)]
       |Results [4]: [$first#201L, $second#202L, gid#200, sum#203L]
       |
       |(21) Exchange
       |Input [4]: [$first#201L, $second#202L, gid#200, sum#203L]
       |Arguments: hashpartitioning($first#201L, $second#202L, gid#200, 4), ENSURE_REQUIREMENTS, [plan_id=87]
       |
       |(23) HashAggregate
       |Input [4]: [$first#201L, $second#202L, gid#200, sum(__o)#204L]
       |Keys: []
       |Functions [3]: [partial_first(sum(__o)#204L, true) FILTER (WHERE (gid#200 = 0)), partial_count(__a#201L) FILTER (WHERE (gid#200 = ${gid("__a")})), partial_count(__b#202L) FILTER (WHERE (gid#200 = ${gid("__b")}))]
       |Results [2]: [first#205L, count#206L]
       |""".stripMargin
  }

  test("plans that differ only in Expand group order normalize equal") {
    val ab = plan("__a", "__b")
    val ba = plan("__b", "__a")
    assert(ab != ba)
    assert(PlanDump.normalize(ab) == PlanDump.normalize(ba))
    // lines outside the rewrite keep their order and their numbers
    val n = PlanDump.normalize(ab)
    assert(n.contains("Input [3]: [__a#, __b#, __o#]"))
    assert(n.contains("Results [2]: [first#, count#]"))
  }

  test("a real plan change still shows") {
    val ab = plan("__a", "__b")
    val otherKey = ab.replace("__b#202L, gid#200, 4)", "__b#202L, gid#200, 8)")
    val otherColumn = ab.replace("[null, __b#202L, 2", "[null, __c#202L, 2")
    for (changed <- Seq(otherKey, otherColumn))
      assert(PlanDump.normalize(changed) != PlanDump.normalize(ab))
  }
}
