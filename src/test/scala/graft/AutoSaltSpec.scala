package graft

import org.apache.spark.sql.functions._
import graft.model.BlockingRule
import graft.operators.SaltAdvisor

/** The salting advisory ([[SaltAdvisor]]): it sizes a rule's salt count
  * from the hot block, so the salted sub-joins split that block. */
class AutoSaltSpec extends SparkSpec {
  import spark.implicits._

  // adversarial skew: ONE city holds half of all rows
  private def records = {
    val n = 400
    (0 until n).map { i =>
      val city = if (i < n / 2) "HOT" else s"c${i % 20}"
      (i.toLong, s"name${i % 50}", city)
    }.toDF("unique_id", "first_name", "city")
  }

  test("advisory sizes the salt from the hot block against the per-task share") {
    val a = SaltAdvisor.advise(records,
      BlockingRule.blockOn("city").asInstanceOf[BlockingRule.BlockOnRule])
    assert(a.largestBlockRows == 200 && a.totalRows == 400)
    // 4 shuffle partitions in tests -> even share 100 -> ceil(200/100) = 2
    assert(a.recommendedSalts == 2, s"got ${a.recommendedSalts}")
    // max-task shrink: each salted sub-join keeps only one hash bucket of
    // the hot block's left rows, so no single join sees the whole block
    val hot = records.filter(col("city") === "HOT")
      .select(col("unique_id").as("__join_key"))
    val buckets = hot.groupBy(pmod(hash(col("__join_key")),
        lit(a.recommendedSalts)).as("b"))
      .agg(count(lit(1)).as("n")).collect().map(_.getLong(1))
    assert(buckets.sum == 200)
    assert(buckets.max < 200, s"a bucket still holds the whole block")
    // uniform keys need no salt: 5-row blocks against an even share of 50
    val uniform = (0 until 200).map(i => (i.toLong, s"n$i", s"c${i % 40}"))
      .toDF("unique_id", "first_name", "city")
    assert(SaltAdvisor.advise(uniform, BlockingRule.blockOn("city")
      .asInstanceOf[BlockingRule.BlockOnRule]).recommendedSalts == 1)
  }
}
