package graft

import org.apache.spark.sql.functions._
import graft.model._
import graft.model.{LevelLibrary => ll}

/** Chunked predict equality, find-matches-to-new-records, salting —
  * mirrors reference `tests/test_chunking.py` and
  * `find_matches_to_new_records` coverage. */
class InferenceSpec extends SparkSpec {
  import spark.implicits._

  def people = Seq(
    (0L, "John", "Smith", "1990-01-01"),
    (1L, "Jhon", "Smith", "1990-01-01"),
    (2L, "Mary", "Jones", "1985-05-05"),
    (3L, "Mary", "Jones", "1985-05-06"),
    (4L, "Peter", "Brown", "1970-12-31"),
    (5L, "Pete", "Brown", "1970-12-31"),
    (6L, "Alice", "Smith", "2000-07-07")
  ).toDF("unique_id", "first_name", "surname", "dob")

  def settings = LinkSettings(
    linkType = LinkType.DedupeOnly,
    blockingRules = Seq(BlockingRule.blockOn("surname")),
    comparisons = Seq(
      Comparison("first_name", Seq(ll.nullLevel("first_name"),
        ll.exactMatch("first_name").withM(0.7).withU(0.1),
        ll.levenshtein("first_name", 2).withM(0.2).withU(0.1),
        ll.elseLevel.withM(0.1).withU(0.8))),
      Comparison("dob", Seq(ll.nullLevel("dob"),
        ll.exactMatch("dob").withM(0.9).withU(0.02),
        ll.elseLevel.withM(0.1).withU(0.98)))),
    probabilityTwoRandomRecordsMatch = 0.01)

  def key(r: org.apache.spark.sql.Row) =
    (r.getAs[Long]("unique_id_l"), r.getAs[Long]("unique_id_r"),
      math.round(r.getAs[Double]("match_weight") * 1e9))

  test("chunked predict equals unchunked predict") {
    val linker = new Linker(people, settings)
    val whole = linker.predict().collect().map(key).toSet
    val chunked = linker.predictChunked(3).collect().map(key).toSet
    assert(whole == chunked && whole.nonEmpty)
  }

  test("grid-chunked predict (left x right record chunks) equals unchunked") {
    val linker = new Linker(people, settings)
    val whole = linker.predict().collect().map(key).toSet
    val grid = linker.predictChunked(2, 3, None).collect().map(key).toSet
    assert(whole == grid && whole.nonEmpty)
    // degenerate grid = plain predict
    val one = linker.predictChunked(1, 1, None).collect().map(key).toSet
    assert(one == whole)
  }

  test("find matches to new records scores only corpus-x-new pairs") {
    val linker = new Linker(people, settings)
    val newRec = Seq((100L, "Johnn", "Smith", "1990-01-01"))
      .toDF("unique_id", "first_name", "surname", "dob")
    val matches = linker.findMatchesToNewRecords(newRec).collect()
    // Smith-block corpus records: 0, 1, 6
    assert(matches.map(_.getAs[Long]("unique_id_r")).toSet == Set(100L))
    assert(matches.map(_.getAs[Long]("unique_id_l")).toSet == Set(0L, 1L, 6L))
    val best = matches.maxBy(_.getAs[Double]("match_probability"))
    assert(Set(0L, 1L).contains(best.getAs[Long]("unique_id_l")))
  }

  test("find matches to new records scores with the tf values they carry") {
    val tfSettings = settings.copy(comparisons = settings.comparisons :+
      Comparison("surname", Seq(ll.nullLevel("surname"),
        ll.exactMatch("surname", tfAdjustment = true).withM(0.9).withU(0.1),
        ll.elseLevel.withM(0.1).withU(0.9))))
    val linker = new Linker(people, tfSettings)
    def scored(tf: Double) = {
      val newRec = Seq((100L, "Johnn", "Smith", "1990-01-01", tf))
        .toDF("unique_id", "first_name", "surname", "dob", "tf_surname")
      val found = linker.findMatchesToNewRecords(newRec).collect()
        .map(key).toSet
      // the supplied tf_surname wins over the corpus table, as in scorePairs
      val oracle = linker.scorePairs(people, newRec)
        .filter(col("surname_l") === col("surname_r"))
        .collect().map(key).toSet
      assert(found == oracle && found.size == 3)
      found
    }
    assert(scored(0.6) != scored(0.9))
  }

  test("salted blocking yields identical pairs") {
    val plain = new Linker(people, settings).blockedIdPairs()
      .select("join_key_l", "join_key_r").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = settings.copy(blockingRules =
      Seq(BlockingRule.BlockOnRule(Seq("surname"), salts = 4)))
    val got = new Linker(people, salted).blockedIdPairs()
      .select("join_key_l", "join_key_r").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == plain && got.nonEmpty)
  }
}
