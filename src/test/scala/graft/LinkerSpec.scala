package graft

import org.apache.spark.sql.functions._
import graft.model._
import graft.model.{ComparisonLibrary => cl, LevelLibrary => ll}
import graft.operators._

/** End-to-end dedupe on an inline fake_1000-style fixture with fixed m/u
  * (mirrors reference `tests/basic_settings.py:5-25` +
  * `tests/test_full_example_duckdb.py`). */
class LinkerSpec extends SparkSpec {
  import spark.implicits._

  def people = Seq(
    (0L, "John", "Smith", "1990-01-01", "london", "js@x.com"),
    (1L, "Jhon", "Smith", "1990-01-01", "london", "js@x.com"),   // dup of 0
    (2L, "Mary", "Jones", "1985-05-05", "leeds", "mj@y.com"),
    (3L, "Mary", "Jones", "1985-05-06", "leeds", "mj@y.com"),    // dup of 2
    (4L, "Peter", "Brown", "1970-12-31", "york", "pb@z.com"),
    (5L, "Pete", "Brown", "1970-12-31", "york", null),           // dup of 4
    (6L, "Alice", "Smith", "2000-07-07", "london", "as@w.com"),  // not a dup
    (7L, null, "Nguyen", "1999-09-09", "hull", "nn@v.com")
  ).toDF("unique_id", "first_name", "surname", "dob", "city", "email")

  def settings: LinkSettings = LinkSettings(
    linkType = LinkType.DedupeOnly,
    blockingRules = Seq(BlockingRule.blockOn("surname")),
    comparisons = Seq(
      Comparison("first_name", Seq(
        ll.nullLevel("first_name"),
        ll.exactMatch("first_name").withM(0.7).withU(0.1),
        ll.levenshtein("first_name", 2).withM(0.2).withU(0.1),
        ll.elseLevel.withM(0.1).withU(0.8))),
      Comparison("dob", Seq(
        ll.nullLevel("dob"),
        ll.exactMatch("dob").withM(0.9).withU(0.02),
        ll.elseLevel.withM(0.1).withU(0.98))),
      Comparison("email", Seq(
        ll.nullLevel("email"),
        ll.exactMatch("email").withM(0.8).withU(0.001),
        ll.elseLevel.withM(0.2).withU(0.999)))),
    probabilityTwoRandomRecordsMatch = 0.01)

  test("blocking produces within-surname pairs with id_l < id_r") {
    val linker = new Linker(people, settings)
    val pairs = linker.blockedIdPairs().collect()
    val keys = pairs.map(r => (r.getLong(1), r.getLong(2))).toSet
    // Smith block: (0,1),(0,6),(1,6); Jones: (2,3); Brown: (4,5)
    assert(keys == Set((0L, 1L), (0L, 6L), (1L, 6L), (2L, 3L), (4L, 5L)))
    assert(pairs.forall(_.getString(0) == "0")) // single rule -> match_key 0
  }

  test("gamma values follow level order, null level is -1") {
    val linker = new Linker(people, settings)
    val cv = linker.comparisonVectors()
      .select("unique_id_l", "unique_id_r", "gamma_first_name", "gamma_dob", "gamma_email")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    assert(cv((0L, 1L)) == (1, 1, 1))  // Jhon~John lev<=2, same dob, same email
    assert(cv((2L, 3L)) == (2, 0, 1))  // exact name, dob differs, same email
    assert(cv((4L, 5L)) == (1, 1, -1)) // Pete~Peter lev<=2, same dob, null email
    assert(cv((0L, 6L)) == (0, 0, 0))  // all differ
  }

  test("predict match weights equal hand-computed Fellegi-Sunter sums") {
    val linker = new Linker(people, settings)
    val out = linker.predict().select("unique_id_l", "unique_id_r",
      "match_weight", "match_probability").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    def log2(x: Double) = math.log(x) / math.log(2)
    val prior = log2(0.01 / 0.99)
    // pair (0,1): fn lev (0.2/0.1), dob exact (0.9/0.02), email exact (0.8/0.001)
    val expected01 = prior + log2(0.2 / 0.1) + log2(0.9 / 0.02) + log2(0.8 / 0.001)
    assert(math.abs(out((0L, 1L))._1 - expected01) < 1e-9)
    val p01 = math.pow(2, expected01) / (1 + math.pow(2, expected01))
    assert(math.abs(out((0L, 1L))._2 - p01) < 1e-12)
    // null email contributes 0: pair (4,5)
    val expected45 = prior + log2(0.2 / 0.1) + log2(0.9 / 0.02)
    assert(math.abs(out((4L, 5L))._1 - expected45) < 1e-9)
  }

  test("threshold filtering") {
    val linker = new Linker(people, settings)
    val all = linker.predict()
    val thresholded = linker.predict(thresholdMatchProbability = Some(0.5))
    assert(thresholded.count() < all.count())
    assert(thresholded.filter(col("match_probability") < 0.5).count() == 0)
  }

  test("clustering groups duplicates and leaves singletons alone") {
    val linker = new Linker(people, settings)
    val preds = linker.predict()
    val clusters = linker.clusterPairwisePredictionsAtThreshold(preds, 0.45)
      .select("unique_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Any](1).toString).toMap
    assert(clusters(0L) == clusters(1L))
    assert(clusters(4L) == clusters(5L))
    assert(clusters(6L) != clusters(0L))
    assert(clusters(7L) == "7") // singleton keeps own id
  }

  test("clustering with no edge at or above the threshold leaves every " +
      "record a singleton") {
    val linker = new Linker(people, settings)
    val clusters = linker.clusterPairwisePredictionsAtThreshold(
      linker.predict(), 1.1).select("unique_id", "cluster_id").collect()
    assert(clusters.length == people.count())
    assert(clusters.forall(r => r.getAs[Any](1).toString == r.getLong(0).toString))
  }

  test("multi-rule blocking dedupes pairs across rules and tags match_key") {
    val s2 = settings.copy(blockingRules = Seq(
      BlockingRule.blockOn("surname"),
      BlockingRule.blockOn("dob")))
    val linker = new Linker(people, s2)
    val pairs = linker.blockedIdPairs().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // (0,1) captured by rule 0 (same surname); must NOT reappear under rule 1
    assert(pairs.count { case (_, l, r) => l == 0L && r == 1L } == 1)
    // rule-1-only pairs keep match_key 1 (none here share dob w/o surname)
    val byKey = pairs.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byKey.getOrElse("0", 0) == 5)
  }

  test("term frequency table matches relative frequencies") {
    val tf = TermFrequency.table(people, "city").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(tf("london") - 3.0 / 8.0) < 1e-12)
    assert(math.abs(tf("hull") - 1.0 / 8.0) < 1e-12)
  }

  test("link_only two datasets produces only cross-dataset pairs") {
    val dfA = people.filter(col("unique_id") < 4)
    val dfB = people.filter(col("unique_id") >= 4)
    val s2 = settings.copy(linkType = LinkType.LinkOnly)
    val linker = new Linker(Seq("a" -> dfA, "b" -> dfB), s2)
    val pairs = linker.blockedIdPairs().collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getString(1).startsWith("a-__-"))
      assert(r.getString(2).startsWith("b-__-"))
    }
  }

  test("settings validation: typo'd blocking column fails at construction " +
      "with the reference's error framing") {
    val bad = settings.copy(blockingRules =
      Seq(BlockingRule.blockOn("surnme"), BlockingRule.blockOn("surname")))
    val err = intercept[InvalidColumnsException](new Linker(people, bad))
    assert(err.getMessage.contains("Invalid Columns(s) in Blocking Rule(s)"))
    assert(err.getMessage.contains(
      "Missing column(s) from input dataframe(s): `surnme`"))
    assert(err.getMessage.contains("block_on(surnme)"))
  }

  test("settings validation: comparison level on a missing column names " +
      "the comparison and the level SQL") {
    val bad = settings.copy(comparisons = settings.comparisons :+
      Comparison("ghost", Seq(ll.nullLevel("ghost"),
        ll.exactMatch("ghost").withM(0.5).withU(0.5), ll.elseLevel)))
    val err = intercept[InvalidColumnsException](new Linker(people, bad))
    assert(err.getMessage.contains("Invalid Columns(s) in Comparison(s)"))
    assert(err.getMessage.contains("Comparison: ghost"))
    assert(err.getMessage.contains(
      "Missing column(s) from input dataframe(s): `ghost`"))
  }

  test("settings validation: bad unique-id column, un-suffixed level " +
      "column, and non-l/r table alias are each flagged") {
    val badUid = settings.copy(uniqueIdColumn = "uid_typo")
    val e1 = intercept[InvalidColumnsException](new Linker(people, badUid))
    assert(e1.getMessage.contains("Setting: `unique_id_column_name`"))
    assert(e1.getMessage.contains("`uid_typo`"))
    val badLevel = settings.copy(comparisons = Seq(
      Comparison("first_name", Seq(ll.nullLevel("first_name"),
        ComparisonLevel("no suffix", "first_name_l = first_name",
          m = Some(0.5), u = Some(0.5)),
        ll.elseLevel))))
    val e2 = intercept[InvalidColumnsException](new Linker(people, badLevel))
    assert(e2.getMessage.contains(
      "Invalid table suffixes provided (only `_l` and `_r` are valid): " +
        "`first_name`"))
    val badAlias = settings.copy(blockingRules = Seq(
      BlockingRule.CustomBlockingRule("x.surname = r.surname")))
    val e3 = intercept[InvalidColumnsException](new Linker(people, badAlias))
    assert(e3.getMessage.contains(
      "Invalid table names provided (only `l.` and `r.` are valid)"))
    // and a fully valid settings object still constructs
    new Linker(people, settings)
  }

  test("compare_records scores without blocking") {
    val linker = new Linker(people, settings)
    val left = people.filter(col("unique_id") === 0)
    val right = people.filter(col("unique_id") === 1)
    val scored = linker.compareRecords(left, right).collect()
    assert(scored.length == 1)
  }
}
