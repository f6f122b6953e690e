package graft

import org.apache.spark.sql.functions._
import graft.model._
import graft.model.{LevelLibrary => ll}
import graft.training.Training

/**
 * Exact numerical parity with the reference's own cross-version tests
 * (`tests/test_compare_splink2.py` + `tests/basic_settings.py`): the same
 * fake_1000 fixture, the same model, and the same training runs must
 * reproduce splink2's PUBLISHED numbers — the match weight of pair
 * (479, 481) (`tests/datasets/splink2_479_vs_481.csv`) and the λ / m EM
 * trajectories (`tests/datasets/splink2_*_history_*.csv`). This is the
 * strongest external anchor available: three independent implementations
 * (splink2, splink4, this engine) agreeing digit-for-digit.
 */
class SplinkParitySpec extends SparkSpec {

  private val ds = "/root/reference/tests/datasets"

  lazy val fake1000 = spark.read.option("header", "true")
    .schema("unique_id LONG, first_name STRING, surname STRING, " +
      "dob STRING, city STRING, email STRING, cluster LONG")
    .csv(s"$ds/fake_1000_from_splink_demos.csv")

  // basic_settings.py: λ = bayes_factor_to_prob(prob_to_bayes_factor(0.3)/9)
  private val glo = { val o = (0.3 / 0.7) / (0.9 / 0.1); o / (1 + o) }

  private def simple(c: String) = Comparison(c, Seq(
    ll.nullLevel(c),
    ll.exactMatch(c).withM(0.9).withU(0.1),
    ll.elseLevel.withM(0.1).withU(0.9)))

  def settings: LinkSettings = LinkSettings(
    linkType = LinkType.DedupeOnly,
    blockingRules = Seq(BlockingRule.blockOn("surname")),
    probabilityTwoRandomRecordsMatch = glo,
    comparisons = Seq(
      Comparison("first_name", Seq(
        ll.nullLevel("first_name"),
        ll.exactMatch("first_name", tfAdjustment = true)
          .withM(0.7).withU(0.1).copy(tfAdjustmentWeight = 0.6),
        ll.levenshtein("first_name", 2).withM(0.2).withU(0.1),
        ll.elseLevel.withM(0.1).withU(0.8))),
      simple("surname"), simple("dob"), simple("email"), simple("city")))

  test("predict reproduces splink2's match weight for pair (479, 481)") {
    val linker = new Linker(fake1000, settings)
    val row = linker.predict()
      .filter(col("unique_id_l") === 479 && col("unique_id_r") === 481)
      .select("match_weight", "match_probability").collect()
    assert(row.length == 1)
    // splink2_479_vs_481.csv: 0.5101493570766487 / 0.5874923778509089 —
    // exact match + tf(Jack, weight .6) + dob agree, city/email disagree
    assert(math.abs(row(0).getDouble(0) - 0.5101493570766487) < 1e-9,
      row(0).toString)
    assert(math.abs(row(0).getDouble(1) - 0.5874923778509089) < 1e-9)
  }

  private def assertTrajectory(expected: Seq[Double], actual: Seq[Double],
      what: String): Unit = {
    assert(actual.size >= expected.size, s"$what: only ${actual.size} iters")
    expected.zip(actual).zipWithIndex.foreach { case ((e, a), i) =>
      assert(math.abs(e - a) <= 1e-6 * math.abs(e), s"$what iter $i: $e vs $a")
    }
  }

  test("EM fixed-u blocked on surname reproduces splink2's λ and m paths") {
    val r = Training.expectationMaximisation(
      Seq("fake_1000" -> fake1000), settings, BlockingRule.blockOn("surname"),
      fixU = true, maxIterations = 20, tolerance = 0.001,
      withTermFrequencies = true)
    // session λ starts at 0.3: global glo odds x surname exact BF 9
    assertTrajectory(
      Seq(0.3, 0.2588110991484573, 0.2823831219907462),
      r.lambdaHistory, "λ fixed-u")
    val fn = r.activeComparisons.indexOf("first_name")
    assert(fn >= 0 && r.deactivated == Seq("surname"))
    assertTrajectory(
      Seq(0.2, 0.1422119783401823, 0.13468402611428465),
      r.mHistory.map(_(fn)(1)), "m[first_name lev<=2] fixed-u")
  }

  test("EM recovers the known generating parameters from the reference's " +
      "precomputed comparison vectors (test_correctness_of_convergence.py)") {
    // tests/datasets/known_params_comparison_vectors.csv was generated from
    // a KNOWN Fellegi-Sunter model (λ=0.5; col_1 m=[.3,.7] u=[.9,.1];
    // col_2 m=[.1,.9] u=[.975,.025]; col_3 m=[.05,.95] u=[.8,.2]) — free
    // EM from a generic init must converge back to it (the reference
    // asserts λ and m to 1%, and per-pattern probabilities to rel 1%)
    val cv = spark.read.option("header", "true")
      .schema("gamma_col_1 INT, gamma_col_2 INT, gamma_col_3 INT, " +
        "true_match_l INT, true_match_r INT, unique_id_l STRING, " +
        "unique_id_r STRING, true_match_probability_l DOUBLE, " +
        "true_match_probability_r DOUBLE, match_key STRING")
      .csv(s"$ds/known_params_comparison_vectors.csv")
    val rows = cv.groupBy("gamma_col_1", "gamma_col_2", "gamma_col_3")
      .agg(count(lit(1)).as("n"), first("true_match_probability_l").as("p"))
      .collect()
    val patterns = rows.map(r => Training.Pattern(
      Array(r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3)))
    val init = Array.fill(3)(Map(0 -> 0.4, 1 -> 0.6))
    val uInitArr = Array.fill(3)(Map(0 -> 0.6, 1 -> 0.4))
    val core = Training.emCore(patterns.toIndexedSeq, init, uInitArr,
      lambdaInit = 0.1, fixU = false, maxIterations = 200, tolerance = 1e-5)
    assert(core.converged)
    assert(math.abs(core.lambda - 0.5) < 0.005, s"λ ${core.lambda}")
    assert(math.abs(core.m(0)(1) - 0.7) < 0.01, s"m1 ${core.m(0)(1)}")
    assert(math.abs(core.m(1)(1) - 0.9) < 0.01)
    assert(math.abs(core.m(2)(1) - 0.95) < 0.01)
    assert(math.abs(core.u(0)(1) - 0.1) < 0.01)
    assert(math.abs(core.u(1)(1) - 0.025) < 0.01)
    assert(math.abs(core.u(2)(1) - 0.2) < 0.01)
    // converged model reproduces each pattern's TRUE match probability
    rows.foreach { r =>
      val gammas = Seq(r.getInt(0), r.getInt(1), r.getInt(2))
      var pm = core.lambda; var pu = 1 - core.lambda
      gammas.zipWithIndex.foreach { case (g, i) =>
        pm *= core.m(i)(g); pu *= core.u(i)(g) }
      val p = pm / (pm + pu)
      assert(math.abs(p - r.getDouble(4)) <= 0.01 * r.getDouble(4),
        s"pattern $gammas: $p vs ${r.getDouble(4)}")
    }
  }

  test("full workflow on fake_1000 recovers the ground-truth clusters") {
    // the complete user journey on the reference's primary fixture:
    // estimate u -> EM (m) under two blocking rules -> predict -> cluster,
    // then score pairwise against the ground-truth `cluster` column
    val trainedU = Training.estimateU(
      Seq("fake_1000" -> fake1000), settings, maxPairs = 400000L)
    val em1 = Training.expectationMaximisation(
      Seq("fake_1000" -> fake1000), trainedU,
      BlockingRule.blockOn("surname"), fixU = true)
    val em2 = Training.expectationMaximisation(
      Seq("fake_1000" -> fake1000), em1.settings,
      BlockingRule.blockOn("dob"), fixU = true)
    // predict under BOTH blocking rules so candidate recall isn't capped
    // by surname typos alone
    val predictSettings = em2.settings.copy(blockingRules = Seq(
      BlockingRule.blockOn("surname"), BlockingRule.blockOn("dob")))
    val linker = new Linker(fake1000, predictSettings)
    val clusters = linker
      .clusterPairwisePredictionsAtThreshold(linker.predict(), 0.9)
      .select(col("unique_id").cast("long").as("uid"), col("cluster_id"))
    val truth = fake1000.select(col("unique_id").as("uid"), col("cluster"))
    val joined = clusters.join(truth, Seq("uid"))
    // pairwise precision/recall via same-cluster pair counts:
    // n*(n-1)/2 within predicted, within true, and within both
    def pairCount(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Long =
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(sum(expr("CAST(n * (n - 1) / 2 AS BIGINT)"))).collect()(0).getLong(0)
    val predictedPairs = pairCount(joined, Seq("cluster_id"))
    val truePairs = pairCount(joined, Seq("cluster"))
    val bothPairs = pairCount(joined, Seq("cluster_id", "cluster"))
    val precision = bothPairs.toDouble / predictedPairs
    val recall = bothPairs.toDouble / truePairs
    info(f"pairwise precision $precision%.3f recall $recall%.3f " +
      f"($bothPairs/$predictedPairs/$truePairs)")
    assert(precision > 0.95, s"precision $precision")
    assert(recall > 0.5, s"recall $recall")
  }

  test("save/load model JSON round-trips trained state and predictions") {
    val linker = new Linker(fake1000, settings)
    linker.training.estimateParametersUsingExpectationMaximisation(
      BlockingRule.blockOn("surname"), withTermFrequencies = true)
    val path = java.nio.file.Files
      .createTempFile("graft-model", ".json").toString
    linker.saveModelToJson(path)
    val reloaded = Linker.fromModelJson(fake1000, path)
    def score(l: Linker) = l.predict()
      .select(col("unique_id_l"), col("unique_id_r"),
        round(col("match_weight"), 9))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(score(reloaded) == score(linker))
  }

  test("a model.json WRITTEN BY THE REFERENCE (duckdb dialect) loads and " +
      "predicts — docs/demos/demo_settings/saved_model_from_demo.json") {
    val loaded = SettingsJson.load(
      "/root/reference/docs/demos/demo_settings/saved_model_from_demo.json")
    // structural + literal anchors straight from the file
    assert(loaded.linkType == LinkType.DedupeOnly)
    assert(math.abs(loaded.probabilityTwoRandomRecordsMatch -
      0.00298012298012298) < 1e-18)
    assert(loaded.blockingRules.size == 3)
    assert(loaded.comparisons.map(_.levels.size) == Seq(6, 6, 4, 3, 6))
    val fnExact = loaded.comparisons.head.levels(1)
    assert(fnExact.m.contains(0.49092153055564214) &&
      fnExact.u.contains(0.006187690390473553) &&
      fnExact.tfColumn.contains("first_name"))
    assert(loaded.comparisons.head.levels.head.isNull)

    // Spark-SQL twin of every stored duckdb condition, written BY HAND
    // (independent of DialectSql); every numeric parameter copied by
    // level index, so any prediction difference isolates the translation
    def jw(c: String, t: Double) = s"jaro_winkler(${c}_l, ${c}_r) >= $t"
    def user(s: String) = s"NULLIF(regexp_extract($s, '^[^@]+', 0), '')"
    val twinConds = Seq(
      Seq("first_name_l IS NULL OR first_name_r IS NULL",
        "first_name_l = first_name_r", jw("first_name", 0.92),
        jw("first_name", 0.88), jw("first_name", 0.7), "ELSE"),
      Seq("surname_l IS NULL OR surname_r IS NULL",
        "surname_l = surname_r", jw("surname", 0.92),
        jw("surname", 0.88), jw("surname", 0.7), "ELSE"),
      Seq("CAST(dob_l AS STRING) IS NULL OR CAST(dob_r AS STRING) IS NULL",
        "CAST(dob_l AS STRING) = CAST(dob_r AS STRING)",
        "levenshtein(CAST(dob_l AS STRING), CAST(dob_r AS STRING)) <= 1",
        "ELSE"),
      Seq("city_l IS NULL OR city_r IS NULL", "city_l = city_r", "ELSE"),
      Seq("email_l IS NULL OR email_r IS NULL", "email_l = email_r",
        s"${user("email_l")} = ${user("email_r")}", jw("email", 0.88),
        s"jaro_winkler(${user("email_l")}, ${user("email_r")}) >= 0.88",
        "ELSE"))
    val twin = loaded.copy(
      comparisons = loaded.comparisons.zip(twinConds).map { case (c, conds) =>
        c.copy(levels = c.levels.zip(conds).map { case (lv, sql) =>
          lv.copy(sqlCondition = sql) })
      },
      blockingRules = Seq(
        BlockingRule.BlockOnRule(Seq("first_name", "city")),
        BlockingRule.blockOn("surname"), BlockingRule.blockOn("dob")))

    def score(s: LinkSettings) = new Linker(fake1000, s).predict()
      .select(col("unique_id_l"), col("unique_id_r"),
        round(col("match_weight"), 9))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = score(loaded)
    assert(got.nonEmpty)
    assert(got == score(twin))
  }

  test("duckdb date arithmetic from a reference model (model_h50k.json " +
      "dob levels) translates and evaluates") {
    val dk = """ABS(EPOCH(try_strptime("dob_l", '%Y-%m-%d')) - """ +
      """EPOCH(try_strptime("dob_r", '%Y-%m-%d'))) <= 2629800.0"""
    val translated = DialectSql.duckdbToSpark(dk)
    assert(translated == "ABS(unix_timestamp(try_to_timestamp(`dob_l`, " +
      "'yyyy-MM-dd')) - unix_timestamp(try_to_timestamp(`dob_r`, " +
      "'yyyy-MM-dd'))) <= 2629800.0")
    import spark.implicits._
    val got = Seq(("2001-01-05", "2001-01-20"), ("2001-01-05", "2003-06-01"),
      ("bad", "2001-01-01"))
      .toDF("dob_l", "dob_r")
      .selectExpr(s"coalesce($translated, false) AS hit")
      .as[Boolean].collect().toSeq
    assert(got == Seq(true, false, false))
    // duckdb's jaccard is char-SET jaccard -> the q=1 kernel, never the
    // jar-named bigram alias
    assert(DialectSql.duckdbToSpark(
      """jaccard("email_l", "email_r") >= 0.9""") ==
      "jaccard_chars(`email_l`, `email_r`) >= 0.9")
    // ArrayIntersectLevel rendering (dialects.py:351-355)
    assert(DialectSql.duckdbToSpark(
      """array_length(list_intersect("a_l", "a_r")) >= 2""") ==
      "size(array_intersect(`a_l`, `a_r`)) >= 2")
    // 1-based / negative bracket indexing -> element_at (dialects.py:362)
    assert(DialectSql.duckdbToSpark(""""names_l"[1] = "names_r"[-1]""") ==
      "element_at(`names_l`, 1) = element_at(`names_r`, -1)")
    // default timestamp format: literal T/Z must be quoted for java.time
    // (and the quotes themselves doubled inside the SQL string literal)
    assert(DialectSql.duckdbToSpark(
      """try_strptime("ts_l", '%Y-%m-%dT%H:%M:%SZ')""") ==
      "try_to_timestamp(`ts_l`, 'yyyy-MM-dd''T''HH:mm:ss''Z''')")
    val parsed = Seq(Tuple1("2021-03-04T05:06:07Z")).toDF("ts_l")
      .selectExpr(DialectSql.duckdbToSpark(
        """try_strptime("ts_l", '%Y-%m-%dT%H:%M:%SZ')""") + " AS t")
      .collect()(0).getTimestamp(0)
    assert(parsed != null && parsed.toString.startsWith("2021-03-04 05:06:07"))
    // element access evaluates 1-based like duckdb
    val firstLast = Seq(Tuple1(Seq("x", "y", "z"))).toDF("names_l")
      .selectExpr(
        DialectSql.duckdbToSpark(""""names_l"[1]""") + " AS f",
        DialectSql.duckdbToSpark(""""names_l"[-1]""") + " AS l")
      .collect()(0)
    assert(firstLast.getString(0) == "x" && firstLast.getString(1) == "z")
    // UNQUOTED identifiers index 1-based too (hand-written duckdb rules);
    // bracket content inside a string literal is untouched
    assert(DialectSql.duckdbToSpark("names_l[1] = 'a[1]'") ==
      "element_at(names_l, 1) = 'a[1]'")
    // consecutive literal letters share ONE java.time quote pair —
    // 'h''r''s' would be the literal h'r's, not hrs
    assert(DialectSql.duckdbToSpark("""try_strptime("t_l", '%H%Mhrs')""") ==
      "try_to_timestamp(`t_l`, 'HHmm''hrs''')")
    // the first argument may nest arbitrarily (balanced-paren walk, not a
    // one-level regex): a surviving %-format would be a silent all-NULL
    assert(DialectSql.duckdbToSpark(
      """try_strptime(substr(trim("x_l"), 1, 10), '%Y-%m-%d')""") ==
      "try_to_timestamp(substr(trim(`x_l`), 1, 10), 'yyyy-MM-dd')")
    val nested = Seq(Tuple1("  2021-03-04T05:06:07")).toDF("x_l")
      .selectExpr(DialectSql.duckdbToSpark(
        """try_strptime(substr(trim("x_l"), 1, 10), '%Y-%m-%d')""") + " AS t")
      .collect()(0).getTimestamp(0)
    assert(nested != null && nested.toString.startsWith("2021-03-04"))
    // a try_to_timestamp nested inside ANOTHER call's first argument is
    // rewritten too (true nesting, not just siblings) — its %-format must
    // not survive silently
    assert(DialectSql.duckdbToSpark(
      "try_strptime(coalesce(try_strptime(x_l, '%Y'), y_l), '%m')") ==
      "try_to_timestamp(coalesce(try_to_timestamp(x_l, 'yyyy'), y_l), 'MM')")
    // nested call under a NON-literal second argument also rewrites
    assert(DialectSql.duckdbToSpark(
      "try_to_timestamp(try_strptime(x_l, '%Y'), f_l)") ==
      "try_to_timestamp(try_to_timestamp(x_l, 'yyyy'), f_l)")
    // a %-format the walk CANNOT fix (non-literal second argument) fails
    // loudly instead of nulling every row
    assertThrows[IllegalArgumentException] {
      DialectSql.duckdbToSpark(
        """try_strptime("x_l", '%Y' || '-%m-%d')""")
    }
    // non-duckdb dialects: double-quoted identifiers must become backtick
    // identifiers, NOT Spark string literals ("a_l" = "a_r" would
    // otherwise silently evaluate as a constant comparison), and the cast
    // normalisation must not reach inside string literals
    assert(DialectSql.toSpark(""""a_l" = "a_r"""", "postgres") ==
      "`a_l` = `a_r`")
    assert(DialectSql.toSpark("x_l::VARCHAR = 'keep::text'", "spark") ==
      "x_l::STRING = 'keep::text'")
  }

  test("model_h50k.json (10 bare-SQL rules, 31 levels incl. date " +
      "arithmetic and postcode regexes) loads and scores end to end") {
    val loaded = SettingsJson.load(
      "/root/reference/docs/demos/demo_settings/model_h50k.json")
    assert(loaded.blockingRules.size == 10)
    assert(loaded.comparisons.map(_.outputColumnName) == Seq("first_name",
      "surname", "dob", "postcode_fake", "birth_place", "occupation"))
    import spark.implicits._
    // tiny h50k-shaped frame: one true-ish duplicate pair (typo'd surname,
    // dob off by a few days), one unrelated record, a null-heavy record
    val df = Seq(
      (1L, "thomas", "wright", "1837-03-04", "SE1 7PB", "london", "carpenter"),
      (2L, "thomas", "wrigth", "1837-03-11", "SE1 7PB", "london", "carpenter"),
      (3L, "amelia", "jones", "1851-09-30", "M1 1AE", "manchester", "weaver"),
      (4L, "thomas", null, null, null, "london", null))
      .toDF("unique_id", "first_name", "surname", "dob", "postcode_fake",
        "birth_place", "occupation")
    val scored = new Linker(df, loaded).predict()
    val pair = scored.filter(col("unique_id_l") === 1 && col("unique_id_r") === 2)
      .select("match_probability").collect()
    assert(pair.length == 1 && pair(0).getDouble(0) > 0.99,
      s"duplicate pair should score high: ${pair.toSeq}")
    // every gamma column evaluated (no level failed to parse/evaluate)
    val gammas = scored.columns.filter(_.startsWith("gamma_"))
    assert(gammas.length == 6, gammas.toSeq.toString)
  }

  test("real_time_settings.json (no sql_dialect field) loads and scores") {
    val loaded = SettingsJson.load(
      "/root/reference/docs/demos/demo_settings/real_time_settings.json")
    val scored = new Linker(fake1000, loaded).predict()
    assert(scored.count() > 0)
  }

  test("EVERY reference model/settings JSON sweeps through load -> " +
      "round-trip -> predict with identical scores") {
    // discovered at runtime, so new files in the reference repo are swept
    // automatically; each one is the reference's own in-the-wild surface
    val dir = new java.io.File("/root/reference/docs/demos/demo_settings")
    assert(dir.isDirectory, s"reference settings directory $dir is missing")
    val files = dir.listFiles().filter(_.getName.endsWith(".json"))
      .map(_.getAbsolutePath).sorted
    assert(files.length >= 3, s"expected the known model files, got " +
      files.mkString(", "))
    files.foreach { path =>
      val loaded = SettingsJson.load(path)
      val roundTripped = SettingsJson.fromJson(SettingsJson.toJson(loaded))
      // synthetic input covering every column the model touches; every
      // other record is a near-duplicate so blocking always fires
      val cols = (loaded.allInputColumns ++
        loaded.blockingRules.flatMap(graft.operators.Blocking.ruleColumns) ++
        loaded.additionalColumnsToRetain)
        .distinct.filterNot(_ == loaded.uniqueIdColumn)
      val rows = (0 until 120).map { i =>
        val base = i / 2 // pairs of duplicates
        org.apache.spark.sql.Row.fromSeq(i.toLong +: cols.map { c =>
          val lc = c.toLowerCase
          if (lc.contains("dob") || lc.contains("date"))
            f"19${50 + base % 40}%02d-0${1 + base % 9}-1${base % 9}"
          else if (lc.contains("postcode")) s"SE${base % 20} ${base % 9}AB"
          else s"${c}_v${base % 25}"
        })
      }
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField(loaded.uniqueIdColumn,
          org.apache.spark.sql.types.LongType, nullable = false) +:
          cols.map(c => org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType, nullable = true)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 2), schema)
      def run(s: LinkSettings) = new Linker(df, s).predict()
        .select(col("unique_id_l"), col("unique_id_r"),
          round(col("match_weight"), 9).as("w"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val original = run(loaded)
      assert(original.nonEmpty, s"$path: predict smoke produced no pairs")
      assert(run(roundTripped) == original,
        s"$path: round-tripped settings diverged from loaded settings")
    }
  }

  test("the reference test suite's canonical settings dict " +
      "(tests/basic_settings.py get_settings_dict) loads verbatim and " +
      "scores fake_1000 identically to the native model") {
    // the dict the reference uses across dozens of its own tests, as JSON
    val json =
      """{
        |  "probability_two_random_records_match": 0.045454545454545456,
        |  "link_type": "dedupe_only",
        |  "blocking_rules_to_generate_predictions": ["l.surname = r.surname"],
        |  "comparisons": [
        |    {"output_column_name": "first_name", "comparison_levels": [
        |      {"sql_condition": "first_name_l IS NULL OR first_name_r IS NULL",
        |       "label_for_charts": "null", "is_null_level": true},
        |      {"sql_condition": "first_name_l = first_name_r",
        |       "label_for_charts": "Exact match",
        |       "m_probability": 0.7, "u_probability": 0.1,
        |       "tf_adjustment_column": "first_name", "tf_adjustment_weight": 0.6},
        |      {"sql_condition": "levenshtein(first_name_l, first_name_r) <= 2",
        |       "label_for_charts": "levenshtein <= 2",
        |       "m_probability": 0.2, "u_probability": 0.1},
        |      {"sql_condition": "ELSE", "label_for_charts": "else",
        |       "m_probability": 0.1, "u_probability": 0.8}]},
        |    {"output_column_name": "surname", "comparison_levels": [
        |      {"sql_condition": "surname_l IS NULL OR surname_r IS NULL",
        |       "label_for_charts": "null", "is_null_level": true},
        |      {"sql_condition": "surname_l = surname_r",
        |       "label_for_charts": "Exact match",
        |       "m_probability": 0.9, "u_probability": 0.1},
        |      {"sql_condition": "ELSE", "label_for_charts": "else",
        |       "m_probability": 0.1, "u_probability": 0.9}]},
        |    {"output_column_name": "dob", "comparison_levels": [
        |      {"sql_condition": "dob_l IS NULL OR dob_r IS NULL",
        |       "label_for_charts": "null", "is_null_level": true},
        |      {"sql_condition": "dob_l = dob_r",
        |       "label_for_charts": "Exact match",
        |       "m_probability": 0.9, "u_probability": 0.1},
        |      {"sql_condition": "ELSE", "label_for_charts": "else",
        |       "m_probability": 0.1, "u_probability": 0.9}]},
        |    {"output_column_name": "email", "comparison_levels": [
        |      {"sql_condition": "email_l IS NULL OR email_r IS NULL",
        |       "label_for_charts": "null", "is_null_level": true},
        |      {"sql_condition": "email_l = email_r",
        |       "label_for_charts": "Exact match",
        |       "m_probability": 0.9, "u_probability": 0.1},
        |      {"sql_condition": "ELSE", "label_for_charts": "else",
        |       "m_probability": 0.1, "u_probability": 0.9}]},
        |    {"output_column_name": "city", "comparison_levels": [
        |      {"sql_condition": "city_l IS NULL OR city_r IS NULL",
        |       "label_for_charts": "null", "is_null_level": true},
        |      {"sql_condition": "city_l = city_r",
        |       "label_for_charts": "Exact match",
        |       "m_probability": 0.9, "u_probability": 0.1},
        |      {"sql_condition": "ELSE", "label_for_charts": "else",
        |       "m_probability": 0.1, "u_probability": 0.9}]}
        |  ],
        |  "em_convergence": 0.001,
        |  "max_iterations": 20
        |}""".stripMargin
    val fromJson = SettingsJson.fromJson(json)
    def run(s: LinkSettings) = new Linker(fake1000, s).predict()
      .select(col("unique_id_l"), col("unique_id_r"),
        round(col("match_weight"), 9).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaJson = run(fromJson)
    assert(viaJson == run(settings),
      "JSON-loaded basic settings must score identically to the native model")
    // and the anchor pair still reproduces splink2's published weight
    assert(viaJson.exists { case (l, r, w) =>
      l == 479L && r == 481L && math.abs(w - 0.510149357) < 1e-6 })
  }

  test("EM free-u blocked on surname reproduces splink2's λ and m paths") {
    val r = Training.expectationMaximisation(
      Seq("fake_1000" -> fake1000), settings, BlockingRule.blockOn("surname"),
      fixU = false, maxIterations = 20, tolerance = 0.001,
      withTermFrequencies = true)
    assertTrajectory(
      Seq(0.3, 0.2588110991484573, 0.2954053465070158),
      r.lambdaHistory, "λ free-u")
    val fn = r.activeComparisons.indexOf("first_name")
    assertTrajectory(
      Seq(0.2, 0.1422119783401823, 0.1568402413576787),
      r.mHistory.map(_(fn)(1)), "m[first_name lev<=2] free-u")
  }
}
