package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.model._
import graft.operators.{Blocking, Decide, Materialise}
import graft.operators.Materialise.Ops

/** Partitioning: salted blocking's smaller max task, and the one
  * partitioning decision ([[Decide.widen]]): what it measures, the case it
  * exists for (pair expansion over a one-row-group file), and that it
  * neither widens a frame already split wide enough nor runs a job. */
class RepartitionSpec extends SparkSpec {
  import spark.implicits._

  /** Run `body` with spark.sql.shuffle.partitions temporarily overridden. */
  private def withShufflePartitions[A](n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** 240 people over few surnames, cities and birth years: every rule of
    * [[fourRules]] blocks many pairs. */
  val people: Seq[(Long, String, String, String, Int)] = (0 until 240).map(i =>
    (i.toLong, s"f${i % 13}", s"s${i % 9}", s"c${i % 7}", 1950 + i % 11))

  val fourRules = LinkSettings(linkType = LinkType.DedupeOnly,
    blockingRules = Seq(BlockingRule.blockOn("surname"),
      BlockingRule.blockOn("first_name", "city"),
      BlockingRule.blockOn("city", "yob"),
      BlockingRule.blockOn("first_name", "yob")))

  /** Brute force: every id pair (l < r) that any rule catches. */
  val bruteForcePairs: Long = (for {
    a <- people; b <- people if a._1 < b._1
    if a._3 == b._3 || (a._2 == b._2 && a._4 == b._4) ||
      (a._4 == b._4 && a._5 == b._5) || (a._2 == b._2 && a._5 == b._5)
  } yield 1L).sum

  /** `people` written as `files` parquet files (one row group each). */
  def parquet(files: Int): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-widen").toString
    people.toDF("unique_id", "first_name", "surname", "city", "yob")
      .repartition(files).write.mode("overwrite").parquet(dir + "/p")
    spark.read.parquet(dir + "/p")
  }

  def planString(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("salted hot-key blocking: identical pair set, smaller max task") {
    withShufflePartitions(8) {
      // one pathologically hot key: 400 of 480 rows share segment 'HOT',
      // so the unsalted join puts ~80k pairs in ONE shuffle partition
      val rows = (1L to 480L).map(i =>
        (i, if (i <= 400) "HOT" else s"cold${i % 8}"))
      val df = rows.toDF("unique_id", "seg")
      def pairs(salts: Int) = graft.operators.Blocking.blockedIdPairs(df,
        LinkSettings(linkType = LinkType.DedupeOnly,
          blockingRules = Seq(BlockingRule.BlockOnRule(Seq("seg"), salts))))
      val unsalted = pairs(1)
      val salted = pairs(4)
      // correctness: the salted union is the SAME pair set
      val u = unsalted.select("join_key_l", "join_key_r")
        .as[(String, String)].collect().sorted.toSeq
      val s4 = salted.select("join_key_l", "join_key_r")
        .as[(String, String)].collect().sorted.toSeq
      assert(s4 == u && u.nonEmpty)
      // scale shape: per-task output spread shrinks ~x salts — each salted
      // sub-join carries 1/salts of the hot key's left rows
      def maxTaskRows(d: org.apache.spark.sql.DataFrame): Long =
        d.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().max
      val mu = maxTaskRows(unsalted)
      val ms = maxTaskRows(salted)
      assert(ms * 2 <= mu, s"salted max task $ms vs unsalted $mu")
    }
  }

  test("SaltAdvisor: blocking analysis sizes the salt, salted rule keeps " +
      "the pair set and shrinks the max task") {
    withShufflePartitions(8) {
      val rows = (1L to 480L).map(i =>
        (i, if (i <= 400) "HOT" else s"cold${i % 8}"))
      val df = rows.toDF("unique_id", "seg")
      val rule = BlockingRule.BlockOnRule(Seq("seg"))
      val advice = graft.operators.SaltAdvisor.advise(df, rule)
      // 400 of 480 rows share one key; even share = 480/8 = 60 rows/task
      // -> ceil(400/60) = 7 salted sub-joins
      assert(advice.largestBlockRows === 400L && advice.totalRows === 480L)
      assert(advice.recommendedSalts === 7)
      def pairs(r: BlockingRule) = graft.operators.Blocking.blockedIdPairs(df,
        LinkSettings(linkType = LinkType.DedupeOnly, blockingRules = Seq(r)))
      val unsalted = pairs(rule)
      val salted = pairs(advice.applied)
      val u = unsalted.select("join_key_l", "join_key_r")
        .as[(String, String)].collect().sorted.toSeq
      val s7 = salted.select("join_key_l", "join_key_r")
        .as[(String, String)].collect().sorted.toSeq
      assert(s7 == u && u.nonEmpty)
      def maxTaskRows(d: org.apache.spark.sql.DataFrame): Long =
        d.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().max
      assert(maxTaskRows(salted) * 2 <= maxTaskRows(unsalted))
      // an evenly-distributed key needs no salt
      val even = (1L to 480L).map(i => (i, s"seg${i % 8}"))
        .toDF("unique_id", "seg")
      assert(graft.operators.SaltAdvisor.advise(even, rule)
        .recommendedSalts === 1)
    }
  }

  test("SaltAdvisor: a mostly-null key column is not a hot block") {
    withShufflePartitions(8) {
      // 400 null keys never equi-join (l.k = r.k is null-false), so the
      // hottest REAL block is the 10-row cold one — no salt needed
      val rows = (1L to 480L).map(i =>
        (i, if (i <= 400) None else Some(s"cold${i % 8}")))
      val df = rows.toDF("unique_id", "seg")
      val rule = BlockingRule.BlockOnRule(Seq("seg"))
      val advice = graft.operators.SaltAdvisor.advise(df, rule)
      assert(advice.largestBlockRows === 10L, s"got $advice")
      assert(advice.totalRows === 80L)
      assert(advice.recommendedSalts === 1)
    }
  }

  test("widen repartitions a narrow localCheckpoint'd frame (no stats)") {
    withShufflePartitions(16) {
      // a LogicalRDD leaf has no size stats; its task count comes off the
      // materialised RDD
      val narrow = Seq.tabulate(64)(i => (i.toLong, s"d$i")).toDF("id", "t")
        .repartition(2).localCheckpoint()
      assert(Materialise.scanTasks(narrow) === 2)
      assert(narrow.widened("test.narrow").rdd.getNumPartitions === 16,
        "kernel-heavy callers must never inherit a tiny checkpoint's task count")
      // an already-wide checkpoint is left alone (no pointless exchange)
      val wide = Seq.tabulate(64)(i => (i.toLong, s"d$i")).toDF("id", "t")
        .repartition(16).localCheckpoint()
      assert(wide.widened("test.wide") eq wide)
      // derived (non-leaf) plans over the checkpoint still read the leaf
      val derived = narrow.filter(col("id") >= 0).select(col("id"))
      assert(derived.widened("test.derived").rdd.getNumPartitions === 16)
    }
  }

  test("a one-row-group file still expands pairs on every shuffle partition, " +
      "through one widening shuffle") {
    val target = Decide.parallelism(spark)
    val input = parquet(1)
    assert(Materialise.scanTasks(input) === 1)
    val pairs = Blocking.blockedIdPairs(input, fourRules)
    assert(pairs.count() === bruteForcePairs)
    // each rule's pairs come out of every widened partition, not one task
    val spread = pairs.select(col(Cols.MatchKey), spark_partition_id())
      .as[(String, Int)].collect().distinct.groupBy(_._1)
      .map { case (k, ps) => k -> ps.length }
    assert(spread.keySet == Set("0", "1", "2", "3"), spread)
    spread.values.foreach(t => assert(t >= target, spread))
    // one shuffle serves all four rules and both sides: every branch reads
    // the same widened leaf, and no rule plans a round-robin exchange
    val leaves = pairs.queryExecution.optimizedPlan.collect {
      case l: LogicalRDD => l.rdd.id
    }
    assert(leaves.size >= 4 && leaves.distinct.size == 1, leaves)
    assert(!planString(pairs).contains("RoundRobinPartitioning"),
      planString(pairs))
  }

  test("an input already scanned on every core is not widened") {
    val input = parquet(Decide.parallelism(spark))
    // the scan packs small files, so it plans fewer tasks than files; each
    // task it plans works, and there are as many as cores
    assert(Materialise.scanTasks(input) === input.rdd.getNumPartitions)
    assert(Materialise.scanTasks(input) >=
      spark.sparkContext.defaultParallelism)
    val pairs = Blocking.blockedIdPairs(input, fourRules)
    assert(pairs.count() === bruteForcePairs)
    assert(pairs.queryExecution.optimizedPlan.collect {
      case l: LogicalRDD => l }.isEmpty)
    assert(!planString(pairs).contains("RoundRobinPartitioning"),
      planString(pairs))
  }

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val group = s"widen-${System.nanoTime}"
    val started = new AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(g) if g == group + "-marker" => marker.countDown()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "widen decision")
      val out = body
      // listener events arrive in order: once the marker job is seen,
      // any job `body` started has been counted
      spark.sparkContext.setJobGroup(group + "-marker", "marker")
      spark.range(1).count()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, started.get)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("the widening decision runs no Spark job") {
    val input = parquet(1)
    val (_, jobs) = jobsDuring {
      val widened = Blocking.narrow(input, fourRules).widened("test.no_job")
      assert(widened.queryExecution.optimizedPlan.isInstanceOf[LogicalRDD])
      Blocking.blockedIdPairs(input, fourRules)
    }
    assert(jobs === 0)
  }

  test("a persisted frame counts its built cache's partitions; an unbuilt " +
      "cache is widened") {
    assert(spark.sparkContext.defaultParallelism === 4)
    val cached = spark.range(0, 10000, 1, 8).toDF("id").persist()
    try {
      // nothing is read off a cache whose blocks are not built yet
      assert(Materialise.scanTasks(cached) === 0)
      assert(!(cached.widened("test.unbuilt") eq cached))
      assert(cached.count() === 10000)
      val (kept, jobs) = jobsDuring(cached.widened("test.built"))
      assert(kept eq cached, "8 built partitions at 4 cores are kept")
      assert(jobs === 0)
      assert(Materialise.scanTasks(cached.filter(col("id") > 5)) === 8)
    } finally cached.unpersist()
  }
}
