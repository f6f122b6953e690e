package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model._
import graft.model.{LevelLibrary => ll}
import graft.operators.Materialise

/** Cache / table-management surface (`linker_components/table_management.py`,
  * `inference.py:124-158`): pre-computed blocked pairs drive predict,
  * cache invalidation recomputes, query_sql exposes named intermediates. */
class TableManagementSpec extends SparkSpec {
  import spark.implicits._

  /** Cached partitions of a block-backed lineage break's leaf RDD. */
  private def cachedPartitions(df: DataFrame): Int = {
    val rdd = df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case other => fail(s"expected a LogicalRDD leaf, got:\n$other")
    }
    spark.sparkContext.getRDDStorageInfo.find(_.id == rdd.id)
      .fold(0)(_.numCachedPartitions)
  }

  /** Scratch directories under a parquet lineage break. */
  private def scratchFiles(df: DataFrame): Seq[java.io.File] =
    df.queryExecution.optimizedPlan.collectLeaves().collect {
      case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        rel.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(p => new java.io.File(p.toUri.getPath))
          case _ => Nil
        }
    }.flatten

  private def records = Seq(
    (0L, "John", "London"), (1L, "John", "Leeds"), (2L, "John", "London"),
    (3L, "Mary", "London"), (4L, "Mary", "Luton"), (5L, "Zoe", "York")
  ).toDF("unique_id", "first_name", "city")

  private def settings = LinkSettings(
    linkType = LinkType.DedupeOnly,
    blockingRules = Seq(BlockingRule.blockOn("first_name")),
    comparisons = Seq(
      Comparison("city", Seq(
        ll.nullLevel("city"),
        ll.exactMatch("city").withM(0.9).withU(0.2),
        ll.elseLevel.withM(0.1).withU(0.8)))),
    probabilityTwoRandomRecordsMatch = 0.05)

  test("registered blocked pairs are scored exactly, replacing rule blocking") {
    val linker = new Linker(records, settings)
    assert(linker.predict().count() == 4) // John C(3,2)=3, Mary 1, Zoe 0
    // registered subset: only one pair
    val one = Seq(("0", 0L, 2L)).toDF("match_key", "join_key_l", "join_key_r")
    linker.registerBlockedPairsForPredict(one)
    val out = linker.predict()
    assert(out.count() == 1)
    val r = out.select("unique_id_l", "unique_id_r").collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 2L)
  }

  test("computeBlockedPairsForPredict materialises once and predict reuses it") {
    val linker = new Linker(records, settings)
    val pairs = linker.computeBlockedPairsForPredict()
    val direct = linker.predict()
    assert(direct.count() == pairs.count())
    // identical scored pair set to a fresh linker's rule-driven predict
    val fresh = new Linker(records, settings).predict()
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select("unique_id_l", "unique_id_r").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keys(direct) == keys(fresh))
  }

  test("predictChunked refuses registered pairs; invalidateCache restores it") {
    val linker = new Linker(records, settings)
    linker.computeBlockedPairsForPredict()
    val e = intercept[IllegalStateException](linker.predictChunked(2))
    assert(e.getMessage.contains("registerBlockedPairsForPredict"))
    linker.invalidateCache()
    assert(linker.predictChunked(2).count() == linker.predict().count())
  }

  test("invalidateCache releases the materialised blocked-pairs copy " +
      "(persist policy: storage freed, not just the reference dropped)") {
    Materialise.withSessionPolicy(spark, Materialise.PersistPolicy) {
      val linker = new Linker(records, settings)
      val pairs = linker.computeBlockedPairsForPredict()
      assert(cachedPartitions(pairs) > 0,
        "compute should have persisted the pairs frame's blocks")
      linker.invalidateCache()
      assert(cachedPartitions(pairs) == 0,
        "invalidateCache must drop the materialised pairs copy's blocks")
      // persist keeps lineage: a held copy recomputes
      assert(pairs.count() == 4)
      // and predict still works from scratch afterwards
      assert(linker.predict().count() == 4)
    }
  }

  test("invalidateCache frees only graft's copies, under every other policy") {
    Seq(Materialise.LocalCheckpointPolicy, Materialise.CheckpointPolicy,
        Materialise.ParquetPolicy).foreach { p =>
      Materialise.withSessionPolicy(spark, p) {
        val linker = new Linker(records, settings)
        val pairs = linker.computeBlockedPairsForPredict()
        val scratch = scratchFiles(pairs)
        if (p == Materialise.ParquetPolicy) assert(scratch.exists(_.exists))
        else assert(cachedPartitions(pairs) > 0, s"blocks under ${p.name}")
        linker.invalidateCache()
        if (p == Materialise.ParquetPolicy)
          assert(!scratch.exists(_.exists), "scratch files must be deleted")
        else assert(cachedPartitions(pairs) == 0, s"blocks under ${p.name}")
        // a held copy is dead: without lineage it fails loudly; a reliable
        // checkpoint re-reads its files
        if (p == Materialise.CheckpointPolicy) assert(pairs.count() == 4)
        else intercept[Exception](pairs.count())
        assert(linker.predict().count() == 4, s"predict under ${p.name}")
      }
    }
    // a frame the caller registered is the caller's: its cache survives
    val linker = new Linker(records, settings)
    val mine = Seq(("0", 0L, 2L)).toDF("match_key", "join_key_l", "join_key_r")
      .cache()
    assert(mine.count() == 1)
    linker.registerBlockedPairsForPredict(mine)
    linker.invalidateCache()
    assert(mine.storageLevel != StorageLevel.NONE,
      "invalidateCache must not unpersist a caller's frame")
    mine.unpersist()
  }

  test("registerBlockedPairsForPredict validates the frame's columns") {
    val linker = new Linker(records, settings)
    val bad = Seq((0L, 2L)).toDF("join_key_l", "join_key_r")
    val e = intercept[IllegalArgumentException](
      linker.registerBlockedPairsForPredict(bad))
    assert(e.getMessage.contains("match_key"))
  }

  test("querySql exposes inputs and named intermediates as views") {
    val linker = new Linker(records, settings)
    val n = linker.querySql(
      "SELECT count(*) AS n FROM `__splink__df_concat`").collect()(0).getLong(0)
    assert(n == 6L)
    val byName = linker.querySql(
      "SELECT count(DISTINCT first_name) AS n FROM `__input`")
      .collect()(0).getLong(0)
    assert(byName == 3L)
  }
}
