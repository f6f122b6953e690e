package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Approximate-nearest-neighbour search over an embedding column
 * (`array<float>`). Two paths:
 *
 *  - [[bruteForceTopK]]: exact — broadcast the (small) query set against the
 *    full corpus; one scan, no shuffle of the corpus. The right baseline and
 *    the correctness oracle for the approximate paths.
 *  - [[lshTopK]]: random-hyperplane LSH — signature bucket join, then exact
 *    re-rank inside buckets. The 100TB path: the corpus is shuffled only by
 *    bucket key, never all-pairs.
 */
object AnnOps {

  import DedupOps.cosine
  import graft.operators.Materialise.Ops

  /** Exact top-k by cosine: queries × corpus. The query side is broadcast —
    * corpus never shuffles. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      queryIdCol: String = "vec_id", corpusIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"))
    // widen the streamed corpus side: the per-pair cosine re-rank must not
    // inherit a single-row-group scan's one-task parallelism (no-op at scale)
    val c = corpus.select(col(corpusIdCol).as("neighbour_id"), col(vecCol).as("cv"))
      .widened("ann.corpus")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        round(cosine(col("qv"), col("cv")), 9).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("neighbour_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random unit hyperplanes (fixed seed). */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Bit-signature of a vector against the planes: bit b = dot(vec, plane_b) > 0.
    * Native dot kernel — `bits` interpreted higher-order folds per row
    * would dominate the signature scan otherwise. */
  def signature(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (plane, b) =>
      val dot = graft.functions.funcs.dot_product(vec, typedLit(plane.toSeq))
      when(dot > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Driver-side Lloyd's k-means over a sampled, collected subset — the
    * IVF coarse quantizer. Centroid counts are tiny (<=256) so this is
    * driver math; only assignment runs on the cluster. Deterministic:
    * seeded init from the sample.
    *
    * The sample is bottom-k by a portable hash of the id — a uniform
    * deterministic sample over the WHOLE corpus with no prior count().
    * (`limit(n)` would take the first partitions' rows: at 100TB the
    * quantizer would train on one file's vectors and produce skewed cells
    * — one hot cell, one giant task.) Runs as a distributed top-k (per-
    * partition limit + merge), never a full sort. */
  def trainCentroids(corpus: DataFrame, vecCol: String, nCells: Int,
      sampleSize: Int = 4096, iterations: Int = 10, seed: Long = 42L,
      idCol: String = "vec_id"): Array[Array[Double]] = {
    val sample = corpus
      .select(col(vecCol), TextOps.portableHash(col(idCol)).as("__h"))
      .orderBy("__h").limit(sampleSize)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: java.lang.Float => f.toDouble
        case n: java.lang.Number => n.doubleValue
      }.toArray)
    require(sample.nonEmpty, "empty corpus")
    val rng = new scala.util.Random(seed)
    var centroids = rng.shuffle(sample.toVector).take(nCells).toArray
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    for (_ <- 1 to iterations) {
      val sums = Array.fill(centroids.length)(new Array[Double](sample.head.length))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue
        for (c <- centroids.indices) {
          val d = dist2(v, centroids(c)); if (d < bd) { bd = d; best = c }
        }
        counts(best) += 1
        for (i <- v.indices) sums(best)(i) += v(i)
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  /** Fully distributed Lloyd's k-means over the WHOLE corpus (not the
    * [[trainCentroids]] sample): per iteration, every vector is assigned
    * to its nearest centroid with the codegen'd [[cellAssignment]] kernel
    * (broadcast centroid literals), and the new means come from ONE
    * `posexplode + groupBy(cell, dim)` aggregation — map-side partial
    * aggregation means each partition ships only k x d partial sums, so
    * an iteration costs one scan plus a k x d-row collect regardless of
    * corpus size. Deterministic: seeded init from the portable-hash
    * bottom-k ([[DedupOps.seedCentroids]]), ties in assignment break to
    * the lower cell index. Empty cells keep their previous centroid.
    *
    * Use for curation-grade clustering of an embedding corpus (domain
    * discovery, stratified mixing); [[trainCentroids]] remains the cheap
    * sample-based quantizer for IVF.
    */
  def kmeansFit(corpus: DataFrame, vecCol: String, k: Int,
      iterations: Int = 10, idCol: String = "vec_id")
      : Array[Array[Double]] = {
    require(k >= 1 && iterations >= 0, "k and iterations must be positive")
    val valid = corpus.filter(col(vecCol).isNotNull &&
      size(col(vecCol)) > 0 && !exists(col(vecCol), _.isNull))
    var centroids = graft.pipeline.DedupOps.seedCentroids(
      corpus, idCol, vecCol, k)
    for (_ <- 1 to iterations) {
      val rows = valid
        .select(cellAssignment(col(vecCol), centroids).as("cell"),
          posexplode(col(vecCol).cast("array<double>")).as(Seq("i", "x")))
        .groupBy(col("cell"), col("i"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byCell = rows.groupBy(_.getAs[Number]("cell").intValue)
      centroids = centroids.indices.map { c =>
        byCell.get(c) match {
          case Some(rs) => rs.sortBy(_.getAs[Int]("i"))
            .map(r => r.getAs[Double]("s") / r.getAs[Long]("n")).toArray
          case None => centroids(c)
        }
      }.toArray
    }
    centroids
  }

  /** Assign every row to its nearest [[kmeansFit]] centroid. */
  def kmeansAssign(df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    df.withColumn("cell", cellAssignment(col(vecCol), centroids))

  /** Column: index of the nearest centroid (squared-L2, native kernel). */
  def cellAssignment(vec: Column, centroids: Array[Array[Double]]): Column = {
    val dists = centroids.map(ctr =>
      graft.functions.funcs.l2_sq(vec, typedLit(ctr.toSeq)))
    // argmin via struct sort: array of (dist, idx) -> min's idx
    val pairs = array(dists.zipWithIndex.map { case (d, i) =>
      struct(d.as("d"), lit(i).as("i")) }: _*)
    array_min(pairs).getField("i")
  }

  /** Column: the `nProbe` nearest centroid indices (for the query side). */
  def probeCells(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    val dists = centroids.map(ctr =>
      graft.functions.funcs.l2_sq(vec, typedLit(ctr.toSeq)))
    val pairs = array(dists.zipWithIndex.map { case (d, i) =>
      struct(d.as("d"), lit(i).as("i")) }: _*)
    transform(slice(array_sort(pairs), 1, nProbe), p => p.getField("i"))
  }

  /**
   * IVF top-k: corpus partitioned into `nCells` Voronoi cells of a sampled
   * k-means quantizer; each query scans only its `nProbe` nearest cells.
   * The 100TB shape: corpus shuffles once by cell id; queries broadcast.
   */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      queryIdCol: String = "vec_id", corpusIdCol: String = "vec_id",
      vecCol: String = "embedding", seed: Long = 42L): DataFrame = {
    val centroids = trainCentroids(corpus, vecCol, nCells, seed = seed,
      idCol = corpusIdCol)
    // widen BEFORE cell assignment so the kernel scan parallelises too
    val craw = corpus.select(col(corpusIdCol).as("neighbour_id"), col(vecCol).as("cv"))
      .widened("ann.corpus")
    val c = craw.select(col("neighbour_id"), col("cv"),
      cellAssignment(col("cv"), centroids).as("cell"))
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"),
      explode(probeCells(col(vecCol), centroids, nProbe)).as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        round(cosine(col("qv"), col("cv")), 9).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("neighbour_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Unit-normalise then symmetric int8 scalar quantisation:
    * `q_i = round(127 * x_i / ||x||)`. The scaled value is rounded to 9dp
    * BEFORE the integer round so the grid is engine-portable (sub-ulp
    * divergence between float stacks cannot flip a cell). At 100 TB this
    * is the memory dial: a 64-dim float corpus shrinks 4x, and candidate
    * scoring becomes exact integer math. */
  def quantizeInt8(vec: Column): Column = {
    val norm = sqrt(graft.functions.funcs.dot_product(vec, vec))
    transform(vec,
      x => round(round(x / norm * 127.0, 9), 0).cast("int"))
  }

  /**
   * Top-k by integer dot product over int8-quantised vectors — the
   * quantised tier of a two-stage retrieval (follow with an exact re-rank
   * of the survivors when recall matters; see AnnSpec). Scores are exact
   * integers (|dot| <= 127²·dim, lossless in any engine), so ranking is
   * fully deterministic — no float comparison anywhere past quantisation.
   */
  def int8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
      queryIdCol: String = "vec_id", corpusIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(queryIdCol).as("query_id"),
      quantizeInt8(col(vecCol)).as("qq"))
    val c = corpus.select(col(corpusIdCol).as("neighbour_id"), col(vecCol).as("cv"))
      .widened("ann.corpus")
      .select(col("neighbour_id"), quantizeInt8(col("cv")).as("cq"))
    // int values are exact in the double kernel up to 2^53 — the sum is a
    // lossless integer for any realistic dim
    val dot = graft.functions.funcs
      .dot_product(col("cq").cast("array<double>"), col("qq").cast("array<double>"))
      .cast("bigint")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"), dot.as("dot_i8"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("dot_i8"), asc("neighbour_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /**
   * Multi-table hyperplane-LSH top-k: `tables` independent signatures of
   * `bits` bits each; a corpus vector is a candidate for a query if ANY
   * table buckets them together (single-table exact-signature match has
   * recall ~p^bits with p = 1 - angle/pi — far too strict on its own).
   * Exact cosine re-rank inside the candidate set. Recall/cost dial:
   * more tables or fewer bits -> higher recall, bigger buckets.
   */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, bits: Int = 8,
      tables: Int = 8, queryIdCol: String = "vec_id",
      corpusIdCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42L): DataFrame = {
    val dim = corpus.select(size(col(vecCol))).first().getInt(0)
    val tablePlanes = (0 until tables).map(t => hyperplanes(dim, bits, seed + t))
    // all `tables` signatures from ONE fused kernel pass over the vector
    // (bit-identical to per-plane dot_product folds; see HyperplaneKernel)
    val planeTensor = tablePlanes.toArray
    def sigs(vec: Column): Column =
      graft.functions.funcs.hyperplane_sigs(vec, planeTensor)
    val q = queries.select(col(queryIdCol).as("query_id"), col(vecCol).as("qv"),
      posexplode(sigs(col(vecCol))).as(Seq("t", "sig")))
    // widen BEFORE the signature explode so the kernel scan parallelises
    val craw = corpus.select(col(corpusIdCol).as("neighbour_id"), col(vecCol).as("cv"))
      .widened("ann.corpus")
    val c = craw.select(col("neighbour_id"), col("cv"),
      posexplode(sigs(col("cv"))).as(Seq("t", "sig")))
    val scored = c.join(broadcast(q), Seq("t", "sig"))
      .filter(col("query_id") =!= col("neighbour_id"))
      .select(col("query_id"), col("neighbour_id"),
        round(cosine(col("qv"), col("cv")), 9).as("cosine"))
      .distinct() // a pair can collide in several tables
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cosine"), asc("neighbour_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
