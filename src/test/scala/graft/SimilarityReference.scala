package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sim.Similarity

/** Declarative reference forms of the sim layer's fused kernels, written
  * with built-in higher-order functions, joins and `least` only. The specs
  * compare each kernel in `Similarity` with its form here, and rank by
  * [[cosineDeclarative]] to measure how far the quantized score moves a
  * float ranking. */
object SimilarityReference {

  /** Σ over the array, sequential left-to-right in double precision. */
  private def dsum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column =
    dsum(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))

  def norm(a: Column): Column =
    sqrt(dsum(transform(a, x => x.cast("double") * x.cast("double"))))

  /** Double-precision cosine of raw float vectors, accumulated left to
    * right; 0 for zero vectors. `src/main` scores only with
    * [[Similarity.intCosine]]; this is the float score it stands in for. */
  def cosineDeclarative(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, 0.0).otherwise(d / nn)
  }

  def intDot(qa: Column, qb: Column): Column =
    aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** [[Similarity.intCosine]]. */
  def intCosineDeclarative(qa: Column, qb: Column): Column = {
    val d = intDot(qa, qb).cast("double")
    val nn = sqrt(intDot(qa, qa).cast("double")) * sqrt(intDot(qb, qb).cast("double"))
    when(nn === 0.0, 0.0).otherwise(d / nn)
  }

  /** [[Similarity.quantize]]: one `round` and one `cast` per component. */
  def quantize(vec: Column, scale: Int = 1000): Column =
    transform(vec, x => round(x.cast("double") * scale).cast("long"))

  /** Squared-L2 distance between a quantized vector column and a centroid
    * literal — pure BIGINT arithmetic. */
  private def intSqDist(qv: Column, centroid: Array[Long]): Column =
    aggregate(zip_with(qv, typedLit(centroid.toSeq), (x, c) => (x - c) * (x - c)),
      lit(0L), (acc, x) => acc + x)

  /** kmeansFit's validity rule: non-null, `dim` long, no null component. */
  private def valid(qv: Column, dim: Int): Column =
    size(qv) === dim && !exists(qv, _.isNull)

  /** struct(dist, cell) of the nearest centroid: `least` over the k
    * (dist, cell) structs, ties to the lowest cell; null when `qv` is not
    * [[valid]]. The expression tree grows as k×dim. */
  def nearestCell(qv: Column, centroids: Array[Array[Long]], dim: Int): Column =
    when(valid(qv, dim), least(centroids.zipWithIndex.map { case (c, j) =>
      struct(intSqDist(qv, c).as("dist"), lit(j).cast("int").as("cell"))
    }: _*))

  /** [[Similarity.kmeansFit]] with [[nearestCell]] as the argmin and
    * [[quantize]] as the quantizer. */
  def kmeansFit(
      corpus: DataFrame,
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64): (Array[Array[Long]], DataFrame) = {
    val q = corpus.select(col(idCol), quantize(col(vecCol)).as("qv"))
    var cents: Array[Array[Long]] =
      q.where(valid(col("qv"), dim)).orderBy(col(idCol)).limit(k).collect()
        .map(_.getSeq[Long](1).toArray)
    val vecsum = udaf(new Similarity.VecSumAgg(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    for (_ <- 0 until iters) {
      val sums = q.select(nearestCell(col("qv"), cents, dim).getField("cell").as("cell"), col("qv"))
        .where(col("cell").isNotNull)
        .groupBy(col("cell")).agg(vecsum(col("qv")).as("sn"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
      cents = cents.zipWithIndex.map { case (old, j) =>
        sums.get(j) match {
          case Some(sn) if sn(dim) > 0L => Array.tabulate(dim)(i => Math.floorDiv(sn(i), sn(dim)))
          case _ => old
        }
      }
    }
    val assign = q.select(col(idCol), nearestCell(col("qv"), cents, dim).as("n"))
      .select(col(idCol), col("n.cell").as("cell"), col("n.dist").as("dist"))
    (cents, assign)
  }

  /** [[Similarity.semDedup]] as a self-join: [[Similarity.kmeansFit]]'s
    * cells joined back to the [[quantize]]d vectors, every same-cell pair
    * emitted as a row, and each `id_b` with a lower-id `id_a` at
    * [[intCosineDeclarative]] ≥ `threshold` anti-joined away. */
  def semDedup(
      corpus: DataFrame,
      k: Int,
      iters: Int,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    val (_, assign) = Similarity.kmeansFit(corpus, k, iters, idCol, vecCol, dim)
    val q = corpus.select(col(idCol), quantize(col(vecCol)).as("qv"))
    val e = assign.select(col(idCol), col("cell")).join(q, Seq(idCol))
    val a = e.select(col("cell"), col(idCol).as("id_a"), col("qv").as("qa"))
    val b = e.select(col("cell"), col(idCol).as("id_b"), col("qv").as("qb"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(intCosineDeclarative(col("qa"), col("qb")) >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    e.select(col(idCol), col("cell")).join(dropped, Seq(idCol), "left_anti")
  }
}
