package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/**
 * Similarity search over an embedding column (`array<float>`):
 *
 *   - brute-force cosine top-k — the exact baseline: broadcast the (small)
 *     query set against the corpus, per-partition partial top-k, global
 *     merge. One scan of the big side, no n² shuffle.
 *   - LSH-bucketed ANN — the scale path: random-hyperplane signatures
 *     cluster the corpus once; a query probes only its bucket (plus
 *     multiprobe neighbors), turning top-k into a bucket-local scan.
 *
 * Per-pair and per-component vector math (cosine, quantize) runs as fused
 * native expressions (graft.functions.VectorExpressions); the rest is
 * built-in higher-order functions. All of it is deterministic and exactly
 * reproducible in the DuckDB oracle.
 */
object Similarity {

  /** Σ over the array, sequential left-to-right in double precision. */
  private def dsum(arr: Column): Column =
    aggregate(arr, lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity; 0 for zero vectors. Fused NATIVE expression
    * (graft.functions.FloatCosine): the declarative HOF tree (the spec
    * reference in src/test) costs a lambda dispatch per element and an
    * allocation per array per call, and this runs once per candidate PAIR
    * in the dedup/ANN verifies — measured as the dominant cost of
    * q29/q30/q42. Bit-identical by construction
    * (same IEEE add order, same combine; parity pinned by PipelineSpec). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.float_cosine(a, b)

  // --- integer-quantized variants (cross-engine-exact) ----------------------
  // Float accumulation order differs between engines (DuckDB's
  // list_cosine_similarity runs in float32), so oracle-compared similarity
  // queries quantize components to integers first: integer dot/norm sums are
  // order-independent and exact, and the final sqrt/mul/div are single
  // correctly-rounded IEEE ops — bit-identical everywhere.

  /** vec<float|double> → vec<long>: each component is
    * `round(double(x) * scale)` (half-up, ties away from zero) cast to
    * bigint under the session's ANSI mode; a null component stays null.
    * One fused native expression (graft.functions.QuantizeVec) —
    * value-for-value and error-for-error the per-element `transform`
    * lambda it replaces, without a lambda call and two boxes per component
    * (parity spec-pinned). */
  def quantize(vec: Column, scale: Int = 1000): Column =
    graft.functions.VectorExpressions.quantize(vec, scale)

  /** `vecCol` already array<bigint> (the stored quantized form an ingest
    * pipeline keeps — e.g. [[kmeansFit]]'s trained centroids) → use as-is;
    * raw float vectors → [[quantize]]. Lets trained and fixture centroid
    * frames drop into the same entry points. */
  private def quantizedCol(df: DataFrame, vecCol: String): Column =
    df.schema(vecCol).dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, _) =>
        col(vecCol)
      case _ => quantize(col(vecCol))
    }

  /** Cosine over pre-quantized long vectors; exact cross-engine. Fused
    * NATIVE expression — see [[cosine]]; integer sums are order-free, so
    * the fusion cannot even reorder anything observable. */
  def intCosine(qa: Column, qb: Column): Column =
    graft.functions.VectorExpressions.int_cosine(qa, qb)

  // --- bounded per-query top-k (the scale-path reduction) -------------------

  /** One scored candidate inside the top-k PQ. */
  final case class Neighbor(neighbor_id: Long, cos: Double)

  /** "Better" = higher cosine, then smaller neighbor_id — the same total
    * order the rank window used, so the two reductions are interchangeable. */
  private val betterFirst: Ordering[Neighbor] =
    Ordering.by((n: Neighbor) => (-n.cos, n.neighbor_id))

  /** Size-k bounded priority-queue aggregate over (neighbor_id, cos) — the
    * vector-search sibling of [[graft.operators.HostTopK.TopKAgg]]. Map-side
    * partial aggregation caps every task's contribution at k rows per query,
    * so per-query memory is k EVERYWHERE — a rank window instead buffers all
    * |candidates| rows of a query inside one task, which at corpus scale is
    * the straggler/OOM shape. Binary max-heap, root = worst kept; ordering
    * is total (neighbor_id unique per query) ⇒ result independent of
    * partitioning and merge order. */
  final class VecTopKAgg(k: Int) extends org.apache.spark.sql.expressions.Aggregator[
      Neighbor, scala.collection.mutable.ArrayBuffer[Neighbor], Array[Neighbor]] {
    private type Buf = scala.collection.mutable.ArrayBuffer[Neighbor]
    private def worse(a: Neighbor, b: Neighbor): Boolean = betterFirst.gt(a, b)
    private def siftUp(h: Buf, i0: Int): Unit = {
      var i = i0
      while (i > 0 && worse(h(i), h((i - 1) / 2))) {
        val p = (i - 1) / 2
        val t = h(i); h(i) = h(p); h(p) = t
        i = p
      }
    }
    private def siftDown(h: Buf): Unit = {
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = 2 * i + 2
        var m = i
        if (l < h.length && worse(h(l), h(m))) m = l
        if (r < h.length && worse(h(r), h(m))) m = r
        if (m == i) done = true
        else { val t = h(i); h(i) = h(m); h(m) = t; i = m }
      }
    }
    override def zero: Buf = scala.collection.mutable.ArrayBuffer.empty[Neighbor]
    override def reduce(h: Buf, n: Neighbor): Buf = {
      if (h.length < k) { h += n; siftUp(h, h.length - 1) }
      else if (betterFirst.lt(n, h(0))) { h(0) = n; siftDown(h) }
      h
    }
    override def merge(a: Buf, b: Buf): Buf = { b.foreach(n => reduce(a, n)); a }
    override def finish(h: Buf): Array[Neighbor] = h.sorted(betterFirst).toArray
    override def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
      org.apache.spark.sql.Encoders.kryo[Buf]
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Neighbor]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Neighbor]]()
  }

  /** (query_id, neighbor_id, cos) → (query_id, rank, neighbor_id, cos),
    * best k per query via [[VecTopKAgg]]. Shared reduction of every top-k
    * entry point below. */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val agg = udaf(new VecTopKAgg(k))
    scored.groupBy(col("query_id"))
      // a udaf over a case-class input takes the FIELDS as arguments
      .agg(agg(col("neighbor_id"), col("cos")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "n")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("n.neighbor_id").as("neighbor_id"), col("n.cos").as("cos"))
  }

  /**
   * Exact top-k neighbors for each query vector, by cosine (desc), vec_id
   * tiebreak. `queries` must be small enough to broadcast (it is, by
   * definition of a query batch); corpus is scanned once, reduced through
   * the bounded [[VecTopKAgg]] — no per-query full-window materialization
   * anywhere in the plan.
   */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    topKPerQuery(scored, k)
  }

  /** Random-hyperplane (SimHash-for-vectors) bucket id with `nBits` planes.
    * Plane j's components are deterministic ±1 (Rademacher via xxhash64 of
    * (j, dim index)), so sign(r_j·v) needs only adds — no stored planes. */
  def rhpBucket(vec: Column, nBits: Int): Column = {
    val bits = (0 until nBits).map { j =>
      val signedSum = dsum(zip_with(vec, sequence(lit(0), size(vec) - 1),
        (x, i) => when(xxhash64(lit(j), i).bitwiseAND(1L) === 1L, x.cast("double"))
          .otherwise(-x.cast("double"))))
      when(signedSum > 0.0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /**
   * ANN top-k: corpus is bucketed by `nBits` random hyperplanes; each query
   * scans only its own bucket. Recall < 1 by construction (measured by the
   * spec against bruteForceTopK); at scale the bucket assignment is computed
   * once at ingest and stored, making a query a partition-pruned scan.
   */
  def lshAnnTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nBits: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      rhpBucket(col(vecCol), nBits).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      rhpBucket(col(vecCol), nBits).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qv"), col("cv")), 6))
    topKPerQuery(scored, k)
  }

  /**
   * IVF-style coarse quantization: assign each vector to the nearest of the
   * `centroids` (id, vec) — the cell id is the partition key an IVF index
   * stores posting lists under. Exposed as an operator so ingest can
   * materialize `(cell_id, vec_id, embedding)` sorted by cell. Similarity
   * is the integer-quantized cosine (order-independent, cross-engine
   * exact), so the assignment has a DuckDB oracle.
   */
  def ivfAssign(
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cent = centroids.select(col(idCol).as("cell_id"), quantizedCol(centroids, vecCol).as("centroid"))
    val scored = corpus.select(col(idCol), quantizedCol(corpus, vecCol).as("qv"))
      .join(broadcast(cent))
      .withColumn("cos", intCosine(col("qv"), col("centroid")))
    // argmax as a MAP-SIDE-COMBINABLE aggregate, not a window: a
    // row_number window over partitionBy(id) shuffles ALL |corpus|×nCells
    // scored rows just to keep one per vector, while the partial-aggregated
    // max collapses each mapper's rows to one per vector BEFORE the
    // exchange. Struct ordering is lexicographic, so max(struct(cos,
    // -cell_id)) is exactly the window's (cos DESC, cell_id ASC) tiebreak.
    scored.groupBy(col(idCol))
      .agg(max(struct(col("cos"), (-col("cell_id")).as("neg_cell"))).as("b"))
      .select(col(idCol), (-col("b.neg_cell")).as("cell_id"), col("b.cos").as("cos"))
  }

  /**
   * Full IVF search (the coarse-quantizer scale path end-to-end): each query
   * ranks the centroids, probes the `nProbe` nearest cells' posting lists,
   * and brute-forces ONLY inside them, reduced through the bounded
   * [[VecTopKAgg]]. At the design point the posting lists are the
   * `(cell_id, vec_id, qv)` table [[ivfAssign]] materializes at ingest,
   * hash-partitioned by cell — a query is then a partition-pruned scan of
   * nProbe cells (corpus/nCells rows each), never the full corpus. All
   * scoring is the integer-quantized cosine, so the whole search has an
   * exact DuckDB oracle; recall vs [[bruteForceTopK]] is measured by spec.
   */
  def ivfTopK(
      corpus: DataFrame,
      centroids: DataFrame,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val posting = ivfAssign(corpus, centroids, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("cell_id"))
      .join(corpus.select(col(idCol).as("neighbor_id"), quantizedCol(corpus, vecCol).as("cv")),
        Seq("neighbor_id"))
    val cent = centroids.select(col(idCol).as("cell_id"), quantizedCol(centroids, vecCol).as("centroid"))
    val qScored = queries.select(col(idCol).as("query_id"), quantizedCol(queries, vecCol).as("qv"))
      .join(broadcast(cent))
      .withColumn("qcos", intCosine(col("qv"), col("centroid")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("qcos").desc, col("cell_id").asc)
    val probes = qScored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cell_id"), col("qv"))
    val scored = posting.join(broadcast(probes), Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", intCosine(col("qv"), col("cv")))
    topKPerQuery(scored, k)
  }

  // --- exact-arithmetic LSH ANN (oracle-able) -------------------------------

  /** Deterministic ±1 Rademacher hyperplane components, data-independent:
    * sign(j, i) = +1 iff bit 0 of h64("j,i") — precomputed driver-side so
    * the per-row work is a pure integer dot product (no hashing). */
  def rhpSigns(nBits: Int, maxDim: Int): Array[Array[Long]] =
    Array.tabulate(nBits, maxDim)((j, i) =>
      if ((graft.functions.Hash64.h64Jvm(s"$j,$i") & 1L) == 1L) 1L else -1L)

  /** Bucket id of a QUANTIZED vector: bit j set iff Σ_i sign(j,i)·qv_i > 0.
    * All-integer ⇒ exactly reproducible in the SQL oracle. */
  def rhpBucketQuantized(qv: Column, signs: Array[Array[Long]]): Column = {
    val bits = signs.indices.map { j =>
      val sj = typedLit(signs(j).toSeq)
      val ss = aggregate(zip_with(qv, slice(sj, lit(1), size(qv)), (x, s) => x * s),
        lit(0L), (acc, x) => acc + x)
      when(ss > 0L, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_.bitwiseOR(_))
  }

  // --- distributed k-means (the coarse-quantizer TRAINER) -------------------

  /** Element-wise vector-sum aggregate with an appended row count: buffer
    * and output are `Array[Long]` of length dim+1 (last slot = count).
    * Map-side combinable — every task ships ONE dim+1 long array per cell
    * through the exchange, so a k-means iteration's shuffle is k×(dim+1)
    * longs regardless of corpus size (vs a posexplode-by-dimension plan
    * that fans every row out ×dim before aggregating). */
  final class VecSumAgg(dim: Int) extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](dim + 1)
    override def reduce(b: Array[Long], v: Seq[Long]): Array[Long] = {
      val a = unwrapLongs(v)
      var i = 0
      val n = math.min(dim, a.length)
      while (i < n) { b(i) += a(i); i += 1 }
      b(dim) += 1L
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i <= dim) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Seq[Long] → primitive long[] without per-element boxing where the
    * runtime hands us an ofLong wrapper (Spark's array<bigint>
    * deserialization); one copy otherwise. The argmin loop then reads
    * k×dim PRIMITIVE longs per row — indexing the Seq directly costs a
    * boxed read per element, measured as ~4× the whole kernel's wall at
    * corpus-scaled k. */
  private def unwrapLongs(v: Seq[Long]): Array[Long] = v match {
    case w: scala.collection.immutable.ArraySeq.ofLong => w.unsafeArray
    case other => other.toArray
  }

  /** Argmin result row of [[nearestCellKernel]]. */
  final case class CellDist(dist: Long, cell: Int)

  /** struct(dist, cell) of the nearest centroid: one-pass JVM argmin over
    * the centroid matrix — exact BIGINT squared-L2, strict-< keeps the
    * lowest cell on ties; entirely row-local (no shuffle, no join). Null
    * when `qv` is null or not `dim` long (no distance is defined). k×dim
    * stays DATA (one task-local array), not an expression tree, so
    * corpus-scaled k (thousands of cells) runs as a tight loop instead of
    * a codegen-overflow fallback; the declarative `least`-over-structs form
    * is the spec reference in src/test. */
  private def nearestCellKernel(qv: Column, centroids: Array[Array[Long]], dim: Int): Column = {
    val cents = centroids // stable closure capture
    val f = udf((v: Seq[Long]) => {
      if (v == null || v.length != dim) null
      else {
        val a = unwrapLongs(v)
        var bc = 0
        var bd = Long.MaxValue
        var j = 0
        while (j < cents.length) {
          val cj = cents(j)
          var s = 0L
          var i = 0
          while (i < dim) { val d = a(i) - cj(i); s += d * d; i += 1 }
          if (s < bd) { bd = s; bc = j }
          j += 1
        }
        CellDist(bd, bc)
      }
    })
    f(qv)
  }

  /** (idCol, qv): the corpus with its vectors in quantized form. */
  private def quantizedRows(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol), quantizedCol(corpus, vecCol).as("qv"))

  /** Lloyd's iterations over (idCol, qv) → the trained centroids. `q` is
    * pinned for the init and the `iters` collects and released before
    * returning, so no cache outlives the call. */
  private def lloyd(q: DataFrame, k: Int, iters: Int, idCol: String, dim: Int): Array[Array[Long]] = {
    q.persist()
    try {
      var cents: Array[Array[Long]] =
        q.where(size(col("qv")) === dim).orderBy(col(idCol)).limit(k).collect()
          .map(_.getSeq[Long](1).toArray)
      val vecsum = udaf(new VecSumAgg(dim),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
      var it = 0
      while (it < iters) {
        val sums = q.select(nearestCellKernel(col("qv"), cents, dim).getField("cell").as("cell"), col("qv"))
          .where(col("cell").isNotNull)
          .groupBy(col("cell")).agg(vecsum(col("qv")).as("sn"))
          .collect()
          .map(r => r.getInt(0) -> r.getSeq[Long](1).toArray).toMap
        cents = cents.zipWithIndex.map { case (old, j) =>
          sums.get(j) match {
            case Some(sn) if sn(dim) > 0L =>
              Array.tabulate(dim)(i => Math.floorDiv(sn(i), sn(dim)))
            case _ => old
          }
        }
        it += 1
      }
      cents
    } finally q.unpersist()
  }

  /**
   * Distributed Lloyd's k-means over integer-QUANTIZED vectors — the
   * trainer half of the IVF index ([[ivfAssign]]/[[ivfTopK]] consume the
   * centroids this produces). Init = the k lowest-id vectors
   * (deterministic). Each iteration is ONE corpus scan: the row-local
   * [[nearestCellKernel]] argmin feeds the map-side-combinable
   * [[VecSumAgg]], so the exchange carries k×(dim+1) longs total and the k
   * updated centroids return to the driver — the same
   * k-rows-of-broadcast-state loop Spark MLlib's KMeans runs, NOT a
   * per-row collect. At 100 TB one trains on a sampled slice anyway (pass
   * `corpus.sample(...)`); the full-corpus pass here is the worst case and
   * it is still scan+tiny-agg shaped. `vecCol` may be raw float vectors
   * (quantized here) or the stored quantized array<bigint> form.
   *
   * Centroid update = exact floored integer mean (`Math.floorDiv`); empty
   * cells keep their previous centroid. Distances are exact BIGINT
   * sums-of-squares, so every iteration — and the final assignment — is
   * bit-reproducible regardless of partitioning/merge order and has a
   * DuckDB oracle (unrolled CTEs; q61).
   *
   * Returns (centroids, assignment) with assignment = (idCol, cell:int,
   * dist:long) under the final centroids, a lazy frame over `corpus`.
   * Vectors must be non-null and `dim` long: any other row gets a null
   * cell and dist, and neither seeds nor moves a centroid. A vector with a
   * null component fails the call (the argmin's `Seq[Long]` input rejects
   * it with NOT_NULL_ASSERT_VIOLATION).
   */
  def kmeansFit(
      corpus: DataFrame,
      k: Int,
      iters: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64): (Array[Array[Long]], DataFrame) = {
    val q = quantizedRows(corpus, idCol, vecCol)
    val cents = lloyd(q, k, iters, idCol, dim)
    val assign = q.select(col(idCol), nearestCellKernel(col("qv"), cents, dim).as("n"))
      .select(col(idCol), col("n.cell").as("cell"), col("n.dist").as("dist"))
    (cents, assign)
  }

  /** Trained centroids → the (idCol, vecCol) frame [[ivfAssign]]/[[ivfTopK]]
    * accept: cell j's centroid under id j, in the already-quantized
    * array<bigint> form (auto-detected downstream) — so a kmeansFit-trained
    * quantizer drops in wherever a fixture centroid table did. */
  def centroidFrame(spark: org.apache.spark.sql.SparkSession, cents: Array[Array[Long]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, j) => (j.toLong, c.toSeq) }.toSeq
      .toDF(idCol, vecCol)
  }

  /**
   * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
   * k-means-cluster the embedding space, then drop near-duplicates WITHIN
   * each cluster, so the quadratic is bounded by the cluster population
   * (corpus/k expected), never the corpus — k scales with corpus size at
   * the design point (SemDeDup used 11k clusters for LAION-440M).
   *
   * Keep rule: drop x iff some same-cell y with y.id < x.id has
   * intCosine(x, y) ≥ `threshold` — deterministic and
   * partitioning-independent, with a DuckDB oracle (q62). Returns the KEPT
   * rows (idCol, cell); rows with a null or not-`dim`-long vector have no
   * cell and are kept with a null `cell`, rows with a null id are dropped.
   * Preconditions: ids are unique, and no vector has a null component
   * (as for [[kmeansFit]]).
   *
   * Plan: [[kmeansFit]]'s training loop, then one final assignment that
   * carries the quantized vector along, ONE exchange keyed on the cell
   * (`pairParts` > 0 sets its partition count explicitly: an explicit
   * count is exempt from AQE's input-size coalescing, which cannot see
   * the per-cell quadratic work and would collapse it onto few tasks;
   * 0 leaves it to the session), and a task-local pass: within each
   * partition, sorted by (cell, id), each cell's members are walked in
   * ascending id order and x is compared with the earlier members until
   * the first one at cosine ≥ `threshold`. No pair ever becomes a row.
   */
  def semDedup(
      corpus: DataFrame,
      k: Int,
      iters: Int,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64,
      pairParts: Int = 0): DataFrame = {
    val q = quantizedRows(corpus, idCol, vecCol)
    val cents = lloyd(q, k, iters, idCol, dim)
    val assigned = q.where(col(idCol).isNotNull)
      .select(col(idCol), nearestCellKernel(col("qv"), cents, dim).getField("cell").as("cell"), col("qv"))
    val byCell =
      if (pairParts > 0) assigned.repartition(pairParts, col("cell")) else assigned.repartition(col("cell"))
    val kept = StructType(Seq(assigned.schema(idCol), StructField("cell", IntegerType, nullable = true)))
    byCell.sortWithinPartitions(col("cell"), col(idCol))
      .mapPartitions((rows: Iterator[Row]) => cellScan(rows, threshold))(Encoders.row(kept))
  }

  /** [[semDedup]]'s task-local pass over (id, cell, qv) rows sorted by
    * (cell, id) → the kept (id, cell) rows. A row with a cell has a
    * `dim`-long vector without null components (the argmin that gave it
    * the cell rejects any other). The earlier members of the current cell
    * are held as primitive vectors with their `sqrt` norms;
    * the cosine is [[graft.functions.VecCosineKernel.intCos]]'s: the same
    * integer sums and the same IEEE ops `d / (sqrt(sa) * sqrt(sb))`, 0.0 on
    * a zero norm, compared as Spark compares doubles (NaN above every
    * number). */
  private def cellScan(rows: Iterator[Row], threshold: Double): Iterator[Row] = {
    val vecs = scala.collection.mutable.ArrayBuffer[Array[Long]]()
    val norms = scala.collection.mutable.ArrayBuffer[Double]()
    var cell = 0
    def similar(x: Array[Long], nx: Double, j: Int): Boolean = {
      val y = vecs(j)
      var d = 0L
      var i = 0
      while (i < x.length) { d += x(i) * y(i); i += 1 }
      val nn = nx * norms(j)
      val cos = if (nn == 0.0) 0.0 else d.toDouble / nn
      cos == threshold || java.lang.Double.compare(cos, threshold) > 0
    }
    rows.flatMap { r =>
      if (r.isNullAt(1)) Iterator.single(Row(r.get(0), null))
      else {
        val c = r.getInt(1)
        if (vecs.isEmpty || c != cell) { vecs.clear(); norms.clear(); cell = c }
        val x = unwrapLongs(r.getSeq[Long](2))
        var sx = 0L
        var i = 0
        while (i < x.length) { sx += x(i) * x(i); i += 1 }
        val nx = math.sqrt(sx.toDouble)
        val dup = vecs.indices.exists(j => similar(x, nx, j))
        vecs += x; norms += nx
        if (dup) Iterator.empty else Iterator.single(Row(r.get(0), c))
      }
    }
  }

  /**
   * ANN top-k with exact integer arithmetic end-to-end: corpus bucketed by
   * `nBits` Rademacher hyperplanes over the quantized vectors; each query
   * probes its own bucket PLUS every 1-bit-flip neighbor bucket
   * (multiprobe — the standard recall lever: nBits+1 probes ≈ the recall
   * of 2x the bucket population at the same index size). Scoring is the
   * quantized integer cosine. Recall vs [[bruteForceTopK]] is measured by
   * spec; at scale the bucket id is computed once at ingest and stored, so
   * a query is a partition-pruned scan of nBits+1 posting lists.
   */
  def lshAnnTopKExact(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      nBits: Int = 8,
      maxDim: Int = 256,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val signs = rhpSigns(nBits, maxDim)
    val c = corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("cv"))
      .withColumn("bucket", rhpBucketQuantized(col("cv"), signs))
    val q = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
      .withColumn("qbucket", rhpBucketQuantized(col("qv"), signs))
      .withColumn("bucket", explode(array(
        col("qbucket") +: (0 until nBits).map(j => col("qbucket").bitwiseXOR(lit(1L << j))): _*)))
      .drop("qbucket")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", intCosine(col("qv"), col("cv")))
    topKPerQuery(scored, k)
  }
}
