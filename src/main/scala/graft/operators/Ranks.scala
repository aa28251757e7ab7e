package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/**
 * Scalable global sequence numbering (SURVEY.md op 41) and its weighted
 * form, the global running sum: a sequence number is the running sum of a
 * weight of 1.
 *
 * `row_number().over(Window.orderBy(...))` funnels the whole relation through
 * ONE partition — fine at test scale, fatal at 10^10 rows. This is the
 * standard two-phase alternative:
 *
 *   1. range-repartition + local sort on the order key (one shuffle — the
 *      same one any global sort pays);
 *   2. per-partition weight totals (tiny agg, ≤P longs through the driver)
 *      → prefix-sum offsets, broadcast;
 *   3. one `mapPartitions` carries offset + the local running sum.
 *
 * Step 3 stays a Dataset transform (NOT `.rdd` — round 1 measured a full
 * plan re-compile plus driver re-planning on the RDD hop): a single typed
 * partition pass with a Row encoder. It is deliberately an OBJECT node, not
 * a `monotonically_increasing_id` projection — the optimizer is free to
 * eliminate a local sort under an order-insensitive projection (measured:
 * q16 went wrong exactly that way under a downstream orderBy), while an
 * opaque mapPartitions pins the sort it consumes.
 *
 * The result equals the single-partition window exactly (the sort is made
 * total by requiring the caller to pass a tie-free key set), but every
 * partition works independently.
 */
object Ranks {

  /** Cuts `df`'s lineage, the rule every iterative loop here shares (the
    * crawl's cross-round hop, eager; DupClusters' per-iteration edge set,
    * lazy): a reliable `checkpoint` when the session has a checkpoint dir —
    * a cluster deployment sets `spark.checkpoint.dir` to shared storage, so
    * the frame survives executor loss — else a `localCheckpoint`, whose
    * lost block fails the job loudly rather than silently recomputing a
    * plan whose inputs are gone. Release the result with [[release]]. */
  def truncate(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Unpersists `df` and, when its plan is a bare `LogicalRDD` (a
    * [[truncate]]d frame), the RDD behind it: `Dataset.unpersist` drops
    * cache-manager entries only, so alone it leaves a local checkpoint's
    * blocks pinned for the life of the session. A reliable checkpoint's
    * files stay (Spark deletes them only under
    * `spark.cleaner.referenceTracking.cleanCheckpoints`). */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Append `cumCol` = the EXCLUSIVE global running sum of `weightCol`
    * (long) in `order`, or with `weightCol = None` a weight of 1 per row:
    * the 0-based global rank. `order` must be a total order — end it with a
    * unique key. Equals `sum(w) OVER (ORDER BY order ROWS BETWEEN UNBOUNDED
    * PRECEDING AND 1 PRECEDING)` (0 for the first row) exactly. Returns
    * (out, sorted, total): the result, the sorted intermediate it reads,
    * and the sum of every weight (the row count for a rank) — the totals
    * pass already collects the per-partition totals to the driver for the
    * prefix sum, so the total is free. The crawl loop uses it to advance
    * `fetch_seq` base across rounds without waiting on commit-time
    * Observations (round N's commit, where those fire, is still in flight
    * when round N+1 starts). Runs the sorted input twice (totals pass +
    * output pass).
    *
    * The sorted intermediate is ALWAYS persisted and returned: the
    * RangePartitioner seeds its boundary sampling from the physical RDD id,
    * which is fresh per query execution — two independent executions of
    * the same repartitionByRange get (slightly) DIFFERENT boundaries, so
    * offsets computed by pass 1 would mis-align with pass 2's partitions
    * (measured: ~87% wrong ranks at 60k rows). Caching pins one
    * materialization that both passes read — it is a CORRECTNESS
    * requirement, not an option. The result is only stable while the
    * sorted intermediate stays pinned, so the pin is the CALLER's to
    * manage, explicitly: consume (or persist) the result, then unpersist
    * the sorted frame — or call [[globalCumsumPinned]], which does both.
    * (An earlier self-cleaning variant unpersisted via a
    * QueryExecutionListener after the first consuming query — which made a
    * second consumption silently recompute with re-sampled range
    * boundaries and return wrong ranks. A silent-wrong failure mode is
    * worse than an explicit contract; the variant was removed.) */
  def globalCumsumCached(
      df: DataFrame,
      cumCol: String,
      weightCol: Option[String],
      order: Seq[Column],
      numPartitions: Int): (DataFrame, DataFrame, Long) = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(numPartitions, order: _*)
      .sortWithinPartitions(order: _*)
      .persist()
    val wIdx = weightCol.fold(-1)(sorted.schema.fieldIndex) // -1: weight 1
    val totals = sorted.groupBy(spark_partition_id().as("__pid"))
      .agg(weightCol.fold(count(lit(1)))(w => sum(col(w))).as("__total"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until numPartitions).scanLeft(0L)((acc, p) => acc + totals.getOrElse(p, 0L))
    val bOffsets = spark.sparkContext.broadcast(offsets.toArray)
    val outSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        cumCol, org.apache.spark.sql.types.LongType, nullable = false))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val out = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = bOffsets.value(pid)
      it.map { row =>
        val r = Row.fromSeq(row.toSeq :+ acc)
        acc += (if (wIdx < 0) 1L else row.getLong(wIdx))
        r
      }
    }
    (out, sorted, totals.values.sum)
  }

  /** Re-consumable [[globalCumsumCached]]: pins the OUTPUT itself, forces
    * it, and releases the sort intermediate — the result is then stable
    * across any number of consumptions (no listener, no consume-once
    * trap). The output cache is the caller's to unpersist when done;
    * callers that consume exactly once and want zero residual cache use
    * [[globalCumsumCached]] and manage both frames themselves (the crawl
    * loop does). */
  def globalCumsumPinned(
      df: DataFrame,
      cumCol: String,
      weightCol: Option[String],
      order: Seq[Column],
      numPartitions: Int): DataFrame = {
    val (out, sorted, _) = globalCumsumCached(df, cumCol, weightCol, order, numPartitions)
    val pinned = out.persist()
    pinned.count() // force while the sort cache is still valid
    sorted.unpersist()
    pinned
  }
}
