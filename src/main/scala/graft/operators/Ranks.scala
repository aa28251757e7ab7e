package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/**
 * Scalable global sequence numbering (SURVEY.md op 41).
 *
 * `row_number().over(Window.orderBy(...))` funnels the whole relation through
 * ONE partition — fine at test scale, fatal at 10^10 rows. This is the
 * standard two-phase alternative:
 *
 *   1. range-repartition + local sort on the order key (one shuffle — the
 *      same one any global sort pays);
 *   2. per-partition counts (tiny agg, ≤P longs through the driver) →
 *      prefix-sum offsets, broadcast;
 *   3. one `mapPartitions` adds offset + local 0-based index.
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

  /** Append `seqCol` = 0-based global rank by `order` (must be a total
    * order — end it with a unique key). Runs the sorted input twice (counts
    * pass + output pass).
    *
    * The sorted intermediate is ALWAYS persisted and returned as the second
    * frame: RangePartitioner seeds its boundary sampling from the physical
    * RDD id, which is fresh per query execution — two independent
    * executions of the same repartitionByRange get (slightly) DIFFERENT
    * boundaries, so offsets computed by pass 1 would mis-align with pass
    * 2's partitions (measured: ~87% wrong ranks at 60k rows). Caching pins
    * one materialization that both passes read — it is a CORRECTNESS
    * requirement, not an option. The ranked frame is only stable while the
    * sorted intermediate stays pinned, so the pin is the CALLER's to manage,
    * explicitly: consume (or persist) the ranked frame, then unpersist the
    * returned sorted frame. (An earlier self-cleaning variant unpersisted
    * via a QueryExecutionListener after the first consuming query — which
    * made a second consumption silently recompute with re-sampled range
    * boundaries and return wrong ranks. A silent-wrong failure mode is worse
    * than an explicit contract; the variant was removed.) */
  def globalSeqCached(
      df: DataFrame,
      seqCol: String,
      order: Seq[Column],
      numPartitions: Int): (DataFrame, DataFrame) = {
    val (out, sorted, _) = globalSeqCachedWithCount(df, seqCol, order, numPartitions)
    (out, sorted)
  }

  /** [[globalSeqCached]] plus the TOTAL row count — the counts pass already
    * collects per-partition counts to the driver for the prefix sum, so the
    * total is free. The crawl loop uses it to advance `fetch_seq` base
    * across rounds without waiting on commit-time Observations (the loop
    * hands state to round N+1 while round N's commit — where the
    * observations fire — is still in flight). */
  def globalSeqCachedWithCount(
      df: DataFrame,
      seqCol: String,
      order: Seq[Column],
      numPartitions: Int): (DataFrame, DataFrame, Long) = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(numPartitions, order: _*)
      .sortWithinPartitions(order: _*)
      .persist()
    val counts = sorted.groupBy(spark_partition_id().as("__pid")).agg(count(lit(1)).as("__cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until numPartitions).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
    val bOffsets = spark.sparkContext.broadcast(offsets.toArray)
    val outSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        seqCol, org.apache.spark.sql.types.LongType, nullable = false))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    val out = sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var i = bOffsets.value(pid)
      it.map { row =>
        val r = Row.fromSeq(row.toSeq :+ i)
        i += 1
        r
      }
    }
    (out, sorted, counts.values.sum)
  }

  /** Re-consumable ranked frame: pins the RANKED OUTPUT itself, forces it,
    * and releases the sort intermediate — the result is then stable across
    * any number of consumptions (no listener, no consume-once trap). The
    * output cache is the caller's to unpersist when done; callers that
    * consume exactly once and want zero residual cache should use
    * [[globalSeqCached]] and manage both frames themselves (the crawl loop
    * does). */
  def globalSeqPinned(
      df: DataFrame, seqCol: String, order: Seq[Column], numPartitions: Int): DataFrame = {
    val (out, sorted) = globalSeqCached(df, seqCol, order, numPartitions)
    val pinned = out.persist()
    pinned.count() // force while the sort cache is still valid
    sorted.unpersist()
    pinned
  }

  /** Append `cumCol` = EXCLUSIVE global running sum of `weightCol` (long)
    * in `order` — the weighted generalization of [[globalSeqPinned]], same
    * two-phase shape: per-partition weight totals (≤P longs to the driver)
    * → prefix offsets broadcast → one partition-local pass carries the
    * running sum. No single-partition window anywhere; equals
    * `sum(w) OVER (ORDER BY order ROWS UNBOUNDED PRECEDING AND 1
    * PRECEDING)` exactly (order must be total). Same cache contract as
    * globalSeqPinned: output pinned + forced, sort intermediate released;
    * the caller unpersists the result when done. */
  def globalCumsumPinned(
      df: DataFrame,
      weightCol: String,
      cumCol: String,
      order: Seq[Column],
      numPartitions: Int): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(numPartitions, order: _*)
      .sortWithinPartitions(order: _*)
      .persist()
    val wIdx = sorted.schema.fieldIndex(weightCol)
    val sums = sorted.groupBy(spark_partition_id().as("__pid"))
      .agg(sum(col(weightCol)).as("__sum"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until numPartitions).scanLeft(0L)((acc, p) => acc + sums.getOrElse(p, 0L))
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
        acc += row.getLong(wIdx)
        r
      }
    }
    val pinned = out.persist()
    pinned.count() // force while the sort cache is still valid
    sorted.unpersist()
    pinned
  }
}
