package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Shared helpers for the ops tier. */
package object ops {

  /** Pre-shuffle parallelism guard: a single-row-group parquet file scans
    * as ONE partition, which serializes every per-document projection that
    * runs before the first shuffle (shingling, md5 signatures, token
    * explodes) onto one core — measured 6-8 s of the ngram join's wall
    * time at sf0.1. When the input has fewer partitions than the cluster
    * has slots, pay one cheap shuffle of the raw rows to unlock the cores;
    * at real scale inputs arrive in thousands of splits and this is a
    * no-op.
    *
    * Frames that already contain a shuffle-producing operator (join,
    * aggregate, window, repartition, distinct) are returned untouched:
    * they already run at shuffle parallelism, and reading the partition
    * count via `df.rdd` is NOT free for them — under AQE it executes every
    * upstream query stage just to finalize the plan (the r8 stage audit
    * caught a full extra materialization of the clean-pipeline quality
    * stage from exactly this probe). For the shuffle-free frames this
    * guards (scan + projections/filters/generates), `df.rdd` only plans.
    */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val hasShuffleOp = df.queryExecution.logical.collectFirst {
      case _: Join => (); case _: Aggregate => (); case _: Window => ()
      case _: RepartitionOperation => (); case _: Distinct => ()
      case _: Deduplicate => ()
    }.isDefined
    if (hasShuffleOp) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }

  /** Element width of an analyzed array<float|double> kernel child:
    * reading a double array with getFloat returns garbage, so kernels pick
    * their accessor from this. */
  private[ops] def elemIsDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
}
