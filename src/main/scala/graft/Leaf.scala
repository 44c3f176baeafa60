package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/**
 * A frame rebased onto its own persisted rows: `df` is a leaf
 * (`LogicalRDD`) over a MEMORY_AND_DISK persist of the source frame's
 * internal rows, and `release()` drops the persist.
 *
 * Use it for a frame with several downstream consumers. Each consumer
 * then plans against a one-node leaf instead of the source's whole
 * logical tree, so analysis and explain cost stay constant, and
 * predicate pushdown and inferred filters cannot specialize the
 * shared subtree per consumer (which is what splits exchange reuse).
 * The source lineage stays on the RDD, so lost partitions recompute.
 * Rows are computed by the first action that reads `df`.
 *
 * Not `.cache()`: an `InMemoryRelation` keeps the whole cached plan in
 * every consumer's plan, and its scan absorbs the consumers' filters
 * and pruned columns.
 *
 * [[graft.cli.Curate]] holds up to four: the probe's shingle sets
 * (`runIncremental`: the index lookup and the index append both read
 * them, so an increment shingles its texts once), the corpus dup ids,
 * the scored flags and the boilerplate-stripped text.
 */
final class Leaf private (val df: DataFrame, rows: RDD[InternalRow]) {
  def release(): Unit = rows.unpersist(blocking = false)
}

object Leaf {
  /** `schema` must match the source's columns in order and type; it
    * may only tighten nullability the rows already honour. */
  def persist(src: DataFrame, schema: StructType): Leaf = {
    val rows = src.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    new Leaf(GraftBridge.internalCreateDataFrame(src.sparkSession, rows, schema),
      rows)
  }

  def persist(src: DataFrame): Leaf = persist(src, src.schema)
}
