package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/**
 * Bounded driver collects: each runs one Spark job over the plan of
 * `df.queryExecution` (`countedAtMost` at most two), inside one SQL
 * execution each, and no task returns more than `n` rows. No `CollectLimit` (whose scale-up runs one task,
 * then more, as separate jobs) and no exchange is added to the plan.
 */
object Collect {
  /** At most `n` rows of `df`: each task returns at most `n` rows, and
    * the driver keeps rows only until it holds `n`. Which `n` rows is
    * unspecified, as with `limit(n)`. */
  def atMost(df: DataFrame, n: Int): Array[Row] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    run(df)(_ => (it: Iterator[InternalRow]) => it.take(n).map(_.copy()).toArray) { part =>
      kept ++= part.take(n - kept.length)
    }
    toRows(df, kept)
  }

  /** The row count of `df` and, when it is at most `n`, its rows: a
    * `count()` and a `collect()` in one job, where the driver receives
    * fewer than `n + p` rows in all over p tasks. Each task counts its
    * rows and returns them only while it holds at most its share,
    * ceil(n / p); past that it returns its count alone. When the count
    * is at most `n` but some task held more than its share (skewed
    * partitions), a second job collects the rows. */
  def countedAtMost(df: DataFrame, n: Long): (Long, Option[Array[Row]]) = {
    var total = 0L
    var whole = true
    val kept = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    run(df)(p => {
      val q = math.max(p, 1)
      val share = n / q + (if (n % q == 0) 0 else 1)
      (it: Iterator[InternalRow]) => {
        var count = 0L
        var mine = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        it.foreach { r =>
          count += 1
          if (mine != null) { if (count <= share) mine += r.copy() else mine = null }
        }
        (count, Option(mine).map(_.toArray))
      }
    }) { case (count, rows) =>
      total += count
      whole &&= rows.isDefined
      if (total <= n) rows.foreach(kept ++= _) else kept.clear()
    }
    if (total > n) (total, None)
    else if (whole) (total, Some(toRows(df, kept)))
    else (total, Some(atMost(df, Math.toIntExact(total))))
  }

  /** The rows of the `n` smallest distinct values of the non-null
    * string column `key` in `df`, one row per key, in key order
    * (Spark's string order): the answer of
    * `dropDuplicates(key).orderBy(key).limit(n)` without its shuffle
    * and sort. Each task keeps the rows of its own `n` smallest keys,
    * and the driver the `n` smallest overall. */
  def distinctAtMost(df: DataFrame, key: String, n: Int): Array[Row] = {
    val k = df.schema.fieldIndex(key)
    // adds a copy of `r` when its key is new and among the `n` smallest
    // seen; a scan's row is reused, so only copies go in
    def offer(m: java.util.TreeMap[UTF8String, InternalRow], r: InternalRow): Unit = {
      val key = r.getUTF8String(k)
      if (!m.containsKey(key) &&
          (m.size < n || (!m.isEmpty && key.binaryCompare(m.lastKey) < 0))) {
        val c = r.copy()
        m.put(c.getUTF8String(k), c)
        if (m.size > n) m.pollLastEntry()
      }
    }
    val kept = byKey()
    run(df)(_ => (it: Iterator[InternalRow]) => {
      val mine = byKey()
      it.foreach(offer(mine, _))
      mine.values.toArray(Array.empty[InternalRow])
    })(_.foreach(offer(kept, _)))
    toRows(df, kept.values.asScala)
  }

  /** Rows by key in Spark's order for strings (byte order; the
    * `compareTo` of `UTF8String` is off limits inside Spark). */
  private def byKey(): java.util.TreeMap[UTF8String, InternalRow] = {
    val order: java.util.Comparator[UTF8String] = (a, b) => a.binaryCompare(b)
    new java.util.TreeMap[UTF8String, InternalRow](order)
  }

  /** One job over `df`'s plan: `task(p)` runs in each of its p tasks,
    * and `merge` takes each task's result on the driver. */
  private def run[T: ClassTag](df: DataFrame)(task: Int => Iterator[InternalRow] => T)
                              (merge: T => Unit): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      val rdd = qe.toRdd
      df.sparkSession.sparkContext.runJob(rdd, task(rdd.getNumPartitions),
        (_: Int, part: T) => merge(part))
    }
  }

  private def toRows(df: DataFrame, rows: Iterable[InternalRow]): Array[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    rows.map(toRow(_).asInstanceOf[Row]).toArray
  }
}
