package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, XxHash64}

/** Order-independent result digest: the row count and the wrapping sum of
  * each row's xxhash64 over all columns. Row order and partitioning do not
  * change it; a dropped, duplicated or changed row does.
  */
final case class Digest(rows: Long, hash: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
}

object Digest {
  val Empty = Digest(0L, 0L)

  /** Digest of rows whose schema is `output`. Interpreted evaluation hashes
    * map columns too, which the SQL `xxhash64` function refuses.
    */
  def of(rdd: RDD[InternalRow], output: Seq[Attribute]): Digest = {
    val hash = BindReferences.bindReference(new XxHash64(output), output)
    rdd.mapPartitions { it =>
      var d = Empty
      it.foreach(r => d = d + Digest(1L, hash.eval(r).asInstanceOf[Long]))
      Iterator.single(d)
    }.collect().foldLeft(Empty)(_ + _)
  }

  def of(df: DataFrame): Digest =
    of(df.queryExecution.toRdd, df.queryExecution.executedPlan.output)
}
