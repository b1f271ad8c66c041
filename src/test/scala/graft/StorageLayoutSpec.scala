package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout scale techniques the 100 TB deployment leans on, proven
  * against the executed physical plan (not just claimed in prose):
  *
  *  - bucketed tables co-locate both join sides at WRITE time, so a
  *    fact⋈fact equi-join runs with ZERO shuffle exchanges — at 100 TB this
  *    removes the single largest cost of repeated joins on the same key;
  *  - hive-style partitioned layout lets a predicate on the partition
  *    column prune entire directories at planning time (PartitionFilters),
  *    so a selective scan reads |matching partitions|, not |table|.
  */
class StorageLayoutSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("bucketed tables join with zero shuffle exchanges") {
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // Force a non-broadcast join so the assertion proves bucketing
      // (a broadcast would also be exchange-free, vacuously).
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // The in-memory catalog forgets tables across JVMs but their
      // directories persist; clear both so re-runs are idempotent.
      spark.sql("DROP TABLE IF EXISTS graft_orders_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_bkt")
      val warehouse = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
      val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("graft_orders_bkt", "graft_lineitem_bkt")
        .foreach(t => fs.delete(new org.apache.hadoop.fs.Path(warehouse, t), true))
      Tables.orders(spark, sfDir)
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("graft_orders_bkt")
      Tables.lineitem(spark, sfDir)
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("graft_lineitem_bkt")

      // The join itself must plan with ZERO exchanges — both sides arrive
      // pre-partitioned by the bucket spec. (The downstream aggregation
      // would add its own exchange on its different key; assert on the
      // join plan so the claim being proven is the bucketing one.)
      val joined = spark.table("graft_orders_bkt")
        .join(spark.table("graft_lineitem_bkt"), col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("Bucketed: true"), plan)

      // And it is not just exchange-free — it is correct.
      val expected = Tables.orders(spark, sfDir)
        .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      assert(joined.count() == expected.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("partitioned layout prunes non-matching partitions at plan time") {
    val dir = "/tmp/graft_test_part_events"
    Tables.events(spark, sfDir)
      .write.partitionBy("event_type").mode("overwrite").parquet(dir)

    val df = spark.read.parquet(dir).filter(col("event_type") === "purchase")
    val scan = df.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }
      .getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.partitionFilters.nonEmpty, scan.toString)

    val expected = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(df.count() == expected)
  }

  test("compact_files: 32 fragments rewritten to the byte-target count, content identical (M6)") {
    import graft.operators.Lakehouse
    val out = Lakehouse.compactFiles(spark, sfDir)
    val rows = out.collect()
    assert(rows.forall(_.getBoolean(rows.head.fieldIndex("compact_ok"))),
      "compaction law flag false — file counts diverged from the byte target")
    assert(rows.forall(_.getInt(rows.head.fieldIndex("files_before")) == Lakehouse.CompactSmallFiles))
    // content identity with the source table (doc_id multiset)
    val src = Tables.documents(spark, sfDir).select("doc_id").collect().map(_.getLong(0)).sorted
    val got = rows.map(_.getLong(rows.head.fieldIndex("doc_id"))).sorted
    assert(got.toSeq == src.toSeq, "compaction changed the row set")
  }
}
