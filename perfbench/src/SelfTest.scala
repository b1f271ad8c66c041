package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Checks of the benchmark's own machinery that need a session; results
  * go to `--out` as JSON and test_perfbench.py asserts on them.
  *
  *  - digest: unchanged by row order and partitioning, changed by a
  *    dropped or altered row;
  *  - attribution: two queries run concurrently, each under its own job
  *    group, get the same per-query job, stage and task counts as when run
  *    one after the other.
  */
object SelfTest {
  def run(o: Opts): Unit = {
    val spark = Session.build(o.int("cores"), Paths.get(o("work")))
    Stage.redirect(Paths.get(o("stage")))
    val data = o("data")
    val sc = spark.sparkContext

    val li = graft.Tables.lineitem(spark, data)
    val base = Digest.of(li)
    val digest = Map(
      "base_rows" -> base.rows,
      "reordered_equal" -> (Digest.of(li.orderBy(col("l_extendedprice").desc)) == base),
      "repartitioned_equal" -> (Digest.of(li.repartition(7)) == base),
      "dropped_differs" -> (Digest.of(li.where(col("l_linenumber") =!= 1)) != base),
      "altered_differs" -> (Digest.of(li.withColumn("l_tax", col("l_tax") + 0.01)) != base))

    val queries = o.list("queries")
    val listener = new LayerListener
    sc.addSparkListener(listener)
    def runTagged(q: String, group: String): Unit = {
      Layers.tag(sc, group, "exec")
      try graft.SparkEntry.queries(q)(spark, data).queryExecution.toRdd.count()
      finally Layers.untag(sc)
    }
    def taken(group: String): Map[String, Long] = {
      val c = listener.take(group).values.toSeq
      Map("jobs" -> c.map(_.jobs.get).sum, "stages" -> c.map(_.stages.get).sum,
        "tasks" -> c.map(_.tasks.get).sum)
    }
    queries.foreach(q => runTagged(q, s"warm-$q"))
    queries.foreach(q => runTagged(q, s"serial-$q"))
    val threads = queries.map(q => new Thread(() => runTagged(q, s"concurrent-$q")))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Layers.drain(sc)
    val attribution = queries.map { q =>
      q -> Map("serial" -> taken(s"serial-$q"), "concurrent" -> taken(s"concurrent-$q"))
    }.toMap
    Files.writeString(Paths.get(o("out")),
      Json(Map("digest" -> digest, "attribution" -> attribution)))
    spark.stop()
  }
}
