package perfbench

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

object Derive {
  /** Dump `--queries` with `graft.Verify.run` into `--dump` (parquet per
    * query plus oracle_sql.json, whose staged paths follow the redirect),
    * then record for each query the digest of a fresh live result and of
    * its dump. derive_expected.py keeps a digest only where both agree and
    * the dump passed tools/selfcheck.py.
    */
  def run(o: Opts): Unit = {
    Stage.redirect(Paths.get(o("stage")))
    val spark = Session.build(o.int("cores"), Paths.get(o("work")))
    val data = o("data")
    val queries = o.list("queries")
    graft.Verify.run(spark, data, o("dump"), Some(queries.toSet))
    val rows = queries.map { q =>
      def d(f: => Digest): Any =
        try { val x = f; Map("rows" -> x.rows, "hash" -> x.hash.toString) }
        catch { case NonFatal(e) => Map("error" -> e.getMessage) }
      q -> Map(
        "live" -> d(Digest.of(graft.SparkEntry.queries(q)(spark, data))),
        "dump" -> d(Digest.of(spark.read.parquet(s"${o("dump")}/$q"))))
    }.toMap
    Files.writeString(Paths.get(o("out")), Json(rows))
    spark.stop()
  }
}
