package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a `SparkSession.Builder` pre-configured the way the
  * engine expects, for users embedding graft in their own application.
  *
  *  - `graft.plans.GraftExtensions` injected → every native kernel
  *    (`vec_dot`, `vec_sq_dist`, `hashed_word_grams`, `hashed_char_grams`,
  *    `hashed_char_grams_wide`,
  *    `min_gram_md5`, `top_gram_count`, `band_sigs`, `simhash16`,
  *    `simhash60`) available on the SQL path;
  *  - nanosecond-parquet handling for the events table (see Tables.events);
  *  - UTC session timezone — date/timestamp semantics independent of the
  *    submitting machine (and of where each executor runs);
  *  - AQE left ON (Spark default) — runtime coalescing, skew-join splitting
  *    and broadcast demotion are part of the engine's 100 TB story.
  *
  * Deliberately NOT set here: master, shuffle partitions, memory — cluster
  * sizing belongs to the deployment, not the library. Callers chain their
  * own `.master(...)`/`.config(...)` on the returned builder; the mains and
  * the test suites use [[local]].
  */
object GraftSession {
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // codegen class cache sized for a many-operator inventory: the
      // 100-entry default is far below the inventory's ~1000 generated
      // classes, so a long-lived session recompiles every stage it reuses
      .config("spark.sql.codegen.cache.maxEntries", "10000")

  /** Task slots of a [[local]] session: `SPARK_GRAFT_CPUS`, else the
    * machine's core count.
    */
  private lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session every main and test suite runs on: [[builder]]
    * with one task slot and one shuffle partition per core, the UI off and
    * WARN logging.
    */
  def local(cores: Int = cpus): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
