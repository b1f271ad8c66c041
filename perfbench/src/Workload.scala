package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** One execution of one registry query. `df`/`rdd` are held until the
  * output check, which the same client runs right after, then dropped.
  */
final class Exec(val id: Long, val query: String, val pass: Int, val client: Int) {
  var latencyS: Double = Double.NaN
  var error: Option[String] = None
  var df: DataFrame = _
  var rdd: RDD[InternalRow] = _
  var digest: Option[Digest] = None
  var layers: Map[String, LayerCounts] = Map.empty

  def group: String = s"pb$id"

  def record(module: String): Map[String, Any] = Map(
    "id" -> id, "query" -> query, "module" -> module, "pass" -> pass, "client" -> client,
    "latency_s" -> latencyS, "error" -> error,
    "rows" -> digest.map(_.rows), "hash" -> digest.map(_.hash.toString),
    "layers" -> layers.map { case (phase, c) => phase -> c.fields.toMap })
}

/** Closed-loop workload: one client runs each pass's seeded permutation
  * of the query list, for `passes` measured passes. Before them, warm-up
  * passes count toward set-up: a cold one drained by one thread per core
  * (codegen cache, staged inputs), then `WarmupPasses` with one client, so
  * that JIT-compiled code can catch up: the cold pass keeps every core busy
  * and starves the compiler threads. Passes keep getting faster for about
  * six passes, 20-40% from the second to the fourth.
  *
  * The timed region of an execution is the operator call (construction,
  * which includes eager analysis and any driver-side jobs), then
  * `optimizedPlan`, `executedPlan` and `toRdd` plus a count over its rows.
  * Right after it, on the same thread, the output digest is computed by a
  * second job over the same RDD (its shuffle outputs are reused, so only
  * the last stage re-runs). The check is outside the execution's latency,
  * and a pass's wall is its slowest thread's time less that thread's
  * checks.
  *
  * With `--trace 1` measured passes alternate untraced and traced; traced
  * passes record spans and attach a `LayerListener`, and the ratio of their
  * walls is the tracing overhead.
  */
object Workload {
  val WarmupPasses = 3

  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${Proc.sinceJvmStart()}%7.2f] $msg")

  def run(o: Opts): Unit = {
    val work = Paths.get(o("work"))
    val data = o("data")
    val (queries, modules) = o.list("queries").map { qm =>
      val Array(q, m) = qm.split(":"); (q, q -> m)
    }.unzip
    val moduleOf = modules.toMap
    val cores = o.int("cores")
    val passes = o.int("passes")
    val trace = o("trace") == "1"
    val rng = new scala.util.Random(o("seed").toLong)

    val stageRoot = Paths.get(o("stage"))
    val moved = Stage.redirect(stageRoot)
    val stagedBefore = Stage.digestDirs(stageRoot)

    val t0 = System.nanoTime()
    val spark = Session.build(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext

    val registry = graft.SparkEntry.queries
    val unknown = queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(",")}")

    val t1 = System.nanoTime()
    graft.Tables.all.foreach { case (_, load) => load(spark, data).schema }
    val tablesS = (System.nanoTime() - t1) / 1e9

    val ids = new AtomicLong
    val listener = new LayerListener
    val spans = new Spans
    var tracing = false

    def execute(q: String, pass: Int, client: Int): Exec = {
      val e = new Exec(ids.incrementAndGet(), q, pass, client)
      def span[A](name: String, parent: String = "query")(body: => A): A =
        if (tracing) spans(e.id, name, parent)(body) else body
      val start = System.nanoTime()
      try {
        Layers.tag(sc, e.group, "construct")
        span("query", "") {
          e.df = span("construct")(registry(q)(spark, data))
          Layers.tag(sc, e.group, "exec")
          span("optimize")(e.df.queryExecution.optimizedPlan)
          span("plan")(e.df.queryExecution.executedPlan)
          e.rdd = span("execute")(e.df.queryExecution.toRdd)
          span("action")(e.rdd.count())
        }
        e.latencyS = (System.nanoTime() - start) / 1e9
      } catch {
        case NonFatal(x) => e.error = Some(s"${x.getClass.getName}: ${x.getMessage}".take(500))
      } finally Layers.untag(sc)
      log(f"pass $pass client $client $q ${e.latencyS}%.3f s" +
        e.error.map(" FAILED " + _).getOrElse(""))
      e
    }

    def check(e: Exec): Unit = {
      if (e.error.isEmpty) try {
        Layers.tag(sc, e.group, "check")
        e.digest = Some(Digest.of(e.rdd, e.df.queryExecution.executedPlan.output))
      } catch {
        case NonFatal(x) => e.error = Some(s"check: ${x.getClass.getName}: ${x.getMessage}".take(500))
      } finally Layers.untag(sc)
      e.df = null
      e.rdd = null
    }

    /** One pass, every execution checked; returns its wall seconds without
      * the checks and its executions.
      */
    def pass(p: Int, threads: Int): (Double, Seq[Exec]) = {
      if (tracing) sc.addSparkListener(listener)
      val queue = new ConcurrentLinkedQueue[String](rng.shuffle(queries).asJava)
      val done = new ConcurrentLinkedQueue[Exec]()
      val busyNs = new Array[Long](threads)
      val start = System.nanoTime()
      val workers = (0 until threads).map { c =>
        new Thread(() => {
          var checkNs = 0L
          var q = queue.poll()
          while (q != null) {
            val e = execute(q, p, c)
            val t = System.nanoTime()
            check(e)
            checkNs += System.nanoTime() - t
            done.add(e)
            q = queue.poll()
          }
          busyNs(c) = System.nanoTime() - start - checkNs
        }, s"perfbench-client-$c")
      }
      workers.foreach(_.start())
      workers.foreach(_.join())
      val wall = busyNs.max / 1e9
      val execs = done.asScala.toSeq.sortBy(_.id)
      if (tracing) {
        Layers.drain(sc)
        execs.foreach(e => e.layers = listener.take(e.group))
        sc.removeSparkListener(listener)
      }
      log(f"pass $p: $wall%.3f s")
      (wall, execs)
    }

    val warmups = pass(-WarmupPasses, cores) +:
      (1 to WarmupPasses).map(w => pass(w - WarmupPasses, 1))
    val warm = warmups.flatMap(_._2)
    val setupS = Proc.sinceJvmStart()
    val stagedAfterWarm = Stage.digestDirs(stageRoot)
    // every run enters its measured passes with the same, collected heap
    System.gc()
    val heap = new HeapWatch

    // A traced run makes at least three measured passes (untraced, traced,
    // untraced), so the overhead estimate compares a traced pass with the
    // untraced passes on both sides of it.
    val m0 = System.nanoTime()
    val measured = (1 to (if (trace) math.max(3, passes) else passes)).map { p =>
      tracing = trace && p % 2 == 0
      val (wall, execs) = pass(p, 1)
      val traced = tracing
      tracing = false
      (p, traced, wall, execs)
    }
    val measureS = (System.nanoTime() - m0) / 1e9
    heap.stop()

    val kernels = if (trace) Kernels.probe(spark, data) else Map.empty[String, Double]
    if (trace) log(s"kernels: $kernels")
    log("done")

    val out = Map(
      "workload" -> o("workload"), "seed" -> o("seed"), "cores" -> cores,
      "data" -> data, "trace" -> trace,
      "setup" -> Map("session_build_s" -> sessionS, "tables_load_s" -> tablesS,
        "warmup_s" -> warmups.map(_._1), "setup_s" -> setupS),
      "stage" -> Map("redirected" -> moved, "digest_dirs_before" -> stagedBefore,
        "new_digest_dirs" -> (stagedAfterWarm - stagedBefore),
        "new_after_warmup" -> (Stage.digestDirs(stageRoot) - stagedAfterWarm)),
      "warmup" -> warm.map(e => e.record(moduleOf(e.query))),
      "passes" -> measured.map { case (p, traced, wall, execs) =>
        Map("pass" -> p, "traced" -> traced, "wall_s" -> wall,
          "execs" -> execs.map(e => e.record(moduleOf(e.query))))
      },
      "measure_s" -> measureS,
      "spans" -> spans.all.asScala.toSeq.map(s =>
        Seq(s.exec, s.name, s.parent, s.startNs, s.endNs)),
      "kernels" -> kernels,
      "heap_peak_after_gc_b" -> heap.peak,
      "peak_rss_kb" -> Proc.peakRssKb())
    Files.writeString(Paths.get(o("out")), Json(out))
    spark.stop()
  }
}
