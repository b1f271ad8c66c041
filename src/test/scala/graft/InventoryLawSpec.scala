package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{InputAdapter, LocalTableScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.Assertions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** The whole-inventory law pass: every query registered in
  * `SparkEntry.queries` is checked against six laws from ONE base
  * construction and ONE base collect. Adding a query to the registry adds
  * it to every law.
  *
  * Per query, in this order:
  *  1. build the DataFrame and audit its `executedPlan` BEFORE any action
  *     (the AQE initial plan) for the scale-killers:
  *     - `CartesianProduct` (all-pairs shuffle join) and
  *       `BroadcastNestedLoopJoin` (per-row scan of a broadcast side), the
  *       latter only within the counted `bnljAllowed` grant;
  *     - a SinglePartition exchange over raw rows (the global-window /
  *       global-sort-into-one-task trap). Such an exchange is legitimate
  *       only over an aggregate (one partial-state row per task) or a
  *       LocalTableScan (driver-built constant frame);
  *  2. collect the base rows;
  *  3. SQL surface: the oracle SQL, put through the mechanical DuckDB→Spark
  *     dialect [[bridge]] and run by `spark.sql` over `Tables.registerAll`'s
  *     views, returns the base row multiset — or, for the queries pinned in
  *     `nonPortable`, still fails with the pinned Spark limitation, so the
  *     allowlist cannot rot silently;
  *  4. determinism: a second construction and run returns identical rows.
  *     Non-determinism is invisible to a single-run gate (a
  *     `repartitionByRange` that re-samples its boundaries per job emits
  *     different deciles per execution);
  *  5. partition invariance: a sibling session (own SQLConf, same
  *     SparkContext) at shuffle.partitions = 3 returns identical rows —
  *     the law the exact-decimal discipline (`Num`, exact centroid sums)
  *     upholds, since a raw cross-partition float sum drifts with the
  *     merge order;
  *  6. order totality: a row-shuffled mirror of the input returns identical
  *     rows, which makes every `oracleSorted` key a TOTAL order (a key that
  *     ties two distinct rows passes on one layout and diverges as soon as
  *     anything reshuffles the input).
  *
  * Each law's outcome is kept per query and reported by the five suites
  * below, one named test per (query, check); whichever suite runs first
  * pays for the pass. `spark.sql.parser.escapedStringLiterals` is set only
  * around the SQL parse, so the base rows come from the default parser.
  */
object InventoryLaws extends AdaptiveSparkPlanHelper {
  import SparkTestSession.{spark, sfDir}

  final case class Outcome(cartesian: Try[Unit], singlePartition: Try[Unit],
                           sql: Try[Unit], determinism: Try[Unit],
                           partitions: Try[Unit], order: Try[Unit])

  val names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  // name -> max sanctioned BroadcastNestedLoopJoin count in the plan. The
  // exact-recall vector baselines scan the corpus against a broadcast query
  // set bounded at QueryVecs (=8) rows; `rag_retrieve` scores against a
  // query set bounded by construction; `rag_hybrid` embeds the same dense
  // arm, and its count of one keeps a nested loop out of its sparse arm
  // and fusion join.
  val bnljAllowed = Map("sim_topk" -> 1, "sim_mips" -> 1,
    "sim_mrl" -> 1, "sim_hamming" -> 1, "sim_mmr" -> 1,
    "rag_retrieve" -> 1, "rag_hybrid" -> 1,
    // the k-row (=10) centroid table broadcast onto the arriving batch —
    // bounded by the list count, never corpus-sized
    "sim_ivf_incremental" -> 1)

  /** Inherent non-portabilities, query -> blocking Spark limitation. */
  val nonPortable: Map[String, String] = Map(
    // Spark 4.1 recursive CTEs reject UNION-distinct members
    "corpus_pipeline" -> "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
    "corpus_report" -> "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
    "dedup_cluster" -> "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
    "dedup_keepbest" -> "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
    "dedup_pipeline" -> "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
    // span-slice applied to an expression base — DuckDB's x[a:b] over a
    // non-identifier has no mechanical substring() bridge here
    "dedup_substring_clean" -> "PARSE_SYNTAX_ERROR",
    // DuckDB list slices x[a:b] over ARRAY columns — the mechanical bridge
    // maps slices to substring (the string case); an array-typed base has
    // no token-level rewrite to slice() without type inference
    "vec_pq" -> "DATATYPE_MISMATCH",
    "vec_pq_adc" -> "DATATYPE_MISMATCH",
    "sim_ivfpq" -> "DATATYPE_MISMATCH",
    "sim_mrl" -> "DATATYPE_MISMATCH",
    "graph_bfs" -> "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE",
    // ... and reject aggregation over the recursive reference
    "graph_pagerank" -> "INVALID_RECURSIVE_REFERENCE",
    "kmeans_int_trace" -> "INVALID_RECURSIVE_REFERENCE",
    // the float-loop replay trips Spark's parser before the
    // recursive-aggregation check even runs: DuckDB's in-aggregate
    // `string_agg(x, ',' ORDER BY iter)` has no parse twin (Spark's
    // ordered string agg is listagg(...) WITHIN GROUP — a shape rewrite
    // the mechanical bridge deliberately doesn't attempt); past the
    // parser it would fail like kmeans_int_trace (aggregation over the
    // recursive reference)
    "kmeans_clusters" -> "PARSE_SYNTAX_ERROR",
    // init-less list fold: DuckDB list_reduce seeds the accumulator with
    // the first element; Spark SQL's aggregate() requires an explicit
    // init and no mechanical shape bridge exists (the DataFrame form uses
    // aggregate with an explicit empty-array init)
    "vocab_bpe" -> "list_reduce",
    // the 48-CTE Viterbi DP chain (3 rounds × 16 positions, fan-in 6)
    // exceeds Spark's analyzer resolution iteration cap — the bridge
    // parses it (MATERIALIZED stripped) but resolution cannot fixpoint
    "vocab_unigram" -> "Max iterations",
    "tokenize_unigram" -> "Max iterations",
    "tokenize_bpe" -> "list_reduce",
    "tokenize_bpe_encode" -> "list_reduce",
    // same init-less list_reduce fold (plus a window list() aggregate and
    // single-element list literals the bridge deliberately leaves alone);
    // the parser trips on `[0e0]` before resolution ever sees list_reduce
    "window_ewma" -> "PARSE_SYNTAX_ERROR",
    // no ASOF JOIN syntax in Spark SQL (the DataFrame form IS the op)
    "join_asof" -> "ASOF",
    "join_asof_salted" -> "ASOF",
    // DuckDB staged-file table-valued readers; Spark reads those staged
    // files through its own DataFrameReader (the query under test)
    "scan_csv" -> "'{'",
    "scan_json" -> "'{'",
    "scan_nested" -> "read_parquet",
  )

  private val outcomes = scala.collection.mutable.Map.empty[String, Outcome]

  def apply(name: String): Outcome = synchronized {
    outcomes.getOrElseUpdate(name, pass(name))
  }

  private def pass(name: String): Outcome = {
    val fn = SparkEntry.queries(name)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq
    val df = Try(fn(spark, sfDir))
    val plan = df.map(_.queryExecution.executedPlan)
    val cartesian = plan.map(auditJoins(name, _))
    val singlePartition = plan.map(auditSinglePartition(name, _))
    val base = df.map(rows)
    def law(check: Seq[String] => Unit): Try[Unit] = base.flatMap(b => Try(check(b)))
    val sql: Try[Unit] = SparkEntry.oracleSql.get(name) match {
      case None => Try(fail(s"$name has no oracle SQL"))
      case Some(text) => nonPortable.get(name) match {
        case Some(blocker) => Try {
          val e = intercept[Throwable](viaSql(text).collect())
          assert(String.valueOf(e.getMessage).contains(blocker),
            s"$name: expected blocker '$blocker' but got: ${e.getMessage}")
        }
        case None => law(b => sameRows(b.sorted, rows(viaSql(text)).sorted,
          s"$name: SQL surface diverges from DataFrame form", "df:  ", "sql: "))
      }
    }
    val determinism = law(b => sameRows(b, rows(fn(spark, sfDir)),
      s"$name is not run-to-run deterministic", "", ""))
    val partitions = law(b => sameRows(b, rows(fn(alt, sfDir)),
      s"$name depends on the partition count", "4p: ", "3p: "))
    val order = law(b => sameRows(b, rows(fn(spark, shuffledDir)),
      s"$name depends on input row order (oracle sort is not total)", "src:  ", "shuf: "))
    Outcome(cartesian, singlePartition, sql, determinism, partitions, order)
  }

  private def sameRows(a: Seq[String], b: Seq[String], what: String,
                       la: String, lb: String): Unit =
    assert(a == b, {
      val diff = a.zip(b).zipWithIndex.collectFirst {
        case ((x, y), i) if x != y => s"first diff at row $i:\n  $la$x\n  $lb$y"
      }.getOrElse(s"sizes ${a.size} vs ${b.size}")
      s"$what — $diff"
    })

  // count NODES structurally, through the AQE wrappers: a regex over the
  // plan string double-counts Initial+Final AQE sections and reused subtrees
  private def auditJoins(name: String, plan: SparkPlan): Unit = {
    val cartesian = collect(plan) { case c: CartesianProductExec => c }
    assert(cartesian.isEmpty, s"$name plan contains CartesianProduct:\n$plan")
    val bnljCount = collect(plan) { case b: BroadcastNestedLoopJoinExec => b }.size
    assert(bnljCount <= bnljAllowed.getOrElse(name, 0),
      s"$name plan contains $bnljCount BroadcastNestedLoopJoin(s), " +
        s"allowance ${bnljAllowed.getOrElse(name, 0)}:\n$plan")
  }

  private def auditSinglePartition(name: String, plan: SparkPlan): Unit = {
    val offenders = collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        e -> semanticChild(e.child)
    }.filterNot { case (_, c) =>
      c.isInstanceOf[BaseAggregateExec] || c.isInstanceOf[LocalTableScanExec]
    }
    assert(offenders.isEmpty,
      s"$name: SinglePartition exchange over raw rows:\n" +
        offenders.map { case (e, c) => s"child ${c.nodeName} of:\n$e" }.mkString("\n"))
  }

  /** Unwrap the execution-detail nodes that can sit between an exchange and
    * its semantic child.
    */
  @annotation.tailrec
  private def semanticChild(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => semanticChild(w.child)
    case i: InputAdapter          => semanticChild(i.child)
    case q: QueryStageExec        => semanticChild(q.plan)
    case r: ReusedExchangeExec    => semanticChild(r.child)
    case other                    => other
  }

  /** Same SparkContext, own SQLConf: the runs genuinely plan different
    * exchange widths (3 ≠ 4, and not a divisor).
    */
  private lazy val alt: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "3")
    s
  }

  /** The row-shuffled mirror, staged once: each table round-robin
    * repartitioned (rows land in interleaved, non-source order) and written
    * back as parquet, so every loader — including the staged CSV/JSON/ORC
    * fixtures, which re-stage from the mirror's fingerprint — sees a
    * reordered corpus. Re-staged when the source content fingerprint
    * (name:size:mtime per table) changes, so testdata regenerated in place
    * never reuses a stale mirror.
    */
  private lazy val shuffledDir: String = {
    val out = "/tmp/graft_order_totality/sf0.001"
    val marker = new java.io.File(s"$out/.staged_from")
    val want = sfDir + "|" + Tables.all.map { case (name, _) =>
      s"$name=${graft.operators.Relational.sourceFingerprint(s"$sfDir/$name.parquet")}"
    }.mkString(",")
    if (!marker.exists() ||
        new String(java.nio.file.Files.readAllBytes(marker.toPath)) != want) {
      Tables.all.foreach { case (name, load) =>
        load(spark, sfDir).repartition(7)
          .write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")
      }
      java.nio.file.Files.write(marker.toPath, want.getBytes)
    }
    out
  }

  private lazy val sqlCatalog: Unit = {
    Tables.registerAll(spark, sfDir)
    // Spark-4 SQL-defined shims for two DuckDB names with no token twin;
    // SQL UDFs inline into catalyst expressions (no black-box UDF cliff)
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION sha256(x STRING) " +
      "RETURNS STRING RETURN sha2(x, 256)")
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION list_sum(x ARRAY<DOUBLE>) " +
      "RETURNS DOUBLE RETURN aggregate(x, 0D, (a, b) -> a + b)")
  }

  private val EscapedLiterals = "spark.sql.parser.escapedStringLiterals"

  /** The oracle SQL parsed with DuckDB's literal escaping (backslashes
    * verbatim); the flag is restored before anything else parses.
    */
  private def viaSql(text: String): DataFrame = {
    sqlCatalog
    spark.conf.set(EscapedLiterals, "true")
    try spark.sql(bridge(text)) finally spark.conf.unset(EscapedLiterals)
  }

  // one/two/three-level-balanced "argument" fragments for the shape rewrites
  private val A1 = """(?:[^()]|\([^()]*\))*"""
  private val A2 = s"""(?:[^()]|\\((?:[^()]|\\([^()]*\\))*\\))*"""
  private val A3 = s"""(?:[^()]|\\($A2\\))*"""

  /** The mechanical DuckDB->Spark dialect bridge: token/shape rewrites, no
    * per-query hand-written SQL. Function renames with identical semantics
    * (`string_split`→`split`, `arg_max`→`max_by`, …), DuckDB idioms with
    * exact Spark twins (1-based `x[a:b]` slices → `slice`/`substring`,
    * `{'k': v}` → `named_struct`, hex-string casts → `conv`), and the two
    * SQL-defined shims above (`sha256`, `list_sum`). Float parity is EXACT
    * (same fold order — `zip_with` + sequential `aggregate` mirrors
    * DuckDB's list fold), so the comparison is row equality, not tolerance.
    */
  private def bridge(sql0: String): String = {
    val sql = sql0
      // DuckDB CTE anti-inlining hint; Spark has no parse twin and
      // materializes CTEs by its own planning — semantics identical
      .replace(" AS MATERIALIZED (", " AS (")
      .replace("string_split(", "split(")
      // DuckDB x[a:b] slices are 1-based inclusive-inclusive
      .replaceAll("""\(split\(text, ' '\)\)\[([^\[\]:]+):([^\[\]:]+)\]""",
        "slice(split(text, ' '), $1, ($2) - ($1) + 1)")
      .replaceAll("""([a-z_][\w.]*)\[([^\[\]:]+):([^\[\]:]+)\]""",
        "substring($1, $2, ($3) - ($2) + 1)")
      .replaceAll("""\{'(\w+)': (.*?), '(\w+)': (.*?)\}""",
        "named_struct('$1', $2, '$3', $4)")
      // list_transform over list_zip => zip_with (same element order)
      .replaceAll("""list_transform\(list_zip\(([\w.]+), ([\w.]+)\), p ->""",
        "zip_with($1, $2, (p1, p2) ->")
      .replace("p[1]", "p1").replace("p[2]", "p2")
      .replaceAll(s"""\\('0x' \\|\\| (substr\\($A3\\))\\)""", "conv($1, 16, 10)")
      // DuckDB 2-arg regexp_extract_all returns full matches; Spark's
      // default group index is 1 => pin 0
      .replaceAll(s"""regexp_extract_all\\(($A1), ('[^']*')\\)""",
        "regexp_extract_all($1, $2, 0)")
      .replaceAll(s"""time_bucket\\(INTERVAL '1 hour', ($A1)\\)""",
        "date_trunc('hour', $1)")
      .replaceAll(s"""time_bucket\\(INTERVAL '15 minutes', ($A1)\\)""",
        "timestamp_micros(unix_micros($1) div 900000000 * 900000000)")
      .replaceAll(s"""encode\\(($A1)\\)""", "encode($1, 'UTF-8')")
      .replaceAll(s"""list\\(($A2) ORDER BY (\\w+)\\)""",
        "transform(array_sort(collect_list(struct($2 AS _k, $1 AS _v))), s -> s._v)")
      .replaceAll(s"""string_agg\\(($A2), ('[^']*') ORDER BY ([^)]+)\\)""",
        "listagg($1, $2) WITHIN GROUP (ORDER BY $3)")
      .replace("(list_sort(list(doc_id)))[1:20]",
        "slice(array_sort(collect_list(doc_id)), 1, 20)")
      .replace("list_aggregate(", "array_min(").replace(", 'min')", ")")
    sql
      .replace("array_to_string(", "array_join(")
      .replace("AS VARCHAR)", "AS STRING)")
      .replace(", 'g')", ")") // Spark regexp_replace is global by default
      .replace("date_diff('day', ", "date_diff(DAY, ")
      .replace("strftime(", "date_format(")
      .replace("'%Y-%m-%d'", "'yyyy-MM-dd'")
      .replaceAll("""xor\(([^(),]+), ([^()]+)\)""",
        "(CAST($1 AS BIGINT) ^ CAST($2 AS BIGINT))")
      // list literal => array(...): requires ", " so regex char classes
      // inside string literals ('[aeiou]') are never touched
      .replaceAll("""(?<![\w)\]])\[([^\[\]:]*, [^\[\]:]*)\]""", "array($1)")
      .replaceAll("""([\w.]+)\[([^\[\]:]+)\]""", "element_at($1, $2)")
      .replace("arg_max(", "max_by(")
      .replace("arg_min(", "min_by(")
      .replace("epoch_us(", "unix_micros(")
      .replace("quantile_cont(", "percentile(")
      .replace("list_contains(", "array_contains(")
      .replace("list_append(", "array_append(")
      .replace("list_value(", "array(")
      .replace("list_transform(", "transform(")
      .replace("list_filter(", "filter(")
      .replace("list_sort(", "array_sort(")
      .replace("list_concat(", "concat(")
      .replace("list_intersect(", "array_intersect(")
      .replace("list_min(", "array_min(")
      .replace("list_max(", "array_max(")
      .replace("list_distinct(", "array_distinct(")
      .replace("len(", "size(")
      .replace("unnest(", "explode(")
      .replace(" // ", " div ")
      .replace("AS HUGEINT", "AS DECIMAL(38,0)")
      .replaceAll(""" IGNORE NULLS\)""", ") IGNORE NULLS")
      .replaceAll("""\(SELECT explode\(generate_series\((\d+), (\d+)\)\) AS (\w+)\) (\w+)""",
        "explode(sequence($1, $2)) AS $4($3)")
      .replace("generate_series(", "sequence(")
  }
}

class PlanSweepSpec extends AnyFunSuite {
  import InventoryLaws.bnljAllowed
  InventoryLaws.names.foreach { name =>
    test(s"$name plans without CartesianProduct" +
         (if (bnljAllowed.contains(name)) " and within its BNLJ allowance"
          else " or BroadcastNestedLoopJoin"))(InventoryLaws(name).cartesian.get)
    test(s"$name single-partition exchanges carry only aggregate states")(
      InventoryLaws(name).singlePartition.get)
  }
}

class DeterminismSpec extends AnyFunSuite {
  InventoryLaws.names.foreach { name =>
    test(s"$name: two executions produce identical rows")(InventoryLaws(name).determinism.get)
  }
}

class PartitionInvarianceSpec extends AnyFunSuite {
  InventoryLaws.names.foreach { name =>
    test(s"$name: identical rows at shuffle.partitions = 4 and 3")(
      InventoryLaws(name).partitions.get)
  }
}

class OrderTotalitySpec extends AnyFunSuite {
  InventoryLaws.names.foreach { name =>
    test(s"$name: identical rows on a row-shuffled input layout")(InventoryLaws(name).order.get)
  }
}

class SqlSurfaceSpec extends AnyFunSuite {
  import InventoryLaws.nonPortable
  private val withSql = SparkEntry.oracleSql.keys.toSeq.sorted
  withSql.foreach { name =>
    test(if (nonPortable.contains(name)) s"sql-surface: $name is blocked by a pinned Spark limitation"
         else s"sql-surface: $name via spark.sql matches the DataFrame form")(
      InventoryLaws(name).sql.get)
  }

  test("sql-surface: >= 100 queries are parity-checked through spark.sql") {
    val parity = withSql.count(n => !nonPortable.contains(n) && InventoryLaws(n).sql.isSuccess)
    assert(parity >= 100, s"only $parity queries passed the SQL surface sweep")
  }
}
