package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.VectorOps

/** ANN recall-vs-cost measurement: four
  * sweeps, each against the ground truth of its own metric —
  *
  *  - `sim_ann` multi-probe radius 0/1/2 bit flips, vs brute-force COSINE
  *    top-k (`sim_topk`);
  *  - `sim_ivf` probed-list count 1/2/4/8 of the k lists, same cosine
  *    truth;
  *  - `sim_ivfpq` probes 1/2/4/10 × {ADC, exact rerank}, vs exact
  *    squared-L2 top-k (the metric IVF-PQ ranks in — cosine truth would
  *    conflate metric mismatch with index loss);
  *  - `sim_mips_ivf` probes 1/2/4/10, vs brute-force DOT top-k
  *    (`sim_mips`) — nProbes=10 is exhaustive for the 10-list label-mean
  *    book, where the norm-augmentation identity forces recall 1.0;
  *  - `sim_mrl` rerank-pool size C (1×/4×/16× the default, then
  *    |corpus| = exhaustive, where stage 2 IS the brute force and recall
  *    is exactly 1.0), same cosine truth as sim_ann/sim_ivf.
  *
  * Each row reports recall@k, wall seconds, and SCORED CANDIDATE PAIRS —
  * the cost axis that survives scale-up (wall time on a 200k-vector
  * staging is noise; candidates-per-query is the number a 1000-executor
  * deployment bills for). Candidate counts come from the operators' own
  * pre-rank frames ([[VectorOps.annCandidates]] / [[VectorOps.ivfCandidates]]
  * / [[VectorOps.ivfPqCandidates]] / [[VectorOps.mipsIvfCandidates]]),
  * so the measurement cannot drift from the shipped plans.
  *
  * Usage: `sbt "runMain graft.AnnRecall <sfDir>"` — one JSON line to
  * stdout; run against the 100× ScaleGen staging for the published
  * BASELINE.md table.
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val dir =
      if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // Widened query/corpus split: 5 queries × AnnTopK = 25 ground-truth
    // pairs is weak statistical evidence for a recall claim. The
    // measurement runs the SHIPPED operators under the session split
    // override; the gated registry keeps the default (its oracles hardcode
    // it). 50 queries → 250 ground-truth pairs per sweep. Env-overridable
    // for quick runs. Parsed eagerly: a non-numeric env value must fail at
    // startup with a clear message, not surface as invalid JSON output or
    // a deep .toLong inside an operator.
    val qSet: Long = sys.env.get("SPARK_GRAFT_QUERYSET").map { s =>
      try s.trim.toLong catch {
        case _: NumberFormatException =>
          sys.error(s"SPARK_GRAFT_QUERYSET must be an integer, got '$s'")
      }
    }.getOrElse(50L)
    spark.conf.set(VectorOps.QrySetConf, qSet.toString)

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
    }
    def fmt(x: Double): String =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

    // The whole measurement runs under the widened query-set split; unset
    // it exception-safely so an in-process caller never
    // leaks the override into gated queries whose oracles hardcode the
    // default.
    try {
      val emb = Tables.embeddings(spark, dir)
      val nCorpus = emb.count() // also warms the IO path
      val (want, bruteSec) =
        timed(pairs(VectorOps.simTopk(spark, dir).filter(col("rn") <= VectorOps.AnnTopK)))
      val rows = scala.collection.mutable.ArrayBuffer.empty[String]
      // one row formatter for every sweep; `truth` is the ground-truth pair
      // set of the sweep's own metric. ci95 is the binomial error bar
      // 1.96·√(r(1−r)/n) over
      // the n ground-truth pairs — 0.95-vs-1.0 distinctions drive the
      // ADC-vs-rerank recommendation and need the interval published.
      def row(op: String, conf: Long, truth: Set[(Long, Long)],
              got: Set[(Long, Long)], sec: Double, scored: Long): Unit = {
        val r = (got & truth).size.toDouble / truth.size
        val ci = 1.96 * math.sqrt(r * (1.0 - r) / truth.size)
        rows += (s"""{"op":"$op","conf":$conf,""" +
          s""""recall":${fmt(r)},"ci95":${fmt(ci)},"n_truth":${truth.size},""" +
          s""""secs":${fmt(sec)},"scored_pairs":$scored}""")
      }
      // Every conf-driven sweep unsets its conf in `finally`: an exception mid-sweep would otherwise leave the session
      // conf set, and any later gated query in the same session would
      // silently diverge from its oracle, which hardcodes the default.
      def sweep(conf: String)(body: => Unit): Unit =
        try body finally spark.conf.unset(conf)

      sweep(VectorOps.AnnProbeFlipsConf) {
        for (flips <- 0 to 2) {
          spark.conf.set(VectorOps.AnnProbeFlipsConf, flips.toString)
          val (got, sec) = timed(pairs(VectorOps.simAnn(spark, dir)))
          row("sim_ann", flips, want, got, sec, VectorOps.annCandidates(spark, dir).count())
        }
      }
      // the centroid frame is probe-count independent — hoist
      // it out of the sweep (the per-probe candidate count still re-runs, its
      // result genuinely depends on the nProbe conf set each iteration).
      val cent = VectorOps.labelMeanCentroids(emb)
      sweep(VectorOps.IvfProbesConf) {
        for (p <- Seq(1, 2, 4, 8)) {
          spark.conf.set(VectorOps.IvfProbesConf, p.toString)
          val (got, sec) = timed(pairs(VectorOps.simIvf(spark, dir)))
          row("sim_ivf", p, want, got, sec, VectorOps.ivfCandidates(emb, cent).count())
        }
      }

      // sim_ivfpq sweep: nProbe × {ADC,
      // exact-rerank}. Ground truth here is exact squared-L2 top-k (the
      // metric IVF-PQ ranks in — cosine ground truth would conflate metric
      // mismatch with index loss); the label-mean coarse book has 10 lists,
      // so nProbe=10 is exhaustive — at that point the rerank row must hit
      // recall 1.0 and the ADC row isolates pure PQ-resolution loss.
      import graft.functions.Vec
      val l2q = VectorOps.queriesOf(emb)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val l2want = pairs(VectorOps.corpusOf(emb)
        .crossJoin(broadcast(l2q))
        .withColumn("d2", Vec.sqDistF(col("q_emb"), col("embedding")))
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(asc("d2"), asc("vec_id"))))
        .filter(col("rn") <= VectorOps.AnnTopK))
      sweep(VectorOps.IvfProbesConf) {
        for (p <- Seq(1, 2, 4, 10)) {
          spark.conf.set(VectorOps.IvfProbesConf, p.toString)
          val scored = VectorOps.ivfPqCandidates(spark, dir).count()
          val (gotAdc, secAdc) = timed(pairs(VectorOps.simIvfPq(spark, dir)))
          row("sim_ivfpq", p, l2want, gotAdc, secAdc, scored)
          val (gotRr, secRr) = timed(pairs(VectorOps.simIvfPqRerank(spark, dir)))
          row("sim_ivfpq_rerank", p, l2want, gotRr, secRr, scored)
        }
      }

      // sim_mips_ivf sweep: MIPS ground truth is the
      // brute-force DOT ranking (sim_mips capped at AnnTopK) — cosine truth
      // would conflate the metric change with index loss. Probes sweep the
      // same axis as sim_ivf; nProbes = 10 (the label-mean book's list
      // count) is exhaustive, where the norm-augmentation identity makes
      // recall exactly 1.0 (asserted as a law in VectorOpsSpec). The
      // augmented frame + centroids are probe-independent — hoisted out of
      // the loop like the sim_ivf sweep.
      val mipsWant = pairs(
        VectorOps.simMips(spark, dir).filter(col("rn") <= VectorOps.AnnTopK))
      val (mipsAug, mipsCent) = VectorOps.mipsIvfParts(emb)
      sweep(VectorOps.IvfProbesConf) {
        for (p <- Seq(1, 2, 4, 10)) {
          spark.conf.set(VectorOps.IvfProbesConf, p.toString)
          val (got, sec) = timed(pairs(VectorOps.simMipsIvf(spark, dir)))
          row("sim_mips_ivf", p, mipsWant, got, sec,
            VectorOps.mipsIvfCandidates(mipsAug, mipsCent).count())
        }
      }

      // sim_mrl sweep: rerank-pool size C against the cosine
      // ground truth (the metric MRL ranks in). scored_pairs is the STAGE-2
      // exact-rerank pool (C × queries, from the operator's own candidate
      // frame); stage 1 additionally scores |corpus| × queries pairs at
      // MrlPrefixDims/Dim of the per-pair cost — a fixed prefix-fraction
      // overhead every C shares, noted in the BASELINE table. C = |corpus|
      // is exhaustive: stage 2 IS the brute force, recall exactly 1.0
      // (VectorOpsSpec law).
      sweep(VectorOps.MrlCandidatesConf) {
        for (c <- Seq(VectorOps.MrlCandidates.toLong, 4L * VectorOps.MrlCandidates,
                      16L * VectorOps.MrlCandidates, nCorpus)) {
          spark.conf.set(VectorOps.MrlCandidatesConf, c.toString)
          val (got, sec) = timed(pairs(
            VectorOps.simMrl(spark, dir).filter(col("rn") <= VectorOps.AnnTopK)))
          row("sim_mrl", c, want, got, sec,
            VectorOps.mrlCandidates(spark, VectorOps.mrlStaged(spark, dir)).count())
        }
      }

      // sim_hamming sweep: rerank-pool size C against the cosine
      // ground truth. scored_pairs is the stage-2 exact-rerank pool; stage 1
      // additionally Hamming-scores |corpus| x queries pairs at two
      // XOR+popcounts per pair — integer ops on the signature column family,
      // the cheapest stage-1 in the family. C = |corpus| is exhaustive:
      // recall exactly 1.0 (VectorOpsSpec law).
      sweep(VectorOps.HamCandidatesConf) {
        for (c <- Seq(VectorOps.HamCandidates.toLong, 4L * VectorOps.HamCandidates,
                      16L * VectorOps.HamCandidates, nCorpus)) {
          spark.conf.set(VectorOps.HamCandidatesConf, c.toString)
          val (got, sec) = timed(pairs(
            VectorOps.simHamming(spark, dir).filter(col("rn") <= VectorOps.AnnTopK)))
          row("sim_hamming", c, want, got, sec,
            VectorOps.hamCandidates(spark, VectorOps.hamStaged(spark, dir)).count())
        }
      }

      // sim_hnsw sweep: beam width against the cosine ground
      // truth. scored_pairs is the VISITED set (every (query, node) the
      // beam touched and scored) — unlike IVF's probe fraction this is
      // corpus-size independent (iters x beam x degree), the graph-index
      // selling point; recall at any beam is graph-reachability bound, so
      // exhaustive beam is NOT asserted to hit 1.0 (the bounded-iteration
      // contract) — the sweep MEASURES where the curve saturates.
      // stage the graph BEFORE the sweep: the first sim_hnsw invocation
      // otherwise pays the one-time index build inside the lowest-beam
      // row's wall time (which then reads slower than a wider beam)
      VectorOps.hnswStaged(spark, dir)
      sweep(VectorOps.HnswBeamConf) {
        for (c <- Seq(VectorOps.HnswBeam.toLong, 4L * VectorOps.HnswBeam,
                      16L * VectorOps.HnswBeam, nCorpus)) {
          spark.conf.set(VectorOps.HnswBeamConf, c.toString)
          val (got, sec) = timed(pairs(VectorOps.simHnsw(spark, dir)))
          row("sim_hnsw", c, want, got, sec,
            VectorOps.hnswVisited(spark, dir).count())
        }
      }

      // sim_hnsw ITERS ladder: on the hard 1× random
      // geometry, is the 3-round expansion cap or the graph's reachability
      // binding beam-8 recall? The conf (default pinned for the gated
      // oracle) widens only here; rows are keyed iters·100 + beam so one
      // sweep array carries the 2-D grid.
      sweep(VectorOps.HnswItersConf) {
        sweep(VectorOps.HnswBeamConf) {
          for (it <- Seq(3, 5, 8); bm <- Seq(VectorOps.HnswBeam.toLong,
                                             4L * VectorOps.HnswBeam)) {
            spark.conf.set(VectorOps.HnswItersConf, it.toString)
            spark.conf.set(VectorOps.HnswBeamConf, bm.toString)
            val (got, sec) = timed(pairs(VectorOps.simHnsw(spark, dir)))
            row("sim_hnsw_iters", it * 100L + bm, want, got, sec,
              VectorOps.hnswVisited(spark, dir).count())
          }
        }
      }

      println(s"""{"metric":"ann_recall","sf":"$dir","n_corpus":$nCorpus,""" +
        s""""query_set":$qSet,""" +
        s""""ground_truth_pairs":${want.size},"brute_secs":${fmt(bruteSec)},""" +
        s""""sweeps":[${rows.mkString(",")}]}""")
    } finally spark.conf.unset(VectorOps.QrySetConf)
    spark.stop()
  }
}
