package graft

import graft.functions.Vec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen'd FloatVecDot must be bitwise-identical to the HOF
  * fold (same sequential float64 accumulation) in BOTH execution paths:
  * interpreted eval and generated code.
  */
class NativeVecSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("native dot == HOF dot bitwise on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = Seq.fill(200)((Seq.fill(64)(rnd.nextFloat() - 0.5f), Seq.fill(64)(rnd.nextFloat() - 0.5f)))
    val rows = vecs.toDF("a", "b")
      .select(Vec.dot(col("a"), col("b")).as("hof"), Vec.dotF(col("a"), col("b")).as("native"))
      .collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  test("native l2/cosine == HOF l2/cosine bitwise on the embeddings table") {
    val rows = Tables.embeddings(spark, sfDir)
      .select(
        Vec.l2(col("embedding")).as("h_l2"), Vec.l2F(col("embedding")).as("n_l2"),
        Vec.cosine(col("embedding"), col("embedding")).as("h_cos"),
        Vec.cosineF(col("embedding"), col("embedding")).as("n_cos"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == r.getDouble(3))
    }
  }

  // the shared test session is a GraftSession, so GraftExtensions' SQL
  // registrations are visible on it directly
  test("GraftExtensions registers vec_dot on the SQL path") {
    import spark.implicits._
    Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("graft_vec_dot_v")
    val r = spark.sql("SELECT vec_dot(a, b) AS d FROM graft_vec_dot_v").collect()
    assert(r.length == 1 && r(0).getDouble(0) == 11.0)
  }

  test("native sqDist == HOF sqDist bitwise, for float-float and float-double mixes") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pairs = Seq.fill(200)((Seq.fill(64)(rnd.nextFloat() - 0.5f), Seq.fill(64)(rnd.nextFloat() - 0.5f)))
    // float vs float
    val ff = pairs.toDF("a", "b")
      .select(Vec.sqDist(col("a"), col("b")).as("hof"), Vec.sqDistF(col("a"), col("b")).as("native"))
      .collect()
    ff.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
    // float vs double (the kmeans/IVF centroid mix: corpus f32, centers f64)
    val fd = pairs.map { case (a, b) => (a, b.map(_.toDouble)) }.toDF("a", "b")
      .select(Vec.sqDist(col("a"), col("b")).as("hof"), Vec.sqDistF(col("a"), col("b")).as("native"))
      .collect()
    fd.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  test("GraftExtensions registers vec_sq_dist on the SQL path") {
    import spark.implicits._
    Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
      .createOrReplaceTempView("graft_vec_sqdist_v")
    val r = spark.sql("SELECT vec_sq_dist(a, b) AS d FROM graft_vec_sqdist_v").collect()
    assert(r.length == 1 && r(0).getDouble(0) == 8.0)
  }

  test("HashedGrams == HOF hashed-gram chain bitwise, word and char modes") {
    import spark.implicits._
    import graft.operators.TextOps
    import org.apache.spark.sql.functions.{array_distinct, transform}
    val rnd = new scala.util.Random(17)
    // random token texts incl. edge cases: empty, single word, double spaces
    val texts = Seq("", "one", "a b", "a  b c") ++
      Seq.fill(100)(Seq.fill(rnd.nextInt(20) + 1)("tok" + rnd.nextInt(30)).mkString(" "))
    val df = texts.toDF("text")
    val words = df.select(
        TextOps.hashedShingles(col("text"), 3).as("native"),
        TextOps.hashedShinglesHof(col("text"), 3).as("hof"))
      .collect()
    words.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
    val chars = df.select(
        graft.plans.HashedGrams.charGrams(col("text"), 4).as("native"),
        array_distinct(transform(TextOps.charGrams(col("text"), 4),
          x => TextOps.shingleHash(x))).as("hof"))
      .collect()
    chars.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
    // wide (no mod-p) variant: == the unreduced 60-bit HOF hash
    val wide = df.select(
        graft.plans.HashedGrams.charGramsWide(col("text"), 32).as("native"),
        array_distinct(transform(TextOps.charGrams(col("text"), 32),
          x => org.apache.spark.sql.functions.conv(
            org.apache.spark.sql.functions.substring(
              org.apache.spark.sql.functions.md5(x.cast("binary")), 1, 15), 16, 10)
            .cast("long"))).as("hof"))
      .collect()
    wide.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString))
    val minMd5 = df.select(
        graft.plans.MinGramMd5.minWordGramMd5(col("text"), 3).as("native"),
        org.apache.spark.sql.functions.array_min(transform(
          array_distinct(TextOps.shinglesHof(col("text"), 3)),
          x => org.apache.spark.sql.functions.md5(x.cast("binary")))).as("hof"))
      .collect()
    minMd5.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("WordShingles kernel == HOF shingle chain bitwise (edge cases, UTF-8, real corpus)") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(31)
    // byte-slicing correctness depends on 0x20 never splitting a multi-byte
    // sequence — exercise 2-, 3-, and 4-byte UTF-8 plus empty-word runs
    val texts = Seq("", "one", "a b", "a  b c", " lead", "trail ", "  ",
      "héllo wörld ünïcode", "文字 テスト 漢字", "a 𝄞 b 𝄞𝄞 c") ++
      Seq.fill(120)(Seq.fill(rnd.nextInt(25) + 1)("tok" + rnd.nextInt(40)).mkString(" "))
    for (n <- Seq(2, 3, 8)) {
      val rows = texts.toDF("text").select(
          TextOps.shingles(col("text"), n).as("native"),
          TextOps.shinglesHof(col("text"), n).as("hof"))
        .collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n: $r"))
    }
    // the real corpus, full table (the consumers' actual input distribution)
    val corpus = Tables.documents(spark, sfDir).select(
        TextOps.shingles(col("text"), 2).as("native"),
        TextOps.shinglesHof(col("text"), 2).as("hof"))
      .collect()
    assert(corpus.nonEmpty)
    corpus.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString))
  }

  test("HilbertKey kernel == the per-level fragment chain bitwise over the full orders table") {
    import graft.operators.Lakehouse
    val prepared = Tables.orders(spark, sfDir).select(
      col("o_custkey"),
      org.apache.spark.sql.functions.datediff(
        org.apache.spark.sql.functions.to_date(col("o_orderdate")),
        org.apache.spark.sql.functions.lit("1992-01-01").cast("date")).as("day_nr"))
    val both = Lakehouse.hilbertKey(prepared, "o_custkey", "day_nr")
      .withColumnRenamed("hkey", "k_native")
      .transform(df => Lakehouse.hilbertKeyFragments(df, "o_custkey", "day_nr"))
      .select(col("k_native"), col("hkey").as("k_frag"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // mask edge: values beyond the 16-bit lane wrap identically
    val edge = Seq((-1L, 70000L), (65535L, 65536L), (0L, 0L))
    edge.foreach { case (x, y) =>
      import spark.implicits._
      val df = Seq((x, y)).toDF("x", "y")
      val n = Lakehouse.hilbertKey(df, "x", "y").collect()(0).getLong(2)
      val f = Lakehouse.hilbertKeyFragments(df, "x", "y").collect()(0).getLong(2)
      assert(n == f, s"edge ($x, $y): $n != $f")
    }
  }

  test("HashedBow == HOF per-dimension filter chain bitwise (rag_retrieve's embedding)") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(23)
    // edge cases: empty text (one empty token), repeated spaces, unicode
    val texts = Seq("", "one", "a b", "a  b c", "héllo wörld") ++
      Seq.fill(100)(Seq.fill(rnd.nextInt(40) + 1)("tok" + rnd.nextInt(30)).mkString(" "))
    val rows = texts.toDF("text").select(
        graft.plans.HashedBow.of(col("text"), TextOps.RagDims).as("native"),
        TextOps.hashedBowHof("text").as("hof"))
      .collect()
    rows.foreach(r => assert(r.getSeq[Float](0) == r.getSeq[Float](1), r.toString))
    // counts conserve the token total (split keeps empties — limit -1)
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[Float](0).sum == t.split(" ", -1).length.toFloat)
    }
  }

  test("WinnowedGramPos == HOF positional hash-then-filter chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, filter, greatest, length, lit, sequence, struct, transform}
    val rnd = new scala.util.Random(29)
    val texts = Seq("", "x", "ab") ++
      Seq.fill(100)(Seq.fill(rnd.nextInt(40) + 1)("tok" + rnd.nextInt(25)).mkString(" "))
    val (n, m) = (graft.operators.TextOps.SubstrGramN, graft.operators.TextOps.SubstrWinnowMod)
    def hash60w(c: org.apache.spark.sql.Column) =
      org.apache.spark.sql.functions.conv(
        org.apache.spark.sql.functions.substring(
          org.apache.spark.sql.functions.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")
    val rows = texts.toDF("text").select(
        graft.plans.WinnowedGramPos.of(col("text"), n, m).as("native"),
        filter(transform(
          sequence(lit(1), greatest(length(col("text")) - (n - 1), lit(1))),
          i => struct(i.cast("int").as("pos"), hash60w(col("text").substr(i, lit(n))).as("g"))),
          s => org.apache.spark.sql.functions.pmod(s.getField("g"), lit(m)) === 0).as("hof"))
      .collect()
    rows.foreach { r =>
      val a = r.getSeq[org.apache.spark.sql.Row](0).map(x => (x.getInt(0), x.getLong(1)))
      val b = r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getLong(1)))
      assert(a == b, r.toString)
    }
  }

  test("TopGramCount == the explode/groupBy max-count form") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(29)
    val texts = Seq("", "one", "a a a a", "x y x y x") ++
      Seq.fill(60)(Seq.fill(rnd.nextInt(30) + 1)("t" + rnd.nextInt(8)).mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = df.select(col("doc_id"),
        graft.plans.TopGramCount.of(col("text"), 2).as("top"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val composed = df
      .select(col("doc_id"), explode(TextOps.shinglesHof(col("text"), 2)).as("g"))
      .groupBy("doc_id", "g").count()
      .groupBy("doc_id").agg(max("count").as("top"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == composed)
    assert(native(2L) == 3L) // "a a a a" → "a a" three times
  }

  test("SimHash16 == HOF simhash bitwise") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(23)
    val texts = Seq("", "one", "a  b") ++
      Seq.fill(80)(Seq.fill(rnd.nextInt(25) + 1)("t" + rnd.nextInt(50)).mkString(" "))
    val rows = texts.toDF("text")
      .select(graft.plans.SimHash16.of(col("text")).as("native"),
        TextOps.simhashHof(col("text")).as("hof"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("SimHash60 == HOF 60-bit simhash bitwise, and sigs stay in [0, 2^60)") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(37)
    val texts = Seq("", "one", "a  b") ++
      Seq.fill(80)(Seq.fill(rnd.nextInt(25) + 1)("t" + rnd.nextInt(50)).mkString(" "))
    val rows = texts.toDF("text")
      .select(graft.plans.SimHash60.of(col("text")).as("native"),
        TextOps.simhash60Hof(col("text")).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), r.toString)
      assert(r.getLong(0) >= 0L && r.getLong(0) < (1L << 60), r.toString)
    }
    // wide sigs must actually exercise the high bits (past the 16-bit space)
    assert(rows.exists(_.getLong(0) >= (1L << 16)))
  }

  test("BandSigs == HOF band signatures bitwise (incl. null sig for 1-shingle docs)") {
    import spark.implicits._
    import graft.operators.TextOps
    val rnd = new scala.util.Random(19)
    val texts = Seq("one", "a b c") ++  // 1-shingle docs → null sigs
      Seq.fill(60)(Seq.fill(rnd.nextInt(30) + 4)("w" + rnd.nextInt(40)).mkString(" "))
    val hv = texts.toDF("text")
      .select(monotonically_increasing_id().as("doc_id"),
        TextOps.hashedShingles(col("text"), 3).as("hv"))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).sorted.toSeq
    assert(rowsOf(TextOps.bandSignatures(hv)) == rowsOf(TextOps.bandSignaturesHof(hv)))
    assert(rowsOf(TextOps.bandSignatures(hv)).nonEmpty)
  }

  test("GraftExtensions registers the text kernels on the SQL path") {
    import spark.implicits._
    Seq(("a b c d a b", 0L)).toDF("text", "junk")
      .createOrReplaceTempView("graft_textk_v")
    val r = spark.sql(
      """SELECT size(hashed_word_grams(text, 3)) AS nw,
        |       size(hashed_char_grams(text, 4)) AS nc,
        |       hashed_char_grams_wide(text, 4) AS wide,
        |       hashed_char_grams(text, 4) AS narrow,
        |       min_gram_md5(text, 3) AS mg,
        |       top_gram_count(text, 2) AS tg,
        |       simhash16(text) AS s16,
        |       simhash60(text) AS s60,
        |       size(band_sigs(hashed_word_grams(text, 3), 4)) AS nb
        |FROM graft_textk_v""".stripMargin).collect().head
    // the wide registration must NOT mod-p-reduce: same grams, and each
    // narrow value is its wide counterpart mod the Mersenne prime
    val wide = r.getSeq[Long](r.fieldIndex("wide"))
    val narrow = r.getSeq[Long](r.fieldIndex("narrow"))
    assert(wide.map(_ % graft.operators.TextOps.MinhashP) == narrow)
    assert(wide.exists(_ >= graft.operators.TextOps.MinhashP),
      s"wide values all below 2^31 — modP wiring suspect: $wide")
    assert(r.getAs[Int]("nw") == 4)   // "a b c","b c d","c d a","d a b"
    assert(r.getAs[Long]("tg") == 2L) // "a b" appears twice
    assert(r.getAs[String]("mg").length == 32)
    assert(r.getAs[Int]("nb") == 4)
    assert(r.getAs[Long]("s16") >= 0L && r.getAs[Long]("s60") >= 0L)
  }

  test("FloatVecDot appears codegen'd in the physical plan") {
    val df = Tables.embeddings(spark, sfDir)
      .select(Vec.dotF(col("embedding"), col("embedding")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("float_vec_dot"), plan)
    // the projection stage is inside a WholeStageCodegen span (starred)
    assert(plan.contains("*(1) Project"), plan)
  }
}
