package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.multimodal.MediaOps

/** Text primitives + multimodal stub specs. */
class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens: whitespace split, lower-case, empty-safe") {
    val df = Seq("Hello  World", "", "   ", "one").toDF("text")
      .select(TextFns.tokens(col("text")).as("t"))
    val rows = df.as[Seq[String]].collect()
    assert(rows(0) == Seq("hello", "world"))
    assert(rows(1).isEmpty && rows(2).isEmpty)
    assert(rows(3) == Seq("one"))
  }

  test("shingles: n-gram windows, short-doc-safe") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(TextFns.shingles(TextFns.tokens(col("text")), 3).as("s"))
    val rows = df.as[Seq[String]].collect()
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1).isEmpty)
  }

  test("h60 is stable and within 60 bits") {
    val h = Seq("abc").toDF("s").select(TextFns.h60(col("s"))).head().getLong(0)
    // first 15 hex chars of md5("abc") = 900150983cd24fb...
    assert(h == java.lang.Long.parseLong("900150983cd24fb", 16))
    assert(h >= 0 && h < (1L << 60))
  }

  test("jaccard: identical sets 1.0, disjoint 0.0, empty-safe") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
      .select(TextFns.jaccard(col("a"), col("b")).as("j"))
    assert(df.as[Double].collect().toSeq == Seq(1.0, 0.0, 0.0))
  }

  test("simhash: identical docs collide, different docs differ") {
    val df = Seq("spark native engine", "spark native engine", "entirely other words here")
      .toDF("text")
      .withColumn("th", TextFns.h60All(TextFns.tokens(col("text"))))
      .select(TextFns.simhash("th").as("s"))
    val sims = df.as[Long].collect()
    assert(sims(0) == sims(1))
    assert(sims(0) != sims(2))
  }

  test("cosine: orthogonal → 0, parallel → 1 (scaled-int path)") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(0.5f, 0.5f), Seq(1.0f, 1.0f))).toDF("a", "b")
      .select(TextFns.cosine(
        TextFns.scaledVec(col("a")), TextFns.scaledVec(col("b"))).as("c"))
    val cs = df.as[Double].collect()
    assert(math.abs(cs(0)) < 1e-9 && math.abs(cs(1) - 1.0) < 1e-9)
  }

  test("langId picks the marker-dominant language, und when none") {
    val df = Seq("the cat of the house", "el gato de la casa y", "zzz qqq").toDF("text")
      .select(TextFns.langId(TextFns.tokens(col("text"))).as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "es", "und"))
  }

  test("langId (codegen MarkerCounts) matches the HOF reference on random docs") {
    // r22: langId's marker counting moved to the one-pass native
    // expression; the 4-filter HOF twin stays as the reference. Random
    // token soups over the marker vocab + noise, plus edge cases:
    // empty array, NULL array, and exact-tie rows (the argmax must
    // break ties to the earlier language on both routes).
    val vocab = TextFns.langMarkers.flatMap(_._2) ++ Seq("zzz", "qqq", "x1")
    val rnd = new scala.util.Random(42)
    val docs = Seq.fill(300) {
      Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    } ++ Seq("", "the el the el", "der the y of und is")
    val df = docs.toDF("text")
      .select(TextFns.langId(TextFns.tokens(col("text"))).as("native"),
        TextFns.langIdHof(TextFns.tokens(col("text"))).as("hof"))
    assert(df.collect().forall(r => r.getString(0) == r.getString(1)))
    // NULL token array: both routes ride the same NULL-propagating argmax
    // fold (all scores NULL → every when() falls through identically) —
    // pin agreement, not a specific value (no declared caller passes NULL).
    val nullDf = Seq(Option.empty[Seq[String]]).toDF("toks")
      .select(TextFns.langId(col("toks")).as("native"),
        TextFns.langIdHof(col("toks")).as("hof"))
    val nr = nullDf.head()
    assert(nr.get(0) == nr.get(1))
    // the codegen path actually evaluates (non-local relation)
    val big = spark.range(500).select(
      expr("array('the', 'of', CAST(id AS STRING))").as("toks"))
    val counted = big.select(TextFns.langId(col("toks")).as("l"))
      .groupBy("l").count().collect()
    assert(counted.map(_.getString(0)).toSet == Set("en"))
  }

  test("MarkerCounts: 32 marker sets count (bit 31 included), 33 are rejected") {
    // Set membership is one bit per set in an Int mask: a 33rd set would
    // wrap onto bit 0 and be counted as set 0.
    val sets = Seq.tabulate(33)(i => Seq(s"m$i"))
    val e = intercept[IllegalArgumentException](
      graft.functions.expr.MarkerCounts(col("toks"), sets))
    assert(e.getMessage.contains("at most 32 marker sets, got 33"))
    val counts = spark.range(1)
      .select(graft.functions.expr.MarkerCounts(
        expr("array('m31', 'm0', 'm31')"), sets.take(32)).as("c"))
      .as[Seq[Int]].head()
    assert(counts == Seq.tabulate(32)(i => if (i == 31) 2 else if (i == 0) 1 else 0))
  }

  test("media stub: decode/resize/embed round-trip, corrupt-safe") {
    val feats = MediaOps.extract(MediaOps.corpus(spark, 30)).collect()
    assert(feats.length == 30)
    assert(feats.forall(f => f.width > 0 && f.embedding.size == MediaOps.EmbDim))
    assert(feats.filter(_.kind == "video").forall(_.n_frames >= 1))
    assert(feats.forall(f => math.max(f.thumb_w, f.thumb_h) == MediaOps.ThumbMax))
    // corrupt blob → width -1, never throws
    val (w, _, _, _) = MediaOps.decode(Array[Byte](1, 2, 3))
    assert(w == -1)
  }

  test("jsonInt fast path agrees with get_json_object on flat JSON") {
    import graft.functions.JsonFns
    val cases = Seq(
      """{"k": 42}""", """{"k":-7}""", """{"k" : 0}""",
      """{"a": 1, "k": 99}""", """{"a": 1}""", // k missing → null
      "", "not json at all")
    val df = cases.toDF("props").select(
      JsonFns.jsonInt(col("props"), "k").as("fast"),
      get_json_object(col("props"), "$.k").cast("int").as("full"))
    df.collect().foreach(r => assert(r.get(0) == r.get(1), r.toString))
    // DuckDB twin produces the same values on the same inputs
    val sql = JsonFns.sqlJsonInt("props", "k")
    assert(sql.contains("regexp_extract") && sql.contains("nullif"))
  }

  test("jsonInt fast path agrees with get_json_object on the real events table") {
    // The flat-integer contract is a claim about the generated data, not
    // just the function: if the generator ever emits quoted numerics,
    // floats, or nested props, the fast path and the full parser diverge
    // silently. Pin the agreement on the actual table (ADVICE r02).
    import graft.functions.JsonFns
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val diff = events.select(
        col("props"),
        JsonFns.jsonInt(col("props"), "k").as("fast"),
        get_json_object(col("props"), "$.k").cast("int").as("full"))
      .filter(not(col("fast") <=> col("full")))
    assert(diff.isEmpty, s"fast/full divergence: ${diff.take(5).mkString("; ")}")
    assert(events.count() > 0)
  }

  test("ShingleExplode generator matches explode(shingles(...)) row-for-row") {
    import graft.functions.expr.ShingleExplode
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "x", "", "héllo", "界")
    val docs = (0 until 200).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(8))(words(rnd.nextInt(words.length))).mkString(" "))
    } :+ ((200L, "")) :+ ((201L, "one two")) // fewer than n tokens → no rows
    for (n <- Seq(1, 2, 3, 5)) {
      val df = docs.toDF("doc_id", "text")
      val viaHof = df.select(col("doc_id"),
        explode(TextFns.shingles(TextFns.tokens(col("text")), n)).as("s"))
      val viaGen = df.select(col("doc_id"),
        ShingleExplode(TextFns.tokens(col("text")), n).as("s"))
      val h = viaHof.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val g = viaGen.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(g == h, s"n=$n")
      // The position-tagged variant must match posexplode of the HOF form
      // (pos as long) — the span-dedup consumer depends on the 0-based
      // window starts being byte-identical across the two forms.
      val viaHofPos = df.select(col("doc_id"),
        posexplode(TextFns.shingles(TextFns.tokens(col("text")), n))
          .as(Seq("pos", "s")))
        .select(col("doc_id"), col("pos").cast("long"), col("s"))
      val viaGenPos = df.select(col("doc_id"),
        ShingleExplode.withPos(TextFns.tokens(col("text")), n)
          .as(Seq("pos", "s")))
      val hp = viaHofPos.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      val gp = viaGenPos.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(gp == hp, s"withPos n=$n")
    }
  }

  test("DotLong native expression matches the HOF reference form") {
    val rnd = new scala.util.Random(7)
    val cases = Seq.fill(200) {
      val n = rnd.nextInt(65)
      (Seq.fill(n)(rnd.nextLong() % 2000000L), Seq.fill(n)(rnd.nextLong() % 2000000L))
    } ++ Seq(
      (Seq.empty[Long], Seq.empty[Long]),       // empty → 0
      (Seq(1L, 2L), Seq(3L)))                    // length mismatch → null
    val df = cases.toDF("a", "b")
      .select(
        graft.functions.expr.DotLong(col("a"), col("b")).as("native"),
        TextFns.dotIntHof(col("a"), col("b")).cast("long").as("hof"))
    assert(df.collect().forall(r => r.get(0) == r.get(1)))
    // null array → null
    val nullDf = Seq((Some(Seq(1L)), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(graft.functions.expr.DotLong(col("a"), col("b")))
    assert(nullDf.head().isNullAt(0))
    // and the codegen path actually evaluates (non-local relation)
    val big = spark.range(1000).select(
      expr("array(id, id+1, id+2)").as("a"), expr("array(id, id, id)").as("b"))
    val s = big.select(graft.functions.expr.DotLong(col("a"), col("b")).as("d"))
      .agg(sum(col("d"))).head().getLong(0)
    val ref = (0L until 1000L).map(i => i * i + (i + 1) * i + (i + 2) * i).sum
    assert(s == ref)
  }

  test("unigramSegment: maximizes integer score and conserves the word") {
    val scores = Map("a" -> -10L, "b" -> -10L, "ab" -> -12L)
    val out = TextFns.unigramSegment("abab", scores, 2)
    assert(out == Seq("ab", "ab")) // -24 beats any split using singles (-40..)
    assert(out.mkString == "abab")
  }

  test("unigramSegment: score tie broken toward FEWER pieces") {
    // "ab" as one piece scores -10; "a"+"b" also -10 — merged must win
    val scores = Map("a" -> -5L, "b" -> -5L, "ab" -> -10L)
    assert(TextFns.unigramSegment("ab", scores, 2) == Seq("ab"))
  }

  test("unigramSegment: score+count tie broken toward LONGER last piece") {
    // [ab, c] and [a, bc] both score -15 with 2 pieces; last-piece length
    // must decide (bc > c)
    val scores = Map("a" -> -5L, "b" -> -99L, "c" -> -5L,
      "ab" -> -10L, "bc" -> -10L)
    assert(TextFns.unigramSegment("abc", scores, 2) == Seq("a", "bc"))
  }

  test("unigramSegment: output satisfies the local-optimality contract") {
    // the text_unigram_apply oracle's theorem: no two adjacent output
    // pieces concatenate to an in-vocab piece with score >= their sum
    val scores = Map("a" -> -7L, "b" -> -9L, "c" -> -4L, "d" -> -6L,
      "ab" -> -11L, "bc" -> -15L, "cd" -> -9L, "abc" -> -20L)
    for (w <- Seq("abcd", "abab", "dcba", "aabbccdd", "abcabc")) {
      val out = TextFns.unigramSegment(w, scores, 3)
      assert(out.mkString == w)
      out.sliding(2).foreach {
        case Seq(x, y) =>
          scores.get(x + y).foreach { sc =>
            assert(sc < scores(x) + scores(y),
              s"adjacent $x|$y of $w should have merged (score $sc)")
          }
        case _ => ()
      }
    }
  }

  test("unigramSegment: uncovered char is a loud error, not a wrong split") {
    val ex = intercept[IllegalArgumentException] {
      TextFns.unigramSegment("axb", Map("a" -> -1L, "b" -> -1L), 2)
    }
    assert(ex.getMessage.contains("does not cover"))
  }
}
