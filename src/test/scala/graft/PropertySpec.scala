package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.ops.{Relational, Similarity}
import graft.pipeline.Prompts

/** Property-based invariants (SURVEY §5 test plan): no split leakage,
  * group caps, dedup idempotence, hash ranges, prompt-render totality.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Minimal deterministic forAll over ScalaCheck Gens (the
    * scalatest-scalacheck bridge is not in the offline dependency
    * set). Seeds advance from a fixed root, so failures reproduce.
    */
  private def forSamples[A](gen: Gen[A], n: Int)(body: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed0)(_.next).take(n).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach(body)
    }
  }

  test("property: groupSplit never leaks any generated key set across splits") {
    forSamples(Gen.nonEmptyListOf(Gen.chooseNum(1L, 1000000L)), 5) { keys =>
      val df = keys.flatMap(k => Seq((k, "a"), (k, "b"))).toDF("key", "v")
      val leaked = Relational.groupSplit(df, "key")
        .groupBy("key").agg(countDistinct(col("split")).as("n"))
        .where(col("n") > 1).count()
      assert(leaked == 0)
    }
  }

  test("property: groupSample caps hold for generated group sizes and caps") {
    forSamples(Gen.zip(Gen.chooseNum(1, 5), Gen.chooseNum(1, 30)), 5) {
      case (cap, rows) =>
        val df = (1 to rows).map(i => (s"g${i % 3}", i)).toDF("k", "id")
        val sizes = Relational.groupSample(df, Seq("k"), cap, Seq(col("id")))
          .groupBy("k").count().as[(String, Long)].collect()
        assert(sizes.forall(_._2 <= cap))
    }
  }

  test("property: dedupFirst is idempotent and keeps one row per key") {
    forSamples(Gen.nonEmptyListOf(Gen.chooseNum(1, 50)), 5) { ids =>
      val df = ids.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "id")
      val once = Relational.dedupFirst(df, Seq("k"), Seq(col("id")))
      val twice = Relational.dedupFirst(once, Seq("k"), Seq(col("id")))
      assert(once.count() == ids.distinct.size)
      assert(once.collect().toSet == twice.collect().toSet)
    }
  }

  test("property: detHash stays in [0, m) for arbitrary long keys") {
    forSamples(
      Gen.listOfN(20, Gen.chooseNum(Long.MinValue / 4, Long.MaxValue / 4)), 5) {
      keys =>
        if (keys.nonEmpty) {
          val vals = keys.toDF("k")
            .select(graft.functions.GraftFunctions.detHash(97L, col("k")))
            .as[Long].collect()
          assert(vals.forall(v => v >= 0 && v < 97))
        }
    }
  }

  test("property: jaccardPairs output is bounded in (0, 1] and ids ordered") {
    val texts = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "a b c d e f g h i k"),
      (2L, "a b c d e f g h i j"), // exact dup of 0
      (3L, "z y x w v u t s r q")).toDF("doc_id", "text")
    val pairs = Similarity.jaccardPairs(texts, "doc_id", "text", 3, 0.01)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, j) => a < b && j > 0 && j <= 1 })
    assert(pairs.find(p => p._1 == 0L && p._2 == 2L).exists(_._3 == 1.0))
  }

  test("property: mock client is a pure function of the conversation") {
    forSamples(Gen.zip(Gen.alphaNumStr, Gen.alphaNumStr), 10) {
      case (sys, user) =>
        val msgs = Seq(
          graft.pipeline.ChatMessage("system", sys),
          graft.pipeline.ChatMessage("user", user))
        val c = graft.pipeline.MockLlmClient()
        assert(c.complete(msgs, 0).content == c.complete(msgs, 0).content)
        assert(c.complete(msgs, 0).content.startsWith("RE:"))
    }
  }

  test("property: streaming signature math matches the batch expressions on random texts") {
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val textGen = Gen.chooseNum(5, 25)
      .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    forSamples(Gen.listOfN(4, textGen), 5) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val batch = Similarity.minhashSignatures(df, "doc_id", "text", 16, 3)
        .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val local = graft.streaming.MinHashLocal.signature(t, 16, 3).get.toSeq
        assert(local == batch(i.toLong), s"doc $i diverged")
      }
    }
  }

  test("property: frameSample covers every stride offset and exact frame width") {
    forSamples(Gen.zip(Gen.chooseNum(0, 200), Gen.chooseNum(1, 4)), 8) {
      case (len, nth) =>
        val payload = Array.tabulate(len)(_.toByte)
        val frames = Seq(Tuple1(payload)).toDF("p")
          .select(graft.ops.Multimodal.frameSample(col("p"), 8, nth).as("f"))
          .as[Seq[Array[Byte]]].head()
        val expected =
          if (len < 8) 0 else (len - 8) / (8 * nth) + 1
        assert(frames.size == expected)
        frames.zipWithIndex.foreach { case (f, i) =>
          assert(f.length == 8)
          assert(f.toSeq == payload.slice(i * 8 * nth, i * 8 * nth + 8).toSeq)
        }
    }
  }

  test("property: BPE token count never exceeds the character count and is stable") {
    val v = graft.expressions.BpeVocab.fromMerges(Iterator("a b", "ab c", "d e"))
    forSamples(Gen.listOfN(12, Gen.oneOf("a", "b", "c", "d", "e", " ", "1")), 10) {
      chars =>
        val s = chars.mkString
        val n1 = v.countTokens(s)
        assert(n1 == v.countTokens(s))
        assert(n1 <= s.count(_ != ' '))
        if (s.replace(" ", "").nonEmpty) assert(n1 > 0)
    }
  }

  test("invariant: pack_sequences conserves every word and emits no empty bins") {
    val out = SparkEntry.queries("pack_sequences")(spark, sfDir)
    val packed = out.agg(sum(col("bin_words"))).head.getLong(0)
    val corpus = Tables.load(spark, sfDir, "documents")
      .agg(sum(size(split(col("text"), " ")))).head.getLong(0)
    assert(packed == corpus, "packing must conserve the word total")
    assert(out.where(col("n_docs") <= 0 || col("bin_words") <= 0).count() == 0)
  }

  test("invariant: contamination_check bounds hold and the benchmark self-contaminates") {
    val out = SparkEntry.queries("contamination_check")(spark, sfDir)
    assert(out.where(col("n_contaminated") > col("n_docs")).count() == 0)
    val total = out.agg(sum(col("n_contaminated"))).head.getLong(0)
    // every benchmark doc with at least one shingle matches itself
    val benchWithShingles = Tables.load(spark, sfDir, "documents")
      .where(col("doc_id") < 20 && size(split(col("text"), " ")) >= 5)
      .count()
    assert(total >= benchWithShingles)
  }

  test("property: userPrompt is total — None iff every scoped value invalid") {
    val valueGen = Gen.oneOf[String](
      null, "", " ", "NA", "N/A", "\n", "x", "hello world")
    forSamples(Gen.listOfN(3, valueGen), 20) { vals =>
      val ins = graft.pipeline.Instruction("t", scope = Seq("a", "b", "c"))
      val input = Seq("a", "b", "c").zip(vals).toMap
      val out = Prompts.userPrompt(ins, input)
      val anyValid = vals.exists(v => !Prompts.isInvalid(v))
      assert(out.isDefined == anyValid)
    }
  }

  test("property: tokenBudgetSelect equals the naive global-cumsum prefix for random corpora") {
    val gen = for {
      n <- Gen.choose(1, 120)
      budget <- Gen.choose(1L, 3000L)
      rows <- Gen.listOfN(n, for {
        s <- Gen.choose(0, 5)       // small score domain forces ties
        t <- Gen.choose(0L, 100L)   // token counts, INCLUDING zero —
                                    // exact-boundary zero-token docs
                                    // are the historical edge bug
      } yield (s.toDouble / 10, t))
    } yield (rows.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }, budget)
    def check(rows: List[(Long, Double, Long)], budget: Long): Unit = {
      val df = rows.toDF("doc_id", "score", "toks").repartition(7)
      val got = graft.ops.Text
        .tokenBudgetSelect(df, "doc_id", "score", "toks", budget)
        .select("doc_id").as[Long].collect().toSet
      // naive reference: global (score desc, doc_id) order, inclusive
      // running total ≤ budget
      var cum = 0L
      val want = rows.sortBy { case (id, s, _) => (-s, id) }
        .iterator.map { case (id, _, t) => cum += t; (id, cum) }
        .takeWhile(_._2 <= budget).map(_._1).toSet
      assert(got == want, s"budget=$budget got=$got want=$want")
    }
    // pinned regression: previous scores land EXACTLY on the budget;
    // the boundary score's zero-token doc (id 2) is still inside the
    // inclusive-running-total contract, its 5-token sibling is not
    check(List((1L, 0.5, 10L), (2L, 0.4, 0L), (3L, 0.4, 5L)), budget = 10L)
    forSamples(gen, 25) { case (rows, budget) => check(rows, budget) }
  }

  test("pinned: tokenBudgetSelect excludes NULL-score rows (documented contract)") {
    // un-scored documents have no rank and must NOT leak into the
    // cut, even with budget to spare — the scaladoc's documented
    // contract (coalesce the score to opt them in explicitly)
    val df = Seq(
      (1L, Option(0.9), 10L),
      (2L, Option.empty[Double], 5L),   // unscored, budget remains
      (3L, Option(0.1), 10L),
      (4L, Option.empty[Double], 0L)    // unscored, zero tokens
    ).toDF("doc_id", "score", "toks")
    val got = graft.ops.Text
      .tokenBudgetSelect(df, "doc_id", "score", "toks", budget = 100L)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 3L), s"null-score rows must be excluded: $got")
  }

  test("invariant: duplicatedSpans tolerates null, empty, and sub-k texts") {
    val df = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "a b"),
        (4L, "x y z w v u t s"), (5L, "x y z w v u t s"))
      .toDF("doc_id", "text")
    val spans = graft.ops.Text.duplicatedSpans(df, "doc_id", "text", 3)
      .as[(Long, Int, Int)].collect().toSet
    // only the identical 8-word pair produces spans
    assert(spans == Set((4L, 0, 7), (5L, 0, 7)), s"got $spans")
    val cut = graft.ops.Text.duplicatedSpansToCut(df, "doc_id", "text", 3)
      .as[(Long, Int, Int)].collect().toSet
    assert(cut == Set((5L, 0, 7)), s"got $cut")
  }

  test("invariant: dedupSurvivalCurve on a single-doc corpus is all-surviving") {
    val one = Seq((1L, "just one lonely document here with some words"))
      .toDF("doc_id", "text")
    val rows = graft.ops.Similarity.dedupSurvivalCurve(one, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(6)))
    assert(rows.length == 5)
    assert(rows.forall(r => r._2 == 0L && r._3 == 1.0), s"got ${rows.toSeq}")
  }

  test("invariant: count_min of an empty frame is the zero sketch") {
    val empty = Seq.empty[String].toDF("t")
    val arr = empty
      .agg(graft.functions.GraftFunctions.countMin(col("t"), 4, 8).as("sk"))
      .as[Seq[Long]].head()
    assert(arr.length == 32 && arr.forall(_ == 0L))
  }

  test("property: chunkSlices reassembles any binary payload exactly, " +
    "any chunk size") {
    // arbitrary bytes (full 0-255 range, not ASCII) at adversarial
    // lengths: empty, below/at/above one chunk, exact multiples
    val rnd = new scala.util.Random(1217)
    val payloads: Seq[Array[Byte]] =
      Seq(0, 1, 7, 8, 9, 15, 16, 17, 64, 100).map { n =>
        val a = new Array[Byte](n); rnd.nextBytes(a); a
      }
    for (chunk <- Seq(1, 8, 16)) {
      val out = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p) }
        .toDF("id", "payload")
        .select(col("id"), col("payload"),
          graft.ops.Multimodal.chunkSlices(col("payload"), chunk)
            .as("chunks"))
        .collect()
      out.foreach { r =>
        val payload = r.getAs[Array[Byte]](1)
        val chunks = r.getSeq[Array[Byte]](2)
        assert(chunks.map(_.length).sum == payload.length)
        // every chunk full-size except a shorter last one
        if (chunks.nonEmpty) {
          assert(chunks.init.forall(_.length == chunk))
          assert(chunks.last.length >= 1 && chunks.last.length <= chunk)
        }
        assert(java.util.Arrays.equals(chunks.flatten.toArray, payload),
          s"chunk=$chunk id=${r.getLong(0)}: reassembly mismatch")
      }
    }
  }
}
