package graft

import graft.operators.SubstringDedup
import org.apache.spark.sql.functions._

class SubstringDedupSpec extends SparkSpec {
  import spark.implicits._

  // 51 chars — long enough that interior 20-grams exist on both sides
  private val shared = "the quick brown fox jumps over the lazy dog indeed!"

  private def spans(df: org.apache.spark.sql.DataFrame, k: Int = 20,
      hashShuffle: Boolean = false,
      singlePass: Option[Boolean] = Some(true),
      gramSalt: Int = 1): Set[(Long, Int, Int, Int)] =
    SubstringDedup.duplicatedSpans(df, "doc_id", "text", k = k,
        hashShuffle = hashShuffle, singlePass = singlePass,
        gramSalt = gramSalt)
      .as[(Long, Int, Int, Int)].collect().toSet

  test("planted shared sentence yields exactly the shared span in each doc") {
    // delimiters around `shared` differ between the docs, so the span is
    // exactly the shared sentence (a common adjacent char — e.g. both docs
    // wrapping it in spaces — would legitimately widen the span)
    val docs = Seq(
      (1L, "AAA(" + shared + ")with an unrelated ending here"),
      (2L, "BBBBBB[" + shared + "]totally different tail text"),
      (3L, "no twenty character run of this text appears anywhere else at all")
    ).toDF("doc_id", "text")
    val got = spans(docs)
    // shared starts at 1-based pos 5 in doc 1 (after "AAA("), pos 8 in doc 2
    assert(got == Set(
      (1L, 5, 5 + shared.length - 1, shared.length),
      (2L, 8, 8 + shared.length - 1, shared.length)))
  }

  test("exact duplicate pair spans each whole document") {
    val t = "forty characters of fully repeated text!"
    assert(t.length == 40)
    val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")
    assert(spans(docs) == Set((1L, 1, 40, 40), (2L, 1, 40, 40)))
  }

  test("documents shorter than k never appear; two far-apart shared phrases stay two spans") {
    val s2 = "another repeated phrase shared across documents" // 47 chars
    val gapA = "x" * 30 // gaps share NO character with each other
    val gapB = "y" * 30
    val docs = Seq(
      (1L, shared + gapA + s2),
      (2L, shared + gapB + s2),
      (3L, "tiny")
    ).toDF("doc_id", "text")
    val got = spans(docs)
    assert(!got.exists(_._1 == 3L))
    // each doc: one span for `shared`, one for s2 — gaps differ so no bridge
    assert(got.map(_._1).toSeq.sorted == Seq(1L, 2L))
    assert(got.count(_._1 == 1L) == 2 && got.count(_._1 == 2L) == 2)
    val s2Start = shared.length + gapA.length + 1
    assert(got.contains((1L, 1, shared.length, shared.length)))
    assert(got.contains((1L, s2Start, s2Start + s2.length - 1, s2.length)))
  }

  test("overlapping duplicated regions merge into one maximal span") {
    // doc 1 = a+b+c; doc 2 contains a+b, doc 3 contains b+c. The two
    // duplicated regions of doc 1 overlap on b -> one span, whole doc.
    val a = "first thirty characters chunk!"
    val b = "second thirty characters here"
    val c = "third chunk thirty characters!"
    val d1 = a + b + c
    val docs = Seq(
      (1L, d1),
      (2L, "QQ<" + a + b + ">"),
      (3L, "<" + b + c + ">QQ")
    ).toDF("doc_id", "text")
    val got = spans(docs)
    val d1Spans = got.filter(_._1 == 1L)
    assert(d1Spans.size == 1)
    val (_, s, e, _) = d1Spans.head
    assert(s == 1 && e == d1.length)
  }

  test("hashShuffle variant equals exact-string variant on a mixed corpus") {
    val rng = new scala.util.Random(42)
    val phrases = Vector(shared,
      "another repeated phrase shared across documents",
      "a third phrase that several documents reuse verbatim",
      "entirely unique filler material goes in between")
    val docs = (1 to 40).map { i =>
      val parts = (0 until 3).map { j =>
        if (rng.nextBoolean()) phrases(rng.nextInt(phrases.length))
        else s"unique-$i-$j " + rng.alphanumeric.take(25).mkString
      }
      (i.toLong, parts.mkString(" "))
    }.toDF("doc_id", "text")
    val baseline = spans(docs)
    for (hs <- Seq(false, true); sp <- Seq(Some(false), Some(true), None))
      assert(spans(docs, hashShuffle = hs, singlePass = sp) == baseline,
        s"hashShuffle=$hs singlePass=$sp diverged")
    // SALTED two-pass (round 17): the (gram, salt) exchange must be
    // byte-identical to the single-key plan — every position row meets
    // its dup gram exactly once, at its own salt — including on a corpus
    // with a HOT gram (the shared phrases repeat across many docs)
    for (hs <- Seq(false, true); gs <- Seq(0, 4, 32))
      assert(spans(docs, hashShuffle = hs, singlePass = Some(false),
          gramSalt = gs) == baseline,
        s"hashShuffle=$hs gramSalt=$gs diverged")
  }

  test("gram_hashes == xxhash64(substr) bit-for-bit, incl. multibyte text") {
    // the one-pass native gram hasher (round 17 — the excise straggler
    // fix) must emit Spark's own xxhash64 over the same window bytes, or
    // persisted gram artifacts and recorded probe checksums silently fork
    graft.plans.GraftFunctions.register(spark)
    val rng = new scala.util.Random(7)
    val pool = "abc λμν 漢字テスト émojis é́ 0123"
    val docs = ((1 to 60).map { i =>
      (i.toLong, Seq.fill(rng.nextInt(40) + 5)(
        pool(rng.nextInt(pool.length))).mkString)
    } :+ (61L, "") :+ (62L, "short")).toDF("doc_id", "text")
    for (k <- Seq(1, 3, 7)) {
      val fused = docs.select(col("doc_id"),
          graft.plans.GraftFunctions.gramHashes(col("text"), k).as("h_fused"))
        .as[(Long, Seq[Long])].collect().toMap
      val sql = docs
        .filter(length(col("text")) >= k)
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(1), length(col("text")) - (k - 1))).as("pos"))
        .select(col("doc_id"), col("pos"),
          xxhash64(expr(s"substr(text, pos, $k)")).as("xh"))
        .as[(Long, Int, Long)].collect()
        .groupBy(_._1)
        .map { case (id, rows) => id -> rows.sortBy(_._2).map(_._3).toSeq }
      for ((id, h) <- fused)
        assert(h == sql.getOrElse(id, Seq.empty[Long]),
          s"k=$k doc $id: fused $h vs sql ${sql.get(id)}")
    }
  }

  test("excise removes exactly the spans: unchanged, partial, and total cases") {
    val docs = Seq(
      (1L, "AAA(" + shared + ")with an unrelated ending here"),
      (2L, "BBBBBB[" + shared + "]totally different tail text"),
      (3L, "no twenty character run of this text appears anywhere else at all"),
      (4L, shared), // duplicated end to end -> empty
      (5L, shared)
    ).toDF("doc_id", "text")
    val got = SubstringDedupSpec.excise(docs, "doc_id", "text")
      .as[(Long, String, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("AAA()with an unrelated ending here", shared.length)))
    assert(got(2L) == (("BBBBBB[]totally different tail text", shared.length)))
    assert(got(3L)._2 == 0 && got(3L)._1.startsWith("no twenty"))
    assert(got(4L) == (("", shared.length)))
    assert(got(5L) == (("", shared.length)))
  }

  test("excise stitches multiple spans per doc in order") {
    val s2 = "another repeated phrase shared across documents"
    // tails differ from their FIRST character — a shared tail prefix would
    // legitimately extend the second span into it
    val d1 = shared + "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxx" + s2 + "1-tail-one"
    val d2 = shared + "yyyyyyyyyyyyyyyyyyyyyyyyyyyyyy" + s2 + "2-tail-two"
    val docs = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val got = SubstringDedupSpec.excise(docs, "doc_id", "text")
      .as[(Long, String, Int)].collect().map(r => r._1 -> r._2).toMap
    assert(got(1L) == "x" * 30 + "1-tail-one")
    assert(got(2L) == "y" * 30 + "2-tail-two")
  }

  test("maxGramFreq drops degenerate mega-grams in both strategies, keeps real dups") {
    // 60 docs all containing the same boilerplate line (the degenerate
    // gram family), 2 docs sharing a genuine sentence
    val boiler = "=== START OF BOILERPLATE HEADER LINE ==="
    // the char straight after the boilerplate is UNIQUE per doc, so no
    // gram crossing the boundary is shared by any two docs
    val docs = ((1 to 60).map(i => (i.toLong,
      boiler + (160 + i).toChar + s"filler-$i-" + ("z" + i.toString) * 8)) ++
      Seq((101L, "PRE(" + shared + ")one"), (102L, "QQQQ[" + shared + "]two"))).toDF("doc_id", "text")
    for (sp <- Seq(true, false)) {
      val capped = SubstringDedup.duplicatedSpans(docs, "doc_id", "text",
        k = 20, singlePass = Some(sp), maxGramFreq = 50)
        .as[(Long, Int, Int, Int)].collect()
      // boilerplate grams occur 60x > cap -> their spans vanish entirely
      assert(!capped.exists(_._1 <= 60L), s"singlePass=$sp kept capped spans")
      // the 2-doc genuine duplicate survives untouched
      assert(capped.count(r => r._1 == 101L || r._1 == 102L) == 2, s"singlePass=$sp")
    }
  }

  test("winnowing: long duplicated runs always detected, spans stay inside real duplication") {
    val rng = new scala.util.Random(11)
    // shared phrase comfortably above the w+k-1 = 27 guarantee threshold
    val longShared = shared + " and this continuation pushes it well past the winnowing bound"
    val docs = (1 to 20).map { i =>
      val pre = s"<$i>" + rng.alphanumeric.take(10 + rng.nextInt(20)).mkString
      val post = rng.alphanumeric.take(15).mkString + s"</$i>"
      (i.toLong, pre + longShared + post)
    }.toDF("doc_id", "text")
    val exact = spans(docs)
    // the operator's documented approximation: winnowed spans equal exact
    // spans RE-MERGED across char gaps <= w (a winnowed island may bridge
    // two exact spans that close), restricted to selected fingerprints —
    // so soundness is containment in the RELAXED exact spans
    val relaxed: Map[Long, Seq[(Int, Int)]] = exact.groupBy(_._1).map {
      case (d, ss) =>
        val merged = ss.toSeq.sortBy(_._2).map(t => (t._2, t._3))
          .foldLeft(List.empty[(Int, Int)]) { (acc, span) =>
            acc match {
              case (ps, pe) :: rest if span._1 - pe <= 8 =>
                (ps, math.max(pe, span._2)) :: rest
              case _ => span :: acc
            }
          }.reverse
        d -> merged
    }
    // both hash modes (production xxhash64 and the md5 oracle-parity form)
    // must satisfy the guarantee and soundness — fingerprint CHOICES
    // differ between them, the properties must not
    for (parity <- Seq(false, true)) {
      val winnowed = SubstringDedup.winnowedSpans(docs, "doc_id", "text",
        k = 20, w = 8, oracleParityHash = parity)
        .as[(Long, Int, Int, Int)].collect()
      // guarantee: every doc's long duplication is found
      assert(winnowed.map(_._1).distinct.length == 20,
        s"winnowing (parity=$parity) missed a doc")
      winnowed.foreach { case (d, s, e, _) =>
        assert(relaxed(d).exists { case (es, ee) => s >= es && e <= ee },
          s"winnowed span ($d,$s,$e) parity=$parity escapes the relaxed exact spans")
      }
    }
  }

  test("winnowing honors minDocs > 2") {
    val docs = Seq(
      (1L, "AA<" + shared + ">one"), (2L, "BB[" + shared + "]two"),
      (3L, "CC{" + shared + "}three"),
      (4L, "nothing here repeats across any other document at all today")
    ).toDF("doc_id", "text")
    val at2 = SubstringDedup.winnowedSpans(docs, "doc_id", "text", minDocs = 2)
    val at3 = SubstringDedup.winnowedSpans(docs, "doc_id", "text", minDocs = 3)
    val at4 = SubstringDedup.winnowedSpans(docs, "doc_id", "text", minDocs = 4)
    assert(at2.count() == 3 && at3.count() == 3, "3-doc phrase must survive minDocs<=3")
    assert(at4.count() == 0, "no gram is in 4 distinct docs")
  }

  test("winnowing handles documents far beyond the old 4095-char cap") {
    val rng = new scala.util.Random(7)
    def filler(n: Int) = rng.alphanumeric.take(n).mkString
    // ~12k-char docs; the shared run sits near position ~8100, i.e. in the
    // THIRD 4088-position segment, and a second copy straddles the first
    // segment boundary (positions ~4080..4230) to exercise the lookahead
    // overlap between segments
    val longShared = shared + " and this continuation pushes it well past the winnowing bound"
    val d1 = filler(4070) + longShared + filler(3900) + longShared + filler(3800)
    val d2 = filler(8100) + longShared + filler(3900)
    val d3 = filler(12000) // no duplication
    val docs = Seq((1L, d1), (2L, d2), (3L, d3)).toDF("doc_id", "text")
    for (parity <- Seq(false, true)) {
      val got = SubstringDedup.winnowedSpans(docs, "doc_id", "text",
          k = 20, w = 8, oracleParityHash = parity)
        .as[(Long, Int, Int, Int)].collect()
      // guarantee: every >= w+k-1 duplicated run is detected in both docs
      assert(got.count(_._1 == 1L) >= 1, s"parity=$parity missed doc 1")
      assert(got.count(_._1 == 2L) >= 1, s"parity=$parity missed doc 2")
      assert(!got.exists(_._1 == 3L), s"parity=$parity false positive in doc 3")
      // soundness: spans stay inside the exhaustive spans re-merged at the
      // winnow gap (same containment contract as the short-doc test)
      val exact = spans(docs).toSeq.sortBy(t => (t._1, t._2))
      got.foreach { case (d, s, e, _) =>
        val ok = exact.filter(_._1 == d)
          .foldLeft(List.empty[(Int, Int)]) { (acc, t) =>
            acc match {
              case (ps, pe) :: rest if t._2 - pe <= 8 =>
                (ps, math.max(pe, t._3)) :: rest
              case _ => (t._2, t._3) :: acc
            }
          }
          .exists { case (es, ee) => s >= es && e <= ee }
        assert(ok, s"parity=$parity span ($d,$s,$e) escapes exact spans")
      }
    }
  }

  test("winnowing is segmentLen-invariant: chunked == unchunked selection") {
    // all docs fit in ONE default segment, so segmentLen=4088 IS the
    // unchunked computation; tiny segments force many chunks + overlap
    // stitching — identical output proves the chunking is exact
    val rng = new scala.util.Random(13)
    val docs = (1 to 25).map { i =>
      val pre = rng.alphanumeric.take(5 + rng.nextInt(120)).mkString
      val post = rng.alphanumeric.take(rng.nextInt(150)).mkString
      (i.toLong, if (i % 3 == 0) pre + shared + post else pre + post)
    }.toDF("doc_id", "text")
    for (parity <- Seq(false, true)) {
      val unchunked = SubstringDedup.winnowedSpans(docs, "doc_id", "text",
          k = 20, w = 8, oracleParityHash = parity, segmentLen = 4088)
        .as[(Long, Int, Int, Int)].collect().toSet
      for (seg <- Seq(40, 97, 512)) {
        val chunked = SubstringDedup.winnowedSpans(docs, "doc_id", "text",
            k = 20, w = 8, oracleParityHash = parity, segmentLen = seg)
          .as[(Long, Int, Int, Int)].collect().toSet
        assert(chunked == unchunked, s"segmentLen=$seg parity=$parity diverged")
      }
    }
  }

  test("auto strategy: window marking under the size threshold, two-pass above") {
    val docs = Seq((1L, shared + " one"), (2L, shared + " two")).toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), col("text"))
    assert(SubstringDedup.autoSinglePass(base), "tiny corpus must pick window marking")
    assert(!SubstringDedup.autoSinglePass(base, threshold = 1L),
      "corpus above threshold must pick the skew-immune two-pass strategy")
    // and the auto default (None) on a tiny corpus produces the no-join
    // window plan — the same shape q100's plan audit pins at test scale
    val plan = SubstringDedup.duplicatedSpans(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("minDocs threshold: a phrase in two docs vanishes at minDocs = 3") {
    val docs = Seq(
      (1L, shared + " one"), (2L, shared + " two"),
      (3L, "unrelated text that matches no other document in this corpus")
    ).toDF("doc_id", "text")
    val strict = SubstringDedup.duplicatedSpans(docs, "doc_id", "text",
      k = 20, minDocs = 3)
    assert(strict.count() == 0)
  }

  test("saturation guard (round 16): near-total span coverage fails loudly, opt-in excises") {
    // the composed-rehearsal failure in miniature: every doc is drawn from
    // the same tiny phrase pool, so at k = 20 essentially every window
    // recurs in some other doc and spans cover ~100% of all characters
    val pool = Seq(shared, "another repeated phrase shared across documents")
    val saturated = (1 to 40).map { i =>
      (i.toLong, pool(i % 2) + " " + pool((i + 1) % 2))
    }.toDF("doc_id", "text")
    val eSat = intercept[IllegalArgumentException] {
      SubstringDedupSpec.excise(saturated, "doc_id", "text").collect()
    }
    assert(eSat.getMessage.contains("collision floor") &&
      eSat.getMessage.contains("maxCoverage = 1.0"), eSat.getMessage)
    // the explicit opt-in performs the action (a genuinely template-heavy
    // corpus CAN be excised deliberately) — and here removes everything
    val optIn = SubstringDedupSpec.excise(saturated, "doc_id", "text",
      maxCoverage = 1.0)
      .agg(sum(length(col("clean_text")))).as[Long].head()
    assert(optIn == 0L, s"opt-in should excise the saturated corpus, kept $optIn chars")
    // a healthy corpus (coverage ~54% in the unchanged/partial/total
    // fixture above) never trips the default guard — pinned by the other
    // excise tests running guard-enabled — and the threshold is validated
    val eArg = intercept[IllegalArgumentException] {
      SubstringDedupSpec.excise(saturated, "doc_id", "text", maxCoverage = 0.0)
    }
    assert(eArg.getMessage.contains("(0, 1]"))
  }
}

object SubstringDedupSpec {
  import org.apache.spark.sql.DataFrame

  /** Detect then act in one call: [[SubstringDedup.duplicatedSpans]]
    * materialized once (the action references it three times), then
    * [[SubstringDedup.exciseSpans]] with the saturation guard on.
    */
  def excise(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 20,
      maxCoverage: Double = SubstringDedup.DefaultMaxCoverage): DataFrame = {
    val spans = SubstringDedup.duplicatedSpans(docs, idCol, textCol, k)
      .localCheckpoint()
    SubstringDedup.exciseSpans(docs, idCol, textCol, spans, maxCoverage)
  }
}
