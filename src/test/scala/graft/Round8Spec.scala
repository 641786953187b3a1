package graft

import graft.operators.Similarity.{Build, Op, Tier, TierState}
import graft.functions.BpeMerge
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions.{col, transform}

/** Round-8 behaviors: REAL BPE merge counting — the boundary-anchored
  * replace sweep must equal an independent one-merge-at-a-time min-rank
  * encoder (the classic algorithm), including the "red" suffix-match
  * counterexample from the round-7 advice. */
class Round8Spec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------- independent reference encoder

  /** Classic min-rank BPE over one pre-tokenizer segment: repeatedly find
    * the lowest-rank adjacent pair (leftmost on ties) and merge ONLY that
    * occurrence. Deliberately shares no code with BpeMerge.segTokens — it
    * is the spec the sweep must reproduce. */
  private def refEncode(seg0: String): Vector[String] = {
    val seg = seg0.replace(BpeMerge.SepStr, "")
    val rank = BpeMerge.Merges.zipWithIndex.toMap
    var toks: Vector[String] = {
      val b = Vector.newBuilder[String]
      var i = 0
      while (i < seg.length) {
        val cp = seg.codePointAt(i)
        b += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      b.result()
    }
    var done = toks.isEmpty
    while (!done) {
      var best = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < toks.length - 1) {
        rank.get((toks(i), toks(i + 1))).foreach { r =>
          if (r < best) { best = r; bestI = i } // strict < keeps leftmost
        }
        i += 1
      }
      if (bestI < 0) done = true
      else toks = toks.patch(bestI, Vector(toks(bestI) + toks(bestI + 1)), 2)
    }
    toks
  }

  private val pretok = java.util.regex.Pattern.compile(BpeMerge.Pattern)

  /** Reference token count of a full text: pre-tokenize, encode each. */
  private def refCount(text: String): Long = {
    val m = pretok.matcher(text)
    var n = 0L
    while (m.find()) n += refEncode(m.group()).length
    n
  }

  // --------------------------------------------------- hand-derived cases

  test("bpe merge: the round-7 counterexample — 'red' is [re,d], not fused") {
    // with trailing-only separators, rank-17 'e␟d␟' matched the SUFFIX of
    // 're␟d␟' and fused [re,d] into one token; anchored sweep must not
    assert(refEncode("red") === Vector("re", "d"))
    assert(BpeMerge.countTokens("red") === 2L)
    assert(refEncode("ted") === Vector("t", "ed"))
    assert(BpeMerge.countTokens("ted") === 2L)
  }

  test("bpe merge: hand-derived counts incl. multi-step merge chains") {
    assert(BpeMerge.countTokens("the") === 1L)  // t+h -> th, th+e -> the
    assert(BpeMerge.countTokens(" the") === 1L) // ' '+the (rank 21)
    assert(BpeMerge.countTokens("ration") === 2L) // r | at+i->ati+on->ation
    assert(BpeMerge.countTokens("test") === 2L)   // t | es+t -> est
    assert(BpeMerge.countTokens("the cat and the hat") ===
      refCount("the cat and the hat"))
    // back-to-back same-pair occurrences all merge in one pass
    assert(BpeMerge.countTokens("ononon") === refCount("ononon"))
    assert(BpeMerge.countTokens("") === 0L)
    // U+001F in data: splits letter segments at pre-tokenization (it is
    // punctuation-class), and is STRIPPED inside its own segment — "!!"
    // is one punct segment that must count exactly like "!!"
    assert(BpeMerge.countTokens("the") === refCount("the"))
    assert(BpeMerge.countTokens("!!") === BpeMerge.countTokens("!!"))
    // vertical tab is a punctuation-class segment (explicit ws class)
    assert(BpeMerge.countTokens("ab") === refCount("ab"))
  }

  test("bpe merge: sweep == min-rank encoder on deterministic fuzz corpus") {
    val rnd = new scala.util.Random(42)
    val alphabet = "aadeeghiilmnnoorrsttu th e .!?0189"
    (1 to 400).foreach { _ =>
      val n = 1 + rnd.nextInt(24)
      val text = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(BpeMerge.countTokens(text) === refCount(text),
        s"mismatch on ${text.map(c => f"\\u$c%04x").mkString}")
    }
  }

  // ------------------------------------------------- query + plan surface

  test("text_bpe_merged: per-doc counts through codegen match the reference") {
    val docs = Seq(
      (1L, "the cat and the hat"),
      (2L, "red ted estimation"),
      (3L, ""),
      (4L, "our nation's ration 1984!")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMergedStats(docs).collect()
    got.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val text = Map(1L -> "the cat and the hat", 2L -> "red ted estimation",
        3L -> "", 4L -> "our nation's ration 1984!")(id)
      assert(r.getAs[Long]("merged_tokens") === refCount(text), s"doc $id")
      assert(r.getAs[Long]("bpe_segments") ===
        { val m = pretok.matcher(text); var c = 0L; while (m.find()) c += 1; c })
      if (text.isEmpty) assert(r.isNullAt(r.fieldIndex("chars_per_merged_token")))
    }
  }

  test("text_bpe_merged gate: merging only ever shrinks, never below one " +
    "token per segment") {
    // the >= invariant below assumes no U+001F in the corpus (a pure-U+001F
    // segment counts 1 segment, 0 tokens) — assert the assumption first
    assert(graft.sources.Tables.documents(spark, sf)
      .filter(col("text").contains("\u001f")).count() === 0L,
      "corpus contains U+001F — the segments invariant doesn't apply")
    val out = TextAnalysis.bpeMergedFromDir(spark, sf).collect()
    assert(out.length > 0)
    out.foreach { r =>
      val segs = r.getAs[Long]("bpe_segments")
      val merged = r.getAs[Long]("merged_tokens")
      val chars = r.getAs[Long]("chars")
      assert(merged >= segs, s"doc ${r.get(0)}: fewer tokens than segments")
      assert(merged <= chars, s"doc ${r.get(0)}: more tokens than codepoints")
    }
    // the merge table actually fires on the corpus (English word soup)
    val totalMerged = out.map(_.getAs[Long]("merged_tokens")).sum
    val totalChars = out.map(_.getAs[Long]("chars")).sum
    assert(totalMerged < totalChars, "no merge ever fired — table inert?")
  }

  // ------------------------------------------ streaming gates (replayed)

  test("dedup_stream gate: planted re-deliveries are dropped, the raw " +
    "table survives exactly") {
    val raw = graft.sources.Tables.events(spark, sf)
    val out = graft.streaming.EventStreams.dedupStreamFromDir(spark, sf)
    assert(out.count() === raw.count(), "sink must equal the raw table " +
      "(re-deliveries dropped, nothing else lost)")
    assert(out.select("event_id").distinct().count() === raw.count())
  }

  test("events_hourly_streaming gate: append-mode windowed replay equals " +
    "the batch twin exactly") {
    val batch = graft.streaming.EventStreams.hourlyBatch(spark, sf).collect()
    val streamed = graft.streaming.EventStreams.hourlyStreamingFromDir(spark, sf).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
  }

  test("corpus_ingest_stream gate: quality gate filters, content dedup " +
    "kills same-text re-deliveries with different ids") {
    val out = graft.streaming.CorpusIngest.ingestStreamFromDir(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.length > 0 && out.length < nDocs,
      "quality gate must reject some docs (and planted copies must not inflate)")
    out.foreach { r =>
      assert(r.getAs[Long]("doc_id") < 10_000_000L,
        "a planted re-delivery (10M-offset id) survived the fingerprint dedup")
      assert(r.getAs[Double]("quality_score") >= 0.5)
    }
    // fingerprints in the output are unique — dedup state actually keyed
    // on content
    assert(out.map(_.getAs[Long]("fingerprint")).distinct.length === out.length)
  }

  // ------------------------------------------------ chunking and tf-idf

  test("doc_chunks: window arithmetic, gap-free tiling, no redundant " +
    "tails, fingerprint identity") {
    import graft.operators.Chunker
    val texts = Map(
      1L -> "x",          // 1 chunk
      2L -> "a" * 200,    // fits one window exactly -> 1 chunk
      3L -> "b" * 201,    // 2 chunks: 0 (200) and 150 (51)
      4L -> "c" * 500,    // 3 chunks: 0,150,300 — NOT a 4th at 450, whose
                          //  span would be a subset of the chunk at 300
      5L -> "",           // no chunks
      6L -> "d" * 350)    // 2 chunks: window at 150 ends exactly at len
    val docs = texts.toSeq.toDF("doc_id", "text")
    val got = Chunker.chunks(docs).collect()
      .groupBy(_.getAs[Long]("doc_id")).view.mapValues(_.sortBy(_.getAs[Long]("chunk_idx"))).toMap
    assert(!got.contains(5L))
    assert(got(1L).map(r => (r.getAs[Long]("chunk_start"), r.getAs[Long]("chunk_len"))).toSeq === Seq((0L, 1L)))
    assert(got(2L).length === 1 && got(3L).length === 2)
    assert(got(3L).last.getAs[Long]("chunk_len") === 51L)
    assert(got(4L).map(_.getAs[Long]("chunk_start")).toSeq === Seq(0L, 150L, 300L))
    assert(got(4L).map(_.getAs[Long]("chunk_len")).toSeq === Seq(200L, 200L, 200L))
    assert(got(6L).map(_.getAs[Long]("chunk_start")).toSeq === Seq(0L, 150L))
    // REAL tiling check on every doc: first window at 0, consecutive
    // windows exactly one stride apart (gap-free since stride <= size),
    // and the LAST window reaches the end of the text exactly
    got.foreach { case (id, rs) =>
      val len = texts(id).length.toLong
      assert(rs.head.getAs[Long]("chunk_start") === 0L, s"doc $id")
      rs.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(b.getAs[Long]("chunk_start") - a.getAs[Long]("chunk_start") === 150L)
      }
      val last = rs.last
      assert(last.getAs[Long]("chunk_start") + last.getAs[Long]("chunk_len") === len,
        s"doc $id: last window does not reach the end")
    }
    // fingerprint identity vs the scalar reference on the exact substring
    val fp = got(4L)(2).getAs[Long]("chunk_fp")
    assert(fp === graft.functions.Fingerprint.reference(("c" * 500).substring(300)))
  }

  test("tfidf_topk: hand-computed scores, tie broken by term") {
    import graft.operators.TfIdf
    val docs = Seq(
      (1L, "a a b"), (2L, "a c"), (3L, "b b b c")
    ).toDF("doc_id", "text")
    val got = TfIdf.topTerms(docs, k = 5).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank"),
        r.getAs[String]("term"), r.getAs[Double]("score_r")))
    // N=3; every term has df=2 -> idf = round9(ln(4/3)+1); score = tf*idf
    val idf = math.floor((math.log(4.0 / 3) + 1.0) * 1e9 + 0.5) / 1e9
    def s(tf: Int) = math.floor(tf * idf * 1e6 + 0.5) / 1e6
    assert(got.toSeq === Seq(
      (1L, 1L, "a", s(2)), (1L, 2L, "b", s(1)),
      (2L, 1L, "a", s(1)), (2L, 2L, "c", s(1)), // equal scores: term asc
      (3L, 1L, "b", s(3)), (3L, 2L, "c", s(1))))
  }

  test("tfidf_topk plans the per-doc top-k as WindowGroupLimit") {
    import graft.operators.TfIdf
    val plan = TfIdf.fromDir(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("boilerplate: cross-doc repeated windows flagged, within-doc " +
    "repeats are not") {
    import graft.operators.Boilerplate
    val shared = "S" * 200
    val docs = Seq(
      (1L, shared + "unique tail one " * 10),
      (2L, shared + "a completely different tail " * 8),
      (3L, "z" * 500), // 3 identical windows, but only THIS doc has them
      (4L, "short unique doc")
    ).toDF("doc_id", "text")
    val got = Boilerplate.score(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_boilerplate"))).toMap
    assert(got(1L)._2 >= 1L && got(2L)._2 >= 1L,
      "the shared leading window must flag in both docs")
    assert(got(3L) === ((3L, 0L)),
      "within-doc repeats are not cross-document boilerplate")
    assert(got(4L)._2 === 0L)
    graft.operators.Dedup.releasePinned(spark)
  }

  test("corpus_rollup: subtotals and grand total reconcile exactly") {
    import graft.operators.CorpusStats
    val rows = CorpusStats.fromDir(spark, sf).collect()
    val leaves = rows.filter(r => r.getAs[String]("source") != "<all>" &&
      r.getAs[String]("lang") != "<all>")
    val subtotals = rows.filter(r => r.getAs[String]("source") != "<all>" &&
      r.getAs[String]("lang") == "<all>")
    val total = rows.filter(r => r.getAs[String]("source") == "<all>")
    assert(total.length === 1, "exactly one grand-total row")
    assert(total.head.getAs[String]("lang") === "<all>")
    def nd(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.getAs[Long]("n_docs")).sum
    def tc(rs: Array[org.apache.spark.sql.Row]) = rs.map(_.getAs[Long]("total_chars")).sum
    assert(nd(leaves) === nd(total) && nd(subtotals) === nd(total))
    assert(tc(leaves) === tc(total) && tc(subtotals) === tc(total))
    // per-source subtotal equals the sum of its language leaves
    subtotals.foreach { s =>
      val src = s.getAs[String]("source")
      val mine = leaves.filter(_.getAs[String]("source") == src)
      assert(nd(mine) === s.getAs[Long]("n_docs"), s"subtotal mismatch for $src")
    }
  }

  // --------------------------------------------------- IVF maintenance

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("ivf append+probe == rebuild-probe on the union for unchanged " +
    "centroids; quantizer round-trips through the sidecar") {
    import graft.operators.Similarity
    val e = graft.sources.Tables.embeddings(spark, sf)
    val backlog = e.filter(col("vec_id") % 5 =!= 0)
    val delta = e.filter(col("vec_id") % 5 === 0)
    val dirAppend = tmpDir("graft_ivf_append")
    val dirUnion = tmpDir("graft_ivf_union")
    val cents = Similarity.build(Tier.IvfTrained, dirAppend, backlog, Build(8)).coarse.head
    Similarity.append(spark, Tier.IvfTrained, dirAppend, delta)
    Similarity.buildWith(Tier.IvfTrained, dirUnion, e, TierState(Seq(cents)))
    // the persisted quantizer is the trained one, bit-for-bit
    val readBack = Similarity.readQuantizer(spark, dirAppend)
    assert(readBack.map(_._1).toSeq === cents.map(_._1).toSeq)
    readBack.zip(cents.sortBy(_._1)).foreach { case ((_, a), (_, b)) =>
      assert(a.toSeq === b.toSeq)
    }
    val q = e.filter(col("vec_id") < 5)
    val appended = Similarity.probe(spark, Tier.IvfTrained, dirAppend, q)().collect()
    val rebuilt = Similarity.probe(spark, Tier.IvfTrained, dirUnion, q)().collect()
    assert(appended.toSeq === rebuilt.toSeq,
      "append path diverged from a same-quantizer rebuild on the union")
    assert(appended.nonEmpty)
  }

  test("ivf health: fresh index has zero drift; a shifted batch trips the " +
    "recluster rule, in-distribution appends do not") {
    import graft.operators.Similarity
    val e = graft.sources.Tables.embeddings(spark, sf)
    val dir = tmpDir("graft_ivf_health")
    Similarity.build(Tier.IvfTrained, dir, e, Build(8))
    val fresh = Similarity.indexHealth(spark, dir)
    assert(math.abs(fresh.drift) < 1e-9 && fresh.growth === 1.0)
    assert(!fresh.shouldRecluster())
    // a genuinely IN-distribution append (a slice of the same data under
    // new ids) must not trip the DEFAULT thresholds — the advertised
    // property, tested as advertised
    val inDist = e.filter(col("vec_id") % 3 === 0)
      .withColumn("vec_id", col("vec_id") + 2000000L)
    Similarity.append(spark, Tier.IvfTrained, dir, inDist)
    val mid = Similarity.indexHealth(spark, dir)
    assert(!mid.shouldRecluster(),
      s"in-distribution append tripped recluster: drift=${mid.drift} growth=${mid.growth}")
    assert(math.abs(mid.drift) < 0.05)
    // appending NEGATED vectors: worse-assigned than the data the
    // quantizer was trained on (measurably positive drift — though for
    // near-isotropic embeddings only mildly so: the max-cosine over 8
    // centroids is nearly symmetric under negation)
    val shifted = e
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding", transform(col("embedding"), x => -x))
    Similarity.append(spark, Tier.IvfTrained, dir, shifted)
    val after = Similarity.indexHealth(spark, dir)
    assert(after.drift > mid.drift,
      s"negated batch should worsen drift: ${mid.drift} -> ${after.drift}")
    // the two recluster signals fire on their thresholds independently
    assert(after.shouldRecluster(maxDrift = after.drift / 2, maxGrowth = 10.0),
      "drift beyond the bar must ask for recluster")
    assert(after.shouldRecluster(maxDrift = 1.0, maxGrowth = 2.0),
      "growth beyond the bar must ask for recluster")
    assert(!after.shouldRecluster(maxDrift = 1.0, maxGrowth = 10.0),
      "inside both bars, no recluster")
    assert(after.nNow === after.nBuild + inDist.count() + after.nBuild)
  }
}
