package graft

import org.apache.spark.sql.functions._

/** Round-16 additions: the IndexIngest sink-side batch ledger (the r15
  * ADVICE medium — foreachBatch replays must not double-append), and the
  * ImageIO decode tier — real PNG/JPEG codecs behind the multimodal seam
  * plus the mixed-format sniff dispatch. */
class Round16Spec extends SparkSpec {

  import graft.operators.Multimodal

  test("PNG tier is pixel-exact: ImageIO decode of built PNGs equals the PPM decode, cell for cell") {
    // PNG is lossless, so the compressed container must decode to the
    // SAME channel sums the uncompressed P6 container carries for the
    // same rule — a cross-codec equality no single-format gate can give.
    val docs = graft.sources.Tables.documents(spark, sf)
    val png = Multimodal.extractRgbFeatures(Multimodal.asPngPayloads(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val ppm = Multimodal.extractRgbFeatures(Multimodal.asPpmPayloads(docs))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(png.keySet === ppm.keySet)
    var decoded = 0
    for ((id, p) <- ppm) {
      if (p._2 > 0) { // complete rows exist: PNG must match exactly
        assert(png(id) === p, s"doc $id: PNG decode diverged from PPM")
        decoded += 1
      } else {
        // sub-row docs: P6 encodes 8x0 validly; PNG ships empty → reject
        assert(png(id)._1 === -1L, s"doc $id: empty PNG payload must reject")
      }
    }
    assert(decoded > 100, s"only $decoded docs decoded — the parity claim needs coverage")
  }

  test("JPEG tier: dims exact, decoded gray mass within tolerance; measured drift reported") {
    val docs = graft.sources.Tables.documents(spark, sf)
    // measure the ACTUAL per-pixel gray drift of the JDK codec on random
    // text-byte images (worst case for a DCT codec) — the gate tolerance
    // must dominate it with real margin, not by tuning
    val media = Multimodal.asJpegPayloads(docs)
    val drift = media.collect().flatMap { r =>
      Multimodal.decodeImageIo(r.getAs[Array[Byte]](1)).map { img =>
        var g = 0L; var p = 0
        while (p < img.pixels.length) { g += img.pixels(p) & 0xff; p += 1 }
        math.abs(g - r.getLong(2)).toDouble / (img.width.toLong * img.height)
      }
    }
    assert(drift.length > 100, "JPEG decode coverage too thin")
    val worst = drift.max
    info(f"JPEG gray drift per pixel: max $worst%.2f over ${drift.length} images " +
      f"(gate tolerance ${Multimodal.JpegGrayTolPerPixel})")
    assert(worst <= Multimodal.JpegGrayTolPerPixel / 2.0,
      f"measured drift $worst%.2f leaves <2x margin against the gate tolerance")
    // and the gate itself: all buildable docs in tolerance, dims exact
    val gate = Multimodal.jpegGateFromDir(spark, sf).collect()
    for (r <- gate if r.getLong(1) >= 0)
      assert(r.getBoolean(4), s"doc ${r.getLong(0)} escaped the gray tolerance")
  }

  test("ImageIO decode rejects corrupt and oversized payloads") {
    assert(Multimodal.decodeImageIo(null).isEmpty)
    assert(Multimodal.decodeImageIo(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeImageIo("not an image".getBytes).isEmpty)
    // a real PNG truncated mid-stream must reject, not mis-sum
    val whole = {
      val img = new java.awt.image.BufferedImage(8, 4,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    assert(Multimodal.decodeImageIo(whole).isDefined)
    assert(Multimodal.decodeImageIo(whole.take(whole.length / 2)).isEmpty,
      "truncated PNG must reject")
    // a crafted header claiming giant dims must reject BEFORE decoding
    // pixels (the allocation, not the parse, is the attack)
    val bigDims = whole.clone()
    // PNG IHDR: width at offset 16, height at 20 (big-endian u32)
    for (i <- 0 until 4) { bigDims(16 + i) = 0x7f.toByte; bigDims(20 + i) = 0x7f.toByte }
    assert(Multimodal.decodeImageIo(bigDims).isEmpty,
      "a 2e9x2e9 header must reject at the dimension guard")
  }

  test("mixed-format corpus: sniff routes every container to its codec") {
    assert(Multimodal.sniffImageFormat("P6\n8 0\n255\n".getBytes) === "ppm")
    assert(Multimodal.sniffImageFormat(Multimodal.buildBmp(new Array[Byte](30))) === "bmp")
    assert(Multimodal.sniffImageFormat(
      Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)) === "png")
    assert(Multimodal.sniffImageFormat(Array(0xff.toByte, 0xd8.toByte, 0xff.toByte)) === "jpeg")
    assert(Multimodal.sniffImageFormat("garbage".getBytes) === "unknown")

    val mixed = Multimodal.mixedGateFromDir(spark, sf).collect()
    assert(mixed.nonEmpty)
    val byFmt = mixed.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // all four codecs must actually fire on the corpus
    for (f <- Seq("ppm", "bmp", "png", "jpeg"))
      assert(byFmt.getOrElse(f, 0) > 10, s"$f fired only ${byFmt.getOrElse(f, 0)} times")
    // dims agree with each builder's rule for every decoded row
    for (r <- mixed if r.getLong(2) > 0) {
      val w = r.getLong(2)
      r.getString(1) match {
        case "bmp" => assert(w === 5L)
        case _ => assert(w === 8L)
      }
      assert(r.getLong(4) === w * r.getLong(3))
    }
    // BMP decode through the dispatch normalizes BGR → RGB: spot-check
    // against the PPM decode of the same bytes
    val data = Array.tabulate[Byte](30)(i => (i * 7 + 3).toByte) // 2 BMP rows @ w=5
    val viaBmp = Multimodal.decodeAnyImage(Multimodal.buildBmp(data)).get
    assert(viaBmp.width === 5 && viaBmp.height === 2)
    // image row 0 = input bytes [0,15): first pixel's B,G,R were bytes
    // 0,1,2 → RGB order flips to (byte2, byte1, byte0)
    assert((viaBmp.pixels(0) & 0xff) === (data(2) & 0xff))
    assert((viaBmp.pixels(1) & 0xff) === (data(1) & 0xff))
    assert((viaBmp.pixels(2) & 0xff) === (data(0) & 0xff))
  }

  test("aHash is container-agnostic: PNG signatures equal PPM signatures; JPEG re-encodes stay near") {
    val docs = graft.sources.Tables.documents(spark, sf)
    def sigs(media: org.apache.spark.sql.DataFrame) =
      Multimodal.ahashFeatures(media).collect()
        .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    val viaPpm = sigs(Multimodal.asPpmPayloads(docs))
    val viaPng = sigs(Multimodal.asPngPayloads(docs))
    // lossless container change must not move a single bit
    val hashedIds = viaPpm.collect { case (id, s) if s._1 >= 0 => id }.toSeq
    assert(hashedIds.size > 100)
    for (id <- hashedIds if viaPng(id)._1 >= 0)
      assert(viaPng(id) === viaPpm(id), s"doc $id: PNG aHash diverged from PPM")
    // JPEG robustness is a STRUCTURED-image property: on random noise
    // every cell mean hugs the global mean, so bits sit at the threshold
    // and flip under any lossy change (measured mean ~15/64 on the
    // text-byte corpus — reported, not asserted). On images with real
    // structure — the content aHash exists for — a re-encode must stay
    // inside the banding join's Hamming radius.
    val viaJpeg = sigs(Multimodal.asJpegPayloads(docs))
    val dists = hashedIds.flatMap { id =>
      viaJpeg.get(id).filter(_._1 >= 0).map { j =>
        java.lang.Long.bitCount(j._1 ^ viaPpm(id)._1) +
          java.lang.Long.bitCount(j._2 ^ viaPpm(id)._2)
      }
    }
    assert(dists.nonEmpty)
    info(s"JPEG-vs-source aHash Hamming on NOISE images: " +
      s"${dists.count(_ <= 3)}/${dists.size} within 3, " +
      s"mean ${dists.sum.toDouble / dists.size}")
    // structured images: two-tone vertical split and a smooth gradient,
    // 32x32 — cell means differ strongly from the global mean
    import spark.implicits._
    val structured = Seq(
      (1L, Array.tabulate(32 * 32 * 3)(i => if ((i / 3) % 32 < 16) 30.toByte else 220.toByte)),
      (2L, Array.tabulate(32 * 32 * 3)(i => ((i / 3) / 32 * 8).toByte))
    )
    def payloadDf(rows: Seq[(Long, Array[Byte])], fmt: String) = rows.map { case (id, px) =>
      val img = new java.awt.image.BufferedImage(32, 32,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (k <- 0 until 32 * 32)
        img.setRGB(k % 32, k / 32, ((px(3 * k) & 0xff) << 16) |
          ((px(3 * k + 1) & 0xff) << 8) | (px(3 * k + 2) & 0xff))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      (id, bos.toByteArray)
    }.toDF("media_id", "payload")
    val sPng = sigs(payloadDf(structured, "png"))
    val sJpg = sigs(payloadDf(structured, "jpg"))
    for ((id, p) <- sPng) {
      val j = sJpg(id)
      val d = java.lang.Long.bitCount(j._1 ^ p._1) + java.lang.Long.bitCount(j._2 ^ p._2)
      assert(d <= 3, s"structured image $id: JPEG re-encode drifted $d bits")
    }
  }

  test("GIF multi-frame decode: frame walk is lossless and frame-exact") {
    import spark.implicits._
    // 3 frames + 17 spare bytes: the tail partial frame must be DROPPED,
    // the three whole frames decoded bit-exactly (each frame has <=32
    // distinct colors, so the palette roundtrip loses nothing)
    val bytes = Array.tabulate[Byte](3 * 96 + 17)(i => ((i * 11 + 5) % 256).toByte)
    val gif = Multimodal.buildGif(bytes)
    assert(gif.length > 0 && Multimodal.sniffImageFormat(gif) === "gif")
    // the dispatch's still-image face of a multi-frame container: frame 0
    val still = Multimodal.decodeAnyImage(gif).get
    assert(still.width === 8 && still.height === 4)
    assert((still.pixels(0) & 0xff) === (bytes(0) & 0xff))
    val frames = Multimodal.decodeFrames(gif).get
    assert(frames.length === 3)
    for ((img, f) <- frames.zipWithIndex) {
      assert(img.width === 8 && img.height === 4)
      for (k <- 0 until 96)
        assert((img.pixels(k) & 0xff) === (bytes(f * 96 + k) & 0xff),
          s"frame $f byte $k")
    }
    // rejects: empty, garbage, truncated container
    assert(Multimodal.decodeFrames(Array.emptyByteArray).isEmpty)
    assert(Multimodal.decodeFrames("not a gif".getBytes).isEmpty)
    // aggregate container budget (r16 ADVICE): a REAL GIF one frame over
    // the cap rejects WHOLE — the walk must never allocate ~cap × frame
    // planes for a crafted many-frame payload. The total-pixel cap
    // shares this code path (same reject branch).
    assert(Multimodal.ImageIoMaxTotalPixels === Multimodal.ImageIoMaxPixels)
    val manyFrames = Multimodal.buildGif(
      new Array[Byte]((Multimodal.ImageIoMaxFrames + 1) * 96))
    assert(manyFrames.nonEmpty, "the builder itself has no frame cap")
    assert(Multimodal.decodeFrames(manyFrames).isEmpty,
      s"${Multimodal.ImageIoMaxFrames + 1} frames must reject whole")
    // while the still-image dispatch face (frame 0 only, no container
    // walk) still serves the same payload
    assert(Multimodal.decodeAnyImage(manyFrames).nonEmpty,
      "first-frame dispatch must not pay or inherit the container walk")
    // sub-frame docs build an empty payload
    assert(Multimodal.buildGif(new Array[Byte](95)).isEmpty)
    // the gate shape: one row per frame, exact sums
    val out = Multimodal.gifGateFromDir(spark, sf).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf).count()
    assert(out.length > nDocs, "multi-frame docs must emit multiple rows")
    assert(out.forall(r => r.getLong(2) === 8 || r.getLong(2) === -1))
  }

  test("resizeThumb: box-mean bands, floor division, container-agnostic, sub-grid rejects") {
    import spark.implicits._
    // a hand-checkable 8x4 image: row-band i covers exactly one row
    // (4*r/4 = r), col-band j covers two columns — cell (i,j) = mean
    // gray of pixels (r=i, c∈{2j,2j+1})
    val px = Array.tabulate(8 * 4 * 3)(k => (k % 251).toByte)
    def gray(r: Int, c: Int) = (0 to 2).map(ch => ((r * 8 + c) * 3 + ch) % 251).sum
    val ppm = ("P6\n8 4\n255\n".getBytes ++ px).toArray
    def thumbOf(payload: Array[Byte]): Seq[Long] = {
      val rows = Multimodal.resizeThumb(Seq((1L, payload)).toDF("media_id", "payload"))
        .orderBy("cell").collect()
      assert(rows.length === 16)
      assert(rows.forall(r => r.getLong(1) === 8 && r.getLong(2) === 4))
      rows.map(_.getLong(4)).toSeq
    }
    val thumb = thumbOf(ppm)
    for (i <- 0 until 4; j <- 0 until 4)
      assert(thumb(i * 4 + j) === (gray(i, 2 * j) + gray(i, 2 * j + 1)) / 2,
        s"cell ($i,$j)")
    // lossless container change must not move a single cell
    val png = {
      val img = new java.awt.image.BufferedImage(8, 4,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (k <- 0 until 32) img.setRGB(k % 8, k / 8,
        ((px(3 * k) & 0xff) << 16) | ((px(3 * k + 1) & 0xff) << 8) | (px(3 * k + 2) & 0xff))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    assert(thumbOf(png) === thumb)
    // fewer rows than the grid → reject, one visible -1 row
    val tiny = Multimodal.resizeThumb(
      Seq((2L, "P6\n8 3\n255\n".getBytes ++ px.take(72))).toDF("media_id", "payload"))
      .collect()
    assert(tiny.length === 1 && tiny.head.getLong(1) === -1 &&
      tiny.head.getLong(3) === -1)
  }

  test("audioEnergy: window stride, short tail, channel-inclusive abs mass") {
    import spark.implicits._
    // 100 frames stereo: samples s(t) alternate +t/-t so abs mass is
    // hand-computable; window 0 = frames 0..63, window 1 = 64..99
    val nFrames = 100
    val data = new Array[Byte](nFrames * 4)
    for (f <- 0 until nFrames; ch <- 0 to 1) {
      val v = if (ch == 0) f else -f
      data(f * 4 + ch * 2) = (v & 0xff).toByte
      data(f * 4 + ch * 2 + 1) = ((v >> 8) & 0xff).toByte
    }
    val wav = Multimodal.buildWav(data)
    val rows = Multimodal.audioEnergy(Seq((7L, wav)).toDF("media_id", "payload"))
      .orderBy("win").collect()
    assert(rows.length === 2)
    def absSum(a: Int, b: Int) = (a until b).map(f => 2L * f).sum // both channels
    assert(rows(0).getLong(1) === 0 && rows(0).getLong(2) === 64 &&
      rows(0).getLong(3) === absSum(0, 64))
    assert(rows(1).getLong(1) === 1 && rows(1).getLong(2) === 36 &&
      rows(1).getLong(3) === absSum(64, 100))
    // empty stream: zero windows, no rows (the valid-empty WAV)
    assert(Multimodal.audioEnergy(
      Seq((8L, Multimodal.buildWav(Array.emptyByteArray))).toDF("media_id", "payload"))
      .count() === 0)
  }

  test("a NULL text is the empty payload in every multimodal gate") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_null_text")
    try {
      // docs 1 and 5 are congruent mod 4: the mixed gate routes both to BMP
      Seq((1L, Option.empty[String]), (5L, Some(""))).toDF("doc_id", "text")
        .select(col("doc_id"), col("text"), lit("en").as("lang"), lit("t").as("source"),
          lit(0L).as("n_chars"))
        .write.parquet(s"$dir/documents.parquet")
      val gates = SparkEntry.gates.filter(g => g.name.startsWith("multimodal_") ||
        g.name == "audio_energy_windows" || g.name == "dedup_image_ahash")
      assert(gates.size === 14)
      // multimodal_meta is expression-level: both engines propagate the NULL
      for (g <- gates if g.name != "multimodal_meta") {
        val out = g.build(spark, dir.toString).collect()
        def rowsOf(id: Long) = out.filter(_.getLong(0) == id).map(_.toSeq.tail).toSeq
        if (g.name != "dedup_image_ahash")
          assert(rowsOf(1L) === rowsOf(5L), s"${g.name}: NULL text diverged from empty text")
      }
    } finally scala.util.Try(graft.sources.StoreCommit.deleteRecursively(dir))
  }

  test("guardedAppend: a replayed batchId is skipped; new batchIds append") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ingest_ledger")
    try {
      var calls = 0
      var rows = 0L
      val guarded = graft.streaming.IndexIngest.guardedAppend(
        stateDir.toString, b => { calls += 1; rows += b.count() })
      val batch = Seq((1L, Seq(0.1f, 0.2f)), (2L, Seq(0.3f, 0.4f)))
        .toDF("vec_id", "embedding")
      guarded(batch, 0L)
      assert(calls === 1 && rows === 2)
      // restart replay of the SAME uncommitted-at-source batchId: the
      // ledger marker must swallow it — a second append would land
      // duplicate vec_ids in cells (duplicate neighbors in every probe)
      guarded(batch, 0L)
      assert(calls === 1 && rows === 2, "replayed batchId must be skipped")
      // the next batchId is new work and must go through
      guarded(batch, 1L)
      assert(calls === 2 && rows === 4)
      // markers are per-batch files under <stateDir>/commits
      assert(java.nio.file.Files.exists(stateDir.resolve("commits").resolve("batch-0")))
      assert(java.nio.file.Files.exists(stateDir.resolve("commits").resolve("batch-1")))
    } finally {
      java.nio.file.Files.walk(stateDir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("guardedAppend: a failed append leaves no marker, so the retry lands") {
    import spark.implicits._
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ingest_ledger2")
    try {
      var calls = 0
      var fail = true
      val guarded = graft.streaming.IndexIngest.guardedAppend(
        stateDir.toString,
        _ => { calls += 1; if (fail) sys.error("transient store failure") })
      val batch = Seq((1L, Seq(0.1f))).toDF("vec_id", "embedding")
      intercept[RuntimeException] { guarded(batch, 0L) }
      assert(!java.nio.file.Files.exists(stateDir.resolve("commits").resolve("batch-0")),
        "a marker for a FAILED append would permanently drop the batch")
      fail = false
      guarded(batch, 0L) // the streaming engine's retry of the same batch
      assert(calls === 2)
      assert(java.nio.file.Files.exists(stateDir.resolve("commits").resolve("batch-0")))
    } finally {
      java.nio.file.Files.walk(stateDir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
