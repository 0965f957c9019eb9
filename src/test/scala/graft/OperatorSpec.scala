package graft

import java.sql.Timestamp

import graft.operators.{AsOfJoin, RangeJoin}
import org.apache.spark.sql.functions._

/** Handcrafted-input specs for the join operators (exact expected
  * outputs, including tie-break and no-match edges).
  */
class OperatorSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("AsOfJoin: greatest rightTime <= leftTime per key, ties by max tiebreak") {
    import spark.implicits._
    val left = Seq(
      (1L, "u1", ts(100)),
      (2L, "u1", ts(50)),
      (3L, "u2", ts(10)),   // before any right row → null match
      (4L, "u3", ts(100))   // key with no right rows at all
    ).toDF("click_id", "user_id", "click_ts")
    val right = Seq(
      (10L, "u1", ts(50), 1.0),   // exactly at left ts(50) → inclusive
      (11L, "u1", ts(50), 2.0),   // same ts — larger event_id wins
      (12L, "u1", ts(99), 3.0),
      (13L, "u2", ts(20), 4.0)
    ).toDF("event_id", "user_id", "ts", "value")

    val out = AsOfJoin.join(left, right, key = "user_id",
        leftTime = "click_ts", rightTime = "ts",
        rightPayload = Seq("event_id", "value"), rightTieBreak = "event_id")
      .select(col("click_id"), col("__match.event_id").as("view_id"),
        col("__match.value").as("v"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2)))))
      .toMap

    assert(out(1L).contains((12L, 3.0))) // latest prior view
    assert(out(2L).contains((11L, 2.0))) // equal ts inclusive, tiebreak max id
    assert(out(3L).isEmpty)
    assert(out(4L).isEmpty)
    assert(out.size == 4) // every left row exactly once
  }

  test("AsOfJoin forward direction takes the NEXT right row; tolerance " +
      "nulls matches beyond the window; ties break by max tiebreak") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (1L, 250L, 11L), (2L, 100L, 12L))
      .toDF("k", "lt", "lid")
    val right = Seq(
      (1L, 150L, 20L, "a"), (1L, 150L, 21L, "b"), // tie at 150 → max id 21
      (1L, 400L, 22L, "c"),
      (2L, 90L, 23L, "d")) // before the left row — never a forward match
      .toDF("k", "rt", "rid", "pay")
    def run(tol: Option[String]) =
      graft.operators.AsOfJoin.join(left, right, "k", "lt", "rt",
          Seq("rid", "pay"), "rid", direction = "forward", tolerance = tol)
        .select(col("lid"), col("__match.rid"), col("__match.pay"))
        .collect()
        .map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2)))))
        .toMap
    val noTol = run(None)
    assert(noTol(10L) == ((Some(21L), Some("b"))), "next row, tie → max rid")
    assert(noTol(11L) == ((Some(22L), Some("c"))), "skips earlier rows")
    assert(noTol(12L) == ((None, None)), "no right at-or-after")
    // timestamps are longs in ms here? No — lt/rt are longs; tolerance
    // needs real timestamps, so re-run with timestamp columns
    val tl = left.withColumn("lt", timestamp_millis(col("lt") * 60000))
    val tr = right.withColumn("rt", timestamp_millis(col("rt") * 60000))
    val withTol = graft.operators.AsOfJoin.join(tl, tr, "k", "lt", "rt",
        Seq("rid", "pay"), "rid", direction = "forward",
        tolerance = Some("60 MINUTES"))
      .select(col("lid"), col("__match.rid")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(withTol(10L) == Some(21L), "150 within 100+60")
    assert(withTol(11L) == None, "400 beyond 250+60 → nulled")
  }

  test("RangeJoin.bandJoin assigns [lo, hi) membership; bucketed variant agrees") {
    import spark.implicits._
    val fact = Seq((1, 0.0), (2, 49.999), (3, 50.0), (4, 199.0), (5, 250.0))
      .toDF("id", "value")
    val dim = Seq(("a", 0.0, 50.0), ("b", 50.0, 200.0), ("c", 200.0, 300.0))
      .toDF("band", "lo", "hi")
    val expected = Map(1 -> "a", 2 -> "a", 3 -> "b", 4 -> "b", 5 -> "c")
    val broad = RangeJoin.bandJoin(fact, dim, "value", "lo", "hi")
      .select(col("id"), col("band")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(broad == expected)
    // bucketed variant requires intervals not spanning buckets: width 50
    // splits band b into [50,100),[100,150),[150,200) rows first
    val dimSplit = Seq(
      ("a", 0.0, 50.0), ("b", 50.0, 100.0), ("b", 100.0, 150.0),
      ("b", 150.0, 200.0), ("c", 200.0, 250.0), ("c", 250.0, 300.0))
      .toDF("band", "lo", "hi")
    val bucketed = RangeJoin.bucketedBandJoin(fact, dimSplit, "value",
        "lo", "hi", width = 50.0)
      .select(col("id"), col("band")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(bucketed == expected)
  }

  test("Multimodal: payload schema, deterministic non-image fallback " +
      "dims, batch shape") {
    import graft.multimodal.Multimodal
    val docs = graft.core.Graft.table(spark, sfDir, "documents").limit(300)
    val withPayload = Multimodal.attachPayload(docs, "text")
    assert(withPayload.schema("payload").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val decoded = Multimodal.decodePayloads(withPayload, "payload")
    val rows = decoded.select(col("doc_id"), col("n_bytes"),
      col("decoded.width"), col("decoded.height"), col("decoded.channels"),
      col("decoded.ok")).collect()
    assert(rows.length == 300)
    rows.foreach { r =>
      val n = r.getInt(1)
      assert(r.getInt(2) == 64 + n % 512)
      assert(r.getInt(3) == 64 + (n * 7) % 512)
      assert(r.getInt(4) == 3)
      assert(r.getBoolean(5) == (n > 0))
    }
  }

  test("Multimodal: REAL javax.imageio decode — a PNG fixture reports " +
      "its true dimensions and channels; resize renders real pixels") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // a real 37x21 RGB PNG, generated in-memory with the same public
    // JDK API a user's image corpus would have been encoded with
    def png(w: Int, h: Int, seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 17 + seed) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val df = Seq(
      (1L, png(37, 21, 5)),
      (2L, png(8, 8, 99)),
      (3L, "definitely not an image payload".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val decoded = Multimodal.decodePayloads(df, "payload")
      .select(col("doc_id"), col("decoded.width"), col("decoded.height"),
        col("decoded.channels"), col("decoded.ok"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4))).toMap
    assert(decoded(1L) == ((37, 21, 3, true)))
    assert(decoded(2L) == ((8, 8, 3, true)))
    // the non-image row takes the deterministic fallback
    val n3 = "definitely not an image payload".getBytes("UTF-8").length
    assert(decoded(3L) == ((64 + n3 % 512, 64 + (n3 * 7) % 512, 3, true)))
    // real resize: a solid-color image stays solid through the bilinear
    // scale — every output pixel carries the source color's BGR bytes
    val solid = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g0 = solid.createGraphics()
    g0.setColor(new java.awt.Color(10, 200, 30)); g0.fillRect(0, 0, 16, 16)
    g0.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(solid, "png", bos)
    val resized = Multimodal.resizePayloads(
        Seq((1L, bos.toByteArray)).toDF("doc_id", "payload"),
        "payload", 4, 3)
      .select(col("resized")).collect()(0).getAs[Array[Byte]](0)
    assert(resized.length == 4 * 3 * 3)
    assert(resized.grouped(3).forall(p =>
      (p(0) & 0xff) == 30 && (p(1) & 0xff) == 200 && (p(2) & 0xff) == 10),
      "bilinear scale of a solid image must stay solid in BGR order")
  }

  test("Multimodal: a NULL payload flows through every batched verb as " +
      "the empty payload instead of NPE-ing the task") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // null text -> attachPayload's encode() yields a NULL payload; a
    // real media table carries the same shape for rows whose blob is
    // absent — in-domain everywhere else in the engine (contamination
    // preserves null-text docs), so the multimodal path must not crash
    val df = Multimodal.attachPayload(
      Seq((1L, "hello"), (2L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"), "text")
    assert(df.filter(col("doc_id") === 2L && col("payload").isNull)
      .count() == 1)
    val dec = Multimodal.decodePayloads(df, "payload")
      .filter(col("doc_id") === 2L)
      .select(col("decoded.width"), col("decoded.height"),
        col("decoded.ok")).collect()(0)
    assert((dec.getInt(0), dec.getInt(1), dec.getBoolean(2)) ==
      ((64, 64, false)))
    val res = Multimodal.resizePayloads(df, "payload", 4, 4)
      .filter(col("doc_id") === 2L)
      .select(col("resized_bytes")).collect()(0).getInt(0)
    assert(res == 0)
    val emb = Multimodal.extractFeatures(df, "payload", dim = 8)
      .filter(col("doc_id") === 2L)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    assert(emb.length == 8)
    // zero bytes -> zero frames, like an empty payload
    assert(Multimodal.sampleFrames(df, "payload", frameBytes = 4,
      everyNth = 1).filter(col("doc_id") === 2L).count() == 0)
  }

  /** 9×8 grid of flat gray cells scaled `cell` px each — adjacent-in-x
    * cells ALWAYS differ (53 ≢ 0 mod 7), so the pooled 9×8 grid under
    * dHash/embed is rounding-proof, and the same logical pattern at two
    * pixel scales pools to the same grid.
    */
  private def cellPng(a: Int, b: Int, cell: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9 * cell, 8 * cell,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 9 * cell; y <- 0 until 8 * cell) {
      val v = ((x / cell * a + y / cell * b) % 7) * 36 + 18
      img.setRGB(x, y, v * 0x010101)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("Multimodal: REAL pixel embeddings — a rescaled / brightness-" +
      "shifted copy stays cosine ≈ 1, a different image does not") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // same logical scene at two pixel scales, a +20-brightness copy
    // (no clipping: cell grays span 18..234), a different pattern, and
    // a text payload (hash-fallback path)
    val shifted = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(cellPng(53, 97, 8)))
      for (x <- 0 until img.getWidth; y <- 0 until img.getHeight)
        img.setRGB(x, y, img.getRGB(x, y) + 20 * 0x010101)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val df = Seq(
      (1L, cellPng(53, 97, 8)), (2L, cellPng(53, 97, 16)), (3L, shifted),
      (4L, cellPng(29, 41, 8)),
      (5L, "text payload".getBytes("UTF-8")),
      (6L, "text payload".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val embs = Multimodal.extractFeatures(df, "payload", dim = 64)
      .select(col("doc_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      a.lazyZip(b).map((x, y) => x.toDouble * y.toDouble).sum
    embs.values.foreach(v => assert(math.abs(cos(v, v) - 1.0) < 1e-5,
      "every embedding is unit-norm"))
    assert(cos(embs(1L), embs(2L)) > 0.98, "rescaled copy embeds nearby")
    assert(cos(embs(1L), embs(3L)) > 0.98,
      "mean-centering cancels the global brightness shift")
    assert(cos(embs(1L), embs(4L)) < 0.8, "different image embeds far")
    assert(embs(5L) == embs(6L),
      "byte-identical non-image payloads embed identically")
  }

  test("Dedup.hammingPairs over an arbitrary 64-bit signature column " +
      "matches brute-force Hamming — full-range longs included") {
    import spark.implicits._
    val sigs = Seq(
      1L -> 0x0123456789abcdefL, 2L -> 0x0123456789abcdecL, // dist 2
      3L -> 0xfedcba9876543210L, 4L -> 0xfedcba9876543217L, // dist 3
      5L -> -1L, 6L -> 0x7fffffffffffffffL, // dist 1 across the sign bit
      7L -> 0L)
    val got = graft.operators.Dedup.hammingPairs(
        sigs.toDF("id", "sig"), "id", "sig", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (i, si) <- sigs; (j, sj) <- sigs if i < j
      d = java.lang.Long.bitCount(si ^ sj) if d <= 3
    } yield (i, j, d)).toSet
    assert(got == want)
  }

  test("Multimodal: dHash — a rescaled copy lands within Hamming 3; " +
      "imageNearDupPairs finds exactly the planted image pair and the " +
      "byte-identical text pair") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val df = Seq(
      (1L, cellPng(53, 97, 8)), (2L, cellPng(53, 97, 16)),
      (3L, cellPng(29, 41, 8)),
      (4L, "same text".getBytes("UTF-8")),
      (5L, "same text".getBytes("UTF-8")),
      (6L, "other text".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.imageNearDupPairs(df, "doc_id", "payload",
        maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (4L, 5L)),
      "the rescaled image pair and the exact text dup — nothing else")
    val h = Multimodal.withImageDHash(df, "payload")
      .select(col("doc_id"), col("dhash")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(h(1L) ^ h(3L)) > 3,
      "different patterns fingerprint far apart")
    assert(h(4L) == h(5L) && h(4L) != h(6L))
  }

  test("multimodal sha/bytes match Spark's own sha2 over utf-8 bytes") {
    import graft.multimodal.Multimodal
    val docs = graft.core.Graft.table(spark, sfDir, "documents").limit(50)
    val bad = Multimodal.attachPayload(docs, "text")
      .filter(col("sha") =!= sha2(encode(col("text"), "UTF-8"), 256) ||
        col("n_bytes") =!= octet_length(encode(col("text"), "UTF-8")))
      .count()
    assert(bad == 0)
  }

  test("Multimodal resize: fixed-size output buffers, pure function of " +
      "(payload, target), single MapPartitions plan node") {
    import graft.multimodal.Multimodal
    val docs = graft.core.Graft.table(spark, sfDir, "documents").limit(100)
    val resized = Multimodal.resizePayloads(
      Multimodal.attachPayload(docs, "text"), "payload", 32, 24)
    val p = resized.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!p.contains("Scan ExistingRDD"), p)
    val rows = resized.select(col("n_bytes"), col("resized"),
      col("resized_bytes")).collect()
    assert(rows.length == 100)
    rows.foreach { r =>
      val expected = if (r.getInt(0) == 0) 0 else 32 * 24 * 3
      assert(r.getInt(2) == expected)
      assert(r.getAs[Array[Byte]](1).length == expected)
    }
    // determinism: same input → byte-identical output
    val again = Multimodal.resizePayloads(
        Multimodal.attachPayload(docs, "text"), "payload", 32, 24)
      .select(col("doc_id"), md5(col("resized"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = resized.select(col("doc_id"), md5(col("resized"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == first)
  }

  test("Multimodal sampleFrames: every-nth fixed-size frames with correct " +
      "indices, timestamps, and byte content; composes with attachPayload") {
    import graft.multimodal.Multimodal
    val docs = graft.core.Graft.table(spark, sfDir, "documents").limit(40)
    val frames = Multimodal.sampleFrames(
      Multimodal.attachPayload(docs, "text"), "payload",
      frameBytes = 64, everyNth = 2)
    val byDoc = frames.select(col("doc_id"), col("n_bytes"),
        col("frame_idx"), col("frame_ms"), col("frame")).collect()
      .groupBy(_.getLong(0))
    val payloads = Multimodal.attachPayload(docs, "text")
      .select(col("doc_id"), col("payload")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (docId, rows) =>
      val bytes = payloads(docId)
      val nFrames = (bytes.length + 63) / 64
      val expectedIdx = (0 until nFrames by 2).toSeq
      assert(rows.map(_.getInt(2)).toSeq.sorted == expectedIdx, s"doc $docId")
      rows.foreach { r =>
        val f = r.getInt(2)
        assert(r.getInt(3) == f * 40) // frame_ms
        val expected = bytes.slice(f * 64, math.min((f + 1) * 64, bytes.length))
        assert(r.getAs[Array[Byte]](4).sameElements(expected),
          s"doc $docId frame $f bytes")
      }
    }
  }

  /** The cellPng pattern as a raw frame image (see [[cellPng]]). */
  private def cellFrame(a: Int, b: Int): java.awt.image.BufferedImage = {
    val cell = 8
    val img = new java.awt.image.BufferedImage(9 * cell, 8 * cell,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 9 * cell; y <- 0 until 8 * cell) {
      val v = ((x / cell * a + y / cell * b) % 7) * 36 + 18
      img.setRGB(x, y, v * 0x010101)
    }
    img
  }

  /** In-memory animated GIF via the stock JDK writer, every frame
    * carrying `delayCs` centiseconds in its GraphicControlExtension.
    */
  private def animatedGif(frames: Seq[java.awt.image.BufferedImage],
      delayCs: Int): Array[Byte] = {
    import javax.imageio.metadata.IIOMetadataNode
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val params = writer.getDefaultWriteParam
    val md = writer.getDefaultImageMetadata(
      javax.imageio.ImageTypeSpecifier
        .createFromRenderedImage(frames.head), params)
    val fmt = md.getNativeMetadataFormatName
    val root = md.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
    val gce = new IIOMetadataNode("GraphicControlExtension")
    gce.setAttribute("disposalMethod", "none")
    gce.setAttribute("userInputFlag", "FALSE")
    gce.setAttribute("transparentColorFlag", "FALSE")
    gce.setAttribute("delayTime", delayCs.toString)
    gce.setAttribute("transparentColorIndex", "0")
    root.appendChild(gce)
    md.setFromTree(fmt, root)
    writer.prepareWriteSequence(null)
    frames.foreach(f => writer.writeToSequence(
      new javax.imageio.IIOImage(f, null, md), params))
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  test("sampleFrames decodes REAL frames from an animated GIF — known " +
      "frame count, container-delay timestamps, per-frame dHashes — " +
      "while non-media payloads keep the deterministic slicing fallback") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // frame 3 repeats frame 0's pattern: its decoded pixels (and so its
    // dHash) must collide; frames 1/2 are distinct patterns
    val gif = animatedGif(Seq(cellFrame(53, 97), cellFrame(29, 41),
      cellFrame(17, 71), cellFrame(53, 97)), delayCs = 25)
    val df = Seq((1L, gif)).toDF("doc_id", "payload")

    val frames = Multimodal.sampleFrames(df, "payload", frameBytes = 64,
      everyNth = 1)
    val rows = frames.select(col("frame_idx"), col("frame_ms"),
      col("frame")).collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 250, 500, 750),
      "frame_ms must come from the container's 25cs delays")
    // every emitted frame is a standalone decodable image at the
    // source dimensions — the contract the downstream real-pixel
    // kernels rely on
    rows.foreach { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      assert(img != null && img.getWidth == 72 && img.getHeight == 64)
    }
    // composing the perceptual verb on the frames sees real pixels:
    // the repeated pattern collides, distinct patterns do not
    val hashes = Multimodal.withImageDHash(frames, "frame")
      .select(col("frame_idx"), col("dhash")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hashes(0) == hashes(3), "repeated frame must dHash-collide")
    assert(Set(hashes(0), hashes(1), hashes(2)).size == 3,
      "distinct frames must dHash apart")

    // every-nth sampling applies to real frames too
    assert(Multimodal.sampleFrames(df, "payload", frameBytes = 64,
        everyNth = 2).select(col("frame_idx")).collect()
      .map(_.getInt(0)).toSet == Set(0, 2))

    // a still image is a one-frame container
    val png = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(cellFrame(29, 41), "png", bos)
      bos.toByteArray
    }
    val still = Multimodal.sampleFrames(
      Seq((2L, png)).toDF("doc_id", "payload"), "payload",
      frameBytes = 64, everyNth = 1).collect()
    assert(still.length == 1)

    // undecodable payloads keep the byte-slicing fallback exactly
    val text = Multimodal.sampleFrames(
      Seq((3L, "0123456789".getBytes("UTF-8")))
        .toDF("doc_id", "payload"),
      "payload", frameBytes = 4, everyNth = 1)
      .select(col("frame_idx"), col("frame_ms"), col("frame")).collect()
      .sortBy(_.getInt(0))
    assert(text.length == 3)
    assert(text.map(_.getInt(1)).toSeq == Seq(0, 40, 80))
    assert(new String(text(2).getAs[Array[Byte]](2), "UTF-8") == "89")
  }

  test("sampleFrames decodes REAL MJPEG-AVI video frames — frame " +
      "count, dwMicroSecPerFrame timestamps, true dimensions, pixel " +
      "content — and an AVI carrying a codec the JDK lacks degrades " +
      "to the slicing fallback") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    // 3 frames: 0 and 2 repeat the same solid color, 1 differs
    def solid(r: Int, g: Int, b: Int) = {
      val img = new java.awt.image.BufferedImage(48, 32,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val gg = img.createGraphics()
      try { gg.setColor(new java.awt.Color(r, g, b))
            gg.fillRect(0, 0, 48, 32) } finally gg.dispose()
      img
    }
    val avi = Multimodal.aviMjpegBytes(
      Seq(solid(200, 30, 30), solid(30, 30, 200), solid(200, 30, 30)),
      usPerFrame = 33000L)
    val df = Seq((1L, avi)).toDF("doc_id", "payload")
    val frames = Multimodal.sampleFrames(df, "payload", frameBytes = 64,
      everyNth = 1)
    val rows = frames.select(col("frame_idx"), col("frame_ms"),
      col("frame")).collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 33, 66),
      "frame_ms must come from avih dwMicroSecPerFrame")
    // frames decode at true dimensions with the written colors (JPEG
    // is lossy but a solid color survives within a wide tolerance)
    val px = rows.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
      assert(img != null && img.getWidth == 48 && img.getHeight == 32)
      img.getRGB(24, 16)
    }
    def rgb(p: Int) = ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
    assert(math.abs(rgb(px(0))._1 - 200) < 32 &&
      rgb(px(0))._3 < 96, s"frame 0 not red-ish: ${rgb(px(0))}")
    assert(rgb(px(1))._3 > 128 && rgb(px(1))._1 < 96,
      s"frame 1 not blue-ish: ${rgb(px(1))}")
    assert(px(0) == px(2), "identical source frames must decode equal")
    // every-nth sampling applies
    assert(Multimodal.sampleFrames(df, "payload", frameBytes = 64,
        everyNth = 2).select(col("frame_idx")).collect()
      .map(_.getInt(0)).toSet == Set(0, 2))
    // an AVI whose chunks are NOT JPEG (an unsupported codec) is not
    // half-decoded: it takes the deterministic byte-slice fallback
    val fake = avi.clone()
    // corrupt every frame chunk's JPEG magic in place
    var i = 0
    var corrupted = 0
    while (i + 4 < fake.length) {
      if (fake(i) == '0' && fake(i + 1) == '0' && fake(i + 2) == 'd' &&
          fake(i + 3) == 'c') { fake(i + 8) = 0x00; corrupted += 1 }
      i += 1
    }
    assert(corrupted == 3)
    val fb = Multimodal.sampleFrames(
      Seq((2L, fake)).toDF("doc_id", "payload"), "payload",
      frameBytes = 1024, everyNth = 1)
      .select(col("frame_ms")).collect().map(_.getInt(0))
    assert(fb.length == (fake.length + 1023) / 1024,
      "unsupported codec must slice, not error")
    // a hostile size field (0xFFFFFFF8 → negative after toInt) must
    // not spin the RIFF walk: malformed AVIs take the fallback
    val hostile = avi.clone()
    hostile(16) = 0xf8.toByte; hostile(17) = 0xff.toByte
    hostile(18) = 0xff.toByte; hostile(19) = 0xff.toByte
    val hb = Multimodal.sampleFrames(
      Seq((3L, hostile)).toDF("doc_id", "payload"), "payload",
      frameBytes = 1024, everyNth = 1).count()
    assert(hb == (hostile.length + 1023) / 1024)
  }

  test("AVI movi walk honors the everyNth stride DURING chunk " +
      "collection: a 1-in-3 sample copies exactly ceil(n/3) chunks, " +
      "never all of them") {
    import graft.multimodal.Multimodal
    def solid(v: Int) = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val gg = img.createGraphics()
      try { gg.setColor(new java.awt.Color(v, v, v))
            gg.fillRect(0, 0, 16, 16) } finally gg.dispose()
      img
    }
    val avi = Multimodal.aviMjpegBytes(
      (0 until 7).map(i => solid(i * 30)), usPerFrame = 40000L)
    // every element of the returned seq is exactly one copyOfRange —
    // its size IS the number of chunk copies the walk made
    val Some((us, sampled)) = Multimodal.aviSampledChunks(avi, 3)
    assert(us == 40000L)
    assert(sampled.map(_._1) == IndexedSeq(0, 3, 6),
      "sampled original indices must follow the stride")
    assert(sampled.size == 3, s"7 frames at stride 3 copied " +
      s"${sampled.size} chunks — non-sampled chunks were materialized")
    // stride 1 still copies every chunk, and each is a real JPEG
    val Some((_, all)) = Multimodal.aviSampledChunks(avi, 1)
    assert(all.size == 7 && all.forall { case (_, b) =>
      (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8 // JPEG SOI
    })
  }

  test("multimodal frame-dedup pipeline: sampleFrames → extractFeatures " +
      "→ banded LSH finds exactly the byte-identical frames") {
    import graft.multimodal.Multimodal
    import graft.operators.SimilaritySearch
    // duplicate documents (the seeded near-front-dups share full text on
    // some rows) guarantee byte-identical frames across doc boundaries;
    // identical frames embed identically → cosine exactly 1
    val docs = graft.core.Graft.table(spark, sfDir, "documents").limit(120)
    val frames = Multimodal.sampleFrames(
        Multimodal.attachPayload(docs, "text"), "payload",
        frameBytes = 48, everyNth = 1)
      .withColumn("frame_id",
        col("doc_id") * 1000 + col("frame_idx"))
    val embedded = Multimodal.extractFeatures(frames, "frame", dim = 32)
    // ground truth: frames with identical bytes (md5-grouped)
    val dupPairs = frames.select(col("frame_id"), md5(col("frame")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).values.filter(_.length > 1)
      .flatMap { g =>
        val ids = g.map(_._1).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length)
          yield (ids(i), ids(j))
      }.toSet
    assert(dupPairs.nonEmpty, "corpus slice should contain duplicate frames")
    val found = SimilaritySearch.cosineNearDupPairsLSH(embedded,
        "frame_id", "embedding", threshold = 0.999999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical bytes → identical embeddings → every band collides →
    // recall is exactly 1 at threshold ~1; and the stub's hash spreads
    // non-identical frames far from cos 1, so no false positives
    assert(found == dupPairs,
      s"found ${found.size} vs truth ${dupPairs.size}")
  }

  test("ConnectedComponents: known graph fixpoint + union-find agreement " +
      "on the real x3 pairs") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // path 1-2-3, pair 5-6, triangle 10-11-12 (+ chord), singleton edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id1", "id2")
    val got = ConnectedComponents.clusters(pairs, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))

    // real pair graph: agree with a driver-side union-find
    val real = graft.operators.Dedup.jaccardShinglePairs(
      graft.core.Graft.table(spark, sfDir, "documents"), "doc_id", "text",
      k = 3, threshold = 0.6)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(real.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    real.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val gotReal = graft.queries.Extensions.x20DedupClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotReal == expected)
  }

  test("incrementalClusters: bridge-merges, delta-only clusters, and " +
      "first-pair corpus docs — equals a full re-cluster of the " +
      "merged pair set, hand-built and on the real corpora") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // prior state: clusters {1,2}, {5,6}; corpus doc 30 unpaired so far
    val prior = ConnectedComponents.clusters(
      Seq((1L, 2L), (5L, 6L)).toDF("id1", "id2"), "id1", "id2")
    // delta: doc 10 BRIDGES the two prior clusters; (11,12) is a
    // delta-only pair; doc 13 pairs previously-unpaired corpus doc 30
    val deltaPairs = Seq((2L, 10L), (5L, 10L), (11L, 12L), (13L, 30L))
      .toDF("id1", "id2")
    val got = ConnectedComponents
      .incrementalClusters(prior, deltaPairs, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 10L -> 1L, // bridged
      11L -> 11L, 12L -> 11L,                            // delta-only
      13L -> 13L, 30L -> 13L))                           // first pair

    // real corpora: the x68 entry must equal a full re-cluster of the
    // merged pair set (which is exactly what its DuckDB oracle states)
    val full = graft.queries.Extensions.x20DedupClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incr = graft.queries.Extensions
      .x68IncrementalClusters(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incr == full)
    assert(incr.nonEmpty)
  }

  test("star contraction equals min-label clusters on the known graph " +
      "and the real x3 pairs") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id1", "id2")
    val got = ConnectedComponents.clustersStarContraction(pairs, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))

    // the two engine paths must agree row-for-row on a real pair graph
    val real = graft.operators.Dedup.jaccardShinglePairs(
      graft.core.Graft.table(spark, sfDir, "documents"), "doc_id", "text",
      k = 3, threshold = 0.6)
    val viaLabels = ConnectedComponents.clusters(real, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStars = ConnectedComponents
      .clustersStarContraction(real, "id1", "id2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars.nonEmpty && viaStars == viaLabels)

    // empty pair list: empty labels, no iteration
    val none = pairs.filter(lit(false))
    assert(ConnectedComponents.clustersStarContraction(none, "id1", "id2")
      .count() == 0L)
  }

  test("star contraction closes a diameter-600 path within its " +
      "logarithmic round budget") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // a 601-node chain: min-label propagation would need ~600 rounds
    // (it moves the min one hop per round); alternating star contraction
    // must close it in O(log n) — the budget below is the assertion
    val path = (0L until 600L).map(i => (i, i + 1)).toDF("id1", "id2")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val labels = ConnectedComponents
      .clustersStarContraction(path, "id1", "id2", maxRounds = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 601)
    assert(labels.forall(_._2 == 0L), "every node must label to the chain min")
    // each round's edge snapshot must be RELEASED, not accumulated —
    // Dataset.unpersist is a no-op on checkpointed frames, so the loop
    // unpersists the underlying RDDs; only the final edge set (backing
    // the returned frame) may remain
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter <= persistedBefore + 2,
      s"checkpointed edge snapshots leaked: $persistedBefore -> " +
        s"$persistedAfter persistent RDDs")
  }

  test("seed distances: BFS semantics on a known graph, maxHops horizon, " +
      "off-graph seeds, and agreement with a driver BFS on real pairs") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // chain 1-2-3-4-5 plus a disconnected 10-11 component; seed 20 is
    // not in the graph at all
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("id1", "id2")
    val seeds = Seq(1L, 20L).toDF("doc_id")
    def run(maxHops: Int): Map[Long, Int] = ConnectedComponents
      .seedDistances(pairs, "id1", "id2", seeds, "doc_id", maxHops)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // full horizon: chain distances from 1; off-graph seed reports 0;
    // the unreachable 10-11 component is absent
    assert(run(16) == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3, 5L -> 4,
      20L -> 0))
    // the horizon truncates, it does not re-route
    assert(run(2) == Map(1L -> 0, 2L -> 1, 3L -> 2, 20L -> 0))
    // maxHops = 0: the seed set itself, nothing else
    assert(run(0) == Map(1L -> 0, 20L -> 0))

    // real x3 pair graph: agree with a driver-side BFS from the same
    // seeds, and find at least one node strictly past the seed ring
    val realPairs = graft.operators.Dedup.jaccardShinglePairs(
      graft.core.Graft.table(spark, sfDir, "documents"), "doc_id", "text",
      k = 3, threshold = 0.6)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (realPairs ++ realPairs.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val seedIds = graft.core.Graft.table(spark, sfDir, "documents")
      .filter(col("doc_id") < 100).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    val expected = scala.collection.mutable.Map.empty[Long, Int]
    var frontier = seedIds
    frontier.foreach(expected(_) = 0)
    var hop = 0
    while (frontier.nonEmpty && hop < 8) {
      hop += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Set.empty[Long]))
        .filterNot(expected.contains)
      frontier.foreach(expected(_) = hop)
    }
    val got = graft.queries.Extensions.x67SeedDistance(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected.toMap)
    assert(got.values.exists(_ > 0),
      "test corpus should propagate past the seed ring")
  }

  test("seed distances store each hop's frontier exactly once — no " +
      "per-hop union re-materialization") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("id1", "id2")
    val seeds = Seq(0L).toDF("id")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val out = ConnectedComponents
      .seedDistances(pairs, "id1", "id2", seeds, "id", maxHops = 32)
      .collect()
    assert(out.length == 33) // seed + 32 hops down the chain
    // the result unions the per-hop truncated frames (one per hop +
    // the seed frame): each row is STORED once — the previous form
    // additionally re-checkpointed the whole union every hop (O(V)
    // extra bytes written per hop). Bound: one snapshot per hop, not
    // O(hops) superseded union copies.
    val persistedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(persistedAfter <= persistedBefore + 34,
      s"more than one snapshot per hop leaked: $persistedBefore -> " +
        s"$persistedAfter persistent RDDs")
  }

  test("Repetition stats: planted repetitive docs flagged, diverse doc " +
      "not, empty doc all-zero and unflagged") {
    import spark.implicits._
    import graft.operators.Repetition
    val docsDf = Seq(
      // top token "spam" is 5/8 > 20% → flagged via the token rule
      (1L, "spam spam spam spam spam one two three"),
      // all tokens distinct, all 2-grams distinct → clean
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      // repeated 6-word phrase: top token 2/12 ≈ 16.7% ≤ 20% (token rule
      // silent) but the repeat duplicates every phrase-internal 2-gram →
      // only the 2-gram rule fires
      (3L, "one two three four five six one two three four five six"),
      (4L, "")).toDF("doc_id", "text")
    val got = Repetition.repetitionStats(docsDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap

    assert(got(1L).getBoolean(7), "token-dominated doc must be flagged")
    assert(!got(2L).getBoolean(7), "all-distinct doc must be clean")
    // doc 3: 12 tokens, top token n=2 (2*5=10 ≤ 12 → token rule silent);
    // 11 2-grams, 6 distinct ("six one" once, the 5 phrase-internal
    // 2-grams twice) → dup = 5, 5*10 > 11*3 → flagged by the 2-gram rule
    val r3 = got(3L)
    assert(r3.getLong(1) == 12L && r3.getLong(3) == 2L)
    assert(r3.getLong(4) == 11L && r3.getLong(5) == 6L)
    assert(r3.getBoolean(7), "phrase-repeated doc must be flagged")
    // empty doc: all-zero counts, not flagged
    val r4 = got(4L)
    (1 to 6).foreach(i => assert(r4.getLong(i) == 0L, s"col $i zero"))
    assert(!r4.getBoolean(7))
  }

  test("Packing: contiguous per-stratum offsets and correct cut straddling") {
    import spark.implicits._
    import graft.operators.Packing
    val fixture = Seq(
      ("s1", 1L, "one two three"), //  3 tokens → [0,3)
      ("s1", 2L, "four five six seven"), // 4 → [3,7), crosses the 5-cut
      ("s1", 3L, ""), //                    0 → sits at offset 7, seq 1
      ("s1", 4L, "eight nine"), //          2 → [7,9)
      ("s2", 9L, "a b c d e f") //          fresh stratum, [0,6) crosses
    ).toDF("lang", "doc_id", "text")
    val got = Packing.packSequences(fixture, "doc_id", "text", "lang",
        seqLen = 5)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))
      .toMap
    assert(got(("s1", 1L)) == ((3L, 0L, 0L, 0L, false)))
    assert(got(("s1", 2L)) == ((4L, 3L, 0L, 1L, true)))
    assert(got(("s1", 3L)) == ((0L, 7L, 1L, 1L, false)))
    assert(got(("s1", 4L)) == ((2L, 7L, 1L, 1L, false)))
    assert(got(("s2", 9L)) == ((6L, 0L, 0L, 1L, true)))

    // real corpus: within each language the packed stream has no gaps —
    // every begin_offset equals the previous document's end
    val real = graft.queries.Extensions.x39PackSequences(spark, sfDir)
      .collect().groupBy(_.getString(0))
    assert(real.nonEmpty)
    real.foreach { case (_, rows) =>
      rows.sortBy(_.getLong(1)).foldLeft(0L) { (expectBegin, r) =>
        assert(r.getLong(3) == expectBegin,
          s"gap at doc ${r.getLong(1)}: ${r.getLong(3)} != $expectBegin")
        expectBegin + r.getLong(2)
      }
    }
  }

  test("Chunking CDC segments: boundaries are content-local, so a " +
      "shifted duplicate still collapses where fixed windows cannot") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(400)(s"tk${rnd.nextInt(50)}").mkString(" ")
    val df = Seq(
      (1L, base),
      (2L, "inserted " + base) // one-token shift of the whole doc
    ).toDF("doc_id", "text")

    // fixed windows: the shift misaligns EVERY segment — nothing dedups
    val fixed = graft.operators.Chunking
      .dedupSegments(df, "doc_id", "text", width = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val fixedSegs2 = graft.operators.Chunking
      .tokenWindows(df.filter($"doc_id" === 2), "doc_id", "text", 12, 12)
      .count()
    assert(fixed(2L) == fixedSegs2) // doc 2 keeps all its segments

    // content-defined: boundaries re-align after the insertion — the
    // overwhelming majority of doc 2's segments are exact duplicates
    val cdc = graft.operators.Chunking
      .dedupSegmentsCdc(df, "doc_id", "text", window = 4, avgLen = 12)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val (n2, kept2) = cdc(2L)
    assert(n2 > 10, s"expected many segments, got $n2")
    // the insertion perturbs segmentation only near the front: all but
    // a handful of segments re-align and dedup (fixed windows kept ALL)
    assert(kept2 <= 4 && kept2 * 4 < n2,
      s"shifted dup should collapse, kept $kept2 of $n2")
    // doc 1 (first occurrence) keeps everything
    assert(cdc(1L)._1 == cdc(1L)._2)

    // reconstruction invariant: concatenated segments == the token
    // stream, for every doc
    val segs = graft.operators.Chunking
      .contentDefinedSegments(df, "doc_id", "text", 4, 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
      .groupBy(_._1)
    df.collect().foreach { row =>
      val id = row.getLong(0)
      val toks = row.getString(1).split("\\s+").filter(_.nonEmpty).toSeq
      val rebuilt = segs(id).sortBy(_._2).flatMap(_._3.split(" ")).toSeq
      assert(rebuilt == toks, s"doc $id")
    }
  }

  test("Sampling.weightedSample: partitioning-independent, length-biased, " +
      "weight-zero rows excluded, exactly k winners") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 2000).map { i =>
      // weights span two orders of magnitude; a few zero-weight rows
      val w = if (i % 97 == 0) 0L else (1 + rnd.nextInt(100)).toLong
      (i.toLong, w)
    }.toDF("id", "w")

    val out = graft.operators.Sampling.weightedSample(df, "id", "w", 200)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length == 200)
    assert(out.forall(_._2 > 0)) // zero-weight rows never win

    // pure function of the data
    val re = graft.operators.Sampling
      .weightedSample(df.repartition(17, col("id")), "id", "w", 200)
      .collect().map(_.getLong(0)).toSet
    assert(re == out.map(_._1).toSet)

    // inclusion ∝ weight: the sample's mean weight must sit clearly
    // above the population's (2000 draws, weights 1..100)
    val popMean = df.filter($"w" > 0).agg(avg($"w")).head().getDouble(0)
    val sampleMean = out.map(_._2).sum.toDouble / out.length
    assert(sampleMean > popMean * 1.15, s"$sampleMean vs $popMean")
  }

  test("Masking.maskTokens: pure function of (id, position), rate near " +
      "nominal, masked_text consistent with n_masked") {
    import spark.implicits._
    val df = (1 to 200).map(i =>
      (i.toLong, (1 to 50).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.operators.Masking
      .maskTokens(df, "doc_id", "text", rateNum = 3, rateDen = 20)
      .select("doc_id", "n_tokens", "n_masked", "masked_text")
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

    // every doc has 50 tokens; the masked count matches the text
    rows.foreach { case (_, n, m, text) =>
      assert(n == 50L)
      assert(text.split(" ").count(_ == "<MASK>") == m)
      assert(text.split(" ").length == 50)
    }
    // 10k Bernoulli(0.15) trials: overall rate within ±0.02
    val rate = rows.map(_._3).sum.toDouble / rows.map(_._2).sum
    assert(rate > 0.13 && rate < 0.17, rate)

    // repartitioning changes nothing (mask is a function of the data)
    val re = graft.operators.Masking
      .maskTokens(df.repartition(13, col("doc_id")), "doc_id", "text",
        rateNum = 3, rateDen = 20)
      .select("doc_id", "masked_text").as[(Long, String)].collect().toMap
    rows.foreach { case (id, _, _, text) => assert(re(id) == text) }

    // token position matters: the same token string at different
    // positions can differ in mask outcome (not a vocabulary mask)
    val uni = graft.operators.Masking
      .maskTokens(Seq((7L, Seq.fill(60)("same").mkString(" ")))
        .toDF("doc_id", "text"), "doc_id", "text", 3, 20)
      .select("masked_text").as[String].head()
    val kinds = uni.split(" ").distinct.sorted.toSeq
    assert(kinds == Seq("<MASK>", "same"), kinds)

    // rate 1 masks EVERYTHING (the 16^8 threshold is nine hex digits —
    // the naive prefix compare would mask only ~6%)
    val all = graft.operators.Masking
      .maskTokens(df.limit(5), "doc_id", "text", rateNum = 1, rateDen = 1)
      .select("n_tokens", "n_masked")
      .collect()
    all.foreach(r => assert(r.getLong(0) == r.getLong(1), r))
  }

  test("Masking.fimTransform: transformed docs reassemble exactly, " +
      "middles never empty, short docs never transform, rate gates " +
      "hold at 0 and 1, partitioning-independent") {
    import spark.implicits._
    import graft.operators.Masking
    val df = ((1 to 300).map(i => (i.toLong, s"document $i body " +
        ("x" * (i % 40)))) ++ Seq((9001L, ""), (9002L, "a")))
      .toDF("doc_id", "text")
    val out = Masking.fimTransform(df, "doc_id", "text", 1, 2)
      .select("doc_id", "text", "fim", "prefix", "middle", "suffix")
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getBoolean(2), r.getString(3),
          r.getString(4), r.getString(5)))
      .toMap
    out.values.foreach { case (text, fim, p, m, sfx) =>
      if (fim) {
        assert(p + m + sfx == text, "reassembly must be exact")
        assert(m.nonEmpty, "FIM middles are never empty")
      } else assert(p == text && m.isEmpty && sfx.isEmpty)
    }
    // docs too short to split never transform
    assert(!out(9001L)._2 && !out(9002L)._2)
    // the 1/2 gate lands near half on 300 trials
    val nFim = out.values.count(_._2)
    assert(nFim > 110 && nFim < 190, s"$nFim of 300 at rate 1/2")
    // rate edges: 0 transforms nothing, 1 transforms every n>=2 doc
    assert(Masking.fimTransform(df, "doc_id", "text", 0, 1)
      .filter(col("fim")).count() == 0)
    assert(Masking.fimTransform(df, "doc_id", "text", 1, 1)
      .filter(!col("fim")).count() == 2) // only the two short docs
    // pure function of the data: repartitioning changes nothing
    val re = Masking.fimTransform(df.repartition(11, col("doc_id")),
        "doc_id", "text", 1, 2)
      .select("doc_id", "prefix", "middle", "suffix").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getString(3))).toMap
    out.foreach { case (id, (_, _, p, m, sfx)) =>
      assert(re(id) == ((p, m, sfx)))
    }
  }

  test("Masking.fimTransform: 32-bit cut slices cover the tail of " +
      "long documents — middles start past 64Ki chars (impossible " +
      "under 16-bit slices), reassembly stays exact") {
    import spark.implicits._
    import graft.operators.Masking
    // 20 docs of 200k chars; under 16-bit arithmetic every middle
    // start was h % n confined to 0..65535
    val df = (1 to 20).map(i => (i.toLong, "y" * 200000))
      .toDF("doc_id", "text")
    val out = Masking.fimTransform(df, "doc_id", "text", 1, 1)
      .select("fim", "prefix", "middle", "suffix").collect()
    assert(out.forall(_.getBoolean(0)))
    out.foreach { r =>
      assert(r.getString(1).length + r.getString(2).length +
        r.getString(3).length == 200000, "reassembly must be exact")
      assert(r.getString(2).nonEmpty)
    }
    // md5 is fixed: for these 20 ids at n=200000, some middle starts
    // beyond 65536 (deterministically; P≈1e-10 were slices uniform
    // 16-bit-capped)
    assert(out.exists(_.getString(1).length > 65536),
      "no middle ever started past 64Ki — cut slices still 16-bit?")
  }

  test("Mixing.capPerStratum: rate-1 strata untouched, capped strata " +
      "near the cap, selection partitioning-independent and nested") {
    import spark.implicits._
    val df = ((1 to 1000).map(i => (i.toLong, "big")) ++
      (1001 to 1050).map(i => (i.toLong, "small")))
      .toDF("id", "grp")

    val out = graft.operators.Mixing.capPerStratum(df, "grp", "id", 200L)
    val byGrp = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // below-cap stratum keeps every row
    assert(byGrp("small") == 50L)
    // capped stratum: binomial around 200 at rate 0.2 over 1000 rows
    assert(byGrp("big") > 120L && byGrp("big") < 280L, byGrp)

    // pure function of the data: repartitioning changes nothing
    val re = graft.operators.Mixing
      .capPerStratum(df.repartition(7, col("id")), "grp", "id", 200L)
      .select("id").as[Long].collect().sorted
    assert(re.toSeq == out.select("id").as[Long].collect().sorted.toSeq)

    // nested: the cap-100 sample is a subset of the cap-200 sample
    val small = graft.operators.Mixing.capPerStratum(df, "grp", "id", 100L)
      .select("id").as[Long].collect().toSet
    assert(small.subsetOf(out.select("id").as[Long].collect().toSet))

    // empty-cap edge: cap 0 keeps nothing
    assert(graft.operators.Mixing.capPerStratum(df, "grp", "id", 0L)
      .isEmpty)
  }

  test("Mixing.temperatureSample: α=0.5 apportionment exact on closed-" +
      "form counts, remainder to the largest fraction, α edges 0/1, " +
      "clamped strata report their shortfall, partitioning-independent") {
    import spark.implicits._
    // counts 400/100/25 → sqrt weights 20000/10000/5000, W = 35000
    val df = ((1 to 400).map(i => (i.toLong, "a")) ++
      (401 to 500).map(i => (i.toLong, "b")) ++
      (501 to 525).map(i => (i.toLong, "c"))).toDF("id", "grp")
    def counts(out: org.apache.spark.sql.DataFrame) =
      out.groupBy("grp").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap

    // budget 70 divides exactly: 40/20/10
    val t70 = graft.operators.Mixing.temperatureSample(df, "grp", "id", 70L)
    assert(counts(t70) == Map("a" -> 40L, "b" -> 20L, "c" -> 10L))
    // budget 71: remainders 20000/10000/5000 — the single leftover
    // seat goes to 'a'
    assert(counts(graft.operators.Mixing
      .temperatureSample(df, "grp", "id", 71L)) ==
      Map("a" -> 41L, "b" -> 20L, "c" -> 10L))
    // α = 0 is uniform over strata; α = 1 is the natural distribution
    assert(counts(graft.operators.Mixing
      .temperatureSample(df, "grp", "id", 30L, alpha = 0.0)) ==
      Map("a" -> 10L, "b" -> 10L, "c" -> 10L))
    assert(counts(graft.operators.Mixing
      .temperatureSample(df, "grp", "id", 21L, alpha = 1.0)) ==
      Map("a" -> 16L, "b" -> 4L, "c" -> 1L))
    // a stratum smaller than its share clamps to its size — the
    // shortfall is visible, never silently redistributed
    val tiny = ((1 to 900).map(i => (i.toLong, "big")) ++
      (901 to 904).map(i => (i.toLong, "tiny"))).toDF("id", "grp")
    val clamped = counts(graft.operators.Mixing
      .temperatureSample(tiny, "grp", "id", 100L, alpha = 0.0))
    assert(clamped == Map("big" -> 50L, "tiny" -> 4L))
    // pure function of the data: repartitioning changes nothing
    val ids = t70.select("id").as[Long].collect().sorted.toSeq
    val re = graft.operators.Mixing
      .temperatureSample(df.repartition(7, col("id")), "grp", "id", 70L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(re == ids)
    // budget 0 keeps nothing
    assert(graft.operators.Mixing
      .temperatureSample(df, "grp", "id", 0L).isEmpty)
  }

  test("Mixing.temperatureSampleApprox: kept counts in the binomial " +
      "band around the exact targets, at-target strata kept WHOLE, " +
      "subset of input, partitioning-independent, budget 0 empty") {
    import spark.implicits._
    // planted mega-stratum beside a mid and a tiny one
    val df = ((1 to 10000).map(i => (i.toLong, "mega")) ++
      (10001 to 10400).map(i => (i.toLong, "b")) ++
      (10401 to 10404).map(i => (i.toLong, "tiny"))).toDF("id", "grp")
    def counts(out: org.apache.spark.sql.DataFrame) =
      out.groupBy("grp").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // α=0.5 weights 100000/20000/2000, W=122000, budget 300 →
    // largest-remainder targets 246/49/4 (tiny clamps at its size)
    val a = graft.operators.Mixing
      .temperatureSampleApprox(df, "grp", "id", 300L)
    val c = counts(a)
    assert(math.abs(c("mega") - 246L) <= 63, c.toString) // 4σ
    assert(math.abs(c("b") - 49L) <= 29, c.toString)     // 4σ + 1
    // tiny's target equals its size → rate-1 guard keeps all 4 exactly
    assert(c("tiny") == 4L, c.toString)
    // subset of the input, never invented rows
    val ids = a.select("id").as[Long].collect().toSet
    assert(ids.subsetOf((1L to 10404L).toSet))
    // pure function of the data
    val re = graft.operators.Mixing.temperatureSampleApprox(
      df.repartition(13, col("id")), "grp", "id", 300L)
      .select("id").as[Long].collect().toSet
    assert(re == ids)
    assert(graft.operators.Mixing
      .temperatureSampleApprox(df, "grp", "id", 0L).isEmpty)
  }

  test("null strata are strata: temperatureSample/Approx and " +
      "capPerStratum keep null-stratum rows as one group (null-safe " +
      "joins — the window semantics), and lengthGroupedBatches keeps " +
      "null-stratum and null-count rows (never silently dropped)") {
    import spark.implicits._
    val df = ((1 to 40).map(i => (i.toLong, "a")) ++
      (41 to 80).map(i => (i.toLong, null: String))).toDF("id", "grp")
    // exact: null group gets its own apportionment share
    val exact = graft.operators.Mixing
      .temperatureSample(df, "grp", "id", 20L, alpha = 0.0)
    val eByG = exact.groupBy("grp").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(eByG == Map(Some("a") -> 10L, None -> 10L), eByG.toString)
    // approx: null group sampled binomially, never dropped
    val approx = graft.operators.Mixing
      .temperatureSampleApprox(df, "grp", "id", 20L, alpha = 0.0)
    val aNull = approx.filter(col("grp").isNull).count()
    assert(aNull > 0 && aNull <= 40, s"approx kept $aNull null rows")
    // cap: null stratum capped like any other
    val capped = graft.operators.Mixing.capPerStratum(df, "grp", "id", 15L)
    assert(capped.filter(col("grp").isNull).count() > 0)
    assert(capped.filter(col("grp") === "a").count() > 0)
    // lengthGroupedBatches: null stratum AND null count (null text)
    // rows survive and batch exactly like the window reference did
    val docs = Seq((1L, "a", "x y z"), (2L, "a", null: String),
      (3L, null: String, "p q"), (4L, null: String, "r")).toDF(
      "doc_id", "grp", "text")
    val out = graft.operators.Packing.lengthGroupedBatches(
      docs, "doc_id", "text", "grp", batchSize = 2, merges = Nil)
    assert(out.count() == 4,
      s"rows vanished: ${out.collect().mkString(",")}")
    assert(out.filter(col("grp").isNull).count() == 2)
    assert(out.filter(col("n_tokens").isNull).count() == 1)
  }

  test("Selection.dsirWeights: equals a driver-side reference " +
      "computation term for term, target-like documents outscore " +
      "off-target ones, featureless docs excluded, " +
      "partitioning-independent") {
    import spark.implicits._
    val target = Seq((100L, "the quick fox jumps"),
      (101L, "the quick dog runs")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "the quick fox jumps"), // pure target phrasing
      (2L, "zzz qqq www vvv"),     // pure off-target
      (3L, "the quick fox jumps the quick fox jumps"), // dup bigrams
      (4L, "solo"),                // one token: no bigram features
      (5L, "")).toDF("doc_id", "text")
    val b = 64
    val got = graft.operators.Selection.dsirWeights(raw, target,
        "doc_id", "text", numBuckets = b)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

    // driver-side reference: same hash, same smoothing, same 1e-10
    // quantization — computed independently with plain Scala
    def bigrams(t: String): Seq[String] = {
      val tk = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (tk.length < 2) Seq.empty
      else tk.sliding(2).map(_.mkString(" ")).toSeq
    }
    def bucket(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8"))
      val hex16 = ((md(0) & 0xff) << 8) | (md(1) & 0xff)
      hex16.toLong * b / 65536
    }
    val rawDocs = Map(1L -> "the quick fox jumps", 2L -> "zzz qqq www vvv",
      3L -> "the quick fox jumps the quick fox jumps", 4L -> "solo",
      5L -> "")
    val tgtF = Seq("the quick fox jumps", "the quick dog runs")
      .flatMap(bigrams).map(bucket)
    val rawF = rawDocs.values.flatMap(bigrams).map(bucket).toSeq
    def cnt(fs: Seq[Long]) = fs.groupBy(identity).view.mapValues(_.size)
    val (ctM, crM, nt, nr) = (cnt(tgtF), cnt(rawF), tgtF.size, rawF.size)
    def q(c: Int, n: Int): Long =
      math.floor(math.log((c + 1).toDouble / (n + b).toDouble) * 1e10)
        .toLong
    val expected = rawDocs.collect {
      case (id, t) if bigrams(t).nonEmpty =>
        val fs = bigrams(t).map(bucket)
        id -> (fs.size.toLong, fs.map(f =>
          q(ctM.getOrElse(f, 0), nt) - q(crM.getOrElse(f, 0), nr)).sum)
    }
    assert(got == expected, s"got $got\nexpected $expected")
    assert(!got.contains(4L) && !got.contains(5L),
      "featureless docs must be excluded, not given fake scores")
    assert(got(1L)._2 > got(2L)._2,
      "target phrasing must outscore off-target text")
    assert(got(3L)._1 == 7L, "duplicate bigrams count per occurrence")
    // pure function of the data: repartitioning changes nothing
    val re = graft.operators.Selection.dsirWeights(
        raw.repartition(5, col("doc_id")),
        target.repartition(3, col("doc_id")), "doc_id", "text", b)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(re == got)
  }

  test("Mixing.epochsPerStratum: integer factors replicate exactly, " +
      "fractional factors gate ~frac of ids deterministically, zero " +
      "drops, copy_idx contiguous, map-side (no shuffle), " +
      "partitioning-independent") {
    import spark.implicits._
    val df = ((1 to 400).map(i => (i.toLong, "up")) ++
      (401 to 800).map(i => (i.toLong, "keep")) ++
      (801 to 1200).map(i => (i.toLong, "down")) ++
      (1201 to 1300).map(i => (i.toLong, "drop")))
      .toDF("id", "grp")
    val out = graft.operators.Mixing.epochsPerStratum(df, "grp", "id",
      Map("up" -> 2.5, "down" -> 0.25, "drop" -> 0.0))
    val rows = out.select(col("id"), col("grp"), col("copy_idx"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byGrp = rows.groupBy(_._2).view.mapValues(_.length).toMap
    // default-1 stratum: exactly its rows, copy_idx all 0
    assert(byGrp("keep") == 400)
    assert(rows.filter(_._2 == "keep").forall(_._3 == 0L))
    // 2.5x: every id twice plus ~half a third time
    val up = rows.filter(_._2 == "up")
    assert(up.count(_._3 == 0L) == 400 && up.count(_._3 == 1L) == 400)
    val thirds = up.count(_._3 == 2L)
    assert(thirds > 120 && thirds < 280, s"frac(2.5) gate: $thirds")
    // copy_idx per id is contiguous 0..copies-1
    up.groupBy(_._1).foreach { case (_, cs) =>
      assert(cs.map(_._3).sorted.toSeq == (0L until cs.length).toSeq)
    }
    // 0.25x: binomial around 100, single copies
    assert(byGrp("down") > 55 && byGrp("down") < 155, byGrp)
    assert(rows.filter(_._2 == "down").forall(_._3 == 0L))
    // 0x: gone
    assert(!byGrp.contains("drop"))
    // pure function of the data — repartitioning changes nothing
    val re = graft.operators.Mixing.epochsPerStratum(
      df.repartition(7, col("id")), "grp", "id",
      Map("up" -> 2.5, "down" -> 0.25, "drop" -> 0.0))
      .select(col("id"), col("copy_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(re.toSeq == rows.map(r => (r._1, r._3)).sorted.toSeq)
    // map-side: the replication plan has no exchange at all
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"epochs shuffled:\n$plan")
    // the broadcast-TABLE form (data-sized factor inventories) emits
    // the identical multiset through a broadcast join
    val ft = Seq(("up", 2.5), ("down", 0.25), ("drop", 0.0))
      .toDF("grp", "factor")
    val viaTable = graft.operators.Mixing.epochsPerStratumTable(
      df, "grp", "id", ft)
      .select(col("id"), col("copy_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(viaTable.toSeq == rows.map(r => (r._1, r._3)).sorted.toSeq,
      "table form diverged from the literal form")
    val tPlan = graft.operators.Mixing.epochsPerStratumTable(
      df, "grp", "id", ft).queryExecution.executedPlan.toString
    assert(tPlan.contains("BroadcastHashJoin"), tPlan)
    assert(!tPlan.contains("SortMergeJoin"), tPlan)
    // duplicate stratum rows in the factor table would silently fan
    // corpus rows out (each duplicate multiplies its stratum) — the
    // operator REJECTS them loudly instead
    val dup = Seq(("up", 2.5), ("up", 3.0), ("down", 0.25))
      .toDF("grp", "factor")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Mixing.epochsPerStratumTable(
        df, "grp", "id", dup).count()
    }
    assert(ex.getMessage.contains("duplicate"), ex.getMessage)
  }

  test("Chunking.tokenWindows: full coverage, overlap = width - stride, " +
      "short tail window, token-free docs dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only three tokens"),
      (3L, "  ")                                      // no tokens
    ).toDF("doc_id", "text")

    val out = graft.operators.Chunking
      .tokenWindows(df, "doc_id", "text", width = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(r => (r._1, r._2))

    // doc 1: starts 0,3,6,9 → windows of 4,4,4 and a 1-token tail
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2, 3))
    assert(d1.map(_._3).toSeq == Seq(4, 4, 4, 1))
    assert(d1(0)._4 == "t1 t2 t3 t4")
    assert(d1(1)._4 == "t4 t5 t6 t7") // 1-token overlap at stride 3
    assert(d1(3)._4 == "t10")
    // every token of doc 1 appears in at least one window
    val covered = d1.flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)

    // doc 2 fits one window; doc 3 yields nothing
    assert(out.filter(_._1 == 2L).map(_._4).toSeq == Seq("only three tokens"))
    assert(!out.exists(_._1 == 3L))
  }

  test("tokenWindowsBpe: windows are exact slices of the trained-merge " +
      "id stream, non-overlapping windows reassemble the document " +
      "byte-for-byte, token-free docs dropped") {
    import graft.operators.{Bpe, Chunking}
    val full = graft.functions.TextFunctions.bpeBytePatternFull
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull).limit(60)
    val merges = Bpe.trainBytes(docs, "text", 25, tokenPattern = full)
    assert(merges.nonEmpty)
    // (1) chunk ids ≡ sliding slices of the full per-doc id stream
    val fullIds = Bpe.encodeIdsBytes(docs, "doc_id", "text", merges,
        Bpe.vocabBytes(merges), full)
      .select(col("doc_id"), col("token_ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val win = Chunking.tokenWindowsBpe(docs, "doc_id", "text",
        width = 16, stride = 7, merges, tokenPattern = full)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getSeq[Long](3), r.getString(4))).toMap
    for (((id, i), (n, ids, _)) <- win) {
      val expect = fullIds(id).slice(i * 7, i * 7 + 16)
      assert(ids == expect, s"doc $id window $i")
      assert(n == expect.size.toLong)
    }
    // every full stream is covered: window count matches the formula
    for ((id, ids) <- fullIds if ids.nonEmpty)
      assert(win.keys.count(_._1 == id) == (ids.size - 1) / 7 + 1)
    // (2) stride = width partitions: decoded concat == original text
    val texts = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val parts = Chunking.tokenWindowsBpe(docs, "doc_id", "text",
        width = 16, stride = 16, merges, tokenPattern = full)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(4)))
      .groupBy(_._1)
    for ((id, rows) <- parts) {
      val joined = rows.sortBy(_._2).map(_._3).mkString
      assert(joined == texts(id),
        s"doc $id must reassemble from non-overlapping windows")
    }
    // (3) token-free docs yield nothing
    import spark.implicits._
    val empty = Chunking.tokenWindowsBpe(
      Seq((9L, "")).toDF("doc_id", "text"), "doc_id", "text",
      4, 4, merges, tokenPattern = full)
    assert(empty.isEmpty)
  }

  test("Chunking invariants on random docs: non-overlapping windows " +
      "partition the tokens exactly; overlapping windows cover every " +
      "position with the right token") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val docs = (1 to 60).map { i =>
      val n = rnd.nextInt(40) // includes 0-token docs
      (i.toLong, Seq.fill(n)(s"w${rnd.nextInt(9)}").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val tokens = docs.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toSeq
    }.toMap

    // stride == width: windows partition the token stream
    val part = graft.operators.Chunking
      .tokenWindows(df, "doc_id", "text", width = 7, stride = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
      .groupBy(_._1)
    tokens.foreach { case (id, tk) =>
      val rebuilt = part.getOrElse(id, Array.empty).sortBy(_._2)
        .flatMap(_._3.split(" ")).toSeq
      assert(rebuilt == tk, s"doc $id")
    }

    // stride < width: every position is covered by some window, and the
    // token found there is the original one
    val ov = graft.operators.Chunking
      .tokenWindows(df, "doc_id", "text", width = 7, stride = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(3)))
    val covered = ov.flatMap { case (id, idx, text) =>
      text.split(" ").zipWithIndex.map { case (w, o) => (id, idx * 5 + o, w) }
    }
    covered.foreach { case (id, pos, w) =>
      assert(tokens(id)(pos) == w, s"doc $id pos $pos")
    }
    tokens.filter(_._2.nonEmpty).foreach { case (id, tk) =>
      val pos = covered.filter(_._1 == id).map(_._2).toSet
      assert(pos == tk.indices.toSet, s"doc $id coverage")
    }
  }

  test("Chunking.dedupSegments: repeated segments keep first occurrence " +
      "only, docs rebuilt in order, token-free docs report empty") {
    import spark.implicits._
    val seg = (1 to 4).map(i => s"s$i").mkString(" ") // one 4-token segment
    val df = Seq(
      (1L, s"$seg a b c d"),   // segment + unique tail segment
      (2L, s"$seg x y z w"),   // same first segment (dup), unique tail
      (3L, seg),               // entire doc is a dup of segment 1
      (4L, "")                 // token-free
    ).toDF("doc_id", "text")

    val out = graft.operators.Chunking
      .dedupSegments(df, "doc_id", "text", width = 4)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

    assert(out(1L) == ((2L, 2L, s"$seg a b c d"))) // first occurrence: intact
    assert(out(2L) == ((2L, 1L, "x y z w")))       // shared segment dropped
    assert(out(3L) == ((1L, 0L, "")))              // fully deduplicated
    assert(out(4L) == ((0L, 0L, "")))              // no tokens at all
  }

  test("Multimodal decodeAudio: REAL JDK WAV decode — rate/depth/PCM " +
      "amplitude stats exact on a known waveform; non-audio payloads " +
      "take the deterministic fallback") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // a 16 kHz mono square wave of amplitude 1000 for 3200 samples:
    // peak and RMS are EXACTLY 1000, duration exactly 200 ms
    val sq = Array.tabulate(3200)(i =>
      if (i % 16 < 8) 1000.toShort else (-1000).toShort)
    // a silent stretch: all-zero samples
    val silent = Array.fill[Short](1600)(0)
    val rows = Seq(
      (1L, Multimodal.wavBytes(sq, 16000)),
      (2L, Multimodal.wavBytes(silent, 16000)),
      (3L, "definitely not audio".getBytes("UTF-8")))
    val got = Multimodal.decodeAudio(rows.toDF("id", "payload"), "payload")
      .select(col("id"), col("audio.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val a1 = got(1L)
    assert(a1.getAs[Int]("sample_rate") == 16000)
    assert(a1.getAs[Int]("channels") == 1)
    assert(a1.getAs[Int]("bits") == 16)
    assert(a1.getAs[Long]("n_samples") == 3200L)
    assert(a1.getAs[Long]("duration_ms") == 200L)
    assert(a1.getAs[Int]("peak") == 1000)
    assert(a1.getAs[Double]("rms") == 1000.0) // exact, not approximate
    assert(a1.getAs[Double]("silence_ratio") == 0.0)
    assert(a1.getAs[Boolean]("is_audio"))
    val a2 = got(2L)
    assert(a2.getAs[Int]("peak") == 0 && a2.getAs[Double]("rms") == 0.0)
    assert(a2.getAs[Double]("silence_ratio") == 1.0)
    val a3 = got(3L)
    assert(!a3.getAs[Boolean]("is_audio"))
    assert(a3.getAs[Int]("sample_rate") == 16000) // deterministic synth
  }

  test("videoMeta parses REAL MP4 container metadata — brand, " +
      "timescale-scaled duration, track count, first video track's " +
      "size — across box versions; garbage degrades to the fallback") {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val mp4 = Multimodal.mp4Bytes("mp42", timescale = 600,
      duration = 1800, tracks = Seq((640, 360), (0, 0)))
    val wav = Multimodal.wavBytes(Array[Short](1, 2, 3), 16000)
    val df = Seq((1L, mp4), (2L, wav),
      (3L, Array.tabulate(50)(_.toByte))).toDF("doc_id", "payload")
    val got = Multimodal.videoMeta(df, "payload")
      .select(col("doc_id"), col("video.*")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val v1 = got(1L)
    assert(v1.getAs[String]("container") == "mp4")
    assert(v1.getAs[String]("brand") == "mp42")
    assert(v1.getAs[Long]("duration_ms") == 3000L, // 1800/600 s
      v1.toString)
    assert(v1.getAs[Int]("n_tracks") == 2)
    assert(v1.getAs[Int]("width") == 640 &&
      v1.getAs[Int]("height") == 360,
      "the 0x0 audio track must not win the presentation size")
    // WAV and garbage both take the deterministic non-video fallback
    for (id <- Seq(2L, 3L)) {
      assert(got(id).getAs[String]("container") == "unknown", id)
      assert(got(id).getAs[Int]("n_tracks") == 0)
    }
    // version-1 mvhd/tkhd (64-bit times) parse too: splice the v0
    // fixture into v1 boxes by hand
    val v1mvhd = {
      val b = java.nio.ByteBuffer.allocate(112)
      b.putInt(0x01000000) // version 1
      b.putLong(0).putLong(0) // creation, modification (64-bit)
      b.putInt(1000).putLong(2750) // timescale, duration (64-bit)
      b.putInt(0x00010000).putShort(0x0100.toShort).putShort(0)
      b.putLong(0)
      Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
        .foreach(b.putInt)
      (0 until 6).foreach(_ => b.putInt(0))
      b.putInt(2)
      b.array()
    }
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + body.length)
      b.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      b.array()
    }
    val ftyp = box("ftyp", "isom    isom".getBytes("US-ASCII"))
    val onlyMvhd = ftyp ++ box("moov", box("mvhd", v1mvhd))
    val gotV1 = Multimodal.videoMeta(
        Seq((9L, onlyMvhd)).toDF("doc_id", "payload"), "payload")
      .select(col("video.duration_ms"), col("video.n_tracks"))
      .head()
    assert(gotV1.getLong(0) == 2750L && gotV1.getInt(1) == 0)
  }
}
