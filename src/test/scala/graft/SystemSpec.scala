package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.exec.GraphOps
import graft.model.{KGIndex, QAA, Variadic}
import graft.pipeline.Multimodal

class SystemSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // tiny graph: 0->1->2->3, 0->2 ; plus disconnected 9
  val edges = Seq((0L, 0L, 1L), (1L, 0L, 2L), (2L, 0L, 3L), (0L, 2L, 2L))
    .toDF("src", "rel", "dst")

  test("G1 propagate: one-hop frontier") {
    val f = Seq(Tuple1(0L)).toDF("id")
    val out = GraphOps.propagate(edges, f).collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 2L))
  }

  test("G2 bfsLevels: shortest-path levels") {
    val f = Seq(Tuple1(0L)).toDF("id")
    val lv = GraphOps.bfsLevels(edges, f).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lv == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 2))
  }

  test("G3 topologicalLevels: Kahn levels of a DAG") {
    val lv = GraphOps.topologicalLevels(edges).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lv == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
  }

  test("minLabelComponents agrees with GraphX connectedComponents") {
    // three components: {1,2,3,5}, {10,11,12}, {20} (self-loop only)
    val e = Seq((1L, 0L, 2L), (2L, 0L, 3L), (10L, 0L, 11L), (12L, 0L, 11L),
                (20L, 0L, 20L), (5L, 0L, 3L)).toDF("src", "rel", "dst")
    val rel = GraphOps.minLabelComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = graft.exec.GraphXOps.connectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel == gx)
    assert(rel(3L) == 1L && rel(5L) == 1L && rel(11L) == 10L &&
           rel(20L) == 20L)
  }

  test("pageRankFixed: exact fixpoint on a star graph") {
    // 1,2,3 -> 0. Leaves have no in-edges: rank 0.15 after iter 1;
    // hub stabilizes at 0.15 + 0.85 * 3 * (0.15 / 1) = 0.5325 from iter 2.
    val edges = Seq((1L, 0L, 0L), (2L, 0L, 0L), (3L, 0L, 0L))
      .toDF("src", "rel", "dst")
    val pr = graft.exec.GraphOps.pageRankFixed(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - 0.15) < 1e-12)
    assert(math.abs(pr(0L) - (0.15 + 0.85 * 0.45)) < 1e-12)
    assert(pr(0L) > pr(1L))
  }

  test("S2 dictionary: dense ids, deterministic order") {
    val d = KGIndex.buildDictionary(Seq("b", "a", "c", "a").toDF("n"), "n")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(0L -> "a", 1L -> "b", 2L -> "c"))
  }

  test("S3 dictionary JSON round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("dict").toString + "/d"
    val d = KGIndex.buildDictionary(Seq("x", "y").toDF("n"), "n")
    KGIndex.saveDictionary(d, dir)
    val back = KGIndex.loadDictionary(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == Map(0L -> "x", 1L -> "y"))
  }

  test("S10 query-graph cache: parquet round-trip preserves the batch") {
    // The Spark analog of the reference's per-lstr .pt cache
    // (dataloader.py:144-179): compiled qnodes/qedges persisted as parquet.
    val cq = graft.lang.Normalize.toDnf(
      graft.lang.Parser.parse("r1(s1,e1)&r2(e1,f)")).head
    val (qn, qe) = graft.lang.QueryGraph.compile(spark, Seq(
      (cq, Map("r1" -> 0L, "r2" -> 2L, "s1" -> 4L)),
      (cq, Map("r1" -> 1L, "r2" -> 3L, "s1" -> 2L))))
    val dir = java.nio.file.Files.createTempDirectory("qg").toString
    qn.write.parquet(s"$dir/qnodes"); qe.write.parquet(s"$dir/qedges")
    val qnBack = spark.read.parquet(s"$dir/qnodes")
    val qeBack = spark.read.parquet(s"$dir/qedges")
    assert(qnBack.collect().toSet == qn.collect().toSet)
    assert(qeBack.collect().toSet == qe.collect().toSet)
  }

  test("S5 validate flags unregistered ids") {
    val ents = Seq(0L, 1L, 2L).toDF("id")
    val rels = Seq(0L).toDF("id")
    val bad = KGIndex.validate(
      Seq((0L, 0L, 9L)).toDF("src", "rel", "dst"), ents, rels)
    assert(bad.count() == 1)
    val good = KGIndex.validate(
      Seq((0L, 0L, 2L)).toDF("src", "rel", "dst"), ents, rels)
    assert(good.isEmpty)
  }

  test("S5 validate returns each violating edge with its columns in place") {
    val ents = Seq(0L, 1L, 2L).toDF("id")
    val rels = Seq(0L).toDF("id")
    val edges = Seq((7L, 0L, 1L), (0L, 0L, 9L), (1L, 5L, 2L), (0L, 0L, 2L))
      .toDF("src", "rel", "dst")
    val bad = KGIndex.validate(edges, ents, rels)
      .select("src", "rel", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bad == Set((7L, 0L, 1L), (0L, 0L, 9L), (1L, 5L, 2L)))
  }

  test("S1 TSV triple scan") {
    val dir = java.nio.file.Files.createTempDirectory("tsv")
    val f = dir.resolve("t.tsv")
    java.nio.file.Files.writeString(f, "0\t4\t17\n0\t5\t23\n12\t4\t3\n")
    val df = KGIndex.readTsv(spark, f.toString)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((0L, 4L, 17L), (0L, 5L, 23L), (12L, 4L, 3L)))
  }

  test("Variadic ops: cartesian, expand, dedup, dups, topK") {
    val a = Variadic.fromLists(spark, Seq(Seq(1L, 2L), Seq(3L)))
    val b = Variadic.fromLists(spark, Seq(Seq(10L), Seq(20L, 30L)))
    assert(Variadic.cartesian(a, b).count() == 2 + 2) // row0: 2x1, row1: 1x2
    val dups = Variadic.duplicates(
      Variadic.fromLists(spark, Seq(Seq(1L, 1L, 2L)))).collect()
    assert(dups.length == 1 && dups(0).getLong(1) == 1L)
    val scored = Seq((0L, 5L, 1.0), (0L, 6L, 3.0), (0L, 7L, 2.0))
      .toDF("row", "value", "score")
    val top = Variadic.topK(scored, 2).collect().map(_.getLong(1)).toSet
    assert(top == Set(6L, 7L))
  }

  test("QAA: parse -> bind -> hard-eval matches recorded answers") {
    val json =
      """{"r1(s1,f)&r2(s2,f)": [
        |  [{"r1": 4, "r2": 2, "s1": 0, "s2": 1}, {"f": [2, 7]}, {"f": [9]}]
        |]}""".stripMargin
    val w = QAA.parseJson(json)
    assert(w.instances.size == 1 && w.bindingOf(0) ==
      Map("r1" -> 4L, "r2" -> 2L, "s1" -> 0L, "s2" -> 1L))
    assert(w.answers.count(_.is_hard) == 1)
    // KG in which entities 2,7,9 satisfy the query:
    val kgEdges = Seq(
      (0L, 4L, 2L), (0L, 4L, 7L), (0L, 4L, 9L), (0L, 4L, 5L),
      (1L, 2L, 2L), (1L, 2L, 7L), (1L, 2L, 9L)).toDF("src", "rel", "dst")
    val got = graft.exec.HardExec.evalFormula(kgEdges,
      graft.lang.Parser.parse(w.instances.head.lstr), w.bindingOf(0))
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 7L, 9L)) // easy ∪ hard
    val (qn, qe) = QAA.toQueryGraphs(spark, w)
    assert(qn.count() == 3 && qe.count() == 2) // terms s1, s2, f; 2 atoms
  }

  test("approx_count_distinct stays within the configured error bound") {
    // Since round 9 the query carries the bound check itself: columns are
    // (l_returnflag, exact_parts, within_tol) where within_tol asserts
    // |approx - exact| <= ceil(exact * 3 * rsd) — the oracle expects TRUE.
    val rows = SparkEntry.queries("q_approx_distinct")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getBoolean(2), s"HLL estimate out of bound for ${r.getString(0)}")
    }
  }

  test("multimodal: stub decode is deterministic; frames chunk correctly") {
    val media = Multimodal.syntheticMedia(spark, 8, bytesPerRow = 64)
    assert(media.schema("media").dataType.typeName == "binary")
    val f1 = Multimodal.decodeFeatures(media.as[Multimodal.MediaRow])
      .collect().map(f => f.media_id -> f.features).toMap
    val f2 = Multimodal.decodeFeatures(media.as[Multimodal.MediaRow])
      .collect().map(f => f.media_id -> f.features).toMap
    assert(f1 == f2 && f1.size == 8)
    assert(f1.values.forall(_.size == 8))
    val frames = Multimodal.sampleFrames(media, "media", frameBytes = 16, stride = 2)
      .select(size(col("frames"))).collect().map(_.getInt(0))
    assert(frames.forall(_ == 2)) // 64/16=4 chunks, every 2nd -> 2
  }

  test("imageMeta parses PNG and BMP headers; rejects garbage") {
    // Hand-built PNG: signature + IHDR (width 640, height 480, bit depth 8,
    // color type 6 = RGBA). CRC bytes are zeros — header-only parse.
    def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte,
                             (v >> 8).toByte, v.toByte)
    val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte) ++ be32(13) ++ "IHDR".getBytes("US-ASCII") ++
      be32(640) ++ be32(480) ++ Array[Byte](8, 6, 0, 0, 0) ++ be32(0)
    assert(Multimodal.imageMeta(png) ==
      Some(Multimodal.ImageMeta(640, 480, 4, "png")))
    // Greyscale PNG (color type 0) -> 1 channel.
    val grey = png.clone(); grey(25) = 0
    assert(Multimodal.imageMeta(grey).map(_.channels) == Some(1))
    // BMP from the builder round-trips its own dimensions.
    val bmp = Multimodal.bmpBytes(64, 32, Array.fill(16)(7.toByte))
    assert(Multimodal.imageMeta(bmp) ==
      Some(Multimodal.ImageMeta(64, 32, 3, "bmp")))
    // Garbage / truncated / non-image payloads -> None.
    assert(Multimodal.imageMeta(Array[Byte]()) == None)
    assert(Multimodal.imageMeta("not an image at all".getBytes) == None)
    assert(Multimodal.imageMeta(png.take(20)) == None)
    // Synthetic media: image rows parse, audio/video don't.
    val media = Multimodal.syntheticMedia(spark, 9)
    val metas = Multimodal.decodeFeatures(media.as[Multimodal.MediaRow])
      .collect()
      .map(f => f.media_id -> (f.kind, f.width, f.height, f.channels, f.sample_rate))
      .toMap
    metas.foreach { case (_, (kind, w, h, c, sr)) =>
      if (kind == "image") assert((w, h, c, sr) == ((64, 64, 3, -1)))
      else if (kind == "audio") assert((w, h, c, sr) == ((-1, -1, 1, 16000)))
      else assert((w, h, c, sr) == ((-1, -1, -1, -1)))
    }
  }

  test("bmpChannelStats decodes real pixels: padding excluded, truncation honest") {
    // 2×2 24bpp BMP: stride = ((2*3)+3)/4*4 = 8, so each row carries 6
    // pixel bytes + 2 padding bytes that must NOT enter the statistics.
    // Pixels (BGR): row0 = (10,20,30), (40,50,60); row1 = (70,80,90),
    // (100,110,120); padding bytes = 255 (poison).
    val payload = Array[Int](
      10, 20, 30, 40, 50, 60, 255, 255,
      70, 80, 90, 100, 110, 120, 255, 255).map(_.toByte)
    val bmp = Multimodal.bmpBytes(2, 2, payload)
    val Some((meta, n, sums, sqs)) = Multimodal.bmpChannelStats(bmp)
    assert(meta == Multimodal.ImageMeta(2, 2, 3, "bmp") && n == 4)
    val b = Seq(10, 40, 70, 100).map(_ / 255.0)
    val g = Seq(20, 50, 80, 110).map(_ / 255.0)
    val r = Seq(30, 60, 90, 120).map(_ / 255.0)
    Seq(b, g, r).zipWithIndex.foreach { case (ch, c) =>
      assert(math.abs(sums(c) - ch.sum) < 1e-12, s"mean ch $c")
      assert(math.abs(sqs(c) - ch.map(v => v * v).sum) < 1e-12, s"sq ch $c")
    }
    // Truncated pixel array: only complete pixels count (row0 + 1 pixel).
    val cut = Multimodal.bmpBytes(2, 2, payload.take(11))
    val Some((_, n2, sums2, _)) = Multimodal.bmpChannelStats(cut)
    assert(n2 == 3 && math.abs(sums2(0) - (10 + 40 + 70) / 255.0) < 1e-12)
    // Non-BMP containers decline.
    assert(Multimodal.bmpChannelStats("RIFFnope".getBytes) == None)
    // decodeFeatures wires the real stats through: f0 = blue mean,
    // f3 = blue mean-square, f6 = decoded fraction.
    import spark.implicits._
    val row = Seq(Multimodal.MediaRow(1L, "image", bmp, 2, 2, -1)).toDS()
    val f = Multimodal.decodeFeatures(row).collect()(0).features
    assert(math.abs(f(0) - b.sum / 4) < 1e-12)
    assert(math.abs(f(3) - b.map(v => v * v).sum / 4) < 1e-12)
    assert(f(6) == 1.0 && f(7) == 0.0)
  }

  test("pngChannelStats: lossless round trip for every filter type and channel layout") {
    val rnd = new scala.util.Random(7)
    // Exact per-channel sums must survive encode(filter+deflate) ->
    // decode(inflate+unfilter) for grey/RGB/RGBA × all five filters
    // (including a mixed-filter image).
    for (ch <- Seq(1, 3, 4); ft <- -1 to 4) {
      val (w, h) = (9, 7) // odd sizes: exercises stride arithmetic
      val pixels = Array.fill(w * h * ch)(rnd.nextInt(256).toByte)
      val filterOf: Int => Int = if (ft < 0) r => r % 5 else _ => ft
      val png = Multimodal.pngBytes(w, h, ch, pixels, filterOf)
      val Some((meta, n, sums, sqs)) = Multimodal.pngChannelStats(png)
      assert(meta == Multimodal.ImageMeta(w, h, ch, "png"), s"ch=$ch ft=$ft")
      assert(n == w.toLong * h)
      for (c <- 0 until ch) {
        val vals = pixels.indices.filter(_ % ch == c)
          .map(i => (pixels(i) & 0xff) / 255.0)
        assert(math.abs(sums(c) - vals.sum) < 1e-9, s"sum ch=$c ft=$ft")
        assert(math.abs(sqs(c) - vals.map(v => v * v).sum) < 1e-9,
               s"sq ch=$c ft=$ft")
      }
    }
    // Header metadata parses through the shared imageMeta path.
    val png = Multimodal.pngBytes(5, 4, 3, Array.fill(60)(1.toByte))
    assert(Multimodal.imageMeta(png).map(_.format) == Some("png"))
    // A truncated IDAT decodes only the complete surviving rows. (Cutting
    // just the tail chunks leaves the deflate stream whole — decoding all
    // 64 pixels from that is CORRECT; cut into the stream itself.)
    val big = Multimodal.pngBytes(8, 8, 3,
      Array.fill(192)(rnd.nextInt(256).toByte))
    val Some((_, n3, _, _)) = Multimodal.pngChannelStats(big.take(big.length - 16))
    assert(n3 == 64) // IEND + CRC gone, stream intact
    val Some((_, n4, _, _)) = Multimodal.pngChannelStats(big.take(big.length / 2))
    assert(n4 < 64 && n4 % 8 == 0) // whole rows only
    // Non-PNG containers decline.
    assert(Multimodal.pngChannelStats("garbage".getBytes) == None)
    assert(Multimodal.pngChannelStats(
      Multimodal.bmpBytes(2, 2, Array.fill(16)(0.toByte))) == None)
    // decodeFeatures routes PNG rows through the real decode: f0 = red mean.
    import spark.implicits._
    val pix = Array.tabulate(60)(i => (i * 4 % 256).toByte)
    val row = Seq(Multimodal.MediaRow(1L, "image",
      Multimodal.pngBytes(5, 4, 3, pix, _ => 4), 5, 4, -1)).toDS()
    val f = Multimodal.decodeFeatures(row).collect()(0)
    val rMean = pix.indices.filter(_ % 3 == 0)
      .map(i => (pix(i) & 0xff) / 255.0).sum / 20
    assert(math.abs(f.features(0) - rMean) < 1e-9)
    assert((f.width, f.height, f.channels) == ((5, 4, 3)))
    assert(f.features(6) == 1.0)
  }

  test("jpegChannelStats: exact constant-block round trip, AC paths, honesty") {
    // 1. Constant-per-block images round-trip EXACTLY (DC-only DCT, q=1).
    val (w, h) = (16, 16)
    val blocks = Array(10, 250, 0, 131)
    val jpg = Multimodal.jpegBytes(w, h, blocks)
    val Some((meta, n, sums, sqs)) = Multimodal.jpegChannelStats(jpg)
    assert(meta == Multimodal.ImageMeta(w, h, 1, "jpeg"))
    assert(n == 256L)
    val want = blocks.map(v => v / 255.0 * 64).sum
    assert(math.abs(sums(0) - want) < 1e-9)
    assert(math.abs(sqs(0) - blocks.map(v => math.pow(v / 255.0, 2) * 64).sum) < 1e-9)
    // 2. AC decode paths (run-length, ZRL run of 16+, negative 'extend'):
    // one 8×8 block with known zigzag coefficients, checked against an
    // independently computed IDCT.
    val coefs = new Array[Int](64)
    coefs(0) = 8 * (77 - 128) // DC
    coefs(1) = 35             // first AC
    coefs(5) = -12            // negative: exercises extend()
    coefs(24) = 9             // after a 18-zero run (ZRL + literal run)
    val jpg2 = Multimodal.jpegBytesFromCoefs(8, 8, Array(coefs))
    val Some((_, n2, s2, q2)) = Multimodal.jpegChannelStats(jpg2)
    assert(n2 == 64L)
    val zz = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    val nat = new Array[Double](64)
    coefs.indices.foreach(z => nat(zz(z)) = coefs(z).toDouble)
    var wantSum = 0.0; var wantSq = 0.0
    for (y <- 0 until 8; x <- 0 until 8) {
      var s = 0.0
      for (u <- 0 until 8; v <- 0 until 8) {
        val cu = if (u == 0) 1 / math.sqrt(2) else 1.0
        val cv = if (v == 0) 1 / math.sqrt(2) else 1.0
        s += cu * cv * nat(v * 8 + u) *
          math.cos((2 * x + 1) * u * math.Pi / 16) *
          math.cos((2 * y + 1) * v * math.Pi / 16)
      }
      val p = math.max(0.0, math.min(255.0, math.rint(s / 4 + 128))) / 255.0
      wantSum += p; wantSq += p * p
    }
    assert(math.abs(s2(0) - wantSum) < 1e-9, s"AC path sum ${s2(0)} vs $wantSum")
    assert(math.abs(q2(0) - wantSq) < 1e-9)
    // 3. Header metadata parses through the shared imageMeta path.
    assert(Multimodal.imageMeta(jpg).map(_.format) == Some("jpeg"))
    // 4. Garbage and truncation honesty: cut entropy data decodes the
    // complete surviving blocks; non-JPEG containers decline.
    assert(Multimodal.jpegChannelStats("garbage".getBytes) == None)
    assert(Multimodal.jpegChannelStats(
      Multimodal.bmpBytes(2, 2, Array.fill(16)(0.toByte))) == None)
    val Some((_, nTrunc, _, _)) =
      Multimodal.jpegChannelStats(jpg.take(jpg.length - 12))
    assert(nTrunc < 256 && nTrunc % 64 == 0) // whole blocks only
    // 5. decodeFeatures routes JPEG rows through the real decode.
    import spark.implicits._
    val row = Seq(Multimodal.MediaRow(1L, "image", jpg, w, h, -1)).toDS()
    val f = Multimodal.decodeFeatures(row).collect()(0)
    assert(math.abs(f.features(0) - want / 256) < 1e-9)
    assert((f.width, f.height, f.channels) == ((16, 16, 1)))
    assert(f.features(2) == 1.0) // decoded fraction
  }

  test("jpeg interleaved 4:4:4 and restart-interval streams decode exactly") {
    // 3-component MCUs with distinct per-component constant values: the
    // interleaved path must keep the three DC predictor chains separate.
    def dcBlock(v: Int): Array[Int] = {
      val c = new Array[Int](64); c(0) = 8 * (v - 128); c
    }
    val (w, h) = (24, 16) // 3×2 MCUs
    val comps = Array.tabulate(6)(m =>
      Array(dcBlock(20 * m + 10), dcBlock(200 - 13 * m), dcBlock(7 * m)))
    val jpg = Multimodal.jpegBytesInterleaved(w, h, comps)
    val Some((meta, n, sums, _)) = Multimodal.jpegChannelStats(jpg)
    assert(meta == Multimodal.ImageMeta(w, h, 3, "jpeg"))
    assert(n == w.toLong * h)
    for (c <- 0 until 3) {
      val wantC = comps.map(_(c)(0) / 8 + 128).map(_ / 255.0 * 64).sum
      assert(math.abs(sums(c) - wantC) < 1e-9, s"component $c")
    }
    // DRI/RSTn: same image with restart markers every 2 MCUs must decode
    // to identical statistics (predictor reset + marker resync correct).
    val jpgR = Multimodal.jpegBytesInterleaved(w, h, comps, restartInterval = 2)
    assert(jpgR.length > jpg.length) // markers actually present
    val Some((metaR, nR, sumsR, _)) = Multimodal.jpegChannelStats(jpgR)
    assert(metaR == meta && nR == n)
    for (c <- 0 until 3)
      assert(math.abs(sumsR(c) - sums(c)) < 1e-9, s"RST component $c")
    // Grayscale + restart interval too (different MCU geometry).
    val g = Array.tabulate(6)(m => Array(dcBlock(40 * (m % 4) + 15)))
    val gPlain = Multimodal.jpegBytesInterleaved(w, h, g)
    val gRst = Multimodal.jpegBytesInterleaved(w, h, g, restartInterval = 1)
    val Some((_, n1, s1a, _)) = Multimodal.jpegChannelStats(gPlain)
    val Some((_, n2b, s2b, _)) = Multimodal.jpegChannelStats(gRst)
    assert(n1 == n2b && math.abs(s1a(0) - s2b(0)) < 1e-9)
  }

  test("wavSampleStats decodes real PCM: sign fold, truncation, 8-bit path") {
    // Hand-built 16-bit mono samples, incl. both extremes and zeros.
    val samples = Seq(1000, -2000, 0, 32767, -32768, 500)
    val payload = samples.flatMap(s =>
      Seq((s & 0xff).toByte, ((s >> 8) & 0xff).toByte)).toArray
    val wav = Multimodal.wavBytes(16000, 1, 16, payload)
    val Some((meta, n, mean, meanSq, peak, crossings)) =
      Multimodal.wavSampleStats(wav)
    val norm = samples.map(_ / 32768.0)
    assert(meta.sampleRate == 16000 && n == 6)
    assert(math.abs(mean - norm.sum / 6) < 1e-12)
    assert(math.abs(meanSq - norm.map(v => v * v).sum / 6) < 1e-12)
    assert(math.abs(peak - 1.0) < 1e-12) // |-32768|/32768
    // sign changes skipping zeros: +1000 -> -2000 -> (0) -> +32767 -> -32768 -> +500
    assert(crossings == 4)
    // Truncated payload: the dangling half-sample is ignored.
    val cutBytes = wav.take(44 + 5)
    val cut = Multimodal.wavBytes(16000, 1, 16, payload.take(5),
                                  declaredLen = 5)
    assert(Multimodal.wavSampleStats(cut).get._2 == 2)
    assert(cutBytes.length > 0) // (silence unused warning)
    // The declared data length bounds decode even when more bytes follow.
    val short = Multimodal.wavBytes(16000, 1, 16, payload, declaredLen = 4)
    assert(Multimodal.wavSampleStats(short).get._2 == 2)
    // 8-bit WAV is unsigned with midpoint 128.
    val wav8 = Multimodal.wavBytes(8000, 1, 8, Array[Int](128, 255, 0)
      .map(_.toByte))
    val Some((_, n8, mean8, _, peak8, _)) = Multimodal.wavSampleStats(wav8)
    assert(n8 == 3 && math.abs(mean8 - (0.0 + 127.0 / 128 - 1.0) / 3) < 1e-12)
    assert(math.abs(peak8 - 1.0) < 1e-12)
    // Unsupported bit depths and non-WAV containers decline.
    assert(Multimodal.wavSampleStats("BM not a wav".getBytes) == None)
    // decodeFeatures wires the stats through: f0..f4.
    import spark.implicits._
    val row = Seq(Multimodal.MediaRow(1L, "audio", wav, -1, -1, 16000)).toDS()
    val f = Multimodal.decodeFeatures(row).collect()(0).features
    assert(math.abs(f(0) - norm.sum / 6) < 1e-12)
    assert(math.abs(f(2) - 1.0) < 1e-12)
    assert(math.abs(f(3) - 4.0 / 5) < 1e-12)
    assert(f(4) == 1.0)
  }

  test("mp3Meta free format: length discovery, derived bitrate, honesty") {
    // free format (bitrate_index 0): constant 300-byte frames → the
    // 100 kbps rate the table cannot express, discovered from the next
    // matching syncword
    val free = Multimodal.mp3BytesFree(5)
    val Some((meta, kbps, dur)) = Multimodal.mp3Meta(free)
    assert(meta == Multimodal.AudioMeta(48000, 1, -1, 5))
    assert(kbps == 100)
    assert(math.abs(dur - 5.0 * 1152 / 48000) < 1e-9)
    // ID3-prefixed free streams parse the same
    assert(Multimodal.mp3Meta(Multimodal.mp3BytesFree(4, id3Pad = 120))
      .map(_._1.nFrames) == Some(4))
    // truncation honesty: only complete frames of the discovered length
    assert(Multimodal.mp3Meta(Multimodal.mp3BytesFree(5).take(300 * 2 + 50))
      .map(_._1.nFrames) == Some(2))
    // a SINGLE free frame has no next sync to measure against → None
    // (refuse, never guess a length)
    assert(Multimodal.mp3Meta(Multimodal.mp3BytesFree(1)).isEmpty)
    // a 2-frame free stream with a trailing ID3v1-style tag: no THIRD
    // sync exists to re-chain against, so discovery falls back to the
    // first matching sync instead of refusing (round-14 review), and
    // counting stops honestly at the trailer
    val tagged = Multimodal.mp3BytesFree(2) ++
      ("TAG" + "x" * 125).getBytes("US-ASCII")
    assert(Multimodal.mp3Meta(tagged).map(_._1.nFrames) == Some(2))
  }

  test("aacAdtsMeta: frame-length chain, ID3 skip, honesty, refusals") {
    val b = Multimodal.aacBytes(4, profile = 1, srIdx = 4, channels = 2,
                                rdb = 1)
    val Some((meta, profile, dur)) = Multimodal.aacAdtsMeta(b)
    assert(meta == Multimodal.AudioMeta(44100, 2, -1, 4))
    assert(profile == 1)
    assert(math.abs(dur - 4.0 * 2048 / 44100) < 1e-9)
    // ID3-prefixed streams parse the same
    assert(Multimodal.aacAdtsMeta(Multimodal.aacBytes(3, id3Pad = 80))
      .map(_._1.nFrames) == Some(3))
    // truncation honesty: only complete frames count (frame lengths
    // vary per frame, so the walk must follow the 13-bit chain)
    val f0 = 7 + 50 + (0 * 17 + 3 * 7 + 1 * 3) % 100
    assert(Multimodal.aacAdtsMeta(Multimodal.aacBytes(3).take(f0 + 20))
      .map(_._1.nFrames) == Some(1))
    // a reserved sampling_frequency_index invalidates that header; the
    // walk RESYNCS at the next genuine frame (mp3Meta's guard shape)
    val bad = Multimodal.aacBytes(2)
    bad(2) = ((bad(2) & ~0x3c) | (13 << 2)).toByte
    assert(Multimodal.aacAdtsMeta(bad).map(_._1.nFrames) == Some(1))
    // with no further frame to resync onto, it refuses outright
    val bad1 = Multimodal.aacBytes(1)
    bad1(2) = ((bad1(2) & ~0x3c) | (13 << 2)).toByte
    assert(Multimodal.aacAdtsMeta(bad1).isEmpty)
    // nonzero layer bits likewise invalidate the header
    val bad2 = Multimodal.aacBytes(1)
    bad2(1) = (bad2(1) | 0x06).toByte
    assert(Multimodal.aacAdtsMeta(bad2).isEmpty)
  }

  test("mp3Meta parses real frame headers: sync, ID3 skip, frame count") {
    // 7 genuine MPEG-1 Layer III headers (44.1 kHz mono 128 kbps).
    val mp3 = Multimodal.mp3Bytes(7)
    val Some((meta, kbps, dur)) = Multimodal.mp3Meta(mp3)
    assert(meta == Multimodal.AudioMeta(44100, 1, -1, 7))
    assert(kbps == 128)
    assert(math.abs(dur - 7.0 * 1152 / 44100) < 1e-9)
    // ID3v2 tag skipped via its synchsafe length (tag bytes < 0x80 can't
    // fake a frame sync).
    val tagged = Multimodal.mp3Bytes(3, id3Pad = 200)
    assert(Multimodal.mp3Meta(tagged).map(_._1.nFrames) == Some(3))
    // Truncation honesty: only complete frames count.
    val cut = Multimodal.mp3Bytes(7).take(417 * 3 + 100)
    assert(Multimodal.mp3Meta(cut).map(_._1.nFrames) == Some(3))
    // MPEG-2 (LSF): 22.05 kHz, 80 kbps, 576 samples/frame — duration
    // must use the per-version sample count, not 1152 (r8 ADVICE).
    val v2 = Multimodal.mp3Bytes(5, mpeg2 = true)
    val Some((m2, k2, d2)) = Multimodal.mp3Meta(v2)
    assert(m2 == Multimodal.AudioMeta(22050, 1, -1, 5))
    assert(k2 == 80)
    assert(math.abs(d2 - 5.0 * 576 / 22050) < 1e-9)
    // Garbage and other containers decline.
    assert(Multimodal.mp3Meta("garbage".getBytes) == None)
    assert(Multimodal.mp3Meta(
      Multimodal.wavBytes(16000, 1, 16, Array.fill(8)(0.toByte))) == None)
    // decodeFeatures reports the real sample rate/channels for MP3 rows
    // (features stay the declared stub).
    import spark.implicits._
    val row = Seq(Multimodal.MediaRow(1L, "audio", mp3, -1, -1, -1)).toDS()
    val f = Multimodal.decodeFeatures(row).collect()(0)
    assert((f.sample_rate, f.channels) == ((44100, 1)))
  }

  test("mp4Meta walks a real ISO BMFF box tree (v0 and v1, largesize)") {
    val b0 = Multimodal.mp4Bytes(durationUnits = 3000, timescale = 600,
      width = 320, height = 240, codec = "avc1", withAudio = true, v1 = false)
    val Some(m0) = Multimodal.mp4Meta(b0)
    assert(m0.brand == "isom")
    assert(math.abs(m0.durationSec - 5.0) < 1e-9)
    assert(m0.nTracks == 2)
    assert((m0.width, m0.height) == ((320, 240)))
    assert(m0.handlers == Seq("soun", "vide"))
    assert(m0.codec == "avc1")
    // Version-1 mvhd/tkhd (64-bit times) + largesize mdat: identical meta.
    val b1 = Multimodal.mp4Bytes(3000, 600, 320, 240, "avc1",
      withAudio = true, v1 = true)
    assert(Multimodal.mp4Meta(b1) == Some(m0))
    // Video-only file, different codec fourcc.
    val Some(m2) = Multimodal.mp4Meta(
      Multimodal.mp4Bytes(1200, 600, 64, 48, "hvc1", withAudio = false, v1 = false))
    assert((m2.nTracks, m2.handlers, m2.codec) == ((1, Seq("vide"), "hvc1")))
    // Non-MP4 containers and garbage decline.
    assert(Multimodal.mp4Meta("garbage-that-is-long-enough".getBytes) == None)
    assert(Multimodal.mp4Meta(Multimodal.mp3Bytes(2)) == None)
    // Truncated moov (malformed inner length) declines rather than throws.
    assert(Multimodal.mp4Meta(b0.take(60)) == None)
  }

  test("aviMeta walks a real RIFF chunk tree with WORD alignment") {
    val b = Multimodal.aviBytes(usPerFrame = 40000, totalFrames = 250,
      width = 640, height = 480, withAudio = true)
    val Some(m) = Multimodal.aviMeta(b)
    assert(math.abs(m.durationSec - 10.0) < 1e-9)
    assert(m.nTracks == 2)
    assert((m.width, m.height) == ((640, 480)))
    assert(m.handlers == Seq("auds", "vids"))
    assert(m.codec == "mjpg")
    // Odd moviLen exercises the WORD-alignment pad hop.
    val odd = Multimodal.aviBytes(33333, 30, 320, 240, withAudio = false,
      moviLen = 33)
    assert(Multimodal.aviMeta(odd).map(_.nTracks) == Some(1))
    // videoMeta dispatch: MP4 first, AVI fallback, None otherwise.
    assert(Multimodal.videoMeta(b).map(_.brand) == Some("AVI "))
    assert(Multimodal.videoMeta(
      Multimodal.mp4Bytes(600, 600, 16, 16, "avc1", false, false))
      .map(_.brand) == Some("isom"))
    assert(Multimodal.videoMeta("garbage-that-is-long-enough".getBytes) == None)
    assert(Multimodal.aviMeta(b.take(40)) == None)
  }

  test("layer1Decode round-trips genuinely bit-packed MPEG-1 Layer I frames") {
    val b = Multimodal.layer1Bytes(seed = 5, nFrames = 2)
    assert(b.length == 384 * 2)
    val Some((meta, blocks)) = Multimodal.layer1Decode(b)
    assert(meta == Multimodal.AudioMeta(32000, 1, -1, 2))
    // alloc (5 + sb) % 8: subband 3 silent, 28 allocated per frame.
    assert(blocks.count(_.frame == 0) == 28)
    assert(!blocks.exists(_.subband == 3))
    // Spot-check one sample against the spec formula computed by hand:
    // sb=0, f=0, g=0: alloc=5, nb=6, scfIdx=3*((25)%21)=12 -> sf=2^-3,
    // code=(5*131) % 64 = 15.
    val blk = blocks.find(b => b.frame == 0 && b.subband == 0).get
    assert(blk.alloc == 5 && blk.scfIdx == 12)
    val expect = 0.125 * (64.0 / 63) * (15.0 / 32 - 1.0 + 2.0 / 64)
    assert(math.abs(blk.samples(0) - expect) < 1e-15)
    // All requantized values live in sf * 2^nb/(2^nb - 1) * [-1, 1] (the
    // formula's range: frac in [-1, 1], then the (2^nb - 1) re-scale).
    blocks.foreach { blk =>
      val sf = math.pow(2.0, 1.0 - blk.scfIdx / 3.0)
      val nb = blk.alloc + 1
      val bound = sf * (1 << nb) / ((1 << nb) - 1.0) + 1e-12
      blk.samples.foreach(v => assert(math.abs(v) <= bound))
    }
    // Truncation honesty: only complete frames decode.
    val Some((m2, blk2)) = Multimodal.layer1Decode(b.take(384 + 100))
    assert(m2.nFrames == 1 && blk2.forall(_.frame == 0))
    // Layer III streams and garbage decline.
    assert(Multimodal.layer1Decode(Multimodal.mp3Bytes(2)) == None)
    assert(Multimodal.layer1Decode("garbage".getBytes) == None)
  }

  test("round-10 codecs round-trip across many seeds (property sweep)") {
    (0L until 40L).foreach { seed =>
      // Layer II: every block's samples obey the formula-implied bounds
      val Some((m2, b2)) =
        Multimodal.layer2Decode(Multimodal.layer2Bytes(seed, 1))
      assert(m2.sampleRate == 48000 && b2.nonEmpty)
      b2.foreach(bl => assert(bl.samples.length == 36))
      // Layer III: granule stats recomputed from the generating formulas
      val Some((_, g3)) =
        Multimodal.layer3Decode(Multimodal.layer3Bytes(seed, 1))
      assert(g3.size == 2)
      g3.foreach { gr =>
        var nNz = 0
        (0 until gr.bigValues).foreach { k =>
          val x = ((seed * 3 + gr.granule * 11 + k * 5) % 3) - 1
          val y = ((seed * 5 + gr.granule * 3 + k * 7) % 3) - 1
          nNz += (if (x != 0) 1 else 0) + (if (y != 0) 1 else 0)
        }
        assert(gr.nNonzero == nNz, s"seed=$seed g=${gr.granule}")
      }
      // MPEG-1 I-frame: DC chains land on the closed-form targets
      val Some((_, v)) =
        Multimodal.mpeg1IFrameDecode(Multimodal.mpeg1IFrameBytes(seed))
      assert(v.size == 24)
      v.foreach(bl => assert(
        bl.dcF == ((seed * 7 + bl.mb * 13 + bl.blk * 29) % 256).toInt * 8,
        s"seed=$seed mb=${bl.mb} blk=${bl.blk}"))
    }
  }

  test("layer3Decode round-trips Huffman-coded MP3 frequency lines") {
    val b = Multimodal.layer3Bytes(seed = 5, nFrames = 2)
    assert(b.length == 576 * 2)
    val Some((meta, grans)) = Multimodal.layer3Decode(b)
    assert(meta == Multimodal.AudioMeta(48000, 1, -1, 2))
    assert(grans.size == 4) // 2 frames x 2 granules
    grans.foreach { gr =>
      assert(gr.bigValues == 16 + (5 + gr.frame + gr.granule) % 17)
      assert(gr.globalGain == (5 * 13 + gr.frame * 19 + gr.granule * 29) % 256)
      // recompute the line stats from the generating formulas
      var nNz = 0; var s = 0L; var sq = 0L
      (0 until gr.bigValues).foreach { k =>
        val x = ((5 * 3 + gr.frame * 7 + gr.granule * 11 + k * 5) % 3) - 1
        val y = ((5 * 5 + gr.frame * 11 + gr.granule * 3 + k * 7) % 3) - 1
        Seq(x, y).foreach(v => if (v != 0) { nNz += 1; s += v; sq += v * v })
      }
      assert(gr.nNonzero == nNz && gr.isSum == s && gr.isSqSum == sq,
             s"f=${gr.frame} g=${gr.granule}")
    }
    // requantization formula: is=-1, gain=210 -> -1.0; gain=214 -> -2^1
    assert(Multimodal.layer3Requant(-1, 210) == -1.0)
    assert(Multimodal.layer3Requant(1, 214) == 2.0)
    // truncation honesty; non-L3 and garbage decline
    val Some((m2, g2)) = Multimodal.layer3Decode(b.take(576 + 40))
    assert(m2.nFrames == 1 && g2.forall(_.frame == 0))
    assert(Multimodal.layer3Decode(Multimodal.layer2Bytes(5, 1)) == None)
    assert(Multimodal.layer3Decode("garbage".getBytes) == None)
  }

  test("mpeg1IFrameDecode round-trips genuinely VLC-coded intra frames") {
    val b = Multimodal.mpeg1IFrameBytes(seed = 5)
    val Some(((w, h), blocks)) = Multimodal.mpeg1IFrameDecode(b)
    assert(w == 32 && h == 32)
    assert(blocks.size == 4 * 6) // 4 macroblocks x (4Y + Cb + Cr)
    // DC chain: quantized target (5*7 + m*13 + b*29) % 256, dequant x8 —
    // the stream carries one's-complement DIFFERENTIALS against the
    // per-component predictor chains, so equality proves the chain walk.
    blocks.foreach { bl =>
      assert(bl.dcF == ((5 * 7 + bl.mb * 13 + bl.blk * 29) % 256) * 8,
             s"mb=${bl.mb} blk=${bl.blk}")
      assert(bl.nAc == 5)
    }
    // Spot-check one dequantized AC against the spec formula by hand:
    // mb=0, blk=0: first position p = 1 + (5+0+0)%4 = 2,
    // level = ((55 + 2*31) % 21) - 10 = 117%21 - 10 = 12-10 = 2,
    // W[zigzag 2] = matrix[8] = 16 (natural row 1 col 0),
    // a = 2*8*16/8 = 32 (even) -> 31.
    // All five positions for (0,0): p1 = 1+(5%4) = 2, p2 = 6+(15%6) = 9,
    // p3 = 15+0 = 15, p4 = 30+(5%10) = 35, p5 = 50+0 = 50.
    val b00 = blocks.find(bl => bl.mb == 0 && bl.blk == 0).get
    def lvl(p: Int) = {
      val l = ((5 * 11 + p * 31) % 21) - 10; if (l == 0) 1 else l
    }
    def dq(p: Int) = {
      val a = math.abs(lvl(p)) * Multimodal.mpeg1W(p)
      val a1 = if (a % 2 == 0) a - 1 else a
      if (lvl(p) < 0) -a1 else a1
    }
    assert(b00.acSum == Seq(2, 9, 15, 35, 50).map(dq(_).toLong).sum)
    // Table-coded and escape-coded paths both occur across the fixture
    // (levels span ±10; |level| > 7 or large runs must escape).
    // Non-MPEG payloads and truncation decline to None.
    assert(Multimodal.mpeg1IFrameDecode("garbage".getBytes) == None)
    assert(Multimodal.mpeg1IFrameDecode(b.take(16)) == None)
    assert(Multimodal.mpeg1IFrameDecode(Multimodal.mp3Bytes(1)) == None)
    // Multi-picture streams: DC predictor chains reset per slice, the
    // pic·37 content shift decodes per picture, and the start-code
    // index recovers (offset, temporal_reference, I-type) with no
    // entropy decode.
    val b3 = Multimodal.mpeg1IFrameBytes(seed = 5, nPictures = 3)
    val Some((_, blocks3)) = Multimodal.mpeg1IFrameDecode(b3)
    assert(blocks3.size == 3 * 24)
    blocks3.foreach { bl =>
      assert(bl.dcF ==
        ((5 * 7 + bl.pic * 37 + bl.mb * 13 + bl.blk * 29) % 256) * 8,
        s"pic=${bl.pic} mb=${bl.mb} blk=${bl.blk}")
    }
    val idx = Multimodal.mpeg1FrameOffsets(b3)
    assert(idx.size == 3)
    assert(idx.map(_._2) == Seq(0, 1, 2)) // temporal refs
    assert(idx.forall(_._3 == 1))         // all I pictures
    assert(idx.map(_._1) == idx.map(_._1).sorted && idx.head._1 > 0)
  }

  test("layer2Decode round-trips genuinely bit-packed MPEG-1 Layer II frames") {
    val b = Multimodal.layer2Bytes(seed = 5, nFrames = 2)
    assert(b.length == 576 * 2)
    val Some((meta, blocks)) = Multimodal.layer2Decode(b)
    assert(meta == Multimodal.AudioMeta(48000, 1, -1, 2))
    // alloc: sb<3 (5+sb)%5 -> sb 0 silent; 3<=sb<11 (5+3sb)%6;
    // 11<=sb<23 (5+sb)%6 -> sb 13,19 silent; sb>=23 (5+sb)%3 -> sb 25 silent
    def allocOf(sb: Int): Int =
      if (sb < 3) (5 + sb) % 5
      else if (sb < 11) (5 + sb * 3) % 6
      else if (sb < 23) (5 + sb) % 6
      else (5 + sb) % 3
    val expAllocated = (0 until 27).count(allocOf(_) > 0)
    assert(blocks.count(_.frame == 0) == expAllocated)
    assert(!blocks.exists(_.subband == 0) && !blocks.exists(_.subband == 13))
    // Spot-check a GROUPED subband (sb=3: alloc (5+9)%6=2 -> steps 5,
    // scfsi (5+3)%4=0 -> three scf, part0 slot0):
    // scf = 3*((25 + 21 + 0) % 21) = 3*4 -> sf = 2^(1-4) = 1/8
    // code c = (5*131 + 3*13) % 125 = 694 % 125 = 69; v0 = 69 % 5 = 4
    // s = sf * (8/5) * (4/4 - 1 + 0.5) = 0.125 * 1.6 * 0.5 = 0.1
    val g = blocks.find(b => b.frame == 0 && b.subband == 3).get
    assert(g.allocIdx == 2 && g.steps == 5 && g.scfsi == 0)
    assert(math.abs(g.samples(0) - 0.1) < 1e-15)
    // Spot-check an UNGROUPED subband (sb=1: alloc (5+1)%5=1 -> steps 7?
    // table sb<3 idx1 -> 3 steps, grouped; use sb=2: (5+2)%5=2 -> steps 7,
    // nb=3, scfsi (5+2)%4=3 -> two scf, part0 uses slot0):
    // scf = 3*((25 + 14) % 21) = 3*18 -> sf = 2^-17
    // code j=0: (5*131 + 2*13) % 7 = 681 % 7 = 2
    // s = sf * (8/7) * (2/4 - 1 + 2/8) = 2^-17 * (8/7) * (-0.25)
    val u = blocks.find(b => b.frame == 0 && b.subband == 2).get
    assert(u.allocIdx == 2 && u.steps == 7 && u.scfsi == 3)
    val expU = math.pow(2.0, -17) * (8.0 / 7) * (2.0 / 4 - 1 + 0.25)
    assert(math.abs(u.samples(0) - expU) < 1e-20)
    // scfsi part sharing: sb=2 scfsi=3 -> parts 1 and 2 share slot1's
    // scalefactor, so granule 4 (part 1) and granule 8 (part 2) see the
    // same sf while part 0 differs.
    val sfSlot1 = math.pow(2.0, 1.0 - ((25 + 14 + 3) % 21))
    val expU4 = sfSlot1 * (8.0 / 7) *
      (((5 * 131 + 4 * 29 + 2 * 13) % 7) / 4.0 - 1 + 0.25)
    assert(math.abs(u.samples(12) - expU4) < 1e-20)
    assert(math.abs(u.samples(24) - sfSlot1 * (8.0 / 7) *
      (((5 * 131 + 8 * 29 + 2 * 13) % 7) / 4.0 - 1 + 0.25)) < 1e-20)
    // Truncation honesty; Layer I/III streams and garbage decline.
    val Some((m2, blk2)) = Multimodal.layer2Decode(b.take(576 + 100))
    assert(m2.nFrames == 1 && blk2.forall(_.frame == 0))
    assert(Multimodal.layer2Decode(Multimodal.layer1Bytes(5, 1)) == None)
    assert(Multimodal.layer2Decode(Multimodal.mp3Bytes(2)) == None)
    assert(Multimodal.layer2Decode("garbage".getBytes) == None)
    // decodeFeatures routes BOTH layers through the real subband stats
    // (not the byte-moment stub): features = [mean, msq, peak, fill].
    import SparkTestSession.spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(0L, "audio", Multimodal.layer1Bytes(5, 2), -1, -1, -1),
      Multimodal.MediaRow(1L, "audio", b, -1, -1, -1)).toDS()
    val feats = Multimodal.decodeFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    val Some((_, l2blocks)) = Multimodal.layer2Decode(b)
    val all2 = l2blocks.flatMap(_.samples)
    assert(feats(1L).sample_rate == 48000)
    // round 15: mean is the 1e-6-quantized Long sum / 1e6 / n (the
    // exact-stat contract) — assert bit equality, not a tolerance
    assert(feats(1L).features(0) ==
      all2.map(Multimodal.quant6).sum / 1e6 / all2.size)
    assert(math.abs(feats(1L).features(2) - all2.map(math.abs).max) < 1e-12)
    assert(feats(0L).sample_rate == 32000 && feats(0L).features(3) > 0.0)
  }

  test("gif codec round-trips and matches the JDK's independent decoder") {
    // Pixels chosen to exercise the LZW hard spots: a long constant run
    // (KwKwK codes), then noise (rapid table growth past the 512/1024
    // width boundaries).
    val (w, h) = (80, 64) // 5120 px: enough new entries to cross 4096
    val pixels = Array.tabulate(w * h) { i =>
      if (i < 600) 7.toByte else ((i * 31 + (i / w) * 7) % 256).toByte
    }
    val bytes = Multimodal.gifBytes(w, h, pixels, withGce = true)
    // Our decoder round-trips exactly.
    val Some((meta, idx, pal)) = Multimodal.gifDecode(bytes)
    assert(meta == Multimodal.ImageMeta(w, h, 3, "gif"))
    assert(idx.sameElements(pixels))
    assert(pal.length == 256 && pal(17) == 0x111111)
    // The JDK's ImageIO GIF reader (independent implementation) agrees —
    // proves gifBytes is real GIF, not a private dialect.
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val grey = pixels(y * w + x) & 0xff
      assert((img.getRGB(x, y) & 0xffffff) == (grey * 0x10101),
             s"ImageIO mismatch at ($x,$y)")
    }
    // imageMeta sees the logical screen descriptor header-only.
    assert(Multimodal.imageMeta(bytes) ==
      Some(Multimodal.ImageMeta(w, h, 3, "gif")))
    // LOCAL color table variant (no GCT): identical decode, and the JDK
    // reader accepts it too.
    val lct = Multimodal.gifBytes(w, h, pixels, localTable = true)
    val Some((metaL, idxL, palL)) = Multimodal.gifDecode(lct)
    assert(metaL == meta && idxL.sameElements(pixels) && palL(9) == 0x090909)
    val imgL = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(lct))
    assert((imgL.getRGB(3, 2) & 0xff) == (pixels(2 * w + 3) & 0xff))
    // Stats: identity palette means all three channels equal the grey mean.
    val Some((_, n, sums, sqs)) = Multimodal.gifChannelStats(bytes)
    assert(n == w * h && math.abs(sums(0) - sums(2)) < 1e-12)
    // Garbage, truncation, interlace decline.
    assert(Multimodal.gifDecode("garbage-that-is-long-enough".getBytes) == None)
    assert(Multimodal.gifDecode(bytes.take(200)) == None)
    val interlaced = bytes.clone()
    // image descriptor packed byte: 6 (sig) + 7 (LSD) + 768 (GCT) + 8 (GCE)
    // + 9 bytes into the descriptor
    val descAt = 6 + 7 + 768 + 8
    assert((interlaced(descAt) & 0xff) == 0x2c)
    interlaced(descAt + 9) = 0x40.toByte
    assert(Multimodal.gifDecode(interlaced) == None)
  }

  test("aviFrames demuxes movi chunks; mjpegFrameStats decodes each frame") {
    val f0 = Multimodal.jpegBytes(16, 16, Array(10, 20, 30, 40))
    val f1 = Multimodal.jpegBytes(16, 16, Array(50, 60, 70, 80))
    val odd = Array.tabulate(7)(_.toByte) // odd-length frame: WORD padding
    val avi = Multimodal.aviBytes(40000, 3, 16, 16, withAudio = false,
      frames = Seq(f0, odd, f1))
    val frames = Multimodal.aviFrames(avi)
    assert(frames.length == 3)
    assert(frames(0).sameElements(f0) && frames(1).sameElements(odd) &&
           frames(2).sameElements(f1))
    // metadata walk still skips movi payloads
    assert(Multimodal.aviMeta(avi).map(_.codec) == Some("mjpg"))
    // mjpeg decode: non-JPEG frame dropped, JPEG frames decode exactly
    // (DC-only constant blocks are lossless; mean = avg block / 255).
    val stats = Multimodal.mjpegFrameStats(avi)
    assert(stats.map(_._1) == Seq(0, 2))
    val (_, m0, n0, s0, _) = stats(0)
    assert(m0 == Multimodal.ImageMeta(16, 16, 1, "jpeg") && n0 == 256)
    assert(math.abs(s0(0) / n0 - (10 + 20 + 30 + 40) / 4.0 / 255) < 1e-12)
    assert(Multimodal.aviFrames("garbage-that-is-long-enough".getBytes).isEmpty)
  }

  test("jpeg subsampled decode: 4:2:0 and 4:2:2 MCUs, ImageIO-pinned") {
    // 32×24 4:2:0: MCU grid 2×2 (16×16 px MCUs); Y plane 32×24 = 4×3
    // in-bounds blocks of the 4×4 padded grid; chroma planes 16×12.
    def dcBlk(v: Int) = { val c = new Array[Int](64); c(0) = 8 * (v - 128); c }
    def yVal(bx: Int, by: Int) = if (by >= 3) 77 else 16 + bx * 8 + by * 4
    val mcus420 = Array.tabulate(4) { m =>
      val mx = m % 2; val my = m / 2
      val yB = Array.tabulate(4)(k => dcBlk(yVal(mx * 2 + k % 2, my * 2 + k / 2)))
      Array(yB, Array(dcBlk(128)), Array(dcBlk(128)))
    }
    val b420 = Multimodal.jpegBytesSampled(32, 24,
      Array((2, 2), (1, 1), (1, 1)), mcus420)
    val Some((meta, n, sums, sqs)) = Multimodal.jpegChannelStats(b420)
    assert(meta == Multimodal.ImageMeta(32, 24, 3, "jpeg"))
    assert(n == 32 * 24) // Y-plane pixels; pad blocks not counted
    val expMeanY = (for (by <- 0 until 3; bx <- 0 until 4)
      yield yVal(bx, by)).sum / 12.0 / 255
    assert(math.abs(sums(0) / n - expMeanY) < 1e-12)
    // chroma stats are over the component's own 16×12 plane
    assert(math.abs(sums(1) / (16 * 12) - 128.0 / 255) < 1e-12)
    // ImageIO (independent decoder) accepts the stream; neutral chroma
    // means every RGB channel equals the Y constant of its 8×8 block.
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(b420))
    assert(img.getWidth == 32 && img.getHeight == 24)
    for (y <- 0 until 24; x <- 0 until 32)
      assert((img.getRGB(x, y) & 0xff) == yVal(x / 8, y / 8),
             s"ImageIO mismatch at ($x,$y)")
    // 16×8 4:2:2: MCU 16×8, grid 1×1, 2 Y blocks + 1 Cb + 1 Cr.
    val b422 = Multimodal.jpegBytesSampled(16, 8,
      Array((2, 1), (1, 1), (1, 1)),
      Array(Array(Array(dcBlk(40), dcBlk(200)),
                  Array(dcBlk(128)), Array(dcBlk(128)))))
    val Some((m2, n2, s2, _)) = Multimodal.jpegChannelStats(b422)
    assert(m2.width == 16 && n2 == 128)
    assert(math.abs(s2(0) / n2 - (40 + 200) / 2.0 / 255) < 1e-12)
    val i2 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b422))
    assert((i2.getRGB(0, 0) & 0xff) == 40 && (i2.getRGB(8, 0) & 0xff) == 200)
  }

  test("progressive jpeg decode matches baseline decode of the same coefficients") {
    // Deterministic coefficient blocks exercising negatives, ZRL (>16-gap
    // runs in the 6..63 band), empty bands (EOB), and odd/even DC values
    // (both DC-refinement bit paths, including two's-complement negatives).
    val (w, h) = (32, 24); val nb = (w / 8) * (h / 8)
    def blocks(c: Int): Array[Array[Int]] = Array.tabulate(nb) { b =>
      val z = new Array[Int](64)
      z(0) = ((b * 37 + c * 191) % 256) - 128 // DC: odd and even, signed
      if (b % 3 == 0) z(2) = 7 - (b % 5) * 3  // band 1..5, signed
      if (b % 4 == 1) { z(6) = 5; z(30) = -9 } // band 6..63 with a 23-gap ZRL
      if (b % 4 == 3) z(63) = 1               // band tail
      z
    }
    for (nComp <- Seq(1, 3)) {
      val comps = Array.tabulate(nComp)(blocks)
      val prog = Multimodal.jpegBytesProgressive(w, h, comps)
      // it IS a progressive stream (SOF2 marker present, SOF0 absent)
      assert(prog.sliding(2).exists(p => (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xc2))
      val base =
        if (nComp == 1) Multimodal.jpegBytesFromCoefs(w, h, comps(0))
        else Multimodal.jpegBytesInterleaved(w, h,
          Array.tabulate(nb)(b => Array.tabulate(nComp)(c => comps(c)(b))))
      val Some((mp, np, sp, qp)) = Multimodal.jpegChannelStats(prog)
      val Some((mb, nbPix, sb, qb)) = Multimodal.jpegChannelStats(base)
      assert(mp == Multimodal.ImageMeta(w, h, nComp, "jpeg"))
      assert(np == nbPix)
      (0 until nComp).foreach { c =>
        assert(math.abs(sp(c) - sb(c)) < 1e-9, s"comp $c sums differ")
        assert(math.abs(qp(c) - qb(c)) < 1e-9, s"comp $c sqs differ")
      }
      // header-only metadata sees SOF2 dims
      assert(Multimodal.imageMeta(prog) ==
        Some(Multimodal.ImageMeta(w, h, nComp, "jpeg")))
    }
  }

  test("progressive jpeg decode handles an ImageIO-written stream (AC refinement)") {
    // The JDK's JPEG writer emits libjpeg's standard progressive scan
    // script — spectral selection AND AC successive approximation with
    // EOBn>0 run codes — none of which our own encoder produces, so this
    // pins the decoder's AC-refinement and EOB-run-batch paths against an
    // independent implementation.
    val (w, h) = (48, 32)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 7 + y * 11 + (x * y) % 13) % 256
      img.getRaster.setSample(x, y, 0, v)
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios); writer.write(null,
      new javax.imageio.IIOImage(img, null, null), params)
    ios.close(); writer.dispose()
    val bytes = bos.toByteArray
    assume(bytes.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xc2),
      "JDK writer did not emit progressive; nothing to test")
    val Some((meta, n, sums, _)) = Multimodal.jpegChannelStats(bytes)
    assert(meta.width == w && meta.height == h && n == w * h)
    // Compare against ImageIO's own decode of the same bytes. Both
    // decoders' outputs differ only by IDCT rounding (ours is exact
    // double-precision; libjpeg's is an integer approximation), so means
    // agree to well under one grey level.
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    var refSum = 0.0
    for (y <- 0 until h; x <- 0 until w)
      refSum += (back.getRaster.getSample(x, y, 0)) / 255.0
    assert(math.abs(sums(0) / n - refSum / (w * h)) < 0.5 / 255,
           s"mean ${sums(0) / n} vs ImageIO ${refSum / (w * h)}")
  }

  test("png Adam7 interlace round-trips and matches the JDK's decoder") {
    // 21×13 RGB: dimensions NOT multiples of 8, so several passes have
    // ragged reduced images and pass 2 (x0=4 < 21) etc. all non-empty.
    val (w, h, ch) = (21, 13, 3)
    val pixels = Array.tabulate(w * h * ch)(i => ((i * 31 + 7) % 256).toByte)
    val bytes = Multimodal.pngBytes(w, h, ch, pixels,
      filterOf = r => r % 5, interlaced = true)
    // interlace flag set in IHDR
    assert(bytes(28) == 1)
    val Some((meta, n, sums, sqs)) = Multimodal.pngChannelStats(bytes)
    assert(meta == Multimodal.ImageMeta(w, h, ch, "png"))
    assert(n == w * h) // every pixel decoded exactly once across 7 passes
    // stats equal the direct pixel-formula stats (pass scatter is a
    // permutation of the image, sums are order-independent)
    val expSum = (0 until w * h).map(p => ((3 * p) * 31 + 7) % 256).sum / 255.0
    assert(math.abs(sums(0) - expSum) < 1e-9)
    // The JDK ImageIO PNG reader agrees pixel-for-pixel — proves the
    // emitted pass order/geometry is real Adam7, not a private layout.
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    assert(img.getWidth == w && img.getHeight == h)
    for (y <- 0 until h; x <- 0 until w) {
      val base = (y * w + x) * ch
      val exp = ((pixels(base) & 0xff) << 16) |
        ((pixels(base + 1) & 0xff) << 8) | (pixels(base + 2) & 0xff)
      assert((img.getRGB(x, y) & 0xffffff) == exp, s"ImageIO at ($x,$y)")
    }
    // An ImageIO-WRITTEN interlaced PNG decodes with our decoder too
    // (independent encoder pins the decoder side).
    val big = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val base = (y * w + x) * ch
      big.setRGB(x, y, ((pixels(base) & 0xff) << 16) |
        ((pixels(base + 1) & 0xff) << 8) | (pixels(base + 2) & 0xff))
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val params = writer.getDefaultWriteParam
    try params.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    catch { case _: UnsupportedOperationException => () }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(big, null, null), params)
    ios.close(); writer.dispose()
    val jdkPng = bos.toByteArray
    if (jdkPng(28) == 1) { // writer honored interlacing
      val Some((m2, n2, s2, _)) = Multimodal.pngChannelStats(jdkPng)
      assert(n2 == w * h && math.abs(s2(0) - expSum) < 1e-9)
    }
    // truncated interlaced stream: partial-pass honesty, no misread
    val cut = bytes.take(bytes.length / 2)
    Multimodal.pngChannelStats(cut).foreach { case (_, n3, _, _) =>
      assert(n3 <= w * h)
    }
  }

  test("tiffMeta walks IFD chains in both byte orders, ImageIO-pinned") {
    for (le <- Seq(true, false)) {
      val b = Multimodal.tiffBytes(640, 480, 3, 8, pages = 3,
                                   littleEndian = le)
      val Some((meta, pages, bps)) = Multimodal.tiffMeta(b)
      assert(meta == Multimodal.ImageMeta(640, 480, 3, "tiff"))
      assert(pages == 3 && bps == 8)
      // JDK ImageIO TIFF reader (independent) agrees on dims + page count
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(b))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      assert(readers.hasNext, "JDK TIFF reader missing")
      val rd = readers.next(); rd.setInput(iis)
      assert(rd.getWidth(0) == 640 && rd.getHeight(0) == 480)
      assert(rd.getNumImages(true) == 3)
      rd.dispose(); iis.close()
    }
    // single-channel inline BitsPerSample; 16-bit depth
    val grey = Multimodal.tiffBytes(32, 16, 1, 16, 1, littleEndian = true)
    assert(Multimodal.tiffMeta(grey).map(t => (t._1.channels, t._3)) ==
      Some((1, 16)))
    assert(Multimodal.tiffMeta("garbage-that-is-long-enough".getBytes) == None)
    assert(Multimodal.tiffMeta(Multimodal.bmpBytes(4, 4, Array.empty)) == None)
  }

  test("webpMeta parses VP8 / VP8L / VP8X headers") {
    val lossy = Multimodal.webpBytes(320, 240, "VP8 ")
    assert(Multimodal.webpMeta(lossy) ==
      Some(Multimodal.ImageMeta(320, 240, 3, "webp")))
    val lossless = Multimodal.webpBytes(16383, 100, "VP8L", alpha = true)
    assert(Multimodal.webpMeta(lossless) ==
      Some(Multimodal.ImageMeta(16383, 100, 4, "webp")))
    val ext = Multimodal.webpBytes(4000, 3000, "VP8X")
    assert(Multimodal.webpMeta(ext) ==
      Some(Multimodal.ImageMeta(4000, 3000, 3, "webp")))
    // corrupted start code declines
    val bad = lossy.clone(); bad(23) = 0x00
    assert(Multimodal.webpMeta(bad) == None)
    assert(Multimodal.webpMeta(Multimodal.aviBytes(40000, 1, 8, 8, false))
      == None)
  }

  test("flacMeta unpacks STREAMINFO bit fields and walks the block chain") {
    val b = Multimodal.flacBytes(44100, 2, 16, totalSamples = 441000,
                                 extraBlocks = 2)
    val Some((meta, total, dur, nBlocks)) = Multimodal.flacMeta(b)
    assert(meta == Multimodal.AudioMeta(44100, 2, 16, -1))
    assert(total == 441000 && math.abs(dur - 10.0) < 1e-12 && nBlocks == 3)
    // 20-bit rate and 36-bit total-sample boundaries survive the packing
    val hi = Multimodal.flacBytes(655350, 8, 32, (1L << 36) - 1)
    val Some((m2, t2, _, n2)) = Multimodal.flacMeta(hi)
    assert(m2 == Multimodal.AudioMeta(655350, 8, 32, -1))
    assert(t2 == (1L << 36) - 1 && n2 == 1)
    assert(Multimodal.flacMeta(Multimodal.mp3Bytes(2)) == None)
    assert(Multimodal.flacMeta(b.take(20)) == None)
  }

  test("tar/zip shard walk round-trips; tar pinned against the system tar") {
    val entries = Seq(
      ("a.txt", "hello shard".getBytes("UTF-8")),
      ("sub/b.bin", Array.tabulate(700)(i => (i * 7).toByte)), // >1 block
      ("c.jpg", Multimodal.jpegBytes(16, 8, Array(10, 200))))
    val tar = Multimodal.tarBytes(entries)
    val back = Multimodal.tarEntries(tar)
    assert(back.map(_._1) == entries.map(_._1))
    back.zip(entries).foreach { case ((_, d), (_, e)) =>
      assert(d.sameElements(e))
    }
    // checksum validation: corrupt one header byte -> walk stops
    val bad = tar.clone(); bad(20) = 'z'.toByte
    assert(Multimodal.tarEntries(bad).isEmpty)
    // Independent pin: the SYSTEM tar lists and extracts our archive...
    val dir = java.nio.file.Files.createTempDirectory("tarspec")
    val tf = dir.resolve("t.tar")
    java.nio.file.Files.write(tf, tar)
    import scala.sys.process._
    val listed = Seq("tar", "-tf", tf.toString).!!.trim.split("\n").toSeq
    assert(listed == entries.map(_._1))
    assert(Seq("tar", "-xf", tf.toString, "-C", dir.toString).! == 0)
    assert(java.nio.file.Files.readAllBytes(dir.resolve("sub/b.bin"))
      .sameElements(entries(1)._2))
    // ...and we parse a SYSTEM-tar-created archive (ustar format).
    java.nio.file.Files.write(dir.resolve("x.txt"),
      "from system tar".getBytes("UTF-8"))
    assert(Seq("tar", "--format=ustar", "-cf", dir.resolve("s.tar").toString,
               "-C", dir.toString, "x.txt").! == 0)
    val sys = Multimodal.tarEntries(
      java.nio.file.Files.readAllBytes(dir.resolve("s.tar")))
    assert(sys.exists { case (n, d) =>
      n.endsWith("x.txt") && new String(d, "UTF-8") == "from system tar" })
    // zip: JDK round trip + non-zip declines
    val zip = Multimodal.zipBytes(entries)
    val Some(ze) = Multimodal.zipEntries(zip)
    assert(ze.map(_._1) == entries.map(_._1))
    ze.zip(entries).foreach { case ((_, d), (_, e)) =>
      assert(d.sameElements(e))
    }
    assert(Multimodal.zipEntries(tar) == None)
  }

  test("bmp RLE8 decode round-trips both encoded modes, ImageIO-pinned") {
    val (w, h) = (21, 6)
    val pixels = Array.tabulate(w * h) { i =>
      if (i % 9 < 4) 50.toByte else ((i * 13) % 256).toByte // runs + noise
    }
    val b = Multimodal.bmpBytesRle8(w, h, pixels)
    val Some((meta, n, sums, _)) = Multimodal.bmpChannelStats(b)
    assert(meta == Multimodal.ImageMeta(w, h, 3, "bmp"))
    assert(n == w * h)
    val exp = pixels.map(p => (p & 0xff) / 255.0).sum
    assert(math.abs(sums(0) - exp) < 1e-9 && math.abs(sums(2) - exp) < 1e-9)
    // JDK ImageIO BMP reader (independent) decodes the same pixels —
    // bottom-up: image row r = storage row (h-1-r). Raw raster samples
    // (getRGB would colorspace-convert; with the identity palette the
    // sample IS the grey level).
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(b))
    assert(img.getWidth == w && img.getHeight == h)
    for (yy <- 0 until h; xx <- 0 until w) {
      val want = pixels((h - 1 - yy) * w + xx) & 0xff
      assert(img.getRaster.getSample(xx, yy, 0) == want,
             s"ImageIO at ($xx,$yy)")
    }
    // the uncompressed 24bpp path is untouched by the new branch
    assert(Multimodal.bmpChannelStats(
      Multimodal.bmpBytes(4, 4, Array.fill(64)(7.toByte))).isDefined)
    // header truncated inside the palette (biClrUsed=0 defaults to 256
    // entries, needing 54+1024 bytes): None, not a thrown index error
    assert(Multimodal.bmpChannelStats(b.take(100)) == None)
  }

  test("oggMeta walks real pages with CRC verification (opus and vorbis)") {
    val opus = Multimodal.oggBytes("opus", channels = 2, rate = 48000,
      preskip = 312, audioPages = 5, granulePerPage = 9600)
    val Some((m, pages, dur, codec)) = Multimodal.oggMeta(opus)
    assert(codec == "opus" && m.channels == 2 && m.sampleRate == 48000)
    assert(pages == 7) // BOS + tags + 5 audio
    assert(math.abs(dur - (5 * 9600 - 312) / 48000.0) < 1e-12)
    val vorbis = Multimodal.oggBytes("vorbis", 1, 44100, 0, 3, 44100)
    val Some((mv, pv, dv, cv)) = Multimodal.oggMeta(vorbis)
    assert(cv == "vorbis" && mv.sampleRate == 44100 && pv == 5)
    assert(math.abs(dv - 3.0) < 1e-12)
    // CRC verification: one flipped payload byte stops the walk there
    val bad = opus.clone(); bad(bad.length - 3) = 0x7f
    val Some((_, pBad, _, _)) = Multimodal.oggMeta(bad)
    assert(pBad == 6) // final page rejected
    assert(Multimodal.oggMeta(Multimodal.mp3Bytes(2)) == None)
    assert(Multimodal.oggMeta("OggSnot really".getBytes) == None)
  }

  test("png palette and 16-bit depth decode, ImageIO-pinned") {
    // palette (color type 3): grey identity PLTE, all 5 filters
    val (w, h) = (19, 11)
    val idx = Array.tabulate(w * h)(i => ((i * 37 + 5) % 256).toByte)
    val p8 = Multimodal.pngBytesPalette(w, h, idx, r => r % 5)
    val Some((m1, n1, s1, _)) = Multimodal.pngChannelStats(p8)
    assert(m1 == Multimodal.ImageMeta(w, h, 3, "png")) // palette → RGB
    assert(n1 == w * h)
    val expSum = idx.map(b => (b & 0xff) / 255.0).sum
    assert(math.abs(s1(0) - expSum) < 1e-9 &&
           math.abs(s1(2) - expSum) < 1e-9)
    val img1 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(p8))
    for (y <- 0 until h; x <- 0 until w)
      assert((img1.getRGB(x, y) & 0xff) == (idx(y * w + x) & 0xff))
    // 16-bit grey: big-endian samples, byte-level filtering (bpp=2)
    val s16 = Array.tabulate(w * h)(i => (i * 9973 + 11) % 65536)
    val p16 = Multimodal.pngBytes16(w, h, 1, s16, r => (r + 2) % 5)
    val Some((m2, n2, sum2, _)) = Multimodal.pngChannelStats(p16)
    assert(m2 == Multimodal.ImageMeta(w, h, 1, "png"))
    assert(n2 == w * h)
    val exp16 = s16.map(_ / 65535.0).sum
    assert(math.abs(sum2(0) - exp16) < 1e-9)
    val img2 = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(p16))
    for (y <- 0 until h; x <- 0 until w)
      assert(img2.getRaster.getSample(x, y, 0) == s16(y * w + x),
             s"16-bit at ($x,$y)")
    // interlaced palette also round-trips
    val p8i = Multimodal.pngBytesPalette(w, h, idx, r => r % 5,
                                         interlaced = true)
    val Some((_, n3, s3, _)) = Multimodal.pngChannelStats(p8i)
    assert(n3 == w * h && math.abs(s3(0) - expSum) < 1e-9)
  }

  test("audioMeta parses canonical WAV headers; rejects garbage") {
    // Builder round-trip: 8 kHz stereo 16-bit, 32 bytes = 8 frames.
    val wav = Multimodal.wavBytes(8000, 2, 16, Array.fill(32)(3.toByte))
    assert(Multimodal.audioMeta(wav) ==
      Some(Multimodal.AudioMeta(8000, 2, 16, 8)))
    // declaredLen overrides the data-chunk length (synthetic-corpus path).
    val hdr = Multimodal.wavBytes(16000, 1, 16, Array.empty, declaredLen = 212)
    assert(Multimodal.audioMeta(hdr) ==
      Some(Multimodal.AudioMeta(16000, 1, 16, 106)))
    // Garbage / truncated / image payloads -> None.
    assert(Multimodal.audioMeta(Array[Byte]()) == None)
    assert(Multimodal.audioMeta("RIFFnot really a wav".getBytes) == None)
    assert(Multimodal.audioMeta(wav.take(40)) == None)
    assert(Multimodal.audioMeta(
      Multimodal.bmpBytes(4, 4, Array.empty)) == None)
  }
}
