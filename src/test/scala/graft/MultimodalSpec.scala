package graft

import graft.operators.{Enrich, Multimodal}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Multimodal plumbing (binary ingest → label/embed/anonymize) and
  * enrichment (lang-detect / conditional-translate / resume) semantics.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** Real encoded images: six PNGs rendered by syntheticImage, one
    * grayscale PNG (the reference's B/W-skip case), one corrupt file.
    */
  private lazy val imageDir: String = {
    val dir = java.nio.file.Paths.get(graft.queries.Dsl.tempDir("graft-img"))
    (1 to 6).foreach { i =>
      Files.write(dir.resolve(s"img_$i.png"), Multimodal.syntheticImage(i.toLong))
    }
    val bw = new java.awt.image.BufferedImage(10, 10,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bw, "png", bos)
    Files.write(dir.resolve("bw.png"), bos.toByteArray)
    Files.write(dir.resolve("corrupt.jpg"), Array.tabulate[Byte](40)(j => (j * 7).toByte))
    dir.toString
  }

  private val model = Multimodal.ImageIoVisionModel()

  private def constImage(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (r << 16) | (g << 8) | b)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("binaryFile ingest exposes (image, length, content)") {
    val df = Multimodal.readImages(spark, imageDir)
    assert(df.columns.toSeq == Seq("image", "length", "content"))
    assert(df.count() == 8)
    val r = df.filter($"image" === "img_3.png").head()
    assert(r.getAs[Long]("length") ==
      r.getAs[Array[Byte]]("content").length.toLong)
  }

  test("labelImages decodes real pixels: top-5 + argmax, B/W and corrupt rows skipped") {
    val imgs = Multimodal.readImages(spark, imageDir)
    val labels = Multimodal.labelImages(imgs, model, batchSize = 2)
    val out = Multimodal.joinSceneDim(labels, Multimodal.sceneDim(spark))
    // grayscale and corrupt inputs dropped with the reference's skip
    // semantics, never task failures
    assert(labels.count() == 6)
    assert(labels.filter($"image".isin("bw.png", "corrupt.jpg")).count() == 0)
    val r = out.filter($"image" === "img_1.png").head()
    val preds = r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("predictions"))
    assert(preds.length == 5)
    val probs = preds.map(_.getAs[Double]("prob"))
    assert(probs == probs.sortBy(-1 * _))
    assert(probs.sum > 0.5 && probs.sum <= 1.0 + 1e-12) // softmax mass
    assert(r.getAs[String]("category") == preds.head.getAs[String]("label"))
    assert(Set("indoor", "outdoor")(r.getAs[String]("environment")))
    // determinism across runs and partitionings
    val again = Multimodal.labelImages(imgs.repartition(3), model, batchSize = 1)
      .select("image", "category").as[(String, String)].collect().toMap
    val first = labels.select("image", "category").as[(String, String)].collect().toMap
    assert(again == first)
  }

  test("embedImages pools real pixels into fixed-dim vectors") {
    val imgs = Multimodal.readImages(spark, imageDir)
    val emb = Multimodal.embedImages(imgs, model)
    assert(emb.count() == 6) // bw + corrupt skipped
    val dims = emb.select(size($"embedding")).as[Int].collect()
    assert(dims.forall(_ == model.dim))
    // constant-color image ⇒ every pooled cell is exactly (r+g+b)/768
    val const = Seq(("c.png", constImage(8, 8, 10, 20, 30))).toDF("image", "content")
    val v = Multimodal.embedImages(const, model).head().getSeq[Float](1)
    assert(v.forall(_ == 60.0f / 768.0f))
  }

  test("anonymizeImages applies the reference's block-mean pixelation to the face box") {
    // 40×40, left half black, right half white; face box x,y ∈ [10,30)
    val img = new java.awt.image.BufferedImage(40, 40,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 40; x <- 0 until 40)
      img.setRGB(x, y, if (x < 20) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq(("split.png", bos.toByteArray)).toDF("image", "content")
    val outBytes = Multimodal.anonymizeImages(df, model).head().getAs[Array[Byte]]("content")
    val out = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(outBytes))
    // outside the face box: untouched
    assert((out.getRGB(5, 5) & 0xffffff) == 0x000000)
    assert((out.getRGB(35, 5) & 0xffffff) == 0xffffff)
    // middle block column (linspace [6,13) + box offset 10 → x∈[16,23)):
    // 4 black + 3 white columns → truncated mean 255*18/42 = 109 per channel
    assert((out.getRGB(17, 12) & 0xffffff) == 0x6d6d6d)
    // first block column all black, last all white — mean-fill preserves them
    assert((out.getRGB(11, 12) & 0xffffff) == 0x000000)
    assert((out.getRGB(26, 12) & 0xffffff) == 0xffffff)
    // corrupt input passes through unchanged
    val garbage = Array.tabulate[Byte](16)(_.toByte)
    assert(model.anonymize(garbage) sameElements garbage)
  }

  test("writeImages round-trips anonymized binaries through the sink") {
    val imgs = Multimodal.readImages(spark, imageDir)
    val anon = Multimodal.anonymizeImages(imgs, model)
    val outDir = graft.queries.Dsl.tempDir("graft-img-out")
    Multimodal.writeImages(anon, outDir)
    val back = Multimodal.readImages(spark, outDir)
    assert(back.count() == imgs.count())
    val a = anon.filter($"image" === "img_4.png").head().getAs[Array[Byte]]("content")
    val b = back.filter($"image" === "img_4.png").head().getAs[Array[Byte]]("content")
    assert(a sameElements b)
  }

  test("detectLanguage scores marker families with empty sentinel") {
    val df = Seq(
      (1L, "data row column table join"), // datish 4/5
      (2L, ""),
      (3L, "stream batch value")).toDF("id", "text")
    val asMap = df.select($"id", Enrich.detectLanguage($"text").as("d"))
      .select($"id", $"d.lang", $"d.score").as[(Long, String, Double)].collect()
      .map { case (k, l, s) => k -> (l, s) }.toMap
    assert(asMap(1L)._1 == "datish" && asMap(1L)._2 == 0.8)
    assert(asMap(2L) == ("empty", 1.0))
    assert(asMap(3L)._1 == "streamish" && asMap(3L)._2 == 1.0)
  }

  test("translateColumn translates only low-confidence / foreign rows") {
    val dict = Enrich.DictTranslator(Map("strom" -> "stream", "tabelle" -> "table"))
    val df = Seq(
      (1L, "data row column table join"), // datish, score 0.8 < 0.9 → translated (identity)
      (2L, "stream batch value vector"),  // streamish 1.0 — but target is datish → translated
      (3L, "strom tabelle")).toDF("id", "text")
    val out = Enrich.translateColumn(df, "text", "text_en", "datish", dict)
    val m = out.select($"id", $"text_en").as[(Long, String)].collect().toMap
    assert(m(3L) == "stream table") // dictionary applied
    assert(m(1L) == "data row column table join")
    assert(m(2L) == "stream batch value vector") // pass-through tokens
  }

  test("resumeTranslation keeps existing rows and fills only the gap") {
    val dict = Enrich.DictTranslator(Map("strom" -> "stream"))
    val input = Seq((1L, "strom a"), (2L, "strom b")).toDF("id", "text")
    val existing = Seq((1L, "ALREADY DONE")).toDF("id", "text_en")
    val out = Enrich.resumeTranslation(input, existing, "id", "text", "text_en", "datish", dict)
    val m = out.select($"id", $"text_en").as[(Long, String)].collect().toMap
    assert(m(1L) == "ALREADY DONE") // untouched — no re-translation
    assert(m(2L) == "stream b")
  }

  test("WavAudioModel round-trips synthetic PCM exactly; corrupt bytes skip as None") {
    val m = Multimodal.WavAudioModel()
    val wav = Multimodal.syntheticWav(42L)
    val samples = m.decodeSamples(wav).get
    assert(samples.length == (1000 + 42 % 500))
    // decoded samples equal the generator formula bit-for-bit
    samples.zipWithIndex.foreach { case (s, t) =>
      assert(s == Math.floorMod(37L * t + 11L * 42L, 65536L) - 32768L)
    }
    val (n, absSum, zc, cells) = m.frameStats(wav).get
    assert(n == samples.length)
    assert(absSum == samples.map(s => math.abs(s).toLong).sum)
    assert(cells.sum == absSum)
    assert(zc == samples.sliding(2).count(p => (p(0) >= 0) != (p(1) >= 0)))
    // failure policy: garbage → None, never a throw
    assert(m.decodeSamples("not a wav".getBytes).isEmpty)
    assert(m.frameStats(Array.emptyByteArray).isEmpty)
  }

  test("WAVE and AIFF containers of the same PCM decode identically (i09's premise)") {
    val m = Multimodal.WavAudioModel()
    val wav = Multimodal.syntheticWavAs(42L, aiff = false)
    val aiff = Multimodal.syntheticWavAs(42L, aiff = true)
    // entirely different bytes (container + endianness), so byte-level
    // dedup is blind to the pair ...
    assert(!java.util.Arrays.equals(wav, aiff))
    // ... but the container-agnostic decode lands on the same samples
    assert(java.util.Arrays.equals(m.decodeSamples(wav).get, m.decodeSamples(aiff).get))
    val (n1, a1, z1, c1) = m.frameStats(wav).get
    val (n2, a2, z2, c2) = m.frameStats(aiff).get
    assert(n1 == n2 && a1 == a2 && z1 == z2 && c1.toSeq == c2.toSeq)
  }

  test("VisionModel seam: a second (ONNX-shaped) backend drops in; batches reach it") {
    VisionBatchProbe.reset()
    val imgs = Multimodal.readImages(spark, imageDir).repartition(1)
    val stub = StubOnnxVisionModel()
    val labels = Multimodal.labelImages(imgs, stub, batchSize = 3)
      .select("image", "category").as[(String, String)].collect().toMap
    // distinct backend, same operator: outputs are the stub's, not the
    // deterministic head's
    assert(labels.values.toSet == Set("onnx_scene"))
    // same corrupt→skip contract, the stub's own skip criterion
    assert(!labels.contains("corrupt.jpg"))
    assert(labels.size == 7) // 6 synthetic + bw kept, corrupt dropped
    // the partition's rows reached the backend as real batches
    val sizes = {
      import scala.jdk.CollectionConverters._
      VisionBatchProbe.labelSizes.asScala.toSeq
    }
    assert(sizes.sum == 8 && sizes.max == 3 && sizes.forall(_ <= 3),
      s"expected 3-bounded batches covering all rows, got $sizes")
    val emb = Multimodal.embedImages(imgs, stub, batchSize = 4)
      .select("embedding").as[Seq[Float]].collect()
    assert(emb.length == 7 && emb.forall(_ == Seq(0.25f, 0.25f, 0.25f, 0.25f)))
  }

  /** The r12 i02-variance fix, pinned: ImageIO defaults to DISK-backed
    * stream caches (a temp file created+deleted per in-memory
    * encode/decode), which made codec-heavy queries ride the scratch
    * filesystem's state — the r11 unchanged-code 3× mover. Multimodal's
    * class initializer turns it off; if this regresses, per-row codec
    * cost becomes machine-state-dependent again.
    */
  test("ImageIO stream caches stay in memory (the i02 variance fix)") {
    Multimodal.syntheticImage(1L) // force the object initializer
    assert(!javax.imageio.ImageIO.getUseCache)
  }

  /** i10's chunk-level contract, which the gate's pixel oracle cannot
    * see: the injected metadata really is present before and really is
    * gone after; critical chunks pass through byte-identical; non-PNG
    * bytes pass through untouched.
    */
  test("PNG metadata strip removes ancillary chunks, keeps critical bytes and pixels (i10)") {
    val png = Multimodal.syntheticImage(7L)
    val tagged = Multimodal.pngWithText(png, "Comment", "gps-or-serial")
    assert(Multimodal.pngChunkTypes(tagged).contains("tEXt"))
    assert(new String(tagged, "ISO-8859-1").contains("gps-or-serial"))
    // the tagged file is still a valid PNG (decoders tolerate tEXt)
    val m = Multimodal.ImageIoVisionModel()
    assert(m.channelSums(tagged) == m.channelSums(png))
    val stripped = Multimodal.stripPngMetadata(tagged)
    assert(!Multimodal.pngChunkTypes(stripped).contains("tEXt"))
    assert(!new String(stripped, "ISO-8859-1").contains("gps-or-serial"))
    // pixels bit-identical through the scrub (no decode/re-encode)
    assert(m.channelSums(stripped) == m.channelSums(png))
    // critical chunk sequence preserved
    val crit = Set("IHDR", "PLTE", "IDAT", "IEND")
    assert(Multimodal.pngChunkTypes(stripped).filter(crit) ==
      Multimodal.pngChunkTypes(png).filter(crit))
    // the strip composes over mixed binary columns: non-PNG is identity
    val junk = Array[Byte](1, 2, 3, 4)
    assert(Multimodal.stripPngMetadata(junk).toSeq == junk.toSeq)
    assert(Multimodal.pngChunkTypes(junk).isEmpty)
  }
}

/** Batch-observation probe for the VisionModel seam spec (static: local
  * executors share the test JVM).
  */
object VisionBatchProbe {
  val labelSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  def reset(): Unit = labelSizes.clear()
}

/** Fake-but-distinct second backend standing in for an ONNX/DJL session:
  * overrides the BATCH entry points (one "forward pass" per group) the
  * way a GPU impl would, with its own skip criterion — proving the
  * operators depend only on the [[Multimodal.VisionModel]] contract.
  */
final case class StubOnnxVisionModel() extends Multimodal.VisionModel {
  private def ok(c: Array[Byte]) = c.length >= 64 // "decodable" per this backend
  def label(c: Array[Byte]): Option[Seq[(String, Double)]] =
    if (ok(c)) Some(Seq(("onnx_scene", 1.0))) else None
  def embed(c: Array[Byte]): Option[Array[Float]] =
    if (ok(c)) Some(Array.fill(dim)(0.25f)) else None
  def anonymize(c: Array[Byte]): Array[Byte] = c
  def dim: Int = 4
  override def labelBatch(cs: Seq[Array[Byte]]): Seq[Option[Seq[(String, Double)]]] = {
    VisionBatchProbe.labelSizes.add(cs.size)
    cs.map(label)
  }
}
