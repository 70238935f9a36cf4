package graft.operators.ml

import java.awt.image.BufferedImage
import graft.operators.image.BatchInference
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained visual-degradation scoring — the real-model replacement for
  * the md5 stub in [[graft.operators.image.VisualDegradations]]
  * (reference: operators/refiners/image_visual_degradations.py, a
  * multi-head NN over decoded pixels; models/image_quality_assessment
  * trains it).
  *
  * Zero-egress forbids downloading the reference checkpoint, so the
  * model here is trained IN-REPO by [[DegradationTrainer]]: real BMP
  * images are rendered in-memory (textured clean / box-blurred /
  * salt-and-pepper-noised via java.awt), real histogram features are
  * extracted, and MLlib LogisticRegression fits one head per
  * degradation. The fitted coefficients are frozen below (provenance:
  * `DegradationTrainer.main`, re-validated every build by
  * DegradationModelSpec which requires ≥90% held-out accuracy), and
  * inference runs through [[BatchInference.score]] — the same batched
  * mapPartitions slot a GPU model would occupy.
  */
object DegradationFeatures {

  val dim = 4

  /** [shannon entropy (bits) of the 256-bin histogram, log1p(count),
    * max-bin concentration, mean adjacent |Δvalue| / 255]. The gradient
    * term is what separates blur (low) from noise (high) — entropy alone
    * puts blur in a middle band no linear head can isolate. */
  def assemble(hist: Array[Long], total: Long,
      gradSum: Long, gradCount: Long): Array[Double] = {
    if (total == 0L) return Array(0.0, 0.0, 0.0, 0.0)
    var ent = 0.0
    var maxBin = 0L
    var i = 0
    while (i < 256) {
      val c = hist(i)
      if (c > 0) {
        val p = c.toDouble / total
        ent -= p * (math.log(p) / math.log(2.0))
      }
      if (c > maxBin) maxBin = c
      i += 1
    }
    val grad = if (gradCount == 0L) 0.0 else gradSum.toDouble / (gradCount * 255.0)
    Array(ent, math.log1p(total.toDouble), maxBin.toDouble / total, grad)
  }

  /** Raw-byte features — the fallback for payloads no codec can decode
    * (and the path a SQL oracle reproduces exactly): byte histogram plus
    * consecutive-byte gradient. */
  def fromBytes(bytes: Array[Byte]): Array[Double] = {
    if (bytes == null || bytes.isEmpty) return Array(0.0, 0.0, 0.0, 0.0)
    val hist = new Array[Long](256)
    var gradSum = 0L
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      hist(v) += 1
      if (i > 0) gradSum += math.abs(v - (bytes(i - 1) & 0xff))
      i += 1
    }
    assemble(hist, bytes.length.toLong, gradSum, (bytes.length - 1).toLong)
  }

  /** Decoded-pixel features (the real-image path, same Rec.601 luma as
    * ImageKernels.pixelEntropy): luminance histogram + horizontal
    * within-row luminance gradient. */
  def fromImage(img: BufferedImage): Array[Double] = {
    val hist = new Array[Long](256)
    val w = img.getWidth
    val h = img.getHeight
    var gradSum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      var prev = -1
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        hist(lum) += 1
        if (prev >= 0) gradSum += math.abs(lum - prev)
        prev = lum
        x += 1
      }
      y += 1
    }
    assemble(hist, w.toLong * h, gradSum, (w - 1).toLong * h)
  }

  /** Decode-preferring extraction: luminance histogram when the payload
    * is a decodable image, raw-byte histogram otherwise. */
  def fromAny(bytes: Array[Byte]): Array[Double] =
    if (bytes == null || bytes.isEmpty) Array(0.0, 0.0, 0.0, 0.0)
    else {
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        catch { case _: Exception => None }
      img.map(fromImage).getOrElse(fromBytes(bytes))
    }

  val dimExt = 7

  /** Extended vector for the cast/watermark heads: the 4 base features
    * (IDENTICAL values — the frozen blur/noise heads score
    * `ext.take(4)` unchanged) plus what those degradations move and
    * luminance stats cannot see:
    *   f4 = |mean(ch0) − mean(ch2)| / 255   (red↔blue imbalance)
    *   f5 = |2·mean(ch1) − mean(ch0) − mean(ch2)| / 510 (green imbalance)
    *   f6 = fraction of samples ≥ 192       (bright-overlay mass)
    * A color cast is a constant-direction chroma shift → f4/f5 jump; a
    * translucent white watermark adds high-luminance mass → f6 jumps. */
  private def extend(base: Array[Double], m0: Double, m1: Double, m2: Double,
      high: Long, total: Long): Array[Double] =
    if (total == 0L) base ++ Array(0.0, 0.0, 0.0)
    else base ++ Array(math.abs(m0 - m2) / 255.0,
      math.abs(2.0 * m1 - m0 - m2) / 510.0,
      high.toDouble / total)

  /** Raw-byte extended path (what a SQL oracle reproduces): channels =
    * byte position mod 3 (pseudo-RGB over the opaque payload), bright =
    * byte ≥ 192. */
  def fromBytesExt(bytes: Array[Byte]): Array[Double] = {
    val base = fromBytes(bytes)
    if (bytes == null || bytes.isEmpty) return base ++ Array(0.0, 0.0, 0.0)
    val sums = new Array[Long](3)
    val ns = new Array[Long](3)
    var high = 0L
    var i = 0
    while (i < bytes.length) {
      val v = bytes(i) & 0xff
      sums(i % 3) += v
      ns(i % 3) += 1
      if (v >= 192) high += 1
      i += 1
    }
    def m(k: Int): Double = if (ns(k) == 0L) 0.0 else sums(k).toDouble / ns(k)
    extend(base, m(0), m(1), m(2), high, bytes.length.toLong)
  }

  /** Decoded-pixel extended path: real per-channel means + Rec.601
    * high-luminance fraction. */
  def fromImageExt(img: BufferedImage): Array[Double] = {
    val base = fromImage(img)
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L; var high = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val gg = (rgb >> 8) & 0xff; val b = rgb & 0xff
        sr += r; sg += gg; sb += b
        if ((r * 299 + gg * 587 + b * 114) / 1000 >= 192) high += 1
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    extend(base, sr.toDouble / n, sg.toDouble / n, sb.toDouble / n, high, n)
  }

  def fromAnyExt(bytes: Array[Byte]): Array[Double] =
    if (bytes == null || bytes.isEmpty) new Array[Double](dimExt)
    else {
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        catch { case _: Exception => None }
      img.map(fromImageExt).getOrElse(fromBytesExt(bytes))
    }
}

/** One logistic head: σ(w·f + b). Weight length is the head's feature
  * dim: 4 for the base (blur/noise/aigc) heads, 7 ([[DegradationFeatures.dimExt]])
  * for the cast/watermark heads. */
case class LinearHead(name: String, weights: Array[Double], bias: Double) {
  require(weights.length == DegradationFeatures.dim ||
    weights.length == DegradationFeatures.dimExt)
  def score(f: Array[Double]): Double = {
    // a 4-weight head on a 7-dim ext vector reads the shared prefix BY
    // DESIGN (the first dimExt entries are bit-identical to the base
    // vector); the reverse — a 7-weight head on base features — is a
    // caller bug and should name itself, not throw AIOOBE at f(4)
    require(f.length >= weights.length,
      s"head '$name' needs ${weights.length} features, got ${f.length} " +
        "(ext heads require DegradationFeatures.fromBytesExt)")
    var z = bias
    var i = 0
    while (i < weights.length) { z += weights(i) * f(i); i += 1 }
    1.0 / (1.0 + math.exp(-z))
  }
}

object DegradationModel {

  /** Coefficients fitted by [[DegradationTrainer]] on 360 rendered
    * images (MLlib LogisticRegression, regParam 0.01); frozen so the
    * scoring query and its SQL oracle share exact literals.
    * DegradationModelSpec refuses any build where these stop separating
    * a freshly rendered corpus. */
  val blur: LinearHead = LinearHead("blur",
    Array(3.968314738099, 0.000000000000, 87.068250739264, -65.810381762838),
    -24.345681871329)
  val noise: LinearHead = LinearHead("noise",
    Array(3.334949272463, 0.000000000000, -87.257819573567, 35.358368249793),
    -19.221955574168)

  /** Cast/watermark heads (reference: image_visual_degradations.py's
    * color_cast and watermark outputs): fitted by
    * [[DegradationTrainer.trainExt]] over the 5-class corpus on the
    * extended 7-dim features, frozen like blur/noise so the scoring
    * query and its SQL oracle share exact literals. */
  val colorCast: LinearHead = LinearHead("color_cast",
    Array(-2.489407697757, 0.000000000000, 99.317779152040, 0.683312401859,
      17.960377692471, 8.096287626977, -1.201873238026),
    1.472931060870)
  val watermark: LinearHead = LinearHead("watermark",
    Array(-0.090185007253, 0.000000000000, -27.658972798286, -7.234551509359,
      -2.781098508723, -2.842240094542, 18.790626064846),
    -1.624767577290)

  val headNames: Seq[String] = Seq("vd_blur", "vd_noise", "vd_overall_quality")

  /** Full reference head set: color_cast / blur / watermark / noise /
    * overall (1 − mean of the four degradations). */
  val headNames4: Seq[String] = Seq("vd_color_cast", "vd_blur",
    "vd_watermark", "vd_noise", "vd_overall_quality")

  /** Batched inference kernel: features → two trained heads + the
    * composite quality score (1 − mean degradation). */
  val kernel: BatchInference.ScoreKernel = { batch =>
    batch.map { bytes =>
      val f = DegradationFeatures.fromAny(bytes)
      val b = blur.score(f)
      val n = noise.score(f)
      Array(b, n, 1.0 - (b + n) / 2.0)
    }
  }

  /** Score a binary column through the batch-inference slot. */
  def apply(df: DataFrame, idCol: String = "doc_id",
      imageCol: String = "image"): DataFrame =
    BatchInference.score(df, kernel, headNames, idCol = idCol, imageCol = imageCol)

  /** 4-head kernel: ONE extended feature pass per payload; the frozen
    * 4-dim blur/noise heads score the (identical) base prefix. */
  val kernel4: BatchInference.ScoreKernel = { batch =>
    batch.map { bytes =>
      val fe = DegradationFeatures.fromAnyExt(bytes)
      val f = fe.take(DegradationFeatures.dim)
      val cc = colorCast.score(fe)
      val b = blur.score(f)
      val wm = watermark.score(fe)
      val n = noise.score(f)
      Array(cc, b, wm, n, 1.0 - (cc + b + wm + n) / 4.0)
    }
  }

  /** Score all four degradation heads + overall quality. */
  def apply4(df: DataFrame, idCol: String = "doc_id",
      imageCol: String = "image"): DataFrame =
    BatchInference.score(df, kernel4, headNames4, idCol = idCol, imageCol = imageCol)
}

/** In-repo training: renders a labeled corpus of real images and fits
  * the logistic heads with MLlib. Deterministic end to end (seeded RNG,
  * fixed raster ops), so the frozen coefficients are reproducible. */
object DegradationTrainer {

  import java.awt.image.{ConvolveOp, Kernel => AwtKernel}

  val Clean = 0; val Blurred = 1; val Noisy = 2; val Cast = 3; val Marked = 4

  /** Textured base image: gradient background + `shapes` seeded random
    * shapes. Texture matters — blur must have high-frequency content to
    * remove; the shape count is also the honest "visual richness" label
    * the aesthetic trainer regresses on. */
  def renderClean(rnd: scala.util.Random, w: Int = 64, h: Int = 64,
      shapes: Int = 40): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    for (y <- 0 until h) {
      g.setColor(new java.awt.Color(4 * y % 256, (255 - 2 * y) % 256, (64 + 3 * y) % 256))
      g.drawLine(0, y, w, y)
    }
    for (_ <- 0 until shapes) {
      g.setColor(new java.awt.Color(rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val (x, y) = (rnd.nextInt(w), rnd.nextInt(h))
      if (rnd.nextBoolean()) g.fillRect(x, y, 1 + rnd.nextInt(8), 1 + rnd.nextInt(8))
      else g.drawLine(x, y, rnd.nextInt(w), rnd.nextInt(h))
    }
    g.dispose()
    img
  }

  /** 5×5 box blur (ConvolveOp — deterministic raster math). */
  def blurOf(img: BufferedImage): BufferedImage = {
    val k = Array.fill(25)(1.0f / 25.0f)
    val op = new ConvolveOp(new AwtKernel(5, 5, k), ConvolveOp.EDGE_NO_OP, null)
    op.filter(img, null)
  }

  /** Salt-and-pepper: 30% of pixels replaced with random values. */
  def noiseOf(img: BufferedImage, rnd: scala.util.Random): BufferedImage = {
    val out = new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val p = if (rnd.nextDouble() < 0.3) rnd.nextInt(0xffffff) else img.getRGB(x, y)
      out.setRGB(x, y, p)
    }
    out
  }

  def toBmp(img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    bos.toByteArray
  }

  private def copyOf(img: BufferedImage): BufferedImage = {
    val out = new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    g.drawImage(img, 0, 0, null)
    g.dispose()
    out
  }

  /** Color cast: the whole frame alpha-blended toward one saturated
    * hue (reference class: image_visual_degradations color_cast) — a
    * constant-direction chroma shift, which the extended channel-
    * imbalance features see and luminance stats don't. */
  def castOf(img: BufferedImage, rnd: scala.util.Random): BufferedImage = {
    val hues = Array(0xff3300, 0x0033ff, 0x00cc44, 0xff8800, 0xaa00ff, 0x00bbcc)
    val c = new java.awt.Color(hues(rnd.nextInt(hues.length)))
    val out = copyOf(img)
    val g = out.createGraphics()
    g.setColor(new java.awt.Color(c.getRed, c.getGreen, c.getBlue, 90)) // α ≈ 0.35
    g.fillRect(0, 0, out.getWidth, out.getHeight)
    g.dispose()
    out
  }

  /** Watermark: a translucent bright diagonal-stripe overlay — the
    * statistical shape of a tiled logo/text watermark, rendered
    * geometrically (headless JVMs may carry no fonts, so no
    * drawString). Adds high-luminance mass without shifting chroma. */
  def watermarkOf(img: BufferedImage, rnd: scala.util.Random): BufferedImage = {
    val out = copyOf(img)
    val g = out.createGraphics()
    g.setColor(new java.awt.Color(255, 255, 255, 115)) // α ≈ 0.45
    g.setStroke(new java.awt.BasicStroke(3f))
    val w = out.getWidth
    val h = out.getHeight
    var off = -h + rnd.nextInt(8)
    while (off < w) { g.drawLine(off, 0, off + h, h); off += 12 }
    g.dispose()
    out
  }

  /** `n` images per class, labeled (bytes, class). */
  def corpus(n: Int, seed: Long = 7L): Seq[(Array[Byte], Int)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).flatMap { _ =>
      val base = renderClean(rnd)
      Seq((toBmp(base), Clean), (toBmp(blurOf(base)), Blurred),
        (toBmp(noiseOf(base, rnd)), Noisy))
    }
  }

  /** 5-class corpus for the 4-head model: the 3 base classes plus
    * color-cast and watermark renders of the same bases. */
  def corpus5(n: Int, seed: Long = 7L): Seq[(Array[Byte], Int)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).flatMap { _ =>
      val base = renderClean(rnd)
      Seq((toBmp(base), Clean), (toBmp(blurOf(base)), Blurred),
        (toBmp(noiseOf(base, rnd)), Noisy), (toBmp(castOf(base, rnd)), Cast),
        (toBmp(watermarkOf(base, rnd)), Marked))
    }
  }

  /** Fit one head: positives = images of `positiveClass`, negatives =
    * everything else. Returns the fitted LinearHead. */
  def fitHead(spark: SparkSession, name: String,
      data: Seq[(Array[Double], Int)], positiveClass: Int): LinearHead = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.linalg.Vectors
    val rows = data.map { case (f, cls) =>
      (Vectors.dense(f), if (cls == positiveClass) 1.0 else 0.0)
    }
    val df = spark.createDataFrame(rows).toDF("features", "label")
    val m = new LogisticRegression().setMaxIter(50).setRegParam(0.01).fit(df)
    LinearHead(name, m.coefficients.toArray, m.intercept)
  }

  def train(spark: SparkSession, n: Int = 120, seed: Long = 7L):
      (LinearHead, LinearHead) = {
    val data = corpus(n, seed).map { case (b, c) =>
      (DegradationFeatures.fromAny(b), c)
    }
    (fitHead(spark, "blur", data, Blurred), fitHead(spark, "noise", data, Noisy))
  }

  /** Fit the cast + watermark heads over the 5-class corpus on the
    * extended (7-dim) features. Trained one-vs-rest like the base
    * heads; the 5-class corpus keeps each head honest against ALL
    * other degradations, not just clean images. */
  def trainExt(spark: SparkSession, n: Int = 120, seed: Long = 7L):
      (LinearHead, LinearHead) = {
    val data = corpus5(n, seed).map { case (b, c) =>
      (DegradationFeatures.fromAnyExt(b), c)
    }
    (fitHead(spark, "color_cast", data, Cast),
      fitHead(spark, "watermark", data, Marked))
  }

  /** Prints fitted coefficients (source of the frozen literals above). */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("degradation-trainer")
      .master("local[8]").config("spark.sql.shuffle.partitions", 8)
      .getOrCreate()
    val (b, n) = train(spark)
    val (cc, wm) = trainExt(spark)
    def fmt(h: LinearHead): String =
      s"""LinearHead("${h.name}", Array(${h.weights.map(w => f"$w%.12f").mkString(", ")}), ${f"${h.bias}%.12f"})"""
    println("FITTED " + fmt(b))
    println("FITTED " + fmt(n))
    println("FITTED " + fmt(cc))
    println("FITTED " + fmt(wm))
    println("FITTED " + fmt(AigcTrainer.train(spark)))
    println("FITTED " + fmt(AestheticTrainer.train(spark)))
    spark.stop()
  }
}

/** Trained AIGC detector (reference:
  * operators/refiners/image_aigc_detector.py + models/image_aigc_detector).
  * Real detectors key on the *absence of the camera pipeline* in
  * generated images — no sensor noise, no demosaic/compression residue.
  * The in-repo training corpus reproduces exactly that contrast with
  * honest labels: "natural" images are renders pushed through a camera
  * -ish pipeline (per-pixel sensor jitter + lossy JPEG), "generated"
  * images are the pristine procedural renders. One MLlib logistic head
  * over the same histogram features as [[DegradationModel]]. */
object AigcTrainer {

  val Natural = 0; val Generated = 1

  /** Deterministic JPEG encode at an explicit quality factor. */
  def jpegBytes(img: BufferedImage, quality: Float): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    w.dispose(); ios.close()
    bos.toByteArray
  }

  /** Mild per-pixel sensor jitter (±12 per channel on every pixel) —
    * the luminance-gradient texture a camera leaves and a generator
    * does not. */
  def sensorNoise(img: BufferedImage, rnd: scala.util.Random): BufferedImage = {
    val out = new BufferedImage(img.getWidth, img.getHeight, BufferedImage.TYPE_INT_RGB)
    def jitter(v: Int): Int = math.min(255, math.max(0, v + rnd.nextInt(25) - 12))
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val rgb = img.getRGB(x, y)
      out.setRGB(x, y, (jitter((rgb >> 16) & 0xff) << 16) |
        (jitter((rgb >> 8) & 0xff) << 8) | jitter(rgb & 0xff))
    }
    out
  }

  /** `n` images per class: (camera-pipeline render, Natural) and
    * (pristine render, Generated). */
  def corpus(n: Int, seed: Long = 11L): Seq[(Array[Byte], Int)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).flatMap { _ =>
      val base = DegradationTrainer.renderClean(rnd)
      Seq((jpegBytes(sensorNoise(base, rnd), 0.7f), Natural),
        (jpegBytes(base, 0.95f), Generated))
    }
  }

  def train(spark: SparkSession, n: Int = 120, seed: Long = 11L): LinearHead = {
    val data = corpus(n, seed).map { case (b, c) =>
      (DegradationFeatures.fromAny(b), c)
    }
    DegradationTrainer.fitHead(spark, "aigc", data, Generated)
  }
}

/** Trained aesthetic scorer (reference:
  * operators/refiners/image_aesthetic_quality.py — a linear head over
  * CLIP embeddings regressing human 1–10 ratings). Zero-egress leaves
  * no human ratings, so the honest in-repo label is a *construction
  * parameter*: images are rendered with a controlled visual-richness
  * knob (shape count 2..62) and MLlib LinearRegression learns to
  * recover it from the histogram features, scaled to the reference's
  * 1–10 range. Same mechanics as the reference head (linear regression
  * on features → scalar score); only the label source differs, and
  * honestly so. */
object AestheticTrainer {

  /** (bytes, richness ∈ [0,1]) rendered corpus. */
  def corpus(n: Int, seed: Long = 17L): Seq[(Array[Byte], Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val shapes = 2 + (i % 13) * 5 // 2..62, deterministic spread
      (DegradationTrainer.toBmp(DegradationTrainer.renderClean(rnd, shapes = shapes)),
        shapes / 62.0)
    }
  }

  /** Fit richness ~ features with MLlib LinearRegression; returns the
    * head whose `score` is the raw linear prediction (NOT a sigmoid —
    * callers scale to 1..10). */
  def train(spark: SparkSession, n: Int = 260, seed: Long = 17L): LinearHead = {
    import org.apache.spark.ml.regression.LinearRegression
    import org.apache.spark.ml.linalg.Vectors
    val rows = corpus(n, seed).map { case (b, label) =>
      (Vectors.dense(DegradationFeatures.fromAny(b)), label)
    }
    val df = spark.createDataFrame(rows).toDF("features", "label")
    val m = new LinearRegression().setMaxIter(50).setRegParam(0.01).fit(df)
    LinearHead("aesthetic", m.coefficients.toArray, m.intercept)
  }
}

object AestheticModel {

  /** Fitted by [[AestheticTrainer]]; frozen for the SQL oracle.
    * AigcModelSpec/DegradationModelSpec re-validate rank correlation. */
  val head: LinearHead = LinearHead("aesthetic",
    Array(0.890283633421, 0.000000000000, 3.300127956354, 1.558579626861),
    -4.225720882871)

  /** Raw linear prediction of richness, then scaled to the reference's
    * 1–10 aesthetic range and clamped. */
  def score(f: Array[Double]): Double = {
    var z = head.bias
    var i = 0
    while (i < head.weights.length) { z += head.weights(i) * f(i); i += 1 }
    math.min(10.0, math.max(1.0, 1.0 + 9.0 * z))
  }

  val kernel: BatchInference.ScoreKernel = { batch =>
    batch.map(bytes => Array(score(DegradationFeatures.fromAny(bytes))))
  }

  def apply(df: DataFrame, idCol: String = "doc_id",
      imageCol: String = "image"): DataFrame =
    BatchInference.score(df, kernel, Seq("aesthetic_model_score"),
      idCol = idCol, imageCol = imageCol)
}

object AigcModel {

  /** Fitted by [[AigcTrainer]] (MLlib LogisticRegression, regParam
    * 0.01); frozen so the scoring query and its SQL oracle share exact
    * literals. AigcModelSpec re-validates ≥90% held-out accuracy. */
  val head: LinearHead = LinearHead("aigc",
    Array(-9.199317769838, 0.000000000000, 283.894886292268, -2.301330268906),
    44.391805860583)

  val headNames: Seq[String] = Seq("aigc_score")

  val kernel: BatchInference.ScoreKernel = { batch =>
    batch.map(bytes => Array(head.score(DegradationFeatures.fromAny(bytes))))
  }

  def apply(df: DataFrame, idCol: String = "doc_id",
      imageCol: String = "image"): DataFrame =
    BatchInference.score(df, kernel, headNames, idCol = idCol, imageCol = imageCol)
}
