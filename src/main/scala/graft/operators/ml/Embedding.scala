package graft.operators.ml

import java.awt.image.BufferedImage
import graft.operators.image.BatchInference
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Trained-in-repo embedding model — the non-stub sibling of the CLIP/
  * SigLIP slot (reference operators/refiners/image_clip_embedding.py:
  * payload → pretrained encoder → `array<float>` embedding column).
  * Zero-egress forbids real pretrained weights, so the encoder here is a
  * PCA projection TRAINED by [[EmbeddingTrainer]] over content-statistics
  * features of a deterministic mixed corpus (rendered BMPs + synthetic
  * text payloads), frozen below, and served through the same batched
  * [[BatchInference]] mapPartitions slot a GPU encoder would occupy.
  * Similar payloads → similar feature vectors → nearby embeddings, so
  * the output feeds the vector suite (embedding near-dup, LSH/IVF ANN)
  * end to end.
  */
object EmbeddingFeatures {

  val dim = 12
  val segments = 4

  /** Content-statistics features over a value sequence (bytes 0..255 or
    * luminances): [global entropy, log1p(len), max-bin fraction, mean
    * adjacent |Δ|/255] + per-quarter entropy ×4 + per-quarter gradient
    * ×4 (adjacent pairs straddling a quarter boundary count for the
    * global gradient only). The quarters add the positional sensitivity
    * a bag-of-bytes histogram lacks. */
  def fromValues(vals: Array[Int]): Array[Double] = {
    val n = vals.length
    val f = new Array[Double](dim)
    if (n == 0) return f
    val hist = new Array[Long](256)
    val segHist = Array.ofDim[Long](segments, 256)
    val segLen = new Array[Long](segments)
    val segGradSum = new Array[Long](segments)
    val segGradCnt = new Array[Long](segments)
    var gradSum = 0L
    var i = 0
    var prevSeg = -1
    while (i < n) {
      val v = vals(i)
      val s = i * segments / n
      hist(v) += 1
      segHist(s)(v) += 1
      segLen(s) += 1
      if (i > 0) {
        val d = math.abs(v - vals(i - 1))
        gradSum += d
        if (s == prevSeg) { segGradSum(s) += d; segGradCnt(s) += 1 }
      }
      prevSeg = s
      i += 1
    }
    def entropy(h: Array[Long], total: Long): Double = {
      var e = 0.0
      var j = 0
      while (j < 256) {
        val c = h(j)
        if (c > 0) { val p = c.toDouble / total; e -= p * (math.log(p) / math.log(2.0)) }
        j += 1
      }
      e
    }
    f(0) = entropy(hist, n.toLong)
    f(1) = math.log1p(n.toDouble)
    f(2) = hist.max.toDouble / n
    f(3) = if (n > 1) gradSum.toDouble / ((n - 1).toLong * 255.0) else 0.0
    var s = 0
    while (s < segments) {
      if (segLen(s) > 0) f(4 + s) = entropy(segHist(s), segLen(s))
      if (segGradCnt(s) > 0) f(8 + s) = segGradSum(s).toDouble / (segGradCnt(s) * 255.0)
      s += 1
    }
    f
  }

  def fromBytes(bytes: Array[Byte]): Array[Double] =
    if (bytes == null || bytes.isEmpty) new Array[Double](dim)
    else fromValues(bytes.map(_ & 0xff))

  /** Row-major Rec.601 luminance sequence (same luma as
    * [[DegradationFeatures.fromImage]]). */
  def fromImage(img: BufferedImage): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    val vals = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        vals(y * w + x) = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        x += 1
      }
      y += 1
    }
    fromValues(vals)
  }

  /** Decode-preferring extraction: luminance features when the payload
    * decodes as an image, raw-byte features otherwise (the path a SQL
    * oracle reproduces exactly). */
  def fromAny(bytes: Array[Byte]): Array[Double] =
    if (bytes == null || bytes.isEmpty) new Array[Double](dim)
    else {
      val img =
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        catch { case _: Exception => None }
      img.map(fromImage).getOrElse(fromBytes(bytes))
    }
}

/** Frozen standardize-then-project encoder: z = (f − mean)/std, e = PC·z,
  * L2-normalized, emitted as float32. `components(c)` is the c-th
  * principal axis over the 12 standardized features. */
case class EmbeddingProjection(
    mean: Array[Double], std: Array[Double],
    components: Array[Array[Double]]) {
  require(mean.length == EmbeddingFeatures.dim && std.length == mean.length)
  require(components.forall(_.length == mean.length))

  def embed(f: Array[Double]): Array[Float] = {
    val z = Array.tabulate(mean.length)(j =>
      if (std(j) > 1e-9) (f(j) - mean(j)) / std(j) else 0.0)
    val e = components.map { c =>
      var acc = 0.0
      var j = 0
      while (j < c.length) { acc += c(j) * z(j); j += 1 }
      acc
    }
    val nrm = math.sqrt(e.map(x => x * x).sum)
    (if (nrm == 0.0) e else e.map(_ / nrm)).map(_.toFloat)
  }
}

object TrainedEmbedding {

  val embeddingDim = 8

  /** Fitted by [[EmbeddingTrainer.main]] (MLlib PCA k=8 over the
    * standardized features of 660 mixed payloads); frozen so the query
    * and its SQL oracle share exact literals. EmbeddingModelSpec
    * re-validates separation on a fresh corpus every build. */
  val projection: EmbeddingProjection = EmbeddingProjection(
    mean = Array(4.971160741896, 7.366121857393, 0.094247136094, 0.084977579755,
      4.252539240008, 4.462573879284, 4.462246414595, 4.279076231552,
      0.079449952608, 0.088396002256, 0.088675954857, 0.082891769874),
    std = Array(0.886591901834, 1.113075740783, 0.048081247340, 0.041834631207,
      0.602293666529, 0.692329512755, 0.693369463515, 0.641871657205,
      0.043145741793, 0.041227959814, 0.041503876004, 0.043654387164),
    components = Array(
      Array(-0.289413243637, -0.324161182894, 0.326202547462, 0.343417954113,
        -0.084030237261, -0.231060958554, -0.229926150278, -0.127112447215,
        0.355326019889, 0.336258327296, 0.327904327342, 0.332406620871),
      Array(0.276685820419, 0.125073265022, -0.142210342942, 0.248201850526,
        0.424716618088, 0.356058875174, 0.355815309389, 0.388719013073,
        0.227420233630, 0.239263666999, 0.249858526479, 0.264023129398),
      Array(0.363299455158, 0.418355545191, -0.508685810414, 0.138415334390,
        -0.205635502254, -0.233482910295, -0.228090798702, -0.378778612214,
        0.005340774184, 0.235353383005, 0.248577795996, 0.074582484838),
      Array(0.329171987627, -0.836184022686, -0.395122847141, -0.029096479761,
        0.036857656137, 0.051489264953, 0.017485375516, -0.131246784812,
        -0.073255508666, 0.034780033448, 0.022237958369, -0.082835850503),
      Array(0.125073574262, -0.063870505675, -0.052082760364, 0.030323344404,
        -0.732155834743, -0.056906086874, 0.050638330958, 0.606377153982,
        -0.143439383079, 0.002809818067, 0.050035664076, 0.209787412639),
      Array(0.032617383521, -0.007480795334, -0.194665450223, -0.035114476433,
        0.397352703002, -0.359172124645, -0.617680817082, 0.485739230824,
        0.061618223126, -0.063566706596, -0.208976003140, 0.062273595309),
      Array(-0.005320770946, -0.023373110792, -0.043897810174, -0.014170584055,
        0.160407744163, -0.741070309152, 0.538702184975, 0.036009248705,
        -0.021780879620, -0.289288176459, 0.210109533997, 0.050763513301),
      Array(-0.081011544677, -0.014883034670, 0.006956105213, -0.014356395664,
        0.117446995694, 0.231685324976, -0.252245806353, -0.059678193359,
        -0.420448414762, -0.512364767519, 0.549586991369, 0.341993312313)))

  /** Batched inference kernel — the same slot shape as a GPU encoder. */
  val kernel: BatchInference.Kernel = { batch =>
    batch.map(bytes => projection.embed(EmbeddingFeatures.fromAny(bytes)))
  }

  /** (id, embedding array<float>) through the batch-inference slot. */
  def apply(df: DataFrame, idCol: String = "doc_id",
      imageCol: String = "image", batchSize: Int = 64): DataFrame =
    BatchInference.embed(df, kernel, batchSize, idCol, imageCol)

  /** The same batched pass served from a USER-SUPPLIED weights file
    * ([[LocalWeights]] format) — the real-CLIP drop-in seam: swap the
    * file, not the jar (reference image_clip_embedding.py:12-25 loads
    * pretrained weights at init). The in-repo [[projection]] stays the
    * default; it round-trips through the same format
    * (EmbeddingModelSpec gates file-served ≡ in-repo, bit-for-bit). */
  def fromWeightsFile(df: DataFrame, weightsPath: String,
      idCol: String = "doc_id", imageCol: String = "image",
      batchSize: Int = 64): DataFrame = {
    val mlp = LocalWeights.load(df.sparkSession, weightsPath)
    BatchInference.embed(df, LocalWeights.kernel(mlp), batchSize,
      idCol, imageCol)
  }
}

/** In-repo PCA training over a deterministic mixed corpus: the rendered
  * image classes of [[DegradationTrainer]] (clean / blurred / noisy
  * BMPs — luminance feature path) plus synthetic text payloads shaped
  * like the documents table (byte feature path), so the projection sees
  * both modalities it will embed. */
object EmbeddingTrainer {

  /** Synthetic text payloads: repeated-vocabulary sentences of varying
    * length and repetitiveness (seeded — deterministic corpus). */
  def textCorpus(n: Int, seed: Long = 11L): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("data", "pipeline", "spark", "model", "image", "quality",
      "filter", "training", "corpus", "sample", "token", "batch", "scale",
      "shuffle", "partition", "embedding", "vector", "index", "query", "join")
    (0 until n).map { _ =>
      val len = 8 + rnd.nextInt(80)
      val rep = 1 + rnd.nextInt(4)
      val words = Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
      val repeated = Iterator.continually(words).flatten.take(len * rep).toSeq
      repeated.mkString(" ").getBytes("UTF-8")
    }
  }

  def corpus(nPerClass: Int = 110, seed: Long = 11L): Seq[Array[Byte]] =
    DegradationTrainer.corpus(nPerClass, seed).map(_._1) ++
      textCorpus(nPerClass * 3, seed)

  /** Standardize features, fit MLlib PCA, return the frozen projection. */
  def train(spark: SparkSession, nPerClass: Int = 110,
      seed: Long = 11L): EmbeddingProjection = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.linalg.Vectors
    val feats = corpus(nPerClass, seed).map(EmbeddingFeatures.fromAny)
    val d = EmbeddingFeatures.dim
    val n = feats.size
    val mean = Array.tabulate(d)(j => feats.map(_(j)).sum / n)
    val std = Array.tabulate(d) { j =>
      math.sqrt(feats.map(f => math.pow(f(j) - mean(j), 2)).sum / n)
    }
    val z = feats.map(f => Array.tabulate(d)(j =>
      if (std(j) > 1e-9) (f(j) - mean(j)) / std(j) else 0.0))
    val df = spark.createDataFrame(z.map(x => Tuple1(Vectors.dense(x))))
      .toDF("features")
    val pca = new PCA().setK(TrainedEmbedding.embeddingDim)
      .setInputCol("features").setOutputCol("pc").fit(df)
    val pc = pca.pc // d × k, column-major
    val components = Array.tabulate(TrainedEmbedding.embeddingDim)(c =>
      Array.tabulate(d)(j => pc(j, c)))
    EmbeddingProjection(mean, std, components)
  }

  /** Prints the fitted literals (source of [[TrainedEmbedding.projection]]). */
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder("embedding-trainer")
      .master("local[8]").config("spark.sql.shuffle.partitions", 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val p = train(spark)
    def arr(a: Array[Double]): String =
      a.map(v => f"$v%.12f").mkString("Array(", ", ", ")")
    println("FITTED mean = " + arr(p.mean))
    println("FITTED std = " + arr(p.std))
    p.components.zipWithIndex.foreach { case (c, i) =>
      println(s"FITTED pc$i = " + arr(c))
    }
    spark.stop()
  }
}
