package graft.perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.ArrayDotProduct
import graft.operators.{Dedup, PixelOps}
import graft.sources.{ImageCodec, TFRecord}

/** ns per row of the per-row JVM kernels, called directly without Spark
  * on seeded inputs: the median of five timed rounds after two warm-up
  * rounds. A row is a document for the text kernels, a vector pair for
  * the dot product, an image for the codecs and a record for framing.
  * The pixel kernels run on colour masks of the `jigsaw_export` frame
  * size, in the order the export calls them per example: decode the
  * mask, map colours to class ids, encode the 8-bit class-id PNG. */
object KernelBench {
  @volatile private var sink = 0L

  private def nsPerRow(rows: Int)(f: Int => Long): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      var acc = 0L
      while (i < rows) { acc += f(i); i += 1 }
      sink += acc
      (System.nanoTime() - t0).toDouble / rows
    }
    round(); round()
    Main.median((1 to 5).map(_ => round()))
  }

  def run(seed: Long): Seq[(String, Double)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = ("spark window merge table column vector stream value data " +
      "small join filter big group hash customer sort order slow line part " +
      "fast row the agg key query a scan batch").split(" ")
    val texts = Array.fill(2000)(
      Array.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val k = Dedup.Kernels
    val shingles = texts.map(t => k.shingleSet(t, 3).toSeq)
    val (as, bs) = k.minhashCoefficients(64, seed)

    val dot = ArrayDotProduct(BoundReference(0, ArrayType(DoubleType), true),
      BoundReference(1, ArrayType(DoubleType), true))
    val vecRows = Array.fill(2000)(InternalRow(
      new GenericArrayData(Array.fill(64)(rnd.nextGaussian())),
      new GenericArrayData(Array.fill(64)(rnd.nextGaussian()))))

    val (w, h) = (ExportWorkload.FrameW, ExportWorkload.FrameH)
    val palette = Array.fill(16)((rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
    val colorToClass = palette.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    val images = Array.fill(3) {
      val px = new Array[Byte](w * h * 3)
      for (_ <- 0 until 6) {
        val (b, g, r) = palette(rnd.nextInt(palette.length))
        val (x0, y0) = (rnd.nextInt(w / 2), rnd.nextInt(h / 2))
        for (y <- y0 until y0 + h / 2; x <- x0 until x0 + w / 2) {
          val i = (y * w + x) * 3
          px(i) = b.toByte; px(i + 1) = g.toByte; px(i + 2) = r.toByte
        }
      }
      px
    }
    val pngs = images.map(ImageCodec.encodePng(w, h, _))
    val classIds = images.map(PixelOps.classIdImage(_, w, h, colorToClass))
    val payloads = Array.fill(256)(Array.fill(8192)(rnd.nextInt().toByte))

    Seq(
      "kernel.shingle_ns" -> nsPerRow(texts.length)(i => k.shingleSet(texts(i), 3).length),
      "kernel.minhash_ns" -> nsPerRow(texts.length)(i => k.bandBuckets(shingles(i), as, bs, 16)(0)),
      "kernel.simhash_ns" -> nsPerRow(texts.length)(i => k.simhash64(texts(i)).longValue),
      "kernel.dot_ns" -> nsPerRow(vecRows.length)(i =>
        java.lang.Double.doubleToLongBits(dot.eval(vecRows(i)).asInstanceOf[Double])),
      "kernel.png_decode_ns" -> nsPerRow(pngs.length)(i => ImageCodec.decodeBgr(pngs(i)).get._1),
      "kernel.class_id_ns" -> nsPerRow(images.length)(i =>
        PixelOps.classIdImage(images(i), w, h, colorToClass)(0)),
      "kernel.png_encode_ns" -> nsPerRow(classIds.length)(i =>
        ImageCodec.encodeGrayPng(w, h, classIds(i)).length),
      "kernel.tfrecord_ns" -> nsPerRow(payloads.length)(i => TFRecord.frame(payloads(i)).length))
  }
}
