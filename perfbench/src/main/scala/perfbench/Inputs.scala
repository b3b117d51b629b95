package perfbench

import java.awt.image.BufferedImage
import java.io.{ByteArrayOutputStream, File, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream
import javax.imageio.ImageIO
import org.apache.spark.sql.SparkSession
import graft.functions.PolyHash
import graft.sources.ImagesGen

/** Seeded splitmix64 stream. Every generator below derives one stream per
  * row from (seed, row index), so a row's content never depends on how
  * many rows came before it.
  */
final class Rng(seed: Long) {
  private var s = PolyHash.mix64(seed)
  def next(): Long = { s = PolyHash.mix64(s); s }
  def below(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
}

object Rng {
  def of(seed: Long, stream: Long, i: Long): Rng =
    new Rng(PolyHash.mix64(PolyHash.mix64(seed ^ stream) + i))
}

/** Planted truth of the `jsonl_m500` input: for each receiving doc, the
  * byte range [s, e) of `text` that was copied from an earlier doc.
  */
case class JsonlTruth(nDocs: Int, textBytes: Long, windowPositions: Long,
                      planted: Map[String, (Long, Long)])

/** `jsonl_m500`: a gzip JSONL tree of multi-KB docs. Docs are numbered in
  * the workflow's global order (sorted file list, then line), and within
  * every block of 10 docs one doc of the second half receives a
  * 800-1200-byte run copied from a doc of the first half -- about 10% of
  * docs, each donor used once. Words carry numeric suffixes, so no 500-byte
  * window repeats by accident, and the run is framed by `|`, a byte no
  * generated word contains, so the duplicate cannot extend past the run:
  * the exact remove ranges are known up front.
  */
object JsonlInput {
  val MinLen = 500
  private val Words = Array(
    "data", "model", "train", "batch", "token", "shard", "merge", "index",
    "query", "range", "hash", "byte", "text", "image", "caption", "corpus",
    "dedup", "spark", "scale", "stream")

  private def baseText(seed: Long, i: Int): String = {
    val r = Rng.of(seed, 0x6a5011L, i)
    val n = 400 + r.below(400)
    val sb = new StringBuilder
    var w = 0
    while (w < n) {
      if (w > 0) sb.append(' ')
      sb.append(Words(r.below(Words.length))).append(r.below(99989))
      w += 1
    }
    sb.toString
  }

  /** Doc texts in global order plus the planted ranges, keyed by doc id. */
  def docs(seed: Long, nDocs: Int): (Array[String], Map[String, (Long, Long)]) = {
    val texts = Array.tabulate(nDocs)(baseText(seed, _))
    val planted = Map.newBuilder[String, (Long, Long)]
    for (b <- 0 until nDocs / 10) {
      val r = Rng.of(seed, 0x91a47L, b)
      val donor = texts(10 * b + r.below(5))
      val recv = 10 * b + 5 + r.below(5)
      val len = 800 + r.below(401)
      val off = r.below(donor.length - len)
      val run = donor.substring(off, off + len)
      val base = texts(recv)
      val cut = base.indexOf(' ', r.below(base.length - 1)) match {
        case -1 => base.length
        case c => c
      }
      texts(recv) = base.substring(0, cut) + "|" + run + "|" + base.substring(cut)
      planted += docId(recv) -> ((cut + 1).toLong, (cut + 1 + len).toLong)
    }
    (texts, planted.result())
  }

  def docId(i: Int): String = f"doc$i%07d"

  /** Writes `files` gzip files under dir (2 directories) and returns the
    * truth. Files hold contiguous doc ranges in doc order, and their
    * relative paths sort in the same order.
    */
  def write(seed: Long, nDocs: Int, files: Int, dir: String): JsonlTruth = {
    val (texts, planted) = docs(seed, nDocs)
    val per = (nDocs + files - 1) / files
    for (f <- 0 until files) {
      val out = new File(dir, f"shard=${f * 2 / files}%02d/part-$f%04d.jsonl.gz")
      out.getParentFile.mkdirs()
      val w = new OutputStreamWriter(
        new GZIPOutputStream(new java.io.FileOutputStream(out), 1 << 16), StandardCharsets.UTF_8)
      try {
        for (i <- f * per until math.min(nDocs, (f + 1) * per)) {
          w.write(s"""{"doc_id":"${docId(i)}","text":"${texts(i)}","source":"seed$seed"}""")
          w.write('\n')
        }
      } finally w.close()
    }
    val lens = texts.map(_.getBytes(StandardCharsets.UTF_8).length.toLong)
    JsonlTruth(nDocs, lens.sum, lens.map(l => math.max(0L, l - MinLen + 1)).sum, planted)
  }
}

/** Planted truth of an images input. `pairs` must end in one cluster,
  * `negatives` must not, and each `substr` caption byte range [s, e) must
  * be covered by the caption's remove ranges.
  */
case class ImagesTruth(n: Int, inputBytes: Long, windowPositions: Long,
                       pairs: Seq[(String, String)], negatives: Seq[(String, String)],
                       substr: Seq[(String, Long, Long)])

/** The `images` table, same schema as graft.sources.ImagesGen, from a seed.
  *
  * Base images with random word captions and random pixels; per 40 base
  * rows one planted row of each kind -- exact copy, caption near-dup,
  * caption substring run (no cluster edge), pixel near-dup, and a
  * below-threshold caption negative -- about 10% duplicated rows, the
  * post-MinHash rate.
  *
  * On top, one templated cluster, the stock-photo alt-text shape: a 60-word
  * caption and one picture, reused by `cliqueSize` rows that each swap two
  * caption words (pairwise word-3-gram Jaccard at least 0.65, above the 0.6
  * threshold) under their own picture, one in 16 of them an exact copy of
  * the template. Its LSH candidate and verified pairs number about
  * cliqueSize^2 / 2, its band buckets are hot, and substring dedup runs in
  * the dense regime over its captions.
  */
object ImagesInput {
  val MinLen = 32
  val W = 32; val H = 32
  private val Words = Array(
    "spark", "query", "table", "join", "scan", "merge", "window", "hash",
    "filter", "order", "batch", "value", "stream", "column", "vector",
    "café", "日本", "über", "😊", "naïve")

  case class Img(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                 fmt: String, caption: String, phash: Long)

  private def words(r: Rng, n: Int): Array[String] =
    Array.fill(n)(Words(r.below(Words.length)))

  private def pixels(r: Rng): Array[Int] = Array.fill(W * H)((r.next() & 0xffffff).toInt)

  private def encode(px: Array[Int], fmt: String): Array[Byte] = {
    val img = new BufferedImage(W, H, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, W, H, px, 0, W)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  private def img(id: String, px: Array[Int], fmt: String, caption: String): Img =
    Img(id, encode(px, fmt), W, H, fmt, caption, ImagesGen.aHash(px, W, H))

  private def utf8Len(s: String): Long = s.getBytes(StandardCharsets.UTF_8).length.toLong

  def generate(seed: Long, nBase: Int, cliqueSize: Int): (Seq[Img], ImagesTruth) = {
    val rows = Vector.newBuilder[Img]
    val pairs = Vector.newBuilder[(String, String)]
    val negs = Vector.newBuilder[(String, String)]
    val substr = Vector.newBuilder[(String, Long, Long)]
    var next = 0
    def newId(): String = { val id = f"img$next%08d"; next += 1; id }

    val base = (0 until nBase).map { i =>
      val r = Rng.of(seed, 0xba5eL, i)
      val caption = words(r, 30 + r.below(90))
      val fmt = if (r.below(3) == 0) "jpg" else "png"
      val row = img(newId(), pixels(Rng.of(seed, 0x9158e1L, i)), fmt, caption.mkString(" "))
      rows += row
      (row, caption)
    }
    // plants reference base rows, and their ids sort after every base id,
    // so the base row is always the first occurrence
    base.zipWithIndex.foreach { case ((b, capWords), i) =>
      val r = Rng.of(seed, 0x91a47L, i)
      r.below(40) match {
        case 0 =>
          val c = b.copy(image_id = newId()); rows += c; pairs += ((b.image_id, c.image_id))
        case 1 =>
          val c = b.copy(image_id = newId(), caption = b.caption + " " + words(r, 2).mkString(" "))
          rows += c; pairs += ((b.image_id, c.image_id))
        case 2 =>
          var n = 0; var bytes = 0L
          while (n < capWords.length && bytes < MinLen + 8) { bytes += utf8Len(capWords(n)) + 1; n += 1 }
          val head = words(r, 6).mkString(" ") + " "
          val run = capWords.take(n).mkString(" ")
          val c = img(newId(), pixels(r), "png", head + run + " " + words(r, 6).mkString(" "))
          rows += c; substr += ((c.image_id, utf8Len(head), utf8Len(head) + utf8Len(run)))
        case 3 =>
          val px = pixels(Rng.of(seed, 0x9158e1L, i))
          for (_ <- 0 until 3) { val at = r.below(px.length); px(at) = (px(at) ^ 0x070707) & 0xffffff }
          val c = img(newId(), px, "png", words(r, 12).mkString(" "))
          rows += c
          if (java.lang.Long.bitCount(c.phash ^ b.phash) <= 4) pairs += ((b.image_id, c.image_id))
        case 4 =>
          val keep = capWords.length * 3 / 5
          val c = img(newId(), pixels(r), "png",
            (capWords.take(keep) ++ words(r, capWords.length - keep)).mkString(" "))
          rows += c; negs += ((b.image_id, c.image_id))
        case _ =>
      }
    }
    if (cliqueSize > 0) {
      val r = Rng.of(seed, 0xc11eL, 0)
      val template = words(r, 60)
      val t = img(newId(), pixels(r), "png", template.mkString(" "))
      rows += t
      for (m <- 0 until cliqueSize) {
        val mr = Rng.of(seed, 0xc11eL, m + 1L)
        val c =
          if (m % 16 == 0) t.copy(image_id = newId())
          else {
            val cap = template.clone()
            cap(mr.below(60)) = "alt" + mr.below(1000)
            cap(mr.below(60)) = "alt" + mr.below(1000)
            img(newId(), pixels(mr), "png", cap.mkString(" "))
          }
        rows += c; pairs += ((t.image_id, c.image_id))
      }
    }
    val all = rows.result()
    val caps = all.map(i => utf8Len(i.caption))
    val truth = ImagesTruth(all.size,
      all.map(_.bytes.length.toLong).sum + caps.sum,
      caps.map(l => math.max(0L, l - MinLen + 1)).sum,
      pairs.result(), negs.result(), substr.result())
    (all, truth)
  }

  /** Writes the table as 8 parquet files (fixed, so the input does not
    * depend on the host) and returns the truth.
    */
  def write(spark: SparkSession, seed: Long, nBase: Int, cliqueSize: Int,
            dir: String): ImagesTruth = {
    val (rows, truth) = generate(seed, nBase, cliqueSize)
    import spark.implicits._
    spark.createDataset(rows).repartition(8).sortWithinPartitions("image_id")
      .write.mode("overwrite").parquet(dir)
    truth
  }
}
