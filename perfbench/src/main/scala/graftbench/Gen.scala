package graftbench

import java.util.SplittableRandom

/** Seeded input generator. Every stream is derived from `(seed, name)`,
  * so one stream's contents never depend on which other streams were
  * drawn or in what order. The engine only ever sees what this class
  * produces: vectors, prose, PDF bytes, planted duplicates and query
  * streams. `digest` folds everything a workload generated into one
  * SHA-256, so two runs can be shown to have used identical inputs. */
final class Gen(val seed: Long) {
  private val sha = java.security.MessageDigest.getInstance("SHA-256")

  def rng(stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xC2B2AE3D27D4EB4FL)

  /** Hex SHA-256 of every input recorded so far. */
  def digest: String = sha.clone().asInstanceOf[java.security.MessageDigest]
    .digest().map(b => f"${b & 0xff}%02x").mkString

  def record(bytes: Array[Byte]): Unit = sha.update(bytes)
  def record(s: String): Unit = record(s.getBytes("UTF-8"))
  def record(v: Array[Float]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(v.length * 4)
    v.foreach(bb.putFloat)
    record(bb.array())
  }

  // ---------- vectors ----------

  private def gaussian(r: SplittableRandom): Double = {
    // Marsaglia polar method
    var u, v, s = 0.0
    while ({ u = 2 * r.nextDouble() - 1; v = 2 * r.nextDouble() - 1; s = u * u + v * v
      s >= 1 || s == 0 }) ()
    u * math.sqrt(-2 * math.log(s) / s)
  }

  /** `k` random unit centroids in `dim` dimensions. */
  def centroids(stream: String, k: Int, dim: Int): Array[Array[Float]] = {
    val r = rng(stream + "/centroids")
    Array.fill(k)(Gen.normalize(Array.fill(dim)(gaussian(r).toFloat)))
  }

  /** `n` unit vectors drawn around `cs`: a uniformly chosen centroid
    * plus isotropic noise whose total norm is about `spread`. */
  def clustered(stream: String, n: Int, cs: Array[Array[Float]],
      spread: Double): Array[Array[Float]] = {
    val r = rng(stream)
    val dim = cs.head.length
    val scale = spread / math.sqrt(dim)
    val out = Array.fill(n) {
      val c = cs(r.nextInt(cs.length))
      Gen.normalize(Array.tabulate(dim)(j => (c(j) + scale * gaussian(r)).toFloat))
    }
    out.foreach(record)
    out
  }

  /** An endless stream of distinct query vectors drawn like [[clustered]]. */
  def vectorStream(stream: String, cs: Array[Array[Float]], spread: Double): Iterator[Array[Float]] = {
    val r = rng(stream)
    val dim = cs.head.length
    val scale = spread / math.sqrt(dim)
    Iterator.continually {
      val c = cs(r.nextInt(cs.length))
      val v = Gen.normalize(Array.tabulate(dim)(j => (c(j) + scale * gaussian(r)).toFloat))
      record(v)
      v
    }
  }

  /** A near-duplicate of `v`: unit vector at cosine well above 0.99. */
  def nearCopy(r: SplittableRandom, v: Array[Float], eps: Double = 0.05): Array[Float] = {
    val scale = eps / math.sqrt(v.length)
    val out = Gen.normalize(v.map(x => (x + scale * gaussian(r)).toFloat))
    record(out)
    out
  }

  // ---------- prose ----------

  /** Prose of `words` Zipf-drawn words in sentences of 6-14 words. */
  def prose(r: SplittableRandom, z: Zipf, words: Int): String = {
    val sb = new StringBuilder
    var left = words
    while (left > 0) {
      val n = math.min(left, 6 + r.nextInt(9))
      sb ++= (0 until n).map(_ => z.draw(r)).mkString(" ") ++= ". "
      left -= n
    }
    sb.toString.trim
  }

  /** `n` distinct Zipf-drawn query terms. */
  def terms(r: SplittableRandom, z: Zipf, n: Int): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += z.draw(r)
    out.foreach(record)
    out.toSeq
  }

  /** A near-duplicate text: every word replaced with probability `p`. */
  def perturb(r: SplittableRandom, z: Zipf, text: String, p: Double): String =
    text.split(" ").map { w =>
      if (r.nextDouble() < p) z.draw(r) + (if (w.endsWith(".")) "." else "") else w
    }.mkString(" ")

  // ---------- PDF ----------

  /** A multi-page PDF whose pages are FlateDecode'd content streams
    * holding one `BT (line) Tj ET` block per line of [[Gen.pdfLines]],
    * `linesPerPage` blocks per page. Text must be [a-z .] only (no PDF
    * string escapes). The extractor should return [[Gen.pdfText]]. */
  def pdf(text: String, linesPerPage: Int = 40): Array[Byte] = {
    val pages = Gen.pdfLines(text).grouped(linesPerPage).map { ls =>
      Gen.deflate(ls.map(l => s"BT ($l) Tj ET").mkString("\n"))
    }.toSeq
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    w("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w(s"2 0 obj << /Type /Pages /Kids [$kids] /Count ${pages.length} >> endobj\n")
    pages.zipWithIndex.foreach { case (bytes, i) =>
      w(s"${3 + 2 * i} 0 obj << /Type /Page /Parent 2 0 R /Contents ${4 + 2 * i} 0 R >> endobj\n")
      w(s"${4 + 2 * i} 0 obj << /Filter /FlateDecode /Length ${bytes.length} >>\nstream\n")
      out.write(bytes)
      w("\nendstream\nendobj\n")
    }
    w(s"trailer << /Size ${3 + 2 * pages.length} /Root 1 0 R >>\n%%EOF")
    val b = out.toByteArray
    record(b)
    b
  }
}

/** Zipf(s) sampler over a synthetic vocabulary of `size` distinct
  * lowercase words (each a pronounceable [a-z]+ token). */
final class Zipf(size: Int, s: Double) {
  val words: Array[String] = Array.tabulate(size)(Gen.word)
  private val cdf = {
    val w = Array.tabulate(size)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def draw(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    words(math.min(if (i >= 0) i else -i - 1, size - 1))
  }
}

object Gen {
  def normalize(v: Array[Float]): Array[Float] = {
    var n = 0.0
    v.foreach(x => n += x.toDouble * x)
    val inv = 1.0 / math.sqrt(n)
    v.map(x => (x * inv).toFloat)
  }

  private val Cons = "bdfgklmnprstvz"
  private val Vow = "aeiou"

  /** The `i`-th vocabulary word: a unique consonant-vowel spelling of i. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    while ({
      sb += Cons(x % Cons.length); x /= Cons.length
      sb += Vow(x % Vow.length); x /= Vow.length
      x > 0
    }) ()
    sb.toString
  }

  /** The text blocks a PDF of `text` holds: lines of 12 words, and an
    * empty line after every 4 lines so the chunker sees paragraphs. */
  def pdfLines(text: String): Seq[String] =
    text.split(" ").grouped(12).map(_.mkString(" ")).toSeq.grouped(4)
      .flatMap(p => p :+ "").toSeq

  /** What text extraction of [[Gen.pdf]]`(text)` returns. */
  def pdfText(text: String): String = pdfLines(text).map(_ + "\n").mkString

  def deflate(s: String): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(s.getBytes("ISO-8859-1")); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }
}
