package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** A generated upload file: the text the caller meant to upload and the
  * bytes that land on disk (encoded, maybe with a BOM). */
final case class Doc(id: Long, text: String, encoding: String) {
  def bytes: Array[Byte] = Gen.encode(text, encoding)
}

/** A question and the ground truth the benchmark keeps to itself. */
final case class Question(id: Long, text: String, onTopic: Boolean, sourceDoc: Long,
                          sourceWords: Seq[String])

/** A re-upload batch with its planted duplicate groups. `near` maps each
  * near-duplicate's id to the id of the stored doc it was edited from. */
final case class ReuploadBatch(docs: Seq[Doc], exact: Set[Long], near: Map[Long, Long]) {
  def unique: Seq[Doc] = docs.filterNot(d => exact(d.id) || near.contains(d.id))
}

/** Seeded input generator. Everything the program sees is written as
  * `doc_<id>.txt` files; texts, duplicate groups and question sources stay
  * here. The same seed gives the same files.
  *
  * What varies, and why it matters to the program:
  *  - doc length is log-normal (heavy tail), so split packing and chunk
  *    counts are uneven;
  *  - text has paragraph breaks, line breaks, spaces and rare unbroken runs
  *    longer than 1000 chars, so every separator level of the splitter runs;
  *  - encodings mix UTF-8, UTF-8 with BOM, UTF-16LE/BE with BOM and
  *    latin-1-only bytes, so every branch of the decoder runs;
  *  - words follow a Zipf law over a synthetic vocabulary, so hashed
  *    embeddings share common buckets the way real text does;
  *  - questions are on-topic (a window of a stored doc) or off-topic (words
  *    the corpus never uses). */
final class Gen(seed: Long) {
  import Gen._

  private def rng(salt: Long): Random = new Random(seed * 0x9E3779B97F4A7C15L + salt)

  private val vocab: Array[String] = words(rng(1), Syllables, 6000)
  private val offTopic: Array[String] = words(rng(2), OffSyllables, 600)
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(vocab.length)(r => 1.0 / math.pow(r + 1, 1.07))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  }

  private def zipfWord(r: Random): String = {
    val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
    vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
  }

  private def word(r: Random, wide: Boolean): String = {
    val x = r.nextDouble()
    if (x < 0.02) Accented(r.nextInt(Accented.length))
    else if (wide && x < 0.025) Wide(r.nextInt(Wide.length))
    else zipfWord(r)
  }

  /** Text of about `nWords` words in sentences, lines and paragraphs. The
    * first char is always ASCII, so no text can be mistaken for a BOM. */
  def text(r: Random, nWords: Int, wide: Boolean): String = {
    val sb = new StringBuilder
    var w = 0
    while (w < nWords) {
      if (sb.nonEmpty) sb.append("\n\n")
      if (sb.nonEmpty && r.nextDouble() < 0.015) {
        // an unbroken run past the chunk size: only the "" separator splits it
        val n = 1000 + r.nextInt(900)
        var i = 0
        while (i < n) { sb.append(RunChars.charAt(r.nextInt(RunChars.length))); i += 1 }
        sb.append("\n\n")
      }
      val sentences = 1 + r.nextInt(7)
      var s = 0
      while (s < sentences && w < nWords) {
        if (s > 0) sb.append(if (r.nextDouble() < 0.15) "\n" else " ")
        val len = 4 + r.nextInt(16)
        var i = 0
        while (i < len) {
          if (i > 0) sb.append(' ')
          sb.append(if (sb.isEmpty) zipfWord(r) else word(r, wide))
          i += 1; w += 1
        }
        sb.append('.')
        s += 1
      }
    }
    sb.toString
  }

  private def docWords(r: Random): Int =
    math.exp(math.log(180) + 0.9 * r.nextGaussian()).round.toInt

  /** One fresh doc of about `words` words with a random encoding. */
  private def doc(r: Random, id: Long, words: Int): Doc = {
    val enc = pickEncoding(r)
    var t = text(r, math.max(30, math.min(6000, words)), wide = enc != "latin-1")
    // latin-1 files must hold a byte a strict UTF-8 decoder rejects, or the
    // decoder (rightly) reads them as UTF-8
    if (enc == "latin-1" && !t.exists(_ > 0x7f)) t = t + " " + Accented(r.nextInt(Accented.length))
    Doc(id, t, enc)
  }

  /** `n` docs with ids `firstId..`; a share `emptyShare` of them are empty
    * files. Lengths are heavy-tailed but scaled to a mean of 270 words, so
    * every seed gives a corpus of about the same size. */
  def docs(salt: Long, n: Int, firstId: Long, emptyShare: Double): Seq[Doc] = {
    val r = rng(salt)
    val words = Array.fill(n)(docWords(r))
    val scale = 270.0 * n / words.sum
    (0 until n).map { i =>
      if (r.nextDouble() < emptyShare) Doc(firstId + i, "", pickEncoding(r))
      else doc(r, firstId + i, (words(i) * scale).round.toInt)
    }
  }

  /** A second upload: exact re-uploads (re-encoded, same text), small-edit
    * near-duplicates of stored docs, and fresh docs, shuffled. */
  def reupload(salt: Long, stored: Seq[Doc], n: Int, firstId: Long,
               exactShare: Double, nearShare: Double): ReuploadBatch = {
    val r = rng(salt)
    val pool = r.shuffle(stored.filter(_.text.nonEmpty))
    val nExact = math.round(n * exactShare).toInt
    val nNear = math.round(n * nearShare).toInt
    val ids = r.shuffle((0 until n).map(firstId + _))
    val out = ArrayBuffer.empty[Doc]
    val near = Map.newBuilder[Long, Long]
    ids.zipWithIndex.foreach { case (id, i) =>
      if (i < nExact) out += Doc(id, pool(i).text, encodingFor(r, pool(i).text))
      else if (i < nExact + nNear) {
        val src = pool(i)
        val t = edit(r, src.text)
        out += Doc(id, t, encodingFor(r, t))
        near += id -> src.id
      } else out += doc(r, id, docWords(r))
    }
    ReuploadBatch(out.sortBy(_.id).toSeq, ids.take(nExact).toSet, near.result())
  }

  /** Replace about one word in 60 (at least one) with another word. */
  private def edit(r: Random, t: String): String = {
    val toks = t.split(" ", -1)
    val n = math.max(1, toks.length / 60)
    (0 until n).foreach { _ =>
      val i = 1 + r.nextInt(math.max(1, toks.length - 1))
      if (i < toks.length) toks(i) = zipfWord(r)
    }
    toks.mkString(" ")
  }

  /** Questions against `corpus`: a share `onTopicShare` quote a window of a
    * stored doc (plus a stray word or two), the rest use words the corpus
    * never contains. */
  def questions(salt: Long, corpus: Seq[Doc], n: Int, onTopicShare: Double): Seq[Question] = {
    val r = rng(salt)
    val pool = corpus.filter(_.text.nonEmpty).toIndexedSeq
    (0 until n).map { i =>
      if (r.nextDouble() < onTopicShare) {
        val d = pool(r.nextInt(pool.length))
        val toks = d.text.split("[ \n]+").map(_.stripSuffix(".")).filter(t => t.nonEmpty && t.length < 40)
        val len = math.min(toks.length, 5 + r.nextInt(6))
        val at = r.nextInt(toks.length - len + 1)
        val window = toks.slice(at, at + len).toSeq
        val extra = Seq.fill(r.nextInt(3))(zipfWord(r))
        Question(i, (window ++ extra).mkString(" "), onTopic = true, d.id, window)
      } else {
        val ws = Seq.fill(5 + r.nextInt(6))(offTopic(r.nextInt(offTopic.length)))
        Question(i, ws.mkString(" "), onTopic = false, -1L, Nil)
      }
    }
  }
}

object Gen {
  private val Syllables = Seq("ka", "ri", "to", "mel", "an", "sor", "vi", "den", "lu", "par",
    "ot", "ne", "gra", "fi", "bo", "tal", "re", "cu", "mi", "ser", "da", "lo", "pen", "ti")
  private val OffSyllables = Seq("zu", "qo", "xe", "jy", "wox", "zyq", "qua", "xo")
  // every accented char is latin-1 0xE0..0xFF, and a lead byte of a UTF-8
  // multi-byte sequence: followed by ASCII or another of these, it is
  // malformed UTF-8
  private val Accented = Array("café", "naïve", "façade", "señor", "über", "déjà", "crème",
    "garçon", "piñata", "jalapeño", "rôle", "fiancée", "tête", "müller", "höhle")
  // beyond latin-1, including a surrogate pair, for UTF-8 and UTF-16 files
  private val Wide = Array("€uro", "naïve—dash", "数据", "検索", "ωmega", "Ωhm", "😀ok", "δelta")
  private val RunChars = "abcdefghijklmnopqrstuvwxyz0123456789+/"
  private val Encodings = Seq("utf-8" -> 0.55, "utf-8-bom" -> 0.10, "utf-16le" -> 0.12,
    "utf-16be" -> 0.11, "latin-1" -> 0.12)

  private def words(r: Random, syl: Seq[String], n: Int): Array[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += Seq.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.length))).mkString
    out.toArray
  }

  private def pickEncoding(r: Random): String = {
    val x = r.nextDouble()
    var acc = 0.0
    Encodings.find { case (_, p) => acc += p; x < acc }.map(_._1).getOrElse("utf-8")
  }

  private def encodingFor(r: Random, t: String): String = {
    val e = pickEncoding(r)
    if (e == "latin-1" && !(t.forall(_ <= 0xff) && t.exists(_ > 0x7f))) "utf-8" else e
  }

  def encode(t: String, enc: String): Array[Byte] = {
    if (t.isEmpty) return Array.emptyByteArray
    def bom(b: Int*)(body: Array[Byte]) = b.map(_.toByte).toArray ++ body
    enc match {
      case "utf-8"     => t.getBytes(StandardCharsets.UTF_8)
      case "utf-8-bom" => bom(0xEF, 0xBB, 0xBF)(t.getBytes(StandardCharsets.UTF_8))
      case "utf-16le"  => bom(0xFF, 0xFE)(t.getBytes(StandardCharsets.UTF_16LE))
      case "utf-16be"  => bom(0xFE, 0xFF)(t.getBytes(StandardCharsets.UTF_16BE))
      case "latin-1"   => t.getBytes(StandardCharsets.ISO_8859_1)
    }
  }

  /** Write `docs` as an upload directory of `doc_<id>.txt` files; returns
    * the raw bytes written. */
  def writeUpload(dir: Path, docs: Seq[Doc]): Long = {
    Files.createDirectories(dir)
    docs.map { d =>
      val b = d.bytes
      Files.write(dir.resolve(s"doc_${d.id}.txt"), b)
      b.length.toLong
    }.sum
  }
}
