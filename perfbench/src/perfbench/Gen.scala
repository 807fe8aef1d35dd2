package perfbench

import java.util.SplittableRandom

/** One entry of the generated vocabulary: the surface form written into a
 *  document and the tokens it analyzes to, written out by the generator's
 *  own rules (never by calling the program's analyzer).
 *
 *  `codeTokens` follow the code analyzer: a composite identifier yields its
 *  whole lowercased form followed by its lowercased camelCase / letter-digit
 *  parts. */
final case class Word(surface: String, codeTokens: Array[String])

/** Seeded corpus and vocabulary. Every document is a pure function of
 *  (seed, doc id), so executors can render texts while the driver keeps the
 *  word ids as the ground truth for the reference. */
final class Corpus(val seed: Long, val nDocs: Int, val words: Array[Word]) extends Serializable {
  import Corpus._

  /** Zipf(s = ZipfS) cumulative weights over word ranks. */
  private val cdf: Array[Double] = {
    val c = new Array[Double](words.length)
    var acc = 0.0
    var r = 0
    while (r < words.length) { acc += 1.0 / math.pow(r + 1, ZipfS); c(r) = acc; r += 1 }
    c
  }

  private def sample(rng: SplittableRandom): Int = {
    val u = rng.nextDouble() * cdf(cdf.length - 1)
    var lo = 0
    var hi = cdf.length - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
    lo
  }

  private def docRng(doc: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + doc * 0xC2B2AE3D27D4EB4FL + 17)

  /** Word ids of one document, in order; its length is uniform over
   *  [MinLen, MaxLen]. */
  def docWords(doc: Long): Array[Int] = {
    val rng = docRng(doc)
    Array.fill(MinLen + rng.nextInt(MaxLen - MinLen + 1))(sample(rng))
  }

  def lang(doc: Long): String = Langs(((doc * 0x9E3779B97F4A7C15L + seed) >>> 33).toInt % Langs.length)

  /** Text of one document: surfaces joined by non-alphanumeric separators. */
  def text(doc: Long, ids: Array[Int]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < ids.length) {
      if (i > 0) sb.append(Seps(((doc * 31 + i) * 0x9E3779B1L >>> 16).toInt & 7))
      sb.append(words(ids(i)).surface)
      i += 1
    }
    sb.toString
  }
}

object Corpus {
  /** Zipf exponent of word ranks: with it the 30 keywords make up 44% of
   *  all words, as keywords make up 45% of the tokens of
   *  `graft.corpus.Corpus.generate`. */
  val ZipfS = 1.05
  /** Words per document, as in `graft.corpus.Corpus.generate` (20 to 219). */
  val MinLen = 20
  val MaxLen = 219
  val Langs: Array[String] = Array("java", "python", "go", "rust", "js")
  private val Seps = Array(" ", " ", " ", "(", ").", ", ", "\n", " = ")

  /** Keywords take the head ranks: the terms found in most documents. */
  val Keywords: Array[String] = Array(
    "return", "import", "public", "static", "void", "int", "self", "def",
    "func", "const", "let", "var", "class", "new", "if", "else", "for",
    "while", "try", "catch", "null", "true", "false", "string", "value",
    "data", "result", "index", "list", "map")

  private val Cons = "bcdfghjklmnprstvwz"
  private val Vows = "aeiou"

  private def part(rng: SplittableRandom): String = {
    val sb = new StringBuilder
    val syl = 2 + rng.nextInt(2)
    for (_ <- 0 until syl) {
      sb.append(Cons.charAt(rng.nextInt(Cons.length)))
      sb.append(Vows.charAt(rng.nextInt(Vows.length)))
      if (rng.nextInt(3) == 0) sb.append(Cons.charAt(rng.nextInt(Cons.length)))
    }
    sb.toString
  }

  private def cap(s: String) = s.substring(0, 1).toUpperCase + s.substring(1)

  /** Vocabulary of `nWords` words: keywords first, then a seeded mix of
   *  plain words (50%), camelCase (30%), PascalCase (10%), snake_case (5%)
   *  and letter+digit words (5%) built from `nParts` generated parts. */
  def vocabulary(seed: Long, nWords: Int, nParts: Int): Array[Word] = {
    val rng = new SplittableRandom(seed * 7919 + 3)
    val kw = Keywords.toSet
    val parts = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < nParts) { val p = part(rng); if (!kw(p)) seen += p }
      seen.toArray
    }
    def pickPart(): String = parts(math.min(parts.length - 1, (rng.nextDouble() * rng.nextDouble() * parts.length).toInt))
    val out = scala.collection.mutable.ArrayBuffer.empty[Word]
    val surfaces = scala.collection.mutable.HashSet.empty[String]
    Keywords.foreach { k => out += Word(k, Array(k)); surfaces += k }
    var nextPlain = 0
    while (out.size < nWords) {
      val kind = rng.nextInt(20)
      val w: Word =
        if (kind < 10 && nextPlain < parts.length) {
          val p = parts(nextPlain); nextPlain += 1
          Word(p, Array(p))
        } else if (kind < 16) {
          val ps = Array.fill(2 + rng.nextInt(2))(pickPart())
          val surface = if (kind < 14) ps.head + ps.tail.map(cap).mkString else ps.map(cap).mkString
          val whole = ps.mkString
          Word(surface, whole +: ps)
        } else if (kind < 18) {
          val ps = Array(pickPart(), pickPart())
          Word(ps.mkString("_"), ps)
        } else {
          val p = pickPart()
          val d = (1 + rng.nextInt(99)).toString
          Word(p + d, Array(p + d, p, d))
        }
      if (surfaces.add(w.surface)) out += w
    }
    out.toArray
  }
}

/** Sizes of each workload's generated input. */
object Sizes {
  /** search: 20k docs = 5 buckets of 4096 docs for a head term. */
  val SearchDocs = 20000
  /** index-build: as many as search; a build round costs nearly as much
   *  at 2,000 docs, its time being mostly fixed cost per Spark job. */
  val BuildDocs = 20000
  /** Vocabulary: ranks 4000-7999, the rare shape, each fall in about 0.1-0.2%
   *  of documents. */
  val Words = 20000
  val Parts = 3000
}
