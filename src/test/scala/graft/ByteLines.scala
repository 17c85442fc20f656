package graft

import java.nio.charset.StandardCharsets.US_ASCII

import org.scalacheck.Gen

/** Raw byte lines for the word-count kernel specs: the edge classes of
  * the split, strip and length-cap rules, as ScalaCheck generators and
  * as fixed cases. Compare results as raw bytes (hex), never as decoded
  * JVM strings.
  */
object ByteLines {

  def ascii(s: String): Array[Byte] = s.getBytes(US_ASCII)
  private def letters(n: Int): Gen[Array[Byte]] =
    Gen.listOfN(n, Gen.alphaChar).map(cs => ascii(cs.mkString))

  /** Pieces concatenated without separators, so adjacent ones merge
    * into tokens with punctuation, high bytes or a BOM at either end.
    */
  private val piece: Gen[Array[Byte]] = Gen.frequency(
    6 -> Gen.choose(1, 12).flatMap(letters),
    2 -> Gen.oneOf(70, 71, 72).flatMap(letters),
    1 -> Gen.oneOf(70, 71, 72).map(n => Array.fill(n)('.'.toByte)),
    3 -> Gen.choose(1, 3).map(n => Array.fill(n)(' '.toByte)),
    2 -> Gen.oneOf("(", ").", "'", "--", "...", "1871", "\t", "\r", "\r\n").map(ascii),
    2 -> Gen.choose(0x80, 0xFF).map(b => Array(b.toByte)),
    1 -> Gen.const(Array(0xEF, 0xBB, 0xBF).map(_.toByte)),
    1 -> Gen.choose(0, 0xFF).map(b => Array(b.toByte)))

  val line: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(Array.emptyByteArray),
    12 -> Gen.listOf(piece).map(_.toArray.flatten))

  val edges: Seq[Array[Byte]] = Seq("", " ", "   ", " a", "a ", "  a  b  ",
    "...", "(The) QUICK, brown", "\uFEFFProject Gutenberg\r", "a\tb c\rd",
    "x" * 70, "x" * 71, "(" + "x" * 70 + ")", "(" + "x" * 71 + ")", "." * 70, "." * 71)
    .map(_.getBytes("UTF-8")) :+ Array(0xE9, 0x20, 0x63, 0x61, 0x66, 0xE9).map(_.toByte)

  def hexOf(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02X").mkString

  /** The i-th word of an endless list of distinct lowercase words ("a",
    * …, "z", "ba", …): every kernel keeps each of them whole.
    */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    while ({ sb += ('a' + x % 26).toChar; x /= 26; x > 0 }) ()
    sb.reverse.toString
  }

  /** Lines of 16 words: `distinct` different words, then the first
    * `repeated` of them again.
    */
  def wideLines(distinct: Int, repeated: Int): Seq[Array[Byte]] =
    ((0 until distinct) ++ (0 until repeated)).grouped(16)
      .map(ws => ascii(ws.map(word).mkString(" "))).toSeq
}
