package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.core.WordCount

/** Pins the DECLARED divergence from the reference's `fgets` line buffer
  * (`LINE_LENGTH 256`, `mpi_mapreduce.c:27,90`): the C reader consumes at
  * most 255 bytes per `fgets` call, so a physical line longer than that is
  * seen as several "lines", and a word straddling the 255-byte boundary is
  * split into two fragment tokens.
  *
  * This engine reads whole physical lines ([[graft.sources.Lines]] splits
  * on line breaks only, any length, and a range reads past its end to
  * finish its last line, as `spark.read.text` does), so the straddling
  * word stays ONE token.
  * SURVEY §7 declares this a deliberate divergence — the C behavior is a
  * buffer-size artifact, not a semantic choice — and COVERAGE.md records
  * it. This suite asserts the engine's documented behavior so a regression
  * (or an accidental "faithful" re-split) fails CI.
  */
class LongLineDivergenceSpec extends SparkSpec {

  test("a word straddling the 255-byte fgets boundary stays one token") {
    // Line layout: 248-byte prefix ("aaaa " × …, ending in a space), then
    // "straddlingword" (14 bytes) → line is 262 bytes, no '\n' until the
    // end. fgets(buf, 256) would return bytes 0..254 first — cutting the
    // word after "straddl" — then "ingword" on the next call.
    val pad = "aaaa " * 49 + "aa "        // 49×5 + 3 = 248 bytes, ends in a space
    assert(pad.getBytes(StandardCharsets.UTF_8).length === 248)
    val word = "straddlingword"
    val line = pad + word
    assert(line.getBytes(StandardCharsets.UTF_8).length === 262)

    val dir = graft.core.TempDirs.path("graft-longline")
    Files.write(dir.resolve("input.txt"), (line + "\n").getBytes(StandardCharsets.UTF_8))

    val counts = WordCount.run(spark, Seq(dir.toString))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // Engine behavior: the whole word survives intact, once.
    assert(counts.get(word) === Some(1L))
    // And no fgets-style fragments exist (the reference would emit these
    // two tokens instead of the whole word).
    assert(!counts.contains("straddl"))
    assert(!counts.contains("ingword"))
    // The padding words are unaffected by line length.
    assert(counts.get("aaaa") === Some(49L))
    assert(counts.get("aa") === Some(1L))
  }
}
