package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TrText

/** Differential test against the RUNNING reference:
  * src/test/resources/ref_fuzz.json holds (input, full, static, punct)
  * quadruples produced by EXECUTING the reference's AddressNormalizer
  * (seeded, driver-side python: sys.path /root/reference; 3000 fuzz strings
  * covering every indicator variant, Turkish casing, NFKC forms, and
  * punctuation shapes). All three pipelines must agree byte-for-byte. */
class ReferenceDifferentialSpec extends AnyFunSuite {

  val fixture = java.nio.file.Paths.get("src/test/resources/ref_fuzz.json")

  // minimal JSON array-of-objects parser for our fixed, escaped field set
  private def parse(txt: String): Seq[Map[String, String]] = {
    val objPat = """\{"input": (".*?"), "full": (".*?"), "static": (".*?"), "punct": (".*?")\}""".r
    def unq(s: String): String = {
      val sb = new StringBuilder
      var i = 1
      while (i < s.length - 1) {
        s.charAt(i) match {
          case '\\' =>
            s.charAt(i + 1) match {
              case 'n' => sb += '\n'; i += 2
              case 't' => sb += '\t'; i += 2
              case 'r' => sb += '\r'; i += 2
              case 'u' => sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
              case c => sb += c; i += 2
            }
          case c => sb += c; i += 1
        }
      }
      sb.toString
    }
    objPat.findAllMatchIn(txt).map(m => Map(
      "input" -> unq(m.group(1)), "full" -> unq(m.group(2)),
      "static" -> unq(m.group(3)), "punct" -> unq(m.group(4)))).toSeq
  }

  test("3000-case differential fuzz vs the executed reference normalizer") {
    assert(java.nio.file.Files.exists(fixture), s"tracked fixture $fixture missing")
    val cases = parse(new String(java.nio.file.Files.readAllBytes(fixture), "UTF-8"))
    assert(cases.length >= 2500, s"fixture parse too small: ${cases.length}")
    var bad = 0
    cases.foreach { c =>
      val in = c("input")
      if (TrText.normalizeFullS(in) != c("full")) {
        bad += 1
        if (bad <= 5) info(s"FULL drift on <$in>: got <${TrText.normalizeFullS(in)}> exp <${c("full")}>")
      }
      if (TrText.normalizeStaticS(in) != c("static")) {
        bad += 1
        if (bad <= 10) info(s"STATIC drift on <$in>: got <${TrText.normalizeStaticS(in)}> exp <${c("static")}>")
      }
      if (TrText.normalizePunctOnlyS(in) != c("punct")) {
        bad += 1
        if (bad <= 15) info(s"PUNCT drift on <$in>: got <${TrText.normalizePunctOnlyS(in)}> exp <${c("punct")}>")
      }
    }
    assert(bad == 0, s"$bad drifting outputs of ${cases.length * 3}")
  }
}
