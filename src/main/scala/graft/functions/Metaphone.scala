package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Classic Metaphone (Lawrence Philips, Computer Language 7(12), 1990) as a
  * static kernel call from Catalyst ([[MetaphoneUtil.metaphoneCol]]) — the
  * second phonetic key the north star names for blocking ("postcode
  * prefix + phonetic street token via Soundex/Metaphone"); Spark ships only
  * `soundex`. Encoding follows the
  * published rule table with the Apache Commons Codec conventions (max code
  * length 4, initial-cluster exceptions, vowels kept only word-initially);
  * verified in tests against the commonly published vector set. */
object MetaphoneUtil {

  def metaphoneCol(c: Column): Column =
    Bridge.staticCall(this, "metaphone", StringType, Seq(c -> StringType))

  def metaphone(s: UTF8String): UTF8String = UTF8String.fromString(metaphone(s.toString))

  private val MaxLen = 4
  private def isVowel(c: Char): Boolean = "AEIOU".indexOf(c) >= 0

  /** Classic Metaphone of the FIRST alphabetic run of `input` (a multi-word
    * street name keys on its leading token, like soundex does). */
  def metaphone(input: String): String = {
    // keep letters only, uppercased (ascii fold happened upstream in the
    // normalizer; anything non-[a-z] is simply dropped)
    val sb = new java.lang.StringBuilder(input.length)
    var i = 0
    while (i < input.length && sb.length < 32) {
      val ch = Character.toUpperCase(input.charAt(i))
      if (ch >= 'A' && ch <= 'Z') sb.append(ch)
      else if (sb.length > 0) i = input.length // first run only
      i += 1
    }
    val s0 = sb.toString
    if (s0.isEmpty) return ""
    if (s0.length == 1) return s0

    // initial-cluster exceptions
    val s = (s0.substring(0, 2) match {
      case "AE" | "GN" | "KN" | "PN" | "WR" => s0.substring(1)
      case "WH"                             => "W" + s0.substring(2)
      case _ if s0.charAt(0) == 'X'         => "S" + s0.substring(1)
      case _                                => s0
    })
    val n = s.length
    val out = new java.lang.StringBuilder(MaxLen)
    var k = 0
    def at(j: Int): Char = if (j >= 0 && j < n) s.charAt(j) else 0
    def regionIs(j: Int, str: String): Boolean =
      j >= 0 && j + str.length <= n && s.regionMatches(j, str, 0, str.length)

    while (k < n && out.length < MaxLen) {
      val c = s.charAt(k)
      // collapse doubled letters except C
      if (c != 'C' && k > 0 && at(k - 1) == c) { k += 1 }
      else {
        c match {
          case 'A' | 'E' | 'I' | 'O' | 'U' =>
            if (k == 0) out.append(c)
          case 'B' =>
            // silent in terminal -MB
            if (!(k == n - 1 && at(k - 1) == 'M')) out.append('B')
          case 'C' =>
            if (regionIs(k - 1, "SCH")) out.append('K')           // -SCH-
            else if (regionIs(k, "CIA")) out.append('X')          // -CIA-
            else if (regionIs(k, "CH")) out.append('X')           // -CH-
            else if (k + 1 < n && "IEY".indexOf(at(k + 1)) >= 0) out.append('S')
            else out.append('K')
          case 'D' =>
            if (regionIs(k, "DGE") || regionIs(k, "DGY") || regionIs(k, "DGI")) {
              out.append('J'); k += 1 // skip the G
            } else out.append('T')
          case 'F' => out.append('F')
          case 'G' =>
            val silentGH = regionIs(k, "GH") &&
              !(k + 2 >= n || isVowel(at(k + 2)))                 // GH not before vowel
            val silentGN = regionIs(k, "GN")                      // GN, GNED
            val partOfDge = k > 0 && at(k - 1) == 'D' &&
              k + 1 < n && "EYI".indexOf(at(k + 1)) >= 0          // already emitted J
            if (!silentGH && !silentGN && !partOfDge) {
              if (k + 1 < n && "IEY".indexOf(at(k + 1)) >= 0) out.append('J')
              else out.append('K')
            }
          case 'H' =>
            // silent after vowel with no following vowel, and in CH/SH/PH/TH/GH pairs
            val afterDigraph = k > 0 && "CSPTG".indexOf(at(k - 1)) >= 0
            if (!afterDigraph &&
                !(k > 0 && isVowel(at(k - 1)) && !(k + 1 < n && isVowel(at(k + 1)))))
              out.append('H')
          case 'J' => out.append('J')
          case 'K' => if (!(k > 0 && at(k - 1) == 'C')) out.append('K')
          case 'L' => out.append('L')
          case 'M' => out.append('M')
          case 'N' => out.append('N')
          case 'P' =>
            if (at(k + 1) == 'H') { out.append('F'); k += 1 }
            else out.append('P')
          case 'Q' => out.append('K')
          case 'R' => out.append('R')
          case 'S' =>
            if (regionIs(k, "SH")) { out.append('X'); k += 1 }
            else if (regionIs(k, "SIO") || regionIs(k, "SIA")) out.append('X')
            else out.append('S')
          case 'T' =>
            if (regionIs(k, "TIO") || regionIs(k, "TIA")) out.append('X')
            else if (regionIs(k, "TH")) { out.append('0'); k += 1 } // theta
            else if (!regionIs(k, "TCH")) out.append('T')           // TCH: T silent
          case 'V' => out.append('F')
          case 'W' => if (k + 1 < n && isVowel(at(k + 1))) out.append('W')
          case 'X' => out.append('K'); if (out.length < MaxLen) out.append('S')
          case 'Y' => if (k + 1 < n && isVowel(at(k + 1))) out.append('Y')
          case 'Z' => out.append('S')
          case _ =>
        }
        k += 1
      }
    }
    out.toString
  }
}
