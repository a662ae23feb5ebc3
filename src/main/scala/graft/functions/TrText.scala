package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lower, translate}
import org.apache.spark.unsafe.types.UTF8String

/** Turkish address-text normalization: the reference's `AddressNormalizer`
  * (src/address_matching/normalization/normalize_address.py) as plain-Scala
  * kernels over precompiled `java.util.regex` patterns.
  *
  * The three pipelines `normalizeFullS` / `normalizeStaticS` /
  * `normalizePunctOnlyS` (N9 / N10 / N11, SURVEY.md §2.1) are the one
  * implementation: Catalyst callers reach their `UTF8String` forms through
  * the [[TrNormalize]] builders, and `mapPartitions` kernels (parser, NER,
  * synthesizers) call them directly. Their reference is the executed
  * reference itself: 40 ported goldens (TrTextSpec) and a 3,000-case fuzz
  * (ReferenceDifferentialSpec). The reference's user-supplied extra rules
  * (N8) have no caller here and are not carried.
  *
  * All three pipelines are idempotent by construction (ref
  * normalize_address.py:9,255,282) — asserted by a ScalaCheck property in the
  * test suite.
  *
  * Regex-dialect notes (Python `re` → `java.util.regex`):
  *  - the reference's `re.VERBOSE` patterns (normalize_address.py:55-104) are
  *    flattened here;
  *  - Java `\b` is ASCII-only by default while Python's is Unicode-aware, so
  *    every canonicalization pattern carries `(?U)` (UNICODE_CHARACTER_CLASS);
  *  - `(?<![A-Za-zÇĞİÖŞÜçğıöşü0-9])` lookbehind works unchanged in Java.
  */
object TrText {

  /** Turkish alphanumeric class for boundary checks (ref normalize_address.py:34). */
  val TrAlnum = "A-Za-zÇĞİÖŞÜçğıöşü0-9"
  /** Turkish alphabetic class for number-boundary splits (ref normalize_address.py:37). */
  val TrAlpha = "A-Za-zÇĞİÖŞÜçğıöşü"

  /** N3 `tr_lower` from builtins, for the DuckDB-oracled `q_tr_lower`; the
    * pipelines use the kernel [[trLowerS]]. */
  def trLower(c: Column): Column = lower(translate(c, "İI", "iı"))

  /** N5 pattern: every `mahalle/mahallesi/mah./mh/mhl/mahal/…` variant
    * (ref normalize_address.py:55-70, flattened from re.VERBOSE). */
  val NbhdPattern: String =
    s"(?iU)(?<![$TrAlnum])(" +
      "mahal{1,3}e[\\s\\._\\-]*s{1,2}[iı](?=$|[\\s,;:/\\-\\._])|" +
      "mahal{1,3}es{1,2}[iı](?=$|[\\s,;:/\\-\\._])|" +
      "mahal{1,3}e(?=$|[\\s,;:/\\-\\._])|" +
      "mah(?=\\.|\\b|[:/.\\-_])|" +
      "mh(?=\\.|\\b|[:/.\\-_])|" +
      "mhl(?=\\.|\\b|[:/.\\-_])|" +
      "mahl(?=\\.|\\b|[:/.\\-_])|" +
      "mahal(?=$|[\\s,;:/\\-\\._])" +
      ")"

  /** N6 pattern: `cadde/caddesi/cad./cd/…` (ref normalize_address.py:73-87). */
  val AvenuePattern: String =
    s"(?iU)(?<![$TrAlnum])(" +
      "cad{1,3}e[\\s\\._\\-]*s{1,2}[iı](?=$|[\\s,;:/\\-\\._])|" +
      "cad{1,3}es{1,2}[iı](?=$|[\\s,;:/\\-\\._])|" +
      "cad{1,3}e(?=$|[\\s,;:/\\-\\._])|" +
      "cad(?=\\.|\\b|[:/.\\-_])|" +
      "cd(?=\\.|\\b|[:/.\\-_])|" +
      "cadd(?=\\.|\\b|[:/.\\-_])|" +
      "cadde(?=$|[\\s,;:/\\-\\._])" +
      ")"

  /** N7 pattern: `sokak/sokağı/sk./sok/…` (ref normalize_address.py:90-104). */
  val StreetPattern: String =
    s"(?iU)(?<![$TrAlnum])(" +
      "sokağı(?:n|nın|nda|na)?(?=$|[\\s,;:/\\-\\._])|" +
      "soka[ğg][aeıiuüi](?=$|[\\s,;:/\\-\\._])|" +
      "soka[ğg](?=$|[\\s,;:/\\-\\._])|" +
      "sok{1,2}ak(?=$|[\\s,;:/\\-\\._])|" +
      "sokak(?:lar[ıi]?)?(?=$|[\\s,;:/\\-\\._])|" +
      "sk(?=\\.|\\b|[:/.\\-_])|" +
      "sok(?=\\.|\\b|[:/.\\-_])" +
      ")"

  private val ReWs = "\\s+".r
  private def jCollapse(s: String): String = ReWs.replaceAllIn(s, " ").trim

  private val RePreSoften = java.util.regex.Pattern.compile("\\s*([,;:/\\-\\._])\\s*")
  private val RePunctDrop = java.util.regex.Pattern.compile("[.,]")
  private val RePunctSpace = java.util.regex.Pattern.compile("(\\p{P})")
  private val ReNumLd = java.util.regex.Pattern.compile(s"([$TrAlpha])(?=\\d)")
  private val ReNumDl = java.util.regex.Pattern.compile(s"(\\d)(?=[$TrAlpha])")
  private val ReNbhd = java.util.regex.Pattern.compile(NbhdPattern)
  private val ReAvenue = java.util.regex.Pattern.compile(AvenuePattern)
  private val ReStreet = java.util.regex.Pattern.compile(StreetPattern)

  /** `unicodedata.normalize("NFKC", text)`, allocation-free on the common
    * already-normalized input (ref normalize_address.py:134,284). */
  private def nfkc(s: String): String =
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFKC)) s
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)

  /** N1 `pre_normalize`: NFKC + soft spacing around `[,;:/\-._]`
    * (ref normalize_address.py:117-136). */
  def preNormalizeS(s: String): String =
    jCollapse(RePreSoften.matcher(jCollapse(nfkc(s))).replaceAll(" $1 "))

  /** N2 `normalize_punctuation`: drop `.` and `,`; isolate every other Unicode
    * punctuation (category P*) as its own token (ref normalize_address.py:139-173).
    * Note `№` (So) and `⁄` (Sm) are NOT punctuation and pass through untouched. */
  def punctNormalizeS(s: String): String =
    jCollapse(RePunctSpace.matcher(RePunctDrop.matcher(s).replaceAll(" ")).replaceAll(" $1 "))

  /** N3 `tr_lower`: Turkish-aware lowercase — `İ→i`, `I→ı`, then Unicode lowercase
    * (ref normalize_address.py:112-115). Never JVM default-locale `toLowerCase`. */
  def trLowerS(s: String): String = s.replace('İ', 'i').replace('I', 'ı').toLowerCase(java.util.Locale.ROOT)

  /** N4 `normalize_numbers`: split letter↔digit boundaries, e.g. `B3Blok → B 3 Blok`
    * (ref normalize_address.py:107-108,176-187). Lookaheads keep the split
    * non-consuming, exactly as the Python patterns do. */
  def numberSplitS(s: String): String =
    jCollapse(ReNumDl.matcher(ReNumLd.matcher(s).replaceAll("$1 ")).replaceAll("$1 "))

  /** N9 full pipeline `normalize` (ref normalize_address.py:212-238):
    * NFKC → punct → tr_lower → numbers → mah (N5) → cad (N6) → sk (N7) → collapse. */
  def normalizeFullS(s: String): String = {
    var x = preNormalizeS(s)
    x = punctNormalizeS(x)
    x = trLowerS(x)
    x = numberSplitS(x)
    x = ReNbhd.matcher(x).replaceAll("mah")
    x = ReAvenue.matcher(x).replaceAll("cad")
    x = ReStreet.matcher(x).replaceAll("sk")
    jCollapse(x)
  }

  private def asciiFoldS(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      sb.append(s.charAt(i) match {
        case 'ı' => 'i'; case 'ö' => 'o'; case 'ü' => 'u'
        case 'ğ' => 'g'; case 'ş' => 's'; case 'ç' => 'c'
        case ch => ch
      })
      i += 1
    }
    sb.toString
  }

  /** N10 `normalize_static_parser` (ref normalize_address.py:241-268):
    * NFKC → punct → tr_lower → numbers → ASCII fold; no mah/cad/sk canon.
    * Used for gazetteer keys and parser input. */
  def normalizeStaticS(s: String): String =
    jCollapse(asciiFoldS(numberSplitS(trLowerS(punctNormalizeS(preNormalizeS(s))))))

  /** N11 `normalize_punctuation_only` (ref normalize_address.py:270-288):
    * NFKC → punct → numbers; case-preserving. */
  def normalizePunctOnlyS(s: String): String =
    jCollapse(numberSplitS(punctNormalizeS(preNormalizeS(s))))

  def normalizeFullS(s: UTF8String): UTF8String =
    UTF8String.fromString(normalizeFullS(s.toString))
  def normalizeStaticS(s: UTF8String): UTF8String =
    UTF8String.fromString(normalizeStaticS(s.toString))
  def normalizePunctOnlyS(s: UTF8String): UTF8String =
    UTF8String.fromString(normalizePunctOnlyS(s.toString))
}
