package graft.cli

import java.util.regex.{Matcher, Pattern}

import graft.layout.Structured.{FArr, FMap, FStr, FVal}

/** CLI-layer field operators — mirrors /root/reference/cmd/gdocai/main.go
  * (placeholder substitution C-1/C-2, filename sanitization C-3). */
object Fields {

  /** `@{(form_field|extractor_field).name(:default)}` (main.go:189-249).
    * Lookup order without explicit source: both -> form wins (warn),
    * else form, else extractor, else default. */
  private val placeholderRe =
    Pattern.compile("""@\{(?:(form_field|extractor_field)\.)?([^:}]+)(?::([^}]*))?\}""")

  def processPlaceholders(
      input: String,
      formFields: collection.Map[String, FVal],
      extractorFields: collection.Map[String, FVal],
      warn: String => Unit = _ => ()): String = {
    val m = placeholderRe.matcher(input)
    val sb = new java.lang.StringBuffer
    while (m.find()) {
      val source = Option(m.group(1)).getOrElse("")
      val fieldName = graft.text.GoStrings.trimSpace(Option(m.group(2)).getOrElse(""))
      val default = Option(m.group(3)).getOrElse("")
      val replacement = source match {
        case "form_field" =>
          val v = lookupFieldValue(fieldName, formFields); if (v.nonEmpty) v else default
        case "extractor_field" =>
          val v = lookupFieldValue(fieldName, extractorFields); if (v.nonEmpty) v else default
        case _ =>
          val formValue = lookupFieldValue(fieldName, formFields)
          val customValue = lookupFieldValue(fieldName, extractorFields)
          if (formValue.nonEmpty && customValue.nonEmpty) {
            warn(s"Field '$fieldName' found in both form fields and custom extractor fields. Using form field value.")
            formValue
          } else if (formValue.nonEmpty) formValue
          else if (customValue.nonEmpty) customValue
          else default
      }
      m.appendReplacement(sb, Matcher.quoteReplacement(replacement))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** lookupFieldValue (main.go:253-297): dot-path navigation; arrays ->
    * first element; maps -> `_value`. */
  def lookupFieldValue(fieldPath: String, data: collection.Map[String, FVal]): String = {
    val parts = fieldPath.split("\\.", -1)
    var current: Option[FVal] = Some(FMap(
      scala.collection.mutable.LinkedHashMap(data.toSeq: _*)))
    parts.foreach { part =>
      current = current match {
        case Some(FMap(mm)) => mm.get(part)
        case _ => None
      }
    }
    current match {
      case Some(FStr(s)) => s
      case Some(FArr(vs)) => vs.headOption.getOrElse("")
      case Some(FMap(mm)) => mm.get("_value") match {
        case Some(FStr(s)) => s
        case _ => ""
      }
      case None => ""
    }
  }

  private val reservedNames = Set(
    "con", "prn", "aux", "nul",
    "com1", "com2", "com3", "com4", "com5", "com6", "com7", "com8", "com9",
    "lpt1", "lpt2", "lpt3", "lpt4", "lpt5", "lpt6", "lpt7", "lpt8", "lpt9")

  private val controlChars = Pattern.compile("""[\x00-\x1F\x7F<>:"/\\|?*]""")

  /** Post-NFKD single-char fold table for letters NFKD cannot reduce:
    * Latin specials, the Greek and Cyrillic alphabets (standard
    * romanization), typographic punctuation. The reference uses the
    * anyascii table (main.go:307); shipping that table verbatim is out of
    * scope (zero egress), so this is our own deterministic romanization —
    * a DOCUMENTED divergence on exotic planes, but common European
    * scripts now fold instead of dropping. Lowercase keys only: callers
    * see the result lowercased by sanitizeFilename anyway, and uppercase
    * source chars are folded via toLower below. */
  private val foldTable: Map[Char, String] = {
    val latin = Map(
      'ß' -> "ss", 'æ' -> "ae", 'ø' -> "o", 'đ' -> "d", 'þ' -> "th",
      'ð' -> "d", 'ł' -> "l", 'œ' -> "oe", 'ŋ' -> "ng", 'ħ' -> "h")
    val greek = Map(
      'α' -> "a", 'β' -> "b", 'γ' -> "g", 'δ' -> "d", 'ε' -> "e",
      'ζ' -> "z", 'η' -> "e", 'θ' -> "th", 'ι' -> "i", 'κ' -> "k",
      'λ' -> "l", 'μ' -> "m", 'ν' -> "n", 'ξ' -> "x", 'ο' -> "o",
      'π' -> "p", 'ρ' -> "r", 'σ' -> "s", 'ς' -> "s", 'τ' -> "t",
      'υ' -> "y", 'φ' -> "f", 'χ' -> "ch", 'ψ' -> "ps", 'ω' -> "o")
    val cyrillic = Map(
      'а' -> "a", 'б' -> "b", 'в' -> "v", 'г' -> "g", 'д' -> "d",
      'е' -> "e", 'ё' -> "e", 'ж' -> "zh", 'з' -> "z", 'и' -> "i",
      'й' -> "i", 'к' -> "k", 'л' -> "l", 'м' -> "m", 'н' -> "n",
      'о' -> "o", 'п' -> "p", 'р' -> "r", 'с' -> "s", 'т' -> "t",
      'у' -> "u", 'ф' -> "f", 'х' -> "kh", 'ц' -> "ts", 'ч' -> "ch",
      'ш' -> "sh", 'щ' -> "shch", 'ъ' -> "", 'ы' -> "y", 'ь' -> "",
      'э' -> "e", 'ю' -> "yu", 'я' -> "ya")
    val punct = Map(
      '‐' -> "-", '‑' -> "-", '–' -> "-", '—' -> "-",
      '‘' -> "'", '’' -> "'", '“' -> "\"", '”' -> "\"",
      '«' -> "\"", '»' -> "\"", '•' -> "*", '·' -> "*",
      '€' -> "EUR", '£' -> "GBP", '¥' -> "JPY",
      '©' -> "(c)", '®' -> "(r)", '°' -> "deg")
    // Kana -> Hepburn, per character (round-4 verdict #5): the hiragana
    // table + the katakana block derived by its fixed +0x60 offset.
    // Entries are PRECOMPOSED (ga, pa, ...) — NFKD would split them into
    // base kana + a combining voicing mark and silently strip the
    // voicing, which is why transliterate consults the table BEFORE
    // normalizing. Small kana fold to their full-size reading (per-char
    // romanization, no digraph context — the anyascii convention).
    val kanaBase: Seq[(Char, String)] = Seq(
      'あ' -> "a", 'い' -> "i", 'う' -> "u", 'え' -> "e", 'お' -> "o",
      'か' -> "ka", 'き' -> "ki", 'く' -> "ku", 'け' -> "ke", 'こ' -> "ko",
      'が' -> "ga", 'ぎ' -> "gi", 'ぐ' -> "gu", 'げ' -> "ge", 'ご' -> "go",
      'さ' -> "sa", 'し' -> "shi", 'す' -> "su", 'せ' -> "se", 'そ' -> "so",
      'ざ' -> "za", 'じ' -> "ji", 'ず' -> "zu", 'ぜ' -> "ze", 'ぞ' -> "zo",
      'た' -> "ta", 'ち' -> "chi", 'つ' -> "tsu", 'て' -> "te", 'と' -> "to",
      'だ' -> "da", 'ぢ' -> "ji", 'づ' -> "zu", 'で' -> "de", 'ど' -> "do",
      'な' -> "na", 'に' -> "ni", 'ぬ' -> "nu", 'ね' -> "ne", 'の' -> "no",
      'は' -> "ha", 'ひ' -> "hi", 'ふ' -> "fu", 'へ' -> "he", 'ほ' -> "ho",
      'ば' -> "ba", 'び' -> "bi", 'ぶ' -> "bu", 'べ' -> "be", 'ぼ' -> "bo",
      'ぱ' -> "pa", 'ぴ' -> "pi", 'ぷ' -> "pu", 'ぺ' -> "pe", 'ぽ' -> "po",
      'ま' -> "ma", 'み' -> "mi", 'む' -> "mu", 'め' -> "me", 'も' -> "mo",
      'や' -> "ya", 'ゆ' -> "yu", 'よ' -> "yo",
      'ら' -> "ra", 'り' -> "ri", 'る' -> "ru", 'れ' -> "re", 'ろ' -> "ro",
      'わ' -> "wa", 'ゐ' -> "wi", 'ゑ' -> "we", 'を' -> "wo", 'ん' -> "n",
      'ぁ' -> "a", 'ぃ' -> "i", 'ぅ' -> "u", 'ぇ' -> "e", 'ぉ' -> "o",
      'っ' -> "tsu", 'ゃ' -> "ya", 'ゅ' -> "yu", 'ょ' -> "yo", 'ゎ' -> "wa",
      'ゔ' -> "vu")
    val kana: Map[Char, String] =
      kanaBase.toMap ++
        kanaBase.map { case (c, r) => ((c + 0x60).toChar, r) } +
        ('ー' -> "-") // prolonged-sound mark
    // Hangul: NFKD decomposes every syllable into conjoining jamo
    // (U+1100 block), so these ~70 entries give COMPLETE Hangul
    // coverage under Revised Romanization (leading / vowel / trailing
    // positions romanize differently, and the jamo blocks keep them
    // distinct codepoints).
    val jamoLead = Map(
      'ᄀ' -> "g", 'ᄁ' -> "kk", 'ᄂ' -> "n", 'ᄃ' -> "d",
      'ᄄ' -> "tt", 'ᄅ' -> "r", 'ᄆ' -> "m", 'ᄇ' -> "b",
      'ᄈ' -> "pp", 'ᄉ' -> "s", 'ᄊ' -> "ss", 'ᄋ' -> "",
      'ᄌ' -> "j", 'ᄍ' -> "jj", 'ᄎ' -> "ch", 'ᄏ' -> "k",
      'ᄐ' -> "t", 'ᄑ' -> "p", 'ᄒ' -> "h")
    val jamoVowel = Map(
      'ᅡ' -> "a", 'ᅢ' -> "ae", 'ᅣ' -> "ya", 'ᅤ' -> "yae",
      'ᅥ' -> "eo", 'ᅦ' -> "e", 'ᅧ' -> "yeo", 'ᅨ' -> "ye",
      'ᅩ' -> "o", 'ᅪ' -> "wa", 'ᅫ' -> "wae", 'ᅬ' -> "oe",
      'ᅭ' -> "yo", 'ᅮ' -> "u", 'ᅯ' -> "wo", 'ᅰ' -> "we",
      'ᅱ' -> "wi", 'ᅲ' -> "yu", 'ᅳ' -> "eu", 'ᅴ' -> "ui",
      'ᅵ' -> "i")
    val jamoTail = Map(
      'ᆨ' -> "k", 'ᆩ' -> "k", 'ᆪ' -> "k", 'ᆫ' -> "n",
      'ᆬ' -> "n", 'ᆭ' -> "n", 'ᆮ' -> "t", 'ᆯ' -> "l",
      'ᆰ' -> "k", 'ᆱ' -> "m", 'ᆲ' -> "l", 'ᆳ' -> "l",
      'ᆴ' -> "l", 'ᆵ' -> "p", 'ᆶ' -> "l", 'ᆷ' -> "m",
      'ᆸ' -> "p", 'ᆹ' -> "p", 'ᆺ' -> "t", 'ᆻ' -> "t",
      'ᆼ' -> "ng", 'ᆽ' -> "t", 'ᆾ' -> "t", 'ᆿ' -> "k",
      'ᇀ' -> "t", 'ᇁ' -> "p", 'ᇂ' -> "h")
    // Top-frequency CJK ideographs -> toneless pinyin: the most-hit
    // subset of anyascii's vendored Unihan readings (the full ~21k-char
    // table is vendored data we do not reproduce; unmapped ideographs
    // still drop — the documented residual divergence).
    val cjk = Map(
      '的' -> "de", '一' -> "yi", '是' -> "shi", '不' -> "bu", '了' -> "le",
      '人' -> "ren", '我' -> "wo", '在' -> "zai", '有' -> "you", '他' -> "ta",
      '这' -> "zhe", '中' -> "zhong", '大' -> "da", '来' -> "lai", '上' -> "shang",
      '国' -> "guo", '个' -> "ge", '到' -> "dao", '说' -> "shuo", '们' -> "men",
      '为' -> "wei", '子' -> "zi", '和' -> "he", '你' -> "ni", '地' -> "di",
      '出' -> "chu", '道' -> "dao", '也' -> "ye", '时' -> "shi", '年' -> "nian",
      '得' -> "de", '就' -> "jiu", '那' -> "na", '要' -> "yao", '下' -> "xia",
      '以' -> "yi", '生' -> "sheng", '会' -> "hui", '自' -> "zi", '着' -> "zhe",
      '去' -> "qu", '之' -> "zhi", '过' -> "guo", '家' -> "jia", '学' -> "xue",
      '对' -> "dui", '可' -> "ke", '她' -> "ta", '里' -> "li", '后' -> "hou",
      '小' -> "xiao", '心' -> "xin", '多' -> "duo", '天' -> "tian", '而' -> "er",
      '能' -> "neng", '好' -> "hao", '都' -> "dou", '然' -> "ran", '没' -> "mei",
      '日' -> "ri", '于' -> "yu", '起' -> "qi", '还' -> "hai", '发' -> "fa",
      '成' -> "cheng", '事' -> "shi", '只' -> "zhi", '作' -> "zuo", '当' -> "dang",
      '想' -> "xiang", '看' -> "kan", '文' -> "wen", '无' -> "wu", '开' -> "kai",
      '手' -> "shou", '十' -> "shi", '用' -> "yong", '主' -> "zhu", '行' -> "xing",
      '方' -> "fang", '又' -> "you", '如' -> "ru", '前' -> "qian", '所' -> "suo",
      '本' -> "ben", '见' -> "jian", '经' -> "jing", '头' -> "tou", '面' -> "mian",
      '公' -> "gong", '同' -> "tong", '三' -> "san", '已' -> "yi", '老' -> "lao",
      '从' -> "cong", '动' -> "dong", '两' -> "liang", '长' -> "chang", '知' -> "zhi",
      '民' -> "min", '样' -> "yang", '现' -> "xian", '分' -> "fen", '外' -> "wai",
      '北' -> "bei", '京' -> "jing", '东' -> "dong", '西' -> "xi", '南' -> "nan",
      '海' -> "hai", '山' -> "shan", '水' -> "shui", '火' -> "huo", '电' -> "dian",
      '语' -> "yu", '汉' -> "han", '字' -> "zi", '名' -> "ming", '书' -> "shu")
    latin ++ greek ++ cyrillic ++ punct ++ kana ++
      jamoLead ++ jamoVowel ++ jamoTail ++ cjk
  }

  /** Deterministic ASCII transliteration: the fold table FIRST on the
    * precomposed codepoint (voiced kana would otherwise lose their
    * voicing mark to NFKD — が decomposes to か + U+3099), then NFKD per
    * CODEPOINT (so compatibility forms — fullwidth, mathematical
    * alphanumerics like the non-BMP Fraktur vocab word — reduce to
    * their ASCII base, and Hangul syllables decompose to the fully
    * mapped conjoining-jamo block), then the fold table again for what
    * NFKD cannot reduce; anything still unmapped drops (like anyascii's
    * default for unmapped planes — after the round-5 Kana/Hangul/CJK
    * additions the residual divergence vs anyascii's vendored table is
    * uncommon ideographs and exotic planes). */
  def transliterate(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if (cp < 0x80) sb.append(cp.toChar)
      else if (cp <= 0xFFFF && foldTable.contains(cp.toChar))
        sb.append(foldTable(cp.toChar))
      else {
        val d = java.text.Normalizer.normalize(
          new String(Character.toChars(cp)), java.text.Normalizer.Form.NFKD)
        d.foreach { dc =>
          if (dc < 0x80) sb.append(dc)
          else foldTable.get(dc) match {
            case Some(f) => sb.append(f)
            case None =>
              val lower = Character.toLowerCase(dc)
              foldTable.get(lower).foreach { f =>
                // Locale.ROOT: default-locale toUpperCase is host-dependent
                // (tr-TR turns "i" into non-ASCII U+0130)
                sb.append(if (f.nonEmpty && Character.isUpperCase(dc))
                  f.toUpperCase(java.util.Locale.ROOT) else f)
              } // else: combining marks / unmapped planes drop
          }
        }
      }
    }
    sb.toString
  }

  /** sanitizeFilename (main.go:302-375). */
  def sanitizeFilename(filename0: String): String = {
    if (graft.text.GoStrings.trimSpace(filename0).isEmpty) return "unnamed"
    var filename = transliterate(filename0).toLowerCase(java.util.Locale.ROOT)
    filename = filename.replace("../", "").replace("..\\", "")
    var sanitized = controlChars.matcher(filename).replaceAll("_")
    sanitized = sanitized.replaceAll("_+", "_")
    sanitized = trimChars(sanitized, "_ .")
    // extension split (filepath.Ext: suffix from last '.')
    val dot = sanitized.lastIndexOf('.')
    val ext = if (dot >= 0) sanitized.substring(dot) else ""
    var baseName = if (ext.nonEmpty) sanitized.substring(0, sanitized.length - ext.length) else sanitized
    if (reservedNames.contains(baseName)) {
      baseName = "_" + baseName
      sanitized = baseName + ext
    }
    if (sanitized.isEmpty) sanitized = "unnamed"
    val maxLength = 240 // BYTES (Go len); truncation is UTF-8-safe
    val bytes = sanitized.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (bytes.length > maxLength) {
      val extBytes = ext.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var s =
        if (ext.nonEmpty) utf8Prefix(bytes, maxLength - extBytes.length) + ext
        else utf8Prefix(bytes, maxLength)
      sanitized = s
    }
    sanitized
  }

  private def trimChars(s: String, cutset: String): String = {
    var i = 0
    var j = s.length
    while (i < j && cutset.indexOf(s.charAt(i)) >= 0) i += 1
    while (j > i && cutset.indexOf(s.charAt(j - 1)) >= 0) j -= 1
    s.substring(i, j)
  }

  /** Byte-truncate then drop trailing bytes until valid UTF-8 (mirrors
    * main.go:370-372's ValidString loop). */
  private def utf8Prefix(bytes: Array[Byte], n: Int): String = {
    var len = Math.max(0, Math.min(n, bytes.length))
    def valid(l: Int): Boolean = {
      val cs = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      try { cs.decode(java.nio.ByteBuffer.wrap(bytes, 0, l)); true }
      catch { case _: Exception => false }
    }
    while (len > 0 && !valid(len)) len -= 1
    new String(bytes, 0, len, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Exit-code protocol (C-4, main.go:901-910 + cmd/pdfocr/main.go:323-331)
    * as job-level status aggregation: 3 = strict OCR block, 2 = "already
    * has OCR" or any warning, 1 = errors, 0 = clean. */
  def exitCode(nErrors: Long, nStrictOcrBlocks: Long, nHasOcr: Long, nWarnings: Long): Int =
    if (nStrictOcrBlocks > 0) 3
    else if (nHasOcr > 0 || nWarnings > 0) 2
    else if (nErrors > 0) 1
    else 0
}
