package graft.dom

/** HTML4 named character references — the set libxml2's HTML parser knows
  * (the reference parses via lxml/libxml2, /root/reference/readability/htmls.py:16).
  * Numeric references (`&#13;` / `&#x2019;`) are handled by the decoder.
  */
object Entities {
  val byName: Map[String, String] = Map(
    // C0 / basic
    "quot" -> "\"", "amp" -> "&", "lt" -> "<", "gt" -> ">", "apos" -> "'",
    // Latin-1
    "nbsp" -> " ", "iexcl" -> "¡", "cent" -> "¢",
    "pound" -> "£", "curren" -> "¤", "yen" -> "¥",
    "brvbar" -> "¦", "sect" -> "§", "uml" -> "¨",
    "copy" -> "©", "ordf" -> "ª", "laquo" -> "«",
    "not" -> "¬", "shy" -> "­", "reg" -> "®",
    "macr" -> "¯", "deg" -> "°", "plusmn" -> "±",
    "sup2" -> "²", "sup3" -> "³", "acute" -> "´",
    "micro" -> "µ", "para" -> "¶", "middot" -> "·",
    "cedil" -> "¸", "sup1" -> "¹", "ordm" -> "º",
    "raquo" -> "»", "frac14" -> "¼", "frac12" -> "½",
    "frac34" -> "¾", "iquest" -> "¿",
    "Agrave" -> "À", "Aacute" -> "Á", "Acirc" -> "Â",
    "Atilde" -> "Ã", "Auml" -> "Ä", "Aring" -> "Å",
    "AElig" -> "Æ", "Ccedil" -> "Ç", "Egrave" -> "È",
    "Eacute" -> "É", "Ecirc" -> "Ê", "Euml" -> "Ë",
    "Igrave" -> "Ì", "Iacute" -> "Í", "Icirc" -> "Î",
    "Iuml" -> "Ï", "ETH" -> "Ð", "Ntilde" -> "Ñ",
    "Ograve" -> "Ò", "Oacute" -> "Ó", "Ocirc" -> "Ô",
    "Otilde" -> "Õ", "Ouml" -> "Ö", "times" -> "×",
    "Oslash" -> "Ø", "Ugrave" -> "Ù", "Uacute" -> "Ú",
    "Ucirc" -> "Û", "Uuml" -> "Ü", "Yacute" -> "Ý",
    "THORN" -> "Þ", "szlig" -> "ß",
    "agrave" -> "à", "aacute" -> "á", "acirc" -> "â",
    "atilde" -> "ã", "auml" -> "ä", "aring" -> "å",
    "aelig" -> "æ", "ccedil" -> "ç", "egrave" -> "è",
    "eacute" -> "é", "ecirc" -> "ê", "euml" -> "ë",
    "igrave" -> "ì", "iacute" -> "í", "icirc" -> "î",
    "iuml" -> "ï", "eth" -> "ð", "ntilde" -> "ñ",
    "ograve" -> "ò", "oacute" -> "ó", "ocirc" -> "ô",
    "otilde" -> "õ", "ouml" -> "ö", "divide" -> "÷",
    "oslash" -> "ø", "ugrave" -> "ù", "uacute" -> "ú",
    "ucirc" -> "û", "uuml" -> "ü", "yacute" -> "ý",
    "thorn" -> "þ", "yuml" -> "ÿ",
    // Latin Extended / special
    "OElig" -> "Œ", "oelig" -> "œ", "Scaron" -> "Š",
    "scaron" -> "š", "Yuml" -> "Ÿ", "fnof" -> "ƒ",
    "circ" -> "ˆ", "tilde" -> "˜",
    // Greek
    "Alpha" -> "Α", "Beta" -> "Β", "Gamma" -> "Γ",
    "Delta" -> "Δ", "Epsilon" -> "Ε", "Zeta" -> "Ζ",
    "Eta" -> "Η", "Theta" -> "Θ", "Iota" -> "Ι",
    "Kappa" -> "Κ", "Lambda" -> "Λ", "Mu" -> "Μ",
    "Nu" -> "Ν", "Xi" -> "Ξ", "Omicron" -> "Ο",
    "Pi" -> "Π", "Rho" -> "Ρ", "Sigma" -> "Σ",
    "Tau" -> "Τ", "Upsilon" -> "Υ", "Phi" -> "Φ",
    "Chi" -> "Χ", "Psi" -> "Ψ", "Omega" -> "Ω",
    "alpha" -> "α", "beta" -> "β", "gamma" -> "γ",
    "delta" -> "δ", "epsilon" -> "ε", "zeta" -> "ζ",
    "eta" -> "η", "theta" -> "θ", "iota" -> "ι",
    "kappa" -> "κ", "lambda" -> "λ", "mu" -> "μ",
    "nu" -> "ν", "xi" -> "ξ", "omicron" -> "ο",
    "pi" -> "π", "rho" -> "ρ", "sigmaf" -> "ς",
    "sigma" -> "σ", "tau" -> "τ", "upsilon" -> "υ",
    "phi" -> "φ", "chi" -> "χ", "psi" -> "ψ",
    "omega" -> "ω", "thetasym" -> "ϑ", "upsih" -> "ϒ",
    "piv" -> "ϖ",
    // punctuation
    "ensp" -> " ", "emsp" -> " ", "thinsp" -> " ",
    "zwnj" -> "‌", "zwj" -> "‍", "lrm" -> "‎",
    "rlm" -> "‏", "ndash" -> "–", "mdash" -> "—",
    "lsquo" -> "‘", "rsquo" -> "’", "sbquo" -> "‚",
    "ldquo" -> "“", "rdquo" -> "”", "bdquo" -> "„",
    "dagger" -> "†", "Dagger" -> "‡", "bull" -> "•",
    "hellip" -> "…", "permil" -> "‰", "prime" -> "′",
    "Prime" -> "″", "lsaquo" -> "‹", "rsaquo" -> "›",
    "oline" -> "‾", "frasl" -> "⁄", "euro" -> "€",
    // letterlike / arrows / math
    "image" -> "ℑ", "weierp" -> "℘", "real" -> "ℜ",
    "trade" -> "™", "alefsym" -> "ℵ",
    "larr" -> "←", "uarr" -> "↑", "rarr" -> "→",
    "darr" -> "↓", "harr" -> "↔", "crarr" -> "↵",
    "lArr" -> "⇐", "uArr" -> "⇑", "rArr" -> "⇒",
    "dArr" -> "⇓", "hArr" -> "⇔",
    "forall" -> "∀", "part" -> "∂", "exist" -> "∃",
    "empty" -> "∅", "nabla" -> "∇", "isin" -> "∈",
    "notin" -> "∉", "ni" -> "∋", "prod" -> "∏",
    "sum" -> "∑", "minus" -> "−", "lowast" -> "∗",
    "radic" -> "√", "prop" -> "∝", "infin" -> "∞",
    "ang" -> "∠", "and" -> "∧", "or" -> "∨",
    "cap" -> "∩", "cup" -> "∪", "int" -> "∫",
    "there4" -> "∴", "sim" -> "∼", "cong" -> "≅",
    "asymp" -> "≈", "ne" -> "≠", "equiv" -> "≡",
    "le" -> "≤", "ge" -> "≥", "sub" -> "⊂",
    "sup" -> "⊃", "nsub" -> "⊄", "sube" -> "⊆",
    "supe" -> "⊇", "oplus" -> "⊕", "otimes" -> "⊗",
    "perp" -> "⊥", "sdot" -> "⋅",
    // misc technical / shapes
    "lceil" -> "⌈", "rceil" -> "⌉", "lfloor" -> "⌊",
    "rfloor" -> "⌋", "lang" -> "〈", "rang" -> "〉",
    "loz" -> "◊", "spades" -> "♠", "clubs" -> "♣",
    "hearts" -> "♥", "diams" -> "♦",
  )

  /** Decode character references in `s`. Only well-formed references with a
    * terminating `;` (a numeric one: `#` and ASCII digits, or `#x` and hex
    * digits) are decoded (libxml2-recovery-ish: a bare `&` stays
    * literal). */
  def decode(s: String): String = {
    var amp = s.indexOf('&')
    if (amp < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    while (amp >= 0) {
      sb.append(s, pos, amp)
      val semi = s.indexOf(';', amp + 1)
      var consumed = false
      if (semi > amp && semi - amp <= 32) {
        val body = s.substring(amp + 1, semi)
        if (body.nonEmpty && (body.charAt(0) == '#')) {
          val hex = body.length > 1 && (body.charAt(1) == 'x' || body.charAt(1) == 'X')
          val num = body.substring(if (hex) 2 else 1)
          val radix = if (hex) 16 else 10
          // ASCII digits only: parseInt also takes a sign and other scripts' digits
          val cp: Int =
            if (num.isEmpty || !num.forall(c => c < 128 && Character.digit(c, radix) >= 0)) -1
            else try Integer.parseInt(num, radix) catch { case _: NumberFormatException => -1 }
          if (cp >= 0 && cp <= 0x10ffff && !(cp >= 0xd800 && cp <= 0xdfff)) {
            sb.appendCodePoint(if (cp == 0) 0xfffd else cp)
            consumed = true
          }
        } else {
          byName.get(body) match {
            case Some(rep) => sb.append(rep); consumed = true
            case None =>
          }
        }
      }
      if (consumed) pos = semi + 1
      else { sb.append('&'); pos = amp + 1 }
      amp = s.indexOf('&', pos)
    }
    sb.append(s, pos, s.length)
    sb.toString
  }
}
