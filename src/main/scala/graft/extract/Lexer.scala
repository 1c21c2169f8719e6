package graft.extract

import graft.core.Block
import scala.collection.mutable

/** E1 — byte/DOM stream tokenizer of a turn payload into a block stream with
  * char offsets (SURVEY.md §2.4). This is the engine's replacement for the
  * reference's opaque extraction kernel (`shell_tesseract`,
  * reference: modules/image_ocr.py:29-36): instead of shelling out per file,
  * a pure Scala lexer runs partition-parallel inside a typed `Dataset.map`.
  *
  * The lexer handles four payload families (detected by [[PayloadKind]]):
  * HTML-ish markup, pseudo-PDF layout lines, tool-call JSON, and plain text.
  * Everything downstream (features, classification, reassembly) is columnar.
  *
  * Design constraints:
  *  - single forward pass, zero allocation beyond the output blocks;
  *  - offsets are char offsets into the ORIGINAL payload (span recovery, E5);
  *  - block text must be byte-exact recoverable (north_rule: per-turn text
  *    equality) — no normalization happens here.
  */
object Lexer {

  /** Block-level container tags: opening/closing one closes the current text
    * block. Inline tags accumulate into the current block's tag counts. */
  private val BlockTags: Set[String] = Set(
    "div", "p", "nav", "footer", "header", "aside", "main", "article",
    "section", "ul", "ol", "li", "table", "tr", "td", "th", "h1", "h2",
    "h3", "h4", "h5", "h6", "blockquote", "pre", "form", "body", "html",
    "head", "title", "script", "style", "br", "hr"
  )

  /** Tags whose entire subtree is never content (dropped outright). */
  private val DropTags: Set[String] = Set("script", "style", "head", "title")

  /** Self-closing / void tags — never pushed on the stack. */
  private val VoidTags: Set[String] = Set("br", "hr", "img", "meta", "link", "input")

  private final val FlagBlock = 1
  private final val FlagDrop = 2
  private final val FlagVoid = 4

  /** The three tag-set memberships as ONE hash dispatch (a string match
    * compiles to a hashCode tableswitch — one dispatch per tag instead of
    * three separate Set probes on the markup hot path). Derivation from the Sets
    * is asserted below so the tables cannot drift. */
  private def tagFlags(name: String): Int = name match {
    case "div" | "p" | "nav" | "footer" | "header" | "aside" | "main" |
         "article" | "section" | "ul" | "ol" | "li" | "table" | "tr" |
         "td" | "th" | "h1" | "h2" | "h3" | "h4" | "h5" | "h6" |
         "blockquote" | "pre" | "form" | "body" | "html" => FlagBlock
    case "head" | "title" | "script" | "style" => FlagBlock | FlagDrop
    case "br" | "hr" => FlagBlock | FlagVoid
    case "img" | "meta" | "link" | "input" => FlagVoid
    case _ => 0
  }

  // the flags function must agree with the Sets it replaces, for every tag
  // either side knows — checked once at class init, loudly
  (BlockTags ++ DropTags ++ VoidTags ++ Set("a", "span", "em", "zzz"))
    .foreach { t =>
      val f = tagFlags(t)
      require(((f & FlagBlock) != 0) == BlockTags.contains(t) &&
        ((f & FlagDrop) != 0) == DropTags.contains(t) &&
        ((f & FlagVoid) != 0) == VoidTags.contains(t),
        s"tagFlags drifted from the tag sets on '$t'")
    }

  sealed trait PayloadKind
  case object Markup extends PayloadKind
  case object Layout extends PayloadKind
  case object ToolJson extends PayloadKind
  case object Plain extends PayloadKind

  /** Layout payloads start with this magic line (pseudo-PDF: "x y text"
    * triples, reading-order recovery — reference analog is the positional
    * span machinery of src/spacy_test.py:30-42). */
  val LayoutMagic = "%PDFISH"

  def kindOf(text: String, role: String): PayloadKind = {
    if (text == null || text.isEmpty) Plain
    else if (text.startsWith(LayoutMagic)) Layout
    else if (text.charAt(0) == '{' && (role == "tool" || text.contains("\"result\""))) ToolJson
    else if (text.indexOf('<') >= 0 && text.indexOf('>') >= 0) Markup
    else Plain
  }

  /** Lex a payload into blocks. Dispatcher over payload kind.
    * `stats = false` skips the per-block scorer-stat pass (Block.make) —
    * the plain rule kernel never reads those fields. */
  def lex(text: String, role: String, stats: Boolean = true): Seq[Block] = {
    if (text == null) return Seq.empty
    kindOf(text, role) match {
      case Markup   => lexMarkup(text, stats)
      case Layout   => lexLayout(text, stats)
      case ToolJson => lexToolJson(text, stats)
      case Plain =>
        if (text.isEmpty) Seq.empty
        else Seq(Block.make("", "", text, 0, text.length, 0, 0, 0, stats))
    }
  }

  // ---------------------------------------------------------------- markup

  /** Single-pass HTML-ish lexer. Text runs between block-level tags become
    * blocks; inline tags contribute to nTags/nLinks/linkChars of the
    * enclosing block. Entities (&amp; &lt; &gt; &quot; &#39; &nbsp;) are
    * decoded in block text, while offsets still index the raw payload. */
  def lexMarkup(s: String, stats: Boolean = true): Seq[Block] = {
    val out = mutable.ArrayBuffer.empty[Block]
    val stack = mutable.ArrayBuffer.empty[String] // open block tags
    val sb = new java.lang.StringBuilder(64)
    var blockStart = -1 // offset of first text char in current block
    var blockEnd = -1 // offset after last text char
    var nTags = 0
    var nLinks = 0
    var linkChars = 0
    var linkDepth = 0 // inside <a> ?
    var dropDepth = 0 // inside script/style/... ?
    val n = s.length
    var i = 0

    def path: String = stack.mkString("/")
    def curTag: String = if (stack.isEmpty) "" else stack(stack.size - 1)

    def flush(): Unit = {
      if (sb.length > 0) {
        // trim trailing whitespace here (no copy of the whole block list
        // later) and compute the scorer stats on the final text
        val t = trimRight(sb.toString)
        if (t.nonEmpty)
          out += Block.make(curTag, path, t, blockStart, blockEnd, nTags,
            nLinks, linkChars, stats)
      }
      sb.setLength(0); blockStart = -1; blockEnd = -1
      nTags = 0; nLinks = 0; linkChars = 0
    }

    // '<' opens a tag only when followed by an optional '/' then a letter;
    // otherwise it is literal text — 'a < b > c' must not lose ' b '.
    def isTagAt(pos: Int): Boolean = {
      val j = if (pos + 1 < n && s.charAt(pos + 1) == '/') pos + 2 else pos + 1
      j < n && s.charAt(j).isLetter
    }

    // end of a CDATA raw-text region currently being consumed (-1 = none);
    // chars before it take the plain-text path with no tag/entity lexing
    var rawUntil = -1

    while (i < n) {
      val c = s.charAt(i)
      if (rawUntil >= 0 && i >= rawUntil) {
        i = math.min(n, rawUntil + 3) // skip the "]]>" terminator
        rawUntil = -1
      } else if (rawUntil < 0 && c == '<' && i + 1 < n &&
                 (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
        // declaration-family markup (never lexed as text):
        //   <!-- … -->        comment — skipped entirely
        //   <![CDATA[ … ]]>   raw character data — contents are literal text
        //   <!DOCTYPE …>      declaration — skipped (quote-aware)
        //   <?… ?>            processing instruction — skipped
        if (s.startsWith("<!--", i)) {
          // search from i+2, not i+4: HTML5's complete comments '<!-->' and
          // '<!--->' close on dashes shared with the opener; searching past
          // them would never terminate and would drop the rest of the payload
          val e = s.indexOf("-->", i + 2)
          i = if (e < 0) n else e + 3
        } else if (s.startsWith("<![CDATA[", i)) {
          val e = s.indexOf("]]>", i + 9)
          i += 9
          rawUntil = if (e < 0) n else e
        } else {
          // quote-aware doctype/PI skip: a quote opens a quoted string only
          // in value position — after whitespace, '=', or the '['/'(' of an
          // internal subset — so an apostrophe INSIDE an unquoted token
          // (<!DOCTYPE wasn't-html>) can't swallow the rest of the payload
          // (same rule as the tag scan below)
          var k = i + 2
          var valuePos = true
          while (k < n && s.charAt(k) != '>') {
            val q = s.charAt(k)
            if ((q == '"' || q == '\'') && valuePos) {
              k += 1
              while (k < n && s.charAt(k) != q) k += 1
              if (k < n) k += 1
              valuePos = false
            } else {
              valuePos = q.isWhitespace || q == '=' || q == '[' || q == '('
              k += 1
            }
          }
          i = if (k < n) k + 1 else n
        }
      } else if (rawUntil < 0 && c == '<' && isTagAt(i)) {
        // parse tag
        val close = i + 1 < n && s.charAt(i + 1) == '/'
        var j = i + (if (close) 2 else 1)
        val nameStart = j
        var needsFold = false
        while (j < n && (s.charAt(j).isLetterOrDigit)) {
          val tc = s.charAt(j)
          if (!((tc >= 'a' && tc <= 'z') || (tc >= '0' && tc <= '9')))
            needsFold = true
          j += 1
        }
        // skip the toLowerCase allocation when the raw name is already
        // lowercase ASCII (the overwhelmingly common case)
        val raw = s.substring(nameStart, j)
        val name =
          if (needsFold) raw.toLowerCase(java.util.Locale.ROOT) else raw
        // scan to '>' — skipping quoted attribute values, so an attribute
        // containing '>' (<a href="a>b">) can't truncate the tag early.
        // A quote opens a value only right after '=' (plus spaces), the
        // HTML5 before-attribute-value position: a quote inside an UNQUOTED
        // value (<img alt=don't>) is literal and must not swallow payload
        // up to the next quote/EOF.
        // Fast path: a '>' straight after the name — every close
        // tag and attribute-less open tag, the overwhelming majority —
        // needs no attribute scan at all.
        var k = j
        if (!(k < n && s.charAt(k) == '>')) {
          var afterEq = false
          while (k < n && s.charAt(k) != '>') {
            val q = s.charAt(k)
            if ((q == '"' || q == '\'') && afterEq) {
              k += 1
              while (k < n && s.charAt(k) != q) k += 1
              if (k < n) k += 1
              afterEq = false
            } else {
              if (q == '=') afterEq = true
              else if (!q.isWhitespace) afterEq = false
              k += 1
            }
          }
        }
        val selfClosed = k > i && s.charAt(math.min(k, n) - 1) == '/'
        val tagEnd = if (k < n) k + 1 else n

        if (name.nonEmpty) {
          val flags = tagFlags(name)
          if ((flags & FlagBlock) != 0) {
            flush()
            if ((flags & FlagDrop) != 0) {
              if (close) { if (dropDepth > 0) dropDepth -= 1 }
              else if (!selfClosed && (flags & FlagVoid) == 0) dropDepth += 1
            }
            if (close) {
              // pop up to matching tag (tolerant of mis-nesting)
              val idx = stack.lastIndexOf(name)
              if (idx >= 0) stack.remove(idx, stack.size - idx)
            } else if (!selfClosed && (flags & FlagVoid) == 0) {
              stack += name
            }
          } else {
            // inline tag. A SELF-CLOSED anchor (<a/>) opens no link region —
            // incrementing linkDepth with no matching close made all
            // following text count as linkChars, flipping whole content
            // blocks to chrome via link density.
            if (dropDepth == 0) {
              nTags += 1
              if (name == "a") {
                if (close) { if (linkDepth > 0) linkDepth -= 1 }
                else { nLinks += 1; if (!selfClosed) linkDepth += 1 }
              }
            }
          }
        }
        i = tagEnd
      } else if (rawUntil < 0 && c == '&' && dropDepth == 0) {
        // entity decode — named plus numeric character references
        // (&#39; / &#x27; — numeric refs never fall to the literal-'&'
        // path)
        val semi = s.indexOf(';', i + 1)
        val (decoded, adv) =
          if (semi > i && semi - i <= 10) {
            val body = s.substring(i + 1, semi)
            if (body.length > 1 && body.charAt(0) == '#') {
              val hex = body.charAt(1) == 'x' || body.charAt(1) == 'X'
              try {
                val cp = Integer.parseInt(body.substring(if (hex) 2 else 1),
                  if (hex) 16 else 10)
                // surrogate-range refs (&#xD800;–&#xDFFF;) pass
                // isValidCodePoint but decode to LONE UTF-16 surrogates
                // that re-encode as replacement chars — treat as invalid
                // (literal '&' path) like any other bad ref
                if (Character.isValidCodePoint(cp) && cp > 0 &&
                    !(cp >= 0xD800 && cp <= 0xDFFF))
                  (new String(Character.toChars(cp)), semi + 1 - i)
                else ("&", 1)
              } catch { case _: NumberFormatException => ("&", 1) }
            } else body match {
              case "amp"  => ("&", semi + 1 - i)
              case "lt"   => ("<", semi + 1 - i)
              case "gt"   => (">", semi + 1 - i)
              case "quot" => ("\"", semi + 1 - i)
              case "apos" => ("'", semi + 1 - i)
              case "nbsp" => (" ", semi + 1 - i)
              case _      => ("&", 1)
            }
          } else ("&", 1)
        // mirror the plain-char path: whitespace entities (&nbsp; &#32;)
        // never open a block and never advance blockEnd past trimmed text,
        // so the text == payload.substring(start, end) span invariant holds
        // (a trailing whitespace entity must not overshoot the span).
        val isWs = decoded.forall(_.isWhitespace)
        if (blockStart < 0 && !isWs) blockStart = i
        if (blockStart >= 0) {
          sb.append(decoded)
          if (linkDepth > 0) linkChars += decoded.length
          if (!isWs) blockEnd = i + adv
        }
        i += adv
      } else {
        // ---- bulk plain-text run: every char from
        // here to the next state-changing char takes this same branch — in
        // raw (CDATA) mode that bound is the region end; otherwise the next
        // '<' (tag/decl/literal) or, at dropDepth 0, '&' (entity). The
        // current char itself is already known non-state-changing (a
        // literal '<'/'&' only reaches here when it can't open a tag/
        // entity, and then the scan below starts past it), so the whole
        // run is consumed with one intrinsified indexOf + one bulk append
        // instead of a per-char branch ladder. Per-char semantics are
        // identical: ws before a block never opens it, appended chars
        // count toward linkChars under <a>, blockEnd tracks the last
        // non-ws char.
        val stop =
          if (rawUntil >= 0) rawUntil
          else {
            var e = s.indexOf('<', i + 1)
            if (e < 0) e = n
            if (dropDepth == 0) {
              val a = s.indexOf('&', i + 1)
              if (a >= 0 && a < e) e = a
            }
            e
          }
        if (dropDepth == 0) {
          var j = i
          if (blockStart < 0) {
            while (j < stop && s.charAt(j).isWhitespace) j += 1
            if (j < stop) blockStart = j
          }
          if (blockStart >= 0 && j < stop) {
            sb.append(s, j, stop)
            if (linkDepth > 0) linkChars += stop - j
            var e2 = stop
            while (e2 > j && s.charAt(e2 - 1).isWhitespace) e2 -= 1
            if (e2 > j) blockEnd = e2
          }
        }
        i = stop
      }
    }
    flush()
    out.toSeq
  }

  private def trimRight(s: String): String = {
    var e = s.length
    while (e > 0 && s.charAt(e - 1).isWhitespace) e -= 1
    s.substring(0, e)
  }

  // ---------------------------------------------------------------- layout

  /** Pseudo-PDF layout payload:
    * {{{
    * %PDFISH
    * <x> <y> <text...>
    * }}}
    * One block per line; reading order = sort by (y, x). Offsets point at the
    * text portion of each raw line. */
  def lexLayout(s: String, stats: Boolean = true): Seq[Block] = {
    val out = mutable.ArrayBuffer.empty[Block]
    val ys = mutable.ArrayBuffer.empty[Int]
    val xs = mutable.ArrayBuffer.empty[Int]
    var i = s.indexOf('\n')
    if (i < 0) return Seq.empty
    i += 1
    val n = s.length
    while (i < n) {
      var eol = s.indexOf('\n', i)
      if (eol < 0) eol = n
      if (eol > i) {
        val sp1 = s.indexOf(' ', i)
        val sp2 = if (sp1 >= 0 && sp1 < eol) s.indexOf(' ', sp1 + 1) else -1
        if (sp1 >= 0 && sp2 >= 0 && sp2 < eol) {
          try {
            val x = java.lang.Integer.parseInt(s.substring(i, sp1))
            val y = java.lang.Integer.parseInt(s.substring(sp1 + 1, sp2))
            val textStart = sp2 + 1
            val text = s.substring(textStart, eol)
            if (text.nonEmpty) {
              out += Block.make("line", "layout", text, textStart, eol,
                0, 0, 0, stats)
              ys += y; xs += x
            }
          } catch { case _: NumberFormatException => () }
        }
      }
      i = eol + 1
    }
    // reading order = sort by (y, x) — but the common emitter writes lines
    // already ordered, so detect sortedness in one cheap pass and skip the
    // tuple-sort machinery (identical order either way — the sort
    // below is stable and keyed exactly (y, x))
    var sorted = true
    var k = 1
    while (sorted && k < ys.length) {
      if (ys(k - 1) > ys(k) || (ys(k - 1) == ys(k) && xs(k - 1) > xs(k)))
        sorted = false
      k += 1
    }
    if (sorted) out.toSeq
    else out.indices.sortBy(idx => (ys(idx), xs(idx))).map(out(_)).toSeq
  }

  // ---------------------------------------------------------------- tool json

  /** Tool-call JSON payload: extract the string value of the "result" KEY.
    * Minimal JSON string scanner with escape handling; offsets reference the
    * raw (escaped) region inside the payload. A candidate occurrence only
    * counts as the key when a ':' follows (after optional spaces) — a decoy
    * VALUE equal to "result" ({"msg":"result","result":"x"}) is followed by
    * ',' or '}' and must not abort the whole extraction. No result key, or a non-string result value, falls back to
    * emitting the whole payload — best-effort passthrough beats dropping
    * the turn. */
  def lexToolJson(s: String, stats: Boolean = true): Seq[Block] = {
    val key = "\"result\""
    val n = s.length
    var ki = s.indexOf(key)
    var vi = -1
    while (ki >= 0 && vi < 0) {
      var j = ki + key.length
      while (j < n && s.charAt(j) == ' ') j += 1
      if (j < n && s.charAt(j) == ':') {
        j += 1
        while (j < n && s.charAt(j) == ' ') j += 1
        vi = j
      } else ki = s.indexOf(key, ki + 1)
    }
    if (vi < 0 || vi >= n || s.charAt(vi) != '"')
      return Seq(Block.make("", "", s, 0, s.length, 0, 0, 0, stats))
    var i = vi + 1
    val start = i
    val sb = new java.lang.StringBuilder(n - i)
    var done = false
    while (i < n && !done) {
      // bulk run up to the next escape or closing quote: typical
      // tool output has neither mid-string, so the whole value lands in one
      // intrinsified indexOf + bulk append instead of a per-char loop. The
      // quote scan is BOUNDED by the next escape — an unbounded indexOf
      // re-scans to the closing quote after every escape, going quadratic
      // on escape-dense values.
      val bs = s.indexOf('\\', i)
      var stop =
        if (bs < 0) { val q = s.indexOf('"', i); if (q < 0) n else q }
        else { var q = i; while (q < bs && s.charAt(q) != '"') q += 1; q }
      if (stop > i) { sb.append(s, i, stop); i = stop }
      if (i >= n) done = true
      else {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < n) {
        s.charAt(i + 1) match {
          // \uXXXX decodes like the other escapes — leaving it literal made
          // unicode tool output fail per-turn text equality
          case 'u' if i + 5 < n &&
              (2 to 5).forall(o => Character.digit(s.charAt(i + o), 16) >= 0) =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case o =>
            o match {
              case '"'  => sb.append('"')
              case '\\' => sb.append('\\')
              case 'n'  => sb.append('\n')
              case 't'  => sb.append('\t')
              case 'r'  => sb.append('\r')
              case '/'  => sb.append('/')
              case x    => sb.append('\\').append(x)
            }
            i += 2
        }
      } else if (c == '"') { done = true }
      else { sb.append(c); i += 1 }
      }
    }
    if (sb.length == 0) Seq.empty
    else Seq(Block.make("result", "tool", sb.toString, start, i, 0, 0, 0,
      stats))
  }
}
