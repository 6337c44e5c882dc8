package graft.export

/** "Light" Markdown formatting (reference: exporter.py:45-91
  * _render_message_text): a line-scan state machine —
  *  - toggle code-fence state on lines whose lstrip starts with ```
  *    (indent tolerated), fence lines kept verbatim
  *  - outside code: collapse runs of blank lines to one
  *  - inside code: keep lines verbatim
  *  - auto-close an unclosed fence
  *  - strip trailing blank lines
  *  - formatting == "none" → identity
  *
  * Inherently sequential per string, so it lives here as a pure
  * function that `Exporter.renderBlock` calls per message.
  */
object LightFormatter {

  /** One message text, light-formatted by the rules above. */
  def render(raw: String): String = {
    // Python splitlines() splits on \n, \r, \r\n (and unicode seps —
    // those don't appear in JSON-decoded chat text in practice; we
    // match \n / \r\n / \r which is what json round-trips produce)
    val lines = raw.split("\r\n|\n|\r", -1)
    // splitlines drops a trailing empty element that split(-1) keeps
    val n = if (lines.nonEmpty && lines.last.isEmpty && raw.nonEmpty &&
      (raw.endsWith("\n") || raw.endsWith("\r"))) lines.length - 1
    else if (raw.isEmpty) 0
    else lines.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var inCode = false
    var blankStreak = 0
    var i = 0
    while (i < n) {
      val current = lines(i)
      if (current.dropWhile(c => c == ' ' || c == '\t' || c.isWhitespace)
          .startsWith("```")) {
        inCode = !inCode
        out += current
        blankStreak = 0
      } else if (!inCode) {
        if (current.trim.isEmpty) {
          if (blankStreak == 0) out += ""
          blankStreak += 1
        } else {
          out += current
          blankStreak = 0
        }
      } else {
        out += current
      }
      i += 1
    }
    if (inCode) out += "```"
    while (out.nonEmpty && out.last.isEmpty) out.remove(out.length - 1)
    out.mkString("\n")
  }
}
