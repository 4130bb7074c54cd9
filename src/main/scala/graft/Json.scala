package graft

/** The hand-written JSON the engine emits (lineage sidecars, snapshot
  * manifests, the oracle dump) quotes every string through here. */
private[graft] object Json {
  /** JSON string literal: quote, backslash and every control character
    * (newline, CR and tab by name, the rest as hex escapes) escaped — a stream
    * id, path or SQL text carrying one would otherwise make the whole
    * document unparseable. */
  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
