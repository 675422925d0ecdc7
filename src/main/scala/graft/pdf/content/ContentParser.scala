package graft.pdf.content

import scala.collection.mutable
import graft.pdf.cos.{ObjParser, PdfObj}

/** One content-stream operator: postfix operands + operator name.
  * The reference models 50+ typed enum variants
  * (reference: src/content/operators.rs:13-457); here a single generic
  * node + name dispatch in the executor is the idiomatic Scala shape —
  * validation happens at execution where operand counts matter.
  *
  * CONTRACT for `parseInto` sinks: `operands` may be a reused buffer,
  * valid only for the duration of the sink call — copy (`.toVector`)
  * to retain.
  */
final case class Op(name: String, operands: scala.collection.IndexedSeq[PdfObj])

/** Content-stream tokenizer/parser
  * (reference: src/content/parser.rs:56-133): collect operands until an
  * operator keyword, emit, recover from garbage with a 1-byte skip.
  * Inline images `BI … ID <binary> EI` are consumed without corrupting
  * the stream (reference: src/content/parser.rs:597-681).
  */
object ContentParser {

  def parse(data: Array[Byte]): Vector[Op] = {
    val ops = Vector.newBuilder[Op]
    // materializing form: copy out of the reused operand buffer
    parseInto(data)(op => ops += Op(op.name, op.operands.toVector))
    ops.result()
  }

  /** Interned names for the frequent 1-2 char operators (one String
    * allocation per op otherwise — ~700k/4k docs in profiles). */
  private def opName(d: Array[Byte], s: Int, len: Int): String = {
    if (len == 1) (d(s) & 0xff) match {
      case 'q' => "q"; case 'Q' => "Q"; case 'g' => "g"; case 'G' => "G"
      case 'm' => "m"; case 'l' => "l"; case 'c' => "c"; case 'v' => "v"
      case 'y' => "y"; case 'h' => "h"; case 'n' => "n"; case 'f' => "f"
      case 'F' => "F"; case 'S' => "S"; case 's' => "s"; case 'W' => "W"
      case 'B' => "B"; case 'b' => "b"; case 'k' => "k"; case 'K' => "K"
      case 'w' => "w"; case 'd' => "d"; case 'j' => "j"; case 'J' => "J"
      case 'i' => "i"; case 'M' => "M"
      case _ => new String(d, s, 1, "ISO-8859-1")
    } else if (len == 2) ((d(s) & 0xff) << 8 | (d(s + 1) & 0xff)) match {
      case 0x546a => "Tj"; case 0x544a => "TJ"; case 0x5464 => "Td"
      case 0x5444 => "TD"; case 0x5466 => "Tf"; case 0x546d => "Tm"
      case 0x5463 => "Tc"; case 0x5477 => "Tw"; case 0x547a => "Tz"
      case 0x544c => "TL"; case 0x5473 => "Ts"; case 0x5472 => "Tr"
      case 0x542a => "T*"; case 0x4254 => "BT"; case 0x4554 => "ET"
      case 0x636d => "cm"; case 0x7267 => "rg"; case 0x5247 => "RG"
      case 0x7265 => "re"; case 0x446f => "Do"; case 0x6373 => "cs"
      case 0x4353 => "CS"; case 0x7363 => "sc"; case 0x5343 => "SC"
      case 0x6773 => "gs"; case 0x4249 => "BI"; case 0x662a => "f*"
      case 0x422a => "B*"; case 0x622a => "b*"; case 0x572a => "W*"
      case 0x7368 => "sh"; case 0x7269 => "ri"; case 0x6430 => "d0"
      case 0x6431 => "d1"; case 0x4549 => "EI"; case 0x4258 => "BX"
      case 0x4558 => "EX"; case 0x4d50 => "MP"; case 0x4450 => "DP"
      case _ => new String(d, s, 2, "ISO-8859-1")
    } else new String(d, s, len, "ISO-8859-1")
  }

  /** Streaming variant: ops are dispatched to `sink` as they complete,
    * with no materialized op list — the VM fuses parse+exec this way
    * (one fewer Vector per page on the hot path). */
  def parseInto(data: Array[Byte])(sink: Op => Unit): Unit = {
    val operands = new mutable.ArrayBuffer[PdfObj](8) // reused per op
    val p = new ObjParser(data, 0)
    while (!p.atEnd) {
      p.skipWs()
      if (!p.atEnd) {
        val c = p.data(p.pos) & 0xff
        if (c == '/' || c == '(' || c == '[' || c == '<' ||
            (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.') {
          try operands += p.parseObject()
          catch { case _: Throwable => p.pos += 1 } // 1-byte-skip recovery
        } else if (c == ')' || c == ']' || c == '>' || c == '}' || c == '{') {
          p.pos += 1 // stray delimiter: skip
        } else {
          // operator keyword: run of regular chars, or ' / "
          val start = p.pos
          if (c == '\'' || c == '"') p.pos += 1
          else {
            while (!p.atEnd && p.isRegular(p.data(p.pos) & 0xff)) p.pos += 1
          }
          if (p.pos == start) p.pos += 1 // safety: always advance
          else {
            val name = opName(p.data, start, p.pos - start)
            name match {
              case "true"  => operands += PdfObj.Bool(true)
              case "false" => operands += PdfObj.Bool(false)
              case "null"  => operands += PdfObj.Null
              case "BI" =>
                consumeInlineImage(p)
                sink(Op("BI", Vector.empty))
                operands.clear()
              case _ =>
                sink(Op(name, operands)) // reused buffer — see Op contract
                operands.clear()
            }
          }
        }
      }
    }
  }

  /** Consume `…ID <binary> EI`; the dict keys were already consumed by
    * the operand loop would be wrong — so BI triggers parsing key/value
    * pairs here until ID, then scans for a whitespace-delimited EI. */
  private def consumeInlineImage(p: ObjParser): Unit = {
    // parse key/value pairs until ID
    var done = false
    while (!done && !p.atEnd) {
      p.skipWs()
      if (p.peekKeyword("ID")) { p.pos += 2; done = true }
      else {
        try { p.parseObject(); () }
        catch { case _: Throwable => p.pos += 1 }
      }
    }
    // single whitespace byte after ID, then binary data until EI
    if (!p.atEnd && p.isWs(p.data(p.pos) & 0xff)) p.pos += 1
    var found = false
    while (!found && p.pos < p.data.length - 1) {
      if (p.data(p.pos) == 'E' && p.data(p.pos + 1) == 'I' &&
          (p.pos == 0 || p.isWs(p.data(p.pos - 1) & 0xff)) &&
          (p.pos + 2 >= p.data.length || !p.isRegular(p.data(p.pos + 2) & 0xff))) {
        p.pos += 2
        found = true
      } else p.pos += 1
    }
    if (!found) p.pos = p.data.length
  }
}
