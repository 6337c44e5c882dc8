package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass extraction of a whole conversation from one raw
  * ChatGPT-export JSON line — the north-star "compiled parse stage
  * over raw text bytes via custom codegen'd expressions".
  *
  * Equivalent to ChatGptParser.normalize (same reference semantics:
  * adapter.py:175-240 — structural-node skip, string-only parts,
  * Python-falsy create_time fallback, null-ts drop, truncating sec→ms,
  * final (ts, message_id) sort) but implemented as one hand-rolled
  * recursive-descent JSON scan that allocates ONLY the extracted
  * fields — no Jackson token stream, no Map/struct tree for the
  * mapping, no per-node rows. Because a conversation is row-local, the
  * per-thread sort happens inside the expression, so `turn_idx` falls
  * out of posexplode with ZERO shuffle (the generic path needs a
  * window exchange).
  *
  * Returns null for unparseable lines (reference warn-skips them).
  * Equality with the generic Catalyst path is asserted by
  * FastPathSpec over the golden fixtures and the synthesized corpus.
  *
  * Known micro-divergences from CPython (documented, unreachable for
  * well-formed exports): numeric `role` / numeric message `id` are
  * treated as absent rather than stringified; a duplicate JSON key
  * whose later value is null (or not of the kept type) leaves the
  * earlier value in place, where CPython's dict and Spark's JSON reader
  * take the last; a JSON array on a line is rejected (counted corrupt),
  * where Spark's JSON reader reads its elements as records.
  */
case class ExtractConversation(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ExtractConversation.outputType

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ExtractConversation.extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // manual null-safe codegen: result may be null even for non-null
    // input (corrupt lines)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    ev.copy(code =
      code"""
         |${childGen.code}
         |boolean ${ev.isNull} = true;
         |InternalRow ${ev.value} = null;
         |if (!${childGen.isNull}) {
         |  ${ev.value} =
         |    graft.functions.ExtractConversation.extract(${childGen.value});
         |  ${ev.isNull} = ${ev.value} == null;
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ExtractConversation = copy(child = newChild)

  override def prettyName: String = "extract_conversation"
}

object ExtractConversation {

  val messageType: StructType = StructType(Seq(
    StructField("message_id", StringType),
    StructField("parent_id", StringType),
    StructField("role", StringType),
    StructField("tool", StringType),
    StructField("ts", LongType),
    StructField("content_type", StringType),
    StructField("parts", ArrayType(StringType)),
    StructField("text", StringType)))

  val outputType: StructType = StructType(Seq(
    StructField("conversation_id", StringType),
    StructField("messages", ArrayType(messageType))))

  // ------------------------------------------------------------------
  // Scanner: minimal JSON reader over a char sequence. No tree, no
  // tokens — values are either decoded into the few fields we keep or
  // skipped structurally.
  // ------------------------------------------------------------------

  private final class Scanner(val s: String) {
    var i: Int = 0
    def fail(): Nothing = throw Bail
    def ws(): Unit = {
      while (i < s.length && {
        val c = s.charAt(i)
        c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '﻿'
      }) i += 1
    }
    def peek: Char = if (i < s.length) s.charAt(i) else fail()
    def expect(c: Char): Unit = { ws(); if (peek != c) fail(); i += 1 }
    def tryConsume(c: Char): Boolean = {
      ws(); if (i < s.length && s.charAt(i) == c) { i += 1; true }
      else false
    }

    /** Parse a JSON string (cursor on opening quote). */
    def string(): String = {
      expect('"')
      // fast path: no escapes
      var j = i
      while (j < s.length && s.charAt(j) != '"' && s.charAt(j) != '\\')
        j += 1
      if (j >= s.length) fail()
      if (s.charAt(j) == '"') { val out = s.substring(i, j); i = j + 1; return out }
      val sb = new java.lang.StringBuilder(j - i + 16)
      sb.append(s, i, j)
      i = j
      while (true) {
        val c = s.charAt(i)
        if (c == '"') { i += 1; return sb.toString }
        else if (c == '\\') {
          i += 1
          val e = s.charAt(i)
          i += 1
          (e: @annotation.switch) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' =>
              if (i + 4 > s.length) fail()
              sb.append(Integer.parseInt(s.substring(i, i + 4), 16).toChar)
              i += 4
            case _ => fail()
          }
        } else { sb.append(c); i += 1 }
        if (i >= s.length) fail()
      }
      null // unreachable
    }

    /** Parse a JSON number as double (cursor at first char). */
    def number(): Double = {
      ws()
      val start = i
      if (i < s.length && (s.charAt(i) == '-' || s.charAt(i) == '+')) i += 1
      while (i < s.length && {
        val c = s.charAt(i)
        (c >= '0' && c <= '9') || c == '.' || c == 'e' || c == 'E' ||
          c == '-' || c == '+'
      }) i += 1
      if (i == start) fail()
      java.lang.Double.parseDouble(s.substring(start, i))
    }

    def literal(lit: String): Unit = {
      if (!s.startsWith(lit, i)) fail()
      i += lit.length
    }

    /** Skip any JSON value. */
    def skipValue(): Unit = {
      ws()
      (peek: @annotation.switch) match {
        case '"' => string()
        case '{' =>
          i += 1
          if (!tryConsume('}')) {
            var more = true
            while (more) {
              ws(); string(); expect(':'); skipValue()
              more = tryConsume(',')
            }
            expect('}')
          }
        case '[' =>
          i += 1
          if (!tryConsume(']')) {
            var more = true
            while (more) { skipValue(); more = tryConsume(',') }
            expect(']')
          }
        case 't' => literal("true")
        case 'f' => literal("false")
        case 'n' => literal("null")
        case _ => number()
      }
    }
  }

  private object Bail extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  private final class Msg {
    var nodeKey: String = _
    var msgId: String = _
    var parent: String = _
    var role: String = _
    var msgRole: String = _
    var authorName: String = _
    var msgCreate: Double = Double.NaN
    var nodeCreate: Double = Double.NaN
    var contentType: String = _
    var hasContent = false
    var parts: java.util.ArrayList[String] = _
    var tsMs: Long = _
    var messageId: String = _
  }

  /** Returns InternalRow(conversation_id, messages) or null. */
  def extract(line: UTF8String): InternalRow = {
    val sc = new Scanner(line.toString)
    try {
      sc.ws()
      if (sc.i >= sc.s.length) return null
      sc.expect('{')
      var convId: String = null
      var idFallback: String = null
      var uuidFallback: String = null
      val msgs = new java.util.ArrayList[Msg]()
      if (!sc.tryConsume('}')) {
        var more = true
        while (more) {
          sc.ws()
          val key = sc.string()
          sc.expect(':')
          key match {
            case "conversation_id" =>
              sc.ws()
              if (sc.peek == '"') convId = sc.string() else sc.skipValue()
            case "id" =>
              sc.ws()
              if (sc.peek == '"') idFallback = sc.string()
              else sc.skipValue()
            case "uuid" =>
              sc.ws()
              if (sc.peek == '"') uuidFallback = sc.string()
              else sc.skipValue()
            case "mapping" =>
              sc.ws()
              if (sc.peek != '{') sc.skipValue()
              else parseMapping(sc, msgs)
            case _ => sc.skipValue()
          }
          more = sc.tryConsume(',')
        }
        sc.expect('}')
      }

      val cid =
        if (convId != null && convId.nonEmpty) convId
        else if (idFallback != null && idFallback.nonEmpty) idFallback
        else if (uuidFallback != null && uuidFallback.nonEmpty) uuidFallback
        else null

      // finalize: null-ts drop, ts math, id fallback, text join
      val out = new java.util.ArrayList[Msg](msgs.size())
      var k = 0
      while (k < msgs.size()) {
        val m = msgs.get(k)
        // Python `msg.create_time or node.create_time` — 0.0 is falsy
        val ts =
          if (!m.msgCreate.isNaN && m.msgCreate != 0.0d) m.msgCreate
          else m.nodeCreate
        if (!ts.isNaN) {
          m.tsMs = (ts * 1000d).toLong // truncation toward zero = int()
          m.messageId =
            if (m.msgId != null && m.msgId.nonEmpty) m.msgId else m.nodeKey
          if (m.role == null || m.role.isEmpty) {
            m.role =
              if (m.msgRole != null && m.msgRole.nonEmpty) m.msgRole
              else "unknown"
          }
          if (m.contentType == null) m.contentType = "text"
          out.add(m)
        }
        k += 1
      }
      val arr = out.toArray(new Array[Msg](out.size()))
      java.util.Arrays.sort(arr, (a: Msg, b: Msg) => {
        val c = java.lang.Long.compare(a.tsMs, b.tsMs)
        if (c != 0) c else a.messageId.compareTo(b.messageId)
      })

      val rows = new Array[Any](arr.length)
      var r = 0
      while (r < arr.length) {
        val m = arr(r)
        val nParts = if (m.parts == null) 0 else m.parts.size()
        val partsArr = new Array[Any](nParts)
        val text = if (nParts == 0) UTF8String.EMPTY_UTF8
        else {
          val sb = new java.lang.StringBuilder
          var p = 0
          while (p < nParts) {
            if (p > 0) sb.append('\n')
            sb.append(m.parts.get(p))
            partsArr(p) = UTF8String.fromString(m.parts.get(p))
            p += 1
          }
          UTF8String.fromString(sb.toString)
        }
        val tool =
          if (m.role == "tool" && m.authorName != null &&
            m.authorName.nonEmpty) UTF8String.fromString(m.authorName)
          else null
        rows(r) = InternalRow(
          UTF8String.fromString(m.messageId),
          if (m.parent == null) null else UTF8String.fromString(m.parent),
          UTF8String.fromString(m.role),
          tool,
          m.tsMs,
          UTF8String.fromString(m.contentType),
          new GenericArrayData(partsArr),
          text)
        r += 1
      }
      InternalRow(
        if (cid == null) null else UTF8String.fromString(cid),
        new GenericArrayData(rows))
    } catch {
      case Bail => null
      case _: NumberFormatException => null
      case _: StringIndexOutOfBoundsException => null
    }
  }

  private def parseMapping(
      sc: Scanner, msgs: java.util.ArrayList[Msg]): Unit = {
    sc.expect('{')
    if (sc.tryConsume('}')) return
    var more = true
    while (more) {
      sc.ws()
      val nodeKey = sc.string()
      sc.expect(':')
      sc.ws()
      if (sc.peek != '{') sc.skipValue() // non-dict node → skipped
      else {
        val m = new Msg
        m.nodeKey = nodeKey
        var hasMessage = false
        sc.i += 1
        if (!sc.tryConsume('}')) {
          var nmore = true
          while (nmore) {
            sc.ws()
            val nk = sc.string()
            sc.expect(':')
            nk match {
              case "parent" =>
                sc.ws()
                if (sc.peek == '"') m.parent = sc.string()
                else sc.skipValue()
              case "create_time" =>
                sc.ws()
                val c = sc.peek
                if (c == 'n') sc.literal("null")
                else if (c == '"') sc.string() // non-number → ignored
                else m.nodeCreate = sc.number()
              case "message" =>
                sc.ws()
                if (sc.peek == '{') { hasMessage = true; parseMessage(sc, m) }
                else sc.skipValue() // null / non-dict → structural node
              case _ => sc.skipValue()
            }
            nmore = sc.tryConsume(',')
          }
          sc.expect('}')
        }
        if (hasMessage) msgs.add(m)
      }
      more = sc.tryConsume(',')
    }
    sc.expect('}')
  }

  private def parseMessage(sc: Scanner, m: Msg): Unit = {
    sc.expect('{')
    if (sc.tryConsume('}')) return
    var more = true
    while (more) {
      sc.ws()
      val k = sc.string()
      sc.expect(':')
      k match {
        case "id" =>
          sc.ws()
          if (sc.peek == '"') m.msgId = sc.string() else sc.skipValue()
        case "role" =>
          sc.ws()
          if (sc.peek == '"') m.msgRole = sc.string() else sc.skipValue()
        case "author" =>
          sc.ws()
          if (sc.peek != '{') sc.skipValue()
          else {
            sc.i += 1
            if (!sc.tryConsume('}')) {
              var am = true
              while (am) {
                sc.ws()
                val ak = sc.string()
                sc.expect(':')
                ak match {
                  case "role" =>
                    sc.ws()
                    if (sc.peek == '"') m.role = sc.string()
                    else sc.skipValue()
                  case "name" =>
                    sc.ws()
                    if (sc.peek == '"') m.authorName = sc.string()
                    else sc.skipValue()
                  case _ => sc.skipValue()
                }
                am = sc.tryConsume(',')
              }
              sc.expect('}')
            }
          }
        case "create_time" =>
          sc.ws()
          val c = sc.peek
          if (c == 'n') sc.literal("null")
          else if (c == '"') sc.string()
          else m.msgCreate = sc.number()
        case "content" =>
          sc.ws()
          if (sc.peek != '{') sc.skipValue()
          else {
            m.hasContent = true
            sc.i += 1
            if (!sc.tryConsume('}')) {
              var cm = true
              while (cm) {
                sc.ws()
                val ck = sc.string()
                sc.expect(':')
                ck match {
                  case "content_type" =>
                    sc.ws()
                    if (sc.peek == '"') m.contentType = sc.string()
                    else sc.skipValue()
                  case "parts" =>
                    sc.ws()
                    if (sc.peek != '[') sc.skipValue() // non-list → []
                    else {
                      m.parts = new java.util.ArrayList[String]()
                      sc.i += 1
                      if (!sc.tryConsume(']')) {
                        var pm = true
                        while (pm) {
                          sc.ws()
                          if (sc.peek == '"') m.parts.add(sc.string())
                          else sc.skipValue() // non-string part dropped
                          pm = sc.tryConsume(',')
                        }
                        sc.expect(']')
                      }
                    }
                  case _ => sc.skipValue()
                }
                cm = sc.tryConsume(',')
              }
              sc.expect('}')
            }
          }
        case _ => sc.skipValue()
      }
      more = sc.tryConsume(',')
    }
    sc.expect('}')
  }
}
