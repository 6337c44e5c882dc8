package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.export.{Exporter, LightFormatter, SizeExpr}
import graft.util.PyJson

/** ScalaCheck properties (SURVEY.md §5 plan: ordering stability is in
  * PipelineSpec on Spark; these cover the pure kernels). */
object PropertySpec extends Properties("graft") {

  private val anyText: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.oneOf(' ', '\n', '\t', '"', '\\', '`'),
    Gen.oneOf('あ', '本', '→', '', '')))
    .map(_.mkString)

  property("pyjson ascii-only with quote framing") = forAll(anyText) { s =>
    val out = PyJson.str(s)
    out.forall(c => c >= 0x20 && c <= 0x7e) &&
      out.head == '"' && out.last == '"'
  }

  property("pyjson exact escape lengths") = forAll(anyText) { s =>
    val expected = 2 + s.map {
      case c if c == '"' || c == '\\' || c == '\b' || c == '\t' ||
        c == '\n' || c == '\f' || c == '\r' => 2
      case c if c < 0x20 || c > 0x7e => 6
      case _ => 1
    }.sum
    PyJson.str(s).length == expected
  }

  property("formatter strips trailing blanks") = forAll(anyText) { s =>
    val r = LightFormatter.render(s)
    r.isEmpty || r.split("\n", -1).last.trim.nonEmpty ||
      // inside an auto-closed fence the last line is ```
      r.endsWith("```")
  }

  property("formatter collapses blank runs outside code") =
    forAll(anyText.map(_.replace("`", ""))) { s =>
      val lines = LightFormatter.render(s).split("\n", -1)
      !lines.toSeq.sliding(2).exists {
        case Seq(a, b) => a.trim.isEmpty && b.trim.isEmpty
        case _ => false
      }
    }

  property("formatter is identity on fence-free single-spaced text") =
    forAll(Gen.listOf(Gen.identifier).map(_.mkString(" "))) { s =>
      LightFormatter.render(s) == s
    }

  property("size expr IEC multiples") =
    forAll(Gen.choose(1, 99999), Gen.oneOf("", "K", "M", "G")) { (n, u) =>
      val mult = Map("" -> 1L, "K" -> 1024L, "M" -> 1024L * 1024,
        "G" -> 1024L * 1024 * 1024)(u)
      SizeExpr.parse(s"$n$u") == n * mult
    }

  property("sanitizeFilename bounded and windows-safe") =
    forAll(anyText) { s =>
      val out = Exporter.sanitizeFilename(s)
      out.length <= 120 &&
        !out.exists(c => "<>:\"/\\|?*".contains(c) || c < 0x20)
    }

  property("partFileName bounded, windows-safe, and collision-distinct") =
    forAll(anyText, anyText) { (a, b) =>
      val fa = Exporter.partFileName(a, "")
      val fb = Exporter.partFileName(b, "")
      fa.length <= 120 &&
        !fa.exists(c => "<>:\"/\\|?*".contains(c) || c < 0x20) &&
        (a == b || fa != fb || a.isEmpty || b.isEmpty)
    }

  // E16 format_bytes (reference utils.py:34-39) — reference-computed pairs
  // Pinned by EXECUTING the reference json_safe + json.dumps on the
  // same values (utils.py:14-26): Decimals → floats with Python repr
  // formatting, unbounded ints stay ints, nested containers recurse,
  // non-JSON values stringify.
  property("PyJson.safe matches executed reference json_safe+dumps") = {
    import scala.collection.immutable.ListMap
    Prop.all(
      Prop(PyJson.safe(ListMap("a" -> new java.math.BigDecimal("1.5")))
        == """{"a": 1.5}"""),
      Prop(PyJson.safe(ListMap("a" -> new java.math.BigDecimal("2")))
        == """{"a": 2.0}"""),
      Prop(PyJson.safe(ListMap("a" -> new java.math.BigDecimal("1E+16")))
        == """{"a": 1e+16}"""),
      Prop(PyJson.safe(ListMap("a" -> Seq(1, "x", None,
          ListMap("b" -> BigDecimal("0.25"), "c" -> false))))
        == """{"a": [1, "x", null, {"b": 0.25, "c": false}]}"""),
      Prop(PyJson.safe(ListMap("u" -> "こんにちは"))
        == "{\"u\": \"\\u3053\\u3093\\u306b\\u3061\\u306f\"}"),
      Prop(PyJson.safe(ListMap("n" -> BigInt("12345678901234567890")))
        == """{"n": 12345678901234567890}"""),
      Prop(PyJson.safe(ListMap("f" -> 0.1)) == """{"f": 0.1}"""),
      Prop(PyJson.safe(ListMap("f" -> -2.5e-7)) == """{"f": -2.5e-07}"""),
      // non-JSON value stringifies (the reference turns tuples/sets
      // into str(obj) the same way)
      Prop(PyJson.safe(ListMap("e" -> (1, 2))) == """{"e": "(1,2)"}"""))
  }

  property("pyFloatRepr matches Python repr(float) forms") = Prop.all(
    Prop(PyJson.pyFloatRepr(0.0) == "0.0"),
    Prop(PyJson.pyFloatRepr(-0.0) == "-0.0"),
    Prop(PyJson.pyFloatRepr(1e7) == "10000000.0"),
    Prop(PyJson.pyFloatRepr(1234.5678) == "1234.5678"),
    Prop(PyJson.pyFloatRepr(1e-4) == "0.0001"),
    Prop(PyJson.pyFloatRepr(9.999e-5) == "9.999e-05"),
    Prop(PyJson.pyFloatRepr(1e16) == "1e+16"),
    Prop(PyJson.pyFloatRepr(9999999999999998.0) == "9999999999999998.0"),
    Prop(PyJson.pyFloatRepr(-1.25e22) == "-1.25e+22"))

  property("pyFloatRepr round-trips every double") = forAll {
    (d: Double) =>
      d.isNaN || PyJson.pyFloatRepr(d).toDouble == d
  }

  // NgramRepetition kernel vs a naive Scala recomputation: counting
  // via sorted-groupBy must equal the one-pass hash count for any text
  property("ngram repetition matches naive recount") = {
    val tokenText: Gen[String] = Gen.listOf(
      Gen.oneOf("a", "b", "ab", "xyz", "", " ", "\t", "long-token"))
      .map(_.mkString(" "))
    forAll(tokenText, Gen.choose(1, 4)) { (text, k) =>
      val row = graft.functions.NgramStats.repetition(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), k)
      // naive: SQL-trim (spaces only), split \s+ limit -1, group
      val trimmed = {
        var a = 0; var b = text.length
        while (a < b && text.charAt(a) == ' ') a += 1
        while (b > a && text.charAt(b - 1) == ' ') b -= 1
        text.substring(a, b)
      }
      val words = trimmed.split("\\s+", -1)
      val grams = words.sliding(k).filter(_.length == k)
        .map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size)
      val n = grams.size.toLong
      val mx = if (counts.isEmpty) 0L else counts.values.max.toLong
      val dup = counts.values.filter(_ > 1).map(_.toLong).sum
      row.getLong(0) == n && row.getLong(1) == mx && row.getLong(2) == dup
    }
  }

  // AsofLookup binary search vs linear scan over any sorted history
  property("asof lookup matches linear scan") = {
    val history: Gen[List[(Long, Double)]] =
      Gen.listOf(Gen.zip(Gen.choose(0L, 1000L), Gen.choose(-10d, 10d)))
        .map(_.sortBy(_._1))
    forAll(history, Gen.choose(-100L, 1100L)) { (h, ts) =>
      val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(
        h.map { case (t, v) =>
          org.apache.spark.sql.catalyst.InternalRow(t, v)
        }.toArray[Any])
      val got = Option(graft.functions.AsofLookup.lookup(arr, ts))
        .map(_.doubleValue)
      val want = h.filter(_._1 <= ts).lastOption.map(_._2)
      got == want
    }
  }

  property("ts heuristic split at 1e11") = Prop.all(
    forAll(Gen.choose(0L, 99999999999L)) { v =>
      Exporter.tsToSeconds(v.toDouble) == v.toDouble
    },
    forAll(Gen.choose(100000000000L, 4102444800000L)) { v =>
      Exporter.tsToSeconds(v.toDouble) == v.toDouble / 1000.0
    })
}
