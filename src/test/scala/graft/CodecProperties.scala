package graft

import graft.codec.{GraphiteCodec, OpenTsdbCodec, Prompb}
import graft.codec.Prompb._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck properties for the pure codecs (no SparkSession needed). */
object CodecProperties extends Properties("codecs") {

  // printable ASCII + a few multi-byte/utf-8 and escape-relevant chars;
  // excludes control bytes (< 0x10 hits the reference's unpadded-%X
  // marshal quirk, which is faithfully ported and breaks round-trips
  // exactly like the original does)
  private val charPool: Gen[Char] = Gen.frequency(
    8 -> Gen.choose(33.toChar, 126.toChar),
    2 -> Gen.oneOf('ä', 'ö', 'ü', '日', '本', ' ', ':', '_', '.', '/', '%', '='))
  private val str: Gen[String] = Gen.listOf(charPool).map(_.mkString)

  property("opentsdb marshal/unmarshal round-trip") = forAll(str) { s =>
    OpenTsdbCodec.unmarshal(OpenTsdbCodec.marshal(s)) == s
  }

  property("opentsdb marshal emits only legal opentsdb runes") = forAll(str) { s =>
    OpenTsdbCodec.marshal(s).forall(c =>
      (c >= '-' && c <= '9') || (c >= 'A' && c <= 'Z') ||
        (c >= 'a' && c <= 'z') || c == '_')
  }

  property("graphite escape never leaks reserved bytes") = forAll(str) { s =>
    val e = GraphiteCodec.escape(s)
    // '.' '/' '=' are reserved (path structure); they must only survive
    // percent-encoded. '%' may appear, but only as an escape lead.
    !e.contains('.') && !e.contains('/') && !e.contains('=')
  }

  private val label: Gen[PLabel] = for {
    n <- str; v <- str
  } yield PLabel(n, v)

  private val sample: Gen[PSample] = for {
    v <- Gen.choose(-1e9, 1e9) // finite; NaN breaks == (tested separately)
    t <- Gen.choose(0L, Long.MaxValue / 2)
  } yield PSample(v, t)

  private val timeSeries: Gen[PTimeSeries] = for {
    ls <- Gen.listOfN(3, label); ss <- Gen.listOf(sample)
  } yield PTimeSeries(ls, ss)

  private val writeRequest: Gen[PWriteRequest] =
    Gen.listOf(timeSeries).map(PWriteRequest(_))

  property("prompb WriteRequest wire round-trip") = forAll(writeRequest) { wr =>
    Prompb.decodeWriteRequest(Prompb.encodeWriteRequest(wr)) == wr
  }

  property("prompb + snappy full stack round-trip") = forAll(writeRequest) { wr =>
    Prompb.decodeWriteRequest(Prompb.snappyUncompress(
      Prompb.snappyCompress(Prompb.encodeWriteRequest(wr)))) == wr
  }

  private val matcher: Gen[PLabelMatcher] = for {
    t <- Gen.choose(0, 3); n <- str; v <- str
  } yield PLabelMatcher(t, n, v)

  private val readRequest: Gen[PReadRequest] = Gen.listOf(for {
    s <- Gen.choose(0L, 1L << 40); e <- Gen.choose(0L, 1L << 40)
    ms <- Gen.listOf(matcher)
  } yield PQuery(s, e, ms)).map(PReadRequest(_))

  property("prompb ReadRequest wire round-trip") = forAll(readRequest) { rr =>
    Prompb.decodeReadRequest(Prompb.encodeReadRequest(rr)) == rr
  }

  // ---- OTLP: fixture encoders → the one-walk decode, flatten mapping ----

  private def upTo[T](n: Int, g: Gen[T]): Gen[List[T]] =
    Gen.choose(0, n).flatMap(Gen.listOfN(_, g))

  // a small shared key pool makes resource/point/`__name__` collisions
  // and repeated keys common; `str` adds the empty and unicode keys
  private val otlpAttrs: Gen[List[(String, String)]] = upTo(5, for {
    k <- Gen.frequency(2 -> str, 3 -> Gen.oneOf("", "job", "k", "__name__", "日本"))
    v <- str
  } yield k -> v)

  private val otlpPoints: Gen[List[(String, Seq[(String, String)], Long, Double)]] =
    upTo(8, for {
      name <- Gen.frequency(1 -> str, 2 -> Gen.oneOf("", "m", "n"))
      attrs <- otlpAttrs
      tsNano <- Gen.choose(0L, Long.MaxValue / 2)
      v <- Gen.frequency(4 -> Gen.choose(-1e9, 1e9), 1 -> Gen.const(Double.NaN),
        1 -> Gen.const(java.lang.Double.longBitsToDouble(0x7ff0000000000002L)))
    } yield (name, attrs, tsNano, v))

  property("otlp gauge / cumulative-sum requests decode back to the same " +
    "label-sorted series") =
    forAll(otlpAttrs, otlpPoints, Gen.oneOf(true, false)) { (res, pts, gauge) =>
      import graft.codec.Otlp
      val wire =
        if (gauge) Otlp.encodeGaugeRequest(res, pts)
        else Otlp.encodeSumRequest(res, pts)
      // the encoder, like proto3, writes no empty string, so an empty
      // attribute value arrives unset and the attribute is skipped
      def valued(kvs: Seq[(String, String)]) = kvs.filter(_._2.nonEmpty).toMap
      // flatten mapping: point attributes override resource ones, the
      // metric name overrides both; NaN payloads compare by their bits
      val expected = pts.map { case (name, attrs, tsNano, v) =>
        (((valued(res) ++ valued(attrs)) + ("__name__" -> name)).toSeq.sortBy(_._1),
          Seq(java.lang.Double.doubleToRawLongBits(v) ->
            Math.floorDiv(tsNano, 1000000L)))
      }
      val dec = Otlp.decode(wire)
      val got = dec.cumulative.timeseries.map { ts =>
        (ts.labels.map(l => l.name -> l.value), ts.samples.map(s =>
          java.lang.Double.doubleToRawLongBits(s.value) -> s.timestampMs))
      }
      got.sortBy(_.toString) == expected.sortBy(_.toString) &&
        dec.deltas.timeseries.isEmpty && dec.exemplars.isEmpty
    }

  // ---- native-expression kernels (pure: ArrayData/UTF8String in-out) ----

  import graft.expressions.Kernels
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private def bits(d: java.lang.Double): Long =
    java.lang.Double.doubleToRawLongBits(d.doubleValue())

  property("codec kernels == canonical functions across the UTF8String edge") =
    forAll(str) { s =>
      Kernels.graphiteEscape(UTF8String.fromString(s)).toString ==
        GraphiteCodec.escape(s) &&
      Kernels.opentsdbMarshal(UTF8String.fromString(s)).toString ==
        OpenTsdbCodec.marshal(s)
    }

  private val vec: Gen[List[Double]] =
    Gen.listOf(Gen.choose(-1e3, 1e3))

  property("vecDot kernel is the sequential left fold, bitwise") =
    forAll(vec, vec) { (a, b) =>
      val r = Kernels.vecDot(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      if (a.length != b.length) r == null
      else {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i) * b(i); i += 1 }
        bits(r) == java.lang.Double.doubleToRawLongBits(acc)
      }
    }

  property("vecCosine kernel matches dot/(|a||b|) with NULL on zero norm") =
    forAll(vec) { a =>
      val ad = new GenericArrayData(a.toArray)
      val zero = new GenericArrayData(Array.fill(a.length)(0.0))
      val self = Kernels.vecCosine(ad, ad)
      val degenerate = Kernels.vecCosine(ad, zero)
      val selfOk =
        if (a.isEmpty || a.forall(_ == 0.0)) self == null
        else {
          val d = Kernels.vecDot(ad, ad).doubleValue()
          bits(self) == java.lang.Double.doubleToRawLongBits(
            d / (math.sqrt(d) * math.sqrt(d)))
        }
      selfOk && degenerate == null
    }

  // unicode soup biased toward the characters NFC actually moves:
  // combining marks, precomposed accents, CJK, zero-widths, ASCII
  private val unicodeChar: Gen[Char] = Gen.frequency(
    6 -> Gen.choose(32.toChar, 126.toChar),
    2 -> Gen.oneOf('é', 'ü', 'ñ', 'å', '日', '本', '中'),
    2 -> Gen.oneOf('\u0301', '\u0308', '\u0327', '\u030A'), // combining
    1 -> Gen.oneOf('\u200B', '\uFEFF', '\u00AD'))
  private val unicodeStr: Gen[String] =
    Gen.listOf(unicodeChar).map(_.mkString)

  property("nfc normalize is idempotent") = forAll(unicodeStr) { s =>
    import org.apache.spark.unsafe.types.UTF8String
    val once = graft.expressions.Kernels
      .nfcNormalize(UTF8String.fromString(s)).toString
    graft.expressions.Kernels
      .nfcNormalize(UTF8String.fromString(once)).toString == once
  }

  property("nfc normalize agrees with java.text.Normalizer") =
    forAll(unicodeStr) { s =>
      import org.apache.spark.unsafe.types.UTF8String
      graft.expressions.Kernels
        .nfcNormalize(UTF8String.fromString(s)).toString ==
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    }

  property("nfc fast path returns the input object untouched for " +
    "already-composed text") = forAll(Gen.asciiPrintableStr) { s =>
    import org.apache.spark.unsafe.types.UTF8String
    val u = UTF8String.fromString(s)
    graft.expressions.Kernels.nfcNormalize(u) eq u
  }
}
