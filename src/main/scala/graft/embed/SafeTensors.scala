package graft.embed

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** Minimal reader for the safetensors weight format (the public
  * huggingface/safetensors layout): an 8-byte little-endian header
  * length, a JSON header mapping tensor name → {dtype, shape,
  * data_offsets}, then one contiguous byte buffer the offsets index
  * into. This is the on-disk form of the reference's local
  * SentenceTransformer checkpoint (log-vector `index.py:72-111`
  * loads the same weights through torch); here the weights feed the
  * in-JVM forward pass in [[TransformerEmbedder]].
  *
  * Supports F32 (native) and F16 (widened on load). The header JSON
  * is parsed with a small recursive-descent parser so the reader has
  * zero classpath requirements beyond the JDK.
  */
object SafeTensors {

  final case class Tensor(dtype: String, shape: Seq[Int], data: Array[Float])

  /** name → tensor, for every F32/F16 tensor in the file. */
  def load(path: String): Map[String, Tensor] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    require(bytes.length >= 8, s"not a safetensors file (too short): $path")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val headerLen = bb.getLong(0)
    require(headerLen > 0 && headerLen <= bytes.length - 8,
      s"corrupt safetensors header length $headerLen in $path")
    val header = new String(bytes, 8, headerLen.toInt, "UTF-8")
    val dataStart = 8 + headerLen.toInt
    val json = Json.parse(header) match {
      case o: Map[_, _] => o.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(s"safetensors header is not an object: $other")
    }
    json.iterator.flatMap {
      case ("__metadata__", _) => Iterator.empty
      case (name, spec: Map[_, _]) =>
        val m = spec.asInstanceOf[Map[String, Any]]
        val dtype = m("dtype").asInstanceOf[String]
        val shape = m("shape").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double].toInt)
        val offs = m("data_offsets").asInstanceOf[Seq[Any]].map(_.asInstanceOf[Double].toLong)
        // validate before wrapping: corrupt offsets must surface as a
        // diagnosable error naming the tensor/file, not a raw
        // IndexOutOfBoundsException from ByteBuffer internals
        require(offs.length == 2 && offs(0) >= 0 && offs(1) >= offs(0) &&
            dataStart + offs(1) <= bytes.length,
          s"corrupt data_offsets ${offs.mkString("[", ",", "]")} for tensor " +
            s"'$name' in $path (data section ${bytes.length - dataStart} bytes)")
        val (start, end) = (dataStart + offs(0).toInt, dataStart + offs(1).toInt)
        val out = dtype match {
          case "F32" =>
            val n = (end - start) / 4
            val fb = ByteBuffer.wrap(bytes, start, end - start)
              .order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
            val a = new Array[Float](n)
            fb.get(a)
            a
          case "F16" =>
            val n = (end - start) / 2
            val sb = ByteBuffer.wrap(bytes, start, end - start)
              .order(ByteOrder.LITTLE_ENDIAN).asShortBuffer()
            val a = new Array[Float](n)
            var i = 0
            while (i < n) { a(i) = f16ToF32(sb.get(i)); i += 1 }
            a
          case "BF16" =>
            // bfloat16 = the top 16 bits of an IEEE float32
            val n = (end - start) / 2
            val sb = ByteBuffer.wrap(bytes, start, end - start)
              .order(ByteOrder.LITTLE_ENDIAN).asShortBuffer()
            val a = new Array[Float](n)
            var i = 0
            while (i < n) {
              a(i) = java.lang.Float.intBitsToFloat((sb.get(i) & 0xFFFF) << 16)
              i += 1
            }
            a
          case other =>
            // integer/index tensors (I64 position ids etc.) are not
            // weights the forward pass reads — skip rather than fail
            null
        }
        if (out == null) Iterator.empty
        else Iterator.single(name -> Tensor(dtype, shape, out))
      case (name, other) =>
        throw new IllegalArgumentException(s"unexpected header entry $name: $other")
    }.toMap
  }

  /** IEEE 754 half → float (JDK 17 has no Float.float16ToFloat). */
  private[graft] def f16ToF32(h: Short): Float = {
    val bits = h & 0xFFFF
    val sign = (bits & 0x8000) << 16
    val exp = (bits >>> 10) & 0x1F
    val frac = bits & 0x3FF
    val f32 =
      if (exp == 0) {
        if (frac == 0) sign
        else {
          // subnormal half: renormalize
          var e = -1
          var f = frac
          while ((f & 0x400) == 0) { f <<= 1; e += 1 }
          sign | ((127 - 15 - e) << 23) | ((f & 0x3FF) << 13)
        }
      } else if (exp == 0x1F) sign | 0x7F800000 | (frac << 13) // inf/nan
      else sign | ((exp - 15 + 127) << 23) | (frac << 13)
    java.lang.Float.intBitsToFloat(f32)
  }

  /** Tiny recursive-descent JSON parser for the constrained header
    * grammar (objects, arrays, strings, numbers, true/false/null).
    * Numbers come back as Double. */
  private[graft] object Json {
    def parse(s: String): Any = {
      val p = new P(s)
      val v = p.value()
      p.ws()
      require(p.i >= s.length, s"trailing JSON content at ${p.i}")
      v
    }

    private final class P(s: String) {
      var i = 0
      def ws(): Unit = while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
      def expect(c: Char): Unit = {
        ws()
        require(i < s.length && s.charAt(i) == c, s"expected '$c' at $i")
        i += 1
      }
      def value(): Any = {
        ws()
        require(i < s.length, "unexpected end of JSON")
        s.charAt(i) match {
          case '{' => obj()
          case '[' => arr()
          case '"' => str()
          case 't' => lit("true", true)
          case 'f' => lit("false", false)
          case 'n' => lit("null", null)
          case _ => num()
        }
      }
      def lit(word: String, v: Any): Any = {
        require(s.startsWith(word, i), s"bad literal at $i")
        i += word.length
        v
      }
      def obj(): Map[String, Any] = {
        expect('{')
        val b = Map.newBuilder[String, Any]
        ws()
        if (i < s.length && s.charAt(i) == '}') { i += 1; return b.result() }
        while (true) {
          ws()
          val k = str()
          expect(':')
          b += (k -> value())
          ws()
          if (i < s.length && s.charAt(i) == ',') i += 1
          else { expect('}'); return b.result() }
        }
        b.result()
      }
      def arr(): Seq[Any] = {
        expect('[')
        val b = Seq.newBuilder[Any]
        ws()
        if (i < s.length && s.charAt(i) == ']') { i += 1; return b.result() }
        while (true) {
          b += value()
          ws()
          if (i < s.length && s.charAt(i) == ',') i += 1
          else { expect(']'); return b.result() }
        }
        b.result()
      }
      def str(): String = {
        expect('"')
        val sb = new java.lang.StringBuilder
        while (i < s.length && s.charAt(i) != '"') {
          val c = s.charAt(i)
          if (c == '\\') {
            i += 1
            require(i < s.length, "bad escape")
            s.charAt(i) match {
              case '"' => sb.append('"')
              case '\\' => sb.append('\\')
              case '/' => sb.append('/')
              case 'b' => sb.append('\b')
              case 'f' => sb.append('\f')
              case 'n' => sb.append('\n')
              case 'r' => sb.append('\r')
              case 't' => sb.append('\t')
              case 'u' =>
                sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
                i += 4
              case other => throw new IllegalArgumentException(s"bad escape \\$other")
            }
          } else sb.append(c)
          i += 1
        }
        expect('"')
        sb.toString
      }
      def num(): Double = {
        val start = i
        while (i < s.length && "+-.eE0123456789".indexOf(s.charAt(i)) >= 0) i += 1
        s.substring(start, i).toDouble
      }
    }
  }
}
