package graft

import org.scalacheck.Gen

import graft.core.WranglerConfig
import graft.metrics.{Metrics, TolerantEq}
import graft.transform.{TransformProgram, Validation}

/** Property-based invariants (SURVEY §5.2): tolerant-equality algebra,
  * serialization round-trips, metric bounds — driver-side via the same
  * evaluator the engine compiles into expressions (TolerantEq backs both
  * the codegen'd TolerantEqualsExpr and validation).
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** Raw-scalacheck sampling (no scalatestplus bridge in the offline cache):
    * draw n samples from the generator and assert the property on each.
    */
  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit =
    Iterator.continually(g.sample).flatten.take(n).foreach(f)

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(p => f(p._1, p._2))

  private def u(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)

  private val anyString = Gen.asciiPrintableStr

  test("VectorOps kernels match a naive fold on random arrays") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import graft.scale.VectorOps
    val gArr = Gen.listOfN(16, Gen.chooseNum(-1e6, 1e6))
    forAll(Gen.zip(gArr, gArr), 100) { case (a, b) =>
      val ad = ArrayData.toArrayData(a.toArray)
      val bd = ArrayData.toArrayData(b.toArray)
      val dot = a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      val l2 = a.zip(b).foldLeft(0.0) { case (s, (x, y)) =>
        s + (x - y) * (x - y) }
      assert(VectorOps.dotDouble(ad, bd) === dot)     // bitwise: same order
      assert(VectorOps.l2SqDouble(ad, bd) === l2)
    }
    // unequal lengths are NULL, never a partial result
    val a3 = ArrayData.toArrayData(Array(1.0, 2.0, 3.0))
    val a2 = ArrayData.toArrayData(Array(1.0, 2.0))
    assert(VectorOps.dotDouble(a3, a2) == null)
    assert(VectorOps.l2SqDouble(a2, a3) == null)
  }

  test("tolerant equality is reflexive") {
    forAll(anyString) { s =>
      assert(TolerantEq.eval(u(s), u(s), 0.021, truncating = true))
    }
  }

  test("tolerant equality is symmetric under equal-length lists") {
    forAll(anyString, anyString) { (a, b) =>
      val ab = TolerantEq.eval(u(a), u(b), 0.021, truncating = false)
      val ba = TolerantEq.eval(u(b), u(a), 0.021, truncating = false)
      assert(ab === ba)
    }
  }

  test("tolerance monotonicity: a match at tol stays a match at larger tol") {
    forAll(anyString, anyString) { (a, b) =>
      if (TolerantEq.eval(u(a), u(b), 0.01, truncating = true))
        assert(TolerantEq.eval(u(a), u(b), 0.1, truncating = true))
    }
  }

  test("number extraction never throws and yields finite doubles") {
    forAll(anyString) { s =>
      val nums = TolerantEq.extract(s.toLowerCase)
      assert(nums.forall(d => !d.isNaN))
    }
  }

  test("serialize(sep-free values) splits back to the original fields") {
    val sepFree = Gen.listOfN(3,
      Gen.alphaNumStr.suchThat(s => s.nonEmpty && !s.contains("^")))
    forAll(sepFree) { vals =>
      val joined = vals.mkString("^")   // P2 serializeSimple shape
      assert(joined.split(java.util.regex.Pattern.quote("^"), -1).toSeq
        === vals)
    }
  }

  test("SplitIndex eval: index within range returns the field, else empty") {
    val fields = Gen.listOfN(4, Gen.alphaNumStr.suchThat(!_.contains(",")))
    forAll(fields, Gen.choose(-6, 6)) { (vals, idx) =>
      val prog = TransformProgram.SplitIndex(",", idx)
      val out = prog.eval(vals.mkString(","))
      val i = if (idx >= 0) idx else vals.length + idx
      if (i >= 0 && i < vals.length) assert(out === vals(i))
      else assert(out === "")
    }
  }

  test("Chain(eval) composes left to right") {
    forAll(anyString) { s =>
      val prog = TransformProgram.Chain(Seq(
        TransformProgram.TrimWs, TransformProgram.LowerCase))
      assert(prog.eval(s) === s.trim.toLowerCase)
    }
  }

  test("metric counts are bounded and consistent") {
    // one Spark job per case: few cases keep the spec fast
    val label = Gen.oneOf("yes", "no", "maybe")
    forAll(Gen.nonEmptyListOf(Gen.zip(label, label)), 12) { pairs =>
      val r = Metrics.confusionMetrics(pairs.toDF("pred", "gold"),
        "pred", "gold").collect()(0)
      val n = Seq("total", "crc", "tp", "fn", "tn", "fp")
        .map(f => f -> r.getAs[Long](f)).toMap
      val d = Seq("prec", "rec", "acc", "f1_legacy", "f1")
        .map(f => f -> r.getAs[Double](f)).toMap
      assert(n("total") === pairs.length)
      assert(n("tp") + n("fn") + n("tn") + n("fp") <= n("total"))
      assert(n("crc") <= n("total"))
      assert(d("acc") >= 0.0 && d("acc") <= 1.0)
      assert(d("prec") >= 0.0 && d("prec") <= 1.0 &&
        d("rec") >= 0.0 && d("rec") <= 1.0)
      assert(d("f1_legacy") <= d("f1") + 1e-12)   // legacy only ever deflates
    }
  }

  test("Validation accuracy agrees with TolerantEq on identity programs") {
    forAll(Gen.nonEmptyListOf(anyString)) { inputs =>
      val demos = inputs.map(s => (s, s))
      assert(Validation.validate(TransformProgram.Identity, demos, Seq.empty,
        WranglerConfig.default) === (Validation.Validated, 1.0))
    }
  }

  test("Md5Prefix kernel equals BigInteger hex-prefix parse on raw bytes") {
    val gBytes = Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))
      .map(_.toArray)
    val gN = Gen.chooseNum(1, 16)
    forAll(Gen.zip(gBytes, gN), 300) { case (bytes, n) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString.take(n)
      // reference: unsigned base-16 parse of the prefix, low 64 bits
      val expect = new java.math.BigInteger(hex, 16).longValue()
      assert(graft.scale.Md5Prefix.eval(bytes, n) === expect,
        s"kernel mismatch for n=$n hex=$hex")
    }
  }

  test("AnchoredWindows kernel equals the regex + md5-prefix composition") {
    // the reference semantics the kernel fused away: zero-width word-start
    // anchors, exactly-k capture, whole text for sub-k docs
    def viaRegex(text: String, k: Int): Seq[Long] = {
      val wins =
        if (text.length < k) Seq(text)
        else {
          val m = java.util.regex.Pattern
            .compile("(?<![^ ])(?=([\\s\\S]{" + k + "}))").matcher(text)
          val b = Seq.newBuilder[String]
          while (m.find()) b += m.group(1)
          b.result()
        }
      wins.map(w => graft.scale.Md5Prefix.eval(
        w.getBytes(java.nio.charset.StandardCharsets.UTF_8), 16))
    }
    val gText = Gen.listOf(Gen.frequency(
      4 -> Gen.alphaNumChar, 2 -> Gen.const(' '),
      1 -> Gen.oneOf('\n', '\t', 'é', '.'))).map(_.mkString)
    val gK = Gen.chooseNum(1, 12)
    forAll(Gen.zip(gText, gK), 300) { case (text, k) =>
      assert(graft.scale.AnchoredWindows.hashes(text, k).toSeq ===
        viaRegex(text, k), s"k=$k text=${text.take(60)}")
    }
  }

  test("ProgramDsl round-trips arbitrary programs (DSL v1 arg domain)") {
    import TransformProgram._
    import graft.transform.ProgramDsl
    // literal args: printable, no tabs/newlines (the documented DSL v1
    // restriction); chains hold nullary steps only
    val lit = Gen.asciiPrintableStr.map(_.filterNot(c => c == '\t'))
    val nullary: Gen[TransformProgram] = Gen.oneOf(
      Identity, LowerCase, UpperCase, TitleCase, TrimWs, RomanToInt,
      NullProgram)
    val anyProg: Gen[TransformProgram] = Gen.oneOf(
      nullary,
      Gen.zip(lit, lit).map { case (p, s) => Surround(p, s) },
      Gen.zip(lit, lit).map { case (p, s) => StripAffix(p, s) },
      lit.map(ConstOutput(_)),
      Gen.zip(lit, Gen.chooseNum(-5, 5)).map { case (sep, i) =>
        SplitIndex(sep, i) },
      Gen.zip(Gen.chooseNum(-100.0, 100.0), Gen.chooseNum(-100.0, 100.0),
        Gen.chooseNum(0, 6), Gen.oneOf(true, false)).map {
        case (f, o, d, t) => AffineNumber(f, o, d, t) },
      Gen.zip(Gen.mapOf(Gen.zip(lit, lit)), Gen.option(lit))
        .map { case (m, dflt) => DictLookup(m, dflt) },
      Gen.nonEmptyListOf(nullary).map(steps => Chain(steps)))
    forAll(anyProg, 300) { p =>
      assert(ProgramDsl.parse(ProgramDsl.render(p)) === p,
        s"round trip failed for ${p.describe}")
    }
  }
}
