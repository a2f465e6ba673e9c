package graft


import org.apache.spark.sql.functions._
import graft.core.WranglerConfig
import graft.transform._
import graft.transform.TransformProgram._

/** The synthesis core: DSL programs agree between Column compilation and
  * driver-side eval; the rule synthesizer recovers programs from k=3 demos
  * across the reference capability envelope (dates, units, case, affixes,
  * splits, roman numerals); validation gates mirror the reference's verdicts
  * including the miscalibrated supervision gate.
  */
class TransformSpec extends SparkSpec {
  import spark.implicits._

  /** Cross-check toColumn vs eval on a battery of inputs. */
  private def agree(p: TransformProgram, inputs: Seq[String]): Unit = {
    val spark_ = inputs.toDF("in")
      .select(p.toColumn(col("in")).as("out")).as[String].collect()
    val local = inputs.map(i => p.eval(i))
    assert(spark_.toSeq == local.toSeq, s"${p.describe} disagrees")
  }

  test("Column and eval agree across the DSL") {
    val texts = Seq("Hello World", "  padded  ", "a,b,c", "no match here", "42")
    agree(Identity, texts)
    agree(LowerCase, texts)
    agree(UpperCase, texts)
    agree(TitleCase, Seq("hello world", "FOO BAR"))
    agree(TrimWs, texts)
    agree(Surround("<", ">"), texts)
    agree(StripAffix("Hel", "rld"), texts)
    agree(RegexReplace("[aeiou]", "*"), texts)
    agree(RegexExtract("([0-9]+)", 1), texts)
    agree(SplitIndex(",", 1), texts)
    agree(SplitIndex(",", -1), texts)
    agree(AffineNumber(1.8, 32.0, 1), Seq("100", "0", "37.5"))
    agree(RomanToInt, Seq("XIV", "MCMXCIV", "iii"))
    agree(DictLookup(Map("a" -> "1", "b" -> "2"), Some("?")), Seq("a", "b", "z"))
    agree(Chain(Seq(TrimWs, LowerCase, Surround("[", "]"))), texts)
    agree(DateReformat("yyyy-MM-dd", "dd/MM/yyyy"), Seq("2024-03-01", "1999-12-31"))
  }

  test("HttpTransport: full transcript against an in-process fake server") {
    // zero egress: the "endpoint" is a loopback com.sun.net.httpserver fake
    // speaking the chat-completions wire shape
    val received =
      scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/v1/chat/completions",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        received += ((
          Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""),
          ex.getRequestURI.getPath, body))
        // content exercises JSON escaping: a DSL const with tab + quote
        val resp = if (received.size == 1)
          """{"id":"x","object":"chat.completion","choices":[{"index":0,
            |"message":{"role":"assistant","content":"uppercase"},
            |"finish_reason":"stop"}]}""".stripMargin
        else
          """{"choices":[{"message":{"role":"assistant",
            |"content":"const\tA\"B"}}]}""".stripMargin
        val bytes = resp.getBytes("UTF-8")
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.start()
    try {
      val port = server.getAddress.getPort
      val env = Map(
        "GRAFT_SYNTHESIZER" -> "http",
        "GRAFT_LLM_ENDPOINT" -> s"http://127.0.0.1:$port/v1/chat/completions",
        "GRAFT_LLM_MODEL" -> "test-model",
        "GRAFT_LLM_API_KEY" -> "sekret")
      val synth =
        Synthesizers.forTask(env)(graft.core.TaskKind.DataTransformation)
      val progs = synth.synthesize(Some("upper-case it"),
        Seq("ab" -> "AB", "cd" -> "CD"))
      assert(progs.head == UpperCase)
      assert(progs(1) == ConstOutput("A\"B"))   // second (retry) attempt
      assert(received.size == 2)
      val (auth, path, body) = received(0)
      assert(auth == "Bearer sekret")
      assert(path == "/v1/chat/completions")
      assert(body.contains("\"model\": \"test-model\""))
      assert(body.contains("\"role\": \"system\""))
      assert(body.contains("Input: \\\"ab\\\"\\nOutput: \\\"AB\\\""))
      assert(body.contains("upper-case it"))
      // the retry round appends the validation-failure turn
      assert(received(1)._3.contains("failed validation"))
    } finally server.stop(0)
  }

  test("http synthesizer selection is config-gated") {
    // default stays the deterministic rule synthesizer — no HTTP anywhere
    assert(Synthesizers.fromEnv(Map.empty) == RuleSynthesizer)
    // explicit http WITHOUT an endpoint refuses loudly
    intercept[IllegalArgumentException] {
      Synthesizers.forTask(Map("GRAFT_SYNTHESIZER" -> "http"))
    }
  }

  test("geo/calendar family: Column/eval agreement and DSL round trip") {
    agree(DegToDms(1), Seq("41.3811", "0.5", "-12.25", "7", "no number"))
    agree(DmsToDeg(6), Seq("41°22'52.0\"", "-12°15'0.0\"", "0°30'0.0\"",
      "12°5'30.5\" S", "3°2'1.5\"W", "garbage"))
    agree(FixedZoneShift("yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy HH:mm", 330),
      Seq("2024-03-01 10:30:00", "1999-12-31 23:45:00"))
    // tabular Hijri: civil-epoch anchor + known conversions + agreement
    val hij = GregorianToHijri()
    assert(hij.eval("0622-07-19") == "0001-01-01")   // tabular epoch
    assert(hij.eval("2024-03-11") == "1445-09-01")   // 1 Ramadan 1445
    assert(hij.eval("2000-01-01") == "1420-09-24")
    agree(hij, Seq("2024-03-11", "2000-01-01", "1990-07-09", "0622-07-19",
      "not a date"))
    // haversine: agreement + a known distance (Barcelona → Paris ≈ 831 km)
    val hv = HaversineKm(3)
    agree(hv, Seq("41.38,2.17 -> 48.85,2.35", "0,0 -> 0,180",
      "-33.86,151.20 -> 51.50,-0.12", "12,34 -> 12,34", "no coords"))
    assert(hv.eval("0,0 -> 0,0") == "0.0")
    val bcnParis = hv.eval("41.38,2.17 -> 48.85,2.35").toDouble
    assert(bcnParis > 820 && bcnParis < 840, s"got $bcnParis")
    assert(hv.eval("garbage") == "")
    // DSL wire round trip
    for (p <- Seq(DegToDms(2), DmsToDeg(4), GregorianToHijri("dd/MM/yyyy"),
        FixedZoneShift("yyyy-MM-dd HH:mm", "HH:mm", -90), HaversineKm(4)))
      assert(ProgramDsl.parse(ProgramDsl.render(p)) == p)
  }

  test("HaversineKm: property parity across 400 seeded random pairs") {
    // Column path (Spark SQL round/trig) vs eval path (java.lang.Math +
    // BigDecimal) walk different rounding code — drive a seeded sweep so a
    // platform trig or rounding-boundary divergence surfaces here, not in
    // the oracle gate
    val rng = new scala.util.Random(20260813L)
    def coord(span: Int): String = {
      val v = (rng.nextInt(span * 200) - span * 100) / 100.0
      f"$v%.2f"
    }
    val pairs = (1 to 400).map(_ =>
      s"${coord(85)},${coord(175)} -> ${coord(85)},${coord(175)}")
    for (d <- Seq(2, 3, 4)) agree(HaversineKm(d), pairs)
    // antipodal + degenerate sanity via eval
    assert(HaversineKm(0).eval("0,0 -> 0,180").toDouble > 20000)
  }

  test("Hijri codegen kernel: property parity with per-row eval") {
    // the codegen expression (GregorianToHijriExpr) and the JVM eval walk
    // different code paths over the same integer algorithm — drive 2000
    // seeded random dates across ~623..3600 CE plus the epoch boundary
    val rng = new scala.util.Random(20260813L)
    val dates = Seq("0622-07-18", "0622-07-19", "0622-07-20") ++
      (1 to 2000).map(_ => java.time.LocalDate.ofEpochDay(
        -492000L + rng.nextInt(1100000)).toString)
    agree(GregorianToHijri(), dates)
    // spot invariants over the random set: month in [1,12], day in [1,30]
    val out = dates.map(GregorianToHijri().eval).filter(_.nonEmpty)
    assert(out.nonEmpty)
    assert(out.forall { s =>
      val m = s.slice(5, 7).toInt; val d = s.slice(8, 10).toInt
      m >= 1 && m <= 12 && d >= 1 && d <= 30
    }, "Hijri month/day out of range")
  }

  test("synthesizer recovers the geo/calendar family from demos") {
    val dms = RuleSynthesizer.synthesize(None,
      Seq("41.3811" -> "41°22'52.0\"", "10.5" -> "10°30'0.0\""))
    assert(dms.exists(_.isInstanceOf[DegToDms]), s"no DegToDms in $dms")
    val deg = RuleSynthesizer.synthesize(None,
      Seq("41°22'52.0\"" -> "41.381111", "10°30'0.0\"" -> "10.5"))
    assert(deg.exists(_.isInstanceOf[DmsToDeg]), s"no DmsToDeg in $deg")
    val tz = RuleSynthesizer.synthesize(None,
      Seq("2024-03-01 10:30:00" -> "01/03/2024 16:00",
        "2024-06-10 00:00:00" -> "10/06/2024 05:30"))
    assert(tz.exists {
      case FixedZoneShift(_, _, 330) => true
      case _ => false
    }, s"no +330 FixedZoneShift in $tz")
    val hj = RuleSynthesizer.synthesize(None,
      Seq("2024-03-11" -> "1445-09-01", "2000-01-01" -> "1420-09-24"))
    assert(hj.exists(_.isInstanceOf[GregorianToHijri]), s"no Hijri in $hj")
    val hv = RuleSynthesizer.synthesize(None,
      Seq("41.38,2.17 -> 48.85,2.35" -> HaversineKm(3)
          .eval("41.38,2.17 -> 48.85,2.35"),
        "0,0 -> 0,180" -> HaversineKm(3).eval("0,0 -> 0,180")))
    assert(hv.exists {
      case HaversineKm(3) => true
      case _ => false
    }, s"no HaversineKm in $hv")
  }

  test("OpaqueFn tier-2 node: round trip, throw→null→sentinel, null-safe") {
    val rev = OpaqueFn("rev_upper_mod7", { v =>
      if (v.length % 7 == 0) throw new IllegalArgumentException("mod7")
      else v.reverse.toUpperCase
    })
    // "abcdefg" (len 7) throws → eval null; toColumn null → applyProgram
    // surfaces the reference's "Not excutable" sentinel
    agree(rev, Seq("Hello World", "abcdefg", "", "x"))
    assert(rev.eval("abcdefg") == null)
    assert(rev.eval(null) == null)
    agree(Chain(Seq(TrimWs, rev)), Seq("  abc  ", " abcdefg "))
    val sent = graft.tasks.Wrangler.applyProgram(
        Seq("ok", "abcdefg").toDF("text"), rev)
      .select("pred").as[String].collect().toSeq
    assert(sent == Seq("KO", "Not excutable"), s"got $sent")
  }

  test("Column/eval agreement on the reviewed edge cases") {
    // deep-negative SplitIndex on short rows: computed pos hits 0 (was an
    // unconditional element_at error) or negative (was an end-wrap read)
    agree(SplitIndex(",", -2), Seq("only-one-token", "a,b", "a,b,c", ""))
    agree(SplitIndex(",", -3), Seq("x", "a,b", "a,b,c,d"))
    agree(SplitIndex(",", 5), Seq("a,b", ""))
    // initcap delimits on ANY whitespace — tabs and runs included
    agree(TitleCase, Seq("new\tyork", "a  double  space", "x\ny", ""))
    // numberless AffineNumber input: both sides must yield ""
    agree(AffineNumber(2.0, 1.0, 1), Seq("no digits here", "", "x7y"))
  }

  private def synth(demos: (String, String)*): TransformProgram =
    RuleSynthesizer.synthesize(None, demos).head

  test("synthesizer recovers case transforms") {
    assert(synth("Foo" -> "foo", "BAR" -> "bar") == LowerCase)
    assert(synth("foo" -> "FOO", "Bar" -> "BAR") == UpperCase)
    assert(synth("x" -> "x", "y" -> "y") == Identity)
  }

  test("synthesizer recovers date reformat") {
    val p = synth("2024-03-01" -> "01/03/2024", "1999-12-31" -> "31/12/1999")
    assert(p == DateReformat("yyyy-MM-dd", "dd/MM/yyyy"))
  }

  test("synthesizer recovers affix add/strip") {
    assert(synth("a" -> "pre-a", "b" -> "pre-b") == Surround("pre-", ""))
    assert(synth("x.txt" -> "x", "y.txt" -> "y") == StripAffix("", ".txt"))
  }

  test("synthesizer recovers split-index (first/last token)") {
    val p = synth("john smith" -> "smith", "ada lovelace" -> "lovelace")
    assert(p == SplitIndex(" ", 1) || p == SplitIndex(" ", -1))
  }

  test("synthesizer recovers unit conversion (km->mi style scale)") {
    val p = synth("10 km" -> "6.21", "100 km" -> "62.14")
    p match {
      case AffineNumber(f, o, d, _) =>
        assert(math.abs(f - 0.6214) < 0.01 && math.abs(o) < 1.0 && d == 2)
      case other => fail(s"expected AffineNumber, got $other")
    }
  }

  test("synthesizer recovers celsius->fahrenheit (scale+offset)") {
    val p = synth("0" -> "32", "100" -> "212", "37" -> "98.6")
    p match {
      case AffineNumber(f, o, _, _) =>
        assert(math.abs(f - 1.8) < 1e-9 && math.abs(o - 32.0) < 1e-9)
      case other => fail(s"expected AffineNumber, got $other")
    }
  }

  test("synthesizer recovers roman numerals") {
    assert(synth("XIV" -> "14", "III" -> "3") == RomanToInt)
  }

  test("synthesizer falls back to demo dictionary") {
    val p = synth("alpha" -> "z9", "beta" -> "q7")
    assert(p.isInstanceOf[DictLookup])
  }

  test("validation gates mirror the reference verdicts") {
    val cfg = WranglerConfig.default
    val demos = Seq("Foo" -> "foo", "BAR" -> "bar")
    assert(Validation.validate(LowerCase, demos, Seq.empty, cfg)._1 ==
      Validation.Validated)
    // note: UpperCase also validates — the reference's metric is
    // case-insensitive (utils.py:88,95), kept faithfully; a genuinely wrong
    // program is NotFit:
    assert(Validation.validate(ConstOutput("zzz"), demos, Seq.empty, cfg)._1 ==
      Validation.NotFit)
    // miscalibrated thresholdSup=10.0 (ref quirk): any supervision set fails
    assert(Validation.validate(LowerCase, demos, Seq("X" -> "x"), cfg)._1 ==
      Validation.NotGeneralizable)
    // corrected mode
    val fixed = cfg.copy(thresholdSup = 0.5)
    assert(Validation.validate(LowerCase, demos, Seq("X" -> "x"), fixed)._1 ==
      Validation.Validated)
  }

  test("validation scores with the configured zip mode") {
    // the program appends a number the gold lacks: the truncating zip
    // compares only the first, the equal-length mode counts it a miss
    val demos = Seq("1.5" -> "1.5", "2.25" -> "2.25")
    val extra = Surround("", " kg 2")
    val cfg = WranglerConfig.default
    assert(Validation.validate(extra, demos, Seq.empty, cfg) ===
      (Validation.Validated, 1.0))
    assert(Validation.validate(extra, demos, Seq.empty,
      cfg.copy(truncatingZip = false)) === (Validation.NotFit, 0.0))
  }

  test("trialLoop returns the null program when nothing fits") {
    val cfg = WranglerConfig.default.copy(k = 2)
    val impossible = Seq("a" -> "xyzzy1", "a" -> "xyzzy2")  // contradictory
    val got = Validation.trialLoop(RuleSynthesizer, None, impossible, Seq.empty, cfg)
    assert(got.nonEmpty)   // always yields a (program, acc) per trial
  }

  test("end-to-end transformation pipeline on a synthetic task") {
    val data = (1 to 50).map(i => (s"item $i", s"ITEM $i", i.toLong))
      .toDF("text", "label_str", "ord")
    val (prog, applied) = graft.tasks.Wrangler.runTransformation(
      data, "ord", None, WranglerConfig.default)
    assert(prog == UpperCase)
    val m = graft.metrics.Metrics.confusionMetrics(
      applied, "pred", "label_str").collect()(0)
    assert(m.getAs[Double]("acc") == 1.0)
  }

  test("EM threshold fit + predict") {
    val demos = Seq((0.9, "yes"), (0.8, "yes"), (0.2, "no"), (0.1, "no"))
    val th = graft.tasks.Wrangler.fitEmThreshold(demos)
    assert(th > 0.2 && th <= 0.8)
    val pairs = Seq(("red apple pie", "apple pie red"), ("dog", "cat"))
      .toDF("a", "b")
    val got = graft.tasks.Wrangler.emPredict(pairs, "a", "b", 0.5)
      .select("pred").as[String].collect()
    assert(got.toSeq == Seq("Yes", "No"))
  }

  test("error detection by vocab membership") {
    val vocab = Seq("red", "green", "blue").toDF("text")
    val test_ = Seq("red", "gren", "blue").toDF("text")
    val got = graft.tasks.Wrangler.errorDetectByVocab(test_, vocab)
      .select("text", "pred").as[(String, String)].collect().toMap
    assert(got == Map("red" -> "no", "gren" -> "yes", "blue" -> "no"))
  }

  test("error detection by spell distance") {
    val vocab = Seq("red", "green", "blue").toDF("text")
    val test_ = Seq("redd", "xyzzy").toDF("text")
    val got = graft.tasks.Wrangler.errorDetectBySpellDistance(test_, vocab)
      .select("text", "pred").as[(String, String)].collect().toMap
    assert(got == Map("redd" -> "no", "xyzzy" -> "yes"))
  }

  test("spell distance preserves duplicate rows and survives an empty vocab") {
    val vocab = Seq("red").toDF("text")
    val dup = Seq("teh", "teh", "red").toDF("text")
    // duplicates must NOT collapse — predictions stay row-for-row with the
    // test split or the confusion counts are wrong
    val got = graft.tasks.Wrangler.errorDetectBySpellDistance(dup, vocab)
    assert(got.count() === 3)
    val empty = vocab.filter(col("text") === "nothing")
    val all = graft.tasks.Wrangler.errorDetectBySpellDistance(dup, empty)
    assert(all.count() === 3)
    assert(all.select("pred").as[String].collect().forall(_ == "yes"))
  }

  test("supervision gate V3(c) is live through runTaskSplit in corrected mode") {
    import graft.core.WranglerConfig
    // train pool where only DictLookup fits the demos (inputs share no
    // simple program) — with a corrected thresholdSup the supervision
    // hold-out must reject the memorized dictionary's non-generalization
    val rows = (1 to 40).map(i => (s"in$i", s"out${i * 7 % 13}"))
    val train = rows.toDF("text", "label_str")
    val test_ = (41 to 50).map(i => (s"in$i", s"out${i * 7 % 13}"))
      .toDF("text", "label_str")
    val cfg = WranglerConfig(d = 10, thresholdSup = 0.8)
    val r = graft.tasks.WranglerMain.runTaskSplit(
      "sup", graft.core.TaskKind.DataTransformation, train, test_, None, cfg)
    // DictLookup memorizes k demos, fails the 10-row supervision set, so
    // the pipeline falls back to best-of-stack / null program — either way
    // test accuracy is far below perfect memorization's demo accuracy
    assert(r.isDefined)
    assert(r.get.metrics("acc") < 0.5)
  }

  test("symspell error detection agrees with crossJoin spell distance") {
    val vocab = Seq("red", "green", "blue", "orange").toDF("text")
    // distance 1: deletion (re), insertion (redd), substitution (rad),
    // exact (blue); distance ≥2: xyzzy, grn→green is distance 2
    val test_ = Seq("re", "redd", "rad", "blue", "xyzzy", "grn").toDF("text")
    val sym = graft.tasks.Wrangler.errorDetectSymSpell(test_, vocab)
      .select("text", "pred").as[(String, String)].collect().toMap
    val cross = graft.tasks.Wrangler.errorDetectBySpellDistance(test_, vocab)
      .select("text", "pred").as[(String, String)].collect().toMap
    assert(sym === cross)
    assert(sym === Map("re" -> "no", "redd" -> "no", "rad" -> "no",
      "blue" -> "no", "xyzzy" -> "yes", "grn" -> "yes"))
  }

  test("LLM-shaped synthesizer plug-point: transport-backed repair recovers") {
    // A FunctionSynthesizer backed by a prompt→completion transport (the
    // reference's OpenAI call, function_generator.py:44-86) — here a scripted
    // fake (zero egress). Candidates materialize LAZILY, one transport round
    // per repair attempt, so V4's candidate walk IS the re-prompt loop.
    final class TransportSynthesizer(transport: String => String)
        extends FunctionSynthesizer {
      val prompts = scala.collection.mutable.ArrayBuffer[String]()
      private def parse(resp: String): TransformProgram = resp.trim match {
        case "uppercase" => UpperCase
        case "lowercase" => LowerCase
        case "identity"  => Identity
        case s if s.startsWith("append:") => Surround("", s.stripPrefix("append:"))
        case other       => throw new IllegalArgumentException(other)
      }
      override def synthesize(
          instruction: Option[String],
          demos: Seq[(String, String)]): Seq[TransformProgram] =
        LazyList.from(0).map { attempt =>
          val prompt = s"instruction: ${instruction.getOrElse("")}\n" +
            demos.map { case (i, o) => s"$i -> $o" }.mkString("\n") +
            s"\nattempt: $attempt"
          prompts += prompt
          parse(transport(prompt))
        }
    }

    // Scripted transport: first completion is a plausible-but-wrong program
    // (Identity runs fine but fails demo accuracy — note tolerant equality
    // is case/whitespace-insensitive, so the task must differ by content,
    // not case), second one is correct.
    val script = Iterator("identity", "append:!")
    val synth = new TransportSynthesizer(_ => script.next())

    val demos = Seq(("foo", "foo!"), ("bar", "bar!"), ("baz", "baz!"))
    val got = Validation.generatePipeline(
      synth, Some("add an exclamation mark"), demos, Seq.empty,
      WranglerConfig.default)

    assert(got.map(_._1) === Some(Surround("", "!")))   // repair recovered
    assert(got.map(_._2) === Some(1.0))
    assert(synth.prompts.size === 2)            // exactly one re-prompt, lazy walk
    assert(synth.prompts.head.contains("add an exclamation mark"))
    assert(synth.prompts.head.contains("foo -> foo!"))
  }

  test("ProgramDsl round-trips the program space") {
    val progs: Seq[TransformProgram] = Seq(
      Identity, LowerCase, UpperCase, TitleCase, TrimWs, RomanToInt,
      NullProgram, ConstOutput("n/a"), Surround("[", "]"),
      StripAffix("pre-", ""), SplitIndex("^", 2),
      RegexReplace("[0-9]+", "#"), RegexExtract("([a-z]+)", 1),
      DateReformat("yyyy-MM-dd", "dd/MM/yyyy"),
      AffineNumber(1.8, 32.0, 1, trimZeros = true),
      DictLookup(Map("a" -> "1", "b" -> "2"), Some("z")),
      DictLookup(Map("a" -> "1"), None),
      Chain(Seq(TrimWs, LowerCase)))
    progs.foreach { p =>
      assert(ProgramDsl.parse(ProgramDsl.render(p)) === p,
        s"round trip failed for ${p.describe}")
    }
    // not the DSL; a non-integer index; non-numeric and non-boolean args
    Seq("def f(x): ...", "split\t,\tone",
        "affine\t1.8\tthirty-two\t1\ttrue",
        "affine\t1.8\t32.0\t1\tyes").foreach { line =>
      val e = intercept[IllegalArgumentException](ProgramDsl.parse(line))
      assert(e.getMessage === s"unparsable DSL: $line")
    }
  }

  test("TransportSynthesizer retries unparsable responses (ref :202-209)") {
    // first two completions are garbage (a Python function body — exactly
    // the reference's ast.literal_eval failure mode), third parses
    val script = Iterator(
      "def string_transformation(s): return s.upper()",
      "```python ...```",
      "uppercase")
    var n = 0
    val synth = new TransportSynthesizer(_ => { n += 1; script.next() })
    val got = synth.synthesize(None, Seq(("a", "A"))).head
    assert(got === UpperCase)
    assert(n === 3, s"expected 2 parse retries then success, got $n calls")
  }

  test("TransportSynthesizer + LocalTransport: repair walk re-prompts " +
      "with the retry turn and advances candidates") {
    // first completion is plausible-but-wrong (parses, fails validation —
    // the reference's bad-function path); subsequent rounds answer with
    // the real local transport, which reads the attempt index from the
    // retry turns in the transcript
    var first = true
    val synth = new TransportSynthesizer(messages =>
      if (first) { first = false; "identity" }
      // dropRight(1): the scripted wrong round consumed attempt 0, so
      // realign the local transport's attempt index (= retry-turn count)
      else LocalTransport.transport(messages.dropRight(1)))
    val demos = Seq(("foo", "foo!"), ("bar", "bar!"), ("baz", "baz!"))
    val got = Validation.generatePipeline(
      synth, Some("add an exclamation mark"), demos, Seq.empty,
      WranglerConfig.default)
    assert(got.map(_._1) === Some(Surround("", "!")))
    assert(got.map(_._2) === Some(1.0))
    assert(synth.calls.size >= 2, "expected at least one repair re-prompt")
    // the re-prompt transcript grows by exactly the retry turn
    assert(synth.calls(1).size === synth.calls(0).size + 1)
    assert(synth.calls(1).last.content.contains("failed validation"))
  }

  test("Synthesizers.fromEnv: rule default, transport selectable") {
    assert(Synthesizers.fromEnv(Map.empty) === RuleSynthesizer)
    assert(Synthesizers.fromEnv(Map("GRAFT_SYNTHESIZER" -> "transport"))
      .isInstanceOf[TransportSynthesizer])
    intercept[IllegalArgumentException](
      Synthesizers.fromEnv(Map("GRAFT_SYNTHESIZER" -> "gpt4")))
  }

  test("quoted example rendering survives hostile strings") {
    val demos = Seq(("tab\there \"q\"", "line\nbreak\\slash"))
    val rendered = Prompts.renderExamples(demos)
    val Array(i, o) = rendered.split("\nOutput: ")
    assert(Prompts.unquote(i.stripPrefix("Input: ")) === demos.head._1)
    assert(Prompts.unquote(o) === demos.head._2)
  }

  test("imputation by learned dictionary") {
    val train = Seq(("us", "NYC"), ("us", "NYC"), ("us", "LA"), ("fr", "Paris"))
      .toDF("country", "city")
    val test_ = Seq(("us", ""), ("fr", ""), ("de", "")).toDF("country", "city")
    val got = graft.tasks.Wrangler.imputeByDict(train, test_, "country", "city")
      .select("country", "pred").as[(String, String)].collect().toMap
    assert(got("us") == "NYC" && got("fr") == "Paris")
    assert(got("de") == "NYC")   // global mode fallback
  }
}
