package graft.transform

/** LLM-transport-backed program synthesis — the main-code form of the
  * reference's OpenAI function-calling loop
  * (`function_generator.py:44-92` call + tool-schema,
  * `function_generator.py:202-209` unparsable-response retry,
  * `promptsTemplate.py` message templates), with the wire dependency
  * abstracted to a plain `Seq[ChatMessage] => String` function so the
  * engine stays zero-egress: tests and the default config use the
  * deterministic [[LocalTransport]]; a production deployment passes its
  * HTTP client as the transport function.
  *
  * The response format is a one-line program DSL ([[ProgramDsl]]) instead
  * of Python source: the reference `exec`s the returned code string,
  * which a distributed engine must not do — the DSL parses into the same
  * closed [[TransformProgram]] space the rule synthesizer searches, and
  * compiles to Catalyst columns (SURVEY §7.3 central design decision).
  */
final case class ChatMessage(role: String, content: String)

/** V1 prompt formulation (`formulate_prompt`, `function_generator.py:94-116`):
  * system prefix + per-task template + rendered examples, mirroring the
  * reference's four task templates (`promptsTemplate.py:8-93` —
  * STRING_TRANSFORMATION / ENTITY_MATCHING / DATA_IMPUTATION /
  * ERROR_DETECTION_SPELLING; the texts here are engine-native analogs,
  * not copies: the DSL contract replaces "return only the python
  * function", and the per-task guidance describes the engine's closed
  * program space instead of Python libraries).
  */
object Prompts {
  private val SystemPrefix =
    "You are a helpful assistant. Given input/output examples, respond " +
      "with ONE transform-program DSL line (e.g. `uppercase`, " +
      "`surround\\tpre\\tsuf`, `split\\t^\\t1`, `affine\\t1.8\\t32\\t1`) " +
      "that converts every input to its output. Respond with the DSL " +
      "line and nothing else."

  /** Per-task preamble (the TASK template analog, selected the same way
    * as `formulate_prompt`'s task routing).
    */
  def taskPreamble(task: graft.core.TaskKind): String = task match {
    case graft.core.TaskKind.DataTransformation =>
      "Task: string transformation. Find one program that converts each " +
        "input string to its output string (case, affixes, splits, date " +
        "or unit conversion, dictionary lookup)."
    case graft.core.TaskKind.EntityMatching =>
      "Task: entity matching. Inputs serialize a record pair; the output " +
        "is Yes when they refer to the same entity, else No. Prefer a " +
        "generalizable similarity decision over memorizing pairs."
    case graft.core.TaskKind.DataImputation =>
      "Task: data imputation. Inputs serialize a record with a missing " +
        "attribute; the output is the imputed value. Prefer mappings " +
        "derivable from the visible attributes."
    case graft.core.TaskKind.ErrorDetection =>
      "Task: spelling-error detection. The output is yes when the input " +
        "value is misspelled, else no."
  }

  def renderExamples(demos: Seq[(String, String)]): String =
    demos.map { case (i, o) =>
      s"Input: ${quote(i)}\nOutput: ${quote(o)}"
    }.mkString("\n")

  def formulate(
      instruction: Option[String],
      demos: Seq[(String, String)],
      task: graft.core.TaskKind = graft.core.TaskKind.DataTransformation)
      : Seq[ChatMessage] = Seq(
    ChatMessage("system", SystemPrefix),
    ChatMessage("user", taskPreamble(task)),
    ChatMessage("user",
      s"Instructions: ${instruction.getOrElse("")}\n" +
        s"Examples:\n${renderExamples(demos)}"))

  /** TASK_RETRY analog (`promptsTemplate.py:6`, appended at
    * `function_generator.py:222-225`): the validation error goes back to
    * the model as a user turn.
    */
  def retry(errorMessage: String): ChatMessage =
    ChatMessage("user", errorMessage)

  def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\t", "\\t") + "\""

  def unquote(s: String): String = {
    require(s.length >= 2 && s.head == '"' && s.last == '"', s"not quoted: $s")
    val b = new StringBuilder
    var i = 1
    while (i < s.length - 1) {
      val c = s(i)
      if (c == '\\' && i + 1 < s.length - 1) {
        s(i + 1) match {
          case 'n' => b += '\n'; case 't' => b += '\t'
          case x   => b += x
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }
}

/** The wire format of a synthesized program: one line, TAB-separated args —
  * the analog of `response_parser` (`function_generator.py:87-92`), which
  * pulls `python_code` out of the tool-call JSON. Unparsable input throws
  * `IllegalArgumentException`, which the synthesizer's retry loop treats
  * exactly like the reference's `ast.literal_eval` failure. Literal args
  * containing tabs aren't expressible (DSL v1 restriction; none of the
  * rule-synthesizer's candidate space needs them).
  */
object ProgramDsl {
  import TransformProgram._

  def render(p: TransformProgram): String = p match {
    case Identity   => "identity"
    case LowerCase  => "lowercase"
    case UpperCase  => "uppercase"
    case TitleCase  => "titlecase"
    case TrimWs     => "trim"
    case RomanToInt => "roman_to_int"
    case NullProgram => "null"
    case ConstOutput(v)    => s"const\t$v"
    case Surround(p1, s1)  => s"surround\t$p1\t$s1"
    case StripAffix(p1, s1) => s"strip_affix\t$p1\t$s1"
    case SplitIndex(sep, i) => s"split\t$sep\t$i"
    case RegexReplace(p1, r) => s"regex_replace\t$p1\t$r"
    case RegexExtract(p1, g) => s"regex_extract\t$p1\t$g"
    case DateReformat(i, o)  => s"date\t$i\t$o"
    case DegToDms(d)         => s"deg_to_dms\t$d"
    case GregorianToHijri(f) => s"hijri\t$f"
    case DmsToDeg(d)         => s"dms_to_deg\t$d"
    case HaversineKm(d)      => s"haversine_km\t$d"
    case FixedZoneShift(i, o, m) => s"tz_shift\t$i\t$o\t$m"
    case AffineNumber(f, o, d, t) => s"affine\t$f\t$o\t$d\t$t"
    case OpaqueFn(name, _)   =>
      // tier-2 closures have no wire form by design (they exist precisely
      // because they are outside the declarative DSL); render a marker the
      // parser rejects so a round trip fails loudly instead of silently
      s"opaque\t$name"
    case DictLookup(m, dflt) =>
      (Seq("dict", dflt.getOrElse("\u0000")) ++
        m.toSeq.sortBy(_._1).flatMap { case (k, v) => Seq(k, v) })
        .mkString("\t")
    case Chain(steps) =>
      // chain elements are nullary (the rule synthesizer only chains
      // case objects); nested arg-bearing programs are out of DSL v1
      "chain\t" + steps.map(render).mkString(";;")
  }

  def parse(line: String): TransformProgram = {
    // strip line terminators only, then trim whitespace around the NAME
    // token alone: a trailing TAB delimits a legitimate empty argument,
    // and leading/trailing SPACES inside an argument are argument content
    // (fuzz-found: `const` with a trailing-space literal must round-trip);
    // sloppy whitespace around the program name itself is tolerated
    val parts = line.replace("\r", "").replace("\n", "")
      .split("\t", -1).toList match {
      case h :: t => h.trim :: t
      case Nil    => Nil
    }
    def bad() = throw new IllegalArgumentException(s"unparsable DSL: $line")
    parts match {
      case "identity" :: Nil     => Identity
      case "lowercase" :: Nil    => LowerCase
      case "uppercase" :: Nil    => UpperCase
      case "titlecase" :: Nil    => TitleCase
      case "trim" :: Nil         => TrimWs
      case "roman_to_int" :: Nil => RomanToInt
      case "null" :: Nil         => NullProgram
      case "const" :: v :: Nil          => ConstOutput(v)
      case "surround" :: p :: s :: Nil  => Surround(p, s)
      case "strip_affix" :: p :: s :: Nil => StripAffix(p, s)
      case "split" :: sep :: i :: Nil =>
        SplitIndex(sep, i.toIntOption.getOrElse(bad()))
      case "regex_replace" :: p :: r :: Nil => RegexReplace(p, r)
      case "regex_extract" :: p :: g :: Nil =>
        RegexExtract(p, g.toIntOption.getOrElse(bad()))
      case "date" :: i :: o :: Nil => DateReformat(i, o)
      case "hijri" :: f :: Nil => GregorianToHijri(f)
      case "deg_to_dms" :: d :: Nil =>
        DegToDms(d.toIntOption.getOrElse(bad()))
      case "dms_to_deg" :: d :: Nil =>
        DmsToDeg(d.toIntOption.getOrElse(bad()))
      case "haversine_km" :: d :: Nil =>
        HaversineKm(d.toIntOption.getOrElse(bad()))
      case "tz_shift" :: i :: o :: m :: Nil =>
        FixedZoneShift(i, o, m.toIntOption.getOrElse(bad()))
      case "affine" :: f :: o :: d :: t :: Nil =>
        AffineNumber(f.toDoubleOption.getOrElse(bad()),
          o.toDoubleOption.getOrElse(bad()), d.toIntOption.getOrElse(bad()),
          t.toBooleanOption.getOrElse(bad()))
      case "dict" :: dflt :: kvs if kvs.length % 2 == 0 =>
        DictLookup(kvs.grouped(2).map { case List(k, v) => k -> v }.toMap,
          if (dflt == "\u0000") None else Some(dflt))
      case "chain" :: body :: Nil =>
        Chain(body.split(";;", -1).toSeq.map(parse))
      case _ => bad()
    }
  }
}

/** Deterministic zero-egress transport: answers each prompt by re-parsing
  * the rendered examples/instruction out of the message list, running the
  * rule synthesizer, and returning the attempt-th candidate as a DSL line —
  * the attempt index being the number of retry turns in the transcript, so
  * the repair loop genuinely advances through candidates over the wire
  * shape a real LLM transport would use.
  */
object LocalTransport {
  private val Pair =
    """(?s)Input: ("(?:[^"\\]|\\.)*")\nOutput: ("(?:[^"\\]|\\.)*")""".r
  private val Instr = """Instructions: (.*)""".r

  val transport: Seq[ChatMessage] => String = { messages =>
    val body = messages.collect {
      case ChatMessage("user", c) if c.contains("Input: ") => c
    }.mkString("\n")
    val demos = Pair.findAllMatchIn(body).map(m =>
      (Prompts.unquote(m.group(1)), Prompts.unquote(m.group(2)))).toSeq
    val instruction = Instr.findFirstMatchIn(body)
      .map(_.group(1).trim).filter(_.nonEmpty)
    // attempt index = number of RETRY turns (not all non-example user
    // turns: the task preamble is also a user message)
    val attempt = messages.count(m =>
      m.role == "user" && m.content.contains("failed validation"))
    val cands = RuleSynthesizer.synthesize(instruction, demos)
    ProgramDsl.render(
      if (attempt < cands.length) cands(attempt)
      else TransformProgram.NullProgram)
  }
}

/** V2 LLM-backed synthesizer over an abstract transport. Candidates
  * materialize lazily — one transport round per repair attempt, each
  * appending the retry turn (`function_generator.py:222-227`), so V4's
  * candidate walk IS the re-prompt loop. An unparsable response re-asks
  * the SAME messages up to `maxParseRetries` times
  * (`function_generator.py:202-209` — the reference loops forever; the
  * cap is the one deviation, after which the null program surfaces and
  * validation rejects it).
  */
final class TransportSynthesizer(
    transport: Seq[ChatMessage] => String,
    task: graft.core.TaskKind = graft.core.TaskKind.DataTransformation,
    maxParseRetries: Int = 5) extends FunctionSynthesizer {

  /** Transport rounds made (prompt transcripts), for inspection/tests. */
  val calls = scala.collection.mutable.ArrayBuffer[Seq[ChatMessage]]()

  private def callParsed(messages: Seq[ChatMessage]): TransformProgram = {
    var tries = 0
    while (tries < maxParseRetries) {
      calls += messages
      val resp = transport(messages)
      try return ProgramDsl.parse(resp)
      catch { case _: IllegalArgumentException => tries += 1 }
    }
    TransformProgram.NullProgram
  }

  override def synthesize(
      instruction: Option[String],
      demos: Seq[(String, String)]): Seq[TransformProgram] = {
    val base = Prompts.formulate(instruction, demos, task)
    LazyList.from(0).map { attempt =>
      callParsed(base ++ Seq.fill(attempt)(Prompts.retry(
        "The previous function failed validation on the examples; " +
          "produce a different function.")))
    }
  }
}

/** Minimal JSON support for the HTTP transport — serialization of the
  * request body and extraction of `choices[0].message.content` from the
  * response. Hand-rolled on purpose: the build has no JSON dependency and
  * must not grow one for a single wire format. The parser is a strict
  * recursive-descent reader of the full JSON grammar (objects, arrays,
  * strings with escapes/surrogates, numbers, literals) — not a regex grep,
  * which would corrupt content containing quotes or braces.
  */
private[transform] object MiniJson {
  def escape(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\b' => b.append("\\b")
      case '\f' => b.append("\\f")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append("\"").toString
  }

  def parse(s: String): Any = {
    val p = new P(s); val v = p.value(); p.ws()
    require(p.eof, s"trailing JSON content at ${p.pos}")
    v
  }

  private final class P(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def ws(): Unit = while (!eof && s(pos).isWhitespace) pos += 1
    private def expect(c: Char): Unit = {
      require(!eof && s(pos) == c, s"expected '$c' at $pos"); pos += 1
    }
    def value(): Any = {
      ws()
      require(!eof, "unexpected end of JSON")
      s(pos) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case 't' => lit("true", true)
        case 'f' => lit("false", false)
        case 'n' => lit("null", null)
        case _   => num()
      }
    }
    private def lit(word: String, v: Any): Any = {
      require(s.startsWith(word, pos), s"bad literal at $pos")
      pos += word.length; v
    }
    private def obj(): Map[String, Any] = {
      expect('{'); ws()
      if (!eof && s(pos) == '}') { pos += 1; return Map.empty }
      val b = Map.newBuilder[String, Any]
      var done = false
      while (!done) {
        ws(); val k = str(); ws(); expect(':')
        b += (k -> value()); ws()
        if (!eof && s(pos) == ',') pos += 1
        else { expect('}'); done = true }
      }
      b.result()
    }
    private def arr(): Vector[Any] = {
      expect('['); ws()
      if (!eof && s(pos) == ']') { pos += 1; return Vector.empty }
      val b = Vector.newBuilder[Any]
      var done = false
      while (!done) {
        b += value(); ws()
        if (!eof && s(pos) == ',') pos += 1
        else { expect(']'); done = true }
      }
      b.result()
    }
    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (!eof && s(pos) != '"') {
        val c = s(pos)
        if (c == '\\') {
          pos += 1
          require(!eof, "bad escape")
          s(pos) match {
            case '"' => b += '"'; case '\\' => b += '\\'; case '/' => b += '/'
            case 'b' => b += '\b'; case 'f' => b += '\f'; case 'n' => b += '\n'
            case 'r' => b += '\r'; case 't' => b += '\t'
            case 'u' =>
              require(pos + 4 < s.length, "bad \\u escape")
              b += Integer.parseInt(s.substring(pos + 1, pos + 5), 16).toChar
              pos += 4
            case x => throw new IllegalArgumentException(s"bad escape \\$x")
          }
          pos += 1
        } else { b += c; pos += 1 }
      }
      expect('"'); b.toString
    }
    private def num(): Any = {
      val start = pos
      while (!eof && ("+-.eE0123456789".indexOf(s(pos)) >= 0)) pos += 1
      require(pos > start, s"bad JSON value at $start")
      s.substring(start, pos).toDouble
    }
  }
}

/** OpenAI-compatible chat-completions client over `java.net` — the
  * production implementation of the transport function (the reference
  * calls this exact wire shape, `function_generator.py:76-84`). NEVER
  * constructed by default: [[Synthesizers.forTask]] builds it only when
  * the deployment explicitly sets `GRAFT_SYNTHESIZER=http` plus
  * `GRAFT_LLM_ENDPOINT`; every test runs against an in-process fake
  * server, so the build stays zero-egress.
  *
  * Request: `{"model": …, "messages": [{role, content}…]}` to
  * `<endpoint>` with optional `Authorization: Bearer <key>`.
  * Response: `choices[0].message.content`. Non-2xx or malformed bodies
  * throw `IllegalArgumentException`, which the synthesizer's parse-retry
  * loop already treats as a failed attempt.
  */
final class HttpTransport(
    endpoint: String,
    model: String,
    apiKey: Option[String] = None,
    timeoutMs: Int = 30000) {

  val transport: Seq[ChatMessage] => String = { messages =>
    val body = "{\"model\": " + MiniJson.escape(model) +
      ", \"messages\": [" +
      messages.map(m =>
        "{\"role\": " + MiniJson.escape(m.role) +
          ", \"content\": " + MiniJson.escape(m.content) + "}")
        .mkString(", ") +
      "]}"
    val url = java.net.URI.create(endpoint).toURL
    val conn = url.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(timeoutMs)
      conn.setReadTimeout(timeoutMs)
      conn.setRequestProperty("Content-Type", "application/json")
      apiKey.foreach(k =>
        conn.setRequestProperty("Authorization", s"Bearer $k"))
      conn.setDoOutput(true)
      val out = conn.getOutputStream
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val code = conn.getResponseCode
      val stream =
        if (code >= 200 && code < 300) conn.getInputStream
        else conn.getErrorStream
      val resp =
        if (stream == null) ""
        else try new String(stream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally stream.close()
      if (code < 200 || code >= 300)
        throw new IllegalArgumentException(
          s"chat-completions HTTP $code: ${resp.take(500)}")
      extractContent(resp)
    } finally conn.disconnect()
  }

  private def extractContent(responseBody: String): String =
    try {
      val root = MiniJson.parse(responseBody).asInstanceOf[Map[String, Any]]
      val choices = root("choices").asInstanceOf[Vector[Any]]
      val msg = choices.head.asInstanceOf[Map[String, Any]]("message")
        .asInstanceOf[Map[String, Any]]
      msg("content").asInstanceOf[String]
    } catch {
      case e: IllegalArgumentException => throw e
      case e: Exception =>
        throw new IllegalArgumentException(
          s"malformed chat-completions response: ${e.getMessage}: " +
            responseBody.take(500))
    }
}

/** Config-driven synthesizer selection (the deploy-time plug point): the
  * deterministic rule search is the default; `GRAFT_SYNTHESIZER=transport`
  * routes through the transport machinery with the zero-egress local
  * transport; `GRAFT_SYNTHESIZER=http` — and ONLY that explicit setting —
  * constructs the [[HttpTransport]] chat-completions client from
  * `GRAFT_LLM_ENDPOINT` (required), `GRAFT_LLM_MODEL`, `GRAFT_LLM_API_KEY`.
  */
object Synthesizers {
  def fromEnv(env: Map[String, String] = sys.env): FunctionSynthesizer =
    forTask(env)(graft.core.TaskKind.DataTransformation)

  /** Task-aware factory (the transport path selects the per-task prompt
    * template exactly like `formulate_prompt`'s routing): what the
    * wrangler pipeline plugs into `WranglerMain.runAllSplits`.
    */
  def forTask(env: Map[String, String] = sys.env)
      : graft.core.TaskKind => FunctionSynthesizer =
    env.getOrElse("GRAFT_SYNTHESIZER", "rule") match {
      case "rule" => _ => RuleSynthesizer
      case "transport" =>
        kind => new TransportSynthesizer(LocalTransport.transport, kind)
      case "http" =>
        val endpoint = env.getOrElse("GRAFT_LLM_ENDPOINT",
          throw new IllegalArgumentException(
            "GRAFT_SYNTHESIZER=http requires GRAFT_LLM_ENDPOINT"))
        val t = new HttpTransport(
          endpoint,
          env.getOrElse("GRAFT_LLM_MODEL", "gpt-4o-mini"),
          env.get("GRAFT_LLM_API_KEY"))
        kind => new TransportSynthesizer(t.transport, kind)
      case other =>
        throw new IllegalArgumentException(s"Unknown synthesizer: $other")
    }
}
