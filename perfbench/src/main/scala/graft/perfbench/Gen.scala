package graft.perfbench

import java.sql.Timestamp
import scala.util.Random

/** One generated tool call, as the program receives it, with what the
  * generator knows about it: whether it is valid and, if not, the fault it
  * planted. */
final case class Call(
    memoryId: String,
    sessionId: String,
    tool: String,
    tsMicros: Long,
    args: Map[String, String],
    fault: Option[String]) {
  def valid: Boolean = fault.isEmpty
}

/** Deterministic input generators: the same seed gives the same inputs. */
object Gen {

  /** The benchmark's archetype: the reference's Title/Content/Context
    * standard fields, pool parameters bound as required (null) or with a
    * default, and typed frames of every kind, some required. */
  val ArchetypeYaml: String =
    """title: Bench Operations
      |version: "1.0"
      |parameters:
      |  Priority:
      |    description: How urgent the step is
      |    examples: [low, normal, high]
      |  Owner:
      |    description: Who carries the step out
      |    examples: [ana, raj]
      |tools:
      |  Plan:
      |    description: Plan the next steps
      |    parameters:
      |      Priority: null
      |      Owner: "unassigned"
      |    frames:
      |      steps: {type: List, required: true}
      |      estimate: {type: integer}
      |  Reflect:
      |    parameters:
      |      Priority: "normal"
      |    frames:
      |      insight: {type: string, required: true}
      |      confidence: {type: number}
      |  Decide:
      |    parameters:
      |      Owner: null
      |    frames:
      |      options: {type: List, required: true}
      |      chosen: {type: string}
      |      reversible: {type: boolean}
      |  Record:
      |    frames:
      |      details: {type: object}
      |""".stripMargin

  /** What the archetype above declares, restated for the checks: each
    * tool's parameters (with defaults) and frames. */
  val ParamDefaults: Map[String, Map[String, Option[String]]] = Map(
    "Plan" -> Map("Priority" -> None, "Owner" -> Some("unassigned")),
    "Reflect" -> Map("Priority" -> Some("normal")),
    "Decide" -> Map("Owner" -> None),
    "Record" -> Map.empty)
  val FrameNames: Map[String, Set[String]] = Map(
    "Plan" -> Set("steps", "estimate"),
    "Reflect" -> Set("insight", "confidence"),
    "Decide" -> Set("options", "chosen", "reversible"),
    "Record" -> Set("details"))

  /** Tools and their share of the calls. */
  val Tools: Seq[(String, Double)] =
    Seq("Plan" -> 0.4, "Reflect" -> 0.3, "Decide" -> 0.2, "Record" -> 0.1)

  /** The planted faults, one per invalid call, in rotation. */
  val Faults: Seq[String] = Seq("unknown_tool", "missing_content", "missing_param",
    "unexpected_key", "bad_integer", "bad_number", "bad_boolean", "bad_list",
    "missing_frame")

  /** Epoch micros of 2026-01-01T00:00:00Z, the start of generated time. */
  val T0Micros: Long = 1767225600L * 1000000L

  /** A fixed word list: 2-3 syllable pseudo-words. */
  val Words: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ra", "te", "su", "no", "vi", "da", "pe", "zu",
      "ho", "ne", "ti", "ba", "ru", "so", "ge")
    val r = new Random(7)
    (0 until 400).map(_ => Seq.fill(2 + r.nextInt(2))(syl(r.nextInt(syl.size))).mkString)
      .distinct.take(240)
  }

  /** English function words, so curated text passes stopword filters. */
  val Stopwords: IndexedSeq[String] = IndexedSeq("the", "of", "and", "to", "a", "in",
    "is", "that", "for", "it", "with", "as", "on", "be", "at", "by")

  def ts(micros: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  /** Index drawn with probability proportional to 1/(i+1)^s over n. */
  final class Zipf(n: Int, s: Double) {
    private val cum = {
      val w = (0 until n).map(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(r: Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cum, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def sentence(r: Random, words: Int): String = {
    val ws = Seq.fill(words)(Words(r.nextInt(Words.size)))
    ws.head.capitalize + " " + ws.tail.mkString(" ")
  }

  /** `n` document texts of 1-4 sentences each, ending in ., ! or ?, some
    * longer than a 150-character preview. */
  def contentPool(r: Random, n: Int): IndexedSeq[String] =
    (0 until n).map { _ =>
      val k = 1 + r.nextInt(4)
      (0 until k).map { _ =>
        sentence(r, 3 + r.nextInt(9)) + Seq(".", "!", "?", "...")(r.nextInt(4))
      }.mkString(" ")
    }

  private def jsonList(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** `n` tool calls over skewed sessions (Zipf lengths); `invalidShare` of
    * them carry exactly one planted fault. Ids are distinct 10-digit
    * numbers in no particular time order; about 3% of calls repeat the
    * timestamp of their session's previous call, so the (timestamp, id)
    * tie-break matters. */
  def calls(seed: Long, n: Int, invalidShare: Double): IndexedSeq[Call] = {
    val r = new Random(seed)
    val sessions = math.max(1, n / 25)
    val sessionZipf = new Zipf(sessions, 1.1)
    val contents = contentPool(r, 200)
    val contentZipf = new Zipf(contents.size, 1.0)
    val contexts = (0 until 24).map(_ => Seq.fill(3)(Words(r.nextInt(Words.size))).mkString(" "))
    val ids = r.shuffle((0 until n).toIndexedSeq).map(i => (1000000000L + 7L * i + 3).toString)
    val sessionStart = Array.fill(sessions)(T0Micros + (r.nextDouble() * 20 * 86400e6).toLong)
    val lastTs = Array.fill(sessions)(-1L)
    val toolPick = {
      val cum = Tools.map(_._2).scanLeft(0.0)(_ + _).tail
      () => { val u = r.nextDouble(); Tools(cum.indexWhere(u < _).max(0))._1 }
    }
    val invalidEvery = if (invalidShare <= 0) Int.MaxValue else math.round(1 / invalidShare).toInt
    (0 until n).map { i =>
      val s = sessionZipf.draw(r)
      val t =
        if (lastTs(s) >= 0 && r.nextDouble() < 0.03) lastTs(s)
        else sessionStart(s) + (r.nextDouble() * 3 * 86400e6).toLong
      lastTs(s) = t
      val tool = toolPick()
      val base = Map(
        "Title" -> s"$tool ${Words(r.nextInt(Words.size))} ${Words(r.nextInt(Words.size))}",
        "Content" -> contents(contentZipf.draw(r)),
        "Context" -> contexts(r.nextInt(contexts.size)))
      val params: Map[String, String] = tool match {
        case "Plan" =>
          Map("Priority" -> Seq("low", "normal", "high")(r.nextInt(3))) ++
            (if (r.nextBoolean()) Map("Owner" -> Seq("ana", "raj", "lee")(r.nextInt(3))) else Map.empty)
        case "Reflect" =>
          if (r.nextBoolean()) Map("Priority" -> "high") else Map.empty
        case "Decide" => Map("Owner" -> Seq("ana", "raj", "lee")(r.nextInt(3)))
        case _ => Map.empty
      }
      val frames: Map[String, String] = tool match {
        case "Plan" =>
          Map("steps" -> jsonList(Seq.fill(1 + r.nextInt(3))(Words(r.nextInt(Words.size))))) ++
            (if (r.nextBoolean()) Map("estimate" -> (1 + r.nextInt(40)).toString) else Map.empty)
        case "Reflect" =>
          Map("insight" -> sentence(r, 4)) ++
            (if (r.nextBoolean()) Map("confidence" -> (r.nextInt(100) / 100.0).toString) else Map.empty)
        case "Decide" =>
          Map("options" -> jsonList(Seq.fill(2)(Words(r.nextInt(Words.size)))),
            "chosen" -> Words(r.nextInt(Words.size))) ++
            (if (r.nextBoolean()) Map("reversible" -> r.nextBoolean().toString) else Map.empty)
        case _ =>
          if (r.nextBoolean()) Map("details" -> s"""{"k":"${Words(r.nextInt(Words.size))}"}""") else Map.empty
      }
      val args = base ++ params ++ frames
      val fault = if (i % invalidEvery == invalidEvery / 2) Some(Faults((i / invalidEvery) % Faults.size)) else None
      val (tool2, args2) = fault match {
        case None => (tool, args)
        case Some("unknown_tool") => ("Ponder", args)
        case Some("missing_content") => (tool, args - "Content")
        case Some("missing_param") => ("Plan", args -- Seq("Priority") ++
          Map("steps" -> jsonList(Seq("x"))) -- Seq("Owner"))
        case Some("unexpected_key") => (tool, args + ("Mood" -> "calm"))
        case Some("bad_integer") => ("Plan", args ++ Map("Priority" -> "low", "steps" -> jsonList(Seq("x")),
          "estimate" -> "soon"))
        case Some("bad_number") => ("Reflect", base ++ Map("insight" -> "i", "confidence" -> "very"))
        case Some("bad_boolean") => ("Decide", base ++ Map("Owner" -> "ana", "options" -> jsonList(Seq("x")),
          "reversible" -> "maybe"))
        case Some("bad_list") => ("Decide", base ++ Map("Owner" -> "ana", "options" -> "one two"))
        case Some(_) => ("Plan", base ++ Map("Priority" -> "low"))
      }
      Call(ids(i), Harness.fmt("s%05d", s), tool2, t, args2, fault)
    }
  }
}
