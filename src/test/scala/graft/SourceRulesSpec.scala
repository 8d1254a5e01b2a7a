package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source rules for `src/main`: each operator has one public form, and
  * nothing it caches outlives the call. No `*Managed` twin, no release
  * handle, and no `.persist(` or `.cache()` outside `readOnce`, the one
  * scoped cache (operators that return a plan checkpoint instead). The
  * gate harnesses live in `src/gates`, not in the library. */
class SourceRulesSpec extends AnyFunSuite {

  /** (file, line number, text) for every line of `src/main`. */
  private lazy val lines: Seq[(Path, Int, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    for {
      f <- files.sorted
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
    } yield (f, i + 1, line)
  }

  /** The code of those lines: scaladoc and block-comment lines dropped,
    * and `//` tails cut. */
  private lazy val code: Seq[(Path, Int, String)] = lines.collect {
    case (f, n, l) if !Seq("*", "/*", "//").exists(p => l.trim.startsWith(p)) =>
      (f, n, l.replaceAll("//.*", ""))
  }

  private def report(hits: Seq[(Path, Int, String)]): String =
    hits.map { case (f, n, l) => s"$f:$n: ${l.trim}" }.mkString("\n")

  test("no *Managed operator twin and no CacheHandle") {
    val hits = code.filter(_._3.matches(""".*\bdef\s+\w+Managed\b.*""")) ++
      lines.filter(_._3.contains("CacheHandle"))
    if (hits.nonEmpty) fail(report(hits))
  }

  test("persist and cache are called only inside readOnce") {
    val defs = code.filter(_._3.matches(""".*\bdef\s+readOnce\b.*"""))
    if (defs.size != 1) fail(s"readOnce defined ${defs.size} times\n${report(defs)}")
    val (file, start, head) = defs.head
    // the body ends at the first later line that closes at the def's indent
    val close = head.takeWhile(_ == ' ') + "}"
    val end = code.collectFirst {
      case (f, n, l) if f == file && n > start && l.stripTrailing == close => n
    }.getOrElse(fail(s"no end of readOnce in $file"))
    val hits = code.filter { case (f, n, l) =>
      (l.contains(".persist(") || l.contains(".cache()")) &&
        !(f == file && n > start && n < end)
    }
    if (hits.nonEmpty) fail(report(hits))
  }

  test("no staged-stream gate harness or stream-partition conf in the library") {
    val hits = lines.filter { case (_, _, l) =>
      l.matches(""".*\bstaged\w*Roundtrip\b.*""") || l.contains("StagedStream") ||
        l.contains("graft.stream.parts")
    }
    if (hits.nonEmpty) fail(report(hits))
  }
}
