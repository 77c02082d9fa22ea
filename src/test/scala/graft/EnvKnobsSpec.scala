package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every `SPARK_GRAFT_*` environment knob the code reads is documented in
  * README's knob table, and every documented knob is still read: a new
  * knob fails here until it is documented. Operator and streaming code
  * also keeps no process-global mutable state: a test hook, counter or
  * memo there is shared by every query and stream in the JVM. */
class EnvKnobsSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))
  private val Knob = "SPARK_GRAFT_[A-Z_]+".r

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def filesUnder(dir: String): Seq[Path] =
    Files.walk(root.resolve(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq

  test("the knobs read under src/main and tools/run.sh equal README's table") {
    val sources = filesUnder("src/main") :+ root.resolve("tools/run.sh")
    val used = sources.flatMap(p => Knob.findAllIn(read(p))).toSet
    val documented = "(?m)^\\| `(SPARK_GRAFT_[A-Z_]+)` \\|".r
      .findAllMatchIn(read(root.resolve("README.md"))).map(_.group(1)).toSet
    assert(documented.nonEmpty, "README has no knob table")
    assert((used -- documented).isEmpty,
      s"undocumented knobs: ${(used -- documented).toSeq.sorted.mkString(", ")}")
    assert((documented -- used).isEmpty,
      s"documented but unused: ${(documented -- used).toSeq.sorted.mkString(", ")}")
  }

  /** `file:line: text` of every operator or streaming source line that
    * `pattern` matches. */
  private def operatorHits(pattern: scala.util.matching.Regex): Seq[String] =
    Seq("src/main/scala/graft/operators",
        "src/main/scala/graft/streaming").flatMap(filesUnder).sorted
      .flatMap { p =>
        read(p).linesIterator.zipWithIndex.collect {
          case (line, i) if pattern.findFirstIn(line).isDefined =>
            s"${root.relativize(p)}:${i + 1}: ${line.trim}"
        }
      }

  test("operators and streaming hold no @volatile or private[graft] var") {
    val hits = operatorHits("""@volatile|private\[graft\] var""".r)
    assert(hits.isEmpty,
      s"process-global mutable state in operator code:\n${hits.mkString("\n")}")
  }

  test("operators and streaming hold no concurrent or mutable map or set") {
    // a memo shared across queries belongs in the session catalog, not
    // in a JVM-wide collection
    val hits = operatorHits(
      """TrieMap|ConcurrentHashMap|mutable\.(Map|HashMap|Set|HashSet)\b""".r)
    assert(hits.isEmpty,
      s"mutable collection in operator code:\n${hits.mkString("\n")}")
  }

  test("the MinHash signature is built only in DedupOps") {
    // the streaming gate bands through DedupOps.lshDocFrame; a second
    // signature site is a copy that can drift from d02's banding
    val (inDedup, elsewhere) = operatorHits("""minhash_sig\(""".r)
      .partition(_.startsWith("src/main/scala/graft/operators/DedupOps.scala:"))
    assert(inDedup.nonEmpty, "DedupOps no longer builds the signature")
    assert(elsewhere.isEmpty,
      s"MinHash signature outside DedupOps:\n${elsewhere.mkString("\n")}")
  }
}
