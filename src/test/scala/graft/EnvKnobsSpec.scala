package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every `SPARK_GRAFT_*` environment knob the code reads is documented in
  * README's knob table, and every documented knob is still read: a new
  * knob fails here until it is documented. */
class EnvKnobsSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))
  private val Knob = "SPARK_GRAFT_[A-Z_]+".r

  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("the knobs read under src/main and tools/run.sh equal README's table") {
    val sources = Files.walk(root.resolve("src/main")).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq :+ root.resolve("tools/run.sh")
    val used = sources.flatMap(p => Knob.findAllIn(read(p))).toSet
    val documented = "(?m)^\\| `(SPARK_GRAFT_[A-Z_]+)` \\|".r
      .findAllMatchIn(read(root.resolve("README.md"))).map(_.group(1)).toSet
    assert(documented.nonEmpty, "README has no knob table")
    assert((used -- documented).isEmpty,
      s"undocumented knobs: ${(used -- documented).toSeq.sorted.mkString(", ")}")
    assert((documented -- used).isEmpty,
      s"documented but unused: ${(documented -- used).toSeq.sorted.mkString(", ")}")
  }
}
