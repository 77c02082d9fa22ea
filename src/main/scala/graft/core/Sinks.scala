package graft.core

import java.io.{BufferedWriter, FileWriter, RandomAccessFile}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

/** The reference's two single-file sinks, byte-format-compatible.
  *
  * S6 — JSON object sink (`lib/mini_hadoop/job/job_runner.ex:242-270`):
  * ONE JSON object `{\n  "k": v,\n  "k2": v2\n}` — not JSONL. Inherently a
  * single-file driver-side write; for distributed output use
  * `df.write.json` (documented divergence, SURVEY §7.3).
  *
  * S7 — TSV sink with count header (`job_runner.ex:272-323`). The reference
  * has TWO byte formats:
  *   - unsorted (`job_runner.ex:284-311`): `k\tv\n` lines under a
  *     50-char-padded `# <suffix> - Total: N entries` header that is
  *     back-patched at offset 0 after streaming (count unknown up front);
  *   - sorted (`job_runner.ex:313-322`): UNPADDED header, body lines joined
  *     with `\n` and NO trailing newline (the reference has the whole list
  *     in memory, so it knows the count before writing).
  * Both are reproduced here; the sorted writer streams the body to a temp
  * file and stitches header+body at close, so it never materializes the
  * result (the reference loads it all — `job_runner.ex:317`).
  *
  * Each sink is a push-style writer (`write` per entry, `close` returns the
  * count) so `MiniJob.runOn` can tee ONE pass over the result into both
  * files instead of executing the job once per sink.
  */
object Sinks {

  /** Streaming KV sink: push entries, close returns how many were written. */
  sealed trait KVSink {
    def write(k: Any, v: Any): Unit
    def close(): Long
  }

  /** JSON scalar rendering close to Jason.encode!: strings quoted+escaped,
    * integral numbers bare, doubles via Scala toString (case of the
    * exponent marker may differ from Elixir — cosmetic, documented). */
  private[graft] def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case other => other.toString
  }

  /** S6: one `{"k": v, ...}` JSON object (`job_runner.ex:242-270`). */
  final class JsonObjectSink(path: String) extends KVSink {
    private val w = new BufferedWriter(new FileWriter(path, StandardCharsets.UTF_8))
    private var n = 0L
    w.write("{\n")
    def write(k: Any, v: Any): Unit = {
      if (n > 0) w.write(",\n")
      w.write("  \"")
      w.write(k.toString.replace("\\", "\\\\").replace("\"", "\\\""))
      w.write("\": ")
      w.write(jsonValue(v))
      n += 1
    }
    def close(): Long = { w.write("\n}"); w.close(); n }
  }

  /** S7 unsorted: padded back-patched header, one `k\tv\n` line per entry
    * (`job_runner.ex:284-311`). `suffix` is e.g. "unsorted". */
  final class TsvCountSink(path: String, suffix: String) extends KVSink {
    private val w = new BufferedWriter(new FileWriter(path, StandardCharsets.UTF_8))
    private var n = 0L
    w.write(s"# $suffix - Total: ".padTo(50, ' ') + "\n")
    def write(k: Any, v: Any): Unit = {
      w.write(k.toString); w.write("\t"); w.write(v.toString); w.write("\n")
      n += 1
    }
    def close(): Long = {
      w.close()
      // back-patch the header at offset 0 (same trick as job_runner.ex:303-308)
      val header = s"# $suffix - Total: $n entries".padTo(50, ' ') + "\n"
      val raf = new RandomAccessFile(path, "rw")
      try { raf.seek(0); raf.write(header.getBytes(StandardCharsets.UTF_8)) }
      finally raf.close()
      n
    }
  }

  /** S7 sorted: unpadded `# <suffix> - Total: N entries\n` header, body
    * newline-JOINED (no trailing newline) — `job_runner.ex:313-322`. The
    * body streams to `<path>.body` and is stitched after the count is
    * known, so memory stays O(1) where the reference is O(result). */
  final class TsvSortedSink(path: String, suffix: String) extends KVSink {
    private val bodyPath = path + ".body"
    private val w = new BufferedWriter(new FileWriter(bodyPath, StandardCharsets.UTF_8))
    private var n = 0L
    def write(k: Any, v: Any): Unit = {
      if (n > 0) w.write("\n")
      w.write(k.toString); w.write("\t"); w.write(v.toString)
      n += 1
    }
    def close(): Long = {
      w.close()
      val out = Files.newOutputStream(Paths.get(path),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      try {
        out.write(s"# $suffix - Total: $n entries\n".getBytes(StandardCharsets.UTF_8))
        Files.copy(Paths.get(bodyPath), out)
      } finally out.close()
      Files.delete(Paths.get(bodyPath))
      n
    }
  }
}
