package graft

import scala.sys.process.{Process, ProcessLogger}

import org.scalatest.funsuite.AnyFunSuite

/** Runs `tools/param_audit.py` on this tree. Its parameter audit and its
  * caller audit each exit 1 on a hit that is not on their keep-list or
  * on a keep-list entry that matches no hit; the script's output is the
  * failure message. */
class AuditSpec extends AnyFunSuite {

  test("param_audit.py: every single-value parameter and every " +
      "member with no caller is kept with a reason, no entry is stale") {
    val script = new java.io.File("tools/param_audit.py")
    assert(script.isFile, s"no ${script.getAbsolutePath}")
    val out = new StringBuilder
    def line(l: String): Unit = out.append(l).append('\n')
    val code = Process(Seq("python3", script.getPath, "."))
      .!(ProcessLogger(line, line))
    assert(code === 0, s"\n$out")
  }
}
