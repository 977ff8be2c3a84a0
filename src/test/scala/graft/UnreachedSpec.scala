package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** `scripts/unreached.py` over the compiled main classes: every public
  * method no production entry point reaches, and every default parameter
  * no reached call sets, must be in `scripts/unreached_allow.txt` with
  * its reason, and every line there must still be printed. */
class UnreachedSpec extends AnyFunSuite {

  private def scan(mode: String*): Unit = {
    assume(Seq("python3", "javap").forall(t =>
        sys.env.getOrElse("PATH", "").split(":")
          .exists(d => new java.io.File(d, t).canExecute)),
      "python3 or javap not on PATH — the bytecode scan cannot run here")
    val out = new StringBuilder
    val rc = (Seq("python3", "scripts/unreached.py") ++ mode :+
      "target/scala-2.13/classes").!(ProcessLogger(_ => (),
        l => out.append(l).append('\n')))
    assert(rc == 0, out.toString)
  }

  test("every unreached public method is in the allowlist, and only those") {
    scan()
  }

  test("every unset default parameter is in the allowlist, and only those") {
    scan("--defaults")
  }
}
