package graft

import org.scalatest.funsuite.AnyFunSuite

/** The verbs' optional positional arguments: missing, empty and the `-`
  * placeholder are all absent, so a later argument can be given while an
  * earlier one keeps its default (`hybrid-search <t> <q> 10 - en`).
  */
class CliArgsSpec extends AnyFunSuite {

  test("missing, empty and '-' are absent; anything else is present") {
    val rest = List("10", "-", "", "code", "en")
    assert(Cli.optArg(rest, 0) == Some("10"))
    assert(Cli.optArg(rest, 1).isEmpty)
    assert(Cli.optArg(rest, 2).isEmpty)
    assert(Cli.optArg(rest, 3) == Some("code"))
    assert(Cli.optArg(rest, 5).isEmpty)
    assert(Cli.optArg(Nil, 0).isEmpty)
  }

  test("integer arguments take their default when absent") {
    val rest = List("-", "", "7")
    assert(Cli.intArg(rest, 0, 10) == 10)
    assert(Cli.intArg(rest, 1, 64) == 64)
    assert(Cli.intArg(rest, 2, 6) == 7)
    assert(Cli.intArg(rest, 3, 6) == 6)
  }
}
