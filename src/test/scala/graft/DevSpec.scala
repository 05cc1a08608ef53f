package graft

import org.scalatest.funsuite.AnyFunSuite

/** Dev refuses bad arguments before it starts a session. */
class DevSpec extends AnyFunSuite {

  test("subcommands and flags parse into their commands") {
    assert(Dev.parse(Seq("profile", "/d", "--stages", "k_core", "bfs_hops")) ===
      Right(Dev.Cmd("profile", "/d", Seq("k_core", "bfs_hops"), stages = true)))
    assert(Dev.parse(Seq("plan", "/d", "k_core")) === Right(Dev.Cmd("plan", "/d", Seq("k_core"))))
    assert(Dev.parse(Seq("plan", "/d", "--out", "plans/r18", "--suffix", "after", "k_core")) ===
      Right(Dev.Cmd("plan", "/d", Seq("k_core"), out = Some("plans/r18" -> "after"))))
  }

  test("an unknown subcommand, an unknown query or no query is refused") {
    assert(Dev.parse(Seq("ab", "/d", "k_core")).isLeft)
    assert(Dev.parse(Nil).isLeft)
    assert(Dev.parse(Seq("profile", "/d", "k_core", "no_such_query")) ===
      Left("unknown queries: no_such_query"))
    assert(Dev.parse(Seq("profile", "/d")).isLeft)
    // --out without --suffix: both words are read as (unknown) query names
    assert(Dev.parse(Seq("plan", "/d", "--out", "x", "k_core")).isLeft)
  }
}
