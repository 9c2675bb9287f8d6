package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Q, QueryDomain, QueryRegistry}

/** The registry merge: every key is registered exactly once, and a
  * second registration fails loudly instead of replacing the first. */
class QueryRegistrySpec extends AnyFunSuite {

  private def domain(n: String, keys: String*): QueryDomain =
    new QueryDomain(n) {
      val entries: Seq[(String, Q)] = keys.map(k =>
        k -> Q((_, _) => throw new UnsupportedOperationException(k),
          s"SELECT '$k' AS k"))
    }

  test("a key registered by two domains fails, naming the key and both domains") {
    val e = intercept[IllegalArgumentException](QueryRegistry.build(Seq(
      domain("left", "a_one", "shared_key"),
      domain("right", "shared_key", "b_two"))))
    assert(e.getMessage.contains("'shared_key' (left, right)"), e.getMessage)
    assert(!e.getMessage.contains("a_one") && !e.getMessage.contains("b_two"))
  }

  test("a key registered twice within one domain fails too") {
    val e = intercept[IllegalArgumentException](
      QueryRegistry.build(Seq(domain("solo", "k1", "k1"))))
    assert(e.getMessage.contains("'k1' (solo, solo)"), e.getMessage)
  }

  test("distinct keys merge with their oracles intact") {
    val m = QueryRegistry.build(Seq(domain("left", "a"), domain("right", "b")))
    assert(m.keySet == Set("a", "b"))
    assert(m("b").oracleSql == "SELECT 'b' AS k")
  }

  test("oracle lookup is by key within a domain") {
    val d = domain("left", "a")
    assert(d.oracle("a") == "SELECT 'a' AS k")
    val e = intercept[NoSuchElementException](d.oracle("zz"))
    assert(e.getMessage.contains("left") && e.getMessage.contains("zz"))
  }

  test("SparkEntry drops no entry and names every domain once") {
    val domains = SparkEntry.domains
    assert(domains.map(_.name).distinct.size == domains.size)
    assert(domains.map(_.entries.size).sum == SparkEntry.queries.size)
  }
}
