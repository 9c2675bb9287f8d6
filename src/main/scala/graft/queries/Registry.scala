package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark plan builder and the DuckDB SQL that
  * must return the same rows over the same parquet tables.  The SQL is
  * by-name so an oracle can embed another key's oracle text
  * ([[QueryDomain.oracle]]) whatever order the domain objects initialize
  * in; it is evaluated once, on first use.
  */
final class Q(val run: (SparkSession, String) => DataFrame, sql: => String) {
  lazy val oracleSql: String = sql
}

object Q {
  def apply(run: (SparkSession, String) => DataFrame, sql: => String): Q =
    new Q(run, sql)
}

/** The queries of one operator family, each registered once as
  * `key -> Q(query, oracle SQL)`. */
abstract class QueryDomain(val name: String) {
  def entries: Seq[(String, Q)]

  private lazy val byKey: Map[String, Q] = entries.toMap

  /** The oracle SQL this domain registers under `key`. */
  final def oracle(key: String): String =
    byKey.getOrElse(key, throw new NoSuchElementException(
      s"domain $name registers no query '$key'")).oracleSql
}

object QueryRegistry {

  /** All domains' entries as one map.  A key registered twice, within one
    * domain or across two, fails with the key and the domains that
    * register it. */
  def build(domains: Seq[QueryDomain]): Map[String, Q] = {
    val all = domains.flatMap(d => d.entries.map { case (k, q) => (k, d.name, q) })
    val dups = all.groupBy(_._1).collect {
      case (k, regs) if regs.size > 1 => s"'$k' (${regs.map(_._2).mkString(", ")})"
    }
    require(dups.isEmpty,
      s"query keys registered more than once: ${dups.toSeq.sorted.mkString("; ")}")
    all.map { case (k, _, q) => k -> q }.toMap
  }
}
