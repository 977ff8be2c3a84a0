package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared-query registry: six family objects merged into
  * [[SparkEntry.queries]] and [[SparkEntry.oracleSql]]. Building a `Map`
  * keeps only the last of two equal names, so a name declared twice would
  * silently drop a query; no Spark session is needed to see it. */
class RegistrySpec extends AnyFunSuite {

  private val families = Seq(TsQueries.queries, DocQueries.queries,
    TextQueries.queries, EmbQueries.queries, StreamQueries.queries,
    RelQueries.queries)

  test("no declared name is lost when the families merge") {
    assert(families.map(_.size).sum == SparkEntry.queries.size)
  }

  test("every declared query has a non-blank oracle") {
    val blank = SparkEntry.oracleSql.collect {
      case (name, sql) if Option(sql).forall(_.trim.isEmpty) => name
    }
    assert(blank.isEmpty, s"blank oracle SQL: ${blank.mkString(", ")}")
  }
}
