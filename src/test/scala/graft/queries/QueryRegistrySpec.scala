package graft.queries

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/**
 * `Q.benched` is the one place that says what Bench times. The
 * committed BENCH_DETAIL.json records the surface of the last promoted
 * full Bench run, so the registry must derive exactly its `queries`
 * keys and its `excluded_oracle_fixtures`.
 */
class QueryRegistrySpec extends AnyFunSuite {
  private val detail = new ObjectMapper().readTree(new java.io.File("BENCH_DETAIL.json"))
  private val (benched, fixtures) = Queries.all.partition(_.benched)

  test("benched queries are the committed bench surface") {
    val surface = detail.get("queries").fieldNames.asScala.toSet
    assert(surface.size == 291)
    assert(benched.map(_.name).toSet == surface)
  }

  test("the other queries are the committed excluded fixtures") {
    val excluded = detail.get("excluded_oracle_fixtures").elements.asScala.map(_.asText).toSeq
    assert(excluded.size == 66)
    assert(fixtures.map(_.name).sorted == excluded.sorted)
  }

  test("357 queries registered once each, 306 with an oracle") {
    assert(Queries.all.size == 357)
    assert(Queries.all.map(_.name).distinct.size == 357)
    assert(Queries.all.count(_.oracle.nonEmpty) == 306)
  }
}
