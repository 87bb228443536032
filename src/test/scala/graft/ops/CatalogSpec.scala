package graft.ops

import graft.{SparkSpec, SparkEntry}

/** Contract-level checks on the declared query surface. */
class CatalogSpec extends SparkSpec {

  test("every oracle key has a query implementation") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("query names are unique across sub-catalogs") {
    val names = Catalog.all.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("flagship entry returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL avoids Spark-only function names (spot checks)") {
    SparkEntry.oracleSql.values.foreach { sql =>
      assert(!sql.contains("xxhash64"))
      assert(!sql.toLowerCase.contains("approx_count_distinct"))
    }
  }

  test("COVERAGE.md certification block is generated and matches the catalog") {
    // the header counts drifted by hand in round 8 (542/46 vs the tree's
    // 543/45) — now they come from graft.tools.CoverageDoc, and this test
    // fails the build if the committed block is stale against the catalog
    val doc = java.nio.file.Files.readString(java.nio.file.Paths.get("COVERAGE.md"))
    val begin = graft.tools.CoverageDoc.Begin
    val end = graft.tools.CoverageDoc.End
    assert(doc.contains(begin) && doc.contains(end),
      "COVERAGE.md lost its generated-certification markers")
    val block = doc.substring(doc.indexOf(begin) + begin.length, doc.indexOf(end))
    val declared = Catalog.all.size
    val oracle = Catalog.oracleSql.size
    assert(block.contains(s"**$declared declared queries**"),
      s"stale COVERAGE.md: expected $declared declared queries in the " +
        "generated block — rerun `runMain graft.tools.CoverageDoc`")
    assert(block.contains(s"$oracle DuckDB-oracle-checked"),
      s"stale COVERAGE.md: expected $oracle oracle-checked — rerun " +
        "`runMain graft.tools.CoverageDoc`")
  }

  test("CoverageDoc counts only reports whose suite class still exists") {
    // target/test-reports is append-only across suite renames/deletions;
    // round 15's banner drifted to 1032/104 against a live 1025/97 by
    // summing orphaned XMLs — the counter must drop them
    val dir = java.nio.file.Files.createTempDirectory("covdoc")
    def xml(suite: String, tests: Int) = java.nio.file.Files.writeString(
      dir.resolve(suite + ".xml"),
      s"""<?xml version="1.0"?><testsuite name="$suite" tests="$tests"/>""")
    xml("graft.ops.CatalogSpec", 9) // this suite: resolvable
    xml("graft.ext.GhostDeletedSpec", 7) // renamed-away: orphaned
    val (tests, suites) = graft.tools.CoverageDoc.countReports(dir)
    assert(tests == 9 && suites == 1,
      s"stale-report filter broken: counted $tests/$suites")
  }
}
