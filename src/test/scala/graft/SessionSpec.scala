package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS parses to a positive Int or fails naming the value") {
    assert(Session.parseCpus(Some("8")) == 8)
    assert(Session.parseCpus(Some(" 2 ")) == 2)
    assert(Session.parseCpus(None) == Runtime.getRuntime.availableProcessors)
    assert(Session.parseCpus(Some("")) == Runtime.getRuntime.availableProcessors)
    Seq("*", "0", "-4", "4x").foreach { v =>
      val e = intercept[IllegalArgumentException](Session.parseCpus(Some(v)))
      assert(e.getMessage.contains(s"'$v'"))
    }
  }

  test("a second full Bench run of a round gets a _runN file, never overwrites") {
    val dir = Files.createTempDirectory("bench-round")
    Files.writeString(dir.resolve("BENCH_r17.json"), "{}")
    val first = Bench.roundFile(dir, "/data/sf0.1")
    assert(first.getFileName.toString == "BENCH_DETAIL_r18_sf0.1.json")
    Files.writeString(first, "{}")
    val second = Bench.roundFile(dir, "/data/sf0.1")
    assert(second.getFileName.toString == "BENCH_DETAIL_r18_sf0.1_run2.json")
    Files.writeString(second, "{}")
    assert(Bench.roundFile(dir, "/data/sf0.1").getFileName.toString ==
      "BENCH_DETAIL_r18_sf0.1_run3.json")
  }
}
