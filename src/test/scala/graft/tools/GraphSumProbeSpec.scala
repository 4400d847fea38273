package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

/** `GraphSumProbe.run` on the shared session. */
class GraphSumProbeSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  test("prints four phases with the same checksums on two runs in one session") {
    assume(Files.exists(Paths.get(sf, "embeddings.parquet")), s"testdata missing at $sf")
    def lines(): Seq[String] = {
      val out = new java.io.ByteArrayOutputStream
      Console.withOut(out)(GraphSumProbe.run(spark, sf))
      out.toString("UTF-8").linesIterator.filter(_.startsWith("[graphsum] ")).toSeq
    }
    val line = """\[graphsum\] ([^:]+): (n=\d+ sum=-?\d+) sec=\d+\.\d\d shufWriteBytes=\d+ shufReadBytes=\d+""".r
    def sums(ls: Seq[String]): Seq[(String, String)] = ls.map {
      case line(phase, sum) => phase -> sum
      case other => fail(s"unexpected line: $other")
    }
    val first = sums(lines())
    assert(first.map(_._1) == Seq("build k12 r2", "build90 k12 r1", "update", "search"), first)
    assert(sums(lines()) == first)
  }
}
