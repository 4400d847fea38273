package graft

import org.apache.spark.sql.functions._

import graft.queries.QueryUtil

/** `stagedOnce` build-once semantics (VERDICT r15 item 2's shared staged
  * kNN graph rides on this): the first caller builds and stages parquet,
  * later callers read the SAME content without re-running the builder,
  * distinct keys never collide, and the artifact survives the bench
  * harness's inter-query unpersist sweep (it is a file, not a cached
  * block).
  */
class QueryUtilSpec extends SparkTestBase {
  import spark.implicits._

  test("stagedOnce builds once per key, returns identical content, keys isolate") {
    var builds = 0
    def build(tag: Int) = () => {
      builds += 1
      spark.range(5).select(col("id"), lit(tag).as("tag"))
    }
    val key = s"spec_once_${System.nanoTime()}"
    val a = QueryUtil.stagedOnce(spark, key, build(1))
    val b = QueryUtil.stagedOnce(spark, key, build(99)) // must NOT rebuild
    assert(builds == 1)
    assert(a.orderBy("id").as[(Long, Int)].collect().toSeq ==
      b.orderBy("id").as[(Long, Int)].collect().toSeq)
    assert(b.select(max(col("tag"))).head().getInt(0) == 1)
    // a different key builds independently
    val c = QueryUtil.stagedOnce(spark, key + "_other", build(2))
    assert(builds == 2)
    assert(c.select(max(col("tag"))).head().getInt(0) == 2)
    // survives the harness's inter-query cleanup (unpersist + cache clear)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    assert(QueryUtil.stagedOnce(spark, key, build(3)).count() == 5 && builds == 2)
  }

  test("q_sdfits_verify runs alone on a checkout with no shared sdfits staging directory") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sf = "/root/testdata/sf0.001"
    assume(Files.exists(Paths.get(sf, "lineitem.parquet")), s"testdata missing at $sf")
    // What a fresh checkout has: no staging/sdfits, which only
    // q_sdfits_roundtrip creates. Set an existing one aside for the run.
    val shared = Paths.get(QueryUtil.stagingDir(), "sdfits")
    val aside = Paths.get(shared.toString + s".aside_${System.nanoTime()}")
    if (Files.exists(shared)) Files.move(shared, aside)
    try {
      val row = SparkEntry.queries("q_sdfits_verify")(spark, sf).head()
      assert(row.getAs[Boolean]("rejected") && row.getAs[Long]("valid_rows") > 0, row)
      assert(!Files.exists(shared), "q_sdfits_verify wrote outside this JVM's scratch directory")
    } finally {
      if (Files.exists(shared))
        Files.walk(shared).iterator.asScala.toList.reverse.foreach(Files.deleteIfExists)
      if (Files.exists(aside)) Files.move(aside, shared)
    }
  }

  test("a staged input an earlier JVM left does not change a query's first-run jobs") {
    import java.nio.file.{Files, Path, Paths}
    import java.nio.file.StandardCopyOption.{COPY_ATTRIBUTES, REPLACE_EXISTING}
    import scala.jdk.CollectionConverters._
    val sf = Paths.get("/root/testdata/sf0.001")
    assume(Files.exists(sf.resolve("lineitem.parquet")), s"testdata missing at $sf")
    val tmp = Files.createTempDirectory("graft-staged-input")
    // Two copies of the tables under different tags; copied modification
    // times give both the same sourceSignature.
    def copy(name: String): Path = {
      val d = Files.createDirectories(tmp.resolve(name))
      Files.list(sf).iterator.asScala.foreach(f => Files.copy(f, d.resolve(f.getFileName), COPY_ATTRIBUTES))
      d
    }
    def tag(d: Path) = d.toString.replaceAll("[^A-Za-z0-9]+", "_")
    val (fresh, seeded) = (copy("fresh"), copy("seeded"))
    val staging = Paths.get(QueryUtil.stagingDir())
    val left = scala.collection.mutable.ArrayBuffer[Path]()
    // What an earlier JVM leaves in the shared staging directory: every
    // staged file this JVM wrote for `fresh`, under `seeded`'s tag.
    def seed(): Unit =
      for (root <- Seq(staging, Paths.get(QueryUtil.scratchDir));
           f <- Files.walk(root).iterator.asScala.toList if Files.isRegularFile(f)) {
        val rel = root.relativize(f).toString
        if (rel.contains(tag(fresh)) && !(root == staging && rel.startsWith("run_"))) {
          val dst = staging.resolve(rel.replace(tag(fresh), tag(seeded)))
          Files.createDirectories(dst.getParent)
          left += Files.copy(f, dst, REPLACE_EXISTING, COPY_ATTRIBUTES)
        }
      }
    def jobs(q: String, dir: Path): Int = {
      val run = Bench.measure(spark, dir.toString, q, SparkEntry.queries(q), gc = false)
      assert(run.ok, s"$q failed over $dir")
      run.jobs
    }
    try {
      val counts = Seq("q_csv_ingest", "q_jsonl_ingest", "q_join_bucketed", "q_sdfits_pushdown",
          "q_warc_dsv2").map { q =>
        val fresh1 = jobs(q, fresh)
        seed()
        q -> (fresh1, jobs(q, seeded))
      }
      assert(counts.forall { case (_, (a, b)) => a == b }, s"(fresh, seeded) jobs: $counts")
    } finally {
      // the seeded files, then the directories seeding made
      for (f <- left; d <- Iterator.iterate(f)(_.getParent).takeWhile(_ != staging))
        try Files.deleteIfExists(d) catch { case _: java.nio.file.DirectoryNotEmptyException => }
      Files.walk(tmp).iterator.asScala.toList.reverse.foreach(Files.deleteIfExists)
    }
  }
}
