package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.queries.Staged

/** [[Staged.stagedDir]], the one build-once path of the staged graph
  * artifacts and the streaming input dirs: a dir is marked staged only
  * after its build succeeded, and contended callers share one build. */
class StagedSpec extends SparkSpec {

  /** Run `body` on a fresh not-yet-existing dir; delete it afterwards. */
  private def withDir(body: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory("graft_staged_spec")
    try body(root.resolve("out").toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("a build that throws marks nothing; the next caller rebuilds") {
    withDir { dir =>
      val builds = new AtomicInteger()
      val e = intercept[IllegalStateException] {
        Staged.stagedDir(dir) {
          builds.incrementAndGet()
          throw new IllegalStateException("build failed")
        }
      }
      assert(e.getMessage == "build failed")
      assert(Staged.stagedDir(dir) {
        builds.incrementAndGet(); spark.range(3).toDF()
      } == dir)
      assert(builds.get == 2, "the failed build must not mark the dir")
      assert(spark.read.parquet(dir).count() == 3L)
      // staged now: a later caller reads, never rebuilds
      Staged.stagedDir(dir) { builds.incrementAndGet(); spark.range(5).toDF() }
      assert(builds.get == 2)
      assert(spark.read.parquet(dir).count() == 3L)
    }
  }

  test("N concurrent callers run the build exactly once") {
    withDir { dir =>
      val builds = new AtomicInteger()
      val n = 6
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(n)
      try {
        val results = (1 to n).map { _ =>
          pool.submit(new Callable[String] {
            def call(): String = {
              start.await()
              Staged.stagedDir(dir) {
                builds.incrementAndGet()
                Thread.sleep(200) // losers arrive while the winner builds
                spark.range(4).toDF()
              }
            }
          })
        }
        start.countDown()
        assert(results.map(_.get(120, TimeUnit.SECONDS)).forall(_ == dir))
      } finally pool.shutdown()
      assert(builds.get == 1, s"${builds.get} builds for $n callers")
      assert(spark.read.parquet(dir).count() == 4L)
    }
  }
}
