package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Artifacts

/** The build-once artifact helper behind every memoized index, table and
  * trained structure of the query registries. */
class ArtifactsSpec extends AnyFunSuite {

  test("dir: 4 concurrent callers of one key run the builder exactly once and share its path") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val results = (1 to 4).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          Artifacts.dir("spec_race", "/data/sf0.01") { p =>
            builds.incrementAndGet()
            Thread.sleep(200) // hold the build open while the others arrive
            new java.io.File(p).mkdirs()
          }
        }
      }))
      start.countDown()
      val paths = results.map(_.get(60, TimeUnit.SECONDS)).toSet
      assert(builds.get == 1, s"builder ran ${builds.get} times")
      assert(paths == Set(Artifacts.path("spec_race", "/data/sf0.01")))
      assert(new java.io.File(paths.head).isDirectory)
    } finally pool.shutdownNow()
  }

  test("dir/path: every artifact lies under the one per-JVM root, named after the sf dir") {
    val root = Artifacts.root.getCanonicalPath
    assert(Artifacts.root.isDirectory && Artifacts.root.getName.startsWith("graft_"))
    val p = Artifacts.dir("spec_under_root", "/data/sf0.001")(
      new java.io.File(_).mkdirs())
    val scratch = Artifacts.scratch("spec_scratch", "/data/sf0.001")
    for (f <- Seq(new java.io.File(p), scratch))
      assert(f.getCanonicalPath.startsWith(root + java.io.File.separator),
        s"$f is not under $root")
    assert(new java.io.File(p).getName == "graft_spec_under_root__data_sf0.001")
  }

  test("dir: a failed build is retried on the next call, into an emptied dir") {
    var calls = 0
    def build(p: String): Unit = {
      calls += 1
      val d = new java.io.File(p); d.mkdirs()
      new java.io.File(d, s"part-$calls").createNewFile()
      if (calls == 1) throw new IllegalStateException("planted build failure")
    }
    assertThrows[IllegalStateException](Artifacts.dir("spec_retry", "sf")(build))
    val p = Artifacts.dir("spec_retry", "sf")(build)
    assert(calls == 2, "the second call must build again")
    assert(new java.io.File(p).list().toSeq == Seq("part-2"),
      "the retry must not see the failed build's partial output")
    assert(Artifacts.dir("spec_retry", "sf")(build) == p && calls == 2,
      "a successful build is never repeated")
  }

  test("value: the same instance per key, a distinct one per scope; only() needs exactly one scope") {
    val a = Artifacts.value("spec_value", "sf_a")(new Object)
    assert(Artifacts.value("spec_value", "sf_a")(new Object) eq a)
    assert(Artifacts.only[Object]("spec_value").contains(a))
    val b = Artifacts.value("spec_value", "sf_b")(new Object)
    assert(!(b eq a))
    assert(Artifacts.only[Object]("spec_value").isEmpty,
      "two scopes built: the single-dir oracle contract does not hold")
  }
}
