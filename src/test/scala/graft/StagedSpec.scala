package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The staging registry's contract, on plain JVM values: one build per
  * (kind, sfDir) under concurrency, nested builds, retry after a failed
  * build, the per-build cost record, and one fresh `graft_<kind>*` temp
  * dir per key. */
class StagedSpec extends AnyFunSuite {

  /** A sfDir no other spec (or test) in this JVM stages against. */
  private def freshSf(): String = s"/sf/${java.util.UUID.randomUUID()}"

  test("8 concurrent callers of one key run the build once, share its value") {
    val sf = freshSf()
    val builds = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val caller: Callable[String] = () => {
        start.await()
        Staged.once("spec_race", sf) { dir =>
          builds.incrementAndGet()
          Thread.sleep(50)
          new String(dir) // a fresh object: callers must share THIS one
        }
      }
      val results = (1 to 8).map(_ => pool.submit(caller))
      start.countDown()
      val values = results.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally pool.shutdownNow()
  }

  test("a build can stage another kind and read its value") {
    val sf = freshSf()
    val outer = Staged.once("spec_outer", sf) { _ =>
      Staged.once("spec_inner", sf)(_ => 7) + 1
    }
    assert(outer == 8)
    assert(Staged.once[Int]("spec_inner", sf)(_ => fail("inner rebuilt")) == 7)
  }

  test("each finished build records its dir, seconds and own bytes") {
    val sf = freshSf()
    val dir = Staged.once("spec_cost", sf) { dir =>
      Staged.once("spec_cost_inner", sf) { inner =>
        Files.write(Paths.get(inner, "x"), new Array[Byte](5))
      }
      Files.createDirectories(Paths.get(dir, "sub"))
      Files.write(Paths.get(dir, "sub", "y"), new Array[Byte](11))
      Thread.sleep(20)
      dir
    }
    val cost = Staged.costs(("spec_cost", sf))
    assert(cost.dir == dir && cost.bytes == 11 && cost.seconds >= 0.02)
    assert(Staged.costs(("spec_cost_inner", sf)).bytes == 5)
  }

  test("a throwing build propagates and is not remembered") {
    val sf = freshSf()
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Staged.once[Int]("spec_flaky", sf) { _ =>
        builds.incrementAndGet()
        throw new IllegalStateException("staging write failed")
      }
    }
    assert(e.getMessage == "staging write failed")
    assert(!Staged.costs.contains(("spec_flaky", sf)))
    assert(Staged.once("spec_flaky", sf) { _ => builds.incrementAndGet() } == 2)
    assert(Staged.once[Int]("spec_flaky", sf)(_ => fail("rebuilt")) == 2)
  }

  test("each (kind, sfDir) gets its own graft_<kind> dir under java.io.tmpdir") {
    val (sf1, sf2) = (freshSf(), freshSf())
    val dirs = Seq(("spec_a", sf1), ("spec_a", sf2), ("spec_b", sf1))
      .map { case (kind, sf) => kind -> Staged.once(kind, sf)(identity) }
    assert(dirs.map(_._2).distinct.size == 3)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    dirs.foreach { case (kind, dir) =>
      val p = Paths.get(dir)
      assert(Files.isDirectory(p))
      assert(p.getParent == tmp)
      assert(p.getFileName.toString.startsWith(s"graft_$kind"))
    }
  }
}
