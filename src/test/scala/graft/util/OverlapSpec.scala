package graft.util

import org.scalatest.funsuite.AnyFunSuite

class OverlapSpec extends AnyFunSuite {

  test("bg result reaches the body; both sides run") {
    val (a, b) = Overlap.withBg { 21 * 2 } { bg => (bg(), "fg") }
    assert(a == 42 && b == "fg")
  }

  test("bg failure surfaces at the body's awaiter call") {
    val e = intercept[RuntimeException] {
      Overlap.withBg[Int, Int] { throw new RuntimeException("bg boom") } {
        bg => bg()
      }
    }
    assert(e.getMessage == "bg boom")
  }

  test("bg failure propagates even when the body never awaits it") {
    val e = intercept[RuntimeException] {
      Overlap.withBg[Int, String] { throw new RuntimeException("bg boom") } {
        _ => "fg"
      }
    }
    assert(e.getMessage == "bg boom")
  }

  test("body failure propagates AND the bg work is awaited first") {
    // the orphan hazard this helper exists for: the body throwing must
    // not leave the background computation running detached
    val bgDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Overlap.withBg { Thread.sleep(200); bgDone.set(true); 1 } { _ =>
        throw new IllegalStateException("fg boom")
      }
    }
    assert(e.getMessage == "fg boom")
    assert(bgDone.get(), "background work must complete before withBg exits")
  }

  test("body failure wins even when the bg side also fails") {
    val e = intercept[IllegalStateException] {
      Overlap.withBg[Int, Int] { throw new RuntimeException("bg boom") } {
        _ => throw new IllegalStateException("fg boom")
      }
    }
    assert(e.getMessage == "fg boom")
  }
}
