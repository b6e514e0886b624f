package graft

import graft.pipeline.Batching
import org.scalatest.funsuite.AnyFunSuite

/** Micro-batching semantics. */
class MediaOrchSpec extends AnyFunSuite {

  test("micro-batching preserves order and batch shape") {
    val out = Batching.mapBatched((1 to 10).iterator, 3)(batch => batch.map(_ * 10)).toVector
    assert(out == (1 to 10).map(_ * 10).toVector)
    intercept[IllegalArgumentException] {
      Batching.mapBatched((1 to 4).iterator, 2)(_ => Seq(1)).toVector
    }
  }
}
