package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.MultimodalQueries

/** The sized audio fixtures lay out their files from per-id byte
  * estimates that sit beside the encoders; if an encoder's shape changes
  * without its estimate, the layout silently degrades — so pin each
  * estimate to the encoder's actual output length. */
class WavSizeSpec extends AnyFunSuite {

  test("wavNearBytesOf matches encodeWavNear's length for every variant") {
    for (id <- 0L until 50L; v <- 0 to 3)
      assert(MultimodalQueries.wavNearBytesOf(id, v) ==
        MultimodalQueries.encodeWavNear(id, v).length, s"id $id variant $v")
  }

  test("wavSpliceBytesOf matches encodeWavSplice's length, base and twin") {
    for (id <- 0L until 50L; twin <- Seq(false, true))
      assert(MultimodalQueries.wavSpliceBytesOf(id, twin) ==
        MultimodalQueries.encodeWavSplice(id, twin).length, s"id $id twin $twin")
  }

}
