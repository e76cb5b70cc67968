package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{GruNet, TftNet}

/** Bit-for-bit pins of both nets: `java.util.Arrays.hashCode` (which hashes
  * each double's bit pattern) of the seeded initial weights, of the forward
  * pass and of one sample's accumulated gradient, on one fixed seeded
  * 12-step window. The finite-difference checks in GruNetSpec/TftNetSpec
  * hold to a tolerance; these catch any change of float op order — in the
  * shared GRU layer, the kernels or the salt sequence of `init` — that
  * would move a trained weight by one ulp. Shapes: the benchmark's GRU and
  * TFT nets and the inference-width TFT of the fixed-weight queries. */
class NetBitsSpec extends AnyFunSuite {
  import NetBitsSpec.Pin

  /** One fixed window (12 steps × n features) and target (m outputs). */
  private def window(n: Int, m: Int): (Array[Array[Double]], Array[Double]) = {
    val r = new scala.util.Random(2024L)
    (Array.fill(12)(Array.fill(n)(r.nextGaussian())), Array.fill(m)(r.nextGaussian()))
  }

  private def pinOf(size: Int, n: Int, m: Int, init: Array[Double])(
      predict: (Array[Array[Double]], Array[Double]) => Array[Double],
      lossGrad: (Array[Array[Double]], Array[Double], Array[Double], Array[Double]) => Double)
      : Pin = {
    val (seq, y) = window(n, m)
    // Perturb the seeded weights so the bias blocks (0 at init) carry bits.
    val r = new scala.util.Random(7L)
    val w = init.map(_ + r.nextGaussian() * 0.1)
    val grad = new Array[Double](size)
    lossGrad(seq, y, w, grad)
    Pin(java.util.Arrays.hashCode(init),
      java.util.Arrays.hashCode(predict(seq, w)),
      java.util.Arrays.hashCode(grad))
  }

  private def gruPin(dims: GruNet.Dims, seed: Long): Pin =
    pinOf(dims.size, dims.n, dims.m, GruNet.init(dims, seed))(
      (s, w) => GruNet.predict(s, w, dims),
      (s, y, w, g) => GruNet.lossGradSample(s, y, w, dims, 1.0, g))

  private def tftPin(dims: TftNet.Dims, seed: Long): Pin =
    pinOf(dims.size, dims.n, dims.m, TftNet.init(dims, seed))(
      (s, w) => TftNet.predict(s, w, dims),
      (s, y, w, g) => TftNet.lossGradSample(s, y, w, dims, 1.0, g))

  test("GruNet at the benchmark shape is bit-for-bit pinned") {
    assert(gruPin(GruNet.Dims(7, 8, 7), 1234L) ==
      Pin(-779767603, 1072428067, 2135213667))
  }

  test("TftNet at the benchmark shape is bit-for-bit pinned") {
    assert(tftPin(TftNet.Dims(7, 8, 8, 8, 4, 8, 7), 1234L) ==
      Pin(709245222, -1437638829, -975586853))
  }

  test("TftNet at the inference shape is bit-for-bit pinned") {
    assert(tftPin(TftNet.Dims(7, 16, 24, 24, 4, 16, 7), 11L) ==
      Pin(-1956199542, -152778535, 13354853))
  }
}

object NetBitsSpec {
  /** Hashes of the init weights, the forward pass and the gradient. */
  final case class Pin(init: Int, predict: Int, grad: Int)
}
