package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Pins the SIMD (Vector API) GEMV kernels to naive single-accumulator
  * reference loops, BIT-EXACT — vectorization is across output lanes over
  * transposed weights, so each output element's FP accumulation order is
  * identical to the scalar kernels. Shapes cover the 4-vector main block,
  * the single-vector loop, and the scalar tail (species length is 16 on
  * AVX-512, 8 on AVX2 — the shape set spans remainders for both).
  */
class NnSimdSpec extends AnyFunSuite {

  private def rnd(seed: Int, n: Int): Array[Float] = {
    val r = new java.util.Random(seed)
    Array.fill(n)(r.nextFloat() * 4f - 2f)
  }

  test("SIMD kernels are enabled (jdk.incubator.vector present)") {
    assert(Simd.enabled,
      "Vector API unavailable — check --add-modules=jdk.incubator.vector in build.sbt javaOptions")
  }

  test("dense SIMD path is bit-exact vs naive across block/remainder shapes") {
    for (outDim <- Seq(16, 17, 24, 31, 32, 33, 48, 64, 65, 100, 101, 127, 128, 200, 400);
         inDim <- Seq(1, 3, 50, 120, 300)) {
      val w = rnd(outDim * 131 + inDim, outDim * inDim)
      val b = rnd(7 + outDim, outDim)
      val x = rnd(11 + inDim, inDim + 5)
      val got = new Array[Float](outDim + 2)
      Nn.dense(w, b, inDim, outDim, x, 5, got, 2, Simd.transpose(w, inDim, outDim))
      for (o <- 0 until outDim) {
        var acc = b(o)
        for (i <- 0 until inDim) acc += w(o * inDim + i) * x(5 + i)
        assert(got(2 + o) == acc, s"outDim=$outDim inDim=$inDim row $o")
      }
    }
  }

  test("LstmCell SIMD gates are bit-exact vs naive (full cell recurrence)") {
    for ((inDim, h) <- Seq((7, 4), (10, 10), (13, 13), (120, 50), (70, 50), (300, 100))) {
      val cell = new LstmCell(inDim, h,
        rnd(1 + h, 4 * h * inDim), rnd(2 + h, 4 * h * h), rnd(3 + h, 4 * h), rnd(4 + h, 4 * h))
      val len = 4
      val x = rnd(5 + inDim, len * inDim)
      for (rev <- Seq(false, true)) {
        val out = new Array[Float](len * 2 * h)
        val (hs, cs, gs) = (new Array[Float](h), new Array[Float](h), new Array[Float](4 * h))
        cell.run(x, 0, len, rev, out, 0, 2 * h, 0, hs, cs, gs)

        // naive re-run: single-accumulator gates, same cell math
        val nh = new Array[Float](h); val nc = new Array[Float](h)
        val naive = new Array[Float](len * 2 * h)
        for (step <- 0 until len) {
          val t = if (rev) len - 1 - step else step
          val gates = new Array[Float](4 * h)
          for (j <- 0 until 4 * h) {
            var acc = cell.bIh(j) + cell.bHh(j)
            for (i <- 0 until inDim) acc += cell.wIh(j * inDim + i) * x(t * inDim + i)
            for (k <- 0 until h) acc += cell.wHh(j * h + k) * nh(k)
            gates(j) = acc
          }
          for (k <- 0 until h) {
            val cNew = Nn.sigmoid(gates(h + k)) * nc(k) +
              Nn.sigmoid(gates(k)) * Nn.tanhF(gates(2 * h + k))
            nc(k) = cNew
            nh(k) = Nn.sigmoid(gates(3 * h + k)) * Nn.tanhF(cNew)
          }
          System.arraycopy(nh, 0, naive, t * 2 * h, h)
        }
        for (t <- 0 until len; k <- 0 until h)
          assert(out(t * 2 * h + k) == naive(t * 2 * h + k),
            s"inDim=$inDim h=$h rev=$rev t=$t k=$k")
      }
    }
  }

  test("gemvT + gemvAccT chain is bit-exact vs the scalar inverse-conv loop") {
    // replicates PyramidVariants.inversePass's padded kernel-2 conv: per
    // output o, channels j get bias, then the w0 matvec, then the w1 matvec,
    // with only one tap at the boundaries
    for (dd <- Seq(16, 24, 100)) {
      val t = 4
      val cat = rnd(31 + dd, t * 2 * dd)
      val w0 = rnd(32 + dd, dd * 2 * dd)
      val w1 = rnd(33 + dd, dd * 2 * dd)
      val b = rnd(34 + dd, dd)
      val naive = new Array[Float]((t + 1) * dd)
      for (o <- 0 to t; j <- 0 until dd) {
        var acc = b(j)
        val w = j * 2 * dd
        if (o > 0) { val xo = (o - 1) * 2 * dd
          for (i <- 0 until 2 * dd) acc += w0(w + i) * cat(xo + i) }
        if (o < t) { val xo = o * 2 * dd
          for (i <- 0 until 2 * dd) acc += w1(w + i) * cat(xo + i) }
        naive(o * dd + j) = acc
      }
      val got = new Array[Float]((t + 1) * dd)
      val w0T = Simd.transpose(w0, 2 * dd, dd)
      val w1T = Simd.transpose(w1, 2 * dd, dd)
      SimdKernels.gemvT(w1T, b, 2 * dd, dd, cat, 0, got, 0)
      for (o <- 1 until t) {
        SimdKernels.gemvT(w0T, b, 2 * dd, dd, cat, (o - 1) * 2 * dd, got, o * dd)
        SimdKernels.gemvAccT(w1T, 2 * dd, dd, cat, o * 2 * dd, got, o * dd)
      }
      SimdKernels.gemvT(w0T, b, 2 * dd, dd, cat, (t - 1) * 2 * dd, got, t * dd)
      for (k <- got.indices) assert(got(k) == naive(k), s"dd=$dd k=$k")
    }
  }

  test("Conv2Tap SIMD path is bit-exact vs naive (w0-then-w1 add order)") {
    for (outCh <- Seq(16, 17, 33, 64, 65, 100, 200); inCh <- Seq(2, 50, 100)) {
      val conv = new Conv2Tap(inCh, outCh,
        rnd(21 + outCh, outCh * inCh), rnd(22 + outCh, outCh * inCh), rnd(23, outCh))
      val len = 5
      val x = rnd(24 + inCh, len * inCh)
      val got = new Array[Float]((len - 1) * outCh)
      conv.run(x, 0, len, got, 0)
      for (t <- 0 until len - 1; o <- 0 until outCh) {
        var acc = conv.b(o)
        for (i <- 0 until inCh) {
          // scalar kernel order: acc = (acc + w0*xa) + w1*xb per i
          acc += conv.w0(o * inCh + i) * x(t * inCh + i) +
            conv.w1(o * inCh + i) * x((t + 1) * inCh + i)
        }
        assert(got(t * outCh + o) == acc, s"outCh=$outCh inCh=$inCh t=$t o=$o")
      }
    }
  }
}
