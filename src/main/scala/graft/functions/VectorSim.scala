package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/**
 * Dense-vector kernels over `ARRAY<FLOAT>` embedding columns (SURVEY.md
 * §2.9): cosine similarity, dot product, and signed-random-projection (SRP)
 * LSH band keys for embedding blocking / ANN bucketing.
 *
 * Replaces the reference's torch matmul retrieval kernel
 * (`/root/reference/relik/retriever/indexers/inmemory.py:291-296`). All
 * arithmetic is float-accumulated-in-double, summed in index order, so
 * results are bit-deterministic across partitions and retries.
 */
object VectorKernels {

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def norm(a: ArrayData): Double = {
    var s = 0.0
    var i = 0
    val n = a.numElements()
    while (i < n) { val v = a.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val na = norm(a)
    val nb = norm(b)
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  def cosineArr(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /**
   * Signed-random-projection LSH: `bands` keys, each from `bits` hyperplane
   * sign bits. Hyperplane components are pseudo-random N(0,1)-ish values
   * derived from (seed, band, bit, dim) — deterministic, no stored model.
   * cos(θ)-similar vectors collide with probability (1 - θ/π)^bits per band.
   */
  def srpBandKeys(vec: ArrayData, bands: Int, bits: Int, seed: Long): ArrayData = {
    val dim = vec.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var bit = 0
      while (bit < bits) {
        var acc = 0.0
        var d = 0
        val planeSeed = seed + (b.toLong * 131071L + bit) * 524287L
        while (d < dim) {
          // two mixed uniform longs -> approximately normal via sum of 2 uniforms
          val h = HashKernels.mix64(planeSeed + d)
          val u = (h >>> 11).toDouble / (1L << 53).toDouble - 0.5
          acc += u * vec.getFloat(d).toDouble
          d += 1
        }
        if (acc >= 0) key |= (1L << bit)
        bit += 1
      }
      out(b) = HashKernels.mix64(key ^ (0x9e3779b97f4a7c15L * (b + 1)))
      b += 1
    }
    new GenericArrayData(out)
  }
}
