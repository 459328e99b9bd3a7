package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Primitive-loop kernels over Catalyst ArrayData — called directly from
  * generated code by the expressions in [[VectorExpressions]], so the hot
  * path never boxes an element or materializes a Scala collection.
  * Accumulation is double, left-to-right — bit-identical to the
  * `aggregate(zip_with(...))` fold these kernels replace.
  */
object VectorKernels {

  def dotFF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    s
  }

  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  def dotFD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getFloat(i).toDouble * b.getDouble(i); i += 1 }
    s
  }

  def dotDF(a: ArrayData, b: ArrayData): Double = dotFD(b, a)

  def l2DistSqFF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble; s += d * d; i += 1
    }
    s
  }

  def l2DistSqDD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); s += d * d; i += 1 }
    s
  }

  def l2DistSqFD(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val d = a.getFloat(i).toDouble - b.getDouble(i); s += d * d; i += 1 }
    s
  }

  def l2DistSqDF(a: ArrayData, b: ArrayData): Double = l2DistSqFD(b, a)

  /** Σx² in double, left-to-right — bit-identical to the
    * `aggregate(v, 0.0, (acc, x) -> acc + x*x)` lambda it replaces (the
    * interpreted HOF path boxed every element and re-entered the
    * interpreter per pair on the near-dup verify joins).
    */
  def sumSqF(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; s += x * x; i += 1 }
    s
  }

  def sumSqD(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    s
  }

  /** v / ‖v‖₂ in one pass pair (norm, then scale) — O(d). The norm is a
    * double left-to-right Σx² fold, elementwise division matches the
    * `transform(v, x -> x / sqrt(aggregate(...)))` lambda this replaces
    * bit-for-bit; zero vectors map to zeros (no NaN). The lambda form
    * re-evaluated the interpreted aggregate INSIDE the per-element
    * lambda — O(d²) boxed evals per row, ~590k at d=768: the add-path
    * scale-killer found by the 1M-row ScaleEval run.
    */
  def l2normF(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getFloat(i).toDouble; s += x * x; i += 1 }
    val nn = math.sqrt(s)
    val out = new Array[Double](n)
    if (nn != 0.0) {
      i = 0
      while (i < n) { out(i) = a.getFloat(i).toDouble / nn; i += 1 }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** [[l2normF]]'s arithmetic on a driver-side vector, each component then
    * cast to float — the stored form of a vector the driver-local add
    * normalizes (`transform(l2_normalize(v), x -> cast(x as float))` in
    * the distributed add), bit for bit.
    */
  def l2normFloats(a: Array[Float]): Array[Float] = {
    val n = a.length
    var s = 0.0
    var i = 0
    while (i < n) { val x = a(i).toDouble; s += x * x; i += 1 }
    val nn = math.sqrt(s)
    val out = new Array[Float](n)
    if (nn != 0.0) {
      i = 0
      while (i < n) { out(i) = (a(i).toDouble / nn).toFloat; i += 1 }
    }
    out
  }

  def l2normD(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    val nn = math.sqrt(s)
    val out = new Array[Double](n)
    if (nn != 0.0) {
      i = 0
      while (i < n) { out(i) = a.getDouble(i) / nn; i += 1 }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}
