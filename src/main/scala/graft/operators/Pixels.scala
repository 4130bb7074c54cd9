package graft.operators

/** Unboxed fills and counts for the per-tile arrays of the warp, stencil,
  * fold and clip paths, which run once per pixel of every tile. On a
  * primitive array, `Array.fill(n)(v)` stores every element through
  * `ScalaRunTime.array_update` with one boxed value each, and
  * `a.count(_ != v)` boxes every read. */
private[graft] object Pixels {
  def filled(n: Int, v: Float): Array[Float] = {
    val a = new Array[Float](n); java.util.Arrays.fill(a, v); a
  }

  def filled(n: Int, v: Double): Array[Double] = {
    val a = new Array[Double](n); java.util.Arrays.fill(a, v); a
  }

  def filled(n: Int, v: Long): Array[Long] = {
    val a = new Array[Long](n); java.util.Arrays.fill(a, v); a
  }

  /** The number of elements of `a` that are `!=` to `v`. */
  def countNot(a: Array[Float], v: Float): Int = {
    var n = 0; var i = 0
    while (i < a.length) { if (a(i) != v) n += 1; i += 1 }
    n
  }
}
