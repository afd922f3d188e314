package graft.kernels

import graft.core.NdTensor

/** Connected-components labeling, semantics of the reference `label`
  * (/root/reference/imops/measure.py:33-137):
  *
  *  - groups equal-valued non-background cells; default background 0, a custom
  *    background is value-swapped with 0 before labeling (measure.py:106-113)
  *  - connectivity c in 1..ndim: neighbors differing by +-1 on at most c axes
  *    (the skimage convention, mapped to cc3d 4/8/6/18/26 in `_SKIMAGE2CC3D`,
  *    measure.py:22-29); default = ndim
  *  - output labels are 1..N in first-appearance (row-major scan) order
  *  - extras: count, label list, per-component sizes (measure.py:120-132)
  */
object LabelKernel {

  final case class Result(labels: Array[Long], num: Int, sizes: Array[Long])

  /** Bytes per cell one call allocates beyond its input: the Int union-find
    * parent (4 B) and the Long output label (8 B). */
  val WorkBytesPerCell: Int = 12

  def label(data: Array[Double], shape: Array[Int],
            background: Double = 0.0, connectivity: Int = -1): Result = {
    // background swap trick (measure.py:106-113): treat `background` as 0
    val vals = if (background == 0.0) data
               else data.map(v => if (v == background) 0.0 else if (v == 0.0) background else v)
    run(new Values(vals), shape, connectivity)
  }

  /** Boolean masks: true cells are foreground and all share one value, so
    * the labels equal `label(mask.map(b => if (b) 1.0 else 0.0), shape,
    * connectivity = connectivity)` without that 8 B/cell copy. */
  def label(mask: Array[Boolean], shape: Array[Int], connectivity: Int): Result =
    run(new Mask(mask), shape, connectivity)

  /** One input seen as cells: `fg(i)` is cell i foreground, and
    * `joins(i, j)` may foreground cell i share a component with its
    * neighbor j (equal values; background is never equal to foreground). */
  private sealed abstract class Cells {
    def length: Int
    def fg(i: Int): Boolean
    def joins(i: Int, j: Int): Boolean
  }
  private final class Values(v: Array[Double]) extends Cells {
    def length: Int = v.length
    def fg(i: Int): Boolean = v(i) != 0.0
    def joins(i: Int, j: Int): Boolean = v(i) == v(j)
  }
  private final class Mask(m: Array[Boolean]) extends Cells {
    def length: Int = m.length
    def fg(i: Int): Boolean = m(i)
    def joins(i: Int, j: Int): Boolean = m(j)
  }

  private def run(cells: Cells, shape: Array[Int], connectivity: Int): Result = {
    val rank = shape.length
    val conn = if (connectivity <= 0) rank else connectivity
    require(conn >= 1 && conn <= rank, s"connectivity $conn out of 1..$rank")
    val n = cells.length
    val parent = new Array[Int](n)
    var flat = 0
    while (flat < n) { parent(flat) = flat; flat += 1 }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    val strides = NdTensor.strides(shape)
    // neighbor offsets with <= conn nonzero components, only "previous" ones,
    // and their flat deltas: an in-bounds neighbor is flat + delta < flat
    val offs = neighborOffsets(rank, conn)
    val delta = offs.map(off => off.indices.map(d => off(d) * strides(d)).sum)
    val idx = new Array[Int](rank) // multi-index of `flat`, advanced in step
    flat = 0
    while (flat < n) {
      if (cells.fg(flat)) {
        // off the array's faces no neighbor can fall outside it
        var interior = true
        var d = 0
        while (d < rank) {
          if (idx(d) == 0 || idx(d) == shape(d) - 1) interior = false
          d += 1
        }
        // union with each joining neighbor; the smaller root wins, so
        // parent(x) <= x everywhere and every root is its set's minimum
        var root = flat
        var k = 0
        while (k < offs.length) {
          val nFlat = flat + delta(k)
          if ((interior || inBounds(idx, offs(k), shape)) && cells.joins(flat, nFlat)) {
            val r = find(nFlat)
            if (r < root) { parent(root) = r; root = r }
            else if (r > root) parent(r) = root
          }
          k += 1
        }
      }
      var d = rank - 1
      var carry = true
      while (carry && d >= 0) {
        idx(d) += 1
        if (idx(d) == shape(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
    // a component is first met in scan order at its root (its minimum
    // index), so labels number 1..N by first appearance with no root map;
    // parent(flat) < flat is already labeled with the same component
    val labels = new Array[Long](n)
    var sizes = new Array[Long](16)
    var num = 0
    flat = 0
    while (flat < n) {
      if (cells.fg(flat)) {
        val up = parent(flat)
        val lb =
          if (up == flat) {
            num += 1
            if (num > sizes.length) sizes = java.util.Arrays.copyOf(sizes, 2 * sizes.length)
            num
          } else labels(up).toInt
        labels(flat) = lb
        sizes(lb - 1) += 1L
      }
      flat += 1
    }
    Result(labels, num, java.util.Arrays.copyOf(sizes, num))
  }

  private def inBounds(idx: Array[Int], off: Array[Int], shape: Array[Int]): Boolean = {
    var d = 0
    while (d < idx.length) {
      val c = idx(d) + off(d)
      if (c < 0 || c >= shape(d)) return false
      d += 1
    }
    true
  }

  /** All offsets in {-1,0,1}^rank \ {0} with at most `conn` nonzero axes,
    * restricted to "previous in scan order" (first nonzero component is -1). */
  private def neighborOffsets(rank: Int, conn: Int): Array[Array[Int]] = {
    val all = Array.newBuilder[Array[Int]]
    val total = math.pow(3, rank).toInt
    var code = 0
    while (code < total) {
      val off = new Array[Int](rank)
      var c = code
      var nz = 0
      var d = rank - 1
      while (d >= 0) { off(d) = c % 3 - 1; if (off(d) != 0) nz += 1; c /= 3; d -= 1 }
      if (nz >= 1 && nz <= conn) {
        // keep only predecessors in row-major scan order (negative lexicographic)
        var firstNonzero = 0
        while (firstNonzero < rank && off(firstNonzero) == 0) firstNonzero += 1
        if (off(firstNonzero) < 0) all += off
      }
      code += 1
    }
    all.result()
  }
}
