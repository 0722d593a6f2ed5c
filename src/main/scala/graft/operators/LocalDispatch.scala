package graft.operators

/** Size dispatch: the one place that decides whether an operator's
  * input is small enough to run as a driver kernel instead of the
  * distributed plan.
  *
  * Twelve operators pay a distributed path whose per-stage fixed cost
  * dominates at gate scale (iterative loops, multi-shuffle cascades).
  * Each counts its input once, in its own unit, and asks here whether
  * that count fits on the driver. At or under the bound it collects the
  * input and runs an exact driver kernel; above it the distributed plan
  * runs unchanged. Both paths emit the same rows, digit for digit, and
  * each operator's spec pins local ≡ distributed through
  * [[distributedOnly]].
  *
  * The bounds, each priced at its transient BOXED driver heap (collected
  * tuples plus the kernel's boxed maps), not the framed 8 B per long;
  * the heap is released when the call returns (VERDICT r17 #4):
  *  - edges, 2M directed or canonical edges — Clusters, PageRank, KCore,
  *    LabelProp: ~150–200 MB at the bound (LabelProp's adjacency lists
  *    ~200–300 MB);
  *  - triangle edges, 200k undirected edges — Triangles: priced for the
  *    triangle closure's ≤ m·√(2m) ≈ 1.3·10⁸ wedge probes (well under a
  *    second of driver time); the boxed collect is ~10–20 MB;
  *  - cells, 4M quantized vector cells or shingle/symbol cells —
  *    KMeansLloyd, IvfPq, NearDup, SetSimJoin, CorpusDiff, BpeLearn:
  *    ~200–400 MB at the bound for the shingle-set kernels (BpeLearn's
  *    words are a few tens of MB);
  *  - pairs, 2M distinct (group, value) pairs — KsDrift: ~200–300 MB of
  *    (String, Long, Long) tuples.
  *
  * No conf, option or parameter moves a bound: every caller takes the
  * same path for the same input. */
object LocalDispatch {

  private val EdgeBound = 2L * 1000 * 1000
  private val TriangleEdgeBound = 200L * 1000
  private val CellBound = 4L * 1000 * 1000
  private val PairBound = 2L * 1000 * 1000

  private val forceDistributed =
    ThreadLocal.withInitial[Boolean](() => false)

  private def fits(n: Long, bound: Long): Boolean =
    !forceDistributed.get && n <= bound

  /** `n` graph edges run on the driver. */
  private[graft] def fitsEdges(n: Long): Boolean = fits(n, EdgeBound)

  /** `n` undirected edges run the triangle census on the driver. */
  private[graft] def fitsTriangleEdges(n: Long): Boolean =
    fits(n, TriangleEdgeBound)

  /** `n` vector, shingle or symbol cells run on the driver. */
  private[graft] def fitsCells(n: Long): Boolean = fits(n, CellBound)

  /** `n` distinct (group, value) pairs run on the driver. */
  private[graft] def fitsPairs(n: Long): Boolean = fits(n, PairBound)

  /** Runs `body` with every dispatch on this thread taking the
    * distributed path, whatever the input size; the previous state comes
    * back when `body` returns or throws. Specs use it to pin
    * local ≡ distributed; other threads are unaffected. */
  private[graft] def distributedOnly[T](body: => T): T = {
    val prev = forceDistributed.get
    forceDistributed.set(true)
    try body finally forceDistributed.set(prev)
  }
}
