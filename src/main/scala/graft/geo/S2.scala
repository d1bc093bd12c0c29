package graft.geo

/** In-repo S2 cell-ID implementation (bit-faithful to the published S2
  * geometry algorithm: cube-face decomposition, quadratic ST projection,
  * Hilbert space-filling curve — no external jar; zero-egress environment).
  *
  * A cell ID is a 64-bit value: 3 face bits, 2·level Hilbert position bits,
  * then a sentinel 1 bit followed by zeros. Level 30 = leaf (~0.7 cm²);
  * the engine's spatial joins use levels 8–16.
  *
  * Role in the engine (north rule): the hierarchical spatial key for
  * point-in-polygon candidate joins ([[graft.ops.SpatialJoin]]) and kNN
  * ring expansion — generalizing the reference's flat 1°×1° tile key
  * (reference: src/elevation/getElevationTileKey.ts:3-10) to a multi-level
  * index with neighbor topology.
  *
  * Verified by: hand-derivable golden vectors ((0,0) leaf =
  * 0x1000000000000001), ScalaCheck round-trip / containment / neighbor
  * properties (S2Spec).
  */
object S2 {

  val MaxLevel = 30
  private val MaxSize = 1 << MaxLevel // 2^30 leaf cells per face edge

  private val SwapMask = 1
  private val InvertMask = 2

  /** Hilbert sub-cell traversal order: position-in-curve -> (i<<1|j). */
  private val posToIJ: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2), // canonical
    Array(0, 2, 3, 1), // axes swapped
    Array(3, 2, 0, 1), // bits inverted
    Array(3, 1, 0, 2)  // swapped & inverted
  )
  /** Inverse: (i<<1|j) -> position-in-curve. */
  private val ijToPos: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2),
    Array(0, 3, 1, 2),
    Array(2, 3, 1, 0),
    Array(2, 1, 3, 0)
  )
  private val posToOrientation = Array(SwapMask, 0, 0, InvertMask + SwapMask)

  // ---------- spherical <-> cube-face (u,v) ----------

  /** (lngDeg, latDeg) -> unit vector (x,y,z). */
  def toXyz(lngDeg: Double, latDeg: Double): (Double, Double, Double) = {
    val phi = math.toRadians(latDeg)
    val theta = math.toRadians(lngDeg)
    val cosphi = math.cos(phi)
    (math.cos(theta) * cosphi, math.sin(theta) * cosphi, math.sin(phi))
  }

  def face(x: Double, y: Double, z: Double): Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    val f = if (ax > ay) { if (ax > az) 0 else 2 } else { if (ay > az) 1 else 2 }
    val w = f match { case 0 => x; case 1 => y; case _ => z }
    if (w < 0) f + 3 else f
  }

  /** Gnomonic (u,v) of (x,y,z) on `face`. */
  def faceUv(f: Int, x: Double, y: Double, z: Double): (Double, Double) = f match {
    case 0 => (y / x, z / x)
    case 1 => (-x / y, z / y)
    case 2 => (-x / z, -y / z)
    case 3 => (z / x, y / x)
    case 4 => (z / y, -x / y)
    case _ => (-y / z, -x / z)
  }

  /** Inverse: face + (u,v) -> (x,y,z) (unnormalized). */
  def faceUvToXyz(f: Int, u: Double, v: Double): (Double, Double, Double) = f match {
    case 0 => (1, u, v)
    case 1 => (-u, 1, v)
    case 2 => (-u, -v, 1)
    case 3 => (-1, -v, -u)
    case 4 => (v, -1, -u)
    case _ => (v, u, -1)
  }

  /** Quadratic projection: u in [-1,1] -> s in [0,1]. */
  def uvToSt(u: Double): Double =
    if (u >= 0) 0.5 * math.sqrt(1.0 + 3.0 * u) else 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)

  def stToUv(s: Double): Double =
    if (s >= 0.5) (1.0 / 3.0) * (4.0 * s * s - 1.0)
    else (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))

  def stToIj(s: Double): Int =
    math.max(0, math.min(MaxSize - 1, math.floor(MaxSize * s).toInt))

  // ---------- (face,i,j) <-> cell id ----------

  /** Leaf cell id from face + leaf (i,j). */
  def fromFaceIJ(f: Int, i: Int, j: Int): Long = {
    var n = f.toLong << 60
    var bits = f & SwapMask
    var k = MaxLevel - 1
    while (k >= 0) {
      val ij = (((i >> k) & 1) << 1) | ((j >> k) & 1)
      val pos = ijToPos(bits & 3)(ij)
      n |= pos.toLong << (2 * k)
      bits ^= posToOrientation(pos)
      k -= 1
    }
    n * 2 + 1
  }

  /** Cell id at `level` containing the leaf (i,j) on `f`. */
  def fromFaceIJ(f: Int, i: Int, j: Int, level: Int): Long =
    parent(fromFaceIJ(f, i, j), level)

  def latLngToCell(lngDeg: Double, latDeg: Double, level: Int): Long = {
    val (x, y, z) = toXyz(lngDeg, latDeg)
    val f = face(x, y, z)
    val (u, v) = faceUv(f, x, y, z)
    fromFaceIJ(f, stToIj(uvToSt(u)), stToIj(uvToSt(v)), level)
  }

  def lsb(id: Long): Long = id & -id

  def level(id: Long): Int = MaxLevel - (java.lang.Long.numberOfTrailingZeros(id) >> 1)

  def parent(id: Long, lvl: Int): Long = {
    val newLsb = 1L << (2 * (MaxLevel - lvl))
    (id & -newLsb) | newLsb
  }

  def isLeaf(id: Long): Boolean = (id & 1L) != 0

  /** Range of leaf ids covered by this cell: [rangeMin, rangeMax]. */
  def rangeMin(id: Long): Long = id - (lsb(id) - 1)
  def rangeMax(id: Long): Long = id + (lsb(id) - 1)
  def contains(id: Long, other: Long): Boolean =
    other >= rangeMin(id) && other <= rangeMax(id)

  /** Decode to (face, i, j, orientation) of the cell's center leaf walk. */
  def toFaceIJOrientation(id: Long): (Int, Int, Int, Int) = {
    val f = ((id >>> 61) & 7).toInt
    var bits = f & SwapMask
    var i = 0; var j = 0
    var k = MaxLevel - 1
    while (k >= 0) {
      val pos = ((id >>> (2 * k + 1)) & 3).toInt
      val ij = posToIJ(bits & 3)(pos)
      i |= (ij >> 1) << k
      j |= (ij & 1) << k
      bits ^= posToOrientation(pos)
      k -= 1
    }
    (f, i, j, bits)
  }

  /** Center of the cell in (si, ti) in [0, 2*MaxSize]. */
  def centerSiTi(id: Long): (Int, Long, Long) = {
    val (f, i, j, _) = toFaceIJOrientation(id)
    val delta =
      if (isLeaf(id)) 1
      else if (((i ^ (id >>> 2).toInt) & 1) != 0) 2
      else 0
    (f, 2L * i + delta, 2L * j + delta)
  }

  /** Cell center as (lngDeg, latDeg). */
  def centerLatLng(id: Long): (Double, Double) = {
    val (f, si, ti) = centerSiTi(id)
    val u = stToUv(si.toDouble / (2.0 * MaxSize))
    val v = stToUv(ti.toDouble / (2.0 * MaxSize))
    val (x, y, z) = faceUvToXyz(f, u, v)
    val lng = math.toDegrees(math.atan2(y, x))
    val lat = math.toDegrees(math.atan2(z, math.sqrt(x * x + y * y)))
    (lng, lat)
  }

  /** Hex token (lowercase, trailing zeros stripped) — the canonical compact
    * string form used as a join/partition key.
    */
  def token(id: Long): String = {
    if (id == 0) return "X"
    val s = f"$id%016x"
    var e = s.length
    while (e > 1 && s.charAt(e - 1) == '0') e -= 1
    s.substring(0, e)
  }

  def fromToken(t: String): Long =
    if (t == "X") 0L
    else java.lang.Long.parseUnsignedLong(t.padTo(16, '0'), 16)

  // ---------- neighbors / ring expansion ----------

  /** Leaf (i,j) possibly outside [0, MaxSize) wrapped onto the proper
    * adjacent face (published FromFaceIJWrap construction: linear-projected
    * uv beyond the face edge, re-projected through xyz).
    */
  def fromFaceIJWrap(f: Int, i0: Int, j0: Int, lvl: Int): Long = {
    val i = math.max(-1, math.min(MaxSize, i0))
    val j = math.max(-1, math.min(MaxSize, j0))
    if (i == i0 && j == j0 && i >= 0 && i < MaxSize && j >= 0 && j < MaxSize)
      return fromFaceIJ(f, i, j, lvl)
    val kScale = 1.0 / MaxSize
    val kLimit = 1.0 + 2.2204460492503131e-16
    val u = math.max(-kLimit, math.min(kLimit, kScale * (2.0 * (i - MaxSize / 2) + 1.0)))
    val v = math.max(-kLimit, math.min(kLimit, kScale * (2.0 * (j - MaxSize / 2) + 1.0)))
    val (x, y, z) = faceUvToXyz(f, u, v)
    val nf = face(x, y, z)
    val (nu, nv) = faceUv(nf, x, y, z)
    fromFaceIJ(nf, stToIj(0.5 * (nu + 1.0)), stToIj(0.5 * (nv + 1.0)), lvl)
  }

  /** The <=8 distinct cells adjacent to `id` (edge + vertex neighbors) at the
    * same level — ring 1 of the kNN cell-ring expansion (J3).
    */
  def neighbors(id: Long): Seq[Long] = gridRing(id, 1)

  /** Cells at Chebyshev ij-distance exactly `k` (the ring), same level.
    * Interior fast path enumerates the ij square directly; near a face
    * boundary the wrap clamp cannot represent offsets beyond one cell
    * (fromFaceIJWrap collapses them onto the edge), so rings are derived
    * from BFS disks, which cross faces one correct neighbor step at a time.
    */
  def gridRing(id: Long, k: Int): Seq[Long] = {
    require(k >= 1, "ring k >= 1")
    val lvl = level(id)
    val (f, i, j, _) = toFaceIJOrientation(id)
    val size = 1 << (MaxLevel - lvl)
    val i0 = i & -size
    val j0 = j & -size
    if (i0 - k.toLong * size >= 0 && i0 + k.toLong * size < MaxSize &&
        j0 - k.toLong * size >= 0 && j0 + k.toLong * size < MaxSize) {
      val out = scala.collection.mutable.LinkedHashSet[Long]()
      var d = -k
      while (d <= k) {
        out += fromFaceIJ(f, i0 + d * size, j0 - k * size, lvl)
        out += fromFaceIJ(f, i0 + d * size, j0 + k * size, lvl)
        out += fromFaceIJ(f, i0 - k * size, j0 + d * size, lvl)
        out += fromFaceIJ(f, i0 + k * size, j0 + d * size, lvl)
        d += 1
      }
      out.toSeq.filter(_ != id)
    } else {
      val inner = gridDiskSet(id, k - 1)
      gridDiskSet(id, k).diff(inner).toSeq
    }
  }

  private def ringOneNeighbors(id: Long): Seq[Long] = {
    val lvl = level(id)
    val (f, i, j, _) = toFaceIJOrientation(id)
    val size = 1 << (MaxLevel - lvl)
    val i0 = i & -size
    val j0 = j & -size
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    var di = -1
    while (di <= 1) {
      var dj = -1
      while (dj <= 1) {
        if (di != 0 || dj != 0)
          out += fromFaceIJWrap(f, i0 + di * size, j0 + dj * size, lvl)
        dj += 1
      }
      di += 1
    }
    out.toSeq.filter(_ != id)
  }

  private def gridDiskSet(id: Long, k: Int): Set[Long] = {
    var frontier = Set(id)
    var all = Set(id)
    var r = 1
    while (r <= k) {
      frontier = frontier.flatMap(ringOneNeighbors).diff(all)
      all = all ++ frontier
      r += 1
    }
    all
  }

  /** All cells within Chebyshev ij-distance `k` (disk = cell + rings 1..k);
    * face-boundary-correct via the same BFS the ring fallback uses.
    */
  def gridDisk(id: Long, k: Int): Seq[Long] = {
    val out = scala.collection.mutable.LinkedHashSet[Long](id)
    var r = 1
    while (r <= k) { out ++= gridRing(id, r); r += 1 }
    out.toSeq
  }

  /** Approximate min edge length of a level-`lvl` cell in degrees (for ring
    * distance bounds: one ij step is at least this many degrees of arc).
    * Derived from the quadratic projection's min cell edge (published
    * kMinEdge: 2*sqrt(2)/3 / 2^level radians).
    */
  def minEdgeDegrees(lvl: Int): Double =
    math.toDegrees(2.0 * math.sqrt(2.0) / 3.0 / (1L << lvl).toDouble)

  /** Cover a lng/lat bbox with level-`lvl` cells — superset-correct for
    * candidate-join purposes (the refinement predicate downstream makes
    * over-cover harmless; exact covers would need the full S2RegionCoverer).
    *
    * Fast path (bbox inside one EQUATORIAL face, spanning at most a few
    * cells): the corner leaf-ij rectangle padded one cell covers the box;
    * enumerate it directly at O(#cells). The pad is what makes this sound —
    * u/v are NOT attained exactly at the corners (v of an equatorial face
    * sags ∝ tan(lat)·Δlng²/8 mid-edge; on the polar faces u/v are outright
    * non-monotone in lng), so the fast path is restricted to boxes ≤
    * `FastPathMaxCells` cells per axis, where the mid-edge deviation is
    * provably under one cell. Polar-face, multi-face, or wider boxes go to
    * the sampled cover (half-min-edge sampling + ring-1 union, O(#cells ×
    * ~36)) which is deviation-free by construction.
    */
  private val FastPathMaxCells = 8

  def coverBBox(lngMin: Double, latMin: Double, lngMax: Double, latMax: Double,
                lvl: Int): Seq[Long] = {
    val corners = Seq((lngMin, latMin), (lngMin, latMax), (lngMax, latMin), (lngMax, latMax))
      .map { case (lng, lat) =>
        val (x, y, z) = toXyz(lng, lat)
        val f = face(x, y, z)
        val (u, v) = faceUv(f, x, y, z)
        (f, stToIj(uvToSt(u)), stToIj(uvToSt(v)))
      }
    val sameFace = corners.map(_._1).distinct.size == 1
    val equatorialFace = corners.head._1 != 2 && corners.head._1 != 5
    val size = 1 << (MaxLevel - lvl)
    val small = sameFace && {
      val di = corners.map(_._2).max - corners.map(_._2).min
      val dj = corners.map(_._3).max - corners.map(_._3).min
      math.max(di, dj).toLong <= FastPathMaxCells.toLong * size
    }
    if (sameFace && equatorialFace && small) {
      val f = corners.head._1
      val iMin = (corners.map(_._2).min & -size) - size
      val iMax = (corners.map(_._2).max & -size) + size
      val jMin = (corners.map(_._3).min & -size) - size
      val jMax = (corners.map(_._3).max & -size) + size
      val out = Seq.newBuilder[Long]
      var i = iMin
      while (i <= iMax) {
        var j = jMin
        while (j <= jMax) {
          out += fromFaceIJWrap(f, i, j, lvl)
          j += size
        }
        i += size
      }
      out.result().distinct
    } else coverBBoxSampled(lngMin, latMin, lngMax, latMax, lvl)
  }

  private def coverBBoxSampled(lngMin: Double, latMin: Double, lngMax: Double,
                               latMax: Double, lvl: Int): Seq[Long] = {
    val step = math.max(minEdgeDegrees(lvl) * 0.5, 1e-9)
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    var lat = latMin
    while (lat <= latMax + step) {
      var lng = lngMin
      val latc = math.min(lat, latMax)
      while (lng <= lngMax + step) {
        val c = latLngToCell(math.min(lng, lngMax), latc, lvl)
        out += c
        out ++= gridRing(c, 1)
        lng += step
      }
      lat += step
    }
    out.toSeq
  }
}
