package graftbench

import java.util.zip.CRC32

/** Seeded uint8 test volume: a lattice of solid spheres over 5-bit hashed
  * noise. Every voxel is a pure function of (seed, x, y, z), so any box of
  * it can be recomputed independently of what the engine wrote.
  *
  * Each lattice cell of `Cell`³ voxels that lies wholly inside the volume
  * holds at most one sphere (present for 3 cells in 4) with a radius of
  * 5..12 voxels, both hashed from the cell alone, so every seed has the
  * same spheres and the same connected-components work. The seed moves
  * each centre by up to two voxels, which keeps the sphere inside its
  * cell, at least two voxels from its neighbours and never across a block
  * edge, and draws the noise. Sphere
  * voxels are 160..191, background voxels 40..71, so thresholding at 128
  * yields exactly one connected component per present sphere, whatever
  * the connectivity.
  */
final case class Volume(seed: Long, dims: Array[Int]) {
  import Volume._

  val cells: Array[Int] = dims.map(_ / Cell)

  private def cellHash(salt: Long, cx: Int, cy: Int, cz: Int): Long =
    mix(salt * 0x9E3779B97F4A7C15L + (cx.toLong << 42 | cy.toLong << 21 | cz.toLong))

  /** (present, centre x/y/z, radius²) of the sphere in lattice cell c. */
  private def sphere(cx: Int, cy: Int, cz: Int): (Boolean, Int, Int, Int, Int) = {
    val shape = cellHash(0L, cx, cy, cz)
    val present = (shape & 3L) != 0L
    val r = 5 + ((shape >>> 2) & 7L).toInt              // 5..12
    val h = cellHash(seed, cx, cy, cz)
    def jit(shift: Int) = ((h >>> shift) % 5L).toInt - 2 // -2..2
    (present, cx * Cell + Cell / 2 + jit(8), cy * Cell + Cell / 2 + jit(16),
      cz * Cell + Cell / 2 + jit(24), r * r)
  }

  /** Number of spheres, i.e. connected components above threshold 128. */
  def components: Long = {
    var n = 0L
    for (cx <- 0 until cells(0); cy <- 0 until cells(1); cz <- 0 until cells(2))
      if (sphere(cx, cy, cz)._1) n += 1
    n
  }

  /** Fill `out` (x-fastest) with the box [x0,x0+sx)×[y0,y0+sy)×[z0,z0+sz). */
  def fill(x0: Int, y0: Int, z0: Int, sx: Int, sy: Int, sz: Int, out: Array[Byte]): Unit = {
    var z = 0
    while (z < sz) {
      val gz = z0 + z
      var y = 0
      while (y < sy) {
        val gy = y0 + y
        var x = 0
        val row = (z * sy + y) * sx
        var cachedCx = -1
        var inLattice = false
        var sp: (Boolean, Int, Int, Int, Int) = null
        while (x < sx) {
          val gx = x0 + x
          val cx = gx / Cell
          if (cx != cachedCx) {
            cachedCx = cx
            val cy = gy / Cell; val cz = gz / Cell
            inLattice = cx < cells(0) && cy < cells(1) && cz < cells(2)
            if (inLattice) sp = sphere(cx, cy, cz)
          }
          val noise = (mix(seed ^ (gx.toLong + dims(0).toLong *
            (gy.toLong + dims(1).toLong * gz.toLong))) & 31L).toInt
          val inside = inLattice && sp._1 && {
            val dx = gx - sp._2; val dy = gy - sp._3; val dz = gz - sp._4
            dx * dx + dy * dy + dz * dz <= sp._5
          }
          out(row + x) = ((if (inside) 160 else 40) + noise).toByte
          x += 1
        }
        y += 1
      }
      z += 1
    }
  }

  def box(x0: Int, y0: Int, z0: Int, sx: Int, sy: Int, sz: Int): Array[Byte] = {
    val a = new Array[Byte](sx * sy * sz)
    fill(x0, y0, z0, sx, sy, sz, a)
    a
  }

  /** The whole volume, x-fastest. */
  def all(): Array[Byte] = box(0, 0, 0, dims(0), dims(1), dims(2))
}

object Volume {
  /** Divides the 128³ source block, so no sphere straddles a block. */
  val Cell = 32

  def mix(v: Long): Long = {
    var z = v + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def sum(a: Array[Byte]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) & 0xff; i += 1 }
    s
  }

  def crc(a: Array[Byte]): Long = { val c = new CRC32; c.update(a); c.getValue }

  /** 2×2×2 floor-mean with trailing partial windows dropped — the
    * reference pyramid rule, computed independently of the engine.
    */
  def downsample(a: Array[Byte], d: Array[Int]): (Array[Byte], Array[Int]) = {
    val o = d.map(_ / 2)
    val out = new Array[Byte](o.product)
    for (z <- 0 until o(2); y <- 0 until o(1); x <- 0 until o(0)) {
      var s = 0
      for (dz <- 0 to 1; dy <- 0 to 1; dx <- 0 to 1)
        s += a((2 * x + dx) + d(0) * ((2 * y + dy) + d(1) * (2 * z + dz))) & 0xff
      out(x + o(0) * (y + o(1) * z)) = (s / 8).toByte
    }
    (out, o)
  }
}
