package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Space-filling-curve key indexes for catalog layout, as in the
  * reference's IndexingMethod (geopyspark/geotrellis/constants.py:98 —
  * ZORDER / HILBERT / ROWMAJOR) and catalog.py write().
  *
  * Column variants expand to pure bitwise Catalyst expressions so the
  * index computation is codegen'd and usable in pushed-down range
  * predicates at scan time.
  */
object ZIndex {
  /** Interleave the low `bits` bits of x (even positions) and y (odd). */
  def zorder(x: Long, y: Long, bits: Int = 16): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Codegen'd z-order: a sum of shifted bit-extractions (no UDF). */
  def zorderCol(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))

  /** 3-D Morton interleave — the geotrellis space-time Z3 convention
    * (geotrellis.spark.io.index.zcurve.Z3, itself the public
    * geomesa-style split): x bits land at positions 0,3,6…, y at
    * 1,4,7…, t at 2,5,8… — 21 bits per dimension fills 63 bits. The
    * GT-bridge space-time key index is zorder3(col, row,
    * instant/temporalResolution). */
  def zorder3(x: Long, y: Long, t: Long, bits: Int = 21): Long = {
    require(bits <= 21, s"zorder3: $bits bits/dim exceeds the 63-bit long")
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (3 * i)
      z |= ((y >> i) & 1L) << (3 * i + 1)
      z |= ((t >> i) & 1L) << (3 * i + 2)
      i += 1
    }
    z
  }

  /** Hilbert curve index (Lam & Shapiro public algorithm), driver-side. */
  def hilbert(x0: Long, y0: Long, bits: Int = 16): Long = {
    var rx = 0L; var ry = 0L; var d = 0L
    var x = x0; var y = y0
    var s: Long = 1L << (bits - 1)
    while (s > 0) {
      rx = if ((x & s) > 0) 1 else 0
      ry = if ((y & s) > 0) 1 else 0
      d += s * s * ((3 * rx) ^ ry)
      // rotate
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}
