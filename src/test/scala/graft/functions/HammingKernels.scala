package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** The brute-force Hamming oracle the engine's coded kernel
  * ([[graft.operators.Coded.nearest]]) is checked against: position-wise
  * simple matching, null-safe (null == null matches), one mismatch per
  * position one array lacks, and the nearest center as the plain argmin
  * (the first of the smallest).
  */
object HammingKernels {
  def hamming(a: ArrayData, b: ArrayData): Int = {
    val la = a.numElements(); val lb = b.numElements()
    val n = math.min(la, lb)
    var d = math.abs(la - lb)
    var i = 0
    while (i < n) {
      val na = a.isNullAt(i); val nb = b.isNullAt(i)
      if (na != nb) d += 1
      else if (!na && !a.getUTF8String(i).equals(b.getUTF8String(i))) d += 1
      i += 1
    }
    d
  }

  /** (prediction, min_dist): the argmin of [[hamming]] over `centers`. */
  def nearest(row: ArrayData, centers: Seq[ArrayData]): (Int, Int) = {
    val ds = centers.map(hamming(row, _))
    (ds.indexOf(ds.min), ds.min)
  }
}
