package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GraftHash, SimdAffine}

/** ns/row figures for graft.functions kernels, called through their
  * public entry points on inputs drawn from the `documents` and
  * `embeddings` tables. Every loop folds its outputs into a checksum
  * that is returned, so the JIT cannot drop the work. */
object Kernels {

  final case class Result(name: String, nsPerUnit: Double, checksum: Long)

  def run(spark: SparkSession, dataDir: String): Seq[Result] = {
    val texts: Array[UTF8String] = graft.Tables.documents(spark, dataDir)
      .select("text").collect().map(r => UTF8String.fromString(r.getString(0)))
    val vecs: Array[ArrayData] = graft.Tables.embeddings(spark, dataDir)
      .select("embedding").collect()
      .map(r => new GenericArrayData(r.getSeq[Float](0).map(Float.box).toArray[Any]))
    val shingles = texts.map(GraftHash.shingleHashes(_, 3))
    val longs = Array.tabulate(4096)(i => GraftHash.mix64(i.toLong) >>> 20)
    val pairs = vecs.length.toLong * vecs.length

    Seq(
      measure("functions.shingle_ns_per_row", texts.length) {
        var acc = 0L
        texts.foreach(t => acc += GraftHash.shingleHashes(t, 3).numElements())
        acc
      },
      measure("functions.minhash_ns_per_row", shingles.length) {
        var acc = 0L
        shingles.foreach(s => acc ^= GraftHash.minhash(s, 64, 42L).getLong(0))
        acc
      },
      measure("functions.simhash_ns_per_row", texts.length) {
        var acc = 0L
        texts.foreach(t => acc ^= GraftHash.simhash64(t))
        acc
      },
      measure("functions.l2_ns_per_pair", pairs) {
        var acc = 0.0
        vecs.foreach(a => vecs.foreach(b => acc += GraftHash.l2F(a, b)))
        java.lang.Double.doubleToLongBits(acc)
      },
      measure("functions.cosine_ns_per_pair", pairs) {
        var acc = 0.0
        vecs.foreach(a => vecs.foreach(b => acc += GraftHash.cosineF(a, b)))
        java.lang.Double.doubleToLongBits(acc)
      },
      measure("functions.simd_affine_ns_per_row", longs.length.toLong * 64) {
        var acc = 0L
        var k = 0
        while (k < 64) {
          acc += SimdAffine.affine(longs, longs.length, 3L + k, 7L, false)(k)
          k += 1
        }
        acc
      })
  }

  /** Median ns per unit over 7 timed passes, after 3 untimed ones. */
  private def measure(name: String, units: Long)(pass: => Long): Result = {
    var sum = 0L
    (1 to 3).foreach(_ => sum += pass)
    val ns = (1 to 7).map { _ =>
      val t0 = System.nanoTime()
      sum += pass
      (System.nanoTime() - t0).toDouble / units
    }.sorted
    Result(name, ns(ns.size / 2), sum)
  }
}
