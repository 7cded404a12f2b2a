package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Signed random projection (Achlioptas 2001 / Johnson–Lindenstrauss):
  * reduce d-dim embeddings to r dims as `p_j = Σ_d sign(j,d) · v_d`
  * with ±1 signs. Distances are preserved in expectation
  * (E[‖p_a−p_b‖²] = r·‖a−b‖²), which is what makes the projection a
  * valid cheap pre-filter for the ANN stack: a candidate screen in r
  * dims costs r/d of the full scan's arithmetic and bandwidth.
  *
  * Determinism: vectors are quantized to 1e-4 fixed-point longs FIRST,
  * so every sum is integer arithmetic (order-independent under any
  * partitioning) and the DuckDB oracle replays it exactly. The sign
  * matrix derives from md5("rp|j|d") parity — the same engine-portable
  * hash family as the sketch queries — and is materialized on the
  * driver as an r×d literal: it is the projection MATRIX, the standard
  * broadcast-a-small-side shape (512 ints here; r·d at scale, never
  * corpus-sized).
  *
  * The projection itself is one narrow codegen'd pass over the corpus:
  * per row, r fold-left aggregates over the quantized vector — no
  * explode, no shuffle, no join.
  */
object Projection {

  /** +1/−1 from the parity of the first hex nibble of md5("rp|j|d") —
    * replayed in SQL as strpos-parity by the oracle. */
  private[graft] def sign(j: Int, d: Int): Int = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(s"rp|$j|$d".getBytes("UTF-8"))
    val nibble = (hex(0) >> 4) & 0xf
    if (nibble % 2 == 0) 1 else -1
  }

  /** Quantize a float/double array column to 1e-4 fixed-point longs.
    * `floor`, not `round`: both engines define floor identically,
    * while round's half-tie rule differs across engines. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 10000).cast("long"))

  /** Project `df`'s `embedding` (array<float|double>, dimension 64) to
    * 8 dims. Output: input columns + `qv` (the quantized original,
    * array<long>) + `pv` (the projection, array<long>). */
  def project(df: DataFrame): DataFrame = {
    val (d, r) = (64, 8)
    val signs: IndexedSeq[IndexedSeq[Int]] =
      (0 until r).map(j => (0 until d).map(dd => sign(j, dd)))
    val q = df.withColumn("qv", quantize(col("embedding")))
    val projCols: Seq[Column] = (0 until r).map { j =>
      // Σ_d sign(j,d)·qv_d as a left fold: integer adds, fixed order.
      aggregate(
        zip_with(col("qv"), typedlit(signs(j)), (x, s) => x * s),
        lit(0L), (acc, x) => acc + x)
    }
    q.withColumn("pv", array(projCols: _*))
  }

  /** Squared L2 distance between two long-array columns (exact). */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)
}
