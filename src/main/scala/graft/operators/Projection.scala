package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.sign_project

/** Random-projection dimensionality reduction (Johnson–Lindenstrauss via
  * the Achlioptas '01 ±1 distribution) — the 100 TB pre-step for every
  * embedding operator: a 768-dim corpus projected to 64 dims cuts ANN
  * scoring, pair verification, and shuffle payloads 12× while preserving
  * pairwise distances to within the JL bound (ε ≈ √(8·ln n / dOut)).
  *
  * The sign matrix is NOT random state: s(j,i) = parity of the
  * repo-standard md5-60bit hash of "j_i" — derived, never stored, and
  * regenerable by the DuckDB oracle, so projected vectors (and the ANN
  * rankings over them) are replayable like every other hash family here.
  * The matrix ships as a codegen reference object inside one fused
  * kernel ([[graft.functions.sign_project]]): broadcast model
  * state, one generated loop, no k-term expression tree.
  */
object Projection {

  /** Flat row-major (by output dim) ±1 matrix: entry (j, i) is +1 when
    * the first 60 bits of md5("j_i") are even — the same value DuckDB's
    * `('0x' || substr(md5(j || '_' || i), 1, 15))::BIGINT % 2` sees. */
  def signMatrix(dIn: Int, dOut: Int): Array[Double] = {
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Double](dIn * dOut)
    var j = 0
    while (j < dOut) {
      var i = 0
      while (i < dIn) {
        md.reset()
        val hex = md.digest(s"${j}_$i".getBytes(StandardCharsets.UTF_8))
          .take(8).map(b => f"$b%02x").mkString
        // first 15 hex chars = 60 bits; parity = low bit of the 15th
        val parity = Integer.parseInt(hex.substring(14, 15), 16) & 1
        out(j * dIn + i) = if (parity == 0) 1.0 else -1.0
        i += 1
      }
      j += 1
    }
    out
  }

  /** Replaces `vecCol` with its dOut-dim projection (array<double>). */
  def project(df: DataFrame, dIn: Int, dOut: Int,
      vecCol: String = "embedding"): DataFrame =
    df.withColumn(vecCol,
      sign_project(col(vecCol), signMatrix(dIn, dOut), dIn, dOut))

  /** Unbounded-tree declarative twin (built-ins only) — the formulation
    * RegressionSpec proves bit-identical to the fused kernel. Left-assoc
    * ascending-i addition, divide by √dOut, matching both the kernel and
    * the oracle's `list_sum` replay. */
  private[graft] def projectDeclarative(df: DataFrame, dIn: Int, dOut: Int,
      vecCol: String = "embedding"): DataFrame = {
    val signs = signMatrix(dIn, dOut)
    val v = col(vecCol).cast("array<double>")
    val proj = array((0 until dOut).map { j =>
      (0 until dIn).map(i =>
        element_at(v, i + 1) * lit(signs(j * dIn + i)))
        .reduce(_ + _) / lit(math.sqrt(dOut.toDouble))
    }: _*)
    df.withColumn(vecCol, proj)
  }
}
