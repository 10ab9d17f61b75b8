package perfbench

import org.apache.spark.sql.Row

/** Seeded input helpers. Spark-side columns hash the row id with the
  * seed, so the same seed gives the same rows whatever the partitioning. */
final class Gen(seed: Long) {
  /** SQL expression: a uniform integer in [0, n) for stream `salt`. */
  def u(salt: Int, n: Long, key: String = "id"): String =
    s"pmod(xxhash64($key, ${seed}L, $salt), ${n}L)"
  /** Client-side generator for constants and op sequences. */
  def rng(salt: Int): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
}

/** Result comparison with a relative tolerance on doubles: sums of
  * doubles depend on summation order, which differs between layouts. */
object Compare {
  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y) == 0
    case _ => a == b
  }
  private def key(r: Row): String = r.toSeq.map {
    case d: Double => f"$d%.6e"
    case v => String.valueOf(v)
  }.mkString("\u0001")

  /** Equal as multisets of rows, or as sequences when `ordered`. */
  def same(got: Seq[Row], want: Seq[Row], ordered: Boolean = false): Boolean = {
    if (got.size != want.size) return false
    val (g, w) = if (ordered) (got, want) else (got.sortBy(key), want.sortBy(key))
    g.zip(w).forall { case (a, b) =>
      a.length == b.length && (0 until a.length).forall(i => close(a.get(i), b.get(i)))
    }
  }
}
