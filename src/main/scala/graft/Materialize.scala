package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, expr, lit, struct, xxhash64}

/** The dev mains' materialization (Bench keeps its own copy). */
object Materialize {
  /** Computes every column of every row of `df` in one job and returns
    * (bit_xor of per-row xxhash64 over all columns, row count); an empty
    * frame gives (0, 0). xor, unlike sum, cannot overflow and does not
    * depend on row order, so the digest compares results across layouts. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }
}
