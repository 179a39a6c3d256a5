package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row}

/** Order-insensitive result digest: the row count plus the wrapping sum of
  * a 64-bit hash of each row. Computing it runs the whole plan with every
  * column (a `count()` would let the optimizer prune columns), and the
  * multiset sum makes row order and partitioning irrelevant. The per-row
  * hash is Spark's `xxhash64` over the columns in name order (the
  * convention of the DuckDB oracle check); map columns, which Spark does
  * not hash, enter as their key-sorted entry arrays. The sum runs in a
  * typed `mapPartitions`, which keeps the optimizer from dropping a final
  * sort the way an aggregate over the hashes would. */
final case class Digest(rows: Long, sum: Long) {
  def render: String = s"$rows:${java.lang.Long.toHexString(sum)}"
}

object Digest {
  def of(df: DataFrame): Digest = {
    import org.apache.spark.sql.functions.{array_sort, col, map_entries, xxhash64}
    import org.apache.spark.sql.types.MapType
    // positional names: results may carry duplicate column names
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) =>
      val c = col(s"c$i")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val hashed =
      if (cols.isEmpty) byPos.select(org.apache.spark.sql.functions.lit(0L))
      else byPos.select(xxhash64(cols: _*))
    val parts = hashed.as(Encoders.scalaLong).mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { h => n += 1; s += h }
      Iterator((n, s))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).foldLeft(0L)(_ + _))
  }
}
