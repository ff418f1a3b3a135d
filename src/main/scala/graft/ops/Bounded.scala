package graft.ops

import org.apache.spark.sql.{DataFrame, Row}

/** Driver collects with a row bound. */
object Bounded {

  /** `df`'s rows on the driver, or None when it has more than `cap`:
    * one `limit(cap + 1)` collect, so the driver never holds more than
    * `cap + 1` rows whatever the input's size */
  def collectAtMost(df: DataFrame, cap: Int): Option[Array[Row]] = {
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }
}
