package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chained debounce: per key, in (epoch, id) order, keep a row iff it
  * is the key's first row or its epoch exceeds the LAST KEPT row's
  * epoch by more than `gap`. This is the sensor/event-log compaction
  * rule ("emit at most one reading per cool-down window, measured from
  * the last emission").
  *
  * Unlike gap sessionization ([[Sessionize]]), the predicate references
  * the previous KEPT row, not the previous row — events at t=0,3,6 with
  * gap 5 keep {0, 6} (6−0>5) where first-of-gap-island keeps only {0}
  * (both gaps are 3). That chain makes it inherently sequential: no
  * window frame or lag() spelling exists, so this is the typed
  * per-group fold surface (SURVEY §2.11), same discipline as the
  * specs' typed interpolation kernel (`TypedDensify`, src/test) — one
  * shuffle on the key, per-key history sorted in the task (bounded by
  * per-key retention, the same contract the interpolation kernel
  * documents).
  */
object Debounce {

  /** Returns (key, epoch, id, keep_seq) — kept rows only, keep_seq the
    * 1-based index of the kept row within its key's chain.
    *
    * Input contract: the three columns must be integral (validated —
    * see below) and non-NULL; a NULL in any of them would decode as 0L
    * through the tuple Encoder and join the key-0 chain. */
  def debounce(df: DataFrame, keyCol: String, epochCol: String,
      idCol: String, gap: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Fail fast on non-integral inputs: with ANSI off, a blind
    // cast("long") turns e.g. a string key into NULL, which the tuple
    // Encoder reads as 0L — every such row silently collapses into ONE
    // debounce chain instead of erroring. Widening integral casts are
    // the only ones that cannot produce a surprise NULL.
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
    Seq(keyCol, epochCol, idCol).foreach { c =>
      val dt = df.schema(c).dataType
      require(integral.contains(dt),
        s"debounce column '$c' must be an integral type (byte/short/int/long), got $dt")
    }
    // NULLs are rejected at runtime (codegen'd raise_error, no extra
    // job): a NULL key/epoch/id would otherwise decode as 0L through
    // the tuple Encoder and silently join the key-0 chain.
    def guarded(c: String) =
      when(col(c).isNull,
        raise_error(lit(s"debounce column '$c' must be non-NULL")))
        .otherwise(col(c)).cast("long")
    df.select(guarded(keyCol), guarded(epochCol), guarded(idCol))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val rows = it.toArray.sortBy(t => (t._2, t._3))
        val out = Array.newBuilder[(Long, Long, Long, Int)]
        var kept = false
        var lastEpoch = 0L
        var seq = 0
        rows.foreach { case (_, ep, id) =>
          if (!kept || ep - lastEpoch > gap) {
            kept = true; seq += 1; lastEpoch = ep
            out += ((k, ep, id, seq))
          }
        }
        out.result().iterator
      }
      .toDF(keyCol, epochCol, idCol, "keep_seq")
  }
}
