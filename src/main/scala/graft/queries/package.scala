package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** A registered engine query: the Spark implementation plus (when the
    * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle
    * statement over the same parquet tables. Column names/aliases MUST
    * match between the two — the driver sorts columns by name before
    * hashing values. */
  type QueryFn = (SparkSession, String) => DataFrame
  final case class Q(fn: QueryFn, oracle: Option[String])

  object Q {
    def apply(fn: QueryFn, oracle: String): Q = Q(fn, Some(oracle))
  }

  /** Recursive temp-dir cleanup for queries that materialize scratch
    * state (TxTables, feed archives, stream checkpoints) during construction:
    * call AFTER the result frame is localCheckpoint'ed — a bench run
    * invokes each query several times and must not leak /tmp state.
    * One definition, not a per-query copy. */
  def rmrf(dir: String): Unit = {
    def go(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(go)
      f.delete(): Unit
    }
    go(new java.io.File(dir))
  }

  /** Run n independent Spark-driving closures on n driver threads and
    * return their results in index order (optimization guide §2.6:
    * actions are only sequential because the driver calls them
    * sequentially — independent jobs submitted concurrently back-fill
    * each other's stragglers/scheduling gaps). Each closure must be
    * self-contained (no shared mutable state); results are
    * deterministic because each closure's computation is. The first
    * failure propagates after all threads finish. */
  def inParallel[T](n: Int)(f: Int => T): IndexedSeq[T] = {
    val out = new Array[Any](n)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        try out(i) = f(i)
        catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    out.toIndexedSeq.map(_.asInstanceOf[T])
  }

  /** Shared DuckDB oracle fragment: the events→fact star mapping
    * (mirrors graft.ops.GoldModel.fact — keep the two in lockstep).
    * Tehran wall-clock keying like the reference
    * (/root/reference/dags/etl/fact_gold_price.py:61-66). */
  val FactCte: String =
    """fact AS (
      |  SELECT event_id AS id,
      |         CAST(user_id AS INT) AS source_id,
      |         CASE event_type WHEN 'click' THEN 1 WHEN 'purchase' THEN 2
      |                         WHEN 'signup' THEN 3 WHEN 'view' THEN 4 END AS side_id,
      |         value AS price,
      |         CAST(strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tehran', '%Y%m%d') AS INT) AS date_id,
      |         CAST(strftime((ts AT TIME ZONE 'UTC') AT TIME ZONE 'Asia/Tehran', '%H%M%S') AS INT) AS time_id
      |  FROM events
      |)""".stripMargin

  /** FactCte + rounded_time_id + is_interpolated=false (T1 shape). */
  val FactDensifyCte: String =
    FactCte + """,
      |factd AS (
      |  SELECT *, time_id - (time_id % 100) AS rounded_time_id,
      |         FALSE AS is_interpolated
      |  FROM fact
      |)""".stripMargin

  /** Engine-portable uniform hash: the first 15 hex digits of md5 of
    * the value's decimal-string form, read as an integer — a uniform
    * 60-bit hash any engine reproduces bit-for-bit (md5 is md5
    * everywhere; 15 hex digits keep the value inside a signed int64).
    * This is the hash for ORDER/PROBABILITY constructions (KMV
    * sketches, weighted sampling) where the polynomial rolling hash's
    * non-uniformity on short keys would bias the math: a 5-digit id's
    * polyhash never exceeds ~52M of the 1e9+7 space, so "k-th smallest
    * hash" style estimators would be off by orders of magnitude. */
  def md5Hash60Spark(colExpr: String): String =
    s"cast(conv(substring(md5(cast($colExpr AS string)), 1, 15), 16, 10) AS bigint)"

  def md5Hash60Duck(colExpr: String): String =
    s"CAST(('0x' || substr(md5(CAST($colExpr AS VARCHAR)), 1, 15)) AS BIGINT)"

  /** 16^15 = 2^60, the [[md5Hash60Spark]] hash space, exactly
    * representable in a double — spelled as a plain decimal literal so
    * both engines parse the identical text to the identical double. */
  val Hash60Space: String = "1152921504606846976.0"

  /** Shared DuckDB oracle fragment: the derived sources dimension
    * (mirrors graft.ops.GoldModel.sourcesDim). */
  val SourcesCte: String =
    """sources AS (
      |  SELECT id, name, concat('#', substr(md5(name), 1, 6)) AS color,
      |         first_id,
      |         CASE WHEN id % 7 = 3 THEN TIMESTAMP '2024-02-01 00:00:00' END AS deleted_at
      |  FROM (
      |    SELECT CAST(user_id AS INT) AS id,
      |           'src_' || CAST(CAST(user_id AS INT) AS VARCHAR) AS name,
      |           MIN(event_id) AS first_id
      |    FROM events GROUP BY 1, 2
      |  )
      |)""".stripMargin
}
