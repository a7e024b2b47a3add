package graft

import java.nio.file.Files

import graft.io.{PartitionSpec, TxTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Md5
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** Keyed reads of existing rows (the merge's touched partitions, the
  * predicate rewrites' find pass, compaction) take each row's partition
  * key from its manifest entry instead of re-hashing the row. Pinned on
  * the three layouts where the key could drift: a two-column spec with a
  * NULL partition value, a shallow clone whose leaves are absolute paths
  * into its source, and a schema-less legacy chain (its data schema
  * read from the leaves' footers). After every verb the table must hold the model's rows, under
  * exactly the manifest keys and leaf contents that a fresh bootstrap of
  * those rows (keyed on the batch side) produces.
  */
class TxKeyedReadSpec extends SparkTestBase {

  private case class R(id: Long, d: Int, src: String, v: Double, ver: Long)

  private val Cols = Seq("id", "d", "src", "v", "ver")

  private def frame(rows: Seq[R]): DataFrame = {
    val s = spark; import s.implicits._
    rows.map(r => (r.id, r.d, r.src, r.v, r.ver)).toDF(Cols: _*)
  }

  private def rowsOf(df: DataFrame): Seq[R] =
    df.select(Cols.map(col): _*).collect().toSeq.map(r =>
      R(r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3), r.getLong(4)))
      .sortBy(_.id)

  private def fresh(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def leafRows(dir: String, leaf: String): Seq[R] =
    rowsOf(spark.read.parquet(if (leaf.contains(":/") || leaf.startsWith("/")) leaf
      else s"$dir/$leaf"))

  /** Same rows as the model; same keys, leaf contents and partition
    * values as a fresh bootstrap of the model's rows. */
  private def check(dir: String, spec: PartitionSpec, model: Seq[R], step: String): Unit = {
    assert(rowsOf(TxTable.snapshot(spark, dir).get) === model.sortBy(_.id), step)
    val ref = fresh("graft_keyed_ref")
    TxTable.upsert(spark, ref, frame(model), "id", "ver", spec)
    val mine = TxTable.latest(spark, dir)._2
    val theirs = TxTable.latest(spark, ref)._2
    assert(mine.keySet === theirs.keySet, s"$step: manifest keys")
    mine.foreach { case (k, leaf) =>
      assert(leafRows(dir, leaf) === leafRows(ref, theirs(k)), s"$step: leaf $k")
    }
    assert(TxTable.partitionValues(spark, dir) === TxTable.partitionValues(spark, ref),
      s"$step: partition values")
  }

  /** Does a plan scanning existing leaves hash their rows — an `md5`
    * over a subtree that scans a leaf? (None: no plan scanned a leaf.)
    * The batch's own key is an `md5` over in-memory rows. */
  private def hashesExistingRows(body: => Unit): Option[Boolean] = {
    val scanning = SparkEvents.queryExecutions(spark)(body)
      .filter(qe => SparkEvents.scannedPaths(qe).nonEmpty)
    def scansLeaf(p: LogicalPlan): Boolean =
      p.exists(_.isInstanceOf[LogicalRelation])
    if (scanning.isEmpty) None
    else Some(scanning.exists(_.analyzed.exists(n =>
      n.expressions.exists(_.exists(_.isInstanceOf[Md5])) && scansLeaf(n))))
  }

  /** upsert, replaceWindow, updateWhere and compactFiles in turn, each
    * checked against the model. */
  private def runVerbs(dir: String, spec: PartitionSpec, start: Seq[R]): Unit = {
    var model = start
    check(dir, spec, model, "start")

    // upsert: one update inside an existing partition (the NULL-valued
    // one where there is one), one insert into another
    val up = Seq(start(1).copy(v = 22.0, ver = 2L), start(0).copy(id = 10L, v = 5.0))
    val hashed = hashesExistingRows(
      TxTable.upsert(spark, dir, frame(up), "id", "ver", spec): Unit)
    assert(hashed === Some(false), s"keyed read of existing rows: md5 over them = $hashed")
    model = model.filterNot(r => up.exists(_.id == r.id)) ++ up
    check(dir, spec, model, "upsert")

    // replaceWindow: ids >= 100 of the batch's partition are the window
    // (empty so far: no earlier row has such an id)
    val p = start(1)
    val win = Seq(p.copy(id = 100L, v = 1.0), p.copy(id = 101L, v = 2.0))
    TxTable.replaceWindow(spark, dir, frame(win), spec, windowPred = col("id") >= 100)
    model = model ++ win
    check(dir, spec, model, "replaceWindow")

    // updateWhere: the find pass reads every leaf keyed
    TxTable.updateWhere(spark, dir, spec, Seq("v" -> (col("v") + 1000)), col("v") < 15)
    model = model.map(r => if (r.v < 15) r.copy(v = r.v + 1000) else r)
    check(dir, spec, model, "updateWhere")

    // compactFiles with a zero-file threshold folds every leaf
    TxTable.compactFiles(spark, dir, spec, maxFilesPerLeaf = 0)
    check(dir, spec, model, "compactFiles")
  }

  private val seedRows = Seq(
    R(1L, 1, "a", 10.0, 1L), R(2L, 1, null, 20.0, 1L), R(3L, 1, null, 30.0, 1L),
    R(4L, 2, "b", 40.0, 1L), R(5L, 2, "a", 50.0, 1L))

  test("two-column spec with a NULL partition value: keys and rows as a fresh bootstrap") {
    val dir = fresh("graft_keyed_two")
    val spec = PartitionSpec(Seq("d", "src"))
    TxTable.upsert(spark, dir, frame(seedRows), "id", "ver", spec)
    runVerbs(dir, spec, seedRows)
  }

  test("shallow clone: absolute leaves in the source read keyed, mixed with local ones") {
    val src = fresh("graft_keyed_src")
    TxTable.upsert(spark, src, frame(seedRows), "id", "ver", "d")
    val clone = fresh("graft_keyed_clone")
    TxTable.cloneShallow(spark, src, clone)
    assert(TxTable.latest(spark, clone)._2.values.forall(_.contains(":/")),
      "a fresh clone points at its source's leaves")
    runVerbs(clone, "d", seedRows)
    // copy-on-write: the source never changed
    assert(rowsOf(TxTable.snapshot(spark, src).get) === seedRows)
  }

  test("schema-less legacy chain: footer schema, no re-keying, same keys and rows") {
    val dir = fresh("graft_keyed_legacy")
    TxTable.upsert(spark, dir, frame(seedRows.take(3)), "id", "ver", "d")
    TxTable.upsert(spark, dir, frame(seedRows.drop(3)), "id", "ver", "d")
    TxFixtures.stripRecordedSchemas(dir)
    runVerbs(dir, "d", seedRows)
  }
}
