package graft.io

/** Physical-layout options every TxTable staging write applies
  * (TxTable.writeLaidOut; SURVEY.md §4.3):
  * the three parquet-side levers that decide what a 100 TB probe scans.
  *
  *  - `sortCols`: rows sorted by these columns WITHIN each output file
  *    (after the partition column, so the writer's required ordering is
  *    already satisfied and no second sort is inserted). Tight,
  *    mostly-disjoint row-group min/max stats per file → a pushed range
  *    predicate skips non-matching groups at the reader. Per-file zone
  *    maps only; global clustering across files is the maintenance
  *    rewrite's job (TxTable.optimizeZOrderBy).
  *  - `bloomCols`: per-row-group bloom filters for equality probes on
  *    high-cardinality columns, where min/max stats are useless under
  *    any ordering the sort doesn't own.
  *  - `rowGroupBytes`: row-group granularity — smaller groups, finer
  *    skipping, more footer; probe-heavy tables want 8–32 MB.
  *
  * `Layout.none` (the default everywhere) writes exactly as before:
  * layout is opt-in per table, because the sort costs CPU at write time
  * and blooms cost footer bytes — both wasted on tables nobody probes.
  */
case class Layout(
    sortCols: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil,
    bloomNdv: Long = 1L << 20,
    rowGroupBytes: Option[Long] = None) {

  /** The layout with sort/bloom columns restricted to `columns` — for
    * callers that apply one layout across tables of different schemas
    * (FactPipeline writes fact AND interpolated): a column a table
    * doesn't have simply contributes nothing to that table's layout. */
  def restrictedTo(columns: Seq[String]): Layout = copy(
    sortCols = sortCols.filter(columns.contains),
    bloomCols = bloomCols.filter(columns.contains))
}

object Layout {
  val none: Layout = Layout()
}
