package graft

import java.nio.file.Files

import graft.io.TxTable
import org.apache.spark.sql.functions._

/** Shallow clone (io/TxTable.cloneShallow) and its detach verb
  * (materialize): one manifest write branches a table of any size —
  * zero data movement — and every later commit is copy-on-write into
  * the clone's own storage. Pins the vacuum contract from both sides:
  * vacuuming the clone never touches source files; vacuuming the source
  * past the cloned version BREAKS the clone (the documented caveat)
  * unless materialize cut the dependency first.
  */
class TxCloneSpec extends SparkTestBase {

  private def seed(prefix: String): String = {
    val s = spark; import s.implicits._
    val dir = Files.createTempDirectory(prefix).toString + "/src"
    val rows = Seq(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
      (3L, "2024-01-02", 30.0), (4L, "2024-01-03", 40.0))
      .toDF("id", "day", "v")
    TxTable.upsert(s, dir, rows, "id", "v", "day")
    dir
  }

  private def state(dir: String): Set[(Long, Double)] =
    TxTable.snapshot(spark, dir).get.select("id", "v")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("clone = one manifest write pointing at source leaves; reads equal; _meta carries over") {
    val src = seed("graft_clone")
    val dst = src.stripSuffix("/src") + "/dst"
    TxTable.cloneShallow(spark, src, dst)
    assert(state(dst) === state(src))
    // every manifest entry points OUTSIDE the clone (qualified source path)
    val leaves = TxTable.latest(spark, dst)._2.values
    assert(leaves.nonEmpty && leaves.forall(_.contains(src)))
    // no data was copied: the clone has no local data dir at all
    assert(!new java.io.File(s"$dst/data").exists())
    // identity record carried: the clone is as self-describing as its source
    assert(TxTable.mergeKeyOf(spark, dst).contains("id"))
    assert(TxTable.versionColumnOf(spark, dst).contains("v"))
    assert(TxTable.partitionColumnsOf(spark, dst).contains(Seq("day")))
  }

  test("copy-on-write divergence: clone commits stage locally, source never observes them") {
    val s = spark; import s.implicits._
    val src = seed("graft_clone_cow")
    val dst = src.stripSuffix("/src") + "/dst"
    TxTable.cloneShallow(spark, src, dst)
    val before = TxTable.latest(spark, dst)._2
    TxTable.upsert(s, dst,
      Seq((1L, "2024-01-01", 111.0), (9L, "2024-01-09", 90.0))
        .toDF("id", "day", "v"), "id", "v", "day")
    assert(state(dst) ===
      Set((1L, 111.0), (2L, 20.0), (3L, 30.0), (4L, 40.0), (9L, 90.0)))
    assert(state(src) ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    val after = TxTable.latest(spark, dst)._2
    // the touched partition re-pointed into the clone's own storage,
    // the new one landed there too; untouched partitions keep the
    // source leaf identity (manifest keys are engine hashes — compare
    // structurally)
    val kept = after.filter { case (k, l) => before.get(k).contains(l) }
    assert(kept.size === 2, s"expected 2 untouched source leaves: $after")
    val repointed = after.filter { case (k, l) =>
      before.contains(k) && !before.get(k).contains(l) }
    assert(repointed.size === 1 && repointed.values.forall(!_.contains(src)))
    val fresh = after.filter { case (k, _) => !before.contains(k) }
    assert(fresh.size === 1 && fresh.values.forall(!_.contains(src)))
    // predicate DML works on the clone like any table (111 ≥ 40: the
    // revised row deletes too, 90 ≥ 40 likewise)
    TxTable.deleteWhere(spark, dst, "day", col("v") >= 40.0)
    assert(state(dst) === Set((2L, 20.0), (3L, 30.0)))
  }

  test("versionAsOf clones a historical version: a writable branch of time travel") {
    val s = spark; import s.implicits._
    val src = seed("graft_clone_tt")
    TxTable.upsert(s, src,
      Seq((2L, "2024-01-01", 222.0)).toDF("id", "day", "v"), "id", "v", "day")
    val dst = src.stripSuffix("/src") + "/dst"
    TxTable.cloneShallow(spark, src, dst, versionAsOf = Some(1L))
    assert(state(dst) ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
  }

  test("vacuum contract: clone vacuum spares source files; source vacuum breaks an unmaterialized clone") {
    val s = spark; import s.implicits._
    val src = seed("graft_clone_vac")
    val dst = src.stripSuffix("/src") + "/dst"
    TxTable.cloneShallow(spark, src, dst)
    // age the clone forward so vacuum has versions to fold
    TxTable.upsert(s, dst,
      Seq((1L, "2024-01-01", 111.0)).toDF("id", "day", "v"), "id", "v", "day")
    TxTable.vacuum(spark, dst, retainVersions = 1, graceMs = 0L)
    // the source is untouched and both tables still read
    assert(state(src) ===
      Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    assert(state(dst) ===
      Set((1L, 111.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    // now rewrite every source leaf and vacuum hard: the clone's
    // foreign references die — the documented source-retention caveat
    TxTable.optimizeZOrderBy(spark, src, "day", Seq("v"))
    TxTable.vacuum(spark, src, retainVersions = 1, graceMs = 0L)
    intercept[Exception] { state(dst) }
  }

  test("a vacuumed source: every rewrite of the clone's dead leaves refuses and publishes nothing") {
    val s = spark; import s.implicits._
    val src = seed("graft_clone_dead")
    val dst = src.stripSuffix("/src") + "/dst"
    TxTable.cloneShallow(spark, src, dst)
    TxTable.optimizeZOrderBy(spark, src, "day", Seq("v"))
    TxTable.vacuum(spark, src, retainVersions = 1, graceMs = 0L)
    val v = TxTable.latestVersion(spark, dst)
    // a missing leaf must fail the read, never read as an empty
    // partition: a rewrite would then publish the partition's rows away
    val verbs: Seq[(String, () => Unit)] = Seq(
      "materialize" -> (() => TxTable.materialize(spark, dst, "day")),
      "upsert" -> (() => TxTable.upsert(s, dst,
        Seq((3L, "2024-01-02", 33.0)).toDF("id", "day", "v"), "id", "v", "day"): Unit),
      "replaceWindow" -> (() => TxTable.replaceWindow(s, dst,
        Seq((5L, "2024-01-02", 50.0)).toDF("id", "day", "v"), "day",
        windowPred = col("id") >= 5): Unit),
      "delete" -> (() => TxTable.delete(spark, dst,
        Seq((3L, "2024-01-02")).toDF("id", "day"), "id", "day")),
      "updateWhere" -> (() => TxTable.updateWhere(spark, dst, "day",
        Seq("v" -> (col("v") + 1)), col("id") === 3L)),
      "compactFiles" -> (() => TxTable.compactFiles(spark, dst, "day", maxFilesPerLeaf = 0)))
    val published = verbs.flatMap { case (name, run) =>
      intercept[Exception](run())
      val now = TxTable.latestVersion(spark, dst)
      if (now != v) Some(s"$name published v$now") else None
    }
    assert(published.isEmpty, published.mkString("; "))
  }

  test("materialize cuts the source dependency; localized entries keep identity; no-op when local") {
    val s = spark; import s.implicits._
    val src = seed("graft_clone_mat")
    val dst = src.stripSuffix("/src") + "/dst"
    TxTable.cloneShallow(spark, src, dst)
    TxTable.upsert(s, dst,
      Seq((1L, "2024-01-01", 111.0)).toDF("id", "day", "v"), "id", "v", "day")
    val before = TxTable.latest(spark, dst)._2
    TxTable.materialize(spark, dst, "day")
    val after = TxTable.latest(spark, dst)._2
    // every entry is local now; the already-local one kept identity
    assert(after.values.forall(!_.contains(src)))
    val local = before.filter { case (_, l) => !l.contains(src) }
    assert(local.size === 1)
    local.foreach { case (k, l) => assert(after.get(k).contains(l)) }
    assert(after.keySet === before.keySet)
    // destroying the source no longer matters
    TxTable.optimizeZOrderBy(spark, src, "day", Seq("v"))
    TxTable.vacuum(spark, src, retainVersions = 1, graceMs = 0L)
    assert(state(dst) ===
      Set((1L, 111.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    // a second materialize has nothing foreign: publishes no version
    val v = TxTable.latestVersion(spark, dst)
    TxTable.materialize(spark, dst, "day")
    assert(TxTable.latestVersion(spark, dst) === v)
  }

  test("clone-aware OPTIMIZE: one unscoped optimizeZOrderBy commit localizes AND clusters — no separate materialize") {
    val s = spark; import s.implicits._
    val src = seed("graft_clone_opt")
    val dst = src.stripSuffix("/src") + "/dst"
    TxTable.cloneShallow(spark, src, dst)
    val stateBefore = state(dst)
    val vBefore = TxTable.latestVersion(spark, dst)
    // ONE maintenance commit: optimize stages every scoped leaf under
    // the CLONE's data dir, so the unscoped form is materialize+optimize
    // fused — two table rewrites collapse to one
    TxTable.optimizeZOrderBy(spark, dst, "day", Seq("v", "id"))
    assert(TxTable.latestVersion(spark, dst) === vBefore + 1,
      "exactly one commit must land")
    // rows-preserving: the diff across the commit is empty
    assert(TxTable.diff(spark, dst, vBefore, vBefore + 1, "id").count() === 0L)
    // every manifest entry is LOCAL now — the source dependency is cut
    assert(TxTable.latest(spark, dst)._2.values.forall(!_.contains(src)))
    // a follow-up materialize finds nothing foreign: publishes no version
    TxTable.materialize(spark, dst, "day")
    assert(TxTable.latestVersion(spark, dst) === vBefore + 1)
    // destroying the source no longer matters; content identical
    TxTable.vacuum(spark, src, retainVersions = 1, graceMs = 0L)
    rmrfDir(s"$src/data")
    assert(state(dst) === stateBefore)
  }

  private def rmrfDir(dir: String): Unit = {
    def go(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(go)
      f.delete(): Unit
    }
    go(new java.io.File(dir))
  }

  test("refusals: occupied target, uncommitted source; clone-of-clone composes") {
    val s = spark; import s.implicits._
    val src = seed("graft_clone_ref")
    val dst = src.stripSuffix("/src") + "/dst"
    TxTable.cloneShallow(spark, src, dst)
    intercept[IllegalArgumentException] {
      TxTable.cloneShallow(spark, src, dst) // occupied
    }
    intercept[IllegalArgumentException] {
      TxTable.cloneShallow(spark, src + "_nope", dst + "2") // no source
    }
    // clone of a clone: absolute leaves pass through unchanged
    val dst2 = src.stripSuffix("/src") + "/dst2"
    TxTable.cloneShallow(spark, dst, dst2)
    assert(state(dst2) === state(src))
    assert(TxTable.latest(spark, dst2)._2.values.forall(_.contains(src)))
  }
}
