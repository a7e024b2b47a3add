package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.io.{CommitStore, SymlinkCommitStore, TxConstraints, TxTable}

/** Every optimistic publish of the io layer runs on one retry loop with
  * one bound: against a store whose every slot is already taken, each
  * verb tries exactly as often as the others, then fails with one
  * exception type naming the op and the table. */
class TxRetrySpec extends SparkTestBase {

  /** The local store, except that `tryCommit` on a log matching
    * `losing` always loses, counting the calls. */
  private final class LosingStore extends CommitStore {
    @volatile var losing: String => Boolean = _ => false
    val lost = new AtomicInteger
    def latest(logDir: String): (Long, Seq[String]) = SymlinkCommitStore.latest(logDir)
    def at(logDir: String, version: Long): Option[Seq[String]] =
      SymlinkCommitStore.at(logDir, version)
    def tryCommit(logDir: String, version: Long, lines: Seq[String]): Boolean =
      if (losing(logDir)) { lost.incrementAndGet(); false }
      else SymlinkCommitStore.tryCommit(logDir, version, lines)
  }

  test("every CAS publish gives up after the same attempts, naming the op and the table") {
    val s = spark; import s.implicits._
    val base = Files.createTempDirectory("graft_tx_retry").toString
    val dir = s"$base/fact"
    val store = new LosingStore
    CommitStore.forceForPrefix(base, _ => store)
    try {
      def rows(v: Double) = Seq((1L, v, 20240101)).toDF("id", "price", "date_id")
      TxTable.upsert(s, dir, rows(1.0), "id", "price", "date_id") // v1: checkpoint
      TxTable.upsert(s, dir, rows(2.0), "id", "price", "date_id") // v2: delta
      val dataLog: String => Boolean = _.endsWith("/_graft_log")
      // (op the failure names, the log that loses, the call) — every
      // call fails, so the data tip stays a delta at v2 throughout
      val cases: Seq[(String, String => Boolean, () => Unit)] = Seq(
        ("TxTable.upsert", dataLog,
          () => TxTable.upsert(s, dir, rows(3.0), "id", "price", "date_id"): Unit),
        ("TxTable.restore", dataLog, () => TxTable.restore(s, dir, 1L)),
        ("TxTable.vacuum", dataLog, () => TxTable.vacuum(s, dir)),
        // ADD's constraint-log CAS loses: nothing is published
        ("ADD CONSTRAINT", (l: String) => !dataLog(l),
          () => TxConstraints.add(s, dir, "pos", "price > 0")),
        // ADD's constraint-log CAS wins, its data-log barrier loses
        ("TxTable.barrierCommit", dataLog,
          () => TxConstraints.add(s, dir, "pos", "price > 0")),
        ("DROP CONSTRAINT", (l: String) => !dataLog(l),
          () => TxConstraints.drop(s, dir, "pos")))
      val attempts = cases.map { case (op, losing, run) =>
        store.losing = losing
        store.lost.set(0)
        val e = intercept[IllegalStateException](run())
        store.losing = _ => false
        assert(e.getClass.getSimpleName == "LostRace", s"$op threw $e")
        assert(e.getMessage.contains(op) && e.getMessage.contains(dir),
          s"$op: ${e.getMessage}")
        op -> store.lost.get
      }
      assert(attempts.forall(_._2 == 10), s"attempts per op: $attempts")
      assert(TxTable.latestVersion(s, dir) == 2L)
      assert(TxConstraints.of(s, dir).map(_._1) == Seq("pos"))
    } finally CommitStore.clearForce(base)
  }
}
