package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.io.{CommitStore, SymlinkCommitStore}

/** The fault-injecting [[CommitStore]] every race spec publishes
  * through: it delegates to `under` (the store the path would get
  * anyway) and injects two faults at the CAS.
  *
  *  - [[losing]]: every `tryCommit` on a matching log loses, counted in
  *    [[lost]].
  *  - [[beforeFirstCas]]: a hook runs once, on the thread that
  *    registered it, just before that thread's first CAS on a table's
  *    data log (`<dir>/_graft_log`; the `_constraints` log does not
  *    count). The hook is spent before it runs, so a commit it makes on
  *    the same thread goes straight through and the CAS it preceded
  *    then loses to that commit. Two threads racing one table each
  *    register their own hook.
  *
  * Every CAS publish of the io layer (verb commits, the constraint
  * barrier, restore, vacuum's checkpoint) goes through the store, so
  * each can be raced the same way. Force it with [[FaultStore.over]]. */
final class FaultStore(under: CommitStore) extends CommitStore {

  @volatile var losing: String => Boolean = _ => false
  val lost = new AtomicInteger

  private val hook = new ThreadLocal[(String, () => Unit)]

  def beforeFirstCas(dir: String)(run: => Unit): Unit =
    hook.set((s"$dir/_graft_log", () => run))

  def latest(logDir: String): (Long, Seq[String]) = under.latest(logDir)
  def at(logDir: String, version: Long): Option[Seq[String]] = under.at(logDir, version)
  def tryCommit(logDir: String, version: Long, lines: Seq[String]): Boolean = {
    Option(hook.get).filter(_._1 == logDir).foreach { case (_, run) =>
      hook.remove()
      run()
    }
    if (losing(logDir)) { lost.incrementAndGet(); false }
    else under.tryCommit(logDir, version, lines)
  }
}

object FaultStore {

  /** `body` with a fresh store over `under` forced for every log under
    * `prefix`. */
  def over[A](prefix: String, under: CommitStore = SymlinkCommitStore)(
      body: FaultStore => A): A = {
    val store = new FaultStore(under)
    CommitStore.forceForPrefix(prefix, _ => store)
    try body(store)
    finally CommitStore.clearForce(prefix)
  }

  /** `verb` on `dir` with `race` run just before its first CAS on the
    * table's data log: the two-writer interleaving on one thread. */
  def racing[A](dir: String)(race: => Unit)(verb: => A): A =
    over(dir) { store =>
      store.beforeFirstCas(dir)(race)
      verb
    }
}
