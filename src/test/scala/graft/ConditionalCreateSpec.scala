package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import graft.io.{ExclusiveCreateCommitStore, TxTable}
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FSDataOutputStreamBuilder, FileSystem, Path, PathIOException, RawLocalFileSystem}

/** The conditional-PUT HAPPY PATH of [[ExclusiveCreateCommitStore]],
  * exercised against a mock FileSystem that implements the HADOOP-19256
  * builder contract the way a real object-store connector does:
  * `hasPathCapability` advertises
  * `fs.option.create.conditional.overwrite`, `createFile` returns a
  * builder honoring the `must()` option, bytes buffer until close, and
  * the "PUT" (with its If-None-Match precondition) is evaluated AT
  * CLOSE — a slot another writer landed first fails there with the
  * 412-family PathIOException s3a raises. Until now the specs only ran
  * the store with `requireConditional = false`; this pins the demanded
  * path end to end: must-option propagated, 412-on-conflict mapped to a
  * lost race (not a crash), the full TxTable retry loop re-merging
  * through it, and the fail-fast when the capability is absent.
  */
class ConditionalCreateSpec extends SparkTestBase {

  import ConditionalPutMockFs.Capability

  private def mockFs(): ConditionalPutMockFs = {
    val fs = new ConditionalPutMockFs
    fs.initialize(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    fs
  }

  test("happy path: must(conditional) + overwrite(false) lands the slot; a taken slot fails as 412 -> lost race") {
    val fs = mockFs()
    val store = new ExclusiveCreateCommitStore(fs) // requireConditional = true
    val log = Files.createTempDirectory("graft_cond_put").toString + "/_graft_log"

    ConditionalPutMockFs.lastBuildDemandedCondition = false
    assert(store.tryCommit(log, 1L, Seq("#\tcheckpoint", "k\td")))
    assert(ConditionalPutMockFs.lastBuildDemandedCondition,
      "store did not pass the conditional-create must-option through the builder")
    assert(store.latest(log)._1 == 1L)

    // the slot is taken: the mock's close-time precondition raises the
    // 412 PathIOException, which must map to false (lost race), never
    // escape as a crash
    assert(!store.tryCommit(log, 1L, Seq("#\tcheckpoint", "other\td2")))
    // and the original body survived the losing attempt
    assert(store.at(log, 1L).get.contains("k\td"))
  }

  test("a racing TxTable commit through the conditional store re-merges instead of losing rows") {
    val s = spark; import s.implicits._
    val fs = mockFs()
    val base = Files.createTempDirectory("graft_cond_tx").toString
    FaultStore.over(base, new ExclusiveCreateCommitStore(fs)) { race =>
      val target = s"$base/fact"
      TxTable.upsert(s, target,
        Seq((1L, 10.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
      // writer A stages, then B commits inside A's race window: A's CAS
      // fails with the mock's 412, A re-merges on the new snapshot
      race.beforeFirstCas(target) {
        TxTable.upsert(s, target,
          Seq((3L, 30.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
          "id", "etl_seq", "date_id")
      }
      TxTable.upsert(s, target,
        Seq((2L, 20.0, 1L, 20240101)).toDF("id", "price", "etl_seq", "date_id"),
        "id", "etl_seq", "date_id")
      assert(TxTable.latestVersion(s, target) == 3L)
      assert(TxTable.snapshot(s, target).get.select("id")
        .as[Long].collect().toSet == Set(1L, 2L, 3L),
        "the 412-losing writer dropped rows instead of re-merging")
    }
  }

  test("a connector without the capability fails FAST instead of running an unsound protocol") {
    val raw = new RawLocalFileSystem
    raw.initialize(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    assert(!raw.hasPathCapability(
      new Path("/tmp"), Capability))
    val store = new ExclusiveCreateCommitStore(raw) // requireConditional = true
    val log = Files.createTempDirectory("graft_cond_nocap").toString + "/_graft_log"
    val e = intercept[IllegalStateException] {
      store.tryCommit(log, 1L, Seq("#\tcheckpoint"))
    }
    assert(e.getMessage.contains(Capability))
  }
}

private[graft] object ConditionalPutMockFs {
  /** Must match the connector capability string the store demands. */
  val Capability = "fs.option.create.conditional.overwrite"
  @volatile var lastBuildDemandedCondition: Boolean = false
}

/** Local FS dressed as an object-store connector with conditional-PUT
  * support: capability advertised, must-option honored, whole-object
  * "PUT" (and its precondition failure) at stream close. */
private[graft] class ConditionalPutMockFs extends RawLocalFileSystem {
  override def hasPathCapability(path: Path, capability: String): Boolean =
    capability == ConditionalPutMockFs.Capability ||
      super.hasPathCapability(path, capability)

  override def createFile(path: Path): FSDataOutputStreamBuilder[_, _] =
    new ConditionalPutBuilder(this, path)
}

private class ConditionalPutBuilder(fs: ConditionalPutMockFs, p: Path)
    extends FSDataOutputStreamBuilder[FSDataOutputStream, ConditionalPutBuilder](fs, p) {

  override def getThisBuilder: ConditionalPutBuilder = this

  override def build(): FSDataOutputStream = {
    // a real connector rejects must() options it does not implement
    rejectUnknownMandatoryKeys(
      java.util.Collections.singleton(ConditionalPutMockFs.Capability),
      " (conditional-put mock)")
    val conditional =
      getMandatoryKeys.contains(ConditionalPutMockFs.Capability) &&
        getOptions.getBoolean(ConditionalPutMockFs.Capability, false)
    ConditionalPutMockFs.lastBuildDemandedCondition = conditional
    val overwrite = getFlags.contains(CreateFlag.OVERWRITE)
    val target = p
    val buf = new ByteArrayOutputStream()
    val putAtClose = new java.io.OutputStream {
      override def write(b: Int): Unit = buf.write(b)
      override def write(b: Array[Byte], off: Int, len: Int): Unit =
        buf.write(b, off, len)
      override def close(): Unit = {
        // object-store semantics: nothing exists until the PUT, and the
        // If-None-Match precondition is evaluated by the PUT itself
        if (!overwrite && fs.exists(target)) {
          if (conditional)
            throw new PathIOException(target.toString,
              "PUT failed: HTTP 412 Precondition Failed (If-None-Match: *)")
          // an UNCONDITIONAL create-no-overwrite on a real object store
          // is check-then-put: the check raced here, so the put would
          // silently replace the other writer's object — the split
          // brain the store exists to prevent. The mock preserves that
          // danger honestly rather than masking it.
        }
        val out = fs.asInstanceOf[FileSystem].create(target, true)
        try out.write(buf.toByteArray) finally out.close()
      }
    }
    new FSDataOutputStream(putAtClose, null)
  }
}
