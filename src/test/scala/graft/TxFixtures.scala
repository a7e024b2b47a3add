package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** On-disk fixtures for TxTable specs: the manifest body behind a
  * version slot (the symlink store's `m-*.tsv` file), read and edited
  * in place. */
object TxFixtures {

  private def bodyPath(target: String, v: Long): Path = {
    val slot = Paths.get(target, "_graft_log", f"v$v%020d")
    slot.resolveSibling(Files.readSymbolicLink(slot))
  }

  def body(target: String, v: Long): Seq[String] =
    Files.readAllLines(bodyPath(target, v)).asScala.toSeq

  /** Rewrite version `v`'s body through `edit`. The Hadoop local-FS
    * .crc sidecar is binary and stale after the rewrite, so it goes. */
  def editBody(target: String, v: Long)(edit: Seq[String] => Seq[String]): Unit = {
    val p = bodyPath(target, v)
    Files.write(p, edit(body(target, v)).asJava)
    Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
  }

  /** Versions 1..`tip` whose header breaks the manifest's schema rule:
    * every checkpoint records the table schema, and a delta records it
    * only when it differs from the schema in force before it. */
  def schemaFieldFaults(target: String, tip: Long): Seq[String] = {
    var inForce = Option.empty[String]
    (1L to tip).flatMap { v =>
      val h = body(target, v).head.split('\t')
      val field = h.lift(2)
      val fault =
        if (h(1) == "checkpoint" && field.isEmpty) Some(s"checkpoint v$v records no schema")
        else if (h(1) == "delta" && field.nonEmpty && field == inForce)
          Some(s"delta v$v re-records an unchanged schema")
        else None
      inForce = field.orElse(inForce)
      fault
    }
  }
}
