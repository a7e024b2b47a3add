package graft

import java.nio.file.{Files, LinkOption, Paths}

import scala.jdk.CollectionConverters._

/** On-disk fixtures for TxTable specs. */
object TxFixtures {

  /** Strip the manifest-carried schema from every body file of the
    * table's log → a legacy (schema-less) chain. The body files sit next
    * to the version-slot symlinks; Hadoop local-FS .crc sidecars are
    * binary and stale after the rewrite, so they are skipped and
    * deleted. */
  def stripRecordedSchemas(target: String): Unit = {
    val log = Paths.get(target, "_graft_log")
    Files.list(log).iterator().asScala
      .filter(p => Files.isRegularFile(p, LinkOption.NOFOLLOW_LINKS))
      .filter(!_.getFileName.toString.startsWith("."))
      .foreach { p =>
        val stripped = Files.readAllLines(p).asScala.map { line =>
          if (line.startsWith("#\t")) line.split('\t').take(2).mkString("\t") else line
        }
        Files.write(p, stripped.asJava)
        Files.deleteIfExists(p.resolveSibling("." + p.getFileName + ".crc"))
      }
  }
}
