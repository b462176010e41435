package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** The once-per-corpus staging registry: every index, pair table or
  * versioned fixture a served query reads is built here at most once per
  * (kind, sfDir) per JVM, into a fresh `graft_<kind>*` directory under
  * `java.io.tmpdir` that one shutdown hook deletes at exit. The map only
  * creates per-key slots; each build runs under its own slot's lock, so a
  * build may stage another kind (nesting), concurrent callers of one key
  * wait for the single build, and a build that throws leaves its slot
  * empty for the next caller to retry. */
object Staged {
  private final class Slot { var value: Option[Any] = None }
  private val slots = new ConcurrentHashMap[(String, String), Slot]()
  private val dirs = new ConcurrentLinkedQueue[Path]()

  sys.addShutdownHook(dirs.asScala.filter(Files.exists(_)).foreach { dir =>
    Files.walk(dir).iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(p => Files.deleteIfExists(p))
  })

  def once[T](kind: String, sfDir: String)(build: String => T): T = {
    val slot = slots.computeIfAbsent((kind, sfDir), _ => new Slot)
    slot.synchronized {
      slot.value.getOrElse {
        val dir = Files.createTempDirectory(s"graft_$kind")
        dirs.add(dir)
        val built = build(dir.toString)
        slot.value = Some(built)
        built
      }.asInstanceOf[T]
    }
  }
}
