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
  * empty for the next caller to retry. Every finished build leaves a
  * [[Cost]] in [[costs]]: the build tier that a warmup pass hides. */
object Staged {
  private final class Slot { var value: Option[Any] = None }
  private val slots = new ConcurrentHashMap[(String, String), Slot]()
  private val dirs = new ConcurrentLinkedQueue[Path]()
  private val recorded = new ConcurrentHashMap[(String, String), Cost]()

  /** One staged artifact: its directory, the wall seconds its build
    * took (a nested build's seconds count in its stager's too, as the
    * stager waited for it), and the bytes under its own directory. */
  final case class Cost(dir: String, seconds: Double, bytes: Long)

  /** Every artifact built so far in this JVM, keyed (kind, sfDir). */
  def costs: Map[(String, String), Cost] = recorded.asScala.toMap

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
        val t0 = System.nanoTime()
        val built = build(dir.toString)
        val seconds = (System.nanoTime() - t0) / 1e9
        val files = Files.walk(dir)
        val bytes = try files.iterator().asScala
          .filter(Files.isRegularFile(_)).map(Files.size).sum
        finally files.close()
        recorded.put((kind, sfDir), Cost(dir.toString, seconds, bytes))
        slot.value = Some(built)
        built
      }.asInstanceOf[T]
    }
  }
}
