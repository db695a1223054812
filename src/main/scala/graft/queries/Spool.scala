package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.{Comparator, UUID}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

/** The coverage queries' per-JVM fixture spool. A fixture that several
  * evaluations read (a spooled stream input, a persisted index, an ACID
  * table with history) is built by its first evaluation and reused by
  * the rest, keyed by fixture name and sf dir. Every tree it writes
  * lives in a [[dir]], and all of them are deleted when the JVM exits.
  *
  * A build runs under its key's own lock, not inside
  * `ConcurrentHashMap.computeIfAbsent`: a build may call another spool
  * (the stream-ingest fixture reads the event spool), which
  * computeIfAbsent refuses as a recursive update. */
private[graft] object Spool {

  private final class Cell { var value: AnyRef = _ }
  private val cells = new ConcurrentHashMap[String, Cell]()
  private val buildNanos = new AtomicLong
  private val building = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** The value built for `key` in this JVM, building it on first use. A
    * key builds at most once; a build that throws memoizes nothing, so
    * the next call retries. The result must not be null. */
  def once[A](key: String)(build: => A): A = {
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    cell.synchronized {
      if (cell.value == null) cell.value = timed(build).asInstanceOf[AnyRef]
      cell.value.asInstanceOf[A]
    }
  }

  /** Wall time of the outermost builds only: a build's nested spools are
    * already inside its own wall. */
  private def timed[A](build: => A): A =
    if (building.get) build
    else {
      building.set(true)
      val t0 = System.nanoTime()
      try build
      finally {
        buildNanos.addAndGet(System.nanoTime() - t0)
        building.set(false)
      }
    }

  /** Seconds spent in spool builds in this JVM so far. */
  def buildSeconds: Double = buildNanos.get / 1e9

  /** A fresh directory `<tmpdir>/<prefix><uuid>`, deleted at JVM exit. */
  def dir(prefix: String): String = { hook; trees.dir(prefix) }

  private val trees = new Trees

  /** One hook for every tree, run after Spark's own shutdown hook has
    * stopped the context (higher Hadoop priorities run first), so no
    * stream or task still writes into a tree while it is deleted. */
  private lazy val hook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(() => trees.deleteAll(), 20) // Spark's hook runs at 40

  /** A registry of temp trees; `deleteAll` is the shutdown hook's body. */
  private[graft] final class Trees {
    private val made = new ConcurrentLinkedQueue[Path]()

    def dir(prefix: String): String = {
      val d = Files.createDirectory(
        Paths.get(System.getProperty("java.io.tmpdir"), prefix + UUID.randomUUID()))
      made.add(d)
      d.toString
    }

    def deleteAll(): Unit =
      Iterator.continually(made.poll()).takeWhile(_ != null).foreach { d =>
        if (Files.exists(d)) {
          val paths = Files.walk(d)
          try paths.sorted(Comparator.reverseOrder[Path]()).forEach { p =>
            try Files.delete(p) catch { case _: java.io.IOException => }
          } finally paths.close()
        }
      }
  }
}
