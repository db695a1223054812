package perfbench

import java.sql.Timestamp
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import graft.catalog.MetadataStore
import graft.files.FileRelay
import graft.ingest.TableSource
import graft.model.{CatalogEntry, DataAsset, SourceSystem}

/** Timing wrappers passed through `IngestionJob.JobEnv`'s seams: every
  * call into the control store, the table source and the file relay
  * becomes a span of its layer (`catalog`, `ingest`, `files`). */
final class TimedStore(u: MetadataStore, t: Tracer) extends MetadataStore {
  private def s[A](n: String)(f: => A): A = t.span("catalog", n)(f)
  def sourceSystem(id: Int): Option[SourceSystem] = s("sourceSystem")(u.sourceSystem(id))
  def dataAsset(id: Int): Option[DataAsset] = s("dataAsset")(u.dataAsset(id))
  def highestWatermark(a: Int): Option[Timestamp] = s("highestWatermark")(u.highestWatermark(a))
  def insertCatalogEntry(e: CatalogEntry): Unit = s("insertCatalogEntry")(u.insertCatalogEntry(e))
  def updateCatalogStatus(x: String, c: String, v: String): Unit =
    s("updateCatalogStatus")(u.updateCatalogStatus(x, c, v))
  def catalogEntries(a: Int): Seq[CatalogEntry] = s("catalogEntries")(u.catalogEntries(a))
  override def hasCatalogEntry(x: String, a: Int): Boolean =
    s("hasCatalogEntry")(u.hasCatalogEntry(x, a))
  override def insertCatalogEntryIfAbsent(e: CatalogEntry): Boolean =
    s("insertCatalogEntryIfAbsent")(u.insertCatalogEntryIfAbsent(e))
}

final class TimedSource(u: TableSource, t: Tracer) extends TableSource {
  def probeMax(c: String): Option[Timestamp] = t.span("ingest", "probeMax")(u.probeMax(c))
  def readFull(): DataFrame = t.span("ingest", "readFull")(u.readFull())
  def readInterval(c: String, last: Timestamp, max: Timestamp): DataFrame =
    t.span("ingest", "readInterval")(u.readInterval(c, last, max))
}

final class TimedRelay(conf: org.apache.hadoop.conf.Configuration, t: Tracer)
    extends FileRelay(conf) {
  private def s[A](n: String)(f: => A): A = t.span("files", n)(f)
  override def list(prefix: String): Seq[Path] = s("list")(super.list(prefix))
  override def copyPairs(a: String, b: String): Seq[(Path, Path)] =
    s("copyPairs")(super.copyPairs(a, b))
  override def moveAll(a: String, b: String): Seq[Path] = s("moveAll")(super.moveAll(a, b))
  override def moveExact(ps: Seq[Path], b: String): Seq[Path] =
    s("moveExact")(super.moveExact(ps, b))
  override def readUtf8(p: Path): String = s("readUtf8")(super.readUtf8(p))
  override def writeUtf8(p: Path, body: String): Unit = s("writeUtf8")(super.writeUtf8(p, body))
}
