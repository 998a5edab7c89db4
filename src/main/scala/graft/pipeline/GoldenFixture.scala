package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** The reference's two-drop medallion fixture (FIXTURES.md §1):
  * `initialsinserts` (5 `I` rows), then `updates` (2 `U` rows). The
  * reference repository's own CSVs are preferred when it is checked
  * out as `~/reference`; otherwise the copy rebuilt in this repository
  * (`src/test/resources/fixtures/medallion`, a reconstruction — see its
  * README), resolved against the working directory: tests and mains
  * run from the repository root. */
object GoldenFixture {
  val Inserts = "initialsinserts"
  val Updates = "updates"

  private val referenceDrops =
    Paths.get(sys.props("user.home"), "reference", "raw", "datafiles")

  def dir(drop: String): Path = {
    val ref = referenceDrops.resolve(drop)
    if (Files.isDirectory(ref)) ref
    else Paths.get("src/test/resources/fixtures/medallion", drop)
  }

  /** The drop's CSV files, in name order. */
  def csvs(drop: String): Seq[Path] = {
    val st = Files.list(dir(drop))
    try st.iterator().asScala.filter(_.toString.endsWith(".csv"))
      .toSeq.sortBy(_.getFileName.toString)
    finally st.close()
  }

  /** Copy one drop's CSVs into `rawDir` with a fresh mtime — the
    * ingest picks up new files by modification time. */
  def land(drop: String, rawDir: String): Unit = {
    val to = Paths.get(rawDir)
    Files.createDirectories(to)
    csvs(drop).foreach { f =>
      val d = to.resolve(f.getFileName)
      Files.copy(f, d, StandardCopyOption.REPLACE_EXISTING)
      d.toFile.setLastModified(System.currentTimeMillis())
    }
  }
}
