package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** Local file-tree helpers shared by the smokes, the streaming and
  * maintenance operators and the index specs. (Artifact version GC has
  * its own concurrent-GC-tolerant delete in `pipeline.ParquetIO`.)
  */
object FileTree {

  /** Deletes `p` and everything under it; a missing `p` is a no-op. */
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(f => Files.deleteIfExists(f))
      finally st.close()
    }

  /** Grows the parquet table directory `table` the append-only way: `df`
    * is written to `scratch`, then its data files move in under fresh
    * `delta-` names, so the existing files' name:size:mtime stay
    * untouched and the old listing is a strict subset of the new one —
    * the trigger the incremental artifact arms detect.
    */
  def landDelta(df: DataFrame, table: Path, scratch: Path): Unit = {
    df.write.mode("overwrite").parquet(scratch.toString)
    val st = Files.list(scratch)
    try st.iterator().asScala.toSeq
      .filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }
      .foreach(p => Files.move(p, table.resolve(s"delta-${p.getFileName}"),
        StandardCopyOption.ATOMIC_MOVE))
    finally st.close()
  }
}
